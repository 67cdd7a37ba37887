"""The per-split scorer: boolean/phrase evaluation, block-max WAND and
MaxScore, BM25, strategy selection, and the vectorized numpy collector.

Split out of the monolithic ``executor.py`` in round 5.  Everything here
is pure per-split compute over posting-row records and decoded posting
arrays — no pandas per call — and runs identically in a Spark python
worker and in the driver-leaf fast path.  See ``executor.py`` for the
architecture overview.
"""

from __future__ import annotations

from dataclasses import dataclass, field as _dc_field, replace as _dc_replace
from itertools import repeat

import numpy as np
import pandas as pd

from ..config import IndexConfig
from ..functions.bm25 import idf as bm25_idf
from ..functions.bm25 import tf_norm
from ..functions.codec import (
    BLOCK,
    decode_blocks,
    decode_positions_at,
    decode_postings,
    decode_u32_column,
)
from .parser import (
    AllQuery,
    BoolQuery,
    ExistsQuery,
    PhraseQuery,
    TermQuery,
    positive_exists_weights,
    positive_term_weights,
    positive_terms,
)
from .request import SearchRequest


from .plan import fetch_cols
from .split_io import (
    _PHRASE_CTR,
    FastFields,
    PostingRecords,
    _fetch_doc_fields,
    _posting_map,
    _read_split_postings_chunks,
)


def _resolve_numeric_filters(config: IndexConfig, request: SearchRequest):
    """Validate request.numeric_filters and convert them to the leaf's
    int64-key space: i64/u64/date fast fields take integer bounds as-is;
    f64 fast fields take numeric bounds mapped through f64_sort_keys (the
    strictly monotonic mapping makes [key(lo), key(hi)) select exactly
    v ∈ [lo, hi)).  Returns ((field, lo_key, hi_key), ...) or ()."""
    if not request.numeric_filters:
        return ()
    out = []
    for f_, lo, hi in request.numeric_filters:
        if f_ == config.timestamp_field or f_ == "ts":
            raise ValueError(
                "filter the timestamp via startTimestamp/endTimestamp, not "
                f"numericFilter ({f_!r})"
            )
        if f_ in config.extra_fast_float_fields:
            lo_k = int(f64_sort_keys(np.array([float(lo)]))[0]) if lo is not None else None
            hi_k = int(f64_sort_keys(np.array([float(hi)]))[0]) if hi is not None else None
        elif f_ in config.extra_fast_fields or f_ == "doc_len":
            for b in (lo, hi):
                if b is not None and not isinstance(b, int):
                    raise ValueError(
                        f"numericFilter bounds for integer fast field {f_!r} "
                        f"must be integers (got {b!r})"
                    )
            lo_k, hi_k = lo, hi
        else:
            raise ValueError(
                f"numericFilter field {f_!r} is not a declared fast field "
                f"(fast fields: {sorted(('doc_len',) + config.extra_fast_fields + config.extra_fast_float_fields)})"
            )
        out.append((f_, lo_k, hi_k))
    return tuple(out)


def _apply_numeric_filters(
    docs: np.ndarray, ff: FastFields, lens: np.ndarray, filters
) -> np.ndarray:
    """Exact per-doc mask over the split's fast-field columns (the generic
    twin of _ts_filter's per-doc path; bounds are already in key space)."""
    for f_, lo, hi in filters:
        if len(docs) == 0:
            break
        vals = _fast_field_values(f_, ff, lens, docs)
        m = np.ones(len(docs), bool)
        if lo is not None:
            m &= vals >= lo
        if hi is not None:
            m &= vals < hi
        docs = docs[m]
    return docs


# ---------------------------------------------------------------------------
# the per-split scorer (RDD leaf tasks, the in-process leaf and the
# mapInPandas stream/export runner — plain records and numpy)
# ---------------------------------------------------------------------------


class _SplitPostings:
    """Decoded-on-demand posting lists of one split for the query terms:
    a view over the split's posting-row records (split_io.PostingRecords,
    or a postings DataFrame, converted once).

    An optional ``[lo, hi)`` docID range restricts every consumer-visible
    doc list to that slice — the sub-split leaf unit (tantivy searches
    segments of one index in parallel; our analog is doc ranges of one
    split, planned by _leaf_bins for heavy queries on big merged splits).
    Decodes stay whole-row (vectorized, cheap) and live on the record map,
    so every view of one map — every scorer of a batch — shares them; the
    SCORING work above this layer — BM25, top-k, phrase positions — sees
    only the slice, and the per-range slices stay per view."""

    def __init__(
        self,
        rows: PostingRecords | pd.DataFrame,
        lo: int | None = None,
        hi: int | None = None,
        source: tuple[str, str] | None = None,
    ):
        if isinstance(rows, pd.DataFrame):
            rows = _posting_map(rows)
        self.rows = rows
        self.lo, self.hi = lo, hi
        # (index_dir, split_id) — lets positions_at lazily fetch CHUNKED
        # position payloads (big terms store positions as separate chunk
        # rows; see builder._split_chunked_positions)
        self.source = source
        self._raw_cache: dict[tuple[str, str], tuple[np.ndarray, np.ndarray]] = rows.decoded
        self._cache: dict[tuple[str, str], tuple[np.ndarray, np.ndarray]] = {}
        self._off: dict[tuple[str, str], int] = {}

    @staticmethod
    def _chunk_blocks(r) -> list | None:
        """The row's positions-chunk start blocks, or None (inline/absent).
        Guards the pandas NaN an absent column reads as."""
        cb = getattr(r, "pos_chunk_blocks", None)
        if cb is None or isinstance(cb, float):
            return None
        return list(cb)

    def has_positions(self, key) -> bool:
        r = self.rows.get(key)
        if r is None:
            return False
        return getattr(r, "positions", None) is not None or self._chunk_blocks(r) is not None

    @staticmethod
    def _bm_span(r) -> int | None:
        """Blocks per bitmap chunk of a chunked-bitmap row, else None."""
        s = getattr(r, "bm_chunk_span", None)
        if s is None or (isinstance(s, float) and np.isnan(s)):
            return None
        return int(s)

    def has_bitmap(self, key) -> bool:
        """Can ``bitmap_words`` serve this term — inline pos_bm cell of
        the right fixed-stride size, or chunked bitmaps with a fetchable
        source?  (False -> the phrase falls back to position decode.)"""
        r = self.rows.get(key)
        if r is None:
            return False
        bm = getattr(r, "pos_bm", None)
        if bm is not None and not isinstance(bm, float):
            return len(bm) == 16 * int(r.doc_freq)
        return self._bm_span(r) is not None and self.source is not None

    def bitmap_words(self, key, ranks: np.ndarray):
        """(lo, hi) uint64 position-bitmap word arrays of ``key`` at the
        given GLOBAL posting ranks — served from the inline pos_bm cell,
        or gathered from the bitmap CHUNK rows (chunk_ord <= -1; only the
        chunks the ranks fall in are fetched, so a candidate-gated phrase
        on a df-5M stopword reads KBs, not the 80 MB whole-list cell the
        retired df ceiling used to forbid).  None -> no usable bitmap;
        the caller takes the decode path, which is always authoritative."""
        r = self.rows.get(key)
        if r is None:
            return None
        bm = getattr(r, "pos_bm", None)
        if bm is not None and not isinstance(bm, float):
            if len(bm) != 16 * int(r.doc_freq):
                return None
            w = np.frombuffer(bm, "<u8").reshape(-1, 2)
            _PHRASE_CTR["bitmap_rows_inline"] += 1
            return w[ranks, 0], w[ranks, 1]
        span = self._bm_span(r)
        if span is None or self.source is None:
            return None
        docs_per_chunk = span * BLOCK
        cidx = ranks // docs_per_chunk
        need = np.unique(cidx)
        if len(need) == 0:
            return np.empty(0, np.uint64), np.empty(0, np.uint64)
        blobs = _read_split_postings_chunks(
            self.source[0], self.source[1], key[0], key[1],
            [-(int(c) + 1) for c in need],
            bucket=int(r.bucket) if hasattr(r, "bucket") else None,
            col="pos_bm",
        )
        lo = np.empty(len(ranks), np.uint64)
        hi = np.empty(len(ranks), np.uint64)
        for c, blob in zip(need, blobs):
            w = np.frombuffer(blob, "<u8").reshape(-1, 2)
            m = cidx == c
            local = ranks[m] - c * docs_per_chunk
            if len(w) <= int(local.max()):
                return None  # short chunk: decode path is authoritative
            lo[m] = w[local, 0]
            hi[m] = w[local, 1]
        _PHRASE_CTR["bitmap_rows_chunked"] += 1
        return lo, hi

    def has(self, key) -> bool:
        return key in self.rows

    def _raw(self, key) -> tuple[np.ndarray, np.ndarray]:
        """Whole-row decode (positions-run offsets must be computed against
        the full tf array regardless of any doc-range slice)."""
        if key not in self._raw_cache:
            r = self.rows.get(key)
            if r is None:
                self._raw_cache[key] = (np.empty(0, np.uint32), np.empty(0, np.uint32))
            else:
                self._raw_cache[key] = decode_postings(r.blob)
        return self._raw_cache[key]

    def full(self, key) -> tuple[np.ndarray, np.ndarray]:
        if key not in self._cache:
            d, t = self._raw(key)
            if self.lo is not None:
                s = int(np.searchsorted(d, self.lo))
                e = int(np.searchsorted(d, self.hi))
                self._off[key] = s
                self._cache[key] = (d[s:e], t[s:e])
            else:
                self._cache[key] = (d, t)
        return self._cache[key]

    def candidates_only(self, key, cand: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """Decode only the blocks that can contain candidate docs — the
        skip-pointer path (tantivy skip list analog, SURVEY.md §2.7)."""
        if key in self._cache:
            return self._cache[key]
        r = self.rows.get(key)
        if r is None or len(cand) == 0:
            return np.empty(0, np.uint32), np.empty(0, np.uint32)
        last_doc = np.asarray(r.block_last_doc, np.int64)
        blocks = np.unique(np.searchsorted(last_doc, cand))
        blocks = blocks[blocks < len(last_doc)]
        if len(blocks) * 2 >= len(last_doc):
            return self.full(key)
        return decode_blocks(r.blob, last_doc.astype(np.uint32), blocks)

    def phrase_view(
        self, key
    ) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
        """(docs, tfs, position-run starts, GLOBAL doc ranks) of the docs
        visible to this view — the phrase path's input.  Ranks are each
        doc's index in the term's FULL posting list, which is what the
        per-doc pos_bm bitmap rows are addressed by — a doc-range unit
        can then take the bitmap fast path without decoding the full doc
        list.  With a [lo, hi) doc range AND the row's ``block_tf_cum``
        skip data, ONLY the range's blocks decode: run starts come from
        the block's stored position offset plus an intra-block tf cumsum,
        so a doc-range leaf unit of a 10M-doc merged split touches
        O(range) work instead of O(df) per unit (tantivy's positions skip
        info analog).  Rows written before the skip data existed fall
        back to the whole-row decode."""
        r = self.rows.get(key)
        empty = (
            np.empty(0, np.uint32), np.empty(0, np.uint32),
            np.empty(0, np.int64), np.empty(0, np.int64),
        )
        if r is None or not self.has_positions(key):
            return empty
        tfc = getattr(r, "block_tf_cum", None)
        if tfc is None or isinstance(tfc, float):  # absent column → NaN row
            tfc = None
        if self.lo is None or tfc is None:
            d, t = self.full(key)
            _, t_all = self._raw(key)
            t64 = t_all.astype(np.int64)
            starts_all = np.cumsum(t64) - t64
            s = self._off.get(key, 0)
            return d, t, starts_all[s : s + len(d)], np.arange(
                s, s + len(d), dtype=np.int64
            )
        last_doc = np.asarray(r.block_last_doc, np.int64)
        b0 = int(np.searchsorted(last_doc, self.lo))
        b1 = min(int(np.searchsorted(last_doc, self.hi - 1)) + 1, len(last_doc))
        if b0 >= b1:
            return empty
        blocks = np.arange(b0, b1)
        d, t = decode_blocks(r.blob, last_doc.astype(np.uint32), blocks)
        nblk, df = len(last_doc), int(r.doc_freq)
        sizes = np.full(len(blocks), BLOCK, np.int64)
        if b1 == nblk:
            sizes[-1] = df - BLOCK * (nblk - 1)
        t64 = t.astype(np.int64)
        ex = np.cumsum(t64) - t64  # exclusive cumsum within the slice
        bstart = np.concatenate(([0], np.cumsum(sizes)[:-1]))
        vstarts = (
            ex
            - np.repeat(ex[bstart], sizes)
            + np.repeat(np.asarray(tfc, np.int64)[blocks], sizes)
        )
        # whole blocks decode, so slice index j IS full-list row b0*128+j
        ranks = b0 * BLOCK + np.arange(len(d), dtype=np.int64)
        mask = (d.astype(np.int64) >= self.lo) & (d.astype(np.int64) < self.hi)
        return d[mask], t[mask], vstarts[mask], ranks[mask]

    def positions_at(self, key, vstarts: np.ndarray, counts: np.ndarray) -> np.ndarray:
        """Positions of the runs at explicit flat value offsets (from
        phrase_view) — never touches the row's tf array.  Rows whose
        payload was CHUNKED at write time fetch only the chunks the
        requested runs fall in (one pruned read per cold chunk; chunks
        are cut at block boundaries so no run straddles)."""
        r = self.rows.get(key)
        if r is None:
            return np.empty(0, np.uint32)
        if getattr(r, "positions", None) is not None:
            return decode_positions_at(r.positions, vstarts, counts)
        cb = self._chunk_blocks(r)
        if cb is None:
            return np.empty(0, np.uint32)
        if len(vstarts) == 0:
            return np.empty(0, np.uint32)
        if self.source is None:
            raise RuntimeError(
                f"posting row {key} has chunked positions but this view has "
                "no (index_dir, split_id) source to fetch them from"
            )
        vstarts = np.asarray(vstarts, np.int64)
        counts = np.asarray(counts, np.int64)
        tfc = np.asarray(r.block_tf_cum, np.int64)
        chunk_vidx = tfc[np.asarray(cb, np.int64)]  # first value idx per chunk
        # runs arrive vstart-sorted, so per-chunk selections are contiguous
        owner = np.searchsorted(chunk_vidx, vstarts, side="right") - 1
        need = np.unique(owner)
        blobs = _read_split_postings_chunks(
            self.source[0], self.source[1], key[0], key[1],
            [int(c) + 1 for c in need],  # chunk_ord is 1-based
            bucket=int(r.bucket) if hasattr(r, "bucket") else None,
        )
        parts = []
        for c, blob in zip(need, blobs):
            m = owner == c
            parts.append(
                decode_positions_at(blob, vstarts[m] - chunk_vidx[c], counts[m])
            )
        return parts[0] if len(parts) == 1 else np.concatenate(parts)


def _sorted_member(a: np.ndarray, d: np.ndarray) -> np.ndarray:
    """Mask of which elements of sorted-unique ``a`` appear in sorted ``d``:
    one searchsorted instead of isin's internal concat+sort."""
    if len(d) == 0:
        return np.zeros(len(a), bool)
    pos = np.searchsorted(d, a)
    return d[np.minimum(pos, len(d) - 1)] == a


def _intersect_with_tfs(base: np.ndarray, postings: _SplitPostings, key) -> np.ndarray:
    d, _ = postings.candidates_only(key, base)
    return base[_sorted_member(base, d.astype(np.int64))]


def _eval_node(node, postings: _SplitPostings, lens_fn=None) -> np.ndarray:
    """Boolean evaluation → sorted unique doc_id array.  ``lens_fn``
    (field → per-doc length array) backs ExistsQuery — the fieldnorm
    store IS the exists bitmap (length > 0), zero postings work."""
    if isinstance(node, TermQuery):
        return postings.full((node.field, node.term))[0].astype(np.int64)
    if isinstance(node, PhraseQuery):
        return _eval_phrase(node, postings)
    if isinstance(node, ExistsQuery):
        if lens_fn is None:
            raise ValueError("exists query reached an evaluator without field lengths")
        fl = lens_fn(node.field)
        if fl is None:
            raise ValueError(
                f"exists query needs the per-field length blob for "
                f"{node.field!r} (index predates doc_lens_<field> columns)"
            )
        docs = np.flatnonzero(fl > 0).astype(np.int64)
        if postings.lo is not None:
            docs = docs[(docs >= postings.lo) & (docs < postings.hi)]
        return docs
    assert isinstance(node, BoolQuery)
    acc: np.ndarray | None = None
    if node.must:
        # smallest doc_freq first (cheapest driver of the intersection)
        def est(c):
            if isinstance(c, TermQuery) and postings.has((c.field, c.term)):
                return postings.rows[(c.field, c.term)].doc_freq
            return 1 << 60

        for c in sorted(node.must, key=est):
            if acc is None:
                acc = _eval_node(c, postings, lens_fn)
            elif len(acc) == 0:
                return acc
            elif isinstance(c, TermQuery):
                # skip-aware: decode only blocks overlapping current candidates
                d, _ = postings.candidates_only((c.field, c.term), acc)
                acc = acc[_sorted_member(acc, d.astype(np.int64))]
            else:
                acc = np.intersect1d(
                    acc, _eval_node(c, postings, lens_fn), assume_unique=True
                )
    if node.should:
        u = np.unique(
            np.concatenate([_eval_node(c, postings, lens_fn) for c in node.should])
        )
        acc = u if acc is None else np.intersect1d(acc, u, assume_unique=True)
    if acc is None:
        acc = np.empty(0, np.int64)
    for c in node.must_not:
        if len(acc) == 0:
            break
        if isinstance(c, TermQuery):
            # skip-aware NOT: only blocks overlapping the surviving
            # candidates need decoding (same skip-pointer path as AND)
            d, _ = postings.candidates_only((c.field, c.term), acc)
            acc = acc[~_sorted_member(acc, d.astype(np.int64))]
        else:
            acc = np.setdiff1d(acc, _eval_node(c, postings, lens_fn), assume_unique=True)
    return acc


def _validate_msm(ast, request: SearchRequest) -> None:
    """minShouldMatch > 1 only makes sense against a user-written top-level
    disjunction — validated PRE-expansion, so a pure expanding leaf
    ('depl*', which rewrites to an internal term disjunction) rejects
    instead of silently counting its dictionary expansions as clauses.
    (An expanding clause INSIDE a user OR stays one clause: expansion
    nests it as a group.)"""
    if request.min_should_match <= 1:
        return
    if not (isinstance(ast, BoolQuery) and ast.should):
        raise ValueError(
            "minShouldMatch > 1 requires a top-level OR query "
            "(e.g. 'a OR b OR c' with minShouldMatch=2)"
        )


def _eval_root(ast, postings: _SplitPostings, msm: int = 1, lens_fn=None) -> np.ndarray:
    """Top-level boolean evaluation with ES ``minimum_should_match``
    semantics: with ``msm > 1`` a doc needs >= msm of the TOP-LEVEL should
    clauses (each clause evaluated normally, membership counted via one
    np.unique over the concatenated per-clause doc arrays — every clause
    yields sorted-unique docs, so the count is exact); must/must_not
    compose as usual.  msm above the clause count matches nothing
    (Lucene).  msm <= 1 is the plain _eval_node path."""
    if msm <= 1 or not isinstance(ast, BoolQuery) or not ast.should:
        return _eval_node(ast, postings, lens_fn)
    if msm > len(ast.should):
        return np.empty(0, np.int64)
    arrs = [_eval_node(c, postings, lens_fn) for c in ast.should]
    vals, counts = np.unique(np.concatenate(arrs), return_counts=True)
    acc = vals[counts >= msm].astype(np.int64)
    if len(acc) and ast.must:
        acc = acc[
            _sorted_member(acc, _eval_node(BoolQuery(must=ast.must), postings, lens_fn))
        ]
    for c in ast.must_not:
        if len(acc) == 0:
            break
        acc = np.setdiff1d(acc, _eval_node(c, postings, lens_fn), assume_unique=True)
    return acc


def _eval_phrase(node: PhraseQuery, postings: _SplitPostings) -> np.ndarray:
    """Exact phrase match via position adjacency, no per-doc Python loop:
    an occurrence of term 0 at (doc, p) survives iff (doc, p+i) is an
    occurrence of term i for every i — set-membership on packed uint64
    (doc, pos) keys (reference: tantivy phrase scorer semantics,
    record=position fields, field_mapping_entry.rs:595-623).

    ``slop > 0`` (ordered sloppy phrase, '"a b"~2') switches adjacency to a
    vectorized GREEDY CHAIN over the same packed keys: from every
    occurrence of term 0, each later term takes its smallest same-doc
    position strictly after the chain's current end (one searchsorted per
    term).  Greedy minimizes the chain's end position for a given start, so
    span(start) = p_n - p_1 is minimal and the doc matches iff any start's
    span <= slop + n - 1 — exactly the documented ordered-slop semantics
    (PhraseQuery docstring).

    Doc lists are intersected FIRST (rarest term leading), and only the
    surviving candidates' position runs are decoded (``positions_at``): a
    phrase led by a stopword ("the error") would otherwise unpack the
    stopword's entire position payload to verify a candidate set the rare
    term already shrank.  On a doc-range leaf unit the doc lists
    themselves are block-sliced via the block_tf_cum skip data
    (``phrase_view``), so a unit of a 10M-doc merged split does O(range)
    decode work, not O(df)."""
    keys = [(node.field, t) for t in node.terms]
    if any(not postings.has_positions(k) for k in keys):
        return np.empty(0, np.int64)
    doclists = [postings.phrase_view(k) for k in keys]
    if any(len(d) == 0 for d, *_ in doclists):
        return np.empty(0, np.int64)
    order = sorted(range(len(keys)), key=lambda i: len(doclists[i][0]))
    cand = doclists[order[0]][0].astype(np.int64)
    for oi in order[1:]:
        # both sides sorted unique: one searchsorted membership beats
        # isin's internal concat+sort (the dominant cost on hot terms)
        cand = cand[_sorted_member(cand, doclists[oi][0].astype(np.int64))]
        if len(cand) == 0:
            return cand
    cand_u32 = cand.astype(np.uint32)
    if node.slop:
        start: np.ndarray | None = None
        cur: np.ndarray | None = None
        for i, k in enumerate(keys):
            d, t, vs, _ = doclists[i]
            idx = np.searchsorted(d, cand_u32)
            psub = postings.positions_at(k, vs[idx], t[idx])
            doc_rep = np.repeat(cand.astype(np.uint64), t[idx].astype(np.int64))
            keys_i = (doc_rep << np.uint64(32)) | psub.astype(np.uint64)
            if cur is None:
                start = cur = keys_i
                continue
            if len(keys_i) == 0:
                return np.empty(0, np.int64)
            # smallest occurrence of term i with key strictly > chain end:
            # same packed ordering (doc-major, position-minor), so the
            # next same-doc position is the next key overall iff it shares
            # the doc bits
            nxt = np.searchsorted(keys_i, cur, side="right")
            alive = nxt < len(keys_i)
            nk = keys_i[np.minimum(nxt, len(keys_i) - 1)]
            keep = alive & ((nk >> np.uint64(32)) == (cur >> np.uint64(32)))
            start, cur = start[keep], nk[keep]
            if len(cur) == 0:
                return np.empty(0, np.int64)
        span = (cur & np.uint64(0xFFFFFFFF)) - (start & np.uint64(0xFFFFFFFF))
        hit = span <= np.uint64(node.slop + len(keys) - 1)
        return np.unique((cur[hit] >> np.uint64(32)).astype(np.int64))
    # Per-term verification mode: index-time bitmap where one exists,
    # anchored position decode for the rest.  MIXED phrases — a hot
    # stopword (bitmap) next to a sub-threshold rare term (no bitmap) —
    # previously forfeited the bitmap entirely and decoded the hot
    # term's candidate runs; now each term takes its own cheap path.
    use_bm = [len(keys) < 64 and postings.has_bitmap(k) for k in keys]
    bm_terms = [i for i, u in enumerate(use_bm) if u]
    starts: np.ndarray | None = None  # packed (doc<<32 | start), sorted
    if bm_terms:
        # bit-parallel shift-AND over the INDEX-TIME per-doc 128-bit
        # position bitsets (pos_bm column, codec.encode_position_bitmaps —
        # stored for high-tf terms at build/merge): a start p survives iff
        # every bitmap term i has bit p+i, i.e. AND over i of (bm_i >> i)
        # is nonzero.  Zero position decode; doc-range units address the
        # full-list bitmap rows via phrase_view's GLOBAL doc ranks, and
        # big lists' bitmaps are CHUNK rows fetched candidate-gated
        # (bitmap_words), so no task ever reads a hot term's whole cell.
        # (A query-time bitmap cache was prototyped first and reverted:
        # local-mode python workers have no task stickiness, so building
        # bitmaps per worker re-missed forever — storing them in the index
        # is the principled form.)
        gathered: list | None = []
        for i in bm_terms:
            d_i, _t, _v, ranks_i = doclists[i]
            rows_i = ranks_i[np.searchsorted(d_i, cand_u32)]
            w = postings.bitmap_words(keys[i], rows_i)
            if w is None:
                gathered = None
                break
            gathered.append((i, w))
        if gathered is None:  # short/garbled cell: decode is authoritative
            bm_terms, use_bm = [], [False] * len(keys)
        else:
            _PHRASE_CTR["phrase_terms_bitmap"] += len(bm_terms)
            acc_lo = np.full(len(cand), ~np.uint64(0), np.uint64)
            acc_hi = np.full(len(cand), ~np.uint64(0), np.uint64)
            for i, (blo, bhi) in gathered:
                if i:
                    s = np.uint64(i)
                    blo = (blo >> s) | (bhi << np.uint64(64 - i))
                    bhi = bhi >> s
                acc_lo &= blo
                acc_hi &= bhi
            ok = (acc_lo | acc_hi) != 0
            if len(bm_terms) == len(keys):
                return cand[ok]  # pure-bitmap fast path
            # extract the surviving (doc, start) pairs: the set bits of
            # the AND'd words are exactly the starts valid w.r.t. every
            # bitmap term; the decode terms verify them below.  Rows
            # ascend (cand order) and bits ascend within a row, so the
            # packed keys come out sorted — the probe loop's contract.
            docs_s = cand[ok].astype(np.uint64)
            if len(docs_s) == 0:
                return np.empty(0, np.int64)
            bits = np.concatenate(
                [
                    np.unpackbits(
                        acc_lo[ok].astype("<u8").view(np.uint8).reshape(-1, 8),
                        axis=1, bitorder="little",
                    ),
                    np.unpackbits(
                        acc_hi[ok].astype("<u8").view(np.uint8).reshape(-1, 8),
                        axis=1, bitorder="little",
                    ),
                ],
                axis=1,
            )  # (n, 128), column j = start position j
            row_idx, bit_idx = np.nonzero(bits)
            starts = (docs_s[row_idx] << np.uint64(32)) | bit_idx.astype(np.uint64)
    # Exact phrase, ANCHORED on the term with the fewest candidate
    # positions: a stopword-heavy phrase ("the error") otherwise probes
    # with the STOPWORD's millions of packed keys at every step.  The
    # anchor's occurrences become candidate phrase STARTS (key - i), and
    # every other term — processed rarest-first — is checked by probing
    # ITS keys with the (shrinking) start set: probe cost is O(|starts|)
    # per term instead of O(|hot term|), and each term's positions are
    # decoded/fetched only for docs still alive (candidate-gated chunk
    # fetch extends into the verify loop; 3+-term phrases decode strictly
    # less of their later terms).  Semantics identical: a start p
    # survives iff (doc, p+i) is an occurrence of term i for every i.
    # With bitmap-derived ``starts`` every decode term probes directly —
    # no anchor decode needed.
    dec_terms = [i for i in range(len(keys)) if not use_bm[i]]
    _PHRASE_CTR["phrase_terms_decode"] += len(dec_terms)
    tf_cand = {}
    for i in dec_terms:
        d, t, _, _ = doclists[i]
        tf_cand[i] = int(t[np.searchsorted(d, cand_u32)].sum())
    order2 = sorted(dec_terms, key=lambda i: tf_cand[i])
    if starts is None:
        a = order2[0]
        d, t, vs, _ = doclists[a]
        idx = np.searchsorted(d, cand_u32)
        psub = postings.positions_at(keys[a], vs[idx], t[idx])
        doc_rep = np.repeat(cand.astype(np.uint64), t[idx].astype(np.int64))
        akeys = (doc_rep << np.uint64(32)) | psub.astype(np.uint64)
        if a:
            # a start needs p_anchor >= a (term a sits at start + a)
            akeys = akeys[psub >= a]
        starts = akeys - np.uint64(a)
        order2 = order2[1:]
    for i in order2:
        if len(starts) == 0:
            return np.empty(0, np.int64)
        alive = np.unique((starts >> np.uint64(32)).astype(np.int64))
        alive_u32 = alive.astype(np.uint32)
        d, t, vs, _ = doclists[i]
        idx = np.searchsorted(d, alive_u32)
        psub = postings.positions_at(keys[i], vs[idx], t[idx])
        doc_rep = np.repeat(alive.astype(np.uint64), t[idx].astype(np.int64))
        keys_i = (doc_rep << np.uint64(32)) | psub.astype(np.uint64)
        if len(keys_i) == 0:
            return np.empty(0, np.int64)
        # keys_i ascends (docs ascend; positions ascend within a doc) and
        # starts+i ascends, so sorted membership applies; keys_i may
        # repeat a value only across docs, never within, so the
        # searchsorted probe stays exact
        probe = starts + np.uint64(i)
        pos = np.searchsorted(keys_i, probe)
        ok = np.minimum(pos, len(keys_i) - 1)
        starts = starts[keys_i[ok] == probe]
    if len(starts) == 0:
        return np.empty(0, np.int64)
    return np.unique((starts >> np.uint64(32)).astype(np.int64))


def _block_range(last_doc: np.ndarray, lo: int, hi: int) -> tuple[int, int]:
    """Indices [b0, b1) of the posting blocks that can intersect docID range
    [lo, hi) given the block_last_doc skip array (may over-include the two
    boundary blocks; callers mask decoded docs to the range)."""
    b0 = int(np.searchsorted(last_doc, lo))
    b1 = min(int(np.searchsorted(last_doc, hi - 1)) + 1, len(last_doc))
    return b0, b1


def _term_count_in_range(row, lo: int, hi: int) -> int:
    """Exact count of one term's docs inside [lo, hi): full blocks strictly
    between the boundaries contribute their known sizes; only the (<= 2)
    boundary blocks decode (the skip-data analog of tantivy's doc-count
    metadata)."""
    last_doc = np.asarray(row.block_last_doc, np.int64)
    n, df = len(last_doc), int(row.doc_freq)
    b0, b1 = _block_range(last_doc, lo, hi)
    if b0 >= b1:
        return 0
    size = lambda i: BLOCK if i < n - 1 else df - BLOCK * (n - 1)  # noqa: E731
    total = sum(size(i) for i in range(b0 + 1, b1 - 1))
    edges = sorted({b0, b1 - 1})
    d, _ = decode_blocks(row.blob, last_doc.astype(np.uint32), np.asarray(edges))
    d = d.astype(np.int64)
    total += int(((d >= lo) & (d < hi)).sum())
    return total


def _wand_single_term(
    row, gstats, field, term, lens, n_top, lo=None, hi=None
) -> tuple[np.ndarray, np.ndarray]:
    # ``lens`` is the field's exact per-doc length array for tokenized text
    # fields, or None for raw/typed fields (fieldnorm 1)
    """Block-max WAND for a single-term query: decode blocks in descending
    score-upper-bound order, stop once the running k-th best score beats the
    next block's bound (SURVEY.md §2.7 block-max WAND; here the bound is
    idf * tf_norm(block_max_tf, block_min_len), exact because tf_norm is
    increasing in tf and decreasing in doc length).  With a [lo, hi) doc
    range only the intersecting blocks compete, and decoded boundary docs
    are masked to the range before scoring."""
    last_doc = np.asarray(row.block_last_doc, np.int64)
    bmax_tf = np.asarray(row.block_max_tf, np.int64)
    bmin_len = np.maximum(np.asarray(row.block_min_len, np.int64), 1)
    avg = gstats["avg_len"].get(field, 1.0) or 1.0
    term_idf = bm25_idf(gstats["df"].get((field, term), row.doc_freq), gstats["num_docs"])
    bounds = term_idf * tf_norm(bmax_tf.astype(np.float64), bmin_len, avg)
    if lo is not None:
        b0, b1 = _block_range(last_doc, lo, hi)
        cand_blocks = np.arange(b0, b1)
        order = cand_blocks[np.argsort(-bounds[cand_blocks], kind="stable")]
        if len(order) == 0:
            return np.empty(0, np.int64), np.empty(0, np.float64)
    else:
        order = np.argsort(-bounds, kind="stable")
    last_doc_u32 = last_doc.astype(np.uint32)
    if n_top <= 0:  # count-only: the caller derives num_hits from doc_freq
        return np.empty(0, np.int64), np.empty(0, np.float64)
    flat = (len(bmax_tf) == 0 or int(bmax_tf.max()) <= 1) and (
        # all tfs 1 AND all doc lens 1 → every doc scores exactly idf.
        # Raw/typed scalar fields always satisfy this (their fieldnorm
        # store counts one value per doc); the lens.max() probe is a few
        # ms even at 10M-doc splits and only runs when the tf check (free,
        # from block metadata) already passed
        lens is None
        or int(lens.max(initial=1)) <= 1
    )
    if flat:
        # Flat-score fast path: every doc scores exactly idf, so the top-k
        # under (score desc, doc_id asc) is simply the n_top LOWEST doc
        # ids.  Decode blocks in doc order and stop once enough in-range
        # docs are collected — keeping ties correct without the general
        # path's equal-bound decode-everything worst case (with all bounds
        # equal, the strict-< prune below can never fire).
        blocks = np.sort(order)
        got, n_got = [], 0
        i = 0
        while i < len(blocks) and n_got < n_top:
            j = min(i + 8, len(blocks))
            d, _t = decode_blocks(row.blob, last_doc_u32, blocks[i:j])
            if lo is not None:
                d = d[(d >= lo) & (d < hi)]
            got.append(d.astype(np.int64))
            n_got += len(d)
            i = j
        docs = np.concatenate(got) if got else np.empty(0, np.int64)
        flat = float(tf_norm(np.ones(1), np.ones(1, np.int64), avg)[0])
        return docs, np.full(len(docs), term_idf * flat)
    got_docs, got_scores = [], []
    topk = np.empty(0, np.float64)  # running best-k scores (unsorted)
    threshold = -np.inf
    i, group = 0, 8
    while i < len(order):
        # strict <: a block whose bound EQUALS the running k-th best may hold
        # docs that tie on score and win the (score desc, doc_id asc)
        # tie-break — same reasoning as _maxscore_union's strict prune test
        if len(topk) >= n_top and bounds[order[i]] < threshold:
            break
        # geometric batching: decode whole groups of blocks per call (one
        # header parse, one threshold update), doubling so the degenerate
        # no-prune case costs O(log blocks) calls instead of one per block
        j = min(i + group, len(order))
        if len(topk) >= n_top:
            alive = np.flatnonzero(bounds[order[i:j]] >= threshold)
            j = i + (int(alive[-1]) + 1 if len(alive) else 0)
            if j == i:
                break
        d, t = decode_blocks(row.blob, last_doc_u32, np.sort(order[i:j]))
        if lo is not None:
            m = (d >= lo) & (d < hi)
            d, t = d[m], t[m]
            if len(d) == 0:
                i, group = j, min(group * 2, 1024)
                continue
        # raw-tokenizer fields hold one term per doc: fieldnorm is 1, not the
        # text length (block_min_len already stores 1 for these postings)
        dl = lens[d.astype(np.int64)] if lens is not None else np.ones(len(d), np.int64)
        sc = term_idf * tf_norm(t, dl, avg)
        got_docs.append(d.astype(np.int64))
        got_scores.append(sc)
        merged = np.concatenate((topk, sc))
        if len(merged) >= n_top:
            if len(merged) > n_top:
                merged = np.partition(merged, len(merged) - n_top)[len(merged) - n_top :]
            topk = merged
            threshold = topk.min()
        else:
            topk = merged
        i, group = j, min(group * 2, 1024)
    if not got_docs:  # every block masked out by the doc range
        return np.empty(0, np.int64), np.empty(0, np.float64)
    return np.concatenate(got_docs), np.concatenate(got_scores)


def _maxscore_union(
    postings: _SplitPostings, gstats, keys, field_lens, n_top, weights=None
) -> tuple[np.ndarray, np.ndarray, int]:
    """MaxScore over a pure disjunction of term queries (the block-max
    family's term-at-a-time variant; reference semantics SURVEY §2.7 /
    collector.rs:146-167): terms are processed in descending
    score-upper-bound order, and a doc appearing ONLY in terms whose
    remaining combined upper bound is strictly below the running k-th best
    exact score is counted but never scored.

    num_hits stays EXACT — every doc list is decoded once for the union
    count (the engine reports true hit totals, ft_count contract) — the
    saving is the BM25 + top-k work on the pruned tail, which for a
    stopword OR ("the OR error") is most of the union.  Strict `<` in the
    prune test keeps score-ties eligible, so tie-breaks (doc order) are
    unaffected.  Returns (docs, exact_scores, num_hits) for the scored
    subset; every doc that can appear in the top-k is in it.

    ``weights`` (optional per-key boost multipliers, positive_term_weights)
    scale a term's block upper bound AND its exact per-doc score by the
    same factor — so boosted disjunctions (``error^2 OR warn``) prune with
    sound bounds and score byte-identically to the full-eval path (same
    float association: (idf·tf_norm)·w)."""
    present = []
    for k in sorted(set(keys)):
        r = postings.rows.get(k)
        if r is None:
            continue
        avg = gstats["avg_len"].get(k[0], 1.0) or 1.0
        idf = bm25_idf(gstats["df"].get(k, r.doc_freq), gstats["num_docs"])
        w = weights.get(k, 1.0) if weights else 1.0
        bmax_tf = np.asarray(r.block_max_tf, np.float64)
        bmin_len = np.maximum(np.asarray(r.block_min_len, np.int64), 1)
        ub = float((idf * tf_norm(bmax_tf, bmin_len, avg)).max()) if len(bmax_tf) else 0.0
        if w != 1.0:
            ub *= w
        present.append((ub, k, idf, avg, w))
    if not present:
        return np.empty(0, np.int64), np.empty(0, np.float64), 0
    present.sort(key=lambda x: (-x[0], x[1]))
    ubs = np.array([p[0] for p in present])
    rem = np.concatenate([np.cumsum(ubs[::-1])[::-1], [0.0]])  # rem[i] = Σ ubs[i:]
    doclists = [postings.full(p[1]) for p in present]
    lens_list = [field_lens(p[1][0]) for p in present]

    seen: np.ndarray | None = None  # sorted union of doc ids so far
    out_docs, out_scores = [], []
    topk = np.empty(0, np.float64)
    # n_top=0 (count-only): +inf threshold makes every phase counted-but-
    # unscored; the exact union count still accumulates below
    threshold = -np.inf if n_top > 0 else np.inf
    num_hits = 0
    for i, (ub, key, idf, avg, w) in enumerate(present):
        d_i = doclists[i][0].astype(np.int64)
        t_i = doclists[i][1]
        last = i == len(present) - 1
        if seen is None:
            new_docs, new_tf = d_i, t_i
            seen = d_i
        else:
            fresh = ~_sorted_member(d_i, seen)
            new_docs, new_tf = d_i[fresh], t_i[fresh]
            if len(new_docs) and not last:  # nothing consumes seen after the last phase
                seen = np.concatenate((seen, new_docs))
                seen.sort()
        num_hits += len(new_docs)
        if len(new_docs) == 0:
            continue
        if len(topk) >= n_top and rem[i] < threshold:
            continue  # counted, not scored: bounded strictly below k-th best
        # exact totals: phase i's own term plus every LATER term's
        # contribution (docs new at phase i contain none of the earlier
        # terms by construction) — added in SORTED (field, term) order,
        # the same float-addition order as the full-eval scorer, so a
        # search_after cursor minted from a MaxScore page compares
        # bit-exactly against the cursor page's full-eval recomputation
        sc = np.zeros(len(new_docs), np.float64)
        for j in sorted(range(i, len(present)), key=lambda x: present[x][1]):
            _, _, idf_j, avg_j, w_j = present[j]
            flj = lens_list[j]
            if j == i:
                dlj = (
                    flj[new_docs] if flj is not None else np.ones(len(new_docs), np.int64)
                )
                base_j = idf_j * tf_norm(new_tf.astype(np.float64), dlj, avg_j)
                sc += base_j * w_j if w_j != 1.0 else base_j
                continue
            d_j, t_j = doclists[j]
            if len(d_j) == 0:
                continue
            dj = d_j.astype(np.int64)
            pos = np.searchsorted(dj, new_docs)
            valid = dj[np.minimum(pos, len(dj) - 1)] == new_docs
            if not valid.any():
                continue
            dv = new_docs[valid]
            dlj = flj[dv] if flj is not None else np.ones(len(dv), np.int64)
            base_j = idf_j * tf_norm(t_j[pos[valid]].astype(np.float64), dlj, avg_j)
            sc[valid] += base_j * w_j if w_j != 1.0 else base_j
        out_docs.append(new_docs)
        out_scores.append(sc)
        merged = np.concatenate((topk, sc))
        if len(merged) > n_top:
            merged = np.partition(merged, len(merged) - n_top)[len(merged) - n_top :]
        topk = merged
        if len(topk) >= n_top:
            threshold = topk.min()
    if not out_docs:  # count-only (n_top=0): every phase counted, none scored
        return np.empty(0, np.int64), np.empty(0, np.float64), num_hits
    return np.concatenate(out_docs), np.concatenate(out_scores), num_hits


def _topk_take(values: np.ndarray, docs: np.ndarray, n_top: int) -> np.ndarray:
    """Indices of the top-n_top rows by (value desc, doc asc).  A partition
    prefilter keeps the O(n log n) lexsort to the boundary candidates only —
    at 10M-doc splits this is ~10x cheaper than sorting every candidate."""
    if n_top <= 0:  # count-only request: np.partition(v, len(v)) would raise
        return np.empty(0, np.int64)
    if len(values) > 4 * n_top:
        kth = np.partition(values, len(values) - n_top)[len(values) - n_top]
        idx = np.flatnonzero(values >= kth)
        sub = np.lexsort((docs[idx], -values[idx]))[:n_top]
        return idx[sub]
    return np.lexsort((docs, -values))[:n_top]


@dataclass
class LeafHits:
    """One scorer call's hits, column-wise: parallel ``doc_id`` / ``score``
    / ``sort_value`` arrays of one split (unit), the unit's exact
    ``num_hits``, and ``extra`` columns in hit order — ``mf_<i>`` fast-field
    arrays (stream mode) or fetched stored fields (in-leaf fetch)."""

    split_id: str
    num_hits: int
    doc_id: np.ndarray
    score: np.ndarray
    sort_value: np.ndarray
    extra: dict = _dc_field(default_factory=dict)

    def records(self, **tags):
        """The hit rows as dicts (the RDD leaf's wire format), each with
        ``tags`` added."""
        n = len(self.doc_id)
        names = (
            "split_id", "doc_id", "score", "sort_value", "split_num_hits",
            *self.extra, *tags,
        )
        cols = (
            repeat(self.split_id, n),
            self.doc_id.tolist(),
            self.score.tolist(),
            self.sort_value.tolist(),
            repeat(self.num_hits, n),
            *(v.tolist() if isinstance(v, np.ndarray) else v for v in self.extra.values()),
            *(repeat(v, n) for v in tags.values()),
        )
        for vals in zip(*cols):
            yield dict(zip(names, vals))

    def to_pandas(self) -> pd.DataFrame:
        """The hits as one frame (the mapInPandas stream/export runner)."""
        return pd.DataFrame(
            {
                "split_id": self.split_id,
                "doc_id": self.doc_id,
                "score": self.score,
                "sort_value": self.sort_value,
                "split_num_hits": self.num_hits,
                **self.extra,
            }
        )


def _count_only_row(split_id: str, num_hits: int) -> LeafHits:
    """One sentinel hit row carrying only split_num_hits, for count-only
    requests (max_hits=0).  A page slice of width 0 can never surface
    doc_id=-1 to a caller."""
    return LeafHits(
        split_id,
        int(num_hits),
        np.array([-1], np.int64),
        np.array([0.0], np.float64),
        np.array([0], np.int64),
    )


def select_strategy(ast, request: SearchRequest, mode: str = "topk") -> str:
    """The ONE place that picks the leaf scoring strategy — shared by
    make_split_scorer (which executes it) and explain (which reports it),
    so introspection can never drift from what the leaf actually runs.

    * ``match_all_scan`` — '*' (constant score, zero postings decode)
    * ``block_max_wand`` — single unfiltered term (block skipping)
    * ``maxscore_union`` — pure term disjunction, boosted or not
      (counted-but-unscored pruning; per-clause boosts scale each term's
      block upper bound and its exact score by the same multiplier, so
      the prune test stays sound)
    * ``full_eval`` — everything else (boolean eval + BM25 over matches)

    Time-filtered queries select ``full_eval`` here, but the leaf upgrades
    them per split via ts_elidable_strategy when every segment of a split
    lies wholly inside the requested range (see score_split).
    """
    unfiltered_topk = (
        mode == "topk"
        and request.sort_by_field is None
        and request.start_timestamp is None
        and request.end_timestamp is None
        and request.numeric_filters is None
        # a cursor needs the docs BELOW the pruned paths' thresholds —
        # WAND/MaxScore would re-return the already-seen top-k
        and request.search_after is None
        # minimum_should_match changes MATCHING (>= m clauses), which the
        # counted-but-unscored MaxScore walk cannot express — full eval
        and request.min_should_match <= 1
    )
    if isinstance(ast, AllQuery):
        return "match_all_scan"
    if unfiltered_topk and isinstance(ast, TermQuery):
        return "block_max_wand"
    if (
        unfiltered_topk
        and isinstance(ast, BoolQuery)
        and not ast.must
        and not ast.must_not
        and len(ast.should) >= 2
        and all(isinstance(c, TermQuery) for c in ast.should)
    ):
        return "maxscore_union"
    return "full_eval"


def ts_elidable_strategy(ast, request: SearchRequest, mode: str = "topk") -> str | None:
    """The pruned strategy this query would run WITHOUT its time filter,
    or None.  The reference drops the timestamp filter for a segment whose
    whole ts range lies inside the request range (filters.rs:64-66,92-97);
    lifting that skip to strategy selection means a split wholly inside
    the range runs block-max WAND / MaxScore instead of full evaluation —
    the filter is provably a no-op there, so scores, tie-breaks, and the
    exact num_hits are unchanged.  Splits straddling a range boundary keep
    full_eval (their per-doc filter needs every candidate decoded anyway)."""
    if request.start_timestamp is None and request.end_timestamp is None:
        return None
    unfiltered = _dc_replace(request, start_timestamp=None, end_timestamp=None)
    base = select_strategy(ast, unfiltered, mode)
    return base if base in ("block_max_wand", "maxscore_union") else None


def _split_inside_ts(ff: FastFields, lo, hi) -> bool:
    """True iff every segment's [ts_min, ts_max] lies inside [lo, hi) —
    the whole-split form of _ts_filter's whole-segment skip."""
    if lo is not None and not bool((ff.ts_min >= lo).all()):
        return False
    if hi is not None and not bool((ff.ts_max < hi).all()):
        return False
    return True


def make_split_scorer(
    config: IndexConfig,
    gstats: dict,
    ast,
    request: SearchRequest,
    mode: str = "topk",
    index_dir: str | None = None,
    stream_fields: tuple[str, ...] | None = None,
    stream_scored: bool = False,
    source_dir: str | None = None,
):
    """Build the per-split scorer ``score_split(key, postings, ff, lo,
    hi)`` → LeafHits (None when the unit has no hit).  mode: 'topk'
    (per-split top offset+max_hits, winners' stored fields fetched
    in-task) or 'stream' (emit every matching doc, no fetch — the
    search-stream fast-field export path, search_stream/leaf.rs analog).  stream_fields (stream mode only)
    adds one int64 column per resolved fast field (``mf_<i>``) so several
    aggregations share a single match-evaluation pass.  stream_scored
    additionally BM25-scores every streamed match (full evaluation, no
    pruning — a downstream group-by needs every group's best score, so
    top-k shortcuts cannot apply): the field-collapse vehicle."""
    n_top = request.start_offset + request.max_hits
    num_filters = _resolve_numeric_filters(config, request)
    pos_terms = sorted(positive_terms(ast))
    # per-term boost multipliers ('term^2'); all 1.0 for unboosted queries
    pos_weights = positive_term_weights(ast)
    # positive exists clauses: constant boost per matching doc (field → w)
    pos_exists = positive_exists_weights(ast)
    ts_lo, ts_hi = request.start_timestamp, request.end_timestamp
    sort_field = request.sort_by_field
    fetch = mode == "topk" and index_dir is not None
    strategy = select_strategy(ast, request, mode)
    single_term_wand = strategy == "block_max_wand"
    disjunction_maxscore = strategy == "maxscore_union"
    # time-filtered term/disjunction queries upgrade per split: a split
    # wholly inside [ts_lo, ts_hi) runs the pruned strategy (the filter is
    # a no-op there); boundary-straddling splits keep full evaluation
    elide_strategy = ts_elidable_strategy(ast, request, mode)

    lens_tracked = set(config.lens_tracked_fields) | {"text"}
    f_cols = fetch_cols(config)
    mf_fields = tuple(stream_fields) if (mode == "stream" and stream_fields) else ()
    mf_names = [f"mf_{i}" for i in range(len(mf_fields))]

    def score_split(
        key,
        postings_rows: PostingRecords | pd.DataFrame,
        ff: FastFields,
        lo: int | None = None,
        hi: int | None = None,
    ) -> LeafHits | None:
        """One split (or doc-range unit) → its hits, or None for none."""
        if len(ff) == 0:
            return None
        split_id = key[0]
        # fast fields: exact doc lengths (fieldnorm analog) + timestamps,
        # decoded once per worker-cache entry (FastFields memo)
        lens = ff.lens("text")

        def field_lens(field: str) -> np.ndarray | None:
            """Exact per-doc field lengths (the fieldnorm store): token
            counts for tokenized fields, value counts for raw/typed fields
            (tantivy counts a raw value as one token, so scalars are 1 and
            arrays n).  None → fieldnorm 1 (indexes built before the
            per-field blobs existed)."""
            return ff.lens(field) if field in lens_tracked else None

        src = source_dir or index_dir
        postings = _SplitPostings(
            postings_rows, lo, hi,
            source=(src, split_id) if src is not None else None,
        )

        eff_wand, eff_maxscore = single_term_wand, disjunction_maxscore
        if elide_strategy is not None and _split_inside_ts(ff, ts_lo, ts_hi):
            eff_wand = elide_strategy == "block_max_wand"
            eff_maxscore = elide_strategy == "maxscore_union"

        if eff_wand and postings.has((ast.field, ast.term)):
            row = postings.rows[(ast.field, ast.term)]
            docs, scores = _wand_single_term(
                row, gstats, ast.field, ast.term, field_lens(ast.field), n_top, lo, hi
            )
            if ast.boost != 1.0:
                # a uniform multiplier never reorders, so WAND's internal
                # threshold math stays valid — scale the exact scores after
                scores = scores * ast.boost
            num_hits = (
                int(row.doc_freq) if lo is None else _term_count_in_range(row, lo, hi)
            )
        elif eff_maxscore:
            docs, scores, num_hits = _maxscore_union(
                postings,
                gstats,
                [(c.field, c.term) for c in ast.should],
                field_lens,
                n_top,
                pos_weights,
            )
        elif isinstance(ast, AllQuery):
            # '*': every doc in the split matches with constant score 1.0
            # (tantivy AllQuery scorer) — zero postings decode; num_docs
            # comes off the already-loaded doc_lens fast-field column.
            # Doc-range slices (lo/hi) keep sub-split leaf units exact.
            docs = np.arange(
                lo or 0, len(lens) if hi is None else min(hi, len(lens)), dtype=np.int64
            )
            if len(docs) and (ts_lo is not None or ts_hi is not None):
                docs = _ts_filter(docs, ff, ts_lo, ts_hi)
            if len(docs) and num_filters:
                docs = _apply_numeric_filters(docs, ff, lens, num_filters)
            num_hits = len(docs)
            if num_hits == 0:
                return None
            scores = np.ones(len(docs), np.float64)
        else:
            docs = _eval_root(ast, postings, request.min_should_match, field_lens)
            if len(docs) and (ts_lo is not None or ts_hi is not None):
                docs = _ts_filter(docs, ff, ts_lo, ts_hi)
            if len(docs) and num_filters:
                docs = _apply_numeric_filters(docs, ff, lens, num_filters)
            num_hits = len(docs)
            if num_hits == 0:
                return None
            scores = np.zeros(len(docs), np.float64)
            # stream mode exports every matching doc's fast-field value — no
            # ranking, so skip BM25 entirely (the reference stream collector
            # never scores either, search_stream/collector.rs:32-116) unless
            # the caller asked for a scored stream (field collapse)
            score_stream = mode != "stream" or stream_scored
            for field, term in pos_terms if score_stream else []:
                d, t = postings.candidates_only((field, term), docs)
                if len(d) == 0:
                    continue
                d = d.astype(np.int64)
                # docs and d are both sorted unique: one searchsorted maps
                # each posting to its candidate slot (no isin, no re-sort)
                pos = np.searchsorted(docs, d)
                valid = docs[np.minimum(pos, len(docs) - 1)] == d
                pv = pos[valid]
                tf = t[valid].astype(np.float64)
                fl = field_lens(field)
                if fl is not None:
                    dl = fl[d[valid]]
                else:
                    dl = np.ones(len(pv), np.int64)  # raw/typed fields: len 1
                avg = gstats["avg_len"].get(field, 1.0) or 1.0
                term_idf = bm25_idf(gstats["df"].get((field, term), 0), gstats["num_docs"])
                w = pos_weights.get((field, term), 1.0)
                # (idf·tf_norm)·w, NOT w·idf·tf_norm: float association
                # must match the WAND path's post-scale exactly, or a
                # boosted term's score differs in the last ulp between
                # strategies and exact-score search_after cursors break.
                # _attach_score_explain mirrors this body — change both
                base = term_idf * tf_norm(tf, dl, avg)
                scores[pv] += base * w if w != 1.0 else base
            # exists clauses score a constant boost per matching doc (ES
            # query-context exists), ADDED AFTER the term sums — the same
            # order score_explain reconstructs
            for fname in sorted(pos_exists) if score_stream else []:
                flx = field_lens(fname)
                if flx is not None:
                    scores[flx[docs] > 0] += pos_exists[fname]

        if len(docs) == 0:
            if num_hits > 0:
                # count-only request (max_hits=0, so n_top==0): the pruned
                # paths return no candidate docs but an exact num_hits; the
                # root still needs this split's count, so emit one sentinel
                # row.  doc_id=-1 can never reach a page: every page slice
                # is rows[offset:offset+0] == [] when max_hits is 0.
                return _count_only_row(split_id, num_hits)
            return None

        if sort_field is not None:
            sv = _fast_field_values(sort_field, ff, lens, docs)
        else:
            sv = np.zeros(len(docs), np.int64)

        if request.search_after is not None and mode == "topk":
            # cursor pagination: drop rows at-or-before the cursor in
            # result order, BEFORE the top-k — num_hits (computed above)
            # stays the full count.  Equal primary values break by the
            # reference (split_id, doc_id) order; within one split the
            # split_id comparison is a scalar.
            c_v, c_split, c_doc = request.search_after
            if sort_field is not None and isinstance(c_v, float):
                # int64 discipline: comparing an int64 sort array against
                # a float cursor upcasts to float64 and collapses distinct
                # values above 2^53 (parse_search_after normalizes
                # integral floats; anything left is a user error)
                raise ValueError(
                    f"sort-field search_after value must be an integer (got {c_v!r})"
                )
            prim = sv if sort_field is not None else scores
            asc = request.sort_asc if sort_field is not None else False
            after_prim = (prim > c_v) if asc else (prim < c_v)
            if split_id > c_split:
                key_after = np.ones(len(docs), bool)
            elif split_id == c_split:
                key_after = docs > c_doc
            else:
                key_after = np.zeros(len(docs), bool)
            keep = after_prim | ((prim == c_v) & key_after)
            docs, scores, sv = docs[keep], scores[keep], sv[keep]

        if mode == "stream":
            take = np.arange(len(docs))
        elif sort_field is not None:
            # stay in int64: a float64 cast collapses distinct sort values
            # above 2^53 (e.g. nanosecond-epoch fast fields) and returns a
            # wrong page boundary (_fast_field_values rejects f64 for the
            # same reason); _topk_take is dtype-agnostic
            sgn = -1 if request.sort_asc else 1
            take = _topk_take(sgn * sv.astype(np.int64), docs, n_top)
        else:
            take = _topk_take(scores, docs, n_top)
        if len(take) == 0 and num_hits > 0:
            # count-only via the full-eval path: candidates exist but
            # n_top==0 pages nothing; a hit-less result would carry no row
            # for the root to read the count from
            return _count_only_row(split_id, num_hits)
        out = LeafHits(split_id, num_hits, docs[take], scores[take], sv[take])
        for name, f in zip(mf_names, mf_fields):
            # stream mode: take is the identity, so this is vals-by-doc
            out.extra[name] = _fast_field_values(f, ff, lens, docs)[take]
        if fetch:
            fields = _fetch_doc_fields(index_dir, split_id, out.doc_id, f_cols)
            row_of = {d: i for i, d in enumerate(fields["doc_id"].tolist())}
            at = [row_of.get(d) for d in out.doc_id.tolist()]
            for c in f_cols:
                if c != "doc_id":
                    vals = fields[c].tolist()
                    out.extra[c] = [vals[i] if i is not None else None for i in at]
        return out

    return score_split


def _ts_filter(docs: np.ndarray, ff: FastFields, lo, hi) -> np.ndarray:
    """Per-doc timestamp filter with whole-segment skip (filters.rs:64-66,
    92-97 analog): a segment fully inside the range is accepted without
    decoding its ts column; fully outside is rejected wholesale."""
    keep_parts = []
    inside = np.ones(len(ff), bool)
    outside = np.zeros(len(ff), bool)
    if lo is not None:
        inside &= ff.ts_min >= lo
        outside |= ff.ts_max < lo
    if hi is not None:
        inside &= ff.ts_max < hi
        outside |= ff.ts_min >= hi
    for i in np.flatnonzero(~outside).tolist():
        base, n = int(ff.base_doc[i]), int(ff.num_docs[i])
        seg_docs = docs[(docs >= base) & (docs < base + n)]
        if len(seg_docs) == 0:
            continue
        if inside[i]:
            keep_parts.append(seg_docs)
            continue
        ts = decode_u32_column(ff.ts_blobs[i]).astype(np.int64)
        vals = ts[seg_docs - base]
        m = np.ones(len(seg_docs), bool)
        if lo is not None:
            m &= vals >= lo
        if hi is not None:
            m &= vals < hi
        keep_parts.append(seg_docs[m])
    if not keep_parts:
        return np.empty(0, np.int64)
    return np.concatenate(keep_parts)


def f64_sort_keys(vals: np.ndarray) -> np.ndarray:
    """Monotonic f64 → int64 mapping — the tantivy-common f64↔u64 trick
    recast into signed space so the existing int64 sort/merge machinery
    (leaf heap, root merge, cursor comparisons) carries doubles unchanged:
    non-negative doubles keep their raw bit pattern (already ascending as
    int64), negatives map to the bit complement re-signed (ascending with
    the double, and below every non-negative key).  NaNs are unsupported
    (fast f64 columns are built from finite non-null values)."""
    bits = np.ascontiguousarray(vals, dtype=np.float64).view(np.int64)
    u = bits.view(np.uint64)
    u = np.where(bits >= 0, u | np.uint64(1 << 63), ~u)
    return (u ^ np.uint64(1 << 63)).view(np.int64)


def sort_key_to_f64(key: int) -> float:
    """Inverse of f64_sort_keys for one key (display conversion: hits show
    the double, the wire carries the int64 key)."""
    if key >= 0:
        return float(np.array(key, np.int64).view(np.float64)[()])
    u0 = ~(np.uint64(np.int64(key)) ^ np.uint64(1 << 63))
    return float(np.array(u0, np.uint64).view(np.float64)[()])


def _fast_field_values(
    field: str,
    ff: FastFields,
    lens: np.ndarray,
    docs: np.ndarray,
) -> np.ndarray:
    """``field``'s values at ``docs``.  The whole-column decode is memoized
    on the FastFields entry, one per worker instead of one per unit — a
    sort-by-ts unit on a 5.1M-doc split otherwise re-decodes 5.1M values
    per invocation, same economics as the doc_lens memo."""
    if field == "doc_len":
        return lens[docs]
    mkey = f"ffv_{field}"
    if mkey in ff.memo:
        return ff.memo[mkey][docs]
    if field == "ts":
        vals = np.concatenate([decode_u32_column(b) for b in ff.ts_blobs]).astype(np.int64)
    else:
        col = f"ff_{field}"  # generic fast i64/u64/f64 columns
        if col not in ff.pdf.columns:
            raise ValueError(f"unsupported sort fast field: {field}")
        vals_raw = [np.asarray(v) for v in ff.pdf[col]]
        if any(v.dtype.kind == "f" for v in vals_raw):
            # f64 fast fields sort via the monotonic int64 key (tantivy
            # stores f64 fast fields as monotonic u64 the same way); the
            # root converts keys back to doubles for display
            vals = f64_sort_keys(np.concatenate([v.astype(np.float64) for v in vals_raw]))
        else:
            vals = np.concatenate([v.astype(np.int64) for v in vals_raw])
    return ff.memoize(mkey, vals)[docs]


