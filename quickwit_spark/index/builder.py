"""Index build pipeline — DataFrame-native analog of the reference's
Indexer → Packager → Uploader → Publisher actor DAG
(quickwit-indexing/src/actors/*, SURVEY.md §2.3).

Dataflow: ONE Spark job per wave — scan → one shuffle → fused in-task
build — plus a driver-side catalog publish.  No window, no cache, no
second pass, no separate stats job.

1. **Plan (no job)**: ``n_splits`` is sized from parquet-footer row counts
   read driver-side (an upper bound is fine: an overestimate just yields a
   few empty splits, checkpointed as ``built:empty``); ``count()`` is the
   fallback for non-parquet-backed frames.

2. **The one shuffle**: ``split_ord = pmod(xxhash64(conv_id), n_splits)``
   keeps a conversation in one split and is a pure function of the data —
   never of task scheduling.  ``repartition(P, part_key)`` with the
   slot-key trick (``_slot_keys``) places EXACTLY one split per partition —
   no balls-in-bins stacking, no straggler tail; the keys come from a
   driver-side port of Spark's int hash, so planning the shuffle runs no
   job — then
   ``sortWithinPartitions(conv_id, turn_idx)`` fixes the doc order.  AQE
   never coalesces an explicit repartition, so parallelism == split count
   even when the data is small.

3. **Fused split build** (Indexer + Packager + Uploader in one
   ``mapInPandas`` pass): each task streams its split's sorted batches,
   classifies + drops invalid rows (RequiredFastField analog,
   default_mapper.rs:375-389), assigns the dense per-split docID with a
   running counter (stable across parallelism levels: it depends only on
   data + split map + sort order), tokenizes, builds the final posting
   lists (delta + bitpacked blocks + block-max skip metadata), and WRITES
   the split's docs / postings / fastfields parquet itself with pyarrow —
   the node that built the split ships it, exactly like the reference's
   Uploader (uploader.rs:151-184).  The task's only Spark output is one
   tiny metadata row per split (num_docs, ts range, tags, field length
   sums, bytes — the IndexingStatistics analog, indexing_statistics.rs).

   Memory is bounded: docs are encoded in ~``chunk_docs``-doc chunks
   (compressed immediately, doc store streamed out per chunk); a split
   bigger than one chunk gets a per-term in-task merge of its chunk blobs
   at split end — the reference's segment-merge (packager.rs:116-125)
   performed inside the task instead of across a shuffle.

   **Hot-term skew**: terms are never a shuffle key — a stopword posting
   list is assembled entirely inside its split's task, so a term with 30%
   document frequency contributes zero shuffle rows (a two-phase salted
   term-keyed repartition alternative was measured 4x slower at 32 cores:
   millions of tiny per-(segment, term) Arrow rows dominate the wall
   clock).

4. **Publish** (Publisher analog, driver-side, no job): split metadata is
   staged then atomically published with an overlap-rejecting checkpoint
   delta (checkpoint.rs:299-353 analog); readers only see Published splits,
   so a killed build leaves no visible partial state; resume skips finished
   splits via the checkpoint (FIXTURES.md F6).  In-task file writes are
   idempotent (temp + atomic rename; deterministic content under retry) and
   invisible until published.

Scale notes (100 TB / 1000 executors): one task per split (reference target
10M docs ≈ one indexing actor's split); shuffle volume = raw docs, moved
exactly once; nothing doc-level is ever collected (one ~300-byte metadata
row per split reaches the driver).  Waves bound the failure blast radius
the way the reference publishes split-by-split.  Measured on this sandbox:
throughput scaling efficiency N→4N in BENCH_SCALING.json (pinned cores;
see tools/scaling_bench.py for methodology).
"""

from __future__ import annotations

import os
import time
import uuid
from dataclasses import dataclass, field
from typing import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import IndexConfig
from ..storage import storage_for
from ..functions.codec import (
    BLOCK,
    bit_widths,
    block_tf_cum,
    encode_position_deltas_many,
    encode_positions,
    encode_postings,
    encode_single_block_postings,
    encode_u32_column,
)
from ..functions.tokenizer import tokenize_series
from .catalog import PUBLISHED, Catalog, SplitMetadata

# High-tf terms additionally store per-doc 128-bit position BITSETS
# (codec.encode_position_bitmaps): a stopword-led phrase then verifies
# adjacency with a vectorized shift-AND instead of decoding millions of
# delta-coded positions (the dominant merged-layout phrase cost).  Only
# rows whose total_tf clears this floor pay the 16 B/doc storage — below
# it the delta payload is smaller AND cheap to decode; rows with any
# position >= 128 (long/array docs) never store one.
def _posbm_min_total_tf() -> int:
    return int(os.environ.get("QW_POSBM_MIN_TOTAL_TF", str(64 << 10)))


# bytes per posting BLOCK of a pos_bm payload: 128 docs x 16 B/doc.  The
# bitmap layout is fixed-stride (rank-addressed), so chunking needs no
# re-encode — chunk k of span S blocks is the byte slice
# [k*S*BM_BLOCK_BYTES, (k+1)*S*BM_BLOCK_BYTES).
BM_BLOCK_BYTES = 16 * 128


# bitmaps CHUNK only above this size; below it they stay INLINE on the
# primary row.  Separate from the positions chunk target on purpose: an
# inline cell rides the term's row-group fetch and the worker's posting
# cache (one read, amortized), while chunk rows cost an extra fetch
# round per (worker, split, term) — at 156 merged 262k-doc splits the
# 2 MB stopword bitmaps chunked under the 1 MB positions target and
# phrase paid ~1,100 chunk fetches per query (local workers have no
# task stickiness), 2.6 s vs the inline layout's 1.7.  16 MB is the
# biggest cell the round-4 inline layout shipped safely; only the
# few-huge-splits shape (82 MB cells, the OOM case) chunks.
def _bm_chunk_bytes() -> int:
    return int(os.environ.get("QW_BM_CHUNK_BYTES", str(16 << 20)))


def _attach_pos_bitmaps(pdf: pd.DataFrame, min_total_tf: int) -> pd.DataFrame:
    """Derive the ``pos_bm`` column for qualifying PRIMARY rows (positions
    still inline — call BEFORE _split_chunked_positions).  Adds the column
    (None elsewhere) and returns the same frame."""
    from ..functions.codec import (
        decode_postings,
        encode_position_bitmaps,
        positions_may_fit_bitmaps,
    )

    bms: list = [None] * len(pdf)
    if min_total_tf >= 0 and len(pdf):
        # candidates first (most finalize flushes have none): Python runs
        # only for the rows that clear the floor
        hot = (pdf["total_tf"].to_numpy() >= min_total_tf) & pdf["positions"].notna().to_numpy()
        if hot.any():
            pos = pdf["positions"].to_numpy()
            blob = pdf["blob"].to_numpy()
            for i in np.flatnonzero(hot):
                if positions_may_fit_bitmaps(pos[i]):  # no decode otherwise
                    _, tfs = decode_postings(blob[i])
                    bms[i] = encode_position_bitmaps(pos[i], tfs)
    pdf = pdf.copy()
    pdf["pos_bm"] = bms
    return pdf

# positions payloads above this many bytes are split into chunk ROWS
# (chunk_ord >= 1, cut at posting-block boundaries; codec.chunk_positions)
# so doc-range leaf units fetch only the chunks their blocks map to —
# a hot phrase term's positions at a 10M-doc split is ~50-120 MB in ONE
# parquet cell otherwise, re-read whole by every unit
def _pos_chunk_bytes() -> int:
    return int(os.environ.get("QW_POS_CHUNK_BYTES", str(1 << 20)))

# legacy constant (the transcript shape); the build path derives columns
# from the config via IndexConfig.doc_cols() so generic mapper-built
# schemas (docmapper.py) carry their own stored leaves
DOC_COLS = ["doc_id", "conv_id", "turn_idx", "role", "text", "tool", "ts", "ts_epoch"]

# docs per in-task encode chunk: splits at or under this size take a single
# whole-split pass (every term single-entry, zero merge work); bigger splits
# are chunk-encoded so raw token arrays never exceed ~chunk_docs docs' worth
# of memory regardless of split_num_docs_target (the RAM budget that makes
# the reference cut segments, indexer.rs:127-133)
CHUNK_DOCS = 262_144


@dataclass
class BuildReport:
    index_dir: str
    build_id: str
    n_splits: int
    total_docs: int
    invalid_docs: int
    published_splits: list[str] = field(default_factory=list)
    skipped_splits: list[str] = field(default_factory=list)
    metrics: dict = field(default_factory=dict)


_TIMING = os.environ.get("QW_BUILD_TIMING", "") == "1"


class _Timer:
    """Opt-in stage timing (QW_BUILD_TIMING=1) written to stderr: ``plan``,
    then per wave ``dataframe`` (building the wave's DataFrame), ``job``
    (the split-build Spark job) and ``publish``."""

    def __init__(self):
        self.t = time.monotonic()

    def lap(self, label: str) -> None:
        if _TIMING:
            now = time.monotonic()
            import sys

            print(f"[build-timing] {label}: {now - self.t:.2f}s", file=sys.stderr, flush=True)
            self.t = now


def _split_id(build_id: str, ord_: int) -> str:
    return f"{build_id}-{ord_:05d}"


def _paths(index_dir: str) -> dict[str, str]:
    return {
        "docs": os.path.join(index_dir, "docs"),
        "postings": os.path.join(index_dir, "postings"),
        "fastfields": os.path.join(index_dir, "fastfields"),
        # per-split (bucket, field, term, doc_freq) sidecar — the raw
        # material for the index-level term-stats deltas (see
        # _write_termstats_delta); GC'd with the split like any table
        "termstats": os.path.join(index_dir, "termstats"),
        # single-read cold-open sidecar on object stores (file listing +
        # parquet footers + small fastfields payloads; hotcache.py); GC'd
        # with the split like any table
        "hotcache": os.path.join(index_dir, "hotcache"),
        # per-split term-presence Bloom (termbloom.py) — driver-side split
        # pruning for selective queries; GC'd with the split
        "termbloom": os.path.join(index_dir, "termbloom"),
    }


def _expand_parquet_paths(paths: list[str], strict: bool = False) -> list[str]:
    """Flatten files-or-directories into a parquet file list (a termstats
    delta is a single file from the driver path or a directory of parts from
    the Spark path).  ``strict`` raises on a missing path — a COMMITTED
    delta that is gone means wrong global doc_freq, which must be loud (the
    caller retries against a fresh catalog first: a concurrent compaction
    legitimately swaps the delta list)."""
    out: list[str] = []
    for p in paths:
        st = storage_for(p)
        info = st.info(p)
        import pyarrow.fs as pafs

        if info.type == pafs.FileType.Directory:
            out.extend(st.list_files(p))
        elif info.type == pafs.FileType.File:
            out.append(p)
        elif strict:
            raise FileNotFoundError(f"committed termstats delta missing: {p}")
    return out


def _write_termstats_delta(
    spark: SparkSession, index_dir: str, files: list[str], tag: str
) -> str | None:
    """Aggregate termstats sidecars (or older deltas, for compaction) into
    ONE delta file: (bucket, field, term) → summed doc_freq, sorted by
    bucket so query-term lookups prune row groups via parquet min/max.
    Returns the path relative to index_dir, or None if there is no input.

    Why this exists (scale): global BM25 doc_freq would otherwise be an
    O(published splits) read on every cold query — ~40 s of driver-side
    pyarrow at the 10^4-split scale of a 100 TB index.  Each publish folds
    its new splits' stats into one delta and merge rounds compact the
    deltas, so a query reads O(publish batches since the last merge) small
    bucket-pruned files instead.  Merge/demux never write deltas: they
    rewrite the same docs, so global df is invariant under them — the
    zero-sum property that makes this an insert-only LSM.

    Small batches aggregate driver-side in Arrow (one hash group-by and
    one sort over the concatenated files, no pandas round trip); above
    QW_TERMSTATS_DRIVER_MAX_MB of sidecar bytes the aggregation runs as a
    Spark groupBy (cluster-scale publishes: 100 splits × millions of terms
    never pass through the driver)."""
    import pyarrow as pa

    storage = storage_for(index_dir)
    files = _expand_parquet_paths(files)
    if not files:
        return None
    rel = os.path.join("termstats_deltas", f"{tag}-{uuid.uuid4().hex[:8]}.parquet")
    out_path = os.path.join(index_dir, rel)
    max_mb = int(os.environ.get("QW_TERMSTATS_DRIVER_MAX_MB", "256"))
    if sum(storage.size(f) for f in files) <= max_mb * (1 << 20):
        keys = ["bucket", "field", "term"]
        folded = (
            storage.dataset(files)
            .to_table()
            .group_by(keys)
            .aggregate([("doc_freq", "sum")])
            .sort_by([(k, "ascending") for k in keys])
        )
        storage.write_table(
            pa.table(
                {k: folded[k] for k in keys} | {"doc_freq": folded["doc_freq_sum"]}
            ).cast(_termstats_schema()),
            out_path,
            row_group_size=4096,
        )
    else:
        # Spark-scale aggregation writes the delta as a DIRECTORY of parts
        # at its final (unique) name — no rename; the delta is garbage until
        # the catalog commit references it, so partial writes are invisible
        # (and GC'd as orphans)
        (
            spark.read.parquet(*[storage.spark_url(f) for f in files])
            .groupBy("bucket", "field", "term")
            .agg(F.sum("doc_freq").alias("doc_freq"))
            .repartition("bucket")
            .sortWithinPartitions("bucket", "field", "term")
            .write.mode("overwrite")
            .parquet(storage.spark_url(out_path))
        )
        for f in storage.list_files(out_path, suffix=""):  # drop _SUCCESS etc.
            if not f.endswith(".parquet"):
                storage.delete_file(f)
    return rel


def _cleanup_split_dirs(index_dir: str, split_ids: list[str]) -> None:
    """Remove data dirs of staged-but-unpublished splits before a retry
    (the GC-of-stale-staged-splits analog, garbage_collector.rs:56-146)."""
    storage = storage_for(index_dir)
    for table, path in _paths(index_dir).items():
        for sid in split_ids:
            storage.delete_dir(os.path.join(path, f"split_id={sid}"))


# ---------------------------------------------------------------------------
# vectorized tokenize → postings kernels (pure numpy/pandas, Arrow-batched)
# ---------------------------------------------------------------------------


def _flatten_tokens(doc_ids: np.ndarray, token_lists: pd.Series):
    """Explode token lists to flat (term, doc, pos) arrays, fully vectorized
    except the unavoidable list concat (tokens are Python strings)."""
    from itertools import chain

    lens = token_lists.map(len).to_numpy(dtype=np.int64)
    total = int(lens.sum())
    if total == 0:
        return None
    flat_terms = np.fromiter(
        chain.from_iterable(token_lists), dtype=object, count=total
    )
    doc_rep = np.repeat(doc_ids, lens)
    starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
    pos = np.arange(total, dtype=np.int64) - np.repeat(starts, lens)
    return flat_terms, doc_rep, pos


# tantivy inserts a gap of 2 positions between consecutive values of a
# multi-valued text field (segment_writer POSITION_GAP), so phrases never
# match across array-element boundaries
ARRAY_POSITION_GAP = 2


def _flatten_array_tokens(doc_ids: np.ndarray, elem_lists: pd.Series):
    """Explode array<text> values to flat (term, doc, pos) arrays with the
    POSITION_GAP between elements.  Returns (flat, tokens_per_doc) where
    tokens_per_doc counts REAL tokens only (gaps don't affect fieldnorms).
    Tokenization is one vectorized pass over every element string."""
    from itertools import chain

    from ..functions.tokenizer import tokenize_series

    n_elems = elem_lists.map(lambda v: len(v) if v is not None else 0).to_numpy(np.int64)
    tokens_per_doc = np.zeros(len(elem_lists), np.int64)
    if n_elems.sum() == 0:
        return None, tokens_per_doc
    all_elems = pd.Series(
        [
            e if e is not None else ""
            for lst in elem_lists
            if lst is not None
            for e in lst
        ],
        dtype=object,
    )
    tok_lists = tokenize_series(all_elems)
    tok_counts = tok_lists.map(len).to_numpy(np.int64)
    total = int(tok_counts.sum())
    elem_doc = np.repeat(np.arange(len(elem_lists)), n_elems)  # element → doc ordinal
    np.add.at(tokens_per_doc, elem_doc, tok_counts)
    if total == 0:
        return None, tokens_per_doc
    # per-element start position within its doc: exclusive cumsum of
    # (tokens + GAP), re-based at each doc's first element
    adv = tok_counts + ARRAY_POSITION_GAP
    csum = np.concatenate(([0], np.cumsum(adv)[:-1]))
    first_of_doc = np.concatenate(([True], elem_doc[1:] != elem_doc[:-1]))
    base = np.maximum.accumulate(np.where(first_of_doc, csum, 0))
    elem_start = csum - base
    flat_terms = np.fromiter(chain.from_iterable(tok_lists), dtype=object, count=total)
    doc_rep = np.repeat(doc_ids[elem_doc], tok_counts)
    tok_starts = np.concatenate(([0], np.cumsum(tok_counts)[:-1]))
    pos = (
        np.arange(total, dtype=np.int64)
        - np.repeat(tok_starts, tok_counts)
        + np.repeat(elem_start, tok_counts)
    )
    return (flat_terms, doc_rep, pos), tokens_per_doc


def _postings_from_flat(flat_terms, doc_rep, pos, lens_by_doc, base_doc, want_positions):
    """Group flat (term, doc, pos) into per-term posting rows.

    The flat arrays arrive already sorted by (doc, pos) — _flatten_tokens
    emits docs in ascending order and positions in reading order — so ONE
    stable single-key argsort of the factorized term codes yields the full
    (term, doc, pos) order (3x cheaper than a 3-key lexsort at ~2M tokens
    per chunk).  All per-pair arrays (docs, tfs, doc lengths) are computed
    in whole-array passes; the per-*term* loop only takes views.
    Yields (term, doc_ids, tfs, positions_flat | None, posting_doc_lens).
    """
    codes, uniques = pd.factorize(flat_terms, sort=True)
    order = np.argsort(codes, kind="stable")
    codes = codes[order]
    docs_s = doc_rep[order]

    # run-length boundaries of (term, doc)
    pair_change = np.empty(len(codes), dtype=bool)
    pair_change[0] = True
    pair_change[1:] = (codes[1:] != codes[:-1]) | (docs_s[1:] != docs_s[:-1])
    pair_starts = np.flatnonzero(pair_change)
    tfs_all = np.diff(np.concatenate((pair_starts, [len(codes)]))).astype(np.uint32)
    pair_docs = docs_s[pair_starts].astype(np.uint32)
    pair_codes = codes[pair_starts]
    plens_all = lens_by_doc[(pair_docs.astype(np.int64) - base_doc)]
    pos_s = pos[order].astype(np.uint32) if want_positions else None

    term_change = np.empty(len(pair_codes), dtype=bool)
    term_change[0] = True
    term_change[1:] = pair_codes[1:] != pair_codes[:-1]
    term_starts = np.flatnonzero(term_change)
    term_ends = np.concatenate((term_starts[1:], [len(pair_codes)]))
    # occurrence-level slice bounds per term
    occ_bounds = np.concatenate((pair_starts, [len(codes)]))

    for s, e in zip(term_starts, term_ends):
        term = uniques[pair_codes[s]]
        positions = pos_s[occ_bounds[s] : occ_bounds[e]] if want_positions else None
        yield term, pair_docs[s:e], tfs_all[s:e], positions, plens_all[s:e]


def _encode_flat_postings(
    flat_terms, doc_rep, pos, lens_by_doc, base_doc, want_positions
):
    """Encode EVERY term of a flat (term, doc, pos) chunk, batched.

    Same grouping as :func:`_postings_from_flat`, but terms with df <=
    BLOCK (the overwhelming majority) encode through ONE pack_segments pass
    per payload (codec.encode_single_block_postings /
    encode_position_deltas_many) instead of four numpy packs per term —
    per-term packing was measured ~40% of fresh-build CPU.  Blobs are
    bit-identical to :func:`_encode_term`'s.  Hot multi-block terms fall
    back per term (their cost is bandwidth, not call overhead).
    Yields (term, row_tail) like (term, *_encode_term(...)).
    """
    codes, uniques = pd.factorize(flat_terms, sort=True)
    order = np.argsort(codes, kind="stable")
    codes = codes[order]
    docs_s = doc_rep[order]

    pair_change = np.empty(len(codes), dtype=bool)
    pair_change[0] = True
    pair_change[1:] = (codes[1:] != codes[:-1]) | (docs_s[1:] != docs_s[:-1])
    pair_starts = np.flatnonzero(pair_change)
    tfs_all = np.diff(np.concatenate((pair_starts, [len(codes)]))).astype(np.uint32)
    pair_docs = docs_s[pair_starts].astype(np.uint32)
    pair_codes = codes[pair_starts]
    plens_all = lens_by_doc[(pair_docs.astype(np.int64) - base_doc)]
    pos_s = pos[order].astype(np.uint32) if want_positions else None

    term_change = np.empty(len(pair_codes), dtype=bool)
    term_change[0] = True
    term_change[1:] = pair_codes[1:] != pair_codes[:-1]
    term_starts = np.flatnonzero(term_change)
    term_ends = np.concatenate((term_starts[1:], [len(pair_codes)]))
    occ_bounds = np.concatenate((pair_starts, [len(codes)]))
    df_per_term = term_ends - term_starts

    # ---- batched single-block encode -------------------------------------
    # gaps over the pair stream, re-anchored absolute at each term start
    gaps = np.empty(len(pair_docs), np.uint32)
    if len(pair_docs):
        gaps[0] = pair_docs[0]
        np.subtract(pair_docs[1:], pair_docs[:-1], out=gaps[1:])
        gaps[term_starts] = pair_docs[term_starts]
    wd = bit_widths(np.maximum.reduceat(gaps, term_starts))
    max_tf_t = np.maximum.reduceat(tfs_all, term_starts)
    wt = bit_widths(max_tf_t)
    wl = bit_widths(np.maximum.reduceat(plens_all, term_starts))
    total_tf_t = np.add.reduceat(tfs_all.astype(np.int64), term_starts)
    min_len_t = np.minimum.reduceat(plens_all, term_starts)

    single = df_per_term <= BLOCK
    # pack only the single-block terms' segments (multi-block fall back)
    s_idx = np.flatnonzero(single)
    blobs, lens_blobs = encode_single_block_postings(
        gaps, tfs_all, plens_all, term_starts[s_idx], df_per_term[s_idx],
        wd[s_idx], wt[s_idx], wl[s_idx],
    )
    pos_blobs: list = [None] * len(s_idx)
    if want_positions:
        deltas = pos_s.copy()
        if len(deltas) > 1:
            deltas[1:] -= pos_s[:-1]
        deltas[pair_starts] = pos_s[pair_starts]
        occ_start_t = occ_bounds[term_starts]
        wp = bit_widths(np.maximum.reduceat(deltas, occ_start_t))
        pos_blobs = encode_position_deltas_many(
            deltas, occ_start_t[s_idx], (occ_bounds[term_ends] - occ_start_t)[s_idx], wp[s_idx]
        )
    last_doc_s = pair_docs[term_ends - 1]

    k = 0  # index into the packed single-block tables
    for ti in range(len(term_starts)):
        s, e = term_starts[ti], term_ends[ti]
        term = uniques[pair_codes[s]]
        if not single[ti]:
            p_occ = (
                pos_s[occ_bounds[s] : occ_bounds[e]] if want_positions else None
            )
            yield term, *_encode_term(
                pair_docs[s:e], tfs_all[s:e], p_occ, plens_all[s:e]
            )
            continue
        yield (
            term, int(df_per_term[ti]), int(total_tf_t[ti]), blobs[k], pos_blobs[k],
            lens_blobs[k], [int(last_doc_s[ti])], [int(max_tf_t[ti])],
            [int(min_len_t[ti])], [0],
        )
        k += 1


def _encode_term(d: np.ndarray, t: np.ndarray, p: np.ndarray | None, plens: np.ndarray):
    """One term's arrays → the (df, tf, blob, pos, lens, blocks…) row tail."""
    blob, last_doc, max_tf = encode_postings(d, t)
    if len(d) <= BLOCK:  # single block — the overwhelmingly common case
        min_len = plens.min(keepdims=True)
        tf_cum = [0]
    else:
        min_len = np.minimum.reduceat(plens, np.arange(0, len(d), BLOCK))
        tf_cum = block_tf_cum(t).tolist()
    return (
        int(len(d)),
        int(t.sum()),
        blob,
        encode_positions(p, t) if p is not None else None,
        encode_u32_column(plens),
        last_doc.astype(np.int64).tolist(),
        max_tf.astype(np.int64).tolist(),
        min_len.astype(np.int64).tolist(),
        tf_cum,
    )


POSTINGS_COLUMNS = [
    "bucket", "field", "term", "doc_freq", "total_tf", "blob",
    "positions", "lens", "block_last_doc", "block_max_tf", "block_min_len",
    "block_tf_cum",
]

def _cell_lens(col: pd.Series) -> np.ndarray:
    """Byte length of every payload cell; 0 for a null cell (None, or NaN
    after a pandas concat)."""
    return np.fromiter(
        (0 if v is None or isinstance(v, float) else len(v) for v in col.to_numpy()),
        np.int64, len(col),
    )


def _split_chunked_positions(
    pdf: pd.DataFrame, target: int | None = None, bm_target: int | None = None
) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Write-time positions chunking: rows whose positions payload exceeds
    QW_POS_CHUNK_BYTES become (primary row with positions=None +
    pos_chunk_blocks) plus chunk ROWS (chunk_ord >= 1, positions = one
    standalone chunk stream; codec.chunk_positions cuts at posting-block
    boundaries).  Chunk rows carry (bucket, field, term[, split_id]) so
    they prune by the same row-group statistics, and every other column
    null so both row kinds share one parquet schema.  Returns
    (primary_pdf, chunks_pdf) — chunk rows are written into their OWN
    small row groups (a separate file in the builder, byte-bounded row
    groups in the Spark merge writer) so a term lookup never drags chunk
    bytes along and a doc-range unit fetches only its chunks.

    pos_bm payloads above QW_BM_CHUNK_BYTES (a threshold, independent of
    the positions target) are chunked too — as NEGATIVE-ord chunk rows
    (chunk_ord = -k carries bitmap chunk k-1 in its pos_bm column;
    positive ords stay positions chunks).  The bitmap layout is
    fixed-stride (16 B per posting rank), so chunks are pure byte slices
    of ``bm_chunk_span`` posting blocks each — min(QW_POS_CHUNK_BYTES,
    QW_BM_CHUNK_BYTES) bytes, or QW_BM_CHUNK_BYTES when positions
    chunking is off (QW_POS_CHUNK_BYTES=0); the span is
    stored on the primary row (pos_bm = None there) and the reader maps
    candidate ranks -> chunk ords arithmetically.  This is what lets hot
    terms (df above the old 1M ceiling) carry bitmaps at the reference's
    10M-doc split shape without any task fetching an 80 MB cell whole."""
    from ..functions.codec import chunk_positions

    if target is None:
        # driver-side callers capture the env value themselves (Spark
        # worker processes inherit the JVM's start-time env, not the
        # driver's current one) — this default serves in-driver paths
        target = _pos_chunk_bytes()
    pdf = pdf.copy()
    if "chunk_ord" not in pdf.columns:
        pdf["chunk_ord"] = 0
        pdf["pos_chunk_blocks"] = None
    if "bm_chunk_span" not in pdf.columns:
        pdf["bm_chunk_span"] = None
    cols = list(pdf.columns)
    chunk_rows: list[dict] = []
    if target > 0 and len(pdf):
        pos = pdf["positions"]
        pi = pdf.columns.get_loc("positions")
        bi = pdf.columns.get_loc("pos_chunk_blocks")
        for i in np.flatnonzero(_cell_lens(pos) > target):
            p = pos.iat[i]
            r = pdf.iloc[i]
            chunks = chunk_positions(
                p, np.asarray(r["block_tf_cum"], np.int64), target
            )
            if chunks is None:
                continue
            pdf.iat[i, pi] = None
            pdf.iat[i, bi] = [int(b) for b, _ in chunks]
            for ord_, (_first_block, blob) in enumerate(chunks, start=1):
                row = {c: None for c in cols}
                for c in ("split_id", "bucket", "field", "term"):
                    if c in row:
                        row[c] = r[c]
                row["chunk_ord"] = ord_
                row["positions"] = blob
                chunk_rows.append(row)
    if bm_target is None:
        bm_target = _bm_chunk_bytes()
    if bm_target > 0 and "pos_bm" in pdf.columns and len(pdf):
        bmc = pdf["pos_bm"]
        bmi = pdf.columns.get_loc("pos_bm")
        si = pdf.columns.get_loc("bm_chunk_span")
        # posting blocks per chunk: no chunk above the bitmap threshold,
        # and at most the positions target when that one is on
        span_bytes = min(target, bm_target) if target > 0 else bm_target
        span = max(span_bytes // BM_BLOCK_BYTES, 1)
        step = span * BM_BLOCK_BYTES
        for i in np.flatnonzero(_cell_lens(bmc) > bm_target):
            bm = bmc.iat[i]
            r = pdf.iloc[i]
            pdf.iat[i, bmi] = None
            pdf.iat[i, si] = span
            for k in range(0, len(bm), step):
                row = {c: None for c in cols}
                for c in ("split_id", "bucket", "field", "term"):
                    if c in row:
                        row[c] = r[c]
                row["chunk_ord"] = -(k // step) - 1
                row["pos_bm"] = bm[k : k + step]
                chunk_rows.append(row)
    cpdf = pd.DataFrame(chunk_rows, columns=cols)
    return pdf, cpdf


# the build task's only Spark output: one tiny metadata row per split (the
# split data itself — docs, postings, fastfields parquet — is written
# in-task with pyarrow, the Uploader-actor analog: the node that built the
# split ships it, uploader.rs:151-184)
STATS_SCHEMA = "split_id string, meta string"


def _pa_scalar(scalar_type: str):
    import pyarrow as pa

    return {
        "text": pa.string(),
        "i64": pa.int64(),
        "u64": pa.int64(),
        "f64": pa.float64(),
        "date": pa.timestamp("us"),
        "bytes": pa.binary(),
    }[scalar_type]


def _pa_doc_field(m) -> tuple:
    import pyarrow as pa

    t = _pa_scalar(m.scalar_type)
    return (m.name, pa.list_(t) if m.is_array else t)


def docs_plain_columns(config: IndexConfig) -> tuple[str, ...]:
    """Docs columns written without dictionary encoding: the doc id, the
    timestamp columns and the tokenized text fields hold (nearly) unique
    values, so a dictionary only adds bytes (the 18 docs files of the
    seed-7 perfbench query layout, ~2k rows each: 6.03 → 5.83 MB).
    Low-cardinality columns (role, conv_id, raw tags) keep theirs."""
    return ("doc_id", "ts", "ts_epoch", *config.tokenized_text_fields)


def _pa_schemas(config: IndexConfig):
    """Config-derived split-table schemas: docs = plumbing + stored schema
    leaves (generic DocMapper fields flow through as typed columns);
    fastfields = per-segment doc lens (one blob per tokenized text field),
    the u32 ts column, and the generic fast columns."""
    import pyarrow as pa

    docs = pa.schema(
        [
            ("doc_id", pa.int64()),
            ("conv_id", pa.string()),
            ("turn_idx", pa.int32()),
            *[_pa_doc_field(m) for m in config.stored_extra_fields],
            ("ts", pa.timestamp("us")),
            ("ts_epoch", pa.int64()),
        ]
    )
    # posting rows: `lens` carries per-posting doc lengths (the exact
    # fieldnorm data tantivy co-locates with segments) so split merges can
    # re-derive block_min_len without re-reading the doc store; `bucket` is
    # the stored term-hash bucket: queries prune their scan to the buckets
    # of the query terms via parquet min/max stats
    postings = pa.schema(
        [
            ("bucket", pa.int32()),
            ("field", pa.string()),
            ("term", pa.string()),
            ("doc_freq", pa.int64()),
            ("total_tf", pa.int64()),
            ("blob", pa.binary()),
            ("positions", pa.binary()),
            ("lens", pa.binary()),
            ("block_last_doc", pa.list_(pa.int64())),
            ("block_max_tf", pa.list_(pa.int64())),
            ("block_min_len", pa.list_(pa.int64())),
            ("block_tf_cum", pa.list_(pa.int64())),
            ("chunk_ord", pa.int32()),
            ("pos_chunk_blocks", pa.list_(pa.int64())),
            ("pos_bm", pa.binary()),
            ("bm_chunk_span", pa.int32()),
        ]
    )
    fastfields = pa.schema(
        [
            ("seg_id", pa.int64()),
            ("base_doc", pa.int64()),
            ("num_docs", pa.int64()),
            ("doc_lens", pa.binary()),
            # per-field exact doc lengths — the fieldnorm store ("text"
            # itself uses the legacy doc_lens column): token counts for
            # tokenized fields, value counts for raw/typed fields
            *[
                (f"doc_lens_{name}", pa.binary())
                for name in config.lens_tracked_fields
            ],
            ("ts", pa.binary()),
            ("ts_min", pa.int64()),
            ("ts_max", pa.int64()),
            # generic fast i64/u64/date columns (config.extra_fast_fields),
            # plain int64 lists — parquet encodes them compactly (date =
            # epoch microseconds); f64 fast fields are float64 lists
            *[(f"ff_{name}", pa.list_(pa.int64())) for name in config.extra_fast_fields],
            *[
                (f"ff_{name}", pa.list_(pa.float64()))
                for name in config.extra_fast_float_fields
            ],
        ]
    )
    return docs, postings, fastfields


def _termstats_schema():
    import pyarrow as pa

    return pa.schema(
        [
            ("bucket", pa.int32()),
            ("field", pa.string()),
            ("term", pa.string()),
            ("doc_freq", pa.int64()),
        ],
        # format-version stamp (split_metadata_version.rs analog for the
        # LSM deltas): readers key on column names/types — which parquet
        # evolves safely — so absence (rounds 1-2) reads fine; the stamp
        # lets a future breaking change detect old files instead of
        # misreading them
        metadata={b"qw_termstats_version": b"1"},
    )


def _atomic_write_table(table, final_path: str, row_group_size: int | None = None) -> int:
    """Write one parquet object through the storage layer (idempotent under
    task retry; a re-attempt rewrites identical content).  Local stores get
    temp-name + atomic-rename hygiene; object stores a direct PUT — safe
    either way because split files are only read once their split id is
    published (the catalog commit is the publish point).  Returns bytes.

    ``row_group_size`` matters for the query path: postings files are sorted
    by (bucket, field, term), so small row groups give the scan real min/max
    pruning on `bucket` — one giant row group per split would make every
    bucket's min/max span the whole file and prune nothing."""
    return storage_for(final_path).write_table(table, final_path, row_group_size)


class _SplitAccumulator:
    """In-task state for one split: chunk-encodes docs as they stream in,
    merges per-term chunk blobs and writes the split's docs / postings /
    fastfields parquet at split end.  Splits no bigger than one chunk (the
    common case; bench splits are 5-20k docs) take a single whole-split pass
    where every term is single-entry — zero merge work."""

    def __init__(
        self,
        split_id: str,
        config: IndexConfig,
        paths: dict,
        chunk_docs: int,
        pos_chunk_bytes: int | None = None,
        posbm_min_total_tf: int | None = None,
        bm_chunk_bytes: int | None = None,
    ):
        self.split_id = split_id
        self.config = config
        self.paths = paths
        self.pos_chunk_bytes = (
            pos_chunk_bytes if pos_chunk_bytes is not None else _pos_chunk_bytes()
        )
        self.posbm_min_total_tf = (
            posbm_min_total_tf
            if posbm_min_total_tf is not None
            else _posbm_min_total_tf()
        )
        self.bm_chunk_bytes = (
            bm_chunk_bytes if bm_chunk_bytes is not None else _bm_chunk_bytes()
        )
        self.doc_cols = config.doc_cols()
        self.text_fields = [
            (m.name, m.record == "position", m.tokenizer, m.is_array)
            for m in config.indexed_text_fields
        ]
        # non-text indexed leaves: term = canonical value string (exact-value
        # match, the reference's numeric term queries)
        self.typed_fields = [
            (m.name, m.scalar_type, m.is_array) for m in config.indexed_typed_fields
        ]
        self.seg_target = config.segment_num_docs_target
        self.chunk_docs = chunk_docs
        self.acc: dict[tuple[str, str], list[tuple]] = {}
        # postings spill (shuffle-spill analog): when the resident encoded
        # payload crosses the threshold, _spill_acc flushes a sorted run to
        # executor-local scratch; finish() k-way merges the runs.  Bounds
        # per-task memory by the knob, not by split size.
        self.acc_payload = 0
        self.spill_bytes = max(config.builder_spill_mb, 0) << 20
        self._spills: list[str] = []
        self._spill_dir: str | None = None
        self.raw: list[pd.DataFrame] = []
        self.raw_docs = 0
        self.next_doc = 0  # dense per-split docID counter (rows arrive sorted)
        self.text_lens: list[np.ndarray] = []  # per-chunk per-doc token counts
        # every other indexed field keeps its own per-doc lengths (exact
        # fieldnorms: token counts, or value counts for raw/typed fields)
        self.tok_lens: dict[str, list[np.ndarray]] = {
            name: [] for name in config.lens_tracked_fields
        }
        self.ts: list[np.ndarray] = []
        self.extra_fast: dict[str, list[np.ndarray]] = {
            name: [] for name in config.extra_fast_fields
        }
        self.extra_fast_float: dict[str, list[np.ndarray]] = {
            name: [] for name in config.extra_fast_float_fields
        }
        by_name = config.fields
        self._fast_scalar = {
            name: by_name[name].scalar_type for name in config.extra_fast_fields
        }
        self._docs_writer = None
        self._docs_finish = None

    def add(self, pdf: pd.DataFrame) -> None:
        k = len(pdf)
        pdf = pdf.assign(
            doc_id=np.arange(self.next_doc, self.next_doc + k, dtype=np.int64)
        )
        self.next_doc += k
        self.raw.append(pdf)
        self.raw_docs += k
        if self.raw_docs >= self.chunk_docs:
            self._encode_chunk()

    def _split_file(self, table: str) -> str:
        d = os.path.join(self.paths[table], f"split_id={self.split_id}")
        return os.path.join(d, "part-0.parquet")

    def _add_entry(self, fname: str, term: str, entry: tuple) -> None:
        self.acc.setdefault((fname, term), []).append(entry)
        self.acc_payload += (
            len(entry[2])
            + (len(entry[3]) if entry[3] is not None else 0)
            + len(entry[4])
        )

    def _acc_run_pdf(self) -> pd.DataFrame:
        """Drain the accumulator into one sorted postings run (each term's
        chunk entries merged — the in-task Packager merge-to-one-segment
        analog, packager.rs:116-125).  Multi-chunk terms merge through the
        batched gap-space kernel (codec.merge_posting_groups) — chunks
        share the split's docID space, so offsets are zero and only each
        chunk seam's first gap re-anchors."""
        from ..functions.codec import merge_posting_groups, term_bucket

        n_buckets = self.config.term_merge_buckets
        rows = []
        multi_keys: list[tuple] = []
        blobs, poss, lenss, lasts, g_starts, g_ends = [], [], [], [], [], []
        for (f, t), entries in self.acc.items():
            if len(entries) == 1:
                rows.append((term_bucket(f, t, n_buckets), f, t) + entries[0])
                continue
            multi_keys.append((f, t))
            g_starts.append(len(blobs))
            for e in entries:
                blobs.append(e[2])
                poss.append(e[3])
                lenss.append(e[4])
                lasts.append(e[5][-1])
            g_ends.append(len(blobs))
        if multi_keys:
            tails = merge_posting_groups(
                blobs,
                poss,
                lenss,
                np.zeros(len(blobs), np.int64),
                np.asarray(lasts, np.int64),
                np.asarray(g_starts, np.int64),
                np.asarray(g_ends, np.int64),
            )
            rows.extend(
                (term_bucket(f, t, n_buckets), f, t) + tail
                for (f, t), tail in zip(multi_keys, tails)
            )
        self.acc, self.acc_payload = {}, 0
        pdf = pd.DataFrame(rows, columns=POSTINGS_COLUMNS)
        return pdf.sort_values(["bucket", "field", "term"], kind="mergesort")

    def _spill_acc(self) -> None:
        """Flush the resident accumulator as one sorted partial-postings run
        to executor-local scratch (Spark's shuffle-spill discipline: runs
        live on the task's local disk, never in index storage; finish()
        streams a k-way merge of the runs into the final postings file)."""
        import tempfile

        import pyarrow as pa
        import pyarrow.parquet as pq

        if self._spill_dir is None:
            self._spill_dir = tempfile.mkdtemp(prefix=f"qw-spill-{self.split_id}-")
        pdf = self._acc_run_pdf()
        # runs keep positions inline (bounded by the spill threshold);
        # chunking + bitmap derivation happen once, on the final merged
        # rows (flush_out)
        pdf["chunk_ord"] = 0
        pdf["pos_chunk_blocks"] = None
        pdf["pos_bm"] = None
        pdf["bm_chunk_span"] = None
        _, postings_schema, _ = _pa_schemas(self.config)
        path = os.path.join(self._spill_dir, f"run-{len(self._spills):05d}.parquet")
        pq.write_table(
            pa.Table.from_pandas(pdf, schema=postings_schema, preserve_index=False),
            path,
            compression="snappy",
            row_group_size=4096,
        )
        self._spills.append(path)

    def _stats_from_run(self, pdf: pd.DataFrame) -> tuple:
        """(num_terms, total_tokens, postings_payload, field_len_sums, tags)
        for one complete postings run."""
        tag_fields = set(self.config.tag_fields)
        field_len_sums = {
            f: int(s) for f, s in pdf.groupby("field")["total_tf"].sum().items()
        }
        tags: dict[str, list[str]] = {f_: [] for f_ in tag_fields}
        if tag_fields:
            for f, t in zip(pdf["field"], pdf["term"]):
                if f in tag_fields:
                    tags[f].append(t)
        return (
            len(pdf),
            int(pdf["total_tf"].sum()) if len(pdf) else 0,
            int(pdf["blob"].map(len).sum()) if len(pdf) else 0,
            field_len_sums,
            tags,
        )

    def _write_postings_resident(self) -> tuple:
        """No-spill path (the overwhelmingly common case — splits whose
        encoded postings fit under builder_spill_mb): one sorted run, one
        atomic write."""
        import pyarrow as pa

        _, postings_schema, _ = _pa_schemas(self.config)
        pdf = self._acc_run_pdf()
        pdf = _attach_pos_bitmaps(pdf, self.posbm_min_total_tf)
        pdf, cpdf = _split_chunked_positions(pdf, self.pos_chunk_bytes, self.bm_chunk_bytes)
        table = pa.Table.from_pandas(pdf, schema=postings_schema, preserve_index=False)
        _atomic_write_table(table, self._split_file("postings"), row_group_size=4096)
        if len(cpdf):
            # chunk rows in their OWN file with tiny row groups: each chunk
            # is ~QW_POS_CHUNK_BYTES, so rg=2 keeps a fetch to ~2 chunks
            _atomic_write_table(
                pa.Table.from_pandas(cpdf, schema=postings_schema, preserve_index=False),
                os.path.join(
                    os.path.dirname(self._split_file("postings")), "chunks-0.parquet"
                ),
                row_group_size=2,
            )
        # termstats sidecar: the term dictionary minus the payloads — raw
        # material for the publish-time global-df delta (a few KB; the rows
        # are already in memory, so this costs one tiny parquet write)
        _atomic_write_table(
            pa.Table.from_pandas(
                pdf[["bucket", "field", "term", "doc_freq"]],
                schema=_termstats_schema(),
                preserve_index=False,
            ),
            self._split_file("termstats"),
            row_group_size=4096,
        )
        return self._stats_from_run(pdf)

    def _write_postings_spilled(self) -> tuple:
        """Spill path: stream a k-way merge of the sorted on-disk runs plus
        the live accumulator straight into the final postings/termstats
        parquet writers.  Peak memory is one decoded row-group per run plus
        the pending merge batch (up to 2048 buffered term groups and their
        concatenated decoded gap/tf arrays) — bounded by the batch size,
        independent of split size.  Per-term
        entries arrive in run order == doc order (chunks encode in doc
        order, runs flush in chunk order), so merged doc_ids stay ascending
        exactly as in the resident path."""
        import heapq
        import shutil

        import pyarrow as pa
        import pyarrow.parquet as pq

        _, postings_schema, _ = _pa_schemas(self.config)
        live = self._acc_run_pdf()

        def run_rows(path: str, ordinal: int):
            pf = pq.ParquetFile(path)
            for batch in pf.iter_batches(batch_size=2048):
                bdf = batch.to_pandas()
                for row in bdf[POSTINGS_COLUMNS].itertuples(index=False, name=None):
                    yield (row[0], row[1], row[2], ordinal), row

        def live_rows(pdf: pd.DataFrame, ordinal: int):
            for row in pdf[POSTINGS_COLUMNS].itertuples(index=False, name=None):
                yield (row[0], row[1], row[2], ordinal), row

        streams = [run_rows(p, i) for i, p in enumerate(self._spills)]
        streams.append(live_rows(live, len(self._spills)))
        merged = heapq.merge(*streams, key=lambda kv: kv[0])

        pw, pfin = storage_for(self.paths["postings"]).parquet_writer(
            self._split_file("postings"), postings_schema
        )
        tw, tfin = storage_for(self.paths["termstats"]).parquet_writer(
            self._split_file("termstats"), _termstats_schema()
        )
        tag_fields = set(self.config.tag_fields)
        tags: dict[str, list[str]] = {f_: [] for f_ in tag_fields}
        field_len_sums: dict[str, int] = {}
        num_terms = total_tokens = postings_payload = 0
        out: list[tuple] = []

        cw = cfin = None  # lazy chunk-row writer (chunks-0.parquet)

        def flush_out():
            nonlocal out, cw, cfin
            if not out:
                return
            opdf = pd.DataFrame(out, columns=POSTINGS_COLUMNS)
            opdf = _attach_pos_bitmaps(opdf, self.posbm_min_total_tf)
            opdf, cpdf = _split_chunked_positions(opdf, self.pos_chunk_bytes, self.bm_chunk_bytes)
            pw.write_table(
                pa.Table.from_pandas(opdf, schema=postings_schema, preserve_index=False),
                row_group_size=4096,
            )
            if len(cpdf):
                if cw is None:
                    cw, cfin = storage_for(self.paths["postings"]).parquet_writer(
                        os.path.join(
                            os.path.dirname(self._split_file("postings")),
                            "chunks-0.parquet",
                        ),
                        postings_schema,
                    )
                cw.write_table(
                    pa.Table.from_pandas(
                        cpdf, schema=postings_schema, preserve_index=False
                    ),
                    row_group_size=2,
                )
            tw.write_table(
                pa.Table.from_pandas(
                    opdf[["bucket", "field", "term", "doc_freq"]],
                    schema=_termstats_schema(),
                    preserve_index=False,
                ),
                row_group_size=4096,
            )
            out = []

        from ..functions.codec import merge_posting_groups

        pending: list[list[tuple]] = []  # buffered term groups, merged order

        def flush_pending() -> None:
            """Merge the buffered groups — multi-run terms in ONE batched
            gap-space pass (codec.merge_posting_groups) instead of per-blob
            decodes per term — and emit rows in merged order."""
            nonlocal pending, num_terms, total_tokens, postings_payload
            multis = [g for g in pending if len(g) > 1]
            tails_iter = iter(())
            if multis:
                blobs, poss, lenss, lasts, g_starts, g_ends = [], [], [], [], [], []
                for g in multis:
                    g_starts.append(len(blobs))
                    for r in g:
                        blobs.append(r[5])
                        poss.append(r[6])
                        lenss.append(r[7])
                        lasts.append(r[8][-1])
                    g_ends.append(len(blobs))
                tails_iter = iter(
                    merge_posting_groups(
                        blobs,
                        poss,
                        lenss,
                        np.zeros(len(blobs), np.int64),
                        np.asarray(lasts, np.int64),
                        np.asarray(g_starts, np.int64),
                        np.asarray(g_ends, np.int64),
                    )
                )
            for g in pending:
                row = g[0] if len(g) == 1 else g[0][:3] + next(tails_iter)
                num_terms += 1
                total_tokens += int(row[4])
                postings_payload += len(row[5])
                field_len_sums[row[1]] = field_len_sums.get(row[1], 0) + int(row[4])
                if row[1] in tag_fields:
                    tags[row[1]].append(row[2])
                out.append(row)
            pending = []
            if len(out) >= 4096:
                flush_out()

        cur_key: tuple | None = None
        cur_rows: list[tuple] = []
        for key, row in merged:
            k3 = key[:3]
            if k3 != cur_key:
                if cur_rows:
                    pending.append(cur_rows)
                    if len(pending) >= 2048:
                        flush_pending()
                cur_key, cur_rows = k3, [row]
            else:
                cur_rows.append(row)
        if cur_rows:
            pending.append(cur_rows)
        flush_pending()
        flush_out()
        pw.close()
        pfin()
        if cw is not None:
            cw.close()
            cfin()
        tw.close()
        tfin()
        if self._spill_dir is not None:
            shutil.rmtree(self._spill_dir, ignore_errors=True)
        self._spills, self._spill_dir = [], None
        return num_terms, total_tokens, postings_payload, field_len_sums, tags

    def _write_docs_chunk(self, pdf: pd.DataFrame) -> None:
        """Stream the doc store out chunk by chunk (row-store analog;
        bounded memory regardless of split size)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        docs_schema, _, _ = _pa_schemas(self.config)
        table = pa.Table.from_pandas(
            pdf[self.doc_cols], schema=docs_schema, preserve_index=False
        )
        if self._docs_writer is None:
            self._docs_writer, self._docs_finish = storage_for(
                self.paths["docs"]
            ).parquet_writer(
                self._split_file("docs"), docs_schema, docs_plain_columns(self.config)
            )
        # ~8k-row groups: docs are doc_id-sorted, so the hit-fetch scan
        # prunes to a handful of row groups via doc_id min/max stats
        self._docs_writer.write_table(table, row_group_size=8192)

    def _encode_chunk(self) -> None:
        if not self.raw:
            return
        pdf = self.raw[0] if len(self.raw) == 1 else pd.concat(self.raw)
        self.raw, self.raw_docs = [], 0
        self._write_docs_chunk(pdf)
        doc_ids = pdf["doc_id"].to_numpy(dtype=np.int64)
        base_doc = int(doc_ids[0])
        span = int(doc_ids[-1]) - base_doc + 1
        chunk_text_lens = np.zeros(span, np.uint32)
        for fname, want_pos, tok, is_array in self.text_fields:
            col = pdf[fname]
            if tok in ("default", "stem_en"):
                if is_array:
                    # multi-valued text: each element tokenizes separately
                    # and elements are separated by ARRAY_POSITION_GAP
                    # positions (tantivy segment_writer POSITION_GAP = 2),
                    # so phrases never match across element boundaries;
                    # fieldnorms count real tokens only
                    flat, tokens_per_doc = _flatten_array_tokens(doc_ids, col)
                    lens_by_doc = np.zeros(span, np.uint32)
                    lens_by_doc[doc_ids - base_doc] = tokens_per_doc.astype(np.uint32)
                else:
                    token_lists = tokenize_series(col)
                    lens_by_doc = np.zeros(span, np.uint32)
                    lens_by_doc[doc_ids - base_doc] = token_lists.map(len).to_numpy(
                        np.uint32
                    )
                    flat = _flatten_tokens(doc_ids, token_lists)
                if fname == "text":
                    chunk_text_lens = lens_by_doc
                if flat is not None and tok == "stem_en":
                    # stem only the chunk's unique terms (positions and token
                    # counts are unchanged — stemming is 1:1 per token)
                    from ..functions.stemmer import stem_factorized

                    flat = (stem_factorized(flat[0]), flat[1], flat[2])
            elif is_array:  # raw multi-value: each element its own term
                value_lists = col.map(
                    lambda v: [x for x in v if x] if v is not None else []
                )
                lens_by_doc = np.zeros(span, np.uint32)
                lens_by_doc[doc_ids - base_doc] = value_lists.map(len).to_numpy(np.uint32)
                flat = _flatten_tokens(doc_ids, value_lists)
            else:  # raw: whole value = one term, field length 1, position 0
                vals = col.fillna("")
                mask = (vals != "").to_numpy()
                lens_by_doc = np.zeros(span, np.uint32)
                lens_by_doc[doc_ids - base_doc] = mask.astype(np.uint32)
                if not mask.any():
                    flat = None
                else:
                    flat = (
                        vals.to_numpy()[mask],
                        doc_ids[mask],
                        np.zeros(int(mask.sum()), np.int64),
                    )
            if fname in self.tok_lens:  # per-field fieldnorm store
                self.tok_lens[fname].append(lens_by_doc[doc_ids - base_doc])
            if flat is None:
                continue
            for term, *tail in _encode_flat_postings(
                *flat, lens_by_doc, base_doc, want_pos
            ):
                self._add_entry(fname, term, tuple(tail))
        # non-text indexed leaves: canonical value strings through the same
        # raw-term path (exact-value term queries)
        for fname, scalar, is_array in self.typed_fields:
            from ..functions.typed_terms import canonical_value

            if is_array:
                value_lists = pdf[fname].map(
                    lambda v, s=scalar: [canonical_value(s, x) for x in v]
                    if v is not None
                    else []
                )
            else:
                value_lists = pdf[fname].map(
                    lambda v, s=scalar: [] if pd.isna(v) else [canonical_value(s, v)]
                )
            lens_by_doc = np.zeros(span, np.uint32)
            lens_by_doc[doc_ids - base_doc] = value_lists.map(len).to_numpy(np.uint32)
            if fname in self.tok_lens:  # per-field fieldnorm store
                self.tok_lens[fname].append(lens_by_doc[doc_ids - base_doc])
            flat = _flatten_tokens(doc_ids, value_lists)
            if flat is None:
                continue
            for term, *tail in _encode_flat_postings(
                *flat, lens_by_doc, base_doc, False
            ):
                self._add_entry(fname, term, tuple(tail))
        # doc ids are dense per split, so chunk arrays concatenate aligned
        self.text_lens.append(chunk_text_lens[doc_ids - base_doc])
        self.ts.append(pdf["ts_epoch"].to_numpy(np.int64))
        for name, chunks in self.extra_fast.items():
            if self._fast_scalar.get(name) == "date":
                chunks.append(
                    pdf[name].to_numpy("datetime64[us]").astype(np.int64)
                )
            else:
                chunks.append(pdf[name].to_numpy(np.int64))
        for name, chunks in self.extra_fast_float.items():
            chunks.append(pdf[name].to_numpy(np.float64))
        if self.acc and self.acc_payload >= self.spill_bytes:
            self._spill_acc()

    def finish(self) -> tuple[str, str]:
        """Write postings + fastfields, close the doc store, return the
        (split_id, metadata-JSON) stats row."""
        import json

        import pyarrow as pa

        self._encode_chunk()
        if self._docs_writer is not None:
            self._docs_writer.close()
            self._docs_finish()
        _, _, ff_schema = _pa_schemas(self.config)
        cfg = self.config
        if self._spills:
            num_terms, total_tokens, postings_payload, field_len_sums, tags = (
                self._write_postings_spilled()
            )
        else:
            num_terms, total_tokens, postings_payload, field_len_sums, tags = (
                self._write_postings_resident()
            )

        # fastfields: one row per seg_target-doc segment (columnar-store
        # analog — the per-split scorer reads these small blobs instead of
        # the doc store; warmup analog, leaf.rs:139-171)
        text_lens = np.concatenate(self.text_lens) if self.text_lens else np.empty(0, np.uint32)
        tok_lens = {
            name: (np.concatenate(chunks) if chunks else np.empty(0, np.uint32))
            for name, chunks in self.tok_lens.items()
        }
        ts = np.concatenate(self.ts) if self.ts else np.empty(0, np.int64)
        extra = {
            name: (np.concatenate(chunks) if chunks else np.empty(0, np.int64))
            for name, chunks in self.extra_fast.items()
        }
        extra_f = {
            name: (np.concatenate(chunks) if chunks else np.empty(0, np.float64))
            for name, chunks in self.extra_fast_float.items()
        }
        n = len(ts)
        ff_rows = []
        if n and (int(ts.min()) < 0 or int(ts.max()) >= 1 << 32):
            # the ts fast-field blob bitpacks u32 epoch seconds (covers
            # 1970..2106); wrapping silently would corrupt time pruning —
            # fail the build instead (RequiredFastField-style hard error)
            raise ValueError(
                f"split {self.split_id}: ts_epoch outside [0, 2^32) "
                f"(min={int(ts.min())}, max={int(ts.max())}) — the u32 "
                "fast-field encoding covers 1970-2106"
            )
        for seg_id, base in enumerate(range(0, n, self.seg_target)):
            end = min(base + self.seg_target, n)
            seg_ts = ts[base:end]
            ff_rows.append(
                (
                    seg_id, base, end - base,
                    encode_u32_column(text_lens[base:end]),
                    *[encode_u32_column(tok_lens[name][base:end]) for name in self.tok_lens],
                    encode_u32_column(seg_ts.astype(np.uint32)),
                    int(seg_ts.min()), int(seg_ts.max()),
                    *[extra[name][base:end].tolist() for name in self.extra_fast],
                    *[extra_f[name][base:end].tolist() for name in self.extra_fast_float],
                )
            )
        ff_pdf = pd.DataFrame(
            ff_rows,
            columns=["seg_id", "base_doc", "num_docs", "doc_lens"]
            + [f"doc_lens_{name}" for name in self.tok_lens]
            + ["ts", "ts_min", "ts_max"]
            + [f"ff_{name}" for name in self.extra_fast]
            + [f"ff_{name}" for name in self.extra_fast_float],
        )
        _atomic_write_table(
            pa.Table.from_pandas(ff_pdf, schema=ff_schema, preserve_index=False),
            self._split_file("fastfields"),
        )

        # per-split tags (packager.rs:210-247: only if distinct count <= cap)
        tag_list: list[str] = []
        for f_, vals in tags.items():
            if vals and len(vals) <= cfg.max_values_per_tag_field:
                tag_list.extend(f"{f_}:{v}" for v in sorted(vals))
                tag_list.append(f"{f_}!")
        meta = {
            "num_docs": n,
            "ts_min": int(ts.min()) if n else None,
            "ts_max": int(ts.max()) if n else None,
            "tags": sorted(tag_list),
            # per-split [min, max] of every extra fast field — the split-
            # pruning statistics for request-level numeric range filters
            # (the generalization of ts_min/ts_max; Iceberg-style column
            # stats at split granularity)
            "field_ranges": (
                {
                    **{k: [int(v.min()), int(v.max())] for k, v in extra.items()},
                    **{k: [float(v.min()), float(v.max())] for k, v in extra_f.items()},
                }
                if n
                else {}
            ),
            "field_len_sums": field_len_sums,
            "num_terms": num_terms,
            "postings_bytes": postings_payload,
            "total_tokens": total_tokens,
            "segments": [
                {"seg_id": r[0], "num_docs": r[2]} for r in ff_rows
            ],
        }
        # single-read cold-open sidecar, written while this task still
        # holds the split (split.rs:103-180 bundle-finalize analog) — on
        # object stores only: a local open from a listing costs syscalls,
        # not round trips
        if not storage_for(self.paths["hotcache"]).is_local:
            from .hotcache import write_split_hotcache

            write_split_hotcache(self.paths, self.split_id)
        # per-split term-presence Bloom (built from the termstats sidecar
        # just written) — the driver's FST-probe analog for split pruning
        from .termbloom import write_split_termbloom

        write_split_termbloom(self.paths, self.split_id)
        return self.split_id, json.dumps(meta)


INVALID_SENTINEL = "__invalid__"
# dotted leaf names (nested objects) can't pass through mapInPandas's
# per-name column resolution — swapped for this sentinel around the task
DOT_SENTINEL = "\x1f"


def make_split_builder(
    config: IndexConfig, paths: dict, chunk_docs: int = CHUNK_DOCS
) -> Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]]:
    """mapInPandas function: split-partitioned doc-ordered batches → the
    split's docs/postings/fastfields parquet written in-task, one metadata
    row per split yielded as the Spark output.

    Invalid rows (null conv_id / turn_idx / ts — the RequiredFastField error
    class, default_mapper.rs:375-389) are classified, counted, and dropped
    HERE, where the rows already are: the taxonomy travels back in a
    sentinel stats row instead of costing a separate count job."""

    extra_required = tuple(config.extra_fast_fields) + tuple(
        config.extra_fast_float_fields
    )
    # captured DRIVER-side: Spark python workers inherit the JVM's
    # start-time env, so reading QW_POS_CHUNK_BYTES in-task would ignore
    # the driver's setting
    pos_chunk_bytes = _pos_chunk_bytes()
    posbm_min_total_tf = _posbm_min_total_tf()  # same env-freeze capture
    bm_chunk_bytes = _bm_chunk_bytes()

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import json

        inv = {"missing_conv_id": 0, "missing_turn_idx": 0, "missing_timestamp": 0}
        cur: _SplitAccumulator | None = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if any(DOT_SENTINEL in c for c in pdf.columns):
                pdf.columns = [c.replace(DOT_SENTINEL, ".") for c in pdf.columns]
            conv_null = pdf["conv_id"].isna()
            ti_null = pdf["turn_idx"].isna()
            ts_null = pdf["ts_epoch"].isna()
            bad = conv_null | ti_null | ts_null
            if bad.any():
                inv["missing_conv_id"] += int(conv_null.sum())
                inv["missing_turn_idx"] += int((~conv_null & ti_null).sum())
                inv["missing_timestamp"] += int((~conv_null & ~ti_null & ts_null).sum())
            # every declared fast field is implicitly required
            # (RequiredFastField, default_mapper.rs:375-389)
            for name in extra_required:
                f_null = pdf[name].isna() & ~bad
                if f_null.any():
                    k = f"missing_fast_field:{name}"
                    inv[k] = inv.get(k, 0) + int(f_null.sum())
                    bad = bad | f_null
            if bad.any():
                pdf = pdf[~bad]
                if len(pdf) == 0:
                    continue
            if pdf["turn_idx"].dtype != np.int32:  # nullable-int batches
                pdf = pdf.assign(
                    turn_idx=pdf["turn_idx"].astype(np.int32),
                    ts_epoch=pdf["ts_epoch"].astype(np.int64),
                )
            sids = pdf["split_id"].to_numpy()
            change = np.empty(len(sids), dtype=bool)
            change[0] = True
            change[1:] = sids[1:] != sids[:-1]
            starts = np.flatnonzero(change)
            ends = np.concatenate((starts[1:], [len(sids)]))
            for s, e in zip(starts, ends):
                sid = sids[s]
                if cur is not None and cur.split_id != sid:
                    yield pd.DataFrame([cur.finish()], columns=["split_id", "meta"])
                    cur = None
                if cur is None:
                    cur = _SplitAccumulator(
                        sid, config, paths, chunk_docs,
                        pos_chunk_bytes=pos_chunk_bytes,
                        posbm_min_total_tf=posbm_min_total_tf,
                        bm_chunk_bytes=bm_chunk_bytes,
                    )
                cur.add(pdf.iloc[s:e])
        if cur is not None:
            yield pd.DataFrame([cur.finish()], columns=["split_id", "meta"])
        if any(inv.values()):
            yield pd.DataFrame(
                [(INVALID_SENTINEL, json.dumps(inv))], columns=["split_id", "meta"]
            )

    return build


# ---------------------------------------------------------------------------
# the build driver
# ---------------------------------------------------------------------------


_SPARK_SCALAR = {
    "text": "string",
    "i64": "long",
    "u64": "long",
    "f64": "double",
    "date": "timestamp",
    "bytes": "binary",
}


def spark_field_type(m) -> str:
    base = _SPARK_SCALAR[m.scalar_type]
    return f"array<{base}>" if m.is_array else base


def _project(
    df: DataFrame, config: IndexConfig, passthrough: tuple[str, ...] = ()
) -> DataFrame:
    """doc_from_json analog, projection half: select/cast the schema columns
    (unknown input columns silently dropped, default_mapper.rs:582-595).
    Every schema field beyond the plumbing identity/time columns is
    projected typed (missing input columns become empty text / typed null).
    Validity is NOT filtered here — the build task classifies and counts
    invalid rows where the data already is (zero extra jobs)."""
    cols = set(df.columns)
    for required in ("conv_id", "turn_idx", "ts"):
        if required not in cols:
            raise ValueError(f"input is missing required column {required}")
    ts_type = dict(df.dtypes)["ts"]
    ts_epoch = (
        F.col("ts").cast("long") if ts_type in ("bigint", "int", "long") else F.unix_timestamp("ts")
    )
    extra_exprs = []
    for m in config.field_mappings:
        if m.name in ("conv_id", "turn_idx", "ts"):
            continue
        t = spark_field_type(m)
        if m.name not in cols:
            e = F.lit("") if t == "string" else F.lit(None).cast(t)
        elif t == "string":
            e = F.coalesce(F.col(f"`{m.name}`").cast(t), F.lit(""))
        else:
            e = F.col(f"`{m.name}`").cast(t)
        extra_exprs.append(e.alias(m.name))
    return df.select(
        "conv_id",
        F.col("turn_idx").cast("int").alias("turn_idx"),
        *extra_exprs,
        F.col("ts").cast("timestamp").alias("ts"),
        ts_epoch.alias("ts_epoch"),
        *[F.col(c) for c in passthrough],
    )


def _build_cols(config: IndexConfig) -> list[str]:
    """Columns the build task needs: the doc-store columns (minus the
    task-assigned doc_id) plus indexed-but-not-stored schema fields (they
    feed postings without landing in the doc store)."""
    cols = [c for c in config.doc_cols() if c != "doc_id"]
    have = set(cols)
    for m in config.field_mappings:
        if (m.is_indexed or m.fast) and m.name not in have and m.name not in ("conv_id", "turn_idx", "ts"):
            cols.append(m.name)
            have.add(m.name)
    return cols


def _valid_pred() -> F.Column:
    return (
        F.col("conv_id").isNotNull()
        & F.col("turn_idx").isNotNull()
        & F.col("ts_epoch").isNotNull()
    )


def project_and_validate(
    df: DataFrame, config: IndexConfig, passthrough: tuple[str, ...] = ()
) -> tuple[DataFrame, DataFrame]:
    """doc_from_json analog: returns (valid, invalid) DataFrames.

    Required-for-indexing columns (the fast/timestamp fields + the doc key)
    must be non-null (reference RequiredFastField error,
    default_mapper.rs:375-389); text may be null (field simply absent)."""
    base = _project(df, config, passthrough)
    pred = _valid_pred()
    return base.filter(pred), base.filter(~pred)


def _approx_input_rows(df: DataFrame) -> int | None:
    """Upper-bound row count from parquet footers (driver-side metadata
    reads, NO Spark job) — used only to size n_splits, so an overestimate
    merely yields a few empty splits (checkpointed as built:empty).  Returns
    None for non-parquet-backed frames (tests' createDataFrame) — the caller
    falls back to one count() job."""
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files or not all(f.split("?")[0].endswith(".parquet") for f in files):
        return None
    import pyarrow.parquet as pq

    total = 0
    for f in files:
        local = f[len("file:"):] if f.startswith("file:") else f
        if not os.path.exists(local):
            return None
        total += pq.ParquetFile(local).metadata.num_rows
    return total


def _spark_hash_int(k: np.ndarray) -> np.ndarray:
    """Spark's ``hash`` of an int column, vectorized: Murmur3_x86_32
    ``hashInt(k, seed=42)`` (the function ``repartition(p, col)`` applies
    before ``pmod``), as int32.  uint32 array arithmetic wraps like Java's."""

    def rotl(x, r):
        return (x << np.uint32(r)) | (x >> np.uint32(32 - r))

    k1 = np.asarray(k, np.int32).view(np.uint32) * np.uint32(0xCC9E2D51)
    k1 = rotl(k1, 15) * np.uint32(0x1B873593)
    h = rotl(np.uint32(42) ^ k1, 13) * np.uint32(5) + np.uint32(0xE6546B64)
    h ^= np.uint32(4)  # fmix: the input length in bytes
    h ^= h >> np.uint32(16)
    h *= np.uint32(0x85EBCA6B)
    h ^= h >> np.uint32(13)
    h *= np.uint32(0xC2B2AE35)
    h ^= h >> np.uint32(16)
    return h.view(np.int32)


def _slot_keys(p: int) -> list[int]:
    """The smallest integers k_0..k_{p-1} with ``pmod(hash(k_i), p) == i``,
    computed driver-side with Spark's own int hash (_spark_hash_int), so
    repartitioning on such a key places slot i's rows in partition i.  This
    makes split→partition an IDENTITY: exactly one split per task, no
    balls-in-bins stacking (hash co-location was measured straggler-bound:
    a partition that draws 3 splits takes 3x the median and owns the stage
    tail)."""
    out = np.full(p, -1, np.int64)
    start = 0
    while (out < 0).any():
        k = np.arange(start, start + 30 * p, dtype=np.int64)
        slots, first = np.unique(
            _spark_hash_int(k).astype(np.int64) % p, return_index=True
        )
        new = out[slots] < 0
        out[slots[new]] = k[first[new]]
        start += 30 * p
    return out.tolist()


def _split_sort_cols(config: IndexConfig) -> list:
    """In-split doc order: (conv_id, turn_idx) by default; when the config
    declares a sort_by field, that field leads (the sorted-index option,
    reference IndexSortByField, indexer.rs:315-321) with (conv_id, turn_idx)
    as the deterministic tiebreak.  A time-sorted index makes per-segment
    ts_min/ts_max tight, so time-filtered queries skip whole segments."""
    if config.sort_by_field is None:
        return ["conv_id", "turn_idx"]
    col = "ts_epoch" if config.sort_by_field == config.timestamp_field else config.sort_by_field
    lead = F.col(col).desc() if config.sort_by_order == "desc" else F.col(col).asc()
    return [lead, "conv_id", "turn_idx"]


def _partition_one_split_per_task(
    spark: SparkSession, df: DataFrame, wave_ords: list[int], config: IndexConfig
) -> DataFrame:
    """The ONE shuffle: route each split whole to its own partition, sorted
    by the in-split doc order (see _split_sort_cols).

    The dense per-split docID is then a per-partition running counter inside
    the build task — a pure function of data + split map + sort order, never
    of task scheduling ("stable docIDs across parallelism levels", SURVEY.md
    §7).  Note rows with a null conv_id still get a REAL split_ord
    (xxhash64(NULL) returns the seed, never null), so invalid rows travel
    with — and are counted by — that ord's wave; a truly null split_ord
    (possible only with a custom split_ord_expr) rides the wave containing
    ord 0 for counting and is dropped before numbering."""
    p = len(wave_ords)
    keys = _slot_keys(p)
    if p <= 1024:  # pure-expression lookup, no join
        mapping = F.create_map(
            *[F.lit(int(x)) for ord_, k in zip(wave_ords, keys) for x in (ord_, k)]
        )
        df = df.withColumn("part_key", mapping[F.col("split_ord")].cast("int"))
    else:  # broadcast map-side join for very large split counts
        map_df = spark.createDataFrame(
            [(int(o), int(k)) for o, k in zip(wave_ords, keys)],
            "split_ord int, part_key int",
        )
        df = df.join(F.broadcast(map_df), "split_ord", "left")
    # final tiebreak: a full-row hash.  The declared doc key (conv_id,
    # turn_idx) SHOULD be unique, but if an input carries duplicates their
    # relative order under sortWithinPartitions would follow shuffle-fetch
    # order — different across task attempts, breaking the retry-idempotence
    # argument of _atomic_write_table (a speculative re-attempt could rename
    # a docs file whose order disagrees with the surviving postings file).
    # Hashing every data column keeps the order a pure function of the data;
    # fully identical rows are order-indistinguishable by construction.
    tiebreak = F.xxhash64(*[F.col(f"`{c}`") for c in df.columns if c != "part_key"])
    return (
        df.repartition(p, "part_key")
        .sortWithinPartitions(*_split_sort_cols(config), tiebreak)
        .drop("part_key")
    )


def build_index(
    spark: SparkSession,
    source_df: DataFrame,
    config: IndexConfig,
    index_dir: str,
    build_id: str = "b0",
    n_splits: int | None = None,
    wave_size: int | None = None,
    failpoint: Callable[[int], None] | None = None,
    split_ord_expr: F.Column | None = None,
    publish: bool = True,
    passthrough_cols: tuple[str, ...] = (),
) -> BuildReport:
    """Build (or resume) an index from a transcript-shaped DataFrame.

    Resumable: split membership is a pure function of (data, build_id,
    n_splits); already-published splits (checkpoint entries) are skipped and
    their input rows are filtered out before any heavy work (FIXTURES.md F6).
    ``failpoint`` is invoked after each wave publish — the test-injection
    analog of the reference's fail_point!() sites
    (quickwit-indexing/failpoints/mod.rs:20-49).
    """
    cat = Catalog.create(index_dir, config.to_dict())
    # the doc-mapper config is FIXED at index-create time (reference:
    # "indexes with a fixed schema", docs/design/indexing.md:14) — a build
    # with a different config would silently mismatch what queries read
    # from the catalog
    stored = IndexConfig.from_dict(cat.config_dict).to_dict()
    if stored != config.to_dict():
        raise ValueError(
            f"index at {index_dir} was created with a different config; "
            "pass the stored config (IndexConfig.from_dict(cat.config_dict)) "
            "or build into a fresh index dir"
        )
    paths = _paths(index_dir)
    tm = _Timer()

    base = _project(source_df, config, passthrough_cols)

    builds = cat._state.setdefault("builds", {})
    if build_id in builds:
        n_splits = builds[build_id]["n_splits"]
    else:
        if n_splits is None:
            # upper bound from parquet footers (no job); count() fallback
            approx = _approx_input_rows(source_df)
            if approx is None:
                approx = base.count()
            n_splits = max(1, -(-approx // config.split_num_docs_target))
        ns = n_splits
        cat.update(
            lambda st: st.setdefault("builds", {}).setdefault(
                build_id, {"n_splits": ns, "total_docs": None}
            )
        )
    tm.lap("plan")

    checkpoint = cat.checkpoint()
    all_ords = list(range(n_splits))
    done_ords = [o for o in all_ords if _split_id(build_id, o) in checkpoint]
    todo_ords = [o for o in all_ords if o not in set(done_ords)]
    report = BuildReport(
        index_dir, build_id, n_splits, 0, 0,
        skipped_splits=[_split_id(build_id, o) for o in done_ords],
    )
    invalid_by_reason = {"missing_conv_id": 0, "missing_turn_idx": 0, "missing_timestamp": 0}
    if not todo_ords:
        build_row = cat._state.setdefault("builds", {}).get(build_id, {})
        report.total_docs = build_row.get("total_docs") or 0
        return report

    if split_ord_expr is None:
        split_ord_expr = F.pmod(F.xxhash64("conv_id"), F.lit(n_splits)).cast("int")
    base = base.withColumn("split_ord", split_ord_expr).drop(*passthrough_cols)

    wave_size = wave_size or len(todo_ords)
    waves = [todo_ords[i : i + wave_size] for i in range(0, len(todo_ords), wave_size)]
    build_fn_paths = paths

    for wave_idx, wave in enumerate(waves):
        wave_sids = [_split_id(build_id, o) for o in wave]
        _cleanup_split_dirs(index_dir, wave_sids)  # clear stale staged data
        if len(waves) > 1 or len(todo_ords) < n_splits:
            # keep null-split_ord (invalid) rows in the wave that builds ord
            # 0 so they are counted exactly once ACROSS invocations too: a
            # resumed build (ord 0 already checkpointed — wave publishes are
            # atomic, so its invalid count was reported by the invocation
            # that published it) must not re-count the same dropped docs,
            # or streaming restarts permanently inflate the error taxonomy
            cond = F.col("split_ord").isin(wave)
            if 0 in wave:
                cond = cond | F.col("split_ord").isNull()
            wdf = base.filter(cond)
        else:
            wdf = base

        # --- ONE job: shuffle → fused in-task build that assigns docIDs,
        # writes each split's docs/postings/fastfields parquet itself and
        # returns only a metadata row per split (IndexingStatistics analog)
        docs = (
            _partition_one_split_per_task(spark, wdf, wave, config)
            .withColumn(
                # format_string, NOT lpad: lpad TRUNCATES strings longer than
                # the pad width, so ord 100000 would collide with ord 10000 —
                # %05d matches the driver's _split_id f-string at any scale
                "split_id",
                F.format_string(build_id + "-%05d", F.col("split_ord")),
            )
            .select(*[F.col(f"`{c}`") for c in _build_cols(config)], "split_id")
        )
        # mapInPandas resolves df[col] per column name, which parses dots as
        # struct access — rename dotted leaves (nested-object fields) to a
        # sentinel; the build task restores them on each pandas batch
        docs = docs.toDF(*[c.replace(".", DOT_SENTINEL) for c in docs.columns])
        built = docs.mapInPandas(make_split_builder(config, build_fn_paths), STATS_SCHEMA)
        tm.lap("dataframe")  # plan analysis only: no Spark job before the collect
        stat_rows = built.collect()
        tm.lap("job")

        import json as _json

        delta = {}
        wave_metas = []
        for r in stat_rows:
            s = _json.loads(r["meta"])
            if r["split_id"] == INVALID_SENTINEL:
                for k, v in s.items():
                    invalid_by_reason[k] = invalid_by_reason.get(k, 0) + v
                continue
            wave_metas.append(
                SplitMetadata(
                    split_id=r["split_id"],
                    num_docs=s["num_docs"],
                    ts_min=s["ts_min"],
                    ts_max=s["ts_max"],
                    tags=s["tags"],
                    field_ranges=s.get("field_ranges", {}),
                    field_len_sums=s["field_len_sums"],
                    metrics={
                        "num_terms": s["num_terms"],
                        "postings_bytes": s["postings_bytes"],
                        "total_tokens": s["total_tokens"],
                        "segments": s["segments"],
                    },
                )
            )
            delta[r["split_id"]] = (None, f"built:{s['num_docs']:012d}")
        # one transaction for the whole wave, not one per split — at 10^4
        # splits the per-split read-modify-write was O(splits x catalog-size)
        cat.stage_splits(wave_metas)
        # splits hashed to a wave can be empty (no conv landed there):
        # still checkpoint them so resume treats them as done
        for sid in wave_sids:
            if sid not in delta:
                delta[sid] = (None, "built:empty")
        if publish:
            # global term-stats delta for this publish batch (see
            # _write_termstats_delta) — registered atomically with the
            # publish itself; staged-only builds (demux rewrites) skip it
            # because replace_splits is df-preserving
            sidecars = [
                os.path.join(paths["termstats"], f"split_id={r['split_id']}", "part-0.parquet")
                for r in stat_rows
                if r["split_id"] != INVALID_SENTINEL
            ]
            ts_delta = _write_termstats_delta(spark, index_dir, sidecars, build_id)
            cat.publish_splits(
                [s for s in delta if s in cat._state["splits"]],
                delta,
                termstats_delta=ts_delta,
            )
        report.published_splits.extend(sorted(delta))
        tm.lap("publish")
        if failpoint is not None:
            failpoint(wave_idx)

    # totals: Σ per-split num_docs over this build's splits (the metadata
    # the build tasks already computed — no extra job)
    in_build = set(report.published_splits) | set(report.skipped_splits)
    split_rows = cat._state["splits"]
    report.total_docs = sum(
        v["num_docs"] for k, v in split_rows.items() if k in in_build
    )
    report.invalid_docs = sum(invalid_by_reason.values())
    total = report.total_docs
    cat.update(
        lambda st: st.setdefault("builds", {}).setdefault(build_id, {}).__setitem__(
            "total_docs", total
        )
    )

    report.metrics = {
        "splits": {s.split_id: s.metrics for s in cat.splits([PUBLISHED])},
        "invalid_docs": report.invalid_docs,
        "invalid_by_reason": invalid_by_reason,
    }
    return report
