"""Split merge / compaction pipeline — the MergePlanner + merge policy +
MergeExecutor + GarbageCollector analog (SURVEY.md §2.4).

* **Policy** (StableMultitenantWithTimestampMergePolicy,
  quickwit-indexing/src/merge_policy.rs:415-493, scaled): young splits
  (num_docs < split_num_docs_target → immature, merge_policy.rs:241-250)
  are bucketed into 3×-log-scale size levels; a level with >= merge_factor
  splits yields a merge op of merge_factor..max_merge_factor splits whose
  doc sum stays under the target.  Pure driver-side Python over catalog
  rows — exactly like the reference's planner, which never touches split
  payloads.

* **Executor** (merge_executor.rs:271-335): docID remap is additive offsets
  in split order; postings of the inputs are re-grouped per (field, term)
  and re-encoded (k-way concat — input doc_id ranges are disjoint and
  offset-ordered, so no sort is needed); fast-field segments are re-based.
  A round is ONE Spark job of merge units, Python tasks reading and writing
  through the storage layer: a postings unit merges a term-bucket range of
  one output split (inputs are bucket-sorted, so a bucket filter prunes its
  reads), a docs/fastfields unit remaps ~8 MB of input.  No shuffle.

* **Publish**: new split staged then ``replace_splits`` (atomic swap,
  publisher.rs:109-127).  **GC** deletes MarkedForDeletion split dirs
  (garbage_collector.rs:56-146).
"""

from __future__ import annotations

import os
import time
import uuid
from dataclasses import dataclass
from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..config import IndexConfig
from ..functions.codec import merge_posting_groups
from ..storage import BoundedParquetWriter, row_bytes, storage_for
from .builder import (
    _bm_chunk_bytes,
    _pa_schemas,
    _paths,
    _pos_chunk_bytes,
    _posbm_min_total_tf,
    docs_plain_columns,
)
from .catalog import MARKED_FOR_DELETION, PUBLISHED, STAGED, Catalog, SplitMetadata

# scaled default of the reference's min_level_num_docs (merge_policy.rs:169)
MIN_LEVEL_NUM_DOCS = 100


@dataclass
class MergeOperation:
    split_ids: list[str]
    output_split_id: str


def size_level(num_docs: int, min_level: int = MIN_LEVEL_NUM_DOCS) -> int:
    """3×-log-scale level (merge_policy.rs:415-442): level 0 spans
    [0, min_level), level 1 [min_level, 3*min_level), etc."""
    level = 0
    bound = min_level
    while num_docs >= bound:
        level += 1
        bound *= 3
    return level


def build_merge_operations(
    splits: list[SplitMetadata], config: IndexConfig, min_level: int = MIN_LEVEL_NUM_DOCS
) -> list[MergeOperation]:
    """The planner: pure function catalog rows → merge ops.

    Maturity rule (is_mature_for_merge, merge_policy.rs:241-250): a split
    at/above the doc target, or one that has been DEMUXED, never merges
    again (re-merging a demuxed split would undo its tenant clustering).

    Candidate rule (merge_candidate_size, merge_policy.rs:445-493): within
    a level, splits accumulate until one more would exceed
    max_merge_factor or the accumulated docs already reach the target; a
    candidate is valid with >= merge_factor splits, OR with as few as TWO
    splits when their docs reach the target — so two half-target splits
    merge into one mature split instead of lingering forever
    (test_merge_policy_splits_entire_level_reach_merge_max_doc,
    test_merge_policy_last_merge_can_have_a_lower_merge_factor)."""
    young = [
        s
        for s in splits
        if s.num_docs < config.split_num_docs_target and s.demux_num_ops == 0
    ]
    by_level: dict[int, list[SplitMetadata]] = {}
    for s in young:
        by_level.setdefault(size_level(s.num_docs, min_level), []).append(s)
    ops = []
    for level in sorted(by_level):
        group = sorted(by_level[level], key=lambda s: (s.create_seq, s.split_id))
        while True:
            take: list[SplitMetadata] = []
            tot = 0
            for s in group:
                if len(take) >= config.max_merge_factor or (
                    take and tot >= config.split_num_docs_target
                ):
                    break  # one more split would be too big
                take.append(s)
                tot += s.num_docs
            if len(take) < 2 or (
                len(take) < config.merge_factor
                and tot < config.split_num_docs_target
            ):
                break  # too small — leave the remainder for a later round
            group = group[len(take):]
            ops.append(
                MergeOperation(
                    [s.split_id for s in take],
                    f"m-{uuid.uuid4().hex[:12]}",
                )
            )
    return ops


def _merge_bucket_group(pdf: pd.DataFrame, settings: "_MergeSettings") -> tuple:
    """Whole term-hash buckets → merged rows for ALL their (field, term)s,
    as (primary rows sorted by (bucket, field, term), chunk rows).

    The k-way merge runs in GAP SPACE, never materializing absolute doc
    ids: adding a docID offset to a whole posting list leaves every delta
    intact, so the merged gap stream is the concat of the input streams
    with only each non-first row's FIRST value re-anchored to
    (first_doc+off) - (prev_last_doc+prev_off).  Likewise position runs
    are delta-encoded per doc, so their streams concatenate verbatim.
    All decoding is batched across the rows via the segment decoders
    (codec._decode_segments): per-blob numpy calls were measured
    overhead-dominated at ~70 µs each on the typical df<=128 blob."""
    pdf = _reassemble_chunked_positions(pdf)
    pdf = pdf.sort_values(["bucket", "field", "term", "ord"], kind="mergesort")
    buckets = pdf["bucket"].to_numpy()
    fields = pdf["field"].to_numpy()
    terms = pdf["term"].to_numpy()
    last_docs = np.fromiter(
        (int(np.asarray(x)[-1]) if len(x) else -1 for x in pdf["block_last_doc"]), np.int64
    )

    n = len(pdf)
    change = np.empty(n, dtype=bool)
    change[0] = True
    change[1:] = (fields[1:] != fields[:-1]) | (terms[1:] != terms[:-1])
    g_starts = np.flatnonzero(change)
    g_ends = np.concatenate((g_starts[1:], [n]))

    tails = merge_posting_groups(
        pdf["blob"].tolist(), pdf["positions"].tolist(), pdf["lens"].tolist(),
        pdf["offset"].to_numpy().astype(np.int64), last_docs, g_starts, g_ends,
    )
    out_pdf = pd.DataFrame(
        [(int(buckets[s]), fields[s], terms[s]) + tail for s, tail in zip(g_starts, tails)],
        columns=[
            "bucket", "field", "term", "doc_freq", "total_tf", "blob",
            "positions", "lens", "block_last_doc", "block_max_tf", "block_min_len",
            "block_tf_cum",
        ],
    )
    # merged payloads are where positions get BIG — derive the merged rows'
    # position bitmaps (from the reassembled inline payload, so mixed-
    # vintage inputs need no per-input bitmap bookkeeping), then re-chunk
    # on the way out (chunk rows go to their own file)
    from .builder import _attach_pos_bitmaps, _split_chunked_positions

    out_pdf = _attach_pos_bitmaps(out_pdf, settings.posbm_min_total_tf)
    return _split_chunked_positions(out_pdf, settings.pos_chunk_bytes, settings.bm_chunk_bytes)


def _reassemble_chunked_positions(pdf: pd.DataFrame) -> pd.DataFrame:
    """Merge-input normalization: fold positions-CHUNK rows back into
    their primary row's inline payload (codec.reassemble_position_chunks)
    and drop them, so the gap-space merge kernel sees one row per
    (term, input split) exactly as before chunking existed."""
    if "chunk_ord" not in pdf.columns:
        return pdf
    co = pd.to_numeric(pdf["chunk_ord"], errors="coerce").fillna(0)
    if not (co != 0).any():
        return pdf
    from ..functions.codec import reassemble_position_chunks

    # bitmap chunk rows (chunk_ord < 0) are simply DROPPED by the co == 0
    # selection: merged bitmaps re-derive from the merged positions, so
    # input bitmap bytes are never reassembled (the scan already filters
    # them out; this guards direct callers)
    primary = pdf[co == 0].copy()
    chunks = pdf[co > 0]
    grouped: dict = {}
    for r in chunks.itertuples(index=False):
        grouped.setdefault((r.field, r.term, r.ord), []).append(
            (int(r.chunk_ord), r.positions)
        )
    pi = primary.columns.get_loc("positions")
    bi = primary.columns.get_loc("pos_chunk_blocks")
    for i in range(len(primary)):
        r = primary.iloc[i]
        cb = r["pos_chunk_blocks"]
        if cb is None or isinstance(cb, float):
            continue
        parts = sorted(grouped.get((r["field"], r["term"], r["ord"]), []))
        if len(parts) != len(cb):
            raise ValueError(
                f"positions chunks missing for {r['field']}:{r['term']} "
                f"(have {len(parts)}, expect {len(cb)})"
            )
        primary.iat[i, pi] = reassemble_position_chunks([b for _, b in parts])
        primary.iat[i, bi] = None
    return primary


def _merge_tags(inputs: list[SplitMetadata], max_values: int) -> list[str]:
    """Tags of a merged split.  A field's exhaustive marker ``f!`` survives
    only if EVERY input carried it — an input whose distinct count exceeded
    the cap published NO tags for the field, so the union of the others is
    not exhaustive and pruning on it would silently drop matching splits
    (a plain union of input tags had exactly that bug).  The per-split cap
    re-applies to the merged value union (packager.rs:210-247 semantics)."""
    fields = {t[:-1] for s in inputs for t in s.tags if t.endswith("!")}
    out: list[str] = []
    for f_ in fields:
        if all(f"{f_}!" in s.tags for s in inputs):
            vals = {t for s in inputs for t in s.tags if t.startswith(f"{f_}:")}
            if len(vals) <= max_values:
                out.extend(vals)
                out.append(f"{f_}!")
    return sorted(out)


# input bytes per docs/fastfields unit (enough rows to amortize a task, few
# enough that a big merge keeps its parallelism), and input payload per
# kernel call of a postings unit (whole buckets: bounds the working set)
_ROWS_UNIT_BYTES = 8 << 20
_KERNEL_BATCH_BYTES = 32 << 20
_POSTINGS_IN = ["bucket", "field", "term", "blob", "positions", "lens",
                "block_last_doc", "chunk_ord", "pos_chunk_blocks"]  # no pos_bm


@dataclass(frozen=True)
class _MergeSettings:
    """What a unit needs from the environment, captured DRIVER-side (worker
    env is frozen at JVM start; see builder._pos_chunk_bytes)."""

    paths: dict
    block_bytes: dict  # table -> row-group payload bound
    postings_schema: object
    pos_chunk_bytes: int
    posbm_min_total_tf: int
    bm_chunk_bytes: int
    docs_plain_columns: tuple  # docs columns written without a dictionary


def _merge_settings(index_dir: str, config: IndexConfig) -> _MergeSettings:
    # row groups bounded by payload BYTES: reads are point lookups (a few
    # terms / offset+k docs), except fastfields, read whole per split
    blk = int(os.environ.get("QW_MERGE_BLOCK_BYTES", str(512 << 10)))
    return _MergeSettings(
        _paths(index_dir), {"postings": blk, "docs": blk, "fastfields": 4 << 20},
        _pa_schemas(config)[1], _pos_chunk_bytes(), _posbm_min_total_tf(),
        _bm_chunk_bytes(), docs_plain_columns(config),
    )


@dataclass(frozen=True)
class _MergeUnit:
    """One task of the merge job, writing files of one output split.
    postings: ``inputs`` = (postings files, docID offset) per input split
    in op order, merged over buckets [lo, hi) (None = unbounded).  rows:
    ``inputs`` = (table, file, part, n_parts, docID offset) pieces in doc
    order; part k of n_parts is the k-th byte slice of the file's row
    groups."""

    kind: str
    out_split: str
    index: int
    inputs: tuple
    lo: int | None = None
    hi: int | None = None


def _plan_merge_units(
    storage, paths: dict, ops: list[MergeOperation], inputs_of: dict, n_buckets: int
) -> list[_MergeUnit]:
    """QW_MERGE_WRITE_FANOUT postings units per op — contiguous bucket
    ranges, so output files keep disjoint bucket ranges; parquet encode is
    single-threaded per writer, so one unit per split would serialize the
    rewrite — then docs/fastfields units of ~_ROWS_UNIT_BYTES of input.
    The heavy postings units go first; the small ones fill the tail."""
    fanout = max(1, int(os.environ.get("QW_MERGE_WRITE_FANOUT", "8")))
    postings, rows = [], []
    for op in ops:
        sids, out = op.split_ids, op.output_split_id
        offs = np.cumsum([0] + [s.num_docs for s in inputs_of[out]]).tolist()
        files = {
            (sid, t): storage.list_file_sizes(os.path.join(paths[t], f"split_id={sid}"))
            for sid in sids
            for t in ("docs", "postings", "fastfields")
        }
        inputs = tuple(
            (tuple(f for f, _ in files[(sid, "postings")]), off)
            for sid, off in zip(sids, offs)
        )
        for u in range(fanout):
            lo, hi = u * n_buckets // fanout, (u + 1) * n_buckets // fanout
            if u == 0 or lo < hi:  # (more units than buckets: skip empties)
                postings.append(_MergeUnit(
                    "postings", out, u, inputs, lo if u else None,
                    hi if u < fanout - 1 else None,
                ))
        pieces, acc = [], 0.0
        for t in ("docs", "fastfields"):
            for sid, off in zip(sids, offs):
                for f, size in files[(sid, t)]:
                    n_parts = max(1, -(-size // _ROWS_UNIT_BYTES))
                    for part in range(n_parts):
                        pieces.append((t, f, part, n_parts, off))
                        acc += size / n_parts
                        if acc >= _ROWS_UNIT_BYTES:
                            rows.append(_MergeUnit("rows", out, len(rows), tuple(pieces)))
                            pieces, acc = [], 0.0
        if pieces:
            rows.append(_MergeUnit("rows", out, len(rows), tuple(pieces)))
    return postings + rows


def _run_merge_unit(unit: _MergeUnit, settings: _MergeSettings) -> tuple[str, float]:
    """Task body of the merge job; returns (kind, seconds).  Output names
    are deterministic, so a retried task rewrites the same files (no
    rename anywhere — object-store safe)."""
    t0 = time.monotonic()
    (_merge_postings_unit if unit.kind == "postings" else _rewrite_rows_unit)(unit, settings)
    return unit.kind, time.monotonic() - t0


def _merge_postings_unit(unit: _MergeUnit, settings: _MergeSettings) -> None:
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.dataset as pads

    storage = storage_for(settings.paths["postings"])
    parts = []
    for ord_, (files, off) in enumerate(unit.inputs):
        if not files:
            continue
        ds = storage.dataset(list(files))
        names = ds.schema.names
        flt = pads.scalar(True)
        if unit.lo is not None:
            flt &= pads.field("bucket") >= unit.lo
        if unit.hi is not None:
            flt &= pads.field("bucket") < unit.hi
        if "chunk_ord" in names:
            # bitmap chunk rows (chunk_ord < 0) are never read: merged
            # bitmaps re-derive from the merged positions (mixed-vintage
            # safe), 10-20% of postings bytes on a hot-term-heavy corpus
            flt &= (pads.field("chunk_ord") >= 0) | pads.field("chunk_ord").is_null()
        t = ds.to_table(columns=[c for c in _POSTINGS_IN if c in names], filter=flt)
        if n := t.num_rows:
            t = t.append_column("offset", pa.array(np.full(n, off, np.int64)))
            parts.append(t.append_column("ord", pa.array(np.full(n, ord_, np.int32))))
    if not parts:
        return
    # older inputs lack the chunk columns: promotion fills them with nulls
    t = pa.concat_tables(parts, promote_options="default")
    t = t.take(pc.sort_indices(t, sort_keys=[("bucket", "ascending")]))
    buckets, payload = t.column("bucket").to_numpy(), np.cumsum(row_bytes(t))
    bounds = [0]
    for i in np.flatnonzero(buckets[1:] != buckets[:-1]) + 1:
        if payload[i - 1] - (payload[bounds[-1] - 1] if bounds[-1] else 0) >= _KERNEL_BATCH_BYTES:
            bounds.append(int(i))
    bounds.append(len(buckets))

    d = os.path.join(settings.paths["postings"], f"split_id={unit.out_split}")
    schema = settings.postings_schema
    # chunk rows in their OWN file: a term lookup never drags chunk bytes
    # along, and a doc-range leaf unit fetches only its chunks
    main, chunks = (
        BoundedParquetWriter(storage, os.path.join(d, f"{name}-{unit.index:05d}.parquet"),
                             schema, settings.block_bytes["postings"])
        for name in ("part", "chunks")
    )
    for a, b in zip(bounds[:-1], bounds[1:]):
        primary, chunk_rows = _merge_bucket_group(t.slice(a, b - a).to_pandas(), settings)
        main.write(pa.Table.from_pandas(primary, schema=schema, preserve_index=False))
        chunks.write(pa.Table.from_pandas(chunk_rows, schema=schema, preserve_index=False))
    main.close()
    chunks.close()


def _part_row_groups(md, part: int, n_parts: int) -> list[int]:
    """Row groups of byte slice ``part`` of ``n_parts`` of one file: those
    whose byte midpoint falls in it."""
    sizes = np.array([md.row_group(i).total_byte_size for i in range(md.num_row_groups)])
    mid = np.cumsum(sizes) - sizes / 2
    owner = np.minimum((mid / max(sizes.sum(), 1) * n_parts).astype(int), n_parts - 1)
    return np.flatnonzero(owner == part).tolist()


def _rewrite_rows_unit(unit: _MergeUnit, settings: _MergeSettings) -> None:
    """Add each input's docID offset to doc_id (docs) or base_doc
    (fastfields).  seg_id := the re-based base_doc: unique in the output at
    ANY merge generation and in doc order, as the reader's seg_id-sorted
    concat needs (an ord*1_000_000 rebase collided on merged inputs).  Each
    output file stays sorted on its key: a piece that would sort before the
    file's last row (interleaved files of an older merged input) or has
    another schema (mixed input vintages) starts the unit's next file."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    storage = storage_for(settings.paths["docs"])
    writers: dict = {}  # table -> (writer, file number, last key written)
    for table, f, part, n_parts, off in unit.inputs:
        key = "doc_id" if table == "docs" else "base_doc"
        with storage.fs.open_input_file(storage.fs_path(f)) as fh:
            pf = pq.ParquetFile(fh)
            rgs = _part_row_groups(pf.metadata, part, n_parts)
            for batch in pf.iter_batches(row_groups=rgs) if rgs else ():
                t = pa.Table.from_batches([batch])
                col = pc.add(t.column(key), pa.scalar(off, pa.int64()))
                t = t.set_column(t.schema.get_field_index(key), key, col)
                if table == "fastfields":
                    t = t.set_column(t.schema.get_field_index("seg_id"), "seg_id", col)
                w, n, last = writers.get(table, (None, -1, None))
                if w is None or not w.schema.equals(t.schema) or col[0].as_py() < last:
                    if w is not None:
                        w.close()
                    n += 1
                    w = BoundedParquetWriter(storage, os.path.join(
                        settings.paths[table], f"split_id={unit.out_split}",
                        f"part-{unit.index:05d}-{n:03d}.parquet",
                    ), t.schema, settings.block_bytes[table],
                        settings.docs_plain_columns if table == "docs" else ())
                w.write(t)
                writers[table] = (w, n, col[-1].as_py())
    for w, _, _ in writers.values():
        w.close()


def execute_merge_round(
    spark: SparkSession,
    index_dir: str,
    ops: list[MergeOperation],
    cat: Catalog | None = None,
    failpoint: Callable[[str], None] | None = None,
) -> list[SplitMetadata]:
    """MergeExecutor::process_merge analog, vectorized over a whole planner
    round: ops touch disjoint splits, so ALL of them run as ONE Spark job
    of merge units (_plan_merge_units) — no shuffle, no range-sampling job.
    Units write straight into the new split dirs through the storage
    layer; each op's replace then publishes atomically."""
    if not ops:
        return []
    cat = cat or Catalog(index_dir)
    config = IndexConfig.from_dict(cat.config_dict)
    paths = _paths(index_dir)
    metas = {s.split_id: s for s in cat.splits([PUBLISHED])}
    inputs_of = {op.output_split_id: [metas[sid] for sid in op.split_ids] for op in ops}
    storage = storage_for(index_dir)

    _timing = os.environ.get("QW_MERGE_TIMING") == "1"
    _t0 = time.monotonic()

    def _mark(stage: str) -> None:
        nonlocal _t0
        if _timing:
            now = time.monotonic()
            print(f"merge-stage {stage}: {now - _t0:.2f}s", flush=True)
            _t0 = now

    # output split ids are new and unpublished, so readers cannot see
    # partial data (the catalog replace below is the only commit point);
    # stale data of a crashed earlier attempt is prefix-deleted first
    for op in ops:
        for table in ("docs", "postings", "fastfields"):
            storage.delete_dir(os.path.join(paths[table], f"split_id={op.output_split_id}"))
    settings = _merge_settings(index_dir, config)
    units = _plan_merge_units(storage, paths, ops, inputs_of, config.term_merge_buckets)
    _mark("plan")
    done = (
        spark.sparkContext.parallelize(units, len(units))
        .map(lambda u: _run_merge_unit(u, settings))
        .collect()
    )
    for kind in ("postings", "rows") if _timing else ():
        secs = [s for k, s in done if k == kind]
        print(f"merge-stage {kind}-units: {len(secs)} tasks, {sum(secs):.2f}s "
              f"task time, max {max(secs, default=0):.2f}s", flush=True)
    _mark("units")

    # --- hotcache sidecars for the new splits (single-read cold open) -------
    # written BEFORE the failpoint/stage so a crash leaves the sidecar as
    # invisible garbage with the rest of the unpublished split dirs; a
    # small thread pool amortizes the per-part footer reads.  Skipped on
    # local filesystems, which open splits from a listing
    if not storage.is_local:
        from concurrent.futures import ThreadPoolExecutor

        from .hotcache import write_split_hotcache

        with ThreadPoolExecutor(max_workers=8) as pool:
            list(pool.map(lambda op: write_split_hotcache(paths, op.output_split_id), ops))
        _mark("hotcache")

    # term-presence Bloom for each new split: the fold-OR of its inputs'
    # blooms (termbloom.fold_or) — no rescan of the merged postings; an
    # input without one (pre-bloom vintage) just leaves the output
    # probe-less (never term-pruned, still exact)
    from .termbloom import derive_merged_termbloom

    for op in ops:
        derive_merged_termbloom(paths, list(op.split_ids), op.output_split_id)
    _mark("termbloom")

    # --- metadata + atomic replaces ------------------------------------------
    if failpoint is not None:  # 'before-merge-publish' injection point
        failpoint("before-publish")  # (merge_executor.rs:287,294 analog)
    produced = []
    for op in ops:
        inputs = inputs_of[op.output_split_id]
        len_sums: dict[str, int] = {}
        for s in inputs:
            for f_, v in s.field_len_sums.items():
                len_sums[f_] = len_sums.get(f_, 0) + v
        # field_ranges union: min of mins / max of maxes — only for fields
        # every input recorded (a legacy input without stats would make a
        # partial range claim pruning cannot trust)
        ranges = {
            f_: [min(s.field_ranges[f_][0] for s in inputs),
                 max(s.field_ranges[f_][1] for s in inputs)]
            for f_ in set.intersection(*(set(s.field_ranges) for s in inputs))
        }
        produced.append(
            SplitMetadata(
                split_id=op.output_split_id,
                num_docs=sum(s.num_docs for s in inputs),
                ts_min=min(s.ts_min for s in inputs),
                ts_max=max(s.ts_max for s in inputs),
                tags=_merge_tags(inputs, config.max_values_per_tag_field),
                num_merge_ops=max(s.num_merge_ops for s in inputs) + 1,
                field_ranges=ranges,
                field_len_sums=len_sums,
                metrics={"merged_from": op.split_ids},
            )
        )
    # ONE staging transaction for the round (same O(catalog) economics as
    # the builder's wave staging), then per-op atomic replaces — each swap
    # stays its own transaction so a crash mid-round leaves every op either
    # fully published or fully invisible (its output stays STAGED and GC's
    # stale-staged sweep reclaims it)
    cat.stage_splits(produced)
    for op in ops:
        cat.replace_splits([op.output_split_id], op.split_ids)
    _mark("publish")
    return produced


def run_merge_pipeline(spark: SparkSession, index_dir: str, max_rounds: int = 10) -> list[SplitMetadata]:
    """MergePlanner loop: plan → execute until no more candidates
    (indexing_pipeline.rs:202-350 analog).  Each round executes as ONE
    Spark job regardless of op count (execute_merge_round).  Ends by
    compacting the term-stats LSM — merges don't change global df, but a
    long-running ingest accumulates one delta per publish and this is the
    natural compaction point."""
    produced = []
    for _ in range(max_rounds):
        cat = Catalog(index_dir)
        config = IndexConfig.from_dict(cat.config_dict)
        ops = build_merge_operations(cat.splits([PUBLISHED]), config)
        if not ops:
            break
        produced.extend(execute_merge_round(spark, index_dir, ops, cat))
    compact_termstats_deltas(spark, index_dir)
    return produced


def compact_termstats_deltas(spark: SparkSession, index_dir: str) -> str | None:
    """Fold all committed term-stats deltas into one (sum is associative;
    the LSM-compaction step).  Returns the new delta's relative path, or
    None if there was nothing to compact."""
    from .builder import _write_termstats_delta

    cat = Catalog(index_dir)
    ts = cat._state["termstats"]
    if not ts["complete"] or len(ts["deltas"]) <= 1:
        return None
    old = list(ts["deltas"])
    new_rel = _write_termstats_delta(
        spark, index_dir, [os.path.join(index_dir, d) for d in old], "compact"
    )
    if new_rel is None:
        return None
    storage = storage_for(index_dir)
    try:
        cat.compact_termstats(new_rel, old)
    except ValueError:
        # lost a concurrent-compaction race: the committed delta list moved
        # under us.  Compaction is opportunistic — drop our orphan output
        # and let the next round fold the winner's state instead.
        p = os.path.join(index_dir, new_rel)
        if storage.isdir(p):
            storage.delete_dir(p)
        elif storage.exists(p):
            storage.delete_file(p)
        return None
    for d in old:  # committed — the replaced files are garbage now
        p = os.path.join(index_dir, d)
        if storage.isdir(p):
            storage.delete_dir(p)
        else:
            storage.delete_file(p)
    return new_rel


def garbage_collect(
    index_dir: str,
    include_staged: bool = False,
    *,
    staged_grace_secs: float | None = None,
    deletion_grace_secs: float | None = None,
    dry_run: bool = False,
) -> list[str]:
    """Delete data of dangling splits + drop their catalog rows — the
    ``run_garbage_collect`` analog (garbage_collection.rs:76-146):

    1. Staged splits whose last state transition (``update_ts``) is older
       than ``staged_grace_secs`` are marked for deletion — a build that
       died between stage and publish leaves them, while a LIVE build's
       staged splits are younger than the grace period and survive
       (reference STAGED_GRACE_PERIOD = 24 h, garbage_collector.rs:36).
    2. MarkedForDeletion splits older than ``deletion_grace_secs`` have
       their data deleted and their catalog rows dropped (reference
       DELETION_GRACE_PERIOD = 2 min, garbage_collector.rs:43; our default
       is 0 — the rename-free publish protocol means a reader that opened
       a split before it was marked re-resolves from the catalog on error,
       so the read-after-mark window the reference guards is narrower here).
    3. ``dry_run`` returns the candidate split ids from both passes without
       mutating anything (garbage_collection.rs:100-115).

    ``include_staged=True`` is the legacy immediate-cleanup switch: it
    zeroes the staged grace period (only safe when no build is running).
    Defaults come from QW_GC_STAGED_GRACE_SECS (86400) and
    QW_GC_DELETION_GRACE_SECS (0)."""
    import time as _time

    cat = Catalog(index_dir)
    storage = storage_for(index_dir)
    if staged_grace_secs is None:
        staged_grace_secs = (
            0.0
            if include_staged
            else float(os.environ.get("QW_GC_STAGED_GRACE_SECS", "86400"))
        )
    if deletion_grace_secs is None:
        deletion_grace_secs = float(os.environ.get("QW_GC_DELETION_GRACE_SECS", "0"))
    now = _time.time()
    stale_staged = [
        s.split_id
        for s in cat.splits([STAGED])
        if now - s.update_ts >= staged_grace_secs
    ]
    if dry_run:
        return sorted(
            [s.split_id for s in cat.splits([MARKED_FOR_DELETION])] + stale_staged
        )
    if stale_staged:
        cat.mark_for_deletion(stale_staged)
        now = _time.time()  # the mark stamped update_ts; re-read the clock so
        # a 0 deletion grace sweeps them in this same pass, while a positive
        # grace defers them to the next pass (garbage_collection.rs:126-132)
    dead = [
        s.split_id
        for s in cat.splits([MARKED_FOR_DELETION])
        if now - s.update_ts >= deletion_grace_secs
    ]
    paths = _paths(index_dir)
    for sid in dead:
        for table in paths.values():
            storage.delete_dir(os.path.join(table, f"split_id={sid}"))
    cat.delete_splits(dead)
    _sweep_uncataloged_split_dirs(cat, storage, paths)
    # orphaned term-stats deltas: written but never committed (a publish or
    # compaction that died before its catalog commit)
    ddir = os.path.join(index_dir, "termstats_deltas")
    live = {os.path.basename(d) for d in cat._state["termstats"]["deltas"]}
    # a delta is a single file (driver-aggregated) or a directory of parts
    # (Spark-aggregated) — anything under ddir not named in the catalog is
    # an orphan from a crashed publish/compaction.  GRACE PERIOD: a publish
    # in flight writes its delta BEFORE its catalog commit, so a young
    # unreferenced file may belong to a concurrent writer — deleting it
    # would silently zero that batch's global doc_freq.  Only files older
    # than QW_GC_GRACE_SECS (default 600) are swept.
    grace = float(os.environ.get("QW_GC_GRACE_SECS", "600"))
    if storage.exists(ddir):
        import time as _time

        import pyarrow.fs as pafs

        now = _time.time()
        sel = pafs.FileSelector(storage.fs_path(ddir), allow_not_found=True)
        for i in storage.fs.get_file_info(sel):
            name = os.path.basename(i.path)
            if name in live:
                continue
            mtime = i.mtime.timestamp() if i.mtime is not None else 0.0
            if now - mtime < grace:
                continue
            if i.type == pafs.FileType.Directory:
                storage.delete_dir(os.path.join(ddir, name))
            elif i.type == pafs.FileType.File:
                storage.delete_file(os.path.join(ddir, name))
    return dead


def reset_index(index_dir: str) -> dict:
    """quickwit-core/src/index.rs:162-185 ``reset_index`` analog (the
    ``ingest --overwrite`` path, quickwit-cli/src/index.rs:646-648): mark
    EVERY split for deletion and delete its files, leaving the index
    config/sources in place.  Beyond the reference we also zero the source
    checkpoints and the term-stats LSM — an overwritten index that kept
    its checkpoint would resume-skip the re-ingested data, which is never
    what --overwrite means.  Single-administrator operation: like the
    reference, it assumes no concurrent build (run_index_checklist gates
    it there)."""
    cat = Catalog(index_dir)
    storage = storage_for(index_dir)
    all_ids = [
        s.split_id for s in cat.splits([STAGED, PUBLISHED, MARKED_FOR_DELETION])
    ]
    cat.mark_for_deletion(all_ids)
    # clear the catalog references FIRST, then delete the captured delta
    # files: the reverse order has a crash window where the catalog still
    # lists a deleted file and every subsequent query's global_term_stats
    # read fails.  This order only ever leaves orphan files, which GC
    # sweeps after the grace period.
    doomed_deltas = list(cat._state["termstats"]["deltas"])

    def clear(state):
        state["checkpoint"] = {}
        state["termstats"] = {"deltas": [], "complete": True}

    cat.update(clear)
    import pyarrow.fs as pafs

    for rel in doomed_deltas:
        p = os.path.join(index_dir, rel)
        if not storage.exists(p):
            continue
        if storage.info(p).type == pafs.FileType.Directory:
            storage.delete_dir(p)
        else:
            storage.delete_file(p)
    deleted = garbage_collect(index_dir, include_staged=True)
    return {"splits_reset": len(all_ids), "splits_deleted": len(deleted)}


def _sweep_uncataloged_split_dirs(cat: Catalog, storage, paths: dict) -> None:
    """Delete split data dirs with NO catalog row in any state: a merge /
    demux / build that crashed after writing data but before stage_split
    leaves them, and a retried round writes under FRESH ids, so no other
    code path ever reclaims them (rename-free publish makes partial writes
    invisible — GC is the designated sweeper, storage.py module doc).

    Same QW_GC_GRACE_SECS guard as the termstats orphans: an in-flight
    build/merge writes its split dirs BEFORE its stage/publish commit, so
    young uncataloged dirs may belong to a live writer.  (A crashed
    resumable build whose dirs are swept past the grace period simply
    rewrites them on resume — only PUBLISHED ords are checkpoint-skipped.)"""
    import time as _time

    import pyarrow.fs as pafs

    known = {
        s.split_id
        for s in cat.splits([STAGED, PUBLISHED, MARKED_FOR_DELETION])
    }
    grace = float(os.environ.get("QW_GC_GRACE_SECS", "600"))
    now = _time.time()
    for table in paths.values():
        if not storage.exists(table):
            continue
        sel = pafs.FileSelector(storage.fs_path(table), allow_not_found=True)
        for i in storage.fs.get_file_info(sel):
            name = os.path.basename(i.path.rstrip("/"))
            if i.type != pafs.FileType.Directory or not name.startswith("split_id="):
                continue
            if name[len("split_id="):] in known:
                continue
            mtime = i.mtime.timestamp() if i.mtime is not None else 0.0
            if now - mtime < grace:
                continue
            storage.delete_dir(os.path.join(table, name))


# ---------------------------------------------------------------------------
# demux: re-cluster k splits by a tenant-like field
# (MergeExecutor::process_demux analog, merge_executor.rs:337-487)
# ---------------------------------------------------------------------------


def demux_bin_packing(
    value_counts: list[tuple[str, int]], num_bins: int
) -> tuple[dict[str, int], list[int]]:
    """Next-fit bin packing of (demux value → doc count) into num_bins bins
    (reference ``demux_virtual_split``, merge_executor.rs:651-772): values are
    processed in sorted order and a bin is closed once it reaches the
    back-propagated target floor total/num_bins, guaranteeing every bin gets
    docs and sizes stay within one value's worth of the target.

    Returns (value → bin index, per-bin doc counts)."""
    total = sum(c for _, c in value_counts)
    target = -(-total // num_bins)  # ceil(total / num_bins)
    assignment: dict[str, int] = {}
    bin_docs = [0] * num_bins
    b = 0
    for value, count in sorted(value_counts):
        if bin_docs[b] > 0 and bin_docs[b] + count > target and b < num_bins - 1:
            b += 1
        assignment[value] = b
        bin_docs[b] += count
    return assignment, bin_docs


def execute_demux(
    spark: SparkSession,
    index_dir: str,
    split_ids: list[str],
    demux_field: str,
    num_outputs: int | None = None,
) -> list[SplitMetadata]:
    """Re-partition k splits into ~k splits clustered by ``demux_field``
    (tenant locality for multitenant query pruning).

    Spark-native shape: per-value doc counts come from one aggregate over the
    inputs' doc store (the fast-field scan of merge_executor.rs:360-374);
    next-fit bin packing runs in the driver; the rewrite itself REUSES the
    two-phase build pipeline with ``split_ord = bin(demux value)`` instead of
    the hash assignment, built staged-only and atomically swapped in with
    ``replace_splits`` (publisher.rs:109-127) so readers never see inputs and
    outputs together."""
    from .builder import build_index  # local import to avoid cycle

    cat = Catalog(index_dir)
    config = IndexConfig.from_dict(cat.config_dict)
    if demux_field not in config.fields:
        raise ValueError(f"demux field {demux_field!r} not in schema")
    # demux REBUILDS splits from the doc store: an indexed-but-unstored
    # field has no source column there, so its postings would silently
    # vanish from the outputs — refuse instead
    unstored = [
        name
        for name, m in config.fields.items()
        if getattr(m, "is_indexed", False) and not getattr(m, "stored", True)
    ]
    if unstored:
        raise ValueError(
            f"demux rebuilds from stored fields only; indexed-but-unstored "
            f"fields would lose their postings: {unstored}"
        )
    paths = _paths(index_dir)
    storage = storage_for(index_dir)
    dirs = [
        storage.spark_url(os.path.join(paths["docs"], f"split_id={sid}"))
        for sid in split_ids
    ]
    docs = spark.read.option("basePath", storage.spark_url(paths["docs"])).parquet(*dirs)

    # the demux value must be conversation-constant (doc ids are dense per
    # split in (conv_id, turn_idx) order): a conversation's value is its
    # first turn's value (min_by turn_idx)
    conv_vals = docs.groupBy("conv_id").agg(
        F.coalesce(
            F.min_by(F.col(f"`{demux_field}`"), F.col("turn_idx")).cast("string"),
            F.lit(""),
        ).alias("__demux_val"),
        F.count("*").alias("n"),
    )
    counts = [
        (r["__demux_val"], int(r["n"]))
        for r in conv_vals.groupBy("__demux_val").agg(F.sum("n").alias("n")).collect()
    ]
    if num_outputs is None:
        num_outputs = len(split_ids)
    assignment, bin_docs = demux_bin_packing(counts, num_outputs)

    mapping = spark.createDataFrame(
        [(v, b) for v, b in assignment.items()], "__demux_val string, __demux_bin int"
    )
    source = (
        docs.drop("split_id", "doc_id")
        .join(conv_vals.select("conv_id", "__demux_val"), "conv_id")
        .join(F.broadcast(mapping), "__demux_val")
    )
    build_id = f"d-{uuid.uuid4().hex[:8]}"
    report = build_index(
        spark,
        source,
        config,
        index_dir,
        build_id=build_id,
        n_splits=num_outputs,
        split_ord_expr=F.col("__demux_bin"),
        publish=False,
        passthrough_cols=("__demux_bin",),
    )
    cat = Catalog(index_dir)  # reload: build staged new rows
    new_ids = [sid for sid in report.published_splits if sid in cat._state["splits"]]

    def record_lineage(state):  # SplitMetadata.demux analog
        ops = max(state["splits"][s]["num_merge_ops"] for s in split_ids) + 1
        dops = max(state["splits"][s].get("demux_num_ops", 0) for s in split_ids) + 1
        for sid in new_ids:
            state["splits"][sid]["num_merge_ops"] = ops
            # demux lineage makes the outputs merge-mature
            # (merge_policy.rs:247-249): see build_merge_operations
            state["splits"][sid]["demux_num_ops"] = dops

    cat.update(record_lineage)
    cat.replace_splits(new_ids, split_ids)
    return [s for s in cat.splits([PUBLISHED]) if s.split_id in set(new_ids)]
