"""Root search: leaf job planning (bins / doc-range units), the RDD
leaf runner, root merge + pagination + cursors, stored-field page fetch,
the public search()/multi_search()/search_df()/fetch_doc()/explain()
APIs, and multi-index addressing.

Split out of the monolithic ``executor.py`` in round 5 (no behavior
change).  See ``executor.py`` for the architecture overview.
"""

from __future__ import annotations

import os
import time
from dataclasses import replace as _dc_replace
from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..config import IndexConfig
from ..functions.bm25 import idf as bm25_idf
from ..functions.bm25 import tf_norm
from ..functions.codec import BLOCK, term_bucket
from ..index.catalog import Catalog, SplitMetadata
from .parser import (
    AllQuery,
    BoolQuery,
    ExistsQuery,
    PhraseQuery,
    TermQuery,
    collect_terms,
    parse_query,
    positive_exists_weights,
    positive_term_weights,
    positive_terms,
)
from .request import SearchRequest


from .plan import (
    HITS_SCHEMA,
    SearchResponse,
    SplitVanishedError,
    _fetch_ddl,
    expand_prefixes,
    fetch_cols,
    global_term_stats,
    open_index,
    prune_splits,
    resolve_sort,
    term_buckets,
)
from .cache import SPLIT_CACHE
from .split_io import (
    LAST_PHRASE_COUNTERS,
    _cached_fastfields,
    _fetch_doc_fields,
    _limit_arrow_threads,
    _phrase_ctr,
    _read_split_postings,
    prune_splits_by_terms,
    split_epoch,
)
from .leaf import (
    _SplitPostings,
    _validate_msm,
    make_split_scorer,
    select_strategy,
    sort_key_to_f64,
    ts_elidable_strategy,
)


# ---------------------------------------------------------------------------
# root search
# ---------------------------------------------------------------------------

# applicationIds of the SparkContexts whose leaf worker pool is started
_WARMED_APPS: set = set()


def _hold_leaf_worker(it):
    """Warm-up task body.  Unpickling it imports this module — the whole
    engine, zipguard included — in the worker; holding the worker briefly
    keeps the job's other tasks from reusing it, so every slot gets its own.
    The input is drained: a task that leaves it unread loses its worker."""
    for _ in it:
        pass
    time.sleep(0.1)
    return iter(())


def _warm_leaf_workers(sc) -> None:
    """Start one python worker per slot before a SparkContext's first leaf
    job.  Spark forks a worker whenever a task finds none idle, so without
    this the fork, the engine imports and the zip reads of a fresh worker
    (~0.7 s on a 4-vCPU local[4] host) land inside whichever query first
    fans out wider than every leaf job before it — e.g. the first query
    after a merge adds a split and with it a leaf bin.  Best effort: a
    cluster that runs fewer tasks at once just starts fewer workers."""
    if sc.applicationId in _WARMED_APPS:
        return
    _WARMED_APPS.add(sc.applicationId)
    n = sc.defaultParallelism
    sc.parallelize(range(n), n).mapPartitions(_hold_leaf_worker).collect()


def _leaf_hits_df(
    spark: SparkSession,
    index_dir: str,
    request: SearchRequest,
    stream_fields: tuple[str, ...] | None = None,
    stream_scored: bool = False,
) -> tuple[DataFrame, list[SplitMetadata], object, IndexConfig]:
    """Stream-mode leaf as a DataFrame (every matching doc, no top-k) —
    the data-scale path behind search_stream/export_stream.  Top-k search
    deliberately does NOT come through here: it is the separate RDD
    job of _topk_batch (see its docstring for why).  stream_fields adds
    one ``mf_<i> long`` column per resolved fast field; stream_scored
    fills the score column with full BM25 (field collapse)."""
    cat, config, ast, splits, terms, buckets, scorer, _gstats = _plan_leaf(
        spark,
        index_dir,
        request,
        "stream",
        stream_fields=stream_fields,
        stream_scored=stream_scored,
    )
    schema = HITS_SCHEMA
    if stream_fields:
        schema += "".join(f", mf_{i} long" for i in range(len(stream_fields)))
    if not splits:
        empty = spark.createDataFrame([], schema)
        return empty, splits, ast, config

    sids = [s.split_id for s in splits]
    runner = _make_leaf_runner(
        scorer, index_dir, terms, buckets, need_positions=_contains_phrase(ast)
    )
    # ZERO-shuffle, zero-scan leaf: ONE mapInPandas stage over a tiny
    # in-memory DataFrame of split ids (the SearchJob list, root.rs:280-284);
    # each task opens its splits' fastfields + needed postings itself with
    # pyarrow, exactly like a reference leaf opens a split (leaf.rs:94-114).
    # No cogroup, no exchange, no driver-side file listing — a query is one
    # Spark stage + a driver merge.
    sid_df = spark.createDataFrame([(s,) for s in sids], "split_id string")
    hits = sid_df.mapInPandas(runner, schema)
    return hits, splits, ast, config


class _Plan(NamedTuple):
    """A planned batch of requests (_plan_batch): what the top-k root, the
    stream leaf and explain() all run from."""

    cat: Catalog  # the ONE catalog snapshot the batch planned against
    config: IndexConfig
    reqs: list  # per request: checked + sort-resolved (topk) or as given (stream)
    asts: list  # per request: the expanded query AST
    splits: list  # per request: the splits its leaf runs
    counted: list  # per request: the splits catalog metadata answered
    pruned: list  # per request: (n pruned by time/tag/numeric, n by terms)
    terms: list[tuple[str, str]]  # the batch's terms, sorted
    buckets: list[int]  # their term buckets
    gstats: dict  # their global term stats


def _metadata_countable(ast, request: SearchRequest) -> bool:
    """A '*' count: every doc of a split wholly inside the time range
    counts, so catalog num_docs answers it without reading the split."""
    return (
        isinstance(ast, AllQuery)
        and request.max_hits == 0
        and request.start_offset == 0
        and not request.numeric_filters
    )


def _split_inside_range(s: SplitMetadata, request: SearchRequest) -> bool:
    """Does the split lie wholly inside the request's time range (every
    split does when there is none)?"""
    lo, hi = request.start_timestamp, request.end_timestamp
    if lo is None and hi is None:
        return True
    if s.ts_min is None or s.ts_max is None:
        return False
    return (lo is None or s.ts_min >= lo) and (hi is None or s.ts_max < hi)


def _plan_batch(
    spark: SparkSession, index_dir: str, requests: list[SearchRequest], mode: str
) -> _Plan:
    """The one query planner (the root's list_relevant_splits, lib.rs:
    129-149): ONE catalog snapshot; per request check (topk mode only —
    stream mode keeps the request as given), parse, time/tag/numeric
    pruning and term-presence pruning; once for the batch, expand every
    prefix / fuzzy / wildcard / regex clause (one term-dictionary read)
    and look up the global stats of the union of the terms.

    Match-all count (topk mode): a '*' count's splits that lie wholly
    inside its time range (all of them when there is none) are answered
    from catalog metadata — zero split reads, zero Spark jobs; only
    time-range BOUNDARY splits stay for the leaf (the root-level twin of
    the reference's whole-segment timestamp skip, filters.rs:64-66).  At
    10^4 splits / 100 TB a total count costs one catalog read.  Both
    halves come from the same snapshot, so a concurrent merge commit can
    only make a boundary split vanish — which the leaf reports and the
    top-k root re-plans."""
    cat, config = open_index(spark, index_dir)
    if mode == "topk":
        requests = [_checked_request(r, config, cat) for r in requests]
    parsed = []
    for req in requests:
        parsed.append(parse_query(req.query, config, req.search_fields))
        _validate_msm(parsed[-1], req)
    asts = expand_prefixes(spark, index_dir, cat, parsed)
    terms: set[tuple[str, str]] = set().union(*map(collect_terms, asts))
    buckets = term_buckets(spark, terms, config.term_merge_buckets)
    gstats = global_term_stats(spark, index_dir, cat, terms, buckets)
    n_all = len(cat.splits())
    per_req, counted, pruned = [], [], []
    for req, ast in zip(requests, asts):
        splits = prune_splits(cat, config, ast, req)
        n_meta = n_all - len(splits)
        meta: list[SplitMetadata] = []
        if mode == "topk" and _metadata_countable(ast, req):
            meta = [s for s in splits if _split_inside_range(s, req)]
            splits = [s for s in splits if not _split_inside_range(s, req)]
        # per-query term-presence pruning — one query's rare term must not
        # drag every split of the batch into its scorer
        splits, n_terms = prune_splits_by_terms(index_dir, splits, ast, gstats)
        per_req.append(splits)
        counted.append(meta)
        pruned.append((n_meta, n_terms))
    return _Plan(
        cat, config, requests, asts, per_req, counted, pruned,
        sorted(terms), buckets, gstats,
    )


def _plan_leaf(
    spark: SparkSession,
    index_dir: str,
    request: SearchRequest,
    mode: str,
    fetch_in_leaf: bool = True,
    stream_fields: tuple[str, ...] | None = None,
    stream_scored: bool = False,
):
    """One request's plan (a batch of one) and its scorer."""
    plan = _plan_batch(spark, index_dir, [request], mode)
    [req], [ast], [splits] = plan.reqs, plan.asts, plan.splits
    scorer = make_split_scorer(
        plan.config,
        plan.gstats,
        ast,
        req,
        mode,
        index_dir if fetch_in_leaf else None,
        stream_fields=stream_fields,
        stream_scored=stream_scored,
        source_dir=index_dir,  # chunked position payloads resolve their split
    )
    return plan.cat, plan.config, ast, splits, plan.terms, plan.buckets, scorer, plan.gstats


def _leaf_placement(plan: _Plan) -> tuple[list[SplitMetadata], float, bool]:
    """Where a planned top-k batch's leaf runs: the union of its requests'
    splits, the estimated decoded rows per split (the per-split work is
    the SUM over the batch's queries) and whether that runs in-process
    (_leaf_runs_in_process) — shared by _topk_batch and explain()."""
    splits = list({s.split_id: s for ss in plan.splits for s in ss}.values())
    est = _est_split_rows(plan.asts, plan.gstats, len(splits))
    return splits, est, not splits or _leaf_runs_in_process(len(splits), est)


def _leaf_runs_in_process(n_splits: int, est_rows_per_split: float) -> bool:
    """Run the top-k leaf in the driver instead of as a Spark job?  Tiny
    indexes and light queries: the single-node-search analog
    (lib.rs:153-198).  A Spark job has a floor: a trivial 1-4 task python
    job measured 0.14-0.21 s p50 on local[4] (4 vCPU; 0.32-0.45 s before
    zipguard stopped reused workers re-reading their zip archives per
    task); below the thresholds the per-split work (~5-10 ms warm) is
    cheaper done inline.  The row gate keeps a few-big-splits post-merge
    index (where one split's heavy-query work alone is ~100 ms) on the
    parallel path.  explain() reports the same decision."""
    return n_splits <= int(os.environ.get("QW_DRIVER_LEAF_MAX_SPLITS", "8")) and (
        est_rows_per_split * n_splits
        <= float(os.environ.get("QW_DRIVER_LEAF_MAX_ROWS", "50000"))
    )


def _score_unit(
    index_dir: str,
    sid: str,
    terms: list[tuple[str, str]],
    buckets: list[int],
    need_positions: bool,
    scorers: list,
    lo: int | None = None,
    hi: int | None = None,
) -> list | None:
    """One leaf unit — the body of every top-k and stream leaf task: open
    the split's fast fields, read ONE posting-record map of ``terms`` and
    run each scorer on it, so a term several scorers share decodes once
    per split (the reference opens a split once per leaf request and runs
    every collector on it, leaf.rs:94-114).  Returns the scorers' outputs
    in order, or None when the split is gone: deleted by a concurrent
    merge + GC before or during the read."""
    try:
        ff = _cached_fastfields(index_dir, sid)
        if ff is None:
            return None
        postings = _read_split_postings(
            index_dir, sid, terms, buckets, need_positions=need_positions
        )
        return [scorer((sid,), postings, ff, lo, hi) for scorer in scorers]
    except (FileNotFoundError, SplitVanishedError):
        return None


def _est_split_rows(asts: list, gstats, n_splits: int) -> float:
    """Expected decoded posting rows per split of a batch's queries — the
    leaf cost model that picks the task fan-out.  Phrase terms count 3x
    (their position payloads decode alongside docs+tfs)."""
    df_map = gstats["df"]
    total = 0.0

    def walk(node):
        nonlocal total
        if isinstance(node, TermQuery):
            total += df_map.get((node.field, node.term), 0)
        elif isinstance(node, PhraseQuery):
            for t in node.terms:
                total += 3.0 * df_map.get((node.field, t), 0)
        elif isinstance(node, (AllQuery, ExistsQuery)):
            total += gstats["num_docs"]  # matches many docs, zero decode
        else:
            for c in (*node.must, *node.should, *node.must_not):
                walk(c)

    for ast in asts:
        walk(ast)
    return total / max(n_splits, 1)


def _ranged_ok(asts: list, reqs: list[SearchRequest]) -> bool:
    """May the planner carve doc-range units for this batch?  Yes for
    position-verifying queries (phrase work parallelizes; positions are
    chunk-fetched per unit) and for batches whose every query runs a
    BLOCK-SLICED strategy (WAND / MaxScore decode only their range's
    blocks, so a unit re-reads just the small doc blob) — full-eval
    queries would duplicate an O(df) whole-row decode per unit instead
    (measured: AND 1.2 s -> 1.7 s when carved at 1M-doc splits).  The
    adaptive rule in _leaf_bins still carves ONLY to fill idle cores, so
    this matters exactly at the few-huge-splits shape (e.g. 2x5M docs on
    32 cores: single-term p50 2.75 s uncarved)."""
    if _contains_phrase(asts):
        return True
    return all(
        select_strategy(a, r) in ("block_max_wand", "maxscore_union")
        for a, r in zip(asts, reqs)
    )


def _contains_phrase(asts) -> bool:
    """Does any query of the batch verify positions?  Doc-range units pay
    off exactly there: position decode + adjacency verification dominates
    and parallelizes, while term-only queries are decode-bound and ranges
    would just duplicate the whole-row decode per range (measured: phrase
    p50 6.9 s -> 2.3 s on 1M-doc merged splits, AND 1.2 s -> 1.7 s)."""

    def walk(node) -> bool:
        if isinstance(node, PhraseQuery):
            return True
        if isinstance(node, BoolQuery):
            return any(walk(c) for c in (*node.must, *node.should, *node.must_not))
        return False

    return any(walk(a) for a in (asts if isinstance(asts, list) else [asts]))


def _leaf_bins(
    splits: list[SplitMetadata],
    default_parallelism: int,
    est_rows_per_split: float,
    ranged_ok: bool = False,
) -> list[list[tuple[str, int | None, int | None]]]:
    """Leaf task bins of (split_id, doc_lo, doc_hi) units — (sid, None,
    None) is a whole split.  Pack QW_LEAF_SPLITS_PER_TASK splits per task
    (default 4) for LIGHT queries, one bin per core for HEAVY ones; bins
    fill by longest-processing-time greedy on unit doc counts so big
    (merged) splits never stack into one task.

    HEAVY queries with ``ranged_ok`` (position-verifying, see
    _contains_phrase) additionally carve splits above QW_LEAF_RANGE_DOCS
    (default 512k; a 256k..1M sweep at the 2x5.1M-doc shape measured
    512k best for BOTH phrase and single-term — smaller units duplicate
    per-unit fixed work (whole-column memo warm-up, bitmap-chunk fetch)
    faster than they buy parallelism) into contiguous doc ranges — the sub-split parallelism
    analog of tantivy's segment-parallel search: a post-merge index of a
    few 1M-doc splits would otherwise cap a query at num_splits tasks no
    matter how many cores the cluster has.  Every query class slices its
    doc lists to the range before the expensive work (BM25/top-k/positions)
    and exact num_hits sums over disjoint ranges at the root.

    The reference plans 1 cost-unit per split but BATCHES all of a node's
    jobs into one gRPC leaf request (root.rs:280-284, cluster_client.rs) —
    the analog here is several splits per Spark task.  Measured on a
    4-vCPU local[4] host: each task past the first wave adds ~13-15 ms
    of wall time (~50-60 ms of one slot) to a trivial python job, while
    one split's light leaf work is ~5-10 ms, so 1-split tasks make small-k
    queries floor-bound (an earlier 32-slot measurement: p50 0.66 s at
    52 tasks vs 0.45 s at 13 tasks).  A heavy query inverts it — a
    phrase over 32 post-merge 32k-doc splits packed 4/task ran 1.76 s where
    single-split tasks run it at ~2x less — so above QW_LEAF_HEAVY_ROWS
    estimated decoded rows per split, parallelism wins.  The default
    (100k rows ~ 70-100 ms of per-split work at the measured ~0.7 us/row)
    is deliberately high: the RDD job dispatch floor grows with slice
    count (a trivial job on local[4]: 0.14-0.16 s at 1 slice, 0.32-0.36 s
    at 16, 0.55-0.64 s at 32; before zipguard 0.32-0.37 / 1.1-1.3 /
    2.2-2.5 s), so unpacking pays only when per-split work clearly
    dominates it."""
    per = int(os.environ.get("QW_LEAF_SPLITS_PER_TASK", "4"))
    heavy_rows = float(os.environ.get("QW_LEAF_HEAVY_ROWS", "100000"))
    range_docs = int(os.environ.get("QW_LEAF_RANGE_DOCS", "524288"))
    heavy = est_rows_per_split > heavy_rows
    # Adaptive carving: a doc-range unit pays the split's posting-ROW fetch
    # again (a hot phrase term's positions cell is MBs — every unit of the
    # split re-reads it), so carving only pays when it fills otherwise-IDLE
    # cores.  Spread the big splits' docs over the idle slots and never
    # carve finer than range_docs; with splits >= cores, don't carve at all
    # (measured on the 10M-turn soak's 29x390k merged layout: unconditional
    # 262k carving p50 2.9 s vs whole-split tasks 1.3 s — the carves only
    # duplicated 5 MB positions reads).
    eff_range = None
    if heavy and ranged_ok and range_docs > 0:
        big = [s for s in splits if s.num_docs > range_docs * 3 // 2]
        slots = default_parallelism - (len(splits) - len(big))
        if big and len(big) < slots:
            # carve FINER than one unit per idle core: with exactly
            # slots units any straggler (worker cold caches, CPU steal)
            # doubles the query's wall time, while the marginal cost of
            # extra units is now small — chunked positions made the
            # per-unit payload fetch candidate-gated, and the primary
            # posting rows are worker-cached.  Measured on the 2x5.1M
            # layout: factor sweep 1/2/3/4 → phrase min 4.16/3.32/3.15/
            # 2.90 s (best-of-5 each) — finer units keep winning until
            # the range_docs floor stops them.  The factor applies ONLY
            # when big splits fill at most half the cores (the genuinely
            # few-huge-splits shape): at 29 merged splits on 32 cores the
            # factor-4 carve re-fetched every unit's (now bitmap-laden)
            # primary rows for nothing — measured 2.03 vs 0.84 s uncarved
            # on the 10M soak's merged layout
            factor = (
                max(1, int(os.environ.get("QW_LEAF_CARVE_FACTOR", "4")))
                if len(big) * 2 <= slots
                else 1
            )
            eff_range = max(
                range_docs,
                -(-sum(s.num_docs for s in big) // (slots * factor)),
            )
    units: list[tuple[str, int | None, int | None, int]] = []
    for s in splits:
        if eff_range is not None and s.num_docs > eff_range * 3 // 2:
            n_ranges = -(-s.num_docs // eff_range)
            step = -(-s.num_docs // n_ranges)
            for r in range(n_ranges):
                u_lo, u_hi = r * step, min((r + 1) * step, s.num_docs)
                units.append((s.split_id, u_lo, u_hi, u_hi - u_lo))
        else:
            units.append((s.split_id, None, None, max(s.num_docs, 1)))
    n = len(units)
    if per > 0 and not heavy:
        n_bins = max(1, min(default_parallelism, -(-n // per)))
    else:
        n_bins = max(1, min(n, default_parallelism))
    bins: list[list[tuple[str, int | None, int | None]]] = [[] for _ in range(n_bins)]
    load = [0] * n_bins
    for sid, u_lo, u_hi, w in sorted(units, key=lambda u: (-u[3], u[0], u[1] or 0)):
        i = min(range(n_bins), key=load.__getitem__)
        bins[i].append((sid, u_lo, u_hi))
        load[i] += w
    return [b for b in bins if b]


# Synthetic split-id cursor bounds: "" sorts before every real split id and
# "￿" after every real one (split ids are ASCII hex/uuid strings), so a
# cursor carrying one expresses "all ties of this sort value" / "no tie of
# this sort value" without naming a live split.  multi_index_search mints
# them to project an index-qualified 4-tuple cursor onto the per-index
# 3-tuple leaf comparison; _checked_request skips the cursor-split liveness
# check for them (they never address a real split).
CURSOR_SPLIT_MIN = ""
CURSOR_SPLIT_MAX = "￿"


def _checked_request(
    request: SearchRequest, config: IndexConfig, cat: Catalog
) -> SearchRequest:
    """The user-input contract every top-k request passes before it runs:
    a valid search_after cursor, then the sort-resolved request with its
    stored_fields checked.  Returns the sort-resolved request."""
    after = request.search_after
    if after is not None:
        if len(after) == 4:
            raise ValueError(
                "index-qualified search_after cursors (value, index_id, "
                "split_id, doc_id) are for multi-index addressing — use "
                "multi_index_search, or drop the index coordinate"
            )
        if request.start_offset:
            raise ValueError("search_after and start_offset are mutually exclusive")
        if request.tiebreak != "reference":
            raise ValueError(
                "search_after requires tiebreak='reference' (the cursor's "
                "tie order is (split_id, doc_id))"
            )
        if after[1] not in (CURSOR_SPLIT_MIN, CURSOR_SPLIT_MAX) and after[1] not in {
            s.split_id for s in cat.splits()
        }:
            # a merge/demux replaced the cursor's split: its tie key is
            # meaningless against the new split ids — comparing anyway
            # would silently duplicate the boundary doc or skip tie-group
            # rows.  Loud failure; the client restarts pagination (ES
            # solves the same problem with point-in-time contexts).
            raise ValueError(
                f"stale search_after cursor: split {after[1]!r} "
                "no longer exists (replaced by a merge) — restart pagination"
            )
    request = resolve_sort(request, config)
    _validate_stored_fields(config, request)
    return request


def _topk_batch(
    spark: SparkSession, index_dir: str, requests: list[SearchRequest]
) -> tuple[IndexConfig, list[tuple[SearchRequest, list[dict], int]], _Plan]:
    """The top-k root: Q requests, ONE leaf pass.  search() runs it as a
    batch of one, multi_search() with the whole batch.

    Plan: _plan_batch, then one scorer per request.

    Leaf: ONE plain-RDD flatMap job over the _leaf_bins of the union of
    the requests' splits (or the same task body in-process, see
    _leaf_runs_in_process).  Deliberately an RDD, not a DataFrame: the
    job's input is the SearchJob list (root.rs:280-284) — a few hundred
    split ids — and its output is at most splits*(offset+k) already-
    top-k'd rows per request, both metadata-scale.  The per-unit work is
    genuinely imperative (_score_unit: open split, read postings, run
    the collectors), and the DataFrame/mapInPandas machinery adds a
    measured ~300 ms of fixed per-query cost (Catalyst analysis + Arrow
    python-runner setup) over ``sc.parallelize(...)`` at the same slice
    count.  Rows come back tagged with the request index.  Each task also
    returns its phrase-path counter deltas (take_phrase_counters).

    Root: per request, sum the per-unit counts (plus the hits catalog
    metadata answered), sort the rows (merge_fruits analog,
    root.rs:170-232) and page; then ONE stored-field fetch for every page
    of the batch.  Leaves return ids only — fetching their local top-k
    would read ~splits× more doc rows than the answer needs — except
    under the 'global_key' tiebreak, which sorts on doc fields and so
    fetches them in the leaf.  A split that vanishes (concurrent merge +
    GC, during the leaf or the page fetch) re-plans the whole batch once
    against the fresh catalog (retry/search.rs analog).

    Returns the index config, per request the sort-resolved request, its
    page rows and its exact hit count, and the batch's plan."""
    for attempt in (0, 1):
        try:
            plan = _plan_batch(spark, index_dir, requests, "topk")
            reqs, asts = plan.reqs, plan.asts
            scorers = [
                # index_dir turns on the in-leaf stored-field fetch;
                # source_dir lets chunked position payloads resolve
                make_split_scorer(
                    plan.config, plan.gstats, ast, req, "topk",
                    index_dir if req.tiebreak == "global_key" else None,
                    source_dir=index_dir,
                )
                for req, ast in zip(reqs, asts)
            ]
            # plain locals: the task closure below must not capture `plan`,
            # which would pickle the whole catalog into every leaf task
            wanted = [{s.split_id for s in splits} for splits in plan.splits]
            terms_sorted, buckets = plan.terms, plan.buckets
            need_pos = _contains_phrase(asts)  # column-pruned postings otherwise

            def run(it):
                _limit_arrow_threads()
                ctr = _phrase_ctr()  # live module dict (see _phrase_ctr docstring)
                base = dict(ctr)
                for sid, lo, hi in it:
                    qis = [qi for qi, w in enumerate(wanted) if sid in w]
                    outs = _score_unit(
                        index_dir, sid, terms_sorted, buckets, need_pos,
                        [scorers[qi] for qi in qis], lo, hi,
                    )
                    if outs is None:  # the root re-plans (SplitVanishedError)
                        yield {"split_id": sid, "__vanished__": True}
                        continue
                    for qi, out in zip(qis, outs):
                        if out is not None:
                            # __lo: the root sums hits per disjoint range
                            yield from out.records(__qi=qi, __lo=lo or 0)
                # one tiny record per task with the phrase counter DELTAS
                # it produced (zero for term queries — no record, no cost)
                delta = {k: ctr[k] - base[k] for k in ctr}
                if any(delta.values()):
                    yield {"__counters__": delta}

            splits, est, in_process = _leaf_placement(plan)
            if in_process:
                rows = list(run([(s.split_id, None, None) for s in splits]))
            else:
                sc = spark.sparkContext
                bins = _leaf_bins(
                    splits, sc.defaultParallelism, est, _ranged_ok(asts, reqs)
                )
                _warm_leaf_workers(sc)
                rows = sc.parallelize(bins, len(bins)).flatMap(run).collect()
            rows_of: list[list[dict]] = [[] for _ in reqs]
            counters: dict = {}
            gone = set()
            for r in rows:
                if "__qi" in r:
                    rows_of[r["__qi"]].append(r)
                elif "__counters__" in r:
                    for k, v in r["__counters__"].items():
                        counters[k] = counters.get(k, 0) + v
                else:
                    gone.add(r["split_id"])
            LAST_PHRASE_COUNTERS.clear()
            LAST_PHRASE_COUNTERS.update(counters)
            if gone:
                raise SplitVanishedError(f"splits vanished during query: {sorted(gone)}")
            answers = []
            for req, hit_rows, counted in zip(reqs, rows_of, plan.counted):
                # keyed per (split, range): sub-split units report
                # disjoint counts that SUM to the split's exact total
                per_unit = {(r["split_id"], r["__lo"]): r["split_num_hits"] for r in hit_rows}
                # count-only sentinel rows (doc_id=-1) carry split_num_hits
                # for splits that contributed no page candidates (max_hits
                # =0, or a search_after cursor past every row of the
                # split) — they are counts, never hits
                hit_rows = [r for r in hit_rows if r["doc_id"] >= 0]
                hit_rows.sort(key=_sort_key(req))
                page = hit_rows[req.start_offset : req.start_offset + req.max_hits]
                num_hits = sum(per_unit.values()) + sum(s.num_docs for s in counted)
                answers.append((req, page, int(num_hits)))
            # ONE grouped stored-field fetch for the batch: queries share
            # splits (and under load, hot docs), so a per-query fetch
            # re-decompresses the same row groups Q times — the measured
            # dominant serial driver cost of a batch
            by_fields: dict[tuple | None, list[dict]] = {}
            for req, page, _ in answers:
                if page and "conv_id" not in page[0]:  # not fetched in the leaf
                    by_fields.setdefault(req.stored_fields, []).extend(page)
            for only, union_page in by_fields.items():
                _fetch_page_fields(index_dir, union_page, only)
            return plan.config, answers, plan
        except SplitVanishedError:
            if attempt:
                raise
    raise AssertionError("unreachable")


def _page_hits(
    index_dir: str, config: IndexConfig, request: SearchRequest, page: list[dict], ast
) -> list[dict]:
    """A page's hits in their JSON shape, with their snippets (request is
    sort-resolved; ``ast`` is its expanded query, so "depl*" highlights
    as deploy)."""
    hits = [_hit_dict(config, r, request.stored_fields) for r in page]
    if request.sort_by_field in config.extra_fast_float_fields:
        for h in hits:  # wire carries monotonic int64 keys; hits show doubles
            h["sort_value"] = sort_key_to_f64(h["sort_value"])
    _maybe_add_source(index_dir, hits, page)
    if request.snippet_fields:
        from .snippet import attach_snippets

        attach_snippets(
            config, ast, hits, tuple(request.snippet_fields),
            max_chars=request.snippet_max_chars,
        )
    return hits


def multi_search(
    spark: SparkSession, index_dir: str, requests: list[SearchRequest]
) -> list[SearchResponse]:
    """Batched root search: Q queries in ONE leaf job (_topk_batch).

    The per-query fixed cost of a Spark job (0.14-0.21 s for a trivial
    1-4 task job on local[4]) dominates small-k search latency, so a
    query *stream* should amortize it: the driver expands the batch's
    prefix/fuzzy/wildcard/regex clauses in one term-dictionary read, and
    each leaf task opens a split once, builds ONE posting-record map of
    the union of all queries' terms (one pruned pyarrow scan for the cold
    ones) and runs every query's scorer against that map — a term several
    queries share decodes once per split.
    Throughput therefore approaches Q/(floor + sum(work)) instead of
    Q/(Q*floor + sum(work)); search() is a batch of one.  The reference
    has no batched endpoint — this is the Spark-native throughput path.

    score_explain attaches per request from the batch's own plan; a split
    that a merge + GC removes between the page read and that attach
    re-runs the whole batch once against the fresh catalog (the same
    retry/search.rs protocol _topk_batch applies to its leaf)."""
    t0 = time.monotonic()
    for attempt in (0, 1):
        config, answers, plan = _topk_batch(spark, index_dir, requests)
        out = []
        try:
            for (req, page, num_hits), ast in zip(answers, plan.asts):
                # expanded ast: "depl*" highlights and explains as deploy
                hits = _page_hits(index_dir, config, req, page, ast)
                if req.score_explain and hits:
                    _attach_score_explain(
                        index_dir, config, ast, plan.buckets, plan.gstats, hits
                    )
                out.append(
                    SearchResponse(num_hits, hits, int((time.monotonic() - t0) * 1e6))
                )
            return out
        except SplitVanishedError:
            if attempt:
                raise
    raise AssertionError("unreachable")


def _make_leaf_runner(
    scorer,
    index_dir: str,
    terms: list[tuple[str, str]],
    buckets: list[int],
    need_positions: bool = True,
):
    """mapInPandas wrapper: split-id batches → the top-k leaf's unit body
    (_score_unit) per whole split (hot splits stay in the OS page cache —
    the storage-cache analog, quickwit-storage/src/cache)."""

    def run(batches):
        _limit_arrow_threads()
        for pdf in batches:
            for sid in pdf["split_id"]:
                outs = _score_unit(index_dir, sid, terms, buckets, need_positions, [scorer])
                if outs is None:
                    # no silent data loss on a GC race: fail the export job
                    # (the reference fails queries on failed splits,
                    # root.rs:179-188); the caller can rerun it
                    raise SplitVanishedError(f"split vanished during export: {sid}")
                if outs[0] is not None:
                    yield outs[0].to_pandas()

    return run


def _df_cols_and_schema(config: IndexConfig) -> tuple[list[str], str]:
    """search_df's output columns: the fetched stored fields + hit identity
    and score, config-derived so generic schemas flow through."""
    cols = [c for c in fetch_cols(config) if c != "doc_id"]
    ddl = _fetch_ddl(config, include_doc_id=False)
    cols += ["split_id", "doc_id", "score"]
    ddl += ", split_id string, doc_id long, score double"
    return cols, ddl


def _json_safe(v):
    """JSON-representable value for hit dicts / _source: bytes → base64,
    timestamps → RFC-3339, numpy scalars/arrays → python."""
    import base64

    from ..functions.typed_terms import canonical_date

    if v is None:
        return None
    if isinstance(v, (bytes, bytearray)):
        return base64.b64encode(bytes(v)).decode("ascii")
    if isinstance(v, np.ndarray):
        return [_json_safe(x) for x in v.tolist()]
    if isinstance(v, (list, tuple)):
        return [_json_safe(x) for x in v]
    if isinstance(v, pd.Timestamp):
        return canonical_date(v.to_pydatetime())
    if hasattr(v, "item"):
        v = v.item()
    from datetime import datetime

    if isinstance(v, datetime):
        return canonical_date(v)
    if isinstance(v, float) and v != v:  # fetched-missing NaN
        return None
    return v


def _hit_dict(config: IndexConfig, r: dict, only: tuple | None = None) -> dict:
    """One hit's JSON shape: identity + score + the stored fields —
    every one by default, or only the request's stored_fields subset."""
    if only is not None:
        h = {
            "split_id": r["split_id"],
            "doc_id": _json_safe(r["doc_id"]),
            "score": _json_safe(r["score"]),
            "sort_value": _json_safe(r.get("sort_value")),
        }
        for c in fetch_cols(config):
            if c != "doc_id" and c in only:
                h[c] = _json_safe(r.get(c))
        return h
    h = {
        "conv_id": r.get("conv_id"),
        "turn_idx": _json_safe(r.get("turn_idx")),
        "split_id": r["split_id"],
        "doc_id": _json_safe(r["doc_id"]),
        "score": _json_safe(r["score"]),
        "sort_value": _json_safe(r.get("sort_value")),
    }
    for c in fetch_cols(config):
        if c not in ("doc_id", "conv_id", "turn_idx"):
            h[c] = _json_safe(r.get(c))
    return h


def _validate_stored_fields(config: IndexConfig, request: SearchRequest) -> None:
    """stored_fields must name stored columns; snippet fields must ride
    along (snippets read the stored text of the final page)."""
    if request.stored_fields is None:
        return
    cols = set(fetch_cols(config)) - {"doc_id"}
    unknown = sorted(set(request.stored_fields) - cols)
    if unknown:
        raise ValueError(
            f"storedFields not in the doc store: {', '.join(unknown)} "
            f"(stored columns: {', '.join(sorted(cols))})"
        )
    if request.snippet_fields:
        missing = sorted(set(request.snippet_fields) - set(request.stored_fields))
        if missing:
            raise ValueError(
                "snippetFields must be included in storedFields: "
                + ", ".join(missing)
            )


def _maybe_add_source(index_dir: str, hits: list[dict], page: list[dict]) -> None:
    """store_source (reference lib.rs:43-44, default_mapper.rs:428-435):
    attach the reserved `_source` field to every hit — the canonical JSON of
    the doc's stored fields with the timestamp back in RFC-3339 form (the
    NDJSON input shape).  Reconstructed at fetch time from the doc store, so
    it needs no extra storage; unlike the reference's verbatim copy it holds
    only schema-mapped fields (unknown input keys were dropped at projection
    either way, default_mapper.rs:582-595)."""
    import json
    from datetime import datetime, timezone

    try:
        _, config = open_index(None, index_dir)
    except FileNotFoundError:
        return
    if not config.store_source:
        return
    stored = [m.name for m in config.stored_extra_fields]
    for h, r in zip(hits, page):
        ts_epoch = r.get("ts_epoch")
        ts = (
            datetime.fromtimestamp(int(ts_epoch), tz=timezone.utc)
            .isoformat()
            .replace("+00:00", "Z")
            if ts_epoch is not None
            else None
        )
        src = {
            "conv_id": r.get("conv_id"),
            "turn_idx": int(r["turn_idx"]) if r.get("turn_idx") is not None else None,
            "ts": ts,
        }
        for c in stored:
            src[c] = _json_safe(r.get(c))
        h["_source"] = json.dumps(src, sort_keys=True)


def _sort_key(request: SearchRequest):
    """Python-side merge order over fetched rows — merge_fruits analog
    (reference order (Reverse(sort_value), split_id, doc_id), lib.rs:93-98)."""
    if request.sort_by_field is not None:
        sgn = 1 if request.sort_asc else -1
        return lambda r: (sgn * r["sort_value"], r["split_id"], r["doc_id"])
    if request.tiebreak == "global_key":
        return lambda r: (-r["score"], r["conv_id"], r["turn_idx"])
    return lambda r: (-r["score"], r["split_id"], r["doc_id"])


# Driver-side stored-doc rows ("doc" entries of SPLIT_CACHE; the
# reference's fetch-docs/doc-store cache, quickwit-storage/src/cache +
# fetch_docs.rs): under load the same hot page docs are re-fetched query
# after query, and each point fetch decompresses whole 8k-row groups to
# extract a handful of rows — the dominant serial driver cost of a batch
# (measured ~50% of a warm multi_search batch).


def _fetch_page_fields(
    index_dir: str, page: list[dict], only: tuple | None = None
) -> None:
    """Driver-side fetch_docs (fetch_docs.rs:97-164 analog): read the
    stored fields of ONLY the final page's rows — at most (offset+k) docs
    across at most that many splits, a few row-group-pruned pyarrow reads
    of metadata-scale size.  Mutates the page rows in place.

    ``only`` (request.stored_fields) prunes the fetched COLUMNS too — for
    wide documents the page fetch reads just the asked-for columns.  A
    store_source index keeps the full fetch (the reserved _source field
    reconstructs from every stored column).

    Hot rows come from the cache ("doc" entries); misses are grouped per
    split and fetched CONCURRENTLY (pyarrow releases the GIL, so under
    concurrent clients one query's page fetch overlaps another's driver
    work instead of serializing behind it)."""
    from concurrent.futures import ThreadPoolExecutor

    _, config = open_index(None, index_dir)
    cols = fetch_cols(config)
    if only is not None and not config.store_source:
        cols = ["doc_id"] + [c for c in cols if c != "doc_id" and c in only]
    colkey = tuple(cols)
    fills: dict[tuple[str, int], tuple] = {}
    by_split: dict[str, set[int]] = {}
    epochs: dict[str, object] = {}
    for r in page:
        sid, did = r["split_id"], int(r["doc_id"])
        if (sid, did) in fills:
            continue
        if sid not in epochs:
            epochs[sid] = split_epoch(index_dir, sid)
        hit = SPLIT_CACHE.get((index_dir, sid, epochs[sid], "doc", did, colkey))
        if hit is not None:
            fills[(sid, did)] = hit
        else:
            by_split.setdefault(sid, set()).add(did)

    def fetch_one(item):
        sid, ids = item  # a split GC raced us to raises SplitVanishedError
        return sid, _fetch_doc_fields(index_dir, sid, sorted(ids), cols)

    items = list(by_split.items())
    if len(items) > 1:
        with ThreadPoolExecutor(max_workers=min(8, len(items))) as pool:
            fetched = list(pool.map(fetch_one, items))
    else:
        fetched = [fetch_one(i) for i in items]
    did_i = cols.index("doc_id")
    for sid, pdf in fetched:
        for row in pdf.itertuples(index=False, name=None):
            did = int(row[did_i])
            fills[(sid, did)] = row
            SPLIT_CACHE.put(
                (index_dir, sid, epochs[sid], "doc", did, colkey),
                row,
                128 + sum(len(v) if isinstance(v, (str, bytes)) else 16 for v in row),
            )
    for r in page:
        row = fills.get((r["split_id"], int(r["doc_id"])))
        for i, c in enumerate(cols):
            if c != "doc_id":
                r[c] = row[i] if row is not None else None


def fetch_doc(
    spark: SparkSession | None, index_dir: str, split_id: str, doc_id: int
) -> dict | None:
    """Single-document GET by address (the ES ``GET /index/_doc/{id}``
    analog over our (split_id, doc_id) address space — every hit carries
    both, so clients can re-fetch any result later).  ONE row-group-pruned
    pyarrow read of that split's doc store, no Spark job; returns the
    stored fields (+ reconstructed ``_source`` on store_source indexes) or
    None when the split is not live (merged away / GC'd — addresses are
    valid for a split's lifetime, like ES point-in-time hits) or the
    doc_id is absent."""
    cat, config = open_index(spark, index_dir)
    if split_id not in {s.split_id for s in cat.splits()}:
        return None
    cols = fetch_cols(config)
    try:
        pdf = _fetch_doc_fields(index_dir, split_id, [int(doc_id)], cols)
    except (FileNotFoundError, SplitVanishedError):
        return None
    if not len(pdf):
        return None
    row = dict(zip(cols, next(pdf.itertuples(index=False, name=None))))
    out: dict = {"split_id": split_id, "doc_id": int(doc_id)}
    for c in cols:
        if c != "doc_id":
            out[c] = _json_safe(row[c])
    _maybe_add_source(index_dir, [out], [dict(out)])
    return out


def search_df(spark: SparkSession, index_dir: str, request: SearchRequest) -> DataFrame:
    """Full search as a DataFrame of hits joined back to the doc store:
    the config's stored columns plus (split_id, doc_id, score), globally
    ordered and offset/limited."""
    if request.stored_fields is not None:
        raise ValueError(
            "stored_fields is not supported on search_df (its DataFrame "
            "schema is the full stored-column set) — use search()"
        )
    _, config = open_index(spark, index_dir)
    if resolve_sort(request, config).sort_by_field in config.extra_fast_float_fields:
        raise ValueError(
            "f64 sort fields are not supported on search_df (its sort_value "
            "column is int64) — use search()"
        )
    cols, schema = _df_cols_and_schema(config)
    _, [(_, page, _)], _ = _topk_batch(spark, index_dir, [request])

    def py(v):
        if isinstance(v, np.ndarray):
            return v.tolist()
        if isinstance(v, pd.Timestamp):
            return v.to_pydatetime()
        return v.item() if hasattr(v, "item") else v

    data = [tuple(py(r[c]) for c in cols) for r in page]
    return spark.createDataFrame(data, schema)


def _attach_score_explain(
    index_dir: str, config: IndexConfig, ast, buckets: list[int], gstats: dict,
    hits: list[dict],
) -> None:
    """Per-hit BM25 breakdown (the ES per-hit ``explain`` analog, beyond-
    reference): for each page hit, list every matching positive term's
    (tf, doc_freq, idf, doc_len, avg_len, weight, contribution) and the
    reconstructed total.

    Driver-side and page-only — O(k·query_terms) postings probes against
    the worker-style caches, never a Spark job.  The reconstruction sums
    contributions in the SAME sorted-term order and with the SAME float
    association ((idf·tf_norm)·w) as the leaf's full evaluation — which
    WAND (post-scale) and MaxScore (sorted-term summation) also match — so
    ``score_detail["score"]`` equals the hit's reported BM25 score
    BIT-exactly regardless of which strategy produced it (the same
    invariant exact-score search_after cursors rely on).

    NOTE this deliberately mirrors score_split's per-term scoring body
    (make_split_scorer; field lengths come from the same FastFields
    decode): any change to the leaf's
    scoring math MUST be replicated here in the same float-op order —
    test_score_explain_bit_exact pins the equality across strategies and
    fails on drift.

    ``ast`` is the expanded query and ``buckets`` / ``gstats`` the term
    buckets and global stats the search itself planned with."""
    if isinstance(ast, AllQuery):
        for h in hits:
            h["score_detail"] = {"score": 1.0, "constant": True, "terms": []}
        return
    weights = positive_term_weights(ast)
    exists_w = positive_exists_weights(ast)
    terms_sorted = sorted(positive_terms(ast))
    terms = collect_terms(ast)
    by_split: dict[str, list[dict]] = {}
    for h in hits:
        by_split.setdefault(h["split_id"], []).append(h)
    for sid, split_hits in by_split.items():
        ff = _cached_fastfields(index_dir, sid)
        if ff is None:
            raise SplitVanishedError(f"split vanished during explain: {sid}")
        # tf/df probes only — score_explain never verifies positions
        postings = _SplitPostings(
            _read_split_postings(
                index_dir, sid, sorted(terms), buckets, need_positions=False
            ),
            None, None, source=(index_dir, sid),
        )
        field_lens = ff.lens  # the leaf's own fieldnorm decode (FastFields)
        docs = np.array(sorted({h["doc_id"] for h in split_hits}), np.int64)
        # per (field, term): tf of each page doc (0 = term absent)
        contribs: dict[int, list] = {int(d): [] for d in docs}
        totals: dict[int, float] = {int(d): 0.0 for d in docs}
        for field, term in terms_sorted:
            d, t = postings.candidates_only((field, term), docs)
            if len(d) == 0:
                continue
            d = d.astype(np.int64)
            # candidates_only returns whole overlapping blocks — restrict
            # to the page docs exactly like the leaf's scoring loop
            pos = np.searchsorted(docs, d)
            valid = docs[np.minimum(pos, len(docs) - 1)] == d
            d, t = d[valid], t[valid]
            if len(d) == 0:
                continue
            fl = field_lens(field)
            dl = fl[d] if fl is not None else np.ones(len(d), np.int64)
            avg = gstats["avg_len"].get(field, 1.0) or 1.0
            df = gstats["df"].get((field, term), 0)
            term_idf = bm25_idf(df, gstats["num_docs"])
            w = weights.get((field, term), 1.0)
            base = term_idf * tf_norm(t.astype(np.float64), dl, avg)
            contrib = base * w if w != 1.0 else base
            for j, doc in enumerate(d):
                doc = int(doc)
                totals[doc] += float(contrib[j])
                contribs[doc].append(
                    {
                        "field": field,
                        "term": term,
                        "tf": int(t[j]),
                        "doc_freq": int(df),
                        "idf": float(term_idf),
                        "doc_len": int(dl[j]),
                        "avg_len": float(avg),
                        "weight": float(w),
                        "contribution": float(contrib[j]),
                    }
                )
        for fname in sorted(exists_w):
            flx = field_lens(fname)
            if flx is None:
                continue
            for doc in (int(d) for d in docs):
                if flx[doc] > 0:
                    totals[doc] += exists_w[fname]
                    contribs[doc].append(
                        {
                            "field": fname,
                            "exists": True,
                            "weight": float(exists_w[fname]),
                            "contribution": float(exists_w[fname]),
                        }
                    )
        for h in split_hits:
            h["score_detail"] = {
                "score": totals[int(h["doc_id"])],
                "terms": contribs[int(h["doc_id"])],
            }


def search(
    spark: SparkSession, index_dir: str, request: SearchRequest
) -> SearchResponse:
    """single_node_search analog (lib.rs:153-198): returns collected hits +
    the total hit count (collector.rs:180-187) — a batch of one."""
    return multi_search(spark, index_dir, [request])[0]


def multi_index_search(
    spark: SparkSession, index_dirs: list[str], request: SearchRequest
) -> SearchResponse:
    """One request over SEVERAL indexes (the ES ``/a,b/_search`` multi-index
    addressing shape; beyond-reference — quickwit 0.2 is one index per
    request): each index runs its normal root search for the page's top
    offset+k, the driver merges the per-index pages in result order with
    the index id as the outermost tie key (split ids are only unique
    within one index), and num_hits sums the per-index exact counts.

    BM25 scores use each index's OWN collection stats (the ES
    query_then_fetch behavior — cross-index scores are comparable only to
    the extent the collections are); sort-by-fast-field merges on the raw
    values and is exact.  score_explain flows through per index (each
    hit's explanation uses its own index's collection stats — ES parity).

    search_after takes an INDEX-QUALIFIED 4-tuple cursor
    ``(value, index_id, split_id, doc_id)`` — the previous page's last
    hit's sort value (or score) plus its (index, split, doc) identity.
    The merge order is (value, index_id, split_id, doc_id), so the cursor
    projects onto each index as a plain 3-tuple leaf cursor: the cursor's
    own index resumes at (value, split, doc); an index ordered BEFORE the
    cursor's needs strictly-after-value rows only; one ordered AFTER
    needs at-or-after-value rows including every tie.  The two synthetic
    split bounds express those without a per-index re-sort."""
    t0 = time.monotonic()
    if len(set(index_dirs)) != len(index_dirs) or not index_dirs:
        raise ValueError("index_dirs must be a non-empty list of distinct indexes")
    cursor = request.search_after
    if cursor is not None:
        if len(cursor) == 3 and len(index_dirs) > 1:
            raise ValueError(
                "multi-index search_after needs an index-qualified cursor "
                "[value, index_id, split_id, doc_id] — the 3-tuple form has "
                "no index coordinate"
            )
        if request.start_offset:
            raise ValueError("search_after and start_offset are mutually exclusive")
    if len(index_dirs) == 1:
        if cursor is not None and len(cursor) == 4:
            # tolerate the qualified form on a 1-index list (ES does)
            c_v, c_idx, c_split, c_doc = cursor
            if c_idx != os.path.basename(index_dirs[0].rstrip("/")):
                raise ValueError(
                    f"search_after cursor index {c_idx!r} is not in the "
                    "addressed index list"
                )
            request = _dc_replace(request, search_after=(c_v, c_split, int(c_doc)))
        return search(spark, index_dirs[0], request)
    ids = [os.path.basename(d.rstrip("/")) for d in index_dirs]
    if cursor is not None and cursor[1] not in ids:
        raise ValueError(
            f"search_after cursor index {cursor[1]!r} is not in the "
            "addressed index list"
        )
    # offset rewrite (root.rs:286-301 across indexes): every index returns
    # its top offset+k, the GLOBAL offset applies after the merge
    inner = _dc_replace(
        request, start_offset=0, max_hits=request.start_offset + request.max_hits
    )
    total = 0
    merged: list[dict] = []
    float_sort = False
    for d, iid in zip(index_dirs, ids):
        req_d = inner
        if cursor is not None:
            c_v, c_idx, c_split, c_doc = cursor
            if iid == c_idx:
                after = (c_v, c_split, int(c_doc))
            elif iid < c_idx:
                # merge-ordered before the cursor's index: only rows whose
                # value is STRICTLY after the cursor value qualify
                after = (c_v, CURSOR_SPLIT_MAX, 0)
            else:
                # ordered after: rows at the cursor value still qualify
                after = (c_v, CURSOR_SPLIT_MIN, -1)
            req_d = _dc_replace(inner, search_after=after)
        resp = search(spark, d, req_d)
        total += resp.num_hits
        _, cfg = open_index(spark, d)
        float_sort |= (
            resolve_sort(request, cfg).sort_by_field in cfg.extra_fast_float_fields
        )
        for h in resp.hits:
            h["index_id"] = iid
            merged.append(h)
    if request.sort_by_field is not None:
        sgn = 1 if request.sort_asc else -1
        key = lambda h: (sgn * h["sort_value"], h["index_id"], h["split_id"], h["doc_id"])  # noqa: E731
        if float_sort:
            # every index resolved the same field; mixed int/float schemas
            # for one name across indexes would make sort_value types
            # incomparable — fail loudly rather than sort garbage
            if not all(isinstance(h["sort_value"], float) for h in merged):
                raise ValueError(
                    f"sort field {request.sort_by_field!r} is f64 in some "
                    "indexes and integer in others — cannot merge"
                )
    else:
        key = lambda h: (-h["score"], h["index_id"], h["split_id"], h["doc_id"])  # noqa: E731
    merged.sort(key=key)
    page = merged[request.start_offset : request.start_offset + request.max_hits]
    return SearchResponse(total, page, int((time.monotonic() - t0) * 1e6))


def explain(spark: SparkSession, index_dir: str, request: SearchRequest) -> dict:
    """Driver-side query-plan introspection — a plan-only run of search():
    the SAME planner (_plan_batch: check, parse, prune, stats, metadata
    count) and the same leaf placement (_leaf_placement), but no scorer
    and no leaf.  Strategy comes from select_strategy, the same function
    the scorer executes, so the report cannot drift from the actual plan;
    it raises whatever search() would reject.

    Returns which splits the leaf will run (after time/tag/numeric and
    term-presence pruning; splits a '*' count answers from catalog
    metadata are counted apart), the scoring strategy (metadata-only
    count / block-max WAND / MaxScore / match-all scan / full boolean
    eval), per-term global doc_freq, the leaf cost estimate, and whether
    the leaf runs in-process or as a Spark job — the observability half
    of the reference's leaf cost model (root.rs:280-301) surfaced to
    users."""
    plan = _plan_batch(spark, index_dir, [request], "topk")
    [request], [ast], [splits] = plan.reqs, plan.asts, plan.splits
    [counted], [(n_meta_pruned, n_term_pruned)] = plan.counted, plan.pruned
    _, est, in_process = _leaf_placement(plan)
    strategy = select_strategy(ast, request)
    if not splits and _metadata_countable(ast, request):
        strategy = "match_all_metadata_count"  # the root answers it alone
    # per-split time-filter elision: splits wholly inside the requested
    # range run the pruned strategy instead of full evaluation
    elide = ts_elidable_strategy(ast, request)
    splits_elided = (
        sum(_split_inside_range(s, request) for s in splits) if elide is not None else 0
    )
    # Phrase observability: probe the FIRST leaf split's posting rows and
    # report which verification path each term the leaf reads with
    # positions would take there (index-time bitmap — inline cell or chunk
    # rows — vs position decode).  One driver-side point read; makes
    # 'hot-term phrases hit the bitmap path' checkable from explain()
    # instead of inferred from latency.  Run-time counts come from
    # take_phrase_counters().
    phrase_storage = []
    if _contains_phrase(ast) and splits:
        sid = splits[0].split_id
        pterms = sorted(collect_terms(ast))
        recs = _read_split_postings(
            index_dir, sid, pterms, plan.buckets, need_positions=True
        )
        for f_, t_ in pterms:
            r = recs.get((f_, t_))
            if r is None:
                path, n_chunks = "absent", 0
            else:
                span = r.get("bm_chunk_span")
                bm = r.get("pos_bm")
                if span is not None and not (isinstance(span, float) and np.isnan(span)):
                    nblocks = -(-int(r["doc_freq"]) // BLOCK)
                    n_chunks = -(-nblocks // int(span))
                    path = "bitmap_chunked"
                elif bm is not None and not isinstance(bm, float):
                    path, n_chunks = "bitmap_inline", 0
                else:
                    path, n_chunks = "decode", 0
            phrase_storage.append(
                {"field": f_, "term": t_, "path": path,
                 "bm_chunks": n_chunks, "probe_split": sid}
            )
    gstats = plan.gstats
    return {
        "query": request.query,
        "ast": repr(ast),
        "strategy": strategy,
        "ts_elided_strategy": elide,
        "splits_ts_elided": splits_elided,
        "splits_total": len(plan.cat.splits()),
        "splits_after_pruning": len(splits),
        "splits_pruned": n_meta_pruned + n_term_pruned,
        # metadata pruning (time/tags/numeric) vs term-presence pruning
        # (per-split Bloom probes) broken out — the observability hook for
        # 'a rare-term query schedules O(matching splits) tasks'
        "splits_pruned_meta": n_meta_pruned,
        "splits_pruned_terms": n_term_pruned,
        "splits_metadata_counted": len(counted),
        "phrase_term_storage": phrase_storage,
        "terms": [
            {
                "field": f,
                "term": t,
                "doc_freq": int(gstats["df"].get((f, t), 0)),
                "bucket": term_bucket(f, t, plan.config.term_merge_buckets),
            }
            for f, t in plan.terms
        ],
        "num_docs_total": int(gstats["num_docs"]),
        "est_rows_per_split": round(est, 1),
        "leaf": "in_process" if in_process else "spark_job",
        "sort_by_field": request.sort_by_field,
    }
