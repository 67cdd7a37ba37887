"""The three workloads, their correctness gates and their metrics.

All are closed loops with one client on ``local[N]``, N = nproc.  Layout
sizes scale with N so each workload stays on one side of the engine's
in-process driver-leaf gate (search/root.py: <= 8 splits and <= 50k
estimated rows run the leaf in the driver, without a Spark job):

* interactive and batch query one unmerged layout of 4 splits per slot, so
  every query but the selective ones (a df=1 marker prunes to one split,
  the match-all count is answered from metadata) runs a Spark job;
  interactive sends one search() at a time, batch 32 queries per
  multi_search() job;
* ingest: a base of 3 mature splits per slot; each cycle appends a batch
  built as 3 young splits that one merge turns into one mature split, so
  every cycle does the same work and probes always run a job.
"""

from __future__ import annotations

import contextlib
import math
import os
import statistics
import time
import traceback
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from quickwit_spark.bench_queries import BENCH_QUERIES
from quickwit_spark.config import transcripts_config
from quickwit_spark.index.builder import build_index
from quickwit_spark.index.catalog import Catalog
from quickwit_spark.index.merge import garbage_collect, run_merge_pipeline
from quickwit_spark.search.executor import explain, multi_search, search
from quickwit_spark.search.oracle import OracleIndex
from quickwit_spark.search.plan import split_open_read_counts
from quickwit_spark.search.request import SearchRequest

from .host import cpu_times, nproc, steal_share
from .streams import QueryStream, corpus_batch, marker_terms, request_kwargs
from .trace import Tracer, engine_spans, median_of, replay_leaf

BATCH_SIZE = 32
# ingest: young cycle splits (~1.6k docs, 3 per cycle) sit mid-way in one
# merge size level [900, 2700); three of them (~4.9k) reach the target and
# the merged split is mature, as are the ~5k-doc base splits.
INGEST_SPLIT_TARGET = 4_000
INGEST_CYCLE_CONVS = 240
INGEST_MAX_CYCLES = 4
PROBES_PER_CYCLE = 2
# probes stay on the Spark-job side of the driver-leaf gate
PROBE_EXCLUDE = ("q11_match_all_count", "sel_marker", "sel_window")
STRATEGIES = ("block_max_wand", "maxscore_union", "full_eval", "match_all_scan",
              "match_all_metadata_count")
EXPLAIN_SAMPLE = 48


def row_hash_3():
    """Three splits by a per-row hash: sizes equal within ~2%, so the three
    share one merge size level and merge together (hashing whole
    conversations, the engine default, can leave them two levels apart)."""
    return F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(3)).cast("int")


@dataclass
class Layout:
    index_dir: str
    docs: int = 0
    input_bytes: int = 0
    split_ids: set[str] = field(default_factory=set)
    batch_docs: list[int] = field(default_factory=list)
    markers: list = field(default_factory=list)


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    seconds: float
    traced: bool
    started: float
    tracer: Tracer = field(default_factory=Tracer)
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    mismatches: list[str] = field(default_factory=list)
    setup_batches: list[float] = field(default_factory=list)
    setup_end: float = 0.0
    window: dict = field(default_factory=dict)
    open_reads: list[int] = field(default_factory=list)

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.mismatches.append(what)

    def op(self, name: str, fn, *args, request: bool = False, **kwargs):
        """One attempted operation under a span; a raise counts as failed."""
        self.attempted += 1
        before = split_open_read_counts() if request else None
        with self.tracer.span(name, request=request):
            try:
                return fn(*args, **kwargs)
            except Exception:
                self.failed += 1
                self.failures.append(traceback.format_exc(limit=3)[-600:])
                return None
            finally:
                if request:
                    after = split_open_read_counts()
                    self.open_reads.append(sum(after.values()) - sum(before.values()))

    @contextlib.contextmanager
    def timed(self):
        """The measured window: host-noise probes around it, engine spans
        inside it on traced runs."""
        from bench import probe_page_fault_gbps

        self.setup_end = time.perf_counter()
        gbps = [probe_page_fault_gbps(32)]
        cpu0, t0 = cpu_times(), time.perf_counter()
        self.window["start"] = t0
        with engine_spans(self.tracer) if self.traced else contextlib.nullcontext():
            yield
        self.window["wall_s"] = time.perf_counter() - t0
        self.window["steal_share"] = steal_share(cpu0, cpu_times())
        gbps.append(probe_page_fault_gbps(32))
        self.window["probe_page_fault_gbps"] = gbps

    def setup_s(self) -> float:
        """Set-up wall with the repeated part (one layout batch: generate +
        build) taken as the median batch times the number of batches."""
        total = self.setup_end - self.started
        b = self.setup_batches
        return total - sum(b) + len(b) * statistics.median(b) if b else total

    def window_spans(self, name: str) -> list[float]:
        t0 = self.window["start"]
        return [s.end - s.start for s in self.tracer.spans
                if s.name == name and s.start >= t0]


# --------------------------------------------------------------------------
# inputs and layouts


def write_batch(ctx: Ctx, pdf, name: str) -> tuple[str, int]:
    path = os.path.join(ctx.work, "input", f"{name}.parquet")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pdf.to_parquet(path, index=False, row_group_size=25_000)
    return path, os.path.getsize(path)


def dir_bytes(path: str, split_ids: set[str] | None = None) -> int:
    """Bytes of regular files under ``path``; with ``split_ids``, only those
    under a ``split_id=<id>`` directory of one of the splits."""
    total = 0
    for d, _, files in os.walk(path):
        if split_ids is not None and not any(
            part.startswith("split_id=") and part[9:] in split_ids
            for part in d.split(os.sep)
        ):
            continue
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def build_layout(ctx: Ctx, lay: Layout, cfg, batches: int, convs: int, splits: int,
                 tag: str) -> None:
    """Append ``batches`` seeded batches, one build_id each; every batch's
    generate + build time is one repeated set-up sample."""
    for b in range(batches):
        t0 = time.perf_counter()
        pdf = corpus_batch(ctx.seed, b, convs)
        path, nbytes = write_batch(ctx, pdf, f"{tag}{b}")
        with ctx.tracer.span("build"):
            rep = build_index(ctx.spark, ctx.spark.read.parquet(path), cfg,
                              lay.index_dir, build_id=f"{tag}{b}", n_splits=splits)
        ctx.setup_batches.append(time.perf_counter() - t0)
        lay.docs += len(pdf)
        lay.batch_docs.append(len(pdf))
        lay.input_bytes += nbytes
        lay.split_ids |= set(rep.published_splits)
        lay.markers += marker_terms(pdf)
    # a marker number repeats across batches; keep the ones with df = 1
    seen: dict[str, int] = {}
    for term, _, _ in lay.markers:
        seen[term] = seen.get(term, 0) + 1
    lay.markers = [m for m in lay.markers if seen[m[0]] == 1]


def live_docs(spark, index_dir: str):
    live = {s.split_id for s in Catalog(index_dir).splits()}
    docs = spark.read.parquet(os.path.join(index_dir, "docs")).toPandas()
    return docs[docs["split_id"].isin(live)]


# --------------------------------------------------------------------------
# correctness gates


def _hits(resp, key: str) -> list[tuple]:
    return [(h["split_id"], h["doc_id"], h[key]) for h in resp.hits]


def oracle_gate(ctx: Ctx, index_dir: str, cfg, reqs: list[SearchRequest], where: str) -> list:
    """Top-k keys and scores of every request equal the pure-Python BM25
    oracle's (scores to 1e-6 relative, as the engine's own suites); returns
    the engine's responses."""
    oracle = OracleIndex(live_docs(ctx.spark, index_dir), cfg)
    responses = []
    for req in reqs:
        got, want = search(ctx.spark, index_dir, req), oracle.search(req)
        responses.append(got)
        key = "sort_value" if req.sort_by_field else "score"
        ok = got.num_hits == want["num_hits"] and len(got.hits) == len(want["hits"]) and all(
            (g["split_id"], g["doc_id"]) == (w["split_id"], w["doc_id"])
            and math.isclose(g[key], w["score"], rel_tol=1e-6)
            for g, w in zip(got.hits, want["hits"])
        )
        ctx.check(ok, f"oracle mismatch ({where}): {req}")
    return responses


def batch_gate(ctx: Ctx, index_dir: str, reqs: list[SearchRequest], where: str,
               singles: list) -> None:
    """One multi_search batch over ``reqs`` returns exactly the search()
    responses ``singles`` of its first len(singles) queries."""
    for req, got, want in zip(reqs, multi_search(ctx.spark, index_dir, reqs), singles):
        key = "sort_value" if req.sort_by_field else "score"
        ctx.check(got.num_hits == want.num_hits and _hits(got, key) == _hits(want, key),
                  f"multi_search != search ({where}): {req}")


def count_gate(ctx: Ctx, index_dir: str, rows: int, where: str) -> None:
    """Summed catalog num_docs and the '*' count both equal the input rows."""
    cat_docs = sum(s.num_docs for s in Catalog(index_dir).splits())
    star = search(ctx.spark, index_dir, SearchRequest("*", max_hits=0)).num_hits
    ctx.check(cat_docs == rows and star == rows,
              f"count mismatch ({where}): rows={rows} catalog={cat_docs} star={star}")


def check_response(ctx: Ctx, q: dict, resp) -> None:
    """Cheap per-query checks on timed results: page bounds, and the single
    expected hit of a df=1 marker query."""
    if resp is None:
        return
    kw = request_kwargs(q)
    ctx.check(len(resp.hits) <= kw.get("max_hits", 10) and resp.num_hits >= len(resp.hits),
              f"page out of bounds: {q}")
    if "expect" in q:
        got = [(h["conv_id"], int(h["turn_idx"])) for h in resp.hits]
        ctx.check(resp.num_hits == 1 and got == [tuple(q["expect"])], f"marker hit wrong: {q} -> {got}")


def warm_up(ctx: Ctx, merge: bool) -> None:
    """Untimed, inside set-up: a small throwaway build, and one pass over
    every query template — which is also the oracle gate, on the side
    corpus's 3 splits.  With ``merge`` (workloads that time merges) the side
    corpus is then merged to one split and gated again."""
    pdf = corpus_batch(ctx.seed, 10_000, 90)
    path, _ = write_batch(ctx, pdf, "side")
    idx = os.path.join(ctx.work, "side")
    cfg = transcripts_config()
    build_index(ctx.spark, ctx.spark.read.parquet(path), cfg, idx, build_id="side",
                n_splits=3, split_ord_expr=row_hash_3())
    stream = QueryStream(ctx.seed + 1, marker_terms(pdf))
    reqs = [SearchRequest(**kw) for kw in BENCH_QUERIES.values()]
    reqs += [SearchRequest(**request_kwargs(q)) for q in stream.round()]
    singles = oracle_gate(ctx, idx, cfg, reqs, "side corpus, 3 splits")
    if not merge:
        batch_gate(ctx, idx, reqs, "side corpus", singles)
        return
    run_merge_pipeline(ctx.spark, idx)
    garbage_collect(idx)
    ctx.check(len(Catalog(idx).splits()) == 1, "side corpus did not merge to one split")
    count_gate(ctx, idx, len(pdf), "side corpus, merged")
    singles = oracle_gate(ctx, idx, cfg, reqs, "side corpus, merged")
    batch_gate(ctx, idx, reqs, "side corpus, merged", singles)


# reads every split's fast fields and nothing else
OPEN_SPLITS = SearchRequest("*", sort_by_field="ts", max_hits=10)


def warm_layout(ctx: Ctx, index_dir: str) -> None:
    """Start every Python worker and open every split of the measured layout."""
    for _ in range(2):
        search(ctx.spark, index_dir, OPEN_SPLITS)


# --------------------------------------------------------------------------
# metrics


def supported_percentile(values: list[float]):
    """The highest of p99, p95, p90 and p75 with at least ten samples beyond
    it, as (percentile, value, samples beyond); None when even p75 lacks them."""
    xs = sorted(values)
    for p in (0.99, 0.95, 0.9, 0.75):
        i = math.ceil(p * len(xs)) - 1
        if i >= 0 and len(xs) - 1 - i >= 10:
            return p, xs[i], len(xs) - 1 - i
    return None


def read_write_space(lay: Layout, cycles: list[tuple[int, float]], builds: list[float]) -> dict:
    """Write cost — the median over write cycles of docs / (build + merge +
    GC seconds of the cycle), and the median build_index call — and the
    space of the whole layout on disk per input byte."""
    return {
        "ingest_docs_per_s": statistics.median(d / s for d, s in cycles),
        "publish_p50_s": statistics.median(builds),
        "index_bytes_per_input_byte": dir_bytes(lay.index_dir) / lay.input_bytes,
    }


def search_metrics(latencies: list[float], queries_per_request: int, busy_s: float) -> dict:
    return {
        "search_p50_s": statistics.median(latencies),
        "search_qps": len(latencies) * queries_per_request / busy_s,
    }


def query_layers(ctx: Ctx, index_dir: str, kind: str, timed: list[tuple[str, SearchRequest]]) -> dict:
    """Per-layer numbers of the search path for a traced run: span medians
    per request, explain() shares over the first timed queries, a leaf
    replay of the first timed query of each class, and the Spark job floor."""
    rows = ctx.tracer.per_request(kind)
    out = {
        "split_io.open_reads": statistics.mean(ctx.open_reads) if ctx.open_reads else 0.0,
        "plan.time_s": median_of(rows, lambda r: sum(v for k, v in r.items() if k.startswith("plan."))),
        "plan.expand_s": median_of(rows, "plan.expand"),
        "split_io.term_prune_s": median_of(rows, "split_io.term_prune"),
        "leaf.scorer_build_s": median_of(rows, "leaf.scorer_build"),
        "root.leaf_job_s": median_of(rows, "root.leaf_job"),
        "root.page_fetch_s": median_of(rows, "root.page_fetch"),
        "root.self_s": median_of(rows, "self"),
    }
    sample = list(dict.fromkeys(r for _, r in timed))[:EXPLAIN_SAMPLE]
    exps = [explain(ctx.spark, index_dir, r) for r in sample]
    out["plan.splits_scheduled_share"] = statistics.mean(
        e["splits_after_pruning"] / e["splits_total"] for e in exps)
    out["root.inprocess_leaf_share"] = statistics.mean(e["leaf"] == "in_process" for e in exps)
    for s in STRATEGIES:
        out[f"leaf.strategy_share.{s}"] = statistics.mean(e["strategy"] == s for e in exps)
    per_class = {}
    for cls, r in timed:
        if cls != "q11_match_all_count":  # answered from metadata, no leaf
            per_class.setdefault(cls, r)
    # the first replayed request only opens the splits (see replay_leaf)
    out.update(replay_leaf(ctx.spark, index_dir, [OPEN_SPLITS, *per_class.values()]))
    sc = ctx.spark.sparkContext
    floors = []
    for _ in range(6):
        t0 = time.perf_counter()
        sc.parallelize(range(sc.defaultParallelism), sc.defaultParallelism).map(abs).collect()
        floors.append(time.perf_counter() - t0)
    out["root.job_floor_s"] = statistics.median(floors[1:])
    return out


def build_layers(lay_docs: int, input_bytes: int, split_bytes: int, builds: list[float]) -> dict:
    return {
        "builder.build_s": statistics.median(builds),
        "builder.docs_per_s": lay_docs / sum(builds),
        "builder.bytes_per_input_byte": split_bytes / input_bytes,
    }


def query_layout_layers(ctx: Ctx, lay: Layout, kind: str, timed: list, builds: list[float]) -> dict:
    """Per-layer numbers of a traced interactive or batch run.  Their layout
    is built but never merged, so the merge layer reads 0."""
    if not ctx.traced:
        return {}
    return {
        **query_layers(ctx, lay.index_dir, kind, timed),
        **build_layers(lay.docs, lay.input_bytes, dir_bytes(lay.index_dir, lay.split_ids), builds),
        "merge.cycle_s": 0.0,
        "merge.gc_s": 0.0,
        "merge.ops_per_cycle": 0.0,
        "merge.bytes_rewritten_per_input_byte": 0.0,
        "catalog.published_splits": len(Catalog(lay.index_dir).splits()),
    }


def trace_consistency(ctx: Ctx) -> dict:
    """Span self times inside the window must add up to no more than its wall."""
    t0 = ctx.window["start"]
    selfs = ctx.tracer.self_times()
    covered = sum(st for s, st in zip(ctx.tracer.spans, selfs) if s.start >= t0)
    share = covered / ctx.window["wall_s"]
    ctx.check(share <= 1.0 + 1e-9, f"span self times exceed the window wall: {share}")
    return {"trace.self_time_share": share}


# --------------------------------------------------------------------------
# workloads


def _search(ctx: Ctx, index_dir: str, q: dict, timed: list) -> None:
    req = SearchRequest(**request_kwargs(q))
    check_response(ctx, q, ctx.op("search", search, ctx.spark, index_dir, req, request=True))
    timed.append((q["cls"], req))


def _stream(seed: int, markers, exclude=()):
    s = QueryStream(seed, markers)
    while True:
        yield from s.take(16, exclude)


def query_layout(ctx: Ctx) -> Layout:
    """The unmerged layout interactive and batch query: 3 appended batches of
    ~12k turns, 4 splits per slot in all."""
    warm_up(ctx, merge=False)
    lay = Layout(os.path.join(ctx.work, "layout"))
    build_layout(ctx, lay, transcripts_config(), batches=3, convs=600,
                 splits=-(-4 * nproc() // 3), tag="L")
    warm_layout(ctx, lay.index_dir)
    return lay


def interactive(ctx: Ctx) -> tuple[dict, dict]:
    lay = query_layout(ctx)
    stream = _stream(ctx.seed, lay.markers)
    timed: list[tuple[str, SearchRequest]] = []
    with ctx.timed():
        t_end = time.perf_counter() + ctx.seconds
        while time.perf_counter() < t_end:
            _search(ctx, lay.index_dir, next(stream), timed)
    lat = ctx.window_spans("search")
    builds = ctx.tracer.durations("build")
    e2e = {**search_metrics(lat, 1, ctx.window["wall_s"]),
           **read_write_space(lay, list(zip(lay.batch_docs, builds)), builds)}
    ctx.window["search_tail"] = supported_percentile(lat)
    ctx.window["latencies_s"] = lat
    ctx.window["queries"] = len(timed)
    return e2e, query_layout_layers(ctx, lay, "search", timed, builds)


def batch(ctx: Ctx) -> tuple[dict, dict]:
    lay = query_layout(ctx)
    stream = _stream(ctx.seed, lay.markers)

    def next_batch():
        qs = [next(stream) for _ in range(BATCH_SIZE)]
        return qs, [SearchRequest(**request_kwargs(q)) for q in qs]

    # one gate batch, 4 of its queries also through search(); it is the
    # untimed warm-up of both paths too
    rq = next_batch()[1]
    batch_gate(ctx, lay.index_dir, rq, "batch layout",
               [search(ctx.spark, lay.index_dir, r) for r in rq[:4]])
    timed: list[tuple[str, SearchRequest]] = []
    with ctx.timed():
        t_end = time.perf_counter() + ctx.seconds
        while time.perf_counter() < t_end:
            qs, rq = next_batch()
            out = ctx.op("multi_search", multi_search, ctx.spark, lay.index_dir, rq, request=True)
            for q, resp in zip(qs, out or []):
                check_response(ctx, q, resp)
            timed += [(q["cls"], r) for q, r in zip(qs, rq)]
    lat = ctx.window_spans("multi_search")
    builds = ctx.tracer.durations("build")
    # every query of a batch is answered when its batch returns
    e2e = {**search_metrics(lat, BATCH_SIZE, ctx.window["wall_s"]),
           **read_write_space(lay, list(zip(lay.batch_docs, builds)), builds)}
    ctx.window["latencies_s"] = lat
    return e2e, query_layout_layers(ctx, lay, "multi_search", timed, builds)


def ingest(ctx: Ctx) -> tuple[dict, dict]:
    n = nproc()
    warm_up(ctx, merge=True)
    lay = Layout(os.path.join(ctx.work, "layout"))
    cfg = transcripts_config(split_num_docs_target=INGEST_SPLIT_TARGET)
    # ~5k docs per base split: mature, so cycles never merge into the base
    build_layout(ctx, lay, cfg, batches=3, convs=244 * n, splits=n, tag="base")
    inputs = []
    for c in range(INGEST_MAX_CYCLES):
        pdf = corpus_batch(ctx.seed, 100 + c, INGEST_CYCLE_CONVS)
        inputs.append((*write_batch(ctx, pdf, f"cycle{c}"), len(pdf)))
    warm_layout(ctx, lay.index_dir)
    stream = _stream(ctx.seed, [], exclude=PROBE_EXCLUDE)
    cycle_docs = cycle_bytes = built_bytes = merged_bytes = ops = 0
    splits_seen, timed = [], []
    count_gate(ctx, lay.index_dir, lay.docs, "ingest base")
    with ctx.timed():
        t_end = time.perf_counter() + ctx.seconds
        for c, (path, nbytes, rows) in enumerate(inputs):
            if time.perf_counter() >= t_end:
                break
            rep = ctx.op("build", build_index, ctx.spark, ctx.spark.read.parquet(path), cfg,
                         lay.index_dir, build_id=f"cycle{c}", n_splits=3,
                         split_ord_expr=row_hash_3())
            if rep is not None:
                built_bytes += dir_bytes(lay.index_dir, set(rep.published_splits))
            produced = ctx.op("merge", run_merge_pipeline, ctx.spark, lay.index_dir) or []
            ctx.op("gc", garbage_collect, lay.index_dir)
            lay.docs += rows
            lay.batch_docs.append(rows)
            lay.input_bytes += nbytes
            cycle_docs += rows
            cycle_bytes += nbytes
            ops += len(produced)
            merged_bytes += dir_bytes(lay.index_dir, {s.split_id for s in produced})
            count_gate(ctx, lay.index_dir, lay.docs, f"ingest cycle {c}")
            splits_seen.append(len(Catalog(lay.index_dir).splits()))
            for _ in range(PROBES_PER_CYCLE):
                _search(ctx, lay.index_dir, next(stream), timed)
    builds = ctx.window_spans("build")
    merges, gcs = ctx.window_spans("merge"), ctx.window_spans("gc")
    lat = ctx.window_spans("search")
    cycles = [(d, b + m + g) for d, b, m, g in
              zip(lay.batch_docs[-len(builds):], builds, merges, gcs)] if builds else []
    e2e = {**search_metrics(lat, 1, sum(lat)), **read_write_space(lay, cycles, builds)}
    ctx.window["cycles_s"] = [[b, m, g] for b, m, g in zip(builds, merges, gcs)]
    ctx.window["latencies_s"] = lat
    layers = {}
    if ctx.traced:
        layers = query_layers(ctx, lay.index_dir, "search", timed)
        layers.update(build_layers(cycle_docs, cycle_bytes, built_bytes, builds))
        layers.update({
            "merge.cycle_s": statistics.median(merges),
            "merge.gc_s": statistics.median(gcs),
            "merge.ops_per_cycle": ops / len(merges),
            "merge.bytes_rewritten_per_input_byte": merged_bytes / cycle_bytes,
        })
        layers["catalog.published_splits"] = statistics.median(splits_seen)
    return e2e, layers


WORKLOADS = {"interactive": interactive, "batch": batch, "ingest": ingest}
