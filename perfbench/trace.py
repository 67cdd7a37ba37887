"""Spans recorded from outside the engine, around calls into its layers.

A span is (name, start, end, parent, request).  Spans stay in memory and
are written once, when the run ends.  The workload itself always records
coarse spans (one per search call, batch, build, merge and GC) because its
end-to-end numbers come from them; a traced run additionally wraps the
driver-side engine functions below at the names their caller binds, so the
per-layer breakdown is measured without changing an engine file.
"""

from __future__ import annotations

import contextlib
import functools
import json
import statistics
import threading
import time
from dataclasses import asdict, dataclass

# search.root binds these names at import (``from .plan import ...``), so
# they are patched on root, not on the modules that define them.
ROOT_SPANS = {
    "open_index": "plan.open_index",
    "parse_query": "plan.parse",
    "expand_prefixes": "plan.expand",
    "prune_splits": "plan.prune",
    "term_buckets": "plan.term_buckets",
    "global_term_stats": "plan.term_stats",
    "prune_splits_by_terms": "split_io.term_prune",
    "make_split_scorer": "leaf.scorer_build",
    "_fetch_page_fields": "root.page_fetch",
}
# None of these names is referenced by the leaf closures that Spark ships to
# workers, so no wrapper (or the tracer it holds) is ever pickled.


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    request: int | None


class Tracer:
    """In-memory span recorder for the driver's main thread; calls from
    other threads (page-fetch pool, RSS sampler) are not recorded."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._request: int | None = None
        self._requests = 0
        self._owner = threading.get_ident()

    @contextlib.contextmanager
    def span(self, name: str, request: bool = False):
        if threading.get_ident() != self._owner:
            yield None
            return
        if request:
            self._requests += 1
            self._request = self._requests
        sp = Span(name, time.perf_counter(), 0.0,
                  self._stack[-1] if self._stack else None, self._request)
        self._stack.append(len(self.spans))
        self.spans.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if request:
                self._request = None

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def durations(self, name: str) -> list[float]:
        return [s.end - s.start for s in self.spans if s.name == name]

    def self_times(self) -> list[float]:
        """Each span's duration minus the part of it its children cover."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out = []
        for i, s in enumerate(self.spans):
            covered, reach = 0.0, s.start
            for c in sorted(kids.get(i, []), key=lambda c: c.start):
                lo, hi = max(c.start, reach), min(c.end, s.end)
                if hi > lo:
                    covered += hi - lo
                    reach = hi
            out.append(s.end - s.start - covered)
        return out

    def per_request(self, kind: str) -> list[dict[str, float]]:
        """For each request span named ``kind``: summed span time per name
        among its descendants, plus the request's own self time ("self")."""
        selfs = self.self_times()
        rows: dict[int, dict[str, float]] = {}
        for i, s in enumerate(self.spans):
            if s.name == kind and s.parent is None and s.request is not None:
                rows[s.request] = {"self": selfs[i], "wall": s.end - s.start}
        for s in self.spans:
            row = rows.get(s.request)
            if row is not None and s.name != kind:
                row[s.name] = row.get(s.name, 0.0) + (s.end - s.start)
        return list(rows.values())

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


@contextlib.contextmanager
def engine_spans(tracer: Tracer):
    """Wrap the driver-side layer entry points for the duration of the block."""
    import pyspark

    from quickwit_spark.search import root

    saved = {name: getattr(root, name) for name in ROOT_SPANS}
    collect = pyspark.RDD.collect
    try:
        for name, span in ROOT_SPANS.items():
            setattr(root, name, tracer.wrap(saved[name], span))
        # the leaf job of search / multi_search is one RDD collect
        pyspark.RDD.collect = tracer.wrap(collect, "root.leaf_job")
        yield
    finally:
        for name, fn in saved.items():
            setattr(root, name, fn)
        pyspark.RDD.collect = collect


def median_of(rows: list[dict[str, float]], key) -> float:
    """Median over requests of one summed span (or of a sum of spans when
    ``key`` is a callable on the row); 0 when there are no requests."""
    vals = [key(r) if callable(key) else r.get(key, 0.0) for r in rows]
    return statistics.median(vals) if vals else 0.0


def replay_leaf(spark, index_dir: str, requests: list) -> dict[str, float]:
    """In-process replay of the leaf for sampled requests over every split
    they schedule, in the driver: times the postings read and the scorer
    call per split and collects the phrase-path counter deltas.  One
    untimed pass first opens every split, as a warm worker would have."""
    from quickwit_spark.search import root
    from quickwit_spark.search.split_io import _phrase_ctr

    def units(req):
        _, _, ast, splits, terms, buckets, scorer, _ = root._plan_leaf(
            spark, index_dir, req, "topk", fetch_in_leaf=False
        )
        need_pos = root._contains_phrase(ast)
        for s in splits:
            ff = root._cached_fastfields(index_dir, s.split_id)
            yield s.split_id, ff, terms, buckets, need_pos, scorer

    reads, scores = [], []
    totals = {"phrase_terms_bitmap": 0, "phrase_terms_decode": 0, "chunk_fetches": 0}
    ctr = _phrase_ctr()
    for i, req in enumerate(requests):
        before = dict(ctr)
        for sid, ff, terms, buckets, need_pos, scorer in units(req):
            t0 = time.perf_counter()
            post = root._read_split_postings(
                index_dir, sid, terms, buckets, need_positions=need_pos
            )
            t1 = time.perf_counter()
            scorer((sid,), post, ff, None, None)
            t2 = time.perf_counter()
            if i:  # request 0 is the split-opening pass
                reads.append(t1 - t0)
                scores.append(t2 - t1)
        if i:
            delta = {k: v - before[k] for k, v in ctr.items()}
            totals["phrase_terms_bitmap"] += delta["phrase_terms_bitmap"]
            totals["phrase_terms_decode"] += delta["phrase_terms_decode"]
            totals["chunk_fetches"] += delta["bm_chunk_fetches"] + delta["pos_chunk_fetches"]
    return {
        "split_io.read_postings_s": statistics.mean(reads) if reads else 0.0,
        "leaf.score_s": statistics.mean(scores) if scores else 0.0,
        "split_io.phrase_bitmap_terms": totals["phrase_terms_bitmap"],
        "split_io.phrase_decode_terms": totals["phrase_terms_decode"],
        "split_io.chunk_fetches": totals["chunk_fetches"],
    }
