"""Decompose query latency: driver prep vs Spark job vs raw scorer compute.

Builds (or reuses) the bench index over the 50k-conv fixture corpus, then
for each bench query reports:
  prep_s    — parse + prune + gstats (cached after first)
  job_s     — the single leaf Spark job incl. collect
  cpu_s     — SAME work run serially in-process (sum over splits), i.e. the
              pure-python lower bound; cpu_s/N is the ideal parallel time
              on local[N].
"""
from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import BENCH_QUERIES, default_cpus, ensure_corpus, get_spark  # noqa: E402


def main():
    import pandas as pd

    from quickwit_spark.config import transcripts_config
    from quickwit_spark.index.builder import build_index
    from quickwit_spark.search import executor as ex
    from quickwit_spark.search.parser import collect_terms, parse_query
    from quickwit_spark.search.request import SearchRequest

    cpus = int(default_cpus())
    spark = get_spark(str(cpus))
    spark.sparkContext.setLogLevel("ERROR")
    corpus = ensure_corpus(int(os.environ.get("QW_BENCH_CONVS", "50000")))
    idx = "/tmp/qwspark_bench/idx-profile"
    if not os.path.exists(os.path.join(idx, "catalog.json")):
        cfg = transcripts_config(split_num_docs_target=20_000, segment_num_docs_target=8_000)
        build_index(spark, spark.read.parquet(corpus), cfg, idx, build_id="profile")

    cat, config = ex.open_index(spark, idx)
    print(f"splits: {len(cat.splits())}")
    # warm
    ex.search(spark, idx, SearchRequest(query="deploy"))

    for name, kw in BENCH_QUERIES.items():
        req = SearchRequest(**kw)
        # driver prep
        t0 = time.monotonic()
        ast = parse_query(req.query, config, req.search_fields)
        splits = ex.prune_splits(cat, config, ast, req)
        terms = collect_terms(ast)
        buckets = ex.term_buckets(spark, terms, config.term_merge_buckets)
        gstats = ex.global_term_stats(spark, idx, cat, terms, buckets)
        prep = time.monotonic() - t0

        # spark job (best of 3)
        job = min(
            _timeit(lambda: ex._search_rows(spark, idx, req)) for _ in range(3)
        )

        # serial in-process compute
        scorer = ex.make_split_scorer(config, gstats, ast, req, "topk", idx)
        runner = ex._make_leaf_runner(scorer, idx, sorted(terms), buckets)
        t0 = time.monotonic()
        n = 0
        batch = pd.DataFrame({"split_id": [s.split_id for s in splits]})
        for out in runner([batch]):
            n += len(out)
        cpu = time.monotonic() - t0
        print(
            f"{name:16s} prep={prep*1e3:7.1f}ms  job={job*1e3:7.1f}ms  "
            f"cpu_serial={cpu*1e3:7.1f}ms  ideal={cpu/cpus*1e3:6.1f}ms  rows={n}"
        )


def _timeit(fn):
    t0 = time.monotonic()
    fn()
    return time.monotonic() - t0


if __name__ == "__main__":
    main()
