"""Profile a merge round's stages at sf0.1 (sets QW_MERGE_TIMING=1).

    python tools/profile_merge.py

execute_merge_round then prints one ``merge-stage <name>: <s>`` line per
stage: ``plan`` (list the inputs, plan the units), ``units`` (the one
Spark job; preceded by ``postings-units`` / ``rows-units`` lines with each
kind's task count, summed task seconds and slowest task), ``termbloom``,
``publish``, and ``hotcache`` on object stores."""

from __future__ import annotations

import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
os.environ["QW_MERGE_TIMING"] = "1"


def main() -> None:
    from bench import default_cpus, get_spark

    spark = get_spark(default_cpus())
    from quickwit_spark.config import transcripts_config
    from quickwit_spark.index.builder import build_index
    from quickwit_spark.index.merge import run_merge_pipeline

    from bench import ensure_corpus

    df = spark.read.parquet(ensure_corpus(50_000))
    d = "/tmp/qwspark_bench/idx-merge-profile"
    shutil.rmtree(d, ignore_errors=True)
    cfg = transcripts_config(
        split_num_docs_target=20_000, segment_num_docs_target=8_000
    )
    t0 = time.monotonic()
    build_index(spark, df, cfg, d, build_id="mp")
    print(f"build: {time.monotonic() - t0:.2f}s", flush=True)
    t0 = time.monotonic()
    run_merge_pipeline(spark, d)
    print(f"merge total: {time.monotonic() - t0:.2f}s", flush=True)


if __name__ == "__main__":
    main()
