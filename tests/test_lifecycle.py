"""Seeded full-lifecycle E2E: three incremental batch builds into one index,
merge pipeline to maturity, then a randomized (fixed-seed) query battery vs
the pure-Python oracle over the live splits.

This is the pipeline the reference exercises via its CLI integration suite
(quickwit-cli/tests/cli.rs: create → ingest xN → merge → search → gc) in one
deterministic pytest."""

import random

import pandas as pd
import pytest
from pyspark.sql import functions as F

from quickwit_spark.config import transcripts_config
from quickwit_spark.fixtures.transcripts import generate_transcripts
from quickwit_spark.index.builder import build_index
from quickwit_spark.index.catalog import PUBLISHED, Catalog
from quickwit_spark.index.merge import garbage_collect, run_merge_pipeline
from quickwit_spark.search.executor import search
from quickwit_spark.search.oracle import OracleIndex
from quickwit_spark.search.request import SearchRequest

CFG = transcripts_config(
    split_num_docs_target=600,
    segment_num_docs_target=128,
    merge_factor=3,
    max_merge_factor=4,
)


@pytest.fixture(scope="module")
def lifecycle(spark, tmp_path_factory):
    index_dir = str(tmp_path_factory.mktemp("lifecycle-idx"))
    frames = []
    # three ingest batches, disjoint conversations, separate build ids
    for i in range(3):
        pdf = generate_transcripts(n_conversations=12, seed=100 + i)
        pdf["conv_id"] = pdf["conv_id"] + f"-b{i}"
        frames.append(pdf)
        build_index(spark, spark.createDataFrame(pdf), CFG, index_dir, build_id=f"inc{i}")
        run_merge_pipeline(spark, index_dir)
    garbage_collect(index_dir)
    cat = Catalog(index_dir)
    live = {s.split_id for s in cat.splits([PUBLISHED])}
    docs = spark.read.parquet(f"{index_dir}/docs").toPandas()
    docs = docs[docs["split_id"].isin(live)]
    total = sum(len(f) for f in frames)
    assert sum(s.num_docs for s in cat.splits([PUBLISHED])) == total
    assert len(docs) == total
    return index_dir, OracleIndex(docs, CFG), docs


def _random_queries(docs, n=12, seed=31337):
    rng = random.Random(seed)
    from collections import Counter

    dfc = Counter()
    for t in docs["text"]:
        dfc.update({w for w in t.lower().split() if w.isalnum()})
    vocab = [w for w, _ in dfc.most_common()]
    words = vocab[:3] + vocab[len(vocab) // 3 :: max(1, len(vocab) // 12)][:9]
    reqs = []
    for _ in range(n):
        k = rng.randint(1, 3)
        parts = [rng.choice(words)]
        for _ in range(k - 1):
            parts.append(rng.choice([" AND ", " OR ", " ", " NOT "]) + rng.choice(words))
        kw = dict(query="".join(parts), max_hits=rng.randint(1, 15))
        if rng.random() < 0.3:
            kw["start_offset"] = rng.randint(0, 5)
        if rng.random() < 0.3:
            kw["sort_by_field"], kw["sort_asc"] = "ts", rng.random() < 0.5
        reqs.append(SearchRequest(**kw))
    return reqs


def test_lifecycle_rank_identity(spark, lifecycle):
    index_dir, oracle, docs = lifecycle
    for req in _random_queries(docs):
        resp = search(spark, index_dir, req)
        exp = oracle.search(req)
        assert resp.num_hits == exp["num_hits"], req
        got = [(h["split_id"], h["doc_id"]) for h in resp.hits]
        want = [(h["split_id"], h["doc_id"]) for h in exp["hits"]]
        assert got == want, req
        key = "sort_value" if req.sort_by_field is not None else "score"
        for g, w in zip(resp.hits, exp["hits"]):
            assert g[key] == pytest.approx(w["score"], rel=1e-6), req


def test_lifecycle_merged_to_few_splits(spark, lifecycle):
    """Merging across incremental builds must actually compact: 3 batches ×
    several splits each collapse under merge_factor into fewer live splits."""
    index_dir, _, docs = lifecycle
    cat = Catalog(index_dir)
    pub = cat.splits([PUBLISHED])
    assert len(pub) < 9
    assert any(s.num_merge_ops >= 1 for s in pub)


def test_search_during_concurrent_build_merge_gc(spark, tmp_path_factory):
    """Searches racing a build→merge→GC loop must never raise (the
    vanished-split retry re-plans) and never return a PARTIAL count: every
    observed num_hits must equal the exact count of one published state
    (atomic publish/replace means readers see whole states only)."""
    import threading

    from quickwit_spark.config import transcripts_config
    from quickwit_spark.fixtures.transcripts import generate_transcripts
    from quickwit_spark.functions.tokenizer import tokenize_text
    from quickwit_spark.index.builder import build_index
    from quickwit_spark.index.merge import garbage_collect, run_merge_pipeline
    from quickwit_spark.search.executor import search
    from quickwit_spark.search.request import SearchRequest

    idx = str(tmp_path_factory.mktemp("conc")) + "/idx"
    cfg = transcripts_config(
        split_num_docs_target=5000, segment_num_docs_target=64,
        merge_factor=3, max_merge_factor=4,
    )
    batches = [generate_transcripts(n_conversations=12, seed=40 + i) for i in range(3)]
    for i, b in enumerate(batches):
        b["conv_id"] = b["conv_id"] + f"-c{i}"
        # each batch a time period of its own, so a window can hold whole
        # splits and cut through others
        b["ts"] = b["ts"] + pd.Timedelta(days=400 * i)

    # exact "the" count after each publish state (cumulative batches)
    def count_the(pdfs):
        return sum("the" in tokenize_text(t) for p in pdfs for t in p["text"])

    valid = {0} | {count_the(batches[: i + 1]) for i in range(3)}
    # match-all totals per published state (the metadata-count fast path
    # races merges too: its one catalog snapshot must never produce a
    # half-state count)
    valid_all = {0} | {sum(len(b) for b in batches[: i + 1]) for i in range(3)}
    # a windowed '*' count: batch 0 lies before the window, batch 1 inside
    # it (metadata answers its splits) and the window ends mid batch 2
    # (its splits, and merged splits, run the leaf)
    epochs = [b["ts"].astype("datetime64[s]").astype("int64") for b in batches]
    w_lo, w_hi = int(epochs[1].min()), int(epochs[2].median())
    in_window = [int(((e >= w_lo) & (e < w_hi)).sum()) for e in epochs]
    valid_window = {0} | {sum(in_window[: i + 1]) for i in range(3)}
    window = SearchRequest("*", max_hits=0, start_timestamp=w_lo, end_timestamp=w_hi)

    build_index(spark, spark.createDataFrame(batches[0]), cfg, idx, build_id="c0", n_splits=4)
    errors: list = []
    observed: set = set()
    observed_all: set = set()
    observed_window: set = set()
    stop = threading.Event()

    def searcher():
        while not stop.is_set():
            try:
                observed.add(search(spark, idx, SearchRequest("the", max_hits=3)).num_hits)
            except Exception as e:  # noqa: BLE001 — record everything
                errors.append(repr(e))

    def counter():
        while not stop.is_set():
            try:
                observed_all.add(search(spark, idx, SearchRequest("*", max_hits=0)).num_hits)
            except Exception as e:  # noqa: BLE001
                errors.append(repr(e))

    def window_counter():
        while not stop.is_set():
            try:
                observed_window.add(search(spark, idx, window).num_hits)
            except Exception as e:  # noqa: BLE001
                errors.append(repr(e))

    threads = [threading.Thread(target=f) for f in (searcher, counter, window_counter)]
    for th in threads:
        th.start()
    try:
        for i in (1, 2):
            build_index(
                spark, spark.createDataFrame(batches[i]), cfg, idx,
                build_id=f"c{i}", n_splits=4,
            )
            run_merge_pipeline(spark, idx)
            garbage_collect(idx)
    finally:
        stop.set()
        for th in threads:
            th.join(60)

    assert not any(th.is_alive() for th in threads)
    assert not errors, errors[:3]
    assert observed and observed <= valid, (sorted(observed), sorted(valid))
    assert observed_all and observed_all <= valid_all, (
        sorted(observed_all),
        sorted(valid_all),
    )
    assert observed_window and observed_window <= valid_window, (
        sorted(observed_window),
        sorted(valid_window),
    )
    assert 0 < in_window[1] and 0 < in_window[2] < len(batches[2])
