"""Index-build pipeline tests: stable docIDs, postings correctness vs a
brute-force recount, split metadata, tags, invalid-row counters."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from quickwit_spark.config import transcripts_config
from quickwit_spark.fixtures.transcripts import corpus4, generate_transcripts
from quickwit_spark.functions.codec import decode_positions, decode_postings
from quickwit_spark.functions.tokenizer import tokenize_text
from quickwit_spark.index.builder import build_index
from quickwit_spark.index.catalog import Catalog


@pytest.fixture(scope="module")
def small_corpus():
    return generate_transcripts(n_conversations=40, seed=42)


def _build(spark, pdf, tmpdir, **kw):
    cfg = transcripts_config(split_num_docs_target=300, segment_num_docs_target=64)
    df = spark.createDataFrame(pdf)
    report = build_index(spark, df, cfg, tmpdir, **kw)
    return cfg, report


def test_build_end_to_end(spark, small_corpus, tmp_index_dir):
    cfg, report = _build(spark, small_corpus, tmp_index_dir)
    assert report.total_docs == len(small_corpus)
    assert report.invalid_docs == 0
    cat = Catalog(tmp_index_dir)
    splits = cat.splits()
    assert sum(s.num_docs for s in splits) == len(small_corpus)
    assert all(s.ts_min <= s.ts_max for s in splits)

    # docs table: doc_id dense 0..n-1 per split, ordered by (conv_id, turn_idx)
    docs = spark.read.parquet(f"{tmp_index_dir}/docs")
    pdf = docs.toPandas()
    for sid, g in pdf.groupby("split_id"):
        g = g.sort_values(["conv_id", "turn_idx"])
        assert list(g["doc_id"]) == list(range(len(g)))

    # postings vs brute-force recount on the text field
    postings = spark.read.parquet(f"{tmp_index_dir}/postings").filter(F.col("field") == "text").toPandas()
    # pick one split, rebuild expected postings in pure python
    sid = splits[0].split_id
    sub = pdf[pdf["split_id"] == sid].sort_values("doc_id")
    expected: dict[str, dict[int, list[int]]] = {}
    for _, row in sub.iterrows():
        for p, tok in enumerate(tokenize_text(row["text"])):
            expected.setdefault(tok, {}).setdefault(row["doc_id"], []).append(p)
    got = postings[postings["split_id"] == sid]
    assert set(got["term"]) == set(expected)
    for r in got.itertuples(index=False):
        exp = expected[r.term]
        d, t = decode_postings(r.blob)
        assert list(d) == sorted(exp)
        assert list(t) == [len(exp[k]) for k in sorted(exp)]
        flat_pos = decode_positions(r.positions, t)
        exp_pos = [p for k in sorted(exp) for p in exp[k]]
        assert list(flat_pos) == exp_pos
        assert r.doc_freq == len(exp)
        # block metadata sanity
        assert r.block_last_doc[-1] == d[-1]


def test_docids_stable_across_parallelism(spark, small_corpus, tmp_index_dir):
    """north rule: docID assignment independent of parallelism/scheduling."""
    cfg = transcripts_config(split_num_docs_target=300, segment_num_docs_target=64)
    df1 = spark.createDataFrame(small_corpus).repartition(7)
    df2 = spark.createDataFrame(small_corpus.sample(frac=1.0, random_state=3)).repartition(2)
    d1 = f"{tmp_index_dir}/a"
    d2 = f"{tmp_index_dir}/b"
    build_index(spark, df1, cfg, d1)
    build_index(spark, df2, cfg, d2)
    a = (
        spark.read.parquet(f"{d1}/docs")
        .select("split_id", "doc_id", "conv_id", "turn_idx")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    b = (
        spark.read.parquet(f"{d2}/docs")
        .select("split_id", "doc_id", "conv_id", "turn_idx")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(a, b)


def test_per_turn_text_equality(spark, small_corpus, tmp_index_dir):
    """north rule (BASELINE.json input_hint): per-row invariant vs the
    source — per-turn text equality under stable turn ordering.  Every turn
    of the corpus must round-trip through the doc store byte-identically."""
    _build(spark, small_corpus, tmp_index_dir)
    stored = (
        spark.read.parquet(f"{tmp_index_dir}/docs")
        .select("conv_id", "turn_idx", "text", "role", "tool")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    src = (
        small_corpus[["conv_id", "turn_idx", "text", "role", "tool"]]
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    assert len(stored) == len(small_corpus)
    pd.testing.assert_frame_equal(stored, src, check_dtype=False)


def test_invalid_rows_counted(spark, tmp_index_dir):
    pdf = corpus4()
    bad = pdf.copy()
    bad.loc[1, "ts"] = pd.NaT  # missing required fast field → rejected
    cfg = transcripts_config()
    report = build_index(spark, spark.createDataFrame(bad), cfg, tmp_index_dir)
    assert report.invalid_docs == 1
    assert report.total_docs == 3


def test_tags_and_field_stats(spark, small_corpus, tmp_index_dir):
    _build(spark, small_corpus, tmp_index_dir)
    cat = Catalog(tmp_index_dir)
    for s in cat.splits():
        assert "role!" in s.tags
        assert any(t.startswith("role:") for t in s.tags)
        assert s.field_len_sums["text"] > 0
        assert s.field_len_sums["conv_id"] == s.num_docs
        assert s.metrics["num_terms"] > 0
        assert s.metrics["postings_bytes"] > 0
        assert len(s.metrics["segments"]) >= 1
    stats = cat.global_stats()
    assert stats["num_docs"] == len(small_corpus)
    assert stats["avg_len"]["text"] > 0


def test_sorted_index_build(spark, small_corpus, tmp_index_dir):
    """Sorted-index option (reference IndexSortByField, indexer.rs:315-321):
    with sort_by declared, each split's docs (and so its docIDs) are ordered
    by that field; segment ts_min/ts_max become tight ranges so time filters
    skip whole segments.  Search results must be identical to the unsorted
    layout (order is an internal layout choice)."""
    from quickwit_spark.search.executor import search
    from quickwit_spark.search.request import SearchRequest

    cfg = transcripts_config(
        split_num_docs_target=300,
        segment_num_docs_target=64,
        sort_by_field="ts",
        sort_by_order="desc",
    )
    build_index(spark, spark.createDataFrame(small_corpus), cfg, tmp_index_dir)
    docs = spark.read.parquet(f"{tmp_index_dir}/docs").toPandas()
    for sid, g in docs.groupby("split_id"):
        g = g.sort_values("doc_id")
        ts = g["ts"].astype("int64").to_numpy()
        assert (ts[1:] <= ts[:-1]).all(), f"split {sid} not ts-descending"

    # hit SETS identical to a default-layout index (docIDs are an internal
    # layout choice; with the config default sort active, an unsorted request
    # on the sorted index equals an explicit ts-desc request on the plain one)
    import tempfile, shutil
    plain = tempfile.mkdtemp(prefix="qwplain-")
    try:
        build_index(
            spark,
            spark.createDataFrame(small_corpus),
            transcripts_config(split_num_docs_target=300, segment_num_docs_target=64),
            plain,
        )
        for q, lo, hi in [
            ("error", None, None),
            ("token deploy", None, None),
            # time filter exercises segment skipping on the tight sorted ranges
            (
                "the",
                int(small_corpus["ts"].astype("int64").quantile(0.3) // 10**9),
                int(small_corpus["ts"].astype("int64").quantile(0.7) // 10**9),
            ),
        ]:
            a = search(
                spark, tmp_index_dir,
                SearchRequest(q, max_hits=50, start_timestamp=lo, end_timestamp=hi),
            )
            b = search(
                spark, plain,
                SearchRequest(q, max_hits=50, start_timestamp=lo, end_timestamp=hi,
                              sort_by_field="ts"),
            )
            assert a.num_hits == b.num_hits
            sv = [h["sort_value"] for h in a.hits]
            assert sv == sorted(sv, reverse=True)
            assert sorted((h["conv_id"], h["turn_idx"]) for h in a.hits) == sorted(
                (h["conv_id"], h["turn_idx"]) for h in b.hits
            )
    finally:
        shutil.rmtree(plain, ignore_errors=True)


def test_multichunk_build_identical(spark, small_corpus, tmp_path_factory, monkeypatch):
    """A split bigger than one encode chunk takes the in-task per-term
    chunk-merge path (_merge_term_entries — the path EVERY 10M-doc split
    takes at the reference scale, since CHUNK_DOCS is 262k).  Forcing tiny
    chunks must yield byte-identical postings/fastfields to the single-pass
    build: the merge decodes chunk blobs and re-encodes the full list."""
    import functools

    from quickwit_spark.index import builder as B

    cfg = transcripts_config(split_num_docs_target=300, segment_num_docs_target=64)
    df = spark.createDataFrame(small_corpus)
    d1 = str(tmp_path_factory.mktemp("chunk1"))
    build_index(spark, df, cfg, d1)

    orig = B.make_split_builder
    monkeypatch.setattr(
        B, "make_split_builder", functools.partial(orig, chunk_docs=64)
    )
    d2 = str(tmp_path_factory.mktemp("chunkN"))
    build_index(spark, df, cfg, d2)

    for table, key in (
        ("postings", ["split_id", "bucket", "field", "term"]),
        ("fastfields", ["split_id", "seg_id"]),
        ("docs", ["split_id", "doc_id"]),
    ):
        a = spark.read.parquet(f"{d1}/{table}").toPandas().sort_values(key).reset_index(drop=True)
        b = spark.read.parquet(f"{d2}/{table}").toPandas().sort_values(key).reset_index(drop=True)
        assert list(a.columns) == list(b.columns), table
        # nullable int columns (bm_chunk_span) read back as float NaN,
        # and NaN != NaN — normalize to None before the list compare
        norm = lambda s: [  # noqa: E731
            None
            if (isinstance(x, float) and x != x)
            else (x.tolist() if hasattr(x, "tolist") else x)
            for x in s
        ]
        for col in a.columns:
            assert norm(a[col]) == norm(b[col]), f"{table}.{col} differs"


def test_spilled_build_identical(spark, small_corpus, tmp_path_factory, monkeypatch):
    """Postings-spill path (builder_spill_mb): forcing a spill after every
    encode chunk must yield byte-identical postings/termstats/fastfields/
    docs to the resident single-write build — the k-way run merge at
    finish() re-encodes each term's full posting list exactly like the
    in-memory chunk merge.  This is the path that bounds per-task memory
    for fresh builds at the reference's 10M-doc split target."""
    import functools
    import json

    from quickwit_spark.index import builder as B

    df = spark.createDataFrame(small_corpus)
    d1 = str(tmp_path_factory.mktemp("resident"))
    cfg = transcripts_config(split_num_docs_target=300, segment_num_docs_target=64)
    build_index(spark, df, cfg, d1)

    # tiny chunks + zero threshold → every split k-way merges several runs
    monkeypatch.setattr(
        B, "make_split_builder", functools.partial(B.make_split_builder, chunk_docs=64)
    )
    cfg_spill = transcripts_config(
        split_num_docs_target=300, segment_num_docs_target=64, builder_spill_mb=0
    )
    d2 = str(tmp_path_factory.mktemp("spilled"))
    build_index(spark, df, cfg_spill, d2)

    for table, key in (
        ("postings", ["split_id", "bucket", "field", "term"]),
        ("termstats", ["split_id", "bucket", "field", "term"]),
        ("fastfields", ["split_id", "seg_id"]),
        ("docs", ["split_id", "doc_id"]),
    ):
        a = spark.read.parquet(f"{d1}/{table}").toPandas().sort_values(key).reset_index(drop=True)
        b = spark.read.parquet(f"{d2}/{table}").toPandas().sort_values(key).reset_index(drop=True)
        assert list(a.columns) == list(b.columns), table
        # nullable int columns (bm_chunk_span) read back as float NaN,
        # and NaN != NaN — normalize to None before the list compare
        norm = lambda s: [  # noqa: E731
            None
            if (isinstance(x, float) and x != x)
            else (x.tolist() if hasattr(x, "tolist") else x)
            for x in s
        ]
        for col in a.columns:
            assert norm(a[col]) == norm(b[col]), f"{table}.{col} differs"

    # split metadata (num_terms, field_len_sums, tags) must agree too
    meta1 = {s.split_id: s for s in Catalog(d1).splits()}
    meta2 = {s.split_id: s for s in Catalog(d2).splits()}
    assert set(meta1) == set(meta2)
    for sid, s1 in meta1.items():
        s2 = meta2[sid]
        assert (s1.num_docs, s1.tags) == (s2.num_docs, s2.tags), sid
        assert json.dumps(s1.field_len_sums, sort_keys=True) == json.dumps(
            s2.field_len_sums, sort_keys=True
        ), sid


def test_out_of_range_timestamp_fails_build(spark, tmp_path_factory):
    """ts_epoch outside u32 range must fail the build loudly (the fastfield
    blob bitpacks u32 seconds; silent wraparound would corrupt pruning)."""
    import datetime

    pdf = generate_transcripts(n_conversations=3, seed=1)
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")  # room beyond ns range
    pdf.loc[0, "ts"] = pd.Timestamp("2200-01-01")  # > 2^32 epoch
    cfg = transcripts_config(split_num_docs_target=300, segment_num_docs_target=64)
    with pytest.raises(Exception, match="2\\^32|u32|PythonException") as ei:
        build_index(spark, spark.createDataFrame(pdf), cfg, str(tmp_path_factory.mktemp("oor")))
    assert "2^32" in str(ei.value) or "1970-2106" in str(ei.value)


def test_batched_encode_byte_identical_to_per_term():
    """_encode_flat_postings (batched pack_segments path) must produce
    byte-identical rows to the per-term reference path
    (_postings_from_flat + _encode_term) — including blobs, positions,
    lens, and skip arrays — across hot (multi-block) and cold terms."""
    import numpy as np

    from quickwit_spark.index.builder import (
        _encode_flat_postings,
        _encode_term,
        _postings_from_flat,
    )

    rng = np.random.default_rng(9)
    n_docs, total = 3000, 80_000
    doc_rep = np.sort(rng.integers(0, n_docs, total))
    vocab = np.array([f"w{i:04d}" for i in range(500)], object)
    probs = np.ones(500)
    probs[:4] = 300  # hot terms -> multi-block fallback path
    probs /= probs.sum()
    flat_terms = vocab[rng.choice(500, total, p=probs)]
    starts = np.flatnonzero(np.concatenate(([True], doc_rep[1:] != doc_rep[:-1])))
    cnts = np.diff(np.concatenate((starts, [total])))
    pos = np.arange(total) - np.repeat(starts, cnts)
    lens_by_doc = np.zeros(n_docs, np.uint32)
    present = np.unique(doc_rep)
    lens_by_doc[present] = np.bincount(doc_rep)[present].astype(np.uint32)
    for want_pos in (True, False):
        got = {
            t: tuple(tail)
            for t, *tail in _encode_flat_postings(
                flat_terms, doc_rep, pos, lens_by_doc, 0, want_pos
            )
        }
        want = {
            term: _encode_term(d, tf, p, plens)
            for term, d, tf, p, plens in _postings_from_flat(
                flat_terms, doc_rep, pos, lens_by_doc, 0, want_pos
            )
        }
        assert got == want


def test_invalid_rows_counted_exactly_once_across_resume(spark, tmp_path_factory):
    """A null-conv_id row hashes to a REAL ord (xxhash64(NULL) is the seed,
    never null) and is counted with that ord's wave — so across a crash +
    resume + idempotent re-run the error taxonomy counts it exactly once,
    never once per invocation (streaming restarts must not inflate it)."""
    pdf = generate_transcripts(n_conversations=30, seed=11)
    bad = pdf.copy()
    bad.loc[3, "conv_id"] = None
    idx = str(tmp_path_factory.mktemp("resume-inv") / "idx")
    cfg = transcripts_config(split_num_docs_target=80, segment_num_docs_target=64)

    class _Boom(Exception):
        pass

    def failpoint(wave_idx):
        if wave_idx == 1:
            raise _Boom()

    with pytest.raises(_Boom):
        build_index(spark, spark.createDataFrame(bad), cfg, idx,
                    wave_size=1, failpoint=failpoint)
    # the crashed run published waves 0-1 but NOT the bad row's ord
    # (42 % 8 = 2), so the resume counts it — once
    report = build_index(spark, spark.createDataFrame(bad), cfg, idx, wave_size=1)
    assert report.invalid_docs == 1
    # idempotent third run: everything checkpointed, nothing recounted
    report3 = build_index(spark, spark.createDataFrame(bad), cfg, idx, wave_size=1)
    assert report3.invalid_docs == 0 and report3.published_splits == []
    cat = Catalog(idx)
    assert sum(s.num_docs for s in cat.splits()) == len(pdf) - 1


def test_duplicate_doc_keys_build_deterministically(spark, tmp_path_factory):
    """Rows sharing (conv_id, turn_idx) — user error, but real — must land
    in a deterministic order (full-row-hash tiebreak), so a task re-attempt
    rewrites byte-identical files and retries stay idempotent."""
    pdf = generate_transcripts(n_conversations=8, seed=5)
    dup = pd.concat([pdf, pdf.iloc[:5].assign(text="dup-" + pdf.iloc[:5]["text"])])
    cfg = transcripts_config(split_num_docs_target=60, segment_num_docs_target=32)
    base = tmp_path_factory.mktemp("dupdet")
    frames = []
    for sub, shuffled in (("a", False), ("b", True)):
        idx = str(base / sub)
        src = dup.sample(frac=1.0, random_state=7) if shuffled else dup
        build_index(spark, spark.createDataFrame(src), cfg, idx)
        frames.append(
            spark.read.parquet(f"{idx}/docs")
            .select("split_id", "doc_id", "conv_id", "turn_idx", "text")
            .toPandas()
            .sort_values(["split_id", "doc_id"])
            .reset_index(drop=True)
        )
    pd.testing.assert_frame_equal(frames[0], frames[1])


def test_spark_hash_int_matches_spark(spark):
    """The numpy port of Spark's int hash (Murmur3_x86_32.hashInt, seed 42)
    equals ``F.hash`` on int32 edge values and random ints."""
    from quickwit_spark.index.builder import _spark_hash_int

    rng = np.random.default_rng(3)
    ks = [0, 1, -1, 2, -2, 2**31 - 1, -(2**31), 2**31 - 2, -(2**31) + 1, 42]
    ks += rng.integers(-(2**31), 2**31, size=10_000, dtype=np.int64).tolist()
    df = spark.createDataFrame(pd.DataFrame({"k": np.asarray(ks, np.int32)}))
    want = [r["h"] for r in df.select(F.hash("k").alias("h")).collect()]
    got = _spark_hash_int(np.asarray(ks, np.int64)).tolist()
    assert got == want


def test_slot_keys_match_spark_partitioning(spark):
    """``_slot_keys(p)`` is the smallest k per slot of Spark-evaluated
    ``pmod(hash(k), p)`` — the map a ``repartition(p, key)`` applies — for
    every p in 1..300 and two larger counts."""
    from quickwit_spark.index.builder import _slot_keys

    ps = list(range(1, 301)) + [1024, 4099]
    keys = {p: _slot_keys(p) for p in ps}
    assert all(len(keys[p]) == p for p in ps)
    # every k below each count's largest key, so Spark finds the minimum
    bounds = spark.createDataFrame([(p, max(keys[p])) for p in ps], "p int, kmax int")
    rows = (
        bounds.select("p", F.explode(F.sequence(F.lit(0), "kmax")).alias("k"))
        .select("p", "k", F.pmod(F.hash("k"), F.col("p")).alias("slot"))
        .groupBy("p", "slot")
        .agg(F.min("k").alias("k"))
        .collect()
    )
    want = {p: [None] * p for p in ps}
    for r in rows:
        want[r["p"]][r["slot"]] = r["k"]
    assert want == keys


def test_build_runs_only_the_split_build_job(spark, small_corpus, tmp_path):
    """A build with ``n_splits`` over a parquet source plans without a
    Spark job: its job group holds only the split-build mapInPandas job
    (two jobs under AQE: the shuffle's map stage, then the build stage)."""
    import uuid

    src = str(tmp_path / "src.parquet")
    spark.createDataFrame(small_corpus).write.parquet(src)
    source = spark.read.parquet(src)
    cfg = transcripts_config(split_num_docs_target=300, segment_num_docs_target=64)
    sc = spark.sparkContext
    group = f"build-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "build")
    try:
        report = build_index(spark, source, cfg, str(tmp_path / "idx"), n_splits=3)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert report.total_docs == len(small_corpus)
    tracker = sc.statusTracker()
    jobs = sorted(tracker.getJobIdsForGroup(group))
    assert 1 <= len(jobs) <= 2, jobs
    sites = {
        tracker.getStageInfo(st).name
        for j in jobs
        for st in tracker.getJobInfo(j).stageIds
    }
    assert len(sites) == 1, sites  # every stage is the one collect of the build
