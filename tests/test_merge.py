"""Merge pipeline tests: policy leveling, k-way merge with docID remap,
atomic replace, GC — and rank-identity of search before/after merging."""

from pathlib import Path

import numpy as np
import pytest
from pyspark.sql import functions as F

from quickwit_spark.config import transcripts_config
from quickwit_spark.fixtures.transcripts import generate_transcripts
from quickwit_spark.functions.codec import decode_postings
from quickwit_spark.functions.tokenizer import tokenize_text
from quickwit_spark.index.builder import build_index
from quickwit_spark.index.catalog import MARKED_FOR_DELETION, PUBLISHED, Catalog, SplitMetadata
from quickwit_spark.index.merge import (
    build_merge_operations,
    garbage_collect,
    run_merge_pipeline,
    size_level,
)
from quickwit_spark.search.executor import search
from quickwit_spark.search.oracle import OracleIndex
from quickwit_spark.search.request import SearchRequest

CFG = transcripts_config(
    split_num_docs_target=2000, segment_num_docs_target=64, merge_factor=3, max_merge_factor=4
)


def test_size_levels():
    assert size_level(0) == 0
    assert size_level(99) == 0
    assert size_level(100) == 1
    assert size_level(299) == 1
    assert size_level(300) == 2
    assert size_level(900) == 3


def _meta(sid, n, seq):
    return SplitMetadata(split_id=sid, state=PUBLISHED, num_docs=n, ts_min=0, ts_max=1, create_seq=seq)


def test_policy_merges_same_level_only():
    splits = [_meta(f"s{i}", 150, i) for i in range(3)] + [_meta("big", 1500, 9)]
    ops = build_merge_operations(splits, CFG)
    assert len(ops) == 1
    assert sorted(ops[0].split_ids) == ["s0", "s1", "s2"]


def test_policy_respects_maturity():
    splits = [_meta(f"s{i}", 2500, i) for i in range(5)]  # all >= target → mature
    assert build_merge_operations(splits, CFG) == []


def test_policy_merge_factor_bounds():
    splits = [_meta(f"s{i}", 150, i) for i in range(9)]
    ops = build_merge_operations(splits, CFG)
    # 9 splits, max factor 4 → ops of 4 + 4 (leftover 1 waits)
    assert [len(o.split_ids) for o in ops] == [4, 4]
    # oldest first within the level
    assert ops[0].split_ids == ["s0", "s1", "s2", "s3"]


def test_policy_level_reaching_target_merges_below_factor():
    """merge_policy.rs merge_candidate_size + the reference's
    test_merge_policy_splits_entire_level_reach_merge_max_doc /
    ..._last_merge_can_have_a_lower_merge_factor: two splits whose docs
    already reach the target merge even though merge_factor is 3 —
    otherwise half-target splits linger forever."""
    ops = build_merge_operations([_meta("a", 1200, 0), _meta("b", 1200, 1)], CFG)
    assert len(ops) == 1 and sorted(ops[0].split_ids) == ["a", "b"]
    # ...but two splits BELOW the target stay unmerged (TooSmall)
    assert build_merge_operations([_meta("a", 150, 0), _meta("b", 150, 1)], CFG) == []
    # a single split never merges with itself (reference: len <= 1 TooSmall)
    assert build_merge_operations([_meta("a", 1999, 0)], CFG) == []


def test_policy_demuxed_splits_are_merge_mature():
    """merge_policy.rs:247-249: a demuxed split never merges again, no
    matter how small — re-merging would undo the tenant clustering."""
    demuxed = [
        SplitMetadata(
            split_id=f"d{i}", state=PUBLISHED, num_docs=150, ts_min=0,
            ts_max=1, create_seq=i, demux_num_ops=1,
        )
        for i in range(4)
    ]
    assert build_merge_operations(demuxed, CFG) == []
    # mixed: only the un-demuxed young splits merge
    mixed = demuxed + [_meta(f"s{i}", 150, 10 + i) for i in range(3)]
    ops = build_merge_operations(mixed, CFG)
    assert len(ops) == 1 and sorted(ops[0].split_ids) == ["s0", "s1", "s2"]


@pytest.fixture(scope="module")
def merged_index(spark, tmp_path_factory):
    pdf = generate_transcripts(n_conversations=50, seed=7)
    index_dir = str(tmp_path_factory.mktemp("merge-idx"))
    cfg = transcripts_config(
        split_num_docs_target=5000,  # every small split immature → mergeable
        segment_num_docs_target=64,
        merge_factor=3,
        max_merge_factor=4,
    )
    build_index(spark, spark.createDataFrame(pdf), cfg, index_dir, n_splits=6)
    produced = run_merge_pipeline(spark, index_dir)
    return index_dir, cfg, pdf, produced


def test_merge_end_to_end(spark, merged_index):
    index_dir, cfg, pdf, produced = merged_index
    assert produced, "expected at least one merge op"
    cat = Catalog(index_dir)
    pub = cat.splits([PUBLISHED])
    assert sum(s.num_docs for s in pub) == len(pdf)
    assert any(s.num_merge_ops >= 1 for s in pub)
    # merged postings match a brute-force recount
    merged_sid = produced[-1].split_id
    if any(s.split_id == merged_sid for s in pub):
        docs = (
            spark.read.parquet(f"{index_dir}/docs")
            .filter(F.col("split_id") == merged_sid)
            .toPandas()
            .sort_values("doc_id")
        )
        # docIDs dense after remap
        assert list(docs["doc_id"]) == list(range(len(docs)))
        postings = (
            spark.read.parquet(f"{index_dir}/postings")
            .filter((F.col("split_id") == merged_sid) & (F.col("field") == "text"))
            .toPandas()
        )
        expected: dict[str, dict[int, int]] = {}
        for r in docs.itertuples(index=False):
            for tok in tokenize_text(r.text):
                expected.setdefault(tok, {})
                expected[tok][r.doc_id] = expected[tok].get(r.doc_id, 0) + 1
        assert set(postings["term"]) == set(expected)
        for r in postings.itertuples(index=False):
            d, t = decode_postings(r.blob)
            exp = expected[r.term]
            assert list(d) == sorted(exp)
            assert list(t) == [exp[k] for k in sorted(exp)]


def test_search_after_merge_matches_oracle(spark, merged_index):
    index_dir, cfg, pdf, _ = merged_index
    docs = spark.read.parquet(f"{index_dir}/docs").toPandas()
    # drop rows of dead splits (docs dir still holds MarkedForDeletion data pre-GC)
    cat = Catalog(index_dir)
    live = {s.split_id for s in cat.splits([PUBLISHED])}
    docs = docs[docs["split_id"].isin(live)]
    oracle = OracleIndex(docs, cfg)
    for q in ["error", "deploy failure", "the OR deploy", "role:assistant error"]:
        req = SearchRequest(q, max_hits=10)
        resp = search(spark, index_dir, req)
        exp = oracle.search(req)
        assert resp.num_hits == exp["num_hits"], q
        assert [(h["split_id"], h["doc_id"]) for h in resp.hits] == [
            (h["split_id"], h["doc_id"]) for h in exp["hits"]
        ], q
        for g, w in zip(resp.hits, exp["hits"]):
            assert g["score"] == pytest.approx(w["score"], rel=1e-6)


def test_gc(spark, merged_index):
    index_dir, *_ = merged_index
    cat = Catalog(index_dir)
    dead = [s.split_id for s in cat.splits([MARKED_FOR_DELETION])]
    assert dead
    removed = garbage_collect(index_dir)
    assert set(removed) == set(dead)
    cat2 = Catalog(index_dir)
    assert cat2.splits([MARKED_FOR_DELETION]) == []
    # data files gone
    import os

    for sid in dead:
        assert not os.path.exists(f"{index_dir}/docs/split_id={sid}")
    # search still works post-GC
    resp = search(spark, index_dir, SearchRequest("error"))
    assert resp.num_hits >= 0


class _MergeBoom(Exception):
    pass


def test_merge_crash_before_publish_is_invisible_and_retryable(spark, tmp_index_dir):
    """A merge that dies after writing its output dirs but BEFORE the
    replace transaction leaves readers on the old splits (staged data is
    invisible — the reference's stage/publish split lifecycle) and a re-run
    completes the op cleanly (failpoints analog, merge_executor.rs:287,294)."""
    from quickwit_spark.search.executor import search
    from quickwit_spark.search.request import SearchRequest

    pdf = generate_transcripts(n_conversations=50, seed=13)
    cfg = transcripts_config(
        split_num_docs_target=5000,  # every small split immature → mergeable
        segment_num_docs_target=64,
        merge_factor=3,
        max_merge_factor=4,
    )
    build_index(spark, spark.createDataFrame(pdf), cfg, tmp_index_dir, n_splits=6)
    cat = Catalog(tmp_index_dir)
    before_ids = {s.split_id for s in cat.splits([PUBLISHED])}
    r_before = search(spark, tmp_index_dir, SearchRequest("the"))

    ops = build_merge_operations(cat.splits([PUBLISHED]), cfg)
    assert ops

    def boom(site):
        raise _MergeBoom(site)

    from quickwit_spark.index.merge import execute_merge_round

    with pytest.raises(_MergeBoom):
        execute_merge_round(spark, tmp_index_dir, ops, failpoint=boom)

    # catalog unchanged; queries see exactly the old splits and old results
    cat = Catalog(tmp_index_dir)
    assert {s.split_id for s in cat.splits([PUBLISHED])} == before_ids
    r_mid = search(spark, tmp_index_dir, SearchRequest("the"))
    assert (r_mid.num_hits, [h["doc_id"] for h in r_mid.hits]) == (
        r_before.num_hits,
        [h["doc_id"] for h in r_before.hits],
    )

    # retry completes; results identical on the merged layout
    run_merge_pipeline(spark, tmp_index_dir)
    garbage_collect(tmp_index_dir)
    cat = Catalog(tmp_index_dir)
    assert {s.split_id for s in cat.splits([PUBLISHED])} != before_ids
    r_after = search(spark, tmp_index_dir, SearchRequest("the"))
    assert r_after.num_hits == r_before.num_hits
    assert [h["conv_id"] for h in r_after.hits] == [h["conv_id"] for h in r_before.hits]


def test_merged_files_keep_bounded_row_groups(spark, tmp_path_factory, monkeypatch):
    """Merged postings/docs files must carry multiple row groups so bucket /
    doc_id min-max pruning survives compaction (the builder writes 4096/8192
    -row groups; Spark's default writer would emit one giant group)."""
    import pyarrow.parquet as pq

    from quickwit_spark.search import executor as ex

    from quickwit_spark.index import merge as mg

    monkeypatch.setenv("QW_MERGE_BLOCK_BYTES", str(16 << 10))  # force tiny groups
    # one postings writer per output split (planned as if on one slot):
    # this test asserts the row-group bound within a single file, so don't
    # spread the tiny corpus over several units (test_merge_write_fanout
    # covers that)
    plan = mg._plan_merge_units
    monkeypatch.setattr(mg, "_plan_merge_units", lambda *a: plan(*a[:-1], 1))
    pdf = generate_transcripts(n_conversations=50, seed=3)
    idx = str(tmp_path_factory.mktemp("rg-idx"))
    cfg = transcripts_config(
        split_num_docs_target=5000, segment_num_docs_target=64,
        merge_factor=3, max_merge_factor=4,
    )
    build_index(spark, spark.createDataFrame(pdf), cfg, idx, n_splits=6)
    produced = run_merge_pipeline(spark, idx)
    assert produced
    sid = produced[-1].split_id
    for table in ("postings", "docs"):
        f = ex._split_files(idx, table, sid)[0]
        md = pq.ParquetFile(f).metadata
        assert md.num_row_groups > 1, (table, md.num_rows, md.num_row_groups)


def test_merge_write_fanout(spark, tmp_path_factory, monkeypatch):
    """Parallel-write layout contract of a merged split: the map-only docs
    rewrite may interleave file-level doc_id ranges (scan tasks bin-pack
    input files), but every file must be internally doc_id-sorted (row-group
    stats prune the point lookups) and the union must be the exact dense
    docID space; postings files must keep DISJOINT contiguous bucket ranges
    (the range-partitioned one-shuffle write)."""
    import pyarrow.parquet as pq

    from quickwit_spark.search import executor as ex

    from quickwit_spark.index import merge as mg

    # four task slots per op: the round's biggest op gets at least four
    # postings units, whatever the op count of the round
    plan = mg._plan_merge_units
    monkeypatch.setattr(
        mg, "_plan_merge_units", lambda *a: plan(*a[:-1], 4 * len(a[2]))
    )
    pdf = generate_transcripts(n_conversations=50, seed=3)
    idx = str(tmp_path_factory.mktemp("fanout-idx"))
    cfg = transcripts_config(
        split_num_docs_target=5000, segment_num_docs_target=64,
        merge_factor=3, max_merge_factor=4,
    )
    build_index(spark, spark.createDataFrame(pdf), cfg, idx, n_splits=6)
    produced = run_merge_pipeline(spark, idx)
    assert produced
    sid = max(produced, key=lambda m: m.num_docs).split_id
    meta = next(m for m in produced if m.split_id == sid)

    all_ids = []
    for f in ex._split_files(idx, "docs", sid):
        ids = pq.read_table(f, columns=["doc_id"])["doc_id"].to_pylist()
        assert ids == sorted(ids), f"docs file {f} not internally doc_id-sorted"
        all_ids.extend(ids)
    assert sorted(all_ids) == list(range(meta.num_docs))  # dense, no dup/loss

    p_files = ex._split_files(idx, "postings", sid)
    assert len(p_files) > 1, "fan-out should write multiple postings files"
    ranges = []
    for f in p_files:
        md = pq.ParquetFile(f).metadata
        col = {md.schema.column(i).name: i for i in range(md.num_columns)}["bucket"]
        mins = [md.row_group(g).column(col).statistics.min for g in range(md.num_row_groups)]
        maxs = [md.row_group(g).column(col).statistics.max for g in range(md.num_row_groups)]
        ranges.append((min(mins), max(maxs)))
    ranges.sort()
    for (_, hi1), (lo2, _) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, f"postings bucket ranges interleave: {ranges}"


def test_gc_stale_staged(spark, tmp_index_dir):
    """gc --staged removes splits stuck in Staged (a build that died between
    stage and publish; garbage_collector.rs:56-146 stale-staged cleanup)."""
    import os

    from quickwit_spark.index.catalog import STAGED

    pdf = generate_transcripts(n_conversations=10, seed=2)
    cfg = transcripts_config(split_num_docs_target=300, segment_num_docs_target=64)
    build_index(spark, spark.createDataFrame(pdf), cfg, tmp_index_dir)
    cat = Catalog(tmp_index_dir)
    # simulate a crashed build: a staged row + orphan data dir
    cat.stage_split(SplitMetadata(split_id="stale-1", num_docs=3))
    os.makedirs(f"{tmp_index_dir}/docs/split_id=stale-1", exist_ok=True)

    assert garbage_collect(tmp_index_dir) == []  # default leaves Staged alone
    assert Catalog(tmp_index_dir).splits([STAGED])
    assert garbage_collect(tmp_index_dir, include_staged=True) == ["stale-1"]
    cat = Catalog(tmp_index_dir)
    assert cat.splits([STAGED]) == []
    assert not os.path.exists(f"{tmp_index_dir}/docs/split_id=stale-1")
    assert cat.splits()  # published splits untouched


def test_gc_grace_periods_and_dry_run(spark, tmp_index_dir):
    """run_garbage_collect semantics (garbage_collection.rs:76-146): staged
    splits age out via update_ts against staged_grace_secs; dry_run lists
    candidates without mutating; a positive deletion grace defers
    freshly-marked splits to the next pass."""
    import os
    import time

    from quickwit_spark.index.catalog import MARKED_FOR_DELETION, STAGED

    pdf = generate_transcripts(n_conversations=10, seed=3)
    cfg = transcripts_config(split_num_docs_target=300, segment_num_docs_target=64)
    build_index(spark, spark.createDataFrame(pdf), cfg, tmp_index_dir)
    cat = Catalog(tmp_index_dir)
    cat.stage_split(SplitMetadata(split_id="young-staged", num_docs=3))
    os.makedirs(f"{tmp_index_dir}/docs/split_id=young-staged", exist_ok=True)
    [young] = Catalog(tmp_index_dir).splits([STAGED])
    assert young.update_ts > 0, "stage_splits must stamp update_ts"

    # dry_run: reports the would-be candidates, deletes nothing
    cands = garbage_collect(tmp_index_dir, staged_grace_secs=0.0, dry_run=True)
    assert cands == ["young-staged"]
    assert Catalog(tmp_index_dir).splits([STAGED])
    assert os.path.exists(f"{tmp_index_dir}/docs/split_id=young-staged")

    # a staged split younger than the grace period survives a real pass
    assert garbage_collect(tmp_index_dir, staged_grace_secs=3600.0) == []
    assert Catalog(tmp_index_dir).splits([STAGED])

    # aged out (update_ts in the past) -> marked and, with the default 0
    # deletion grace, swept in the same pass
    def age(state):
        state["splits"]["young-staged"]["update_ts"] = time.time() - 7200

    cat = Catalog(tmp_index_dir)
    cat.update(age)
    assert garbage_collect(tmp_index_dir, staged_grace_secs=3600.0) == [
        "young-staged"
    ]
    assert not os.path.exists(f"{tmp_index_dir}/docs/split_id=young-staged")

    # a positive deletion grace defers a freshly-marked split to a later pass
    cat = Catalog(tmp_index_dir)
    victim = cat.splits()[0].split_id
    cat.mark_for_deletion([victim])
    assert garbage_collect(tmp_index_dir, deletion_grace_secs=3600.0) == []
    assert Catalog(tmp_index_dir).splits([MARKED_FOR_DELETION])
    assert garbage_collect(tmp_index_dir, deletion_grace_secs=0.0) == [victim]
    assert Catalog(tmp_index_dir).splits([MARKED_FOR_DELETION]) == []


def test_second_generation_merge_keeps_segment_order(spark, tmp_path_factory):
    """Regression: merging MERGED splits must keep fastfield segments unique
    and doc-ordered.  The old seg_id rebase (+ord*1_000_000) collided when a
    merge op's inputs were themselves merge outputs — a 3x3-then-1x3 merge
    tree produced duplicate seg_ids, scrambled the reader's seg_id-sorted
    doc_lens/ts concat, and silently changed BM25 scores and ts sorts."""
    from quickwit_spark.index.merge import MergeOperation, execute_merge_round

    pdf = generate_transcripts(n_conversations=45, seed=7)
    cfg = transcripts_config(split_num_docs_target=100, segment_num_docs_target=32)
    index_dir = str(tmp_path_factory.mktemp("idx-gen2"))
    build_index(spark, spark.createDataFrame(pdf), cfg, index_dir)
    cat = Catalog(index_dir)
    sids = sorted(s.split_id for s in cat.splits([PUBLISHED]))
    assert len(sids) >= 9, sids
    docs = spark.read.parquet(f"{index_dir}/docs").toPandas()
    docs = docs[docs["split_id"].isin(sids)]
    oracle = OracleIndex(docs, cfg)

    # round 1: three 3-way merges; round 2: merge the three outputs
    gen1 = [
        MergeOperation(split_ids=sids[i : i + 3], output_split_id=f"g1-{i}")
        for i in range(0, 9, 3)
    ]
    execute_merge_round(spark, index_dir, gen1)
    garbage_collect(index_dir)
    execute_merge_round(
        spark,
        index_dir,
        [MergeOperation(split_ids=[f"g1-{i}" for i in range(0, 9, 3)], output_split_id="g2-0")],
    )
    garbage_collect(index_dir)

    ff = spark.read.parquet(f"{index_dir}/fastfields").toPandas()
    ff = ff[ff["split_id"] == "g2-0"].sort_values("seg_id")
    assert ff["seg_id"].is_unique
    assert (ff["seg_id"].to_numpy() == ff["base_doc"].to_numpy()).all()

    leftovers = docs[~docs["split_id"].isin(sids[:9])]
    for q in ["error", "deploy failure", "the OR deploy"]:
        req = SearchRequest(q, max_hits=10, sort_by_field=None)
        resp = search(spark, index_dir, req)
        exp = oracle.search(req)
        assert resp.num_hits == exp["num_hits"], q
        for g, w in zip(resp.hits, exp["hits"]):
            assert g["score"] == pytest.approx(w["score"], rel=1e-6), q
    # sort-by-ts reads the segment-concatenated ts fast field: the engine's
    # sort_value must be each hit's true ts (scrambled segments returned
    # other docs' timestamps here under the old rebase)
    resp = search(spark, index_dir, SearchRequest("error", max_hits=10, sort_by_field="ts"))
    exp = oracle.search(SearchRequest("error", max_hits=10, sort_by_field="ts"))
    assert [(h["conv_id"], h["turn_idx"]) for h in resp.hits] == [
        (h["conv_id"], h["turn_idx"]) for h in exp["hits"]
    ]
    true_ts = {
        (r.conv_id, r.turn_idx): int(r.ts_epoch) for r in docs.itertuples(index=False)
    }
    for h in resp.hits:
        assert h["sort_value"] == true_ts[(h["conv_id"], h["turn_idx"])]


def test_merged_tags_drop_non_exhaustive_marker():
    """A field's 'f!' exhaustive marker survives a merge only if EVERY
    input carried it: one over-cap input (no tags) must strip the merged
    split of the marker, or tag pruning would drop splits that match."""
    from quickwit_spark.index.merge import _merge_tags

    a = SplitMetadata(split_id="a", num_docs=1, tags=["tool:t1", "tool!"])
    b = SplitMetadata(split_id="b", num_docs=1, tags=[])  # over-cap input
    assert _merge_tags([a, b], max_values=1000) == []
    c = SplitMetadata(split_id="c", num_docs=1, tags=["tool:t2", "tool!"])
    assert _merge_tags([a, c], max_values=1000) == ["tool!", "tool:t1", "tool:t2"]
    # the merged union re-applies the per-split cap
    assert _merge_tags([a, c], max_values=1) == []
    # fields merge independently
    d = SplitMetadata(split_id="d", num_docs=1, tags=["role:x", "role!", "tool:t3", "tool!"])
    e = SplitMetadata(split_id="e", num_docs=1, tags=["role:y", "role!"])
    assert _merge_tags([d, e], max_values=10) == ["role!", "role:x", "role:y"]


def test_replace_splits_validates_states(spark, tmp_path_factory):
    """Concurrent-merge guard: replacing a non-published split (lost race)
    or publishing a non-staged new split must fail inside the catalog
    transaction instead of double-publishing the same documents."""
    pdf = generate_transcripts(n_conversations=6, seed=5)
    idx = str(tmp_path_factory.mktemp("idx-replace"))
    cfg = transcripts_config(split_num_docs_target=40, segment_num_docs_target=16)
    build_index(spark, spark.createDataFrame(pdf), cfg, idx)
    cat = Catalog(idx)
    sids = [s.split_id for s in cat.splits([PUBLISHED])][:2]
    m = SplitMetadata(split_id="m-x", num_docs=1)
    cat.stage_split(m)
    with pytest.raises(ValueError, match="not staged"):
        cat.replace_splits(["never-staged"], sids)
    cat.replace_splits(["m-x"], sids)  # first merge wins
    m2 = SplitMetadata(split_id="m-y", num_docs=1)
    cat.stage_split(m2)
    with pytest.raises(ValueError, match="not published"):
        cat.replace_splits(["m-y"], sids)  # loser of the race fails loudly


def test_demux_refuses_indexed_unstored_fields(spark, tmp_path_factory):
    """Demux rebuilds from the doc store; an indexed-but-unstored field
    would silently lose its postings — refuse instead."""
    from quickwit_spark.config import FieldMapping
    from quickwit_spark.index.merge import execute_demux

    import dataclasses

    pdf = generate_transcripts(n_conversations=4, seed=9)
    pdf["hidden"] = "x"
    cfg = transcripts_config(split_num_docs_target=40, segment_num_docs_target=16)
    cfg = dataclasses.replace(
        cfg,
        field_mappings=tuple(cfg.field_mappings)
        + (FieldMapping(name="hidden", type="text", indexed=True, stored=False),),
    )
    idx = str(tmp_path_factory.mktemp("idx-demux-guard"))
    build_index(spark, spark.createDataFrame(pdf), cfg, idx)
    sids = [s.split_id for s in Catalog(idx).splits([PUBLISHED])]
    with pytest.raises(ValueError, match="unstored"):
        execute_demux(spark, idx, sids, "tool")


def test_gc_sweeps_uncataloged_split_dirs(spark, tmp_index_dir, monkeypatch):
    """A merge/build that crashed AFTER writing split data but BEFORE
    stage_split leaves dirs with no catalog row in any state; retries use
    fresh ids, so GC must sweep them (past the grace period) or the index
    leaks storage forever.  Young uncataloged dirs (an in-flight writer)
    survive the default grace."""
    import os

    pdf = generate_transcripts(n_conversations=10, seed=2)
    cfg = transcripts_config(split_num_docs_target=300, segment_num_docs_target=64)
    build_index(spark, spark.createDataFrame(pdf), cfg, tmp_index_dir)
    orphan_dirs = []
    for table in ("docs", "postings", "fastfields"):
        d = f"{tmp_index_dir}/{table}/split_id=m-deadbeef"
        os.makedirs(d, exist_ok=True)
        with open(f"{d}/part-0.parquet", "wb") as f:
            f.write(b"x")
        orphan_dirs.append(d)

    garbage_collect(tmp_index_dir)  # default grace: young orphan survives
    assert all(os.path.exists(d) for d in orphan_dirs)
    monkeypatch.setenv("QW_GC_GRACE_SECS", "0")
    garbage_collect(tmp_index_dir)
    assert not any(os.path.exists(d) for d in orphan_dirs)
    # cataloged splits untouched, search still works
    cat = Catalog(tmp_index_dir)
    assert cat.splits()
    assert search(spark, tmp_index_dir, SearchRequest("the")).num_hits > 0


def _built_ops(spark, idx, seed, n_splits):
    """A fresh index of ``n_splits`` small immature splits and its ops."""
    pdf = generate_transcripts(n_conversations=50, seed=seed)
    cfg = transcripts_config(
        split_num_docs_target=5000, segment_num_docs_target=64,
        merge_factor=3, max_merge_factor=4,
    )
    build_index(spark, spark.createDataFrame(pdf), cfg, idx, n_splits=n_splits)
    cat = Catalog(idx)
    return cat, build_merge_operations(cat.splits([PUBLISHED]), cfg)


def test_merge_round_is_one_spark_job(spark, tmp_path):
    """A whole merge round (every op, docs + postings + fastfields) runs as
    ONE Spark job of ONE stage: no range-sampling job, no shuffle."""
    import uuid

    from quickwit_spark.index.merge import execute_merge_round

    idx = str(tmp_path / "idx")
    cat, ops = _built_ops(spark, idx, seed=11, n_splits=8)
    assert len(ops) == 2
    n_in = {s.split_id: s.num_docs for s in cat.splits([PUBLISHED])}
    sc = spark.sparkContext
    group = f"merge-round-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, "merge round")
    try:
        produced = execute_merge_round(spark, idx, ops, cat)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    assert len(jobs) == 1, jobs
    assert len(tracker.getJobInfo(jobs[0]).stageIds) == 1
    assert [m.num_docs for m in produced] == [
        sum(n_in[sid] for sid in op.split_ids) for op in ops
    ]


class _ListingStorage:
    """Planner stand-in for the storage layer: one file per dir, of
    ``postings_bytes[split_id]`` bytes in a postings dir (4096 elsewhere)."""

    def __init__(self, postings_bytes):
        self.postings_bytes = postings_bytes

    def list_file_sizes(self, d):
        sid = d.rsplit("split_id=", 1)[1]
        size = self.postings_bytes[sid] if "/postings/" in d else 4096
        return [(f"{d}/part-0.parquet", size)]


@pytest.mark.parametrize("op_bytes, slots, per_op", [
    ([4096], 4, [4]),
    ([4096] * 10, 4, [1] * 10),
    ([4096] * 2, 4, [2, 2]),
    ([4096], 64, [8]),
    ([3 << 20, 1 << 20], 4, [3, 1]),
    ([15 << 20, 1 << 20], 8, [8, 1]),
    ([19 << 20, 21 << 20], 4, [2, 2]),
    ([50 << 20, 1 << 20, 1 << 20, 1 << 20], 4, [4, 1, 1, 1]),
    ([0, 0], 4, [2, 2]),
])
def test_plan_merge_units_fill_one_wave_of_slots(op_bytes, slots, per_op):
    """The round's task slots are shared by its ops in proportion to their
    postings input bytes, each op at least one postings unit and at most 8:
    1 op on 4 slots gets 4, 10 equal ops get 1 each, and a big op is not
    cut down to an even share while the small ops' writers sit idle.  Each
    op's postings units cover every bucket in disjoint contiguous ranges;
    a small op adds one docs/fastfields unit."""
    from quickwit_spark.index import merge as mg

    n_buckets = 256
    ops = [mg.MergeOperation([f"s{i}a", f"s{i}b"], f"m{i}") for i in range(len(op_bytes))]
    inputs_of = {
        op.output_split_id: [SplitMetadata(split_id=sid, num_docs=10) for sid in op.split_ids]
        for op in ops
    }
    sizes = {sid: b // 2 for op, b in zip(ops, op_bytes) for sid in op.split_ids}
    paths = {t: f"/idx/{t}" for t in ("docs", "postings", "fastfields")}
    units = mg._plan_merge_units(_ListingStorage(sizes), paths, ops, inputs_of, n_buckets, slots)
    kinds = [u.kind for u in units]
    assert kinds == ["postings"] * sum(per_op) + ["rows"] * len(ops)
    for op, n in zip(ops, per_op):
        mine = [u for u in units if u.kind == "postings" and u.out_split == op.output_split_id]
        assert [u.index for u in mine] == list(range(n))
        bounds = [(0 if u.lo is None else u.lo, n_buckets if u.hi is None else u.hi) for u in mine]
        assert bounds[0][0] == 0 and bounds[-1][1] == n_buckets
        assert all(lo < hi for lo, hi in bounds)
        assert all(a[1] == b[0] for a, b in zip(bounds, bounds[1:]))


def test_merge_unit_retry_rewrites_identical_files(spark, tmp_path):
    """A retried merge task rewrites its files at the same names with the
    same bytes and leaves nothing else behind (no temp names, no rename);
    the split keeps the dense docID space and disjoint postings bucket
    ranges test_merge_write_fanout checks."""
    import os

    import pyarrow.parquet as pq

    from quickwit_spark.config import IndexConfig
    from quickwit_spark.index import merge as mg
    from quickwit_spark.storage import storage_for

    idx = str(tmp_path / "idx")
    cat, ops = _built_ops(spark, idx, seed=3, n_splits=6)
    assert ops

    def boom(site):
        raise _MergeBoom(site)

    with pytest.raises(_MergeBoom):  # written, never published
        mg.execute_merge_round(spark, idx, ops, cat, failpoint=boom)
    op = ops[0]
    sid = op.output_split_id

    def snapshot():
        out = {}
        for table in ("docs", "postings", "fastfields"):
            d = f"{idx}/{table}/split_id={sid}"
            for name in os.listdir(d):
                with open(f"{d}/{name}", "rb") as f:
                    out[f"{table}/{name}"] = f.read()
        return out

    before = snapshot()
    config = IndexConfig.from_dict(cat.config_dict)
    metas = {s.split_id: s for s in cat.splits([PUBLISHED])}
    inputs_of = {o.output_split_id: [metas[s] for s in o.split_ids] for o in ops}
    # re-plan with the slot count the round planned with
    units = mg._plan_merge_units(
        storage_for(idx), mg._paths(idx), ops, inputs_of, config.term_merge_buckets,
        spark.sparkContext.defaultParallelism,
    )
    pick = [
        next(u for u in units if u.kind == kind and u.out_split == sid)
        for kind in ("postings", "rows")
    ]
    settings = mg._merge_settings(idx, config)
    for _ in range(2):
        for u in pick:
            mg._run_merge_unit(u, settings)
        assert snapshot() == before

    all_ids = []
    for name in sorted(before):
        path = f"{idx}/{name.split('/')[0]}/split_id={sid}/{name.split('/')[1]}"
        if name.startswith("docs/"):
            ids = pq.read_table(path, columns=["doc_id"])["doc_id"].to_pylist()
            assert ids == sorted(ids), name
            all_ids.extend(ids)
    assert sorted(all_ids) == list(range(sum(s.num_docs for s in inputs_of[sid])))
    ranges = []
    for name in before:
        if name.startswith("postings/part-"):
            t = pq.read_table(f"{idx}/postings/split_id={sid}/{name[9:]}", columns=["bucket"])
            ranges.append((min(t["bucket"].to_pylist()), max(t["bucket"].to_pylist())))
    assert len(ranges) > 1
    ranges.sort()
    for (_, hi1), (lo2, _) in zip(ranges, ranges[1:]):
        assert hi1 < lo2, ranges


def test_merge_mixed_vintage_inputs_match_oracle(spark, tmp_path):
    """A round-2 split (its postings lack chunk_ord, pos_chunk_blocks,
    pos_bm, bm_chunk_span and block_tf_cum) merged with a fresh split: the
    merge fills the missing columns and the merged split stays
    rank-identical to the oracle."""
    import os
    import shutil

    import pyarrow.parquet as pq

    from quickwit_spark.config import IndexConfig
    from quickwit_spark.index.merge import MergeOperation, execute_merge_round

    idx = str(tmp_path / "r2")
    shutil.copytree(os.path.join(os.path.dirname(__file__), "golden", "compat_r2_index"), idx)
    cfg = IndexConfig.from_dict(Catalog(idx).config_dict)
    [old] = [s.split_id for s in Catalog(idx).splits([PUBLISHED])]
    missing = {"chunk_ord", "pos_chunk_blocks", "pos_bm", "bm_chunk_span", "block_tf_cum"}
    old_schema = pq.read_schema(f"{idx}/postings/split_id={old}/part-0.parquet")
    assert not missing & set(old_schema.names)
    pdf = generate_transcripts(n_conversations=4, seed=5)
    build_index(spark, spark.createDataFrame(pdf), cfg, idx, build_id="fresh")
    fresh = [s.split_id for s in Catalog(idx).splits([PUBLISHED]) if s.split_id != old]
    assert fresh
    execute_merge_round(spark, idx, [MergeOperation([old] + fresh, "m-mixed")])
    garbage_collect(idx)
    assert [s.split_id for s in Catalog(idx).splits([PUBLISHED])] == ["m-mixed"]
    merged_schema = pq.read_schema(
        sorted(Path(f"{idx}/postings/split_id=m-mixed").glob("part-*.parquet"))[0]
    )
    assert missing <= set(merged_schema.names)

    docs = spark.read.parquet(f"{idx}/docs").toPandas()
    oracle = OracleIndex(docs, cfg)
    for q in ["deploy", '"the deploy"', "error OR timeout", "role:assistant error"]:
        req = SearchRequest(q, max_hits=15)
        resp = search(spark, idx, req)
        exp = oracle.search(req)
        assert resp.num_hits == exp["num_hits"], q
        assert [(h["split_id"], h["doc_id"]) for h in resp.hits] == [
            (h["split_id"], h["doc_id"]) for h in exp["hits"]
        ], q
        for g, w in zip(resp.hits, exp["hits"]):
            assert g["score"] == pytest.approx(w["score"], rel=1e-6), q


def test_merge_splits_big_inputs_into_row_group_units(spark, tmp_path, monkeypatch):
    """Inputs bigger than a docs/fastfields unit are cut into byte slices
    of their row groups, one unit each: every row lands exactly once, each
    output file stays doc_id-sorted, and search stays oracle-identical."""
    import os

    import pyarrow.parquet as pq

    from quickwit_spark.index import merge as mg

    pdf = generate_transcripts(n_conversations=45, seed=7)
    cfg = transcripts_config(split_num_docs_target=100, segment_num_docs_target=32)
    idx = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(pdf), cfg, idx)
    sids = sorted(s.split_id for s in Catalog(idx).splits([PUBLISHED]))[:9]
    # first generation: small row groups, so the merged files have many
    monkeypatch.setenv("QW_MERGE_BLOCK_BYTES", str(8 << 10))
    gen1 = [
        mg.MergeOperation(split_ids=sids[i : i + 3], output_split_id=f"g1-{i}")
        for i in range(0, 9, 3)
    ]
    mg.execute_merge_round(spark, idx, gen1)
    garbage_collect(idx)
    monkeypatch.setattr(mg, "_ROWS_UNIT_BYTES", 16 << 10)
    op = mg.MergeOperation(split_ids=[o.output_split_id for o in gen1], output_split_id="g2")
    cat = Catalog(idx)
    metas = {s.split_id: s for s in cat.splits([PUBLISHED])}
    units = mg._plan_merge_units(
        mg.storage_for(idx), mg._paths(idx), [op], {"g2": [metas[s] for s in op.split_ids]},
        cfg.term_merge_buckets, spark.sparkContext.defaultParallelism,
    )
    assert any(p[3] > 1 for u in units if u.kind == "rows" for p in u.inputs)
    mg.execute_merge_round(spark, idx, [op])
    garbage_collect(idx)

    d = f"{idx}/docs/split_id=g2"
    all_ids = []
    for name in sorted(os.listdir(d)):
        ids = pq.read_table(f"{d}/{name}", columns=["doc_id"])["doc_id"].to_pylist()
        assert ids == sorted(ids), name
        all_ids.extend(ids)
    assert len(os.listdir(d)) > 1
    assert sorted(all_ids) == list(range(sum(metas[s].num_docs for s in op.split_ids)))
    docs = spark.read.parquet(f"{idx}/docs").toPandas()
    oracle = OracleIndex(docs, cfg)
    for q in ["error", '"the deploy"', "the OR deploy"]:
        req = SearchRequest(q, max_hits=10)
        resp = search(spark, idx, req)
        exp = oracle.search(req)
        assert resp.num_hits == exp["num_hits"], q
        for g, w in zip(resp.hits, exp["hits"]):
            assert g["score"] == pytest.approx(w["score"], rel=1e-6), q


def test_merge_keeps_files_sorted_over_interleaved_inputs(spark, tmp_path):
    """An input split whose docs files interleave in doc_id (each one sorted,
    as the Spark writer of earlier merges left them) still merges into
    files that are each doc_id-sorted, with the dense docID space and
    oracle-identical results."""
    import os
    import shutil

    import pyarrow.parquet as pq

    from quickwit_spark.config import IndexConfig
    from quickwit_spark.index.merge import MergeOperation, execute_merge_round

    idx = str(tmp_path / "idx")
    cat, _ = _built_ops(spark, idx, seed=5, n_splits=3)
    sids = sorted(s.split_id for s in cat.splits([PUBLISHED]))
    d = f"{idx}/docs/split_id={sids[0]}"
    tmp = str(tmp_path / "rewritten")
    spark.read.parquet(d).repartition(3).sortWithinPartitions("doc_id").write.parquet(tmp)
    shutil.rmtree(d)
    os.makedirs(d)
    for name in sorted(os.listdir(tmp)):
        if name.endswith(".parquet"):
            shutil.copy(f"{tmp}/{name}", f"{d}/{name}")
    assert len(os.listdir(d)) == 3
    execute_merge_round(spark, idx, [MergeOperation(sids, "m-interleaved")])
    garbage_collect(idx)

    out = f"{idx}/docs/split_id=m-interleaved"
    all_ids = []
    for name in sorted(os.listdir(out)):
        ids = pq.read_table(f"{out}/{name}", columns=["doc_id"])["doc_id"].to_pylist()
        assert ids == sorted(ids), name
        all_ids.extend(ids)
    assert len(os.listdir(out)) > 1  # the interleaved input forced new files
    assert sorted(all_ids) == list(range(Catalog(idx).splits()[0].num_docs))
    cfg = IndexConfig.from_dict(Catalog(idx).config_dict)
    oracle = OracleIndex(spark.read.parquet(f"{idx}/docs").toPandas(), cfg)
    for q in ["error", '"the deploy"', "role:assistant error"]:
        req = SearchRequest(q, max_hits=10)
        resp, exp = search(spark, idx, req), oracle.search(req)
        assert resp.num_hits == exp["num_hits"], q
        assert [(h["split_id"], h["doc_id"]) for h in resp.hits] == [
            (h["split_id"], h["doc_id"]) for h in exp["hits"]
        ], q


def test_docs_unique_columns_have_no_dictionary(spark, tmp_path):
    """Built and merged docs files write the (nearly) unique columns —
    doc id, timestamps, tokenized text — without dictionary pages; a
    low-cardinality column (role) keeps its dictionary."""
    import glob

    import pyarrow.parquet as pq

    from quickwit_spark.index.merge import execute_merge_round

    def dictionary_pages(split_id):
        out = {}
        for f in glob.glob(f"{idx}/docs/split_id={split_id}/*.parquet"):
            md = pq.read_metadata(f)
            for g in range(md.num_row_groups):
                rg = md.row_group(g)
                for j in range(rg.num_columns):
                    c = rg.column(j)
                    out[c.path_in_schema] = out.get(c.path_in_schema, False) or c.has_dictionary_page
        return out

    idx = str(tmp_path / "idx")
    cat, ops = _built_ops(spark, idx, seed=3, n_splits=3)
    produced = execute_merge_round(spark, idx, ops, cat)
    for sid in [s.split_id for s in cat.splits([PUBLISHED])] + [m.split_id for m in produced]:
        pages = dictionary_pages(sid)
        assert pages, sid
        assert not any(pages[c] for c in ("doc_id", "ts", "ts_epoch", "text")), (sid, pages)
        assert pages["role"], sid
