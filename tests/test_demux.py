"""Demux merge tests — the MergeExecutor::process_demux analog
(reference merge_executor.rs:337-487; bin packing merge_executor.rs:651-772
with proptest invariants at merge_executor.rs:1111-1151)."""

import dataclasses

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from quickwit_spark.config import transcripts_config
from quickwit_spark.fixtures.transcripts import generate_transcripts
from quickwit_spark.index.builder import build_index
from quickwit_spark.index.catalog import Catalog, PUBLISHED
from quickwit_spark.index.merge import (
    build_merge_operations,
    demux_bin_packing,
    execute_demux,
    garbage_collect,
)
from quickwit_spark.search.executor import search
from quickwit_spark.search.request import SearchRequest

CFG = transcripts_config(split_num_docs_target=10_000, segment_num_docs_target=128)


@settings(max_examples=100, deadline=None)
@given(
    counts=st.lists(st.integers(min_value=1, max_value=10_000), min_size=1, max_size=40),
    num_bins=st.integers(min_value=1, max_value=8),
)
def test_bin_packing_invariants(counts, num_bins):
    """Reference proptest invariants: every value assigned exactly once,
    totals preserved, bins are contiguous in sorted-value order, and no bin
    exceeds ceil(total/bins) by more than one value's worth."""
    values = [(f"v{i:04d}", c) for i, c in enumerate(counts)]
    assignment, bin_docs = demux_bin_packing(values, num_bins)
    assert set(assignment) == {v for v, _ in values}
    assert sum(bin_docs) == sum(counts)
    # contiguity: bin index is non-decreasing in sorted value order
    bins_in_order = [assignment[v] for v, _ in sorted(values)]
    assert all(b2 >= b1 for b1, b2 in zip(bins_in_order, bins_in_order[1:]))
    assert max(bins_in_order) < num_bins
    # balance bound of fixed-target next-fit: every bin holds at most
    # target + (num_bins - 1) * max_value (closed bins overflow by at most
    # one value; the tail bin absorbs at most (k-1) values' worth of slack)
    target = -(-sum(counts) // num_bins)
    maxv = max(counts)
    assert max(bin_docs) <= target + (num_bins - 1) * maxv + maxv


def test_demux_clusters_by_tool(spark, tmp_path_factory):
    idx = str(tmp_path_factory.mktemp("demux") / "idx")
    pdf = generate_transcripts(n_conversations=60, seed=21)
    df = spark.createDataFrame(pdf)
    build_index(spark, df, CFG, idx, build_id="b", n_splits=3)
    cat = Catalog(idx)
    old = [s.split_id for s in cat.splits()]
    total_docs = sum(s.num_docs for s in cat.splits())
    before = search(spark, idx, SearchRequest("error OR deploy", max_hits=5))

    new_metas = execute_demux(spark, idx, old, "tool", num_outputs=3)
    cat = Catalog(idx)
    pub = cat.splits([PUBLISHED])
    assert sorted(s.split_id for s in pub) == sorted(s.split_id for s in new_metas)
    assert sum(s.num_docs for s in pub) == total_docs

    # demux lineage: each output is demuxed once, which makes it
    # merge-mature below the doc target — the policy's young-split filter
    # skips it, where the same splits without lineage would merge
    assert [s.demux_num_ops for s in pub] == [1] * len(pub)
    assert all(s.num_docs < CFG.split_num_docs_target for s in pub)
    eager = transcripts_config(
        split_num_docs_target=10_000, segment_num_docs_target=128,
        merge_factor=2, max_merge_factor=len(pub),
    )
    one_level = eager.split_num_docs_target  # every output in one size level
    assert build_merge_operations(pub, eager, one_level) == []
    assert build_merge_operations(
        [dataclasses.replace(s, demux_num_ops=0) for s in pub], eager, one_level
    )

    # demux locality: distinct conv-level tool values per split must be far
    # below the global distinct count (each bin owns a contiguous value range)
    docs = spark.read.parquet(f"{idx}/docs")
    conv_tool = (
        docs.groupBy("split_id", "conv_id").agg(F.min_by("tool", "turn_idx").alias("v"))
    )
    per_split = {
        r["split_id"]: r["n"]
        for r in conv_tool.groupBy("split_id").agg(F.countDistinct("v").alias("n")).collect()
        if r["split_id"] in {s.split_id for s in pub}
    }
    global_distinct = conv_tool.select("v").distinct().count()
    assert sum(per_split.values()) <= global_distinct + len(per_split) - 1

    # queries still return the same results (num_hits + top hit text)
    after = search(spark, idx, SearchRequest("error OR deploy", max_hits=5))
    assert after.num_hits == before.num_hits
    assert [h["text"] for h in after.hits] == [h["text"] for h in before.hits]

    # old split data is GC-able
    deleted = garbage_collect(idx)
    assert sorted(deleted) == sorted(old)


def test_demux_on_numeric_tenant_field(spark, tmp_path):
    """Demux by a u64 tenant field through the full generic path: the
    mapper auto-tags the demux field (reference default_mapper.rs:131-139),
    the rewrite clusters by tenant, tenant term queries stay correct, and
    tag pruning on the numeric tag value prunes splits driver-side."""
    import json as _json

    from quickwit_spark.config import IndexConfig
    from quickwit_spark.docmapper import DocMapper
    from quickwit_spark.index.generic import build_index_from_ndjson
    from quickwit_spark.search.executor import prune_splits
    from quickwit_spark.search.parser import parse_query

    mapper = DocMapper.from_dict(
        {
            "default_search_fields": ["body"],
            "field_mappings": [
                {"name": "body", "type": "text"},
                {"name": "tenant", "type": "u64", "fast": True, "indexed": True},
            ],
            "demux_field": "tenant",
        }
    )
    nd = tmp_path / "t.ndjson"
    nd.write_text(
        "\n".join(
            _json.dumps({"body": f"needle doc {i}", "tenant": i % 4})
            for i in range(120)
        )
        + "\n"
    )
    idx = str(tmp_path / "idx")
    build_index_from_ndjson(spark, str(nd), mapper, idx, split_num_docs_target=40)
    cat = Catalog(idx)
    old = [s.split_id for s in cat.splits([PUBLISHED])]
    before = search(spark, idx, SearchRequest("tenant:2 needle"))
    assert before.num_hits == 30

    execute_demux(spark, idx, old, "tenant")
    cat = Catalog(idx)
    cfg = IndexConfig.from_dict(cat.config_dict)
    after = search(spark, idx, SearchRequest("tenant:2 needle"))
    assert after.num_hits == 30

    # numeric tag pruning: each post-demux split carries its tenants' tag
    # values; tenant:2 must hit a strict subset of the published splits
    ast = parse_query("tenant:2", cfg)
    pruned = prune_splits(cat, cfg, ast, SearchRequest("tenant:2"))
    pub = cat.splits([PUBLISHED])
    assert 0 < len(pruned) < len(pub)
