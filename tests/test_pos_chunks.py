"""Positions-payload chunking: big terms' position streams are stored as
separately fetchable chunk ROWS (cut at posting-block boundaries) so a
doc-range leaf unit reads only the chunks its blocks map to, instead of
the whole multi-MB parquet cell (builder._split_chunked_positions,
codec.chunk_positions, executor._read_split_postings_chunks).

Chunking is a pure STORAGE layout change — every query class must return
bit-identical results against an unchunked twin, through the fresh
layout, the spill path, the merge pipeline (reassemble → merge →
re-chunk), the qwsim/hotcache read path, and doc-range leaf units."""

from __future__ import annotations

import numpy as np
import pytest

import quickwit_spark.search.executor as ex
from quickwit_spark.config import transcripts_config
from quickwit_spark.fixtures.transcripts import generate_transcripts
from quickwit_spark.functions.codec import (
    block_tf_cum,
    chunk_positions,
    decode_positions,
    decode_positions_at,
    encode_positions,
    reassemble_position_chunks,
)
from quickwit_spark.index.builder import build_index
from quickwit_spark.index.merge import garbage_collect, run_merge_pipeline
from quickwit_spark.search.cache import SPLIT_CACHE
from quickwit_spark.search.executor import search
from quickwit_spark.search.request import SearchRequest
from quickwit_spark.storage import storage_for

CFG = transcripts_config(
    split_num_docs_target=400,
    segment_num_docs_target=128,
    merge_factor=3,
    max_merge_factor=4,
)

QUERIES = [
    SearchRequest('"the deploy"'),
    SearchRequest('"the error"~2'),
    SearchRequest("the deploy"),
    SearchRequest("the", max_hits=15),
    SearchRequest("error OR timeout", max_hits=15),
    SearchRequest("deploy", sort_by_field="ts"),
]


def _hits_key(resp):
    return resp.num_hits, [
        (h["conv_id"], h["turn_idx"], round(h["score"], 9)) for h in resp.hits
    ]


def test_chunk_roundtrip_property():
    rng = np.random.default_rng(3)
    tfs = rng.integers(1, 8, size=1200).astype(np.int64)
    total = int(tfs.sum())
    starts = np.cumsum(tfs) - tfs
    flat = (np.arange(total, dtype=np.uint32) - np.repeat(starts, tfs)) * 5 + 2
    blob = encode_positions(flat.astype(np.uint32), tfs)
    tfc = block_tf_cum(tfs)
    chunks = chunk_positions(blob, tfc, target_bytes=256)
    assert chunks is not None and len(chunks) > 1
    # reassembled blob decodes identically
    re = reassemble_position_chunks([b for _, b in chunks])
    np.testing.assert_array_equal(decode_positions(re, tfs), flat)
    # and per-chunk addressed decode == whole-blob addressed decode
    bounds = np.append(tfc, total)
    chunk_starts = [b for b, _ in chunks]
    chunk_vidx = [int(tfc[b]) for b in chunk_starts]
    vex = np.cumsum(tfs) - tfs
    for ci, (first_block, cblob) in enumerate(chunks):
        lo_v = chunk_vidx[ci]
        hi_v = chunk_vidx[ci + 1] if ci + 1 < len(chunks) else total
        sel = np.flatnonzero((vex >= lo_v) & (vex < hi_v))
        got = decode_positions_at(cblob, vex[sel] - lo_v, tfs[sel])
        want = decode_positions_at(blob, vex[sel], tfs[sel])
        np.testing.assert_array_equal(got, want)
    # small payloads stay inline
    assert chunk_positions(blob, tfc, target_bytes=1 << 20) is None


@pytest.fixture(scope="module")
def twin_builds(spark, tmp_path_factory):
    """The same corpus four ways: unchunked local, CHUNKED local (2 KiB
    threshold forces chunk rows for the stopword terms), chunked+spilled,
    and chunked on qwsim (hotcache read path)."""
    import os as _os

    base = tmp_path_factory.mktemp("poschunks")
    pdf = generate_transcripts(n_conversations=40, seed=13)
    plain = str(base / "plain")
    build_index(spark, spark.createDataFrame(pdf), CFG, plain, build_id="b0")

    _os.environ["QW_POS_CHUNK_BYTES"] = "2048"
    try:
        chunked = str(base / "chunked")
        build_index(spark, spark.createDataFrame(pdf), CFG, chunked, build_id="b0")
        spilled = str(base / "spilled")
        cfg2 = transcripts_config(
            split_num_docs_target=400, segment_num_docs_target=128,
            merge_factor=3, max_merge_factor=4, builder_spill_mb=0,
        )
        build_index(spark, spark.createDataFrame(pdf), cfg2, spilled, build_id="b0")
        sim = f"qwsim://{base}/sim"
        build_index(spark, spark.createDataFrame(pdf), CFG, sim, build_id="b0")
    finally:
        _os.environ.pop("QW_POS_CHUNK_BYTES", None)
    return plain, chunked, spilled, sim


def test_chunk_rows_written(twin_builds):
    _, chunked, spilled, _ = twin_builds
    import pyarrow.dataset as pads

    for idx in (chunked, spilled):
        st = storage_for(idx)
        files = [
            f
            for f in st.list_files(f"{idx}/postings/split_id=b0-00000")
        ]
        assert any(f.endswith("chunks-0.parquet") for f in files), files
        pdf = pads.dataset(files).to_table().to_pandas()
        assert (pdf["chunk_ord"] > 0).any()
        primaries = pdf[pdf["chunk_ord"] == 0]
        chunked_rows = primaries[primaries["pos_chunk_blocks"].notna()]
        assert len(chunked_rows) > 0
        assert chunked_rows["positions"].isna().all()


def test_chunked_results_identical(spark, twin_builds):
    plain, chunked, spilled, sim = twin_builds
    SPLIT_CACHE.clear()
    for req in QUERIES:
        want = _hits_key(search(spark, plain, req))
        assert _hits_key(search(spark, chunked, req)) == want, req.query
        assert _hits_key(search(spark, spilled, req)) == want, req.query
        assert _hits_key(search(spark, sim, req)) == want, req.query


def test_chunked_ranged_units_identical(spark, twin_builds, monkeypatch):
    """Doc-range leaf units over chunked splits fetch per-unit chunks —
    results identical to whole-split execution on the unchunked twin."""
    plain, chunked, _, sim = twin_builds
    baseline = {r.query: _hits_key(search(spark, plain, r)) for r in QUERIES}
    monkeypatch.setenv("QW_DRIVER_LEAF_MAX_SPLITS", "0")
    monkeypatch.setenv("QW_LEAF_HEAVY_ROWS", "0")
    monkeypatch.setenv("QW_LEAF_RANGE_DOCS", "64")
    monkeypatch.setattr(ex.root, "_contains_phrase", lambda asts: True)
    SPLIT_CACHE.clear()
    for req in QUERIES:
        assert _hits_key(search(spark, chunked, req)) == baseline[req.query], req.query
        assert _hits_key(search(spark, sim, req)) == baseline[req.query], req.query


def test_chunked_merge_pipeline_identical(spark, twin_builds):
    """Merge over chunked inputs: chunks reassemble, merge in gap space,
    and re-chunk on the way out; merged-layout queries stay identical to
    the unchunked twin's merged layout."""
    plain, chunked, _, _ = twin_builds
    import os as _os

    _os.environ["QW_POS_CHUNK_BYTES"] = "2048"
    try:
        for d in (plain, chunked):
            run_merge_pipeline(spark, d)
            garbage_collect(d)
    finally:
        _os.environ.pop("QW_POS_CHUNK_BYTES", None)
    SPLIT_CACHE.clear()
    for req in QUERIES:
        assert _hits_key(search(spark, chunked, req)) == _hits_key(
            search(spark, plain, req)
        ), req.query
    # the merged chunked layout still carries chunk rows
    import pyarrow.dataset as pads

    st = storage_for(chunked)
    from quickwit_spark.index.catalog import Catalog

    sid = Catalog(chunked).splits()[0].split_id
    files = st.list_files(f"{chunked}/postings/split_id={sid}")
    pdf = pads.dataset(files).to_table(columns=["chunk_ord"]).to_pandas()
    assert (pdf["chunk_ord"] > 0).any()
