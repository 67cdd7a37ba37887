"""Index-time position bitmaps (pos_bm): hot-term phrase verification as a
bit-parallel shift-AND with ZERO position decode — results must be
bit-identical to the delta-decode path across fresh/merged layouts, and
rows that cannot be represented (positions >= 128) must fall back."""

from __future__ import annotations

import glob
import os

import numpy as np
import pandas as pd
import pytest

from quickwit_spark.config import transcripts_config
from quickwit_spark.fixtures.transcripts import generate_transcripts
from quickwit_spark.functions.codec import (
    decode_positions,
    encode_position_bitmaps,
    encode_positions,
)
from quickwit_spark.index.builder import (
    BM_BLOCK_BYTES,
    _split_chunked_positions,
    build_index,
)
from quickwit_spark.index.merge import garbage_collect, run_merge_pipeline
from quickwit_spark.search.executor import search
from quickwit_spark.search.request import SearchRequest

CFG = transcripts_config(
    split_num_docs_target=50_000, segment_num_docs_target=64,
    merge_factor=3, max_merge_factor=4,
)

QUERIES = [
    SearchRequest('"the deploy"'),
    SearchRequest('"the error"'),
    SearchRequest('"a deploy failure"'),
    SearchRequest("deploy failure"),
    SearchRequest('"the a"~2'),       # slop stays on the decode path
    SearchRequest("zzznothing"),
]


def _key(resp):
    return resp.num_hits, [
        (h["conv_id"], h["turn_idx"], h["score"]) for h in resp.hits
    ]


def test_bitmap_roundtrip_unit():
    rng = np.random.RandomState(7)
    tfs = rng.randint(1, 9, size=200)
    parts = [np.sort(rng.choice(127, size=t, replace=False)) for t in tfs]
    ps = np.concatenate(parts).astype(np.uint32)
    blob = encode_positions(ps, tfs)
    bm = encode_position_bitmaps(blob, tfs)
    assert bm is not None and len(bm) == 16 * len(tfs)
    words = np.frombuffer(bm, "<u8").reshape(-1, 2)
    for d, p_d in enumerate(parts):
        have = {
            b for w in (0, 1) for b in range(64)
            if (int(words[d, w]) >> b) & 1
            for b in [b + 64 * w]
        }
        assert have == set(int(x) for x in p_d), d


def test_bitmap_refuses_large_positions():
    tfs = np.array([2, 1])
    ps = np.array([3, 130, 5], np.uint32)  # 130 >= 128
    assert encode_position_bitmaps(encode_positions(ps, tfs), tfs) is None


def test_bitmap_width_check_skips_the_decode(monkeypatch):
    """A positions payload packed at width >= 8 holds a delta >= 128, so
    its bitmaps are refused from the header, before any decode; below
    width 8 the decoded running positions still decide."""
    from quickwit_spark.functions import codec

    wide = encode_positions(np.array([3, 140, 5], np.uint32), np.array([2, 1]))
    # doc 0 packs deltas 100 and 100 (width 7) but runs to position 200
    narrow_tfs = np.array([2, 1])
    narrow = encode_positions(np.array([100, 200, 5], np.uint32), narrow_tfs)
    assert wide[4] == 8 and narrow[4] == 7

    def boom(*a, **k):
        raise AssertionError("decoded a payload the header rules out")

    with monkeypatch.context() as m:
        m.setattr(codec, "decode_positions", boom)
        assert encode_position_bitmaps(wide, np.array([2, 1])) is None
    assert encode_position_bitmaps(narrow, narrow_tfs) is None


@pytest.fixture(scope="module")
def twin(spark, tmp_path_factory, request):
    base = tmp_path_factory.mktemp("posbm")
    pdf = generate_transcripts(n_conversations=120, seed=9)
    os.environ["QW_POSBM_MIN_TOTAL_TF"] = "1"   # bitmaps on every row
    try:
        build_index(spark, spark.createDataFrame(pdf), CFG, str(base / "bm"),
                    n_splits=8)
    finally:
        os.environ["QW_POSBM_MIN_TOTAL_TF"] = str(1 << 60)  # none at all
    try:
        build_index(spark, spark.createDataFrame(pdf), CFG, str(base / "plain"),
                    n_splits=8)
    finally:
        del os.environ["QW_POSBM_MIN_TOTAL_TF"]
    return str(base / "bm"), str(base / "plain")


def test_bitmap_phrase_identical_to_decode_path(spark, twin):
    bm_dir, plain_dir = twin
    # the bitmap index really carries the column
    import pyarrow.dataset as pads

    f = glob.glob(bm_dir + "/postings/split_id=*/part-0.parquet")[0]
    p = pads.dataset(f).to_table(columns=["pos_bm", "chunk_ord"]).to_pandas()
    assert p[p["chunk_ord"] == 0]["pos_bm"].notna().any()
    for req in QUERIES:
        assert _key(search(spark, bm_dir, req)) == _key(
            search(spark, plain_dir, req)
        ), req.query


def test_bitmap_survives_merge(spark, twin):
    """Merged rows re-derive pos_bm from the reassembled payload (mixed-
    vintage inputs need no per-input bookkeeping); results stay identical
    to the bitmap-less twin after BOTH merge."""
    bm_dir, plain_dir = twin
    before = {req.query: _key(search(spark, bm_dir, req)) for req in QUERIES}
    os.environ["QW_POSBM_MIN_TOTAL_TF"] = "1"
    try:
        assert run_merge_pipeline(spark, bm_dir)
    finally:
        del os.environ["QW_POSBM_MIN_TOTAL_TF"]
    garbage_collect(bm_dir, include_staged=False, deletion_grace_secs=0.0)
    import pyarrow.dataset as pads

    files = glob.glob(bm_dir + "/postings/split_id=*/*.parquet")
    t = pads.dataset(files).to_table(columns=["pos_bm", "chunk_ord"]).to_pandas()
    assert t[t["chunk_ord"] == 0]["pos_bm"].notna().any()
    for req in QUERIES:
        assert _key(search(spark, bm_dir, req)) == before[req.query], req.query


def test_multi_search_reports_its_phrase_counters(spark, twin):
    """take_phrase_counters() reports the most recent top-k leaf, and a
    multi_search batch is one: after a decode-path search() on the plain
    twin, a batch holding a phrase on the bitmap layout reports the same
    verification counts as that phrase's own search()."""
    from quickwit_spark.search.executor import multi_search, take_phrase_counters

    bm_dir, plain_dir = twin
    req = SearchRequest('"the deploy"')
    search(spark, bm_dir, req)
    want = take_phrase_counters()
    assert want.get("phrase_terms_bitmap", 0) > 0, want
    search(spark, plain_dir, req)
    assert take_phrase_counters().get("phrase_terms_bitmap", 0) == 0
    multi_search(spark, bm_dir, [req, SearchRequest("deploy")])
    got = take_phrase_counters()
    for k in ("phrase_terms_bitmap", "phrase_terms_decode"):
        assert got.get(k, 0) == want.get(k, 0), (k, got, want)


def test_default_threshold_skips_low_tf_rows(spark, tmp_path):
    """At the default 64k floor a tiny index stores NO bitmaps (the delta
    payload is smaller and cheap there) and everything still works."""
    pdf = generate_transcripts(n_conversations=10, seed=4)
    d = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(pdf), CFG, d)
    import pyarrow.dataset as pads

    f = glob.glob(d + "/postings/split_id=*/part-0.parquet")[0]
    p = pads.dataset(f).to_table(columns=["pos_bm"]).to_pandas()
    assert not p["pos_bm"].notna().any()
    assert search(spark, d, SearchRequest('"the deploy"')).num_hits >= 0


def test_range_unit_bitmap_path_identical(spark, twin, monkeypatch):
    """Doc-range leaf units take the bitmap path via phrase_view's global
    doc ranks: force carving (tiny range size, heavy threshold 1, RDD
    leaf) and pin equality against the bitmap-less twin under the same
    carving."""
    bm_dir, plain_dir = twin
    monkeypatch.setenv("QW_LEAF_RANGE_DOCS", "512")
    monkeypatch.setenv("QW_LEAF_HEAVY_ROWS", "1")
    monkeypatch.setenv("QW_DRIVER_LEAF_MAX_SPLITS", "0")  # force the RDD leaf
    for req in QUERIES:
        assert _key(search(spark, bm_dir, req)) == _key(
            search(spark, plain_dir, req)
        ), req.query


@pytest.fixture(scope="module")
def chunked_twin(spark, tmp_path_factory):
    """Same corpus indexed three ways: bitmaps CHUNKED (tiny byte target
    forces bm chunk rows on every df > 256 term), bitmaps inline, and no
    bitmaps at all — the bit-identical-twin harness for the chunked
    layout (the shape that lets hot terms above the retired 1M-df
    ceiling carry bitmaps at the reference's 10M-doc split target)."""
    base = tmp_path_factory.mktemp("posbm_chunked")
    pdf = generate_transcripts(n_conversations=120, seed=9)
    os.environ["QW_POSBM_MIN_TOTAL_TF"] = "1"
    os.environ["QW_POS_CHUNK_BYTES"] = "4096"
    os.environ["QW_BM_CHUNK_BYTES"] = "4096"
    try:
        build_index(spark, spark.createDataFrame(pdf), CFG, str(base / "chunked"),
                    n_splits=8)
    finally:
        del os.environ["QW_POS_CHUNK_BYTES"]
        del os.environ["QW_BM_CHUNK_BYTES"]
    try:
        build_index(spark, spark.createDataFrame(pdf), CFG, str(base / "inline"),
                    n_splits=8)
    finally:
        os.environ["QW_POSBM_MIN_TOTAL_TF"] = str(1 << 60)
    try:
        build_index(spark, spark.createDataFrame(pdf), CFG, str(base / "plain"),
                    n_splits=8)
    finally:
        del os.environ["QW_POSBM_MIN_TOTAL_TF"]
    return {k: str(base / k) for k in ("chunked", "inline", "plain")}


def _postings_pdf(index_dir, cols):
    import pyarrow.dataset as pads

    files = glob.glob(index_dir + "/postings/split_id=*/*.parquet")
    return pads.dataset(files).to_table(columns=cols).to_pandas()


def test_chunked_bitmap_layout_written(chunked_twin):
    p = _postings_pdf(chunked_twin["chunked"],
                      ["chunk_ord", "pos_bm", "bm_chunk_span", "doc_freq"])
    bm_chunks = p[p["chunk_ord"] < 0]
    assert len(bm_chunks) > 0, "no bitmap chunk rows written"
    assert bm_chunks["pos_bm"].notna().all()
    assert bm_chunks["positions"].isna().all() if "positions" in p else True
    spanned = p[(p["chunk_ord"] == 0) & p["bm_chunk_span"].notna()]
    assert len(spanned) > 0, "no primary row carries bm_chunk_span"
    # the chunked rows' primary cells are empty (span replaces the payload)
    assert spanned["pos_bm"].isna().all()
    # every chunked primary's byte total reassembles to exactly 16*df
    # (checked PER SPLIT — ranks are split-local)
    import pyarrow.dataset as pads

    split_dirs = glob.glob(chunked_twin["chunked"] + "/postings/split_id=*")
    checked = 0
    for sd in split_dirs:
        full = pads.dataset(glob.glob(sd + "/*.parquet")).to_table(
            columns=["field", "term", "chunk_ord", "pos_bm",
                     "bm_chunk_span", "doc_freq"]
        ).to_pandas()
        prim = full[(full["chunk_ord"] == 0) & full["bm_chunk_span"].notna()]
        for r in prim.head(5).itertuples(index=False):
            chunks = full[(full["field"] == r.field) & (full["term"] == r.term)
                          & (full["chunk_ord"] < 0)]
            total = sum(len(b) for b in chunks["pos_bm"])
            assert total == 16 * int(r.doc_freq), (sd, r.field, r.term)
            checked += 1
    assert checked > 0


def test_chunked_bitmap_phrase_identical(spark, chunked_twin):
    from quickwit_spark.search.executor import take_phrase_counters

    saw_bitmap = False
    for req in QUERIES:
        k_chunked = _key(search(spark, chunked_twin["chunked"], req))
        ctr = take_phrase_counters()  # counters of the CHUNKED query
        saw_bitmap = saw_bitmap or ctr.get("bitmap_rows_chunked", 0) > 0
        k_inline = _key(search(spark, chunked_twin["inline"], req))
        k_plain = _key(search(spark, chunked_twin["plain"], req))
        assert k_chunked == k_inline == k_plain, req.query
    assert saw_bitmap, "no query exercised the chunked-bitmap path"


def test_chunked_bitmap_range_units_identical(spark, chunked_twin, monkeypatch):
    """Doc-range leaf units fetch only their candidates' bitmap chunks —
    results must stay identical under forced carving + the RDD leaf."""
    monkeypatch.setenv("QW_LEAF_RANGE_DOCS", "512")
    monkeypatch.setenv("QW_LEAF_HEAVY_ROWS", "1")
    monkeypatch.setenv("QW_DRIVER_LEAF_MAX_SPLITS", "0")
    for req in QUERIES:
        a = _key(search(spark, chunked_twin["chunked"], req))
        b = _key(search(spark, chunked_twin["plain"], req))
        assert a == b, req.query


def test_explain_reports_phrase_term_storage(spark, chunked_twin):
    from quickwit_spark.search.executor import explain

    rep = explain(spark, chunked_twin["chunked"], SearchRequest('"the deploy"'))
    paths = {e["term"]: e["path"] for e in rep["phrase_term_storage"]}
    assert paths["the"] == "bitmap_chunked"
    assert all(p in ("bitmap_chunked", "bitmap_inline") for p in paths.values())
    chunks = {e["term"]: e["bm_chunks"] for e in rep["phrase_term_storage"]}
    assert chunks["the"] >= 2
    rep2 = explain(spark, chunked_twin["plain"], SearchRequest('"the deploy"'))
    assert all(e["path"] == "decode" for e in rep2["phrase_term_storage"])
    rep3 = explain(spark, chunked_twin["chunked"], SearchRequest("deploy"))
    assert rep3["phrase_term_storage"] == []


@pytest.mark.parametrize(
    "target, bm_target, n_blocks, span",
    [
        # positions chunking off must not turn bitmap chunking off
        (0, 4 * BM_BLOCK_BYTES, 10, 4),
        # a positions target above the bitmap threshold must not yield
        # one chunk bigger than that threshold
        (1 << 20, 4 * BM_BLOCK_BYTES, 10, 4),
        (2 * BM_BLOCK_BYTES, 4 * BM_BLOCK_BYTES, 10, 2),
        # default knobs: span = positions target (layout unchanged)
        (1 << 20, 16 << 20, (16 << 20) // BM_BLOCK_BYTES + 1, 512),
    ],
)
def test_bitmap_chunk_span(target, bm_target, n_blocks, span):
    bm = (bytes(range(256)) * (n_blocks * BM_BLOCK_BYTES // 256 + 1))[
        : n_blocks * BM_BLOCK_BYTES
    ]
    pdf = pd.DataFrame({
        "split_id": ["s"], "bucket": [0], "field": ["text"], "term": ["the"],
        "positions": [None], "block_tf_cum": [None], "pos_bm": [bm],
    })
    prim, chunks = _split_chunked_positions(pdf, target, bm_target)
    assert prim["pos_bm"].iat[0] is None
    assert prim["bm_chunk_span"].iat[0] == span
    assert list(chunks["chunk_ord"]) == [-k - 1 for k in range(-(-n_blocks // span))]
    assert all(len(b) <= min(span * BM_BLOCK_BYTES, bm_target) for b in chunks["pos_bm"])
    assert b"".join(chunks["pos_bm"]) == bm


def test_bitmaps_chunk_with_positions_chunking_off(spark, chunked_twin, tmp_path, monkeypatch):
    """QW_POS_CHUNK_BYTES=0 keeps positions inline but must still chunk
    bitmaps above QW_BM_CHUNK_BYTES, and phrase results stay identical."""
    d = str(tmp_path / "bm_only")
    monkeypatch.setenv("QW_POSBM_MIN_TOTAL_TF", "1")
    monkeypatch.setenv("QW_POS_CHUNK_BYTES", "0")
    monkeypatch.setenv("QW_BM_CHUNK_BYTES", "4096")
    pdf = generate_transcripts(n_conversations=120, seed=9)
    build_index(spark, spark.createDataFrame(pdf), CFG, d, n_splits=8)
    p = _postings_pdf(d, ["chunk_ord"])
    assert (p["chunk_ord"] < 0).any(), "no bitmap chunk rows written"
    assert not (p["chunk_ord"] > 0).any(), "positions were chunked"
    for req in QUERIES:
        assert _key(search(spark, d, req)) == _key(
            search(spark, chunked_twin["plain"], req)
        ), req.query


def test_chunked_bitmap_survives_merge(spark, chunked_twin):
    """Merged rows re-derive bitmaps from the merged positions and re-chunk
    on the way out; bitmap chunk rows and inline cells never ride the
    merge shuffle (scan-filtered), and results stay identical."""
    d = chunked_twin["chunked"]
    before = {req.query: _key(search(spark, d, req)) for req in QUERIES}
    os.environ["QW_POSBM_MIN_TOTAL_TF"] = "1"
    os.environ["QW_POS_CHUNK_BYTES"] = "4096"
    os.environ["QW_BM_CHUNK_BYTES"] = "4096"
    try:
        assert run_merge_pipeline(spark, d)
    finally:
        del os.environ["QW_POSBM_MIN_TOTAL_TF"]
        del os.environ["QW_POS_CHUNK_BYTES"]
        del os.environ["QW_BM_CHUNK_BYTES"]
    garbage_collect(d, include_staged=False, deletion_grace_secs=0.0)
    p = _postings_pdf(d, ["chunk_ord", "pos_bm", "bm_chunk_span"])
    assert (p["chunk_ord"] < 0).any(), "merged split lost its bitmap chunks"
    for req in QUERIES:
        assert _key(search(spark, d, req)) == before[req.query], req.query


def test_mixed_mode_phrase_identical(spark, tmp_path_factory):
    """MIXED verification: a threshold that gives ONLY the hot terms
    bitmaps ("the", "a", ...) while the rarer phrase terms stay on the
    decode path — results must be bit-identical to the all-decode twin,
    and the counters must show BOTH paths in one query."""
    from quickwit_spark.search.executor import take_phrase_counters

    base = tmp_path_factory.mktemp("posbm_mixed")
    pdf = generate_transcripts(n_conversations=120, seed=9)
    os.environ["QW_POSBM_MIN_TOTAL_TF"] = "1500"  # hot terms only
    try:
        build_index(spark, spark.createDataFrame(pdf), CFG,
                    str(base / "mixed"), n_splits=8)
    finally:
        os.environ["QW_POSBM_MIN_TOTAL_TF"] = str(1 << 60)
    try:
        build_index(spark, spark.createDataFrame(pdf), CFG,
                    str(base / "plain"), n_splits=8)
    finally:
        del os.environ["QW_POSBM_MIN_TOTAL_TF"]
    # the mixed index really is mixed: some text rows carry pos_bm, not all
    p = _postings_pdf(str(base / "mixed"), ["field", "pos_bm", "chunk_ord"])
    prim = p[(p["chunk_ord"] == 0) & (p["field"] == "text")]
    n_bm = int(prim["pos_bm"].notna().sum())
    assert 0 < n_bm < len(prim), (n_bm, len(prim))
    saw_mixed = False
    for req in QUERIES:
        got = _key(search(spark, str(base / "mixed"), req))
        ctr = take_phrase_counters()
        if ctr.get("phrase_terms_bitmap", 0) and ctr.get("phrase_terms_decode", 0):
            saw_mixed = True
        assert got == _key(search(spark, str(base / "plain"), req)), req.query
    assert saw_mixed, "no query exercised the mixed bitmap+decode path"
