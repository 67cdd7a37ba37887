"""The process's one split cache (search/cache.py) and the split epoch
its keys carry: LRU order, byte accounting that stays equal to what is
held (external fast-field payloads and FastFields decodes included),
thread safety, a rebuild-in-place that changes every epoch, and a
search() that plans once for its snippets and score explain."""

from __future__ import annotations

import argparse
import random
import sys
import threading
import time

import pytest

from quickwit_spark.config import transcripts_config
from quickwit_spark.fixtures.transcripts import (
    generate_transcripts,
    write_transcripts_parquet,
)
from quickwit_spark.index.builder import build_index
from quickwit_spark.index.catalog import Catalog
from quickwit_spark.index import hotcache
from quickwit_spark.index.builder import _paths
from quickwit_spark.search import root, split_io
from quickwit_spark.search.cache import SPLIT_CACHE, SplitCache
from quickwit_spark.search.executor import multi_search, search
from quickwit_spark.search.request import SearchRequest

CFG = transcripts_config(split_num_docs_target=600, segment_num_docs_target=128)


class _Closable:
    def __init__(self):
        self.closed = False

    def close(self):
        self.closed = True


def test_hit_moves_entry_to_the_end():
    """After a touch, the hottest key survives an over-budget insert; the
    least recently used one is evicted and closed."""
    c = SplitCache(budget=300)
    a, b = _Closable(), _Closable()
    c.put("a", a, 100)
    c.put("b", b, 100)
    c.put("c", object(), 100)
    assert c.get("a") is a  # touch: "b" is now the least recently used
    c.put("d", object(), 100)
    assert c.get("a") is a and c.get("b") is None
    assert b.closed and not a.closed
    assert c.total == 300 == sum(c.charged().values())


def test_put_replaces_and_skips_oversized():
    c = SplitCache(budget=300)
    c.put("a", "x", 100)
    c.put("a", "y", 250)  # replacement re-charges, never double-counts
    assert c.get("a") == "y" and c.total == 250
    c.put("big", "z", 301)  # larger than the budget: not kept
    assert c.get("big") is None and c.get("a") == "y" and c.total == 250
    c.grow("a", "not-the-value", 1000)  # a stale holder charges nothing
    assert c.total == 250
    c.grow("a", "y", 100)  # growth past the budget evicts
    assert c.total == 0 and c.get("a") is None
    assert SplitCache(budget=0).get("a") is None


def test_concurrent_use_keeps_the_total_exact():
    """put/get/grow from 8 threads: the charged total equals the sum of
    the live entries and fits the budget."""
    c = SplitCache(budget=20_000)

    def hammer(seed):
        rng = random.Random(seed)
        for _ in range(3000):
            k = rng.randrange(64)
            op = rng.random()
            if op < 0.4:
                c.put(k, object(), rng.randrange(1, 2000))
            elif op < 0.8:
                c.get(k)
            else:
                v = c.get(k)
                if v is not None:
                    c.grow(k, v, rng.randrange(1, 500))

    threads = [threading.Thread(target=hammer, args=(i,)) for i in range(8)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)  # switch threads as often as possible
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert c.total == sum(c.charged().values())
    assert 0 < c.total <= 20_000


def test_budget_holds_with_external_fastfields(spark, tmp_path, monkeypatch):
    """A big split's fast fields, read from their own files, and their
    FastFields decodes are charged as they load: every FastFields entry is
    charged at least its frame plus its memoized decodes, a split's
    footers entry holds no fast-field payload, and the total stays within
    a budget smaller than the hot set."""
    sim_dir = f"qwsim://{tmp_path}/sim_ext"
    pdf = generate_transcripts(n_conversations=30, seed=7)
    build_index(spark, spark.createDataFrame(pdf), CFG, sim_dir, build_id="b0")
    monkeypatch.setattr(hotcache, "FF_EMBED_MAX", 1)  # every split by reference
    for s in Catalog(sim_dir).splits():
        hotcache.write_split_hotcache(_paths(sim_dir), s.split_id)
    monkeypatch.setenv("QW_DRIVER_LEAF_MAX_SPLITS", "64")  # driver's cache
    reqs = [
        SearchRequest("the deploy", max_hits=20, sort_by_field="ts"),
        SearchRequest('"the error"', max_hits=20),
    ]

    def run():
        SPLIT_CACHE.clear()
        for r in reqs:
            search(spark, sim_dir, r)
        charged = SPLIT_CACHE.charged()
        assert SPLIT_CACHE.total == sum(charged.values())
        decodes = 0
        for key, nb in charged.items():
            v = SPLIT_CACHE.get(key)
            if isinstance(v, split_io.FastFields):
                memo = [a for a in v.memo.values() if a is not None]
                decodes += len(memo)
                held = int(v.pdf.memory_usage(deep=True).sum()) + sum(a.nbytes for a in memo)
                assert nb >= held, (key, nb, held)
            elif isinstance(v, split_io.SplitFooters):
                assert not v.inline and nb >= v.nbytes, (key, nb)
        return charged, decodes

    hot, decodes = run()
    assert decodes and {"ff", "footers"} <= {k[3] for k in hot}
    hot_bytes = sum(hot.values())
    budget_mb = hot_bytes / 2 / (1 << 20)
    monkeypatch.setenv("QW_CACHE_MB", repr(budget_mb))
    run()
    assert SPLIT_CACHE.total <= SPLIT_CACHE.budget() < hot_bytes
    SPLIT_CACHE.clear()


def test_rebuild_in_place_serves_new_documents(spark, tmp_path, monkeypatch):
    """create --overwrite + build at the same path reuses the split ids;
    once the epoch memo has expired, search() and its page fetch return
    the new documents — on the in-process leaf and on Spark workers."""
    from quickwit_spark.cli import cmd_build, cmd_create

    idx = str(tmp_path / "idx")
    twin = str(tmp_path / "twin")
    common = dict(
        input_format="auto", build_id="b0", config=None, n_splits=None,
        wave_size=None, split_docs=200, segment_docs=64, local_cpus="4",
        shuffle_partitions=8, metastore=None,
    )

    def build(path, seed, overwrite):
        src = tmp_path / f"in{seed}.parquet"
        write_transcripts_parquet(str(src), n_conversations=20, seed=seed)
        ns = dict(common, input=str(src), index_dir=path)
        cmd_create(argparse.Namespace(**ns, overwrite=overwrite))
        out = cmd_build(argparse.Namespace(**ns, overwrite=False))
        assert out["published_splits"] > 0

    def answer(path):
        resp = search(spark, path, SearchRequest("the deploy", max_hits=10))
        return resp.num_hits, [
            (h["split_id"], h["doc_id"], h["conv_id"], h["text"], round(h["score"], 9))
            for h in resp.hits
        ]

    build(idx, 3, overwrite=False)
    build(twin, 4, overwrite=False)
    split_ids = {s.split_id for s in Catalog(idx).splits()}
    gates = ("64", "0")  # in-process leaf, then a Spark leaf job
    old = {}
    for gate in gates:
        monkeypatch.setenv("QW_DRIVER_LEAF_MAX_SPLITS", gate)
        old[gate] = answer(idx)
    last_read = time.monotonic()
    build(idx, 4, overwrite=True)
    # reused split ids now name different bytes
    assert {s.split_id for s in Catalog(idx).splits()} & split_ids
    time.sleep(max(0.0, last_read + split_io.EPOCH_TTL_S + 0.2 - time.monotonic()))
    for gate in gates:
        monkeypatch.setenv("QW_DRIVER_LEAF_MAX_SPLITS", gate)
        new, want = answer(idx), answer(twin)
        assert new[1] and new[0] == want[0], gate
        assert [h[1:] for h in new[1]] == [h[1:] for h in want[1]], gate
        assert new != old[gate], gate


@pytest.fixture(scope="module")
def small_index(spark, tmp_path_factory):
    idx = str(tmp_path_factory.mktemp("plan_once") / "idx")
    pdf = generate_transcripts(n_conversations=20, seed=5)
    build_index(spark, spark.createDataFrame(pdf), CFG, idx, build_id="b0")
    return idx


@pytest.mark.parametrize(
    "extra",
    [dict(snippet_fields=("text",), stored_fields=("text", "role")), dict(score_explain=True)],
    ids=["snippets", "score_explain"],
)
def test_search_plans_once_for_its_attachers(spark, small_index, monkeypatch, extra):
    """Snippets and score_explain reuse the core's expanded AST and global
    stats: one warm search() makes 1 parse, 1 expansion, 1 stats call, and
    a 2-request multi_search() 1 parse per request, 1 expansion and 1
    stats call."""
    req = SearchRequest("depl* failure", max_hits=5, **extra)
    other = SearchRequest("erro* OR timeout", max_hits=4, **extra)
    warm = search(spark, small_index, req)
    assert warm.hits
    calls = {"parse_query": 0, "expand_prefixes": 0, "global_term_stats": 0}
    for name in calls:
        real = getattr(root, name)

        def counted(*a, _real=real, _name=name, **kw):
            calls[_name] += 1
            return _real(*a, **kw)

        monkeypatch.setattr(root, name, counted)
    resp = search(spark, small_index, req)
    assert calls == {"parse_query": 1, "expand_prefixes": 1, "global_term_stats": 1}
    assert resp.hits == warm.hits
    key = "snippets" if "snippet_fields" in extra else "score_detail"
    assert all(key in h for h in resp.hits)
    if "score_explain" in extra:
        assert all(h["score_detail"]["score"] == h["score"] for h in resp.hits)
    calls.update(dict.fromkeys(calls, 0))
    batched = multi_search(spark, small_index, [req, other])
    assert calls == {"parse_query": 2, "expand_prefixes": 1, "global_term_stats": 1}
    assert batched[0].hits == warm.hits and batched[1].hits
    assert all(key in h for r in batched for h in r.hits)
