"""multi_search: Q queries in one leaf job must return results identical to
Q independent search() calls (hits, scores, num_hits)."""

import pytest

from quickwit_spark.config import transcripts_config
from quickwit_spark.fixtures.transcripts import generate_transcripts
from quickwit_spark.index.builder import build_index
from quickwit_spark.search.executor import multi_search, search
from quickwit_spark.search.request import SearchRequest

CFG = transcripts_config(split_num_docs_target=250, segment_num_docs_target=64)


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    pdf = generate_transcripts(n_conversations=60, seed=42)
    index_dir = str(tmp_path_factory.mktemp("idx-multi"))
    build_index(spark, spark.createDataFrame(pdf), CFG, index_dir)
    return index_dir, None, None

BATCH = [
    SearchRequest("deploy"),
    SearchRequest("deploy failure"),
    SearchRequest("error NOT timeout", max_hits=7),
    SearchRequest('"the error"'),
    SearchRequest("role:assistant deploy"),
    SearchRequest("deploy", start_offset=5, max_hits=5),
    SearchRequest("deploy", sort_by_field="ts"),
    SearchRequest("zzznotaword"),
]


def test_multi_search_matches_individual(spark, built):
    index_dir, _, _ = built
    batched = multi_search(spark, index_dir, BATCH)
    assert len(batched) == len(BATCH)
    for req, got in zip(BATCH, batched):
        want = search(spark, index_dir, req)
        assert got.num_hits == want.num_hits, req.query
        assert [
            (h["split_id"], h["doc_id"], h["score"], h["text"]) for h in got.hits
        ] == [(h["split_id"], h["doc_id"], h["score"], h["text"]) for h in want.hits], req.query


def _hit_keys(resp):
    return [(h["split_id"], h["doc_id"], h["score"], h["sort_value"], h["text"]) for h in resp.hits]


@pytest.mark.parametrize("max_splits", ["0", "1000"])
def test_multi_search_global_key_matches_individual(spark, built, monkeypatch, max_splits):
    """A batch may carry what search() takes alone — 'global_key'
    tiebreaks (mixed with 'reference' ones), score_explain, and '*'
    counts with and without a range or a numeric filter — and each answer
    equals its own search(), under the Spark-job and the in-process leaf."""
    from quickwit_spark.index.catalog import Catalog

    index_dir, _, _ = built
    monkeypatch.setenv("QW_DRIVER_LEAF_MAX_SPLITS", max_splits)
    monkeypatch.setenv("QW_DRIVER_LEAF_MAX_ROWS", "1e12")
    splits = sorted(Catalog(index_dir).splits(), key=lambda s: s.ts_max)
    ts_lo = min(s.ts_min for s in splits)
    batch = [
        SearchRequest("*", max_hits=15, tiebreak="global_key"),
        SearchRequest("the", max_hits=20, tiebreak="global_key"),
        SearchRequest("error OR deploy", max_hits=10, start_offset=5, tiebreak="global_key"),
        SearchRequest('"the error"', tiebreak="global_key"),
        SearchRequest("deploy", max_hits=5),
        SearchRequest("deploy failure", max_hits=6, score_explain=True),
        SearchRequest("deplo* OR error", score_explain=True, tiebreak="global_key"),
        SearchRequest('"the error"', max_hits=4, score_explain=True),
        SearchRequest("*", max_hits=0),
        # ends at a split's ts_max: that split and the later ones straddle
        SearchRequest("*", max_hits=0, start_timestamp=ts_lo, end_timestamp=splits[0].ts_max),
        SearchRequest("*", max_hits=0, numeric_filters=(("turn_idx", 0, 3),)),
    ]
    batched = multi_search(spark, index_dir, batch)
    for req, got in zip(batch, batched):
        want = search(spark, index_dir, req)
        assert got.num_hits == want.num_hits, req
        assert _hit_keys(got) == _hit_keys(want), req
        assert [(h["conv_id"], h["turn_idx"]) for h in got.hits] == [
            (h["conv_id"], h["turn_idx"]) for h in want.hits
        ], req
        if req.score_explain:
            assert got.hits and [h["score_detail"] for h in got.hits] == [
                h["score_detail"] for h in want.hits
            ], req
            for h in got.hits:
                assert h["score_detail"]["score"] == h["score"], req  # bit-exact
    assert all(r.num_hits > 0 for r in batched[-3:])
    assert batched[-3].num_hits > batched[-2].num_hits


def test_mixed_batch_matches_individual(spark, built):
    """One batch mixing everything the leaf shares or special-cases: hot
    terms several queries share, prefix and fuzzy expansion, a phrase, a
    time-filtered term, a count-only request, a search_after cursor and a
    sort field — each answer equals its own search()."""
    from quickwit_spark.index.catalog import Catalog

    index_dir, _, _ = built
    splits = Catalog(index_dir).splits()
    ts_lo = min(s.ts_min for s in splits)
    ts_hi = max(s.ts_max for s in splits)
    mid = ts_lo + (ts_hi - ts_lo) // 2
    first = search(spark, index_dir, SearchRequest("deploy", max_hits=3))
    last = first.hits[-1]
    cursor = (last["score"], last["split_id"], last["doc_id"])
    batch = [
        SearchRequest("deploy"),
        SearchRequest("deploy OR error"),
        SearchRequest("deploy failure", max_hits=4),
        SearchRequest("error NOT deploy"),
        SearchRequest("depl*"),
        SearchRequest("fail* OR deploi~1"),
        SearchRequest('"the error"'),
        SearchRequest("deploy", start_timestamp=mid),
        SearchRequest("error", start_timestamp=ts_lo, end_timestamp=mid),
        SearchRequest("deploy OR error", max_hits=0),
        SearchRequest("deploy", search_after=cursor, max_hits=5),
        SearchRequest("error", sort_by_field="ts", max_hits=6),
        SearchRequest("deploy", sort_by_field="ts", sort_asc=True),
    ]
    batched = multi_search(spark, index_dir, batch)
    for req, got in zip(batch, batched):
        want = search(spark, index_dir, req)
        assert got.num_hits == want.num_hits, req
        assert _hit_keys(got) == _hit_keys(want), req
    assert batched[9].num_hits > 0 and not batched[9].hits


def test_batch_shares_postings_per_split(spark, built, monkeypatch):
    """Four queries share 'deploy': every split builds its posting-record
    map once for the whole batch, and decodes deploy's row once (not once
    per query).  The in-process leaf keeps the counters in this process."""
    from collections import Counter

    from quickwit_spark.search import leaf, root

    index_dir, _, _ = built
    monkeypatch.setenv("QW_DRIVER_LEAF_MAX_SPLITS", "1000")
    monkeypatch.setenv("QW_DRIVER_LEAF_MAX_ROWS", "1e12")
    reads: Counter = Counter()
    deploy_blob: dict = {}
    decodes: Counter = Counter()
    read, decode = root._read_split_postings, leaf.decode_postings

    def counting_read(index_dir_, sid, *a, **kw):
        recs = read(index_dir_, sid, *a, **kw)
        reads[sid] += 1
        if ("text", "deploy") in recs:
            deploy_blob[sid] = recs[("text", "deploy")].blob
        return recs

    def counting_decode(blob):
        decodes[id(blob)] += 1
        return decode(blob)

    monkeypatch.setattr(root, "_read_split_postings", counting_read)
    monkeypatch.setattr(leaf, "decode_postings", counting_decode)
    batch = [
        SearchRequest("deploy OR error"),  # MaxScore: whole-row decodes
        SearchRequest("deploy OR failure"),
        SearchRequest("deploy", sort_by_field="ts"),  # full evaluation
        SearchRequest("deploy NOT timeout"),
    ]
    batched = multi_search(spark, index_dir, batch)
    assert reads and set(reads.values()) == {1}, reads
    assert deploy_blob
    for sid, blob in deploy_blob.items():
        assert decodes[id(blob)] == 1, sid
    monkeypatch.undo()
    for req, got in zip(batch, batched):
        want = search(spark, index_dir, req)
        assert got.num_hits == want.num_hits, req
        assert _hit_keys(got) == _hit_keys(want), req


def test_batch_expands_in_one_dictionary_read(spark, built, monkeypatch):
    """Distinct uncached prefix / fuzzy / wildcard / regex specs of one
    batch cost one term-dictionary read together, and each query still
    answers what its own search() does."""
    from quickwit_spark.search import plan

    index_dir, _, _ = built
    batch = [
        SearchRequest("erro*"),
        SearchRequest("timeuot~1 OR deploy"),
        SearchRequest("f?ilure"),
        SearchRequest("/deplo(y|yed)/ error"),
    ]
    plan._GSTATS_CACHE.clear()
    calls = []
    stats_table = plan._stats_table

    def counting(*a, **kw):
        calls.append(a)
        return stats_table(*a, **kw)

    monkeypatch.setattr(plan, "_stats_table", counting)
    batched = multi_search(spark, index_dir, batch)
    assert len(calls) == 1
    monkeypatch.undo()
    for req, got in zip(batch, batched):
        want = search(spark, index_dir, req)
        assert got.num_hits == want.num_hits, req
        assert _hit_keys(got) == _hit_keys(want), req


def test_fastfields_memo_lives_on_the_cache_entry(spark, built):
    """Whole-split fast-field decodes are memoized on the worker-cache
    entry, not on the cached frame's ``attrs`` (which pandas deep-copies
    into every derived frame): two scorer calls reuse the same decoded
    arrays and the frame's attrs stay empty."""
    from quickwit_spark.index.catalog import Catalog
    from quickwit_spark.search import split_io
    from quickwit_spark.search.leaf import make_split_scorer
    from quickwit_spark.search.parser import collect_terms, parse_query
    from quickwit_spark.search.plan import global_term_stats, open_index, term_buckets

    index_dir, _, _ = built
    cat, config = open_index(spark, index_dir)
    sid = Catalog(index_dir).splits()[0].split_id
    req = SearchRequest("deploy OR error", sort_by_field="ts")
    ast = parse_query(req.query, config)
    terms = collect_terms(ast)
    buckets = term_buckets(spark, terms, config.term_merge_buckets)
    gstats = global_term_stats(spark, index_dir, cat, terms, buckets)
    scorer = make_split_scorer(config, gstats, ast, req, "topk", None, source_dir=index_dir)
    ff = split_io._cached_fastfields(index_dir, sid)
    post = split_io._read_split_postings(index_dir, sid, sorted(terms), buckets)
    first = scorer((sid,), post, ff, None, None)
    memo = dict(ff.memo)
    assert {"doc_lens", "ffv_ts"} <= set(memo)
    second = scorer((sid,), post, ff, None, None)
    assert split_io._cached_fastfields(index_dir, sid) is ff
    for k, v in memo.items():
        assert ff.memo[k] is v, k
    assert ff.pdf.attrs == {}
    assert first.doc_id.tolist() == second.doc_id.tolist()
