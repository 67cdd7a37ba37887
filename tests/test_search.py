"""End-to-end search tests: rank-identity of the Spark engine vs the
pure-Python oracle (FIXTURES.md F3/F4 query classes), micro-fixture
reproductions of the reference's own search tests, time filtering, offsets,
tag pruning, and the search-stream export."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from quickwit_spark.config import transcripts_config
from quickwit_spark.fixtures.transcripts import generate_transcripts, snoopy, timefilter30
from quickwit_spark.index.builder import build_index
from quickwit_spark.search.executor import search, search_df, search_stream
from quickwit_spark.search.oracle import OracleIndex
from quickwit_spark.search.request import SearchRequest

CFG = transcripts_config(split_num_docs_target=250, segment_num_docs_target=64)


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    """One shared index over the t1-smoke-scale corpus + its oracle."""
    pdf = generate_transcripts(n_conversations=60, seed=42)
    index_dir = str(tmp_path_factory.mktemp("idx"))
    build_index(spark, spark.createDataFrame(pdf), CFG, index_dir)
    docs = spark.read.parquet(f"{index_dir}/docs").toPandas()
    oracle = OracleIndex(docs, CFG)
    return index_dir, oracle, docs


def _assert_rank_identical(resp, expected, check_scores=True):
    assert resp.num_hits == expected["num_hits"]
    got = [(h["split_id"], h["doc_id"]) for h in resp.hits]
    want = [(h["split_id"], h["doc_id"]) for h in expected["hits"]]
    assert got == want, f"\ngot:  {resp.hits}\nwant: {expected['hits']}"
    if check_scores:
        for g, w in zip(resp.hits, expected["hits"]):
            assert g["score"] == pytest.approx(w["score"], rel=1e-6)


# the FIXTURES.md F3 query classes
QUERY_CASES = [
    SearchRequest("deploy"),
    SearchRequest("deploy failure"),  # implicit AND
    SearchRequest("deploy AND failure"),
    SearchRequest("deploy OR failure"),
    SearchRequest("error NOT timeout"),
    SearchRequest("error -timeout"),
    SearchRequest("role:assistant deploy"),  # field-scoped raw term
    SearchRequest('"the error"'),  # phrase
    SearchRequest("text:(deploy OR failure) error"),  # grouping
    SearchRequest("the", max_hits=20),  # hot stopword-class term
    SearchRequest("zzznotaword"),  # zero hits
    SearchRequest("deploy", start_offset=5, max_hits=5),  # offset rewrite path
    SearchRequest("error", max_hits=7, start_timestamp=1767225600 + 40 * 86400),
    SearchRequest("the error OR deploy", max_hits=15),
    # boosted disjunctions route through MaxScore (boost-scaled bounds)
    SearchRequest("deploy^2 OR failure"),
    SearchRequest("the^3 OR error OR deploy^0.5", max_hits=15),
    # prefix queries (scoring_boolean expansion vs the oracle's own rewrite)
    SearchRequest("depl*"),
    SearchRequest("deplo* failure"),
    SearchRequest("role:assi* error"),
    SearchRequest("dep*^2 OR error"),
    SearchRequest("error NOT deplo*"),
    SearchRequest("zzzz*"),  # matches no dictionary term
    # match_phrase_prefix: fixed leading terms + last-position prefix
    SearchRequest('"the err*"'),
    SearchRequest('deploy AND "the e*"'),
    SearchRequest('"the zzzz*"'),  # phrase prefix matching nothing
    # fuzzy terms (classic Levenshtein, anchored on the first char)
    SearchRequest("deploi~1"),
    SearchRequest("eror~2 deploy"),
    SearchRequest("merge~1 OR failure"),
    # wildcard patterns ('*'/'?' anywhere; engine = anchored dictionary
    # range + regex translate, oracle = unanchored independent glob matcher)
    SearchRequest("d?ploy"),
    SearchRequest("de*oy failure"),
    SearchRequest("err*r OR deploy"),
    SearchRequest("*ploy"),  # leading wildcard: unanchored dictionary scan
    SearchRequest("f?il*^2 OR error"),
    SearchRequest("x?zzz*"),  # matches no dictionary term
    # exists queries ('field:*' — ES exists; answered from the fieldnorm
    # store, constant 1.0×boost score; 'tool' is empty on most fixture rows)
    SearchRequest("tool:*", max_hits=15),
    SearchRequest("tool:* error"),
    SearchRequest("error OR tool:*^2", max_hits=15),
    SearchRequest("error NOT tool:*"),
    SearchRequest("text:* AND tool:*", max_hits=15),
    # minimum_should_match over the top-level OR (full-eval clause
    # counting vs the oracle's Counter twin)
    SearchRequest("deploy OR failure OR error", min_should_match=2),
    SearchRequest("deploy OR failure OR error OR timeout", min_should_match=3, max_hits=15),
    SearchRequest("the OR error", min_should_match=2),  # degenerates to AND
    SearchRequest('deploy OR "the error" OR timeout', min_should_match=2),
    # an expanding clause inside the OR counts as ONE clause (nested group)
    SearchRequest("deploy OR fail* OR timeout", min_should_match=2),
    SearchRequest("deploy OR error", min_should_match=5),  # > clauses: no hits
    # ordered sloppy phrases (greedy-chain kernel vs the oracle's
    # independent per-doc greedy walk)
    SearchRequest('"the error"~1'),
    SearchRequest('"the error"~3', max_hits=15),
    SearchRequest('"deploy failure"~2'),
    SearchRequest('"the the"~2', max_hits=15),  # repeated term, strict order
    SearchRequest('"error deploy"~4 OR timeout'),
    # regex term queries ('/re/', fullmatch against the dictionary)
    SearchRequest("/deplo(y|yed)/"),
    SearchRequest("/err[a-z]r/ deploy"),
    SearchRequest("/fail.*/^2 OR error"),
    SearchRequest("text:/time(out)?s?/"),
    SearchRequest("/zz+top/"),  # matches no dictionary term
]


@pytest.mark.parametrize("req", QUERY_CASES, ids=[r.query + f"@{r.start_offset}" for r in QUERY_CASES])
def test_rank_identity_vs_oracle(spark, built, req):
    index_dir, oracle, _ = built
    resp = search(spark, index_dir, req)
    _assert_rank_identical(resp, oracle.search(req))


def test_score_explain_bit_exact(spark, built):
    """Per-hit score breakdown (score_explain=True): the reconstruction
    sums per-term contributions in the leaf's sorted-term order, so
    score_detail['score'] equals the hit score BIT-exactly across every
    strategy (full eval, WAND post-scale boost, MaxScore, expansion,
    sloppy phrase)."""
    index_dir, oracle, _ = built
    for q in (
        "deploy",  # block-max WAND
        "deploy^2",  # WAND + post-scale boost
        "the OR error",  # MaxScore
        "deploy failure",  # conjunction full eval
        "depl*",  # dictionary expansion
        '"the error"~2',  # sloppy phrase
        "role:assistant error",  # raw-field term (doc_len = value count)
        "error OR tool:*^2",  # BM25 terms + boosted constant exists clause
    ):
        req = SearchRequest(q, max_hits=8, score_explain=True)
        resp = search(spark, index_dir, req)
        assert resp.hits, q
        for h in resp.hits:
            d = h["score_detail"]
            assert d["score"] == h["score"], (q, h)
            assert sum(t["contribution"] for t in d["terms"]) == h["score"], q
            assert all(
                t.get("exists") or (t["tf"] >= 1 and t["doc_freq"] >= 1)
                for t in d["terms"]
            )
    # match-all: constant score 1.0, no terms
    resp = search(
        spark,
        index_dir,
        SearchRequest("*", max_hits=3, sort_by_field="ts", score_explain=True),
    )
    assert all(
        h["score_detail"] == {"score": 1.0, "constant": True, "terms": []}
        for h in resp.hits
    )


def test_singleton_term(spark, built):
    """>=5% of turns carry a unique token (FIXTURES F1) — df=1 top-k."""
    index_dir, oracle, docs = built
    uniq = None
    for t in docs["text"]:
        for tok in t.split():
            if tok.startswith("tok_"):
                uniq = tok
                break
        if uniq:
            break
    assert uniq is not None
    req = SearchRequest(uniq)
    resp = search(spark, index_dir, req)
    assert resp.num_hits == 1
    _assert_rank_identical(resp, oracle.search(req))


def test_snoopy(spark, tmp_index_dir):
    """Reference test_single_node_simple (quickwit-search/src/lib.rs:224-252)."""
    cfg = transcripts_config()
    build_index(spark, spark.createDataFrame(snoopy()), cfg, tmp_index_dir)
    resp = search(spark, tmp_index_dir, SearchRequest("anthropomorphic"))
    assert resp.num_hits == 1
    assert resp.hits[0]["turn_idx"] == 0
    resp2 = search(spark, tmp_index_dir, SearchRequest("beagle"))
    assert resp2.num_hits == 2


def test_escaped_raw_field_value(spark, tmp_index_dir):
    """Backslash escaping end-to-end (query-language.md escaping section):
    a raw-tokenizer field value containing a space / colon is reachable
    only via \\-escaped query syntax."""
    import pandas as pd

    pdf = snoopy()
    pdf["tool"] = ["web search", "kube:apply"]
    cfg = transcripts_config()
    build_index(spark, spark.createDataFrame(pdf), cfg, tmp_index_dir)
    resp = search(spark, tmp_index_dir, SearchRequest(r"tool:web\ search"))
    assert resp.num_hits == 1 and resp.hits[0]["turn_idx"] == 0
    resp2 = search(spark, tmp_index_dir, SearchRequest(r"tool:kube\:apply"))
    assert resp2.num_hits == 1 and resp2.hits[0]["turn_idx"] == 1
    # an unescaped space splits the token: 'web' alone is not the raw value
    assert search(spark, tmp_index_dir, SearchRequest("tool:web")).num_hits == 0
    # only the FIRST unescaped colon binds the field; the rest is the value
    assert search(spark, tmp_index_dir, SearchRequest("tool:kube:apply")).num_hits == 1


def test_timefilter30(spark, tmp_index_dir):
    """Reference test_single_node_filtering (lib.rs:326-424): query 'info',
    ts in [10, 20) → 10 hits, newest first when sorting by ts desc."""
    cfg = transcripts_config()
    build_index(spark, spark.createDataFrame(timefilter30()), cfg, tmp_index_dir)
    req = SearchRequest(
        "info", max_hits=15, start_timestamp=10, end_timestamp=20, sort_by_field="ts"
    )
    resp = search(spark, tmp_index_dir, req)
    assert resp.num_hits == 10
    ts_vals = [h["sort_value"] for h in resp.hits]
    assert ts_vals == list(range(19, 9, -1))  # newest first
    # ascending variant
    req_asc = SearchRequest(
        "info", max_hits=15, start_timestamp=10, end_timestamp=20,
        sort_by_field="ts", sort_asc=True,
    )
    assert [h["sort_value"] for h in search(spark, tmp_index_dir, req_asc).hits] == list(range(10, 20))


def test_sort_by_generic_fast_field(spark, tmp_index_dir):
    """Any fast-declared i64 field is sortable, not just the timestamp —
    the reference sorts by arbitrary fast fields (sort_by_fast_field,
    quickwit-search/src/collector.rs:47-64).  turn_idx is fast in the
    default transcripts schema."""
    cfg = transcripts_config()
    assert "turn_idx" in cfg.extra_fast_fields
    build_index(spark, spark.createDataFrame(timefilter30()), cfg, tmp_index_dir)
    resp = search(
        spark, tmp_index_dir, SearchRequest("info", max_hits=5, sort_by_field="turn_idx")
    )
    assert resp.num_hits == 30
    assert [h["sort_value"] for h in resp.hits] == [29, 28, 27, 26, 25]
    asc = search(
        spark, tmp_index_dir,
        SearchRequest("info", max_hits=5, sort_by_field="turn_idx", sort_asc=True),
    )
    assert [h["sort_value"] for h in asc.hits] == [0, 1, 2, 3, 4]
    # combined with a time filter: ts 1..30 maps to turn_idx 0..29
    filt = search(
        spark, tmp_index_dir,
        SearchRequest(
            "info", max_hits=50, start_timestamp=10, end_timestamp=20,
            sort_by_field="turn_idx", sort_asc=True,
        ),
    )
    assert [h["sort_value"] for h in filt.hits] == list(range(9, 19))


def test_config_default_sort(spark, tmp_index_dir):
    """An index can declare a default sort_by fast field (doc_mapper.rs:61-63;
    default_mapper.rs:247-267): requests without an explicit sort use it,
    explicit request sorts still win."""
    cfg = transcripts_config(sort_by_field="ts", sort_by_order="asc")
    build_index(spark, spark.createDataFrame(timefilter30()), cfg, tmp_index_dir)
    resp = search(spark, tmp_index_dir, SearchRequest("info", max_hits=5))
    assert [h["sort_value"] for h in resp.hits] == [1, 2, 3, 4, 5]  # ts asc
    # explicit request sort overrides the config default
    over = search(
        spark, tmp_index_dir,
        SearchRequest("info", max_hits=5, sort_by_field="turn_idx"),
    )
    assert [h["sort_value"] for h in over.hits] == [29, 28, 27, 26, 25]
    # a non-fast sort_by field is rejected at config build
    with pytest.raises(ValueError, match="sort_by"):
        transcripts_config(sort_by_field="role")


def test_stream_generic_fast_field(spark, tmp_index_dir):
    """search_stream can export any fast i64 field (search_stream/leaf.rs
    fast-field export works on arbitrary fast fields)."""
    cfg = transcripts_config()
    build_index(spark, spark.createDataFrame(timefilter30()), cfg, tmp_index_dir)
    out = search_stream(
        spark, tmp_index_dir, SearchRequest("info"), "turn_idx"
    ).toPandas()
    assert sorted(out["turn_idx"].tolist()) == list(range(30))


def test_inline_and_distributed_leaf_agree(spark, built, monkeypatch):
    """The in-process leaf (small indexes) and the Spark-job leaf must be
    result-identical — same rows, scores, order — for every query shape,
    and so must search(req) and multi_search([req]) under either leaf."""
    from quickwit_spark.search.executor import multi_search

    index_dir, _, _ = built
    reqs = [
        SearchRequest("error", max_hits=20),
        SearchRequest("token deploy", max_hits=10),
        SearchRequest('"deploy failure"', max_hits=10),
        SearchRequest("error", max_hits=10, sort_by_field="ts"),
        SearchRequest("error NOT deploy", max_hits=10, start_offset=3),
    ]

    def key(resp):
        return resp.num_hits, [
            (h["split_id"], h["doc_id"], h["score"], h["sort_value"]) for h in resp.hits
        ]

    for req in reqs:
        got = []
        for max_splits in ("1000", "0"):
            monkeypatch.setenv("QW_DRIVER_LEAF_MAX_SPLITS", max_splits)
            got.append(key(search(spark, index_dir, req)))
            got.append(key(multi_search(spark, index_dir, [req])[0]))
        assert got[1:] == got[:1] * 3, req


@pytest.mark.parametrize("max_splits", ["0", "1000"])
def test_global_key_tiebreak_matches_oracle(spark, built, monkeypatch, max_splits):
    """tiebreak='global_key' breaks score ties on (conv_id, turn_idx), doc
    fields the leaf fetches for its own top-k — rank-identical to the
    oracle under the Spark-job leaf and the in-process leaf alike."""
    from quickwit_spark.search.executor import explain

    index_dir, oracle, _ = built
    monkeypatch.setenv("QW_DRIVER_LEAF_MAX_SPLITS", max_splits)
    monkeypatch.setenv("QW_DRIVER_LEAF_MAX_ROWS", "1e12")
    for req in [
        SearchRequest("*", max_hits=15, tiebreak="global_key"),  # all tie at 1.0
        SearchRequest("the", max_hits=20, tiebreak="global_key"),
        SearchRequest("error OR deploy", max_hits=10, start_offset=5, tiebreak="global_key"),
        SearchRequest('"the error"', tiebreak="global_key"),
    ]:
        leaf = "in_process" if max_splits == "1000" else "spark_job"
        assert explain(spark, index_dir, req)["leaf"] == leaf
        resp, want = search(spark, index_dir, req), oracle.search(req)
        assert resp.num_hits == want["num_hits"], req
        assert [(h["conv_id"], h["turn_idx"]) for h in resp.hits] == [
            (h["conv_id"], h["turn_idx"]) for h in want["hits"]
        ], req
        for g, w in zip(resp.hits, want["hits"]):
            assert g["score"] == pytest.approx(w["score"], rel=1e-6)


def test_leaf_worker_warm_up_once_per_context(spark, built, monkeypatch):
    """A SparkContext's first job leaf is preceded by one warm-up job with
    a task per slot (so no query later pays a fresh python worker); the
    next job leaf runs alone."""
    from quickwit_spark.search import root

    index_dir, _, _ = built
    sc = spark.sparkContext
    monkeypatch.setattr(root, "_WARMED_APPS", set())
    monkeypatch.setenv("QW_DRIVER_LEAF_MAX_SPLITS", "0")
    slices, depth = [], [0]
    real = sc.parallelize

    def spy(data, numSlices=None):
        if not depth[0]:  # parallelize(range) calls itself once more
            slices.append(numSlices)
        depth[0] += 1
        try:
            return real(data, numSlices)
        finally:
            depth[0] -= 1

    monkeypatch.setattr(sc, "parallelize", spy)
    req = SearchRequest("error", max_hits=5)
    first = search(spark, index_dir, req)
    warm, first_jobs = slices[0], slices[1:]
    slices.clear()
    second = search(spark, index_dir, req)
    assert warm == sc.defaultParallelism
    assert slices == first_jobs
    assert [h["doc_id"] for h in first.hits] == [h["doc_id"] for h in second.hits]
    it = iter(range(3))
    assert list(root._hold_leaf_worker(it)) == [] and next(it, None) is None  # drained


def test_offset_pagination_consistent(spark, built):
    """Offset rewrite (root.rs:286-301): page k..k+n equals the slice of the
    full result."""
    index_dir, oracle, _ = built
    full = search(spark, index_dir, SearchRequest("error", max_hits=30))
    page = search(spark, index_dir, SearchRequest("error", max_hits=5, start_offset=10))
    assert [(h["split_id"], h["doc_id"]) for h in page.hits] == [
        (h["split_id"], h["doc_id"]) for h in full.hits[10:15]
    ]


def test_tag_pruning_prunes(spark, built):
    """role:<absent-value> must prune every split driver-side."""
    from quickwit_spark.index.catalog import Catalog
    from quickwit_spark.search.parser import parse_query
    from quickwit_spark.search.executor import prune_splits

    index_dir, _, _ = built
    cat = Catalog(index_dir)
    ast = parse_query("role:nosuchrole", CFG)
    assert prune_splits(cat, CFG, ast, SearchRequest("role:nosuchrole")) == []
    resp = search(spark, index_dir, SearchRequest("role:nosuchrole"))
    assert resp.num_hits == 0 and resp.hits == []


def test_time_pruning_prunes_splits(spark, built):
    from quickwit_spark.index.catalog import Catalog
    from quickwit_spark.search.parser import parse_query
    from quickwit_spark.search.executor import prune_splits

    index_dir, _, _ = built
    cat = Catalog(index_dir)
    ast = parse_query("error", CFG)
    req = SearchRequest("error", start_timestamp=0, end_timestamp=1)  # before corpus epoch
    assert prune_splits(cat, CFG, ast, req) == []


def test_ts_elision_upgrades_wholly_inside_splits(spark, built):
    """A time filter that covers a split entirely is a no-op there — the
    whole-segment skip of filters.rs:64-66 lifted to strategy selection:
    such splits run block-max WAND / MaxScore under the filter, and
    results (docIDs, exact scores, exact num_hits) must stay identical to
    the filtered full evaluation the oracle performs.  Ranges cutting
    mid-corpus exercise the mixed case (some splits upgraded, boundary
    splits on full eval) in one query."""
    from quickwit_spark.search.executor import explain

    index_dir, oracle, docs = built
    lo, hi = int(docs["ts_epoch"].min()), int(docs["ts_epoch"].max()) + 1
    mid = (lo + hi) // 2
    e = explain(spark, index_dir, SearchRequest("deploy", start_timestamp=lo, end_timestamp=hi))
    assert e["ts_elided_strategy"] == "block_max_wand"
    assert e["splits_ts_elided"] == e["splits_after_pruning"] > 0
    for q in ("deploy", "deploy OR failure", "the^2 OR error"):
        for rng in ((lo, hi), (lo, None), (None, hi), (mid, hi), (lo, mid)):
            req = SearchRequest(
                q, max_hits=12, start_timestamp=rng[0], end_timestamp=rng[1]
            )
            _assert_rank_identical(search(spark, index_dir, req), oracle.search(req))


def test_prefix_expansion_cap_and_strategy(spark, built, monkeypatch):
    """Prefix queries rewrite to ordinary term disjunctions at plan time:
    a multi-term expansion runs MaxScore, a single-term expansion runs
    block-max WAND, and an expansion larger than QW_PREFIX_MAX_EXPANSIONS
    is a loud error (Lucene too_many_clauses analog), not a silent
    truncation."""
    from quickwit_spark.search.executor import explain

    index_dir, oracle, _ = built
    e = explain(spark, index_dir, SearchRequest("deplo*"))
    # the fixture vocabulary holds exactly one 'deplo…' term → WAND
    assert e["strategy"] == "block_max_wand"
    assert [t["term"] for t in e["terms"]] == ["deploy"]
    e2 = explain(spark, index_dir, SearchRequest("f*"))
    assert e2["strategy"] == "maxscore_union" and len(e2["terms"]) >= 2
    # per-term doc_freq surfaced by explain equals the oracle's df
    for t in e2["terms"]:
        assert t["doc_freq"] == len(oracle.postings[("text", t["term"])])
    monkeypatch.setenv("QW_PREFIX_MAX_EXPANSIONS", "1")
    # pick a first letter with >= 2 dictionary terms that no other test
    # queried (expansions cache per (index state, field, prefix))
    from collections import defaultdict

    by_first = defaultdict(set)
    for f, t in oracle.postings:
        if f == "text":
            by_first[t[0]].add(t)
    ch = next(c for c, s in sorted(by_first.items()) if len(s) >= 2 and c not in "dfz")
    with pytest.raises(ValueError, match="expands to"):
        search(spark, index_dir, SearchRequest(f"{ch}*"))


def test_search_stream(spark, built):
    """Fast-field export: every matching doc's ts, no top-k truncation
    (search_stream/leaf.rs analog)."""
    index_dir, oracle, _ = built
    req = SearchRequest("deploy")
    out = search_stream(spark, index_dir, req, "ts").toPandas()
    exp = oracle.search(SearchRequest("deploy", max_hits=10**9))
    assert len(out) == exp["num_hits"]
    got = set(zip(out["split_id"], out["doc_id"]))
    want = {(h["split_id"], h["doc_id"]) for h in exp["hits"]}
    assert got == want


def test_search_df_schema(spark, built):
    index_dir, _, _ = built
    df = search_df(spark, index_dir, SearchRequest("deploy", max_hits=3))
    rows = df.collect()
    assert len(rows) <= 3
    assert {"conv_id", "turn_idx", "score", "text"} <= set(df.columns)


def test_vanished_split_fails_loudly(spark, tmp_index_dir):
    """A split that disappears between planning and the leaf read must FAIL
    the query (reference root.rs:179-188), never silently drop its hits.
    The root retries once against the fresh catalog; with the catalog still
    listing the dead split, the retry fails too and the error propagates."""
    import shutil

    from quickwit_spark.search.executor import SplitVanishedError, multi_search

    pdf = generate_transcripts(n_conversations=20, seed=21)
    build_index(spark, spark.createDataFrame(pdf), CFG, tmp_index_dir)
    from quickwit_spark.index.catalog import Catalog

    victim = Catalog(tmp_index_dir).splits()[0].split_id
    shutil.rmtree(f"{tmp_index_dir}/fastfields/split_id={victim}")

    with pytest.raises(SplitVanishedError, match=victim):
        search(spark, tmp_index_dir, SearchRequest("the"))
    with pytest.raises(SplitVanishedError, match=victim):
        multi_search(spark, tmp_index_dir, [SearchRequest("the"), SearchRequest("a")])


def test_leaf_bins_partition_exactly():
    """_leaf_bins is an exact partition of the split list (no loss, no dup),
    respects the core cap, and LPT-balances by doc count."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from quickwit_spark.index.catalog import SplitMetadata
    from quickwit_spark.search.executor import _leaf_bins

    @settings(max_examples=200, deadline=None)
    @given(
        docs=st.lists(st.integers(min_value=0, max_value=10_000_000), min_size=1, max_size=200),
        cores=st.integers(min_value=1, max_value=64),
        est=st.floats(min_value=0, max_value=1e7),
    )
    def check(docs, cores, est):
        splits = [SplitMetadata(split_id=f"s{i:04d}", num_docs=d) for i, d in enumerate(docs)]
        bins = _leaf_bins(splits, cores, est, ranged_ok=True)
        units = [u for b in bins for u in b]
        # every split appears: whole (sid, None, None) or as ranges that
        # tile [0, num_docs) exactly (heavy queries carve big splits)
        by_sid: dict[str, list] = {}
        for sid, lo, hi in units:
            by_sid.setdefault(sid, []).append((lo, hi))
        assert sorted(by_sid) == sorted(s.split_id for s in splits)
        for s in splits:
            ranges = sorted(by_sid[s.split_id])
            if ranges == [(None, None)]:
                continue
            assert ranges[0][0] == 0 and ranges[-1][1] == s.num_docs
            for (a_lo, a_hi), (b_lo, _) in zip(ranges, ranges[1:]):
                assert a_hi == b_lo and a_lo < a_hi
        assert 1 <= len(bins) <= min(cores, len(units))
        # LPT guarantee: max bin load <= average + one largest unit
        def w(u):
            sid, lo, hi = u
            return max(next(s.num_docs for s in splits if s.split_id == sid), 1) if lo is None else hi - lo
        loads = [sum(w(u) for u in b) for b in bins]
        assert max(loads) <= sum(loads) / len(bins) + max(w(u) for u in units)

    check()


def test_ranged_leaf_units_result_identical(spark, built, monkeypatch):
    """Sub-split doc-range units (heavy-query parallelism on big merged
    splits) must be result-identical to whole-split execution — same
    num_hits, rows, scores, order — for every query class incl. WAND,
    MaxScore, phrase, NOT, ts filter, sort, and offsets.  Forces tiny
    ranges (64 docs over 250-doc splits) and the heavy path via env."""
    index_dir, _, _ = built
    reqs = [
        SearchRequest("deploy"),                       # single-term WAND
        SearchRequest("the", max_hits=20),             # hot term WAND
        SearchRequest("the OR error", max_hits=15),    # MaxScore
        SearchRequest("deploy failure"),               # AND
        SearchRequest("error NOT timeout"),            # NOT
        SearchRequest('"the error"'),                  # phrase (positions)
        SearchRequest("error", max_hits=7, start_timestamp=1767225600 + 40 * 86400),
        SearchRequest("error", max_hits=10, sort_by_field="ts"),
        SearchRequest("deploy", start_offset=5, max_hits=5),
    ]
    baseline = [search(spark, index_dir, r) for r in reqs]
    monkeypatch.setenv("QW_DRIVER_LEAF_MAX_SPLITS", "0")  # force the job leaf
    monkeypatch.setenv("QW_LEAF_HEAVY_ROWS", "0")         # everything "heavy"
    monkeypatch.setenv("QW_LEAF_RANGE_DOCS", "64")        # carve 250-doc splits
    from quickwit_spark.search import executor as ex
    from quickwit_spark.search.executor import multi_search

    # production gates ranges to position-verifying queries; force them on
    # for every class so the ranged WAND/MaxScore/AND/NOT/ts/sort paths all
    # stay covered
    monkeypatch.setattr(ex.root, "_contains_phrase", lambda asts: True)

    ranged = [search(spark, index_dir, r) for r in reqs]
    batched = multi_search(spark, index_dir, reqs)
    for a, b, c in zip(baseline, ranged, batched):
        assert a.num_hits == b.num_hits == c.num_hits
        key = lambda h: (h["split_id"], h["doc_id"], h["score"], h["sort_value"])  # noqa: E731
        assert [key(h) for h in a.hits] == [key(h) for h in b.hits] == [key(h) for h in c.hits]


def test_topk_sort_values_above_2_53_stay_exact():
    """Fast-field sorts must not round through float64: int64 sort values
    above 2^53 (e.g. nanosecond-epoch fields) differing by small deltas
    must still order exactly (the old call site cast to float64, collapsing
    them and returning a wrong page boundary)."""
    from quickwit_spark.search.executor import _topk_take

    base = 1 << 60
    sv = np.array([base, base + 100, base + 50, base + 1], dtype=np.int64)
    docs = np.array([0, 1, 2, 3], dtype=np.int64)
    # descending (sgn=1): winners are +100, +50
    take = _topk_take((1 * sv).astype(np.int64), docs, 2)
    assert docs[take].tolist() == [1, 2]
    # ascending (sgn=-1): winners are +0, +1
    take = _topk_take((-1 * sv).astype(np.int64), docs, 2)
    assert docs[take].tolist() == [0, 3]
    # the float64 cast this replaces really does collapse these values
    assert len(np.unique(sv.astype(np.float64))) < len(sv)


def test_wand_keeps_score_ties_eligible():
    """A block whose score upper bound EQUALS the running k-th best must
    still be decoded: it can hold docs that tie on score and win the
    (score desc, doc_id asc) tie-break (collector.rs:103-120 semantics).
    Regression: the prune test used <= and dropped the tie block."""
    from types import SimpleNamespace

    from quickwit_spark.functions.bm25 import tf_norm
    from quickwit_spark.functions.codec import encode_postings
    from quickwit_spark.search.executor import _wand_single_term

    # 10 blocks of 128 postings.  Block 0: docs 0..127, tf=1, len=100
    # (every doc scores exactly idf * tf_norm(1, 100, avg=100) = idf).
    # Blocks 1..9: docs k*1000..k*1000+127, tf=4; in block 1 doc 1000 has
    # len=100 (top score) and doc 1001 len=500 (scores exactly idf too:
    # 4*(k1+1)/(4*(1+k1)) == 1), everything else len=10000 (low).
    doc_ids = np.concatenate(
        [np.arange(128)] + [np.arange(k * 1000, k * 1000 + 128) for k in range(1, 10)]
    ).astype(np.uint32)
    tfs = np.concatenate([np.ones(128), np.full(9 * 128, 4)]).astype(np.uint32)
    blob, last_doc, bmax_tf = encode_postings(doc_ids, tfs)
    lens = np.full(10_000, 10_000, np.int64)
    lens[:128] = 100
    lens[1000] = 100
    lens[1001] = 500
    # block-min-len metadata: block 0 -> 100 (bound == idf), blocks 1..9
    # -> 100 (bound = idf * tf_norm(4, 100, 100) > idf)
    row = SimpleNamespace(
        blob=blob,
        block_last_doc=last_doc,
        block_max_tf=bmax_tf,
        block_min_len=np.full(10, 100, np.int64),
        doc_freq=len(doc_ids),
    )
    gstats = {"avg_len": {"text": 100.0}, "df": {("text", "t"): len(doc_ids)}, "num_docs": 10_000}
    docs, scores = _wand_single_term(row, gstats, "text", "t", lens, n_top=2)
    # after 9 high-bound blocks the threshold equals block 0's bound exactly;
    # block 0 must still be decoded — doc 0 ties doc 1001 and wins on doc_id
    assert 0 in docs
    tie = scores[docs == 0][0]
    assert tie == scores[docs == 1001][0]
    by_rank = sorted(zip(scores, -docs), key=lambda x: (-x[0], -x[1]))
    top2 = [int(-d) for _, d in by_rank[:2]]
    assert top2 == [1000, 0]


def test_wand_flat_raw_field_fast_path():
    """Raw/typed postings (fieldnorm 1, tf==1 everywhere) score flat: the
    top-k is the n_top lowest doc ids, and the fast path must return them
    without decoding the whole list."""
    from types import SimpleNamespace

    from quickwit_spark.functions.codec import encode_postings
    from quickwit_spark.search.executor import _wand_single_term

    doc_ids = np.arange(0, 2000, 2, dtype=np.uint32)  # 1000 docs, 8 blocks
    tfs = np.ones(len(doc_ids), np.uint32)
    blob, last_doc, bmax_tf = encode_postings(doc_ids, tfs)
    row = SimpleNamespace(
        blob=blob,
        block_last_doc=last_doc,
        block_max_tf=bmax_tf,
        block_min_len=np.ones(len(last_doc), np.int64),
        doc_freq=len(doc_ids),
    )
    gstats = {"avg_len": {"role": 1.0}, "df": {("role", "user"): 1000}, "num_docs": 5000}
    docs, scores = _wand_single_term(row, gstats, "role", "user", None, n_top=5)
    assert sorted(docs.tolist())[:5] == [0, 2, 4, 6, 8]
    assert len(set(scores.tolist())) == 1
    # range-restricted: winners are the lowest in-range docs
    docs, _ = _wand_single_term(row, gstats, "role", "user", None, n_top=3, lo=500, hi=1000)
    assert sorted(docs.tolist())[:3] == [500, 502, 504]


COUNT_ONLY_CASES = [
    "deploy",  # single tokenized term (WAND path)
    "role:assistant",  # hot raw field term (flat fast path)
    "deploy OR failure",  # disjunction (MaxScore path)
    "deploy AND failure",  # conjunction (full-eval path)
    '"the error"',  # phrase (full-eval path)
    "zzznotaword",  # zero hits
]


@pytest.mark.parametrize("q", COUNT_ONLY_CASES)
def test_count_only_max_hits_zero(spark, built, q):
    """max_hits=0 is the count request (the reference's count collector):
    exact num_hits, no hits, no crash on any scorer path."""
    index_dir, oracle, _ = built
    req = SearchRequest(q, max_hits=0)
    resp = search(spark, index_dir, req)
    assert resp.hits == []
    assert resp.num_hits == oracle.search(SearchRequest(q, max_hits=100000))["num_hits"]


def test_search_after_cursor_pagination(spark, built):
    """Cursor paging (beyond-reference, ES search_after shape): walking
    pages via (last_value, split_id, doc_id) cursors reproduces the
    offset-paged sequence exactly, for both fast-field sort and BM25
    order; num_hits stays the full count on every page."""
    index_dir, oracle, _ = built

    def walk(req_kw, cursor_of, pages=4, k=7):
        seen, cursor = [], None
        for _ in range(pages):
            req = SearchRequest(max_hits=k, search_after=cursor, **req_kw)
            resp = search(spark, index_dir, req)
            if not resp.hits:
                break
            seen.extend(resp.hits)
            assert resp.num_hits == want_total
            cursor = cursor_of(resp.hits[-1])
        return seen

    # fast-field sort, both directions
    for asc in (False, True):
        base_kw = dict(query="error", sort_by_field="ts", sort_asc=asc)
        want_total = search(spark, index_dir, SearchRequest(max_hits=1, **base_kw)).num_hits
        flat = search(spark, index_dir, SearchRequest(max_hits=28, **base_kw)).hits
        got = walk(base_kw, lambda h: (h["sort_value"], h["split_id"], h["doc_id"]))
        assert [(h["split_id"], h["doc_id"]) for h in got] == [
            (h["split_id"], h["doc_id"]) for h in flat
        ]
    # BM25 order: cursor carries the score
    base_kw = dict(query="deploy failure")
    want_total = search(spark, index_dir, SearchRequest(max_hits=1, **base_kw)).num_hits
    flat = search(spark, index_dir, SearchRequest(max_hits=28, **base_kw)).hits
    got = walk(base_kw, lambda h: (h["score"], h["split_id"], h["doc_id"]))
    assert [(h["split_id"], h["doc_id"]) for h in got] == [
        (h["split_id"], h["doc_id"]) for h in flat
    ]
    # cursor past the last hit: empty page, full count intact
    last = flat[-1]
    resp = search(
        spark,
        index_dir,
        SearchRequest(
            max_hits=10,
            search_after=(0.0, last["split_id"], last["doc_id"]),
            **base_kw,
        ),
    )
    assert resp.num_hits == want_total and resp.hits == []
    # offset + cursor is a user error
    with pytest.raises(ValueError, match="mutually exclusive"):
        search(
            spark,
            index_dir,
            SearchRequest("error", start_offset=3, search_after=(1, "a", 0)),
        )


def test_match_all_count_is_metadata_only(spark, built, monkeypatch):
    """'*' count with no time range is answered from catalog num_docs —
    the leaf must NOT run (at 10^4 splits a total count costs one catalog
    read); with a range, only boundary splits run the leaf and the total
    still matches the oracle.  The in-process leaf gate is opened wide, so
    any leaf unit would run through root._score_unit here; Spark jobs show
    as new job ids on the status tracker."""
    import quickwit_spark.search.executor as ex

    index_dir, oracle, docs = built
    monkeypatch.setenv("QW_DRIVER_LEAF_MAX_SPLITS", "1000")
    monkeypatch.setenv("QW_DRIVER_LEAF_MAX_ROWS", "1e12")
    units = []
    score_unit = ex.root._score_unit

    def counting_unit(*a, **k):
        units.append(a[1])
        return score_unit(*a, **k)

    monkeypatch.setattr(ex.root, "_score_unit", counting_unit)
    tracker = spark.sparkContext.statusTracker()
    jobs_before = max(tracker.getJobIdsForGroup(), default=-1)
    resp = ex.search(spark, index_dir, SearchRequest("*", max_hits=0))
    assert resp.num_hits == len(docs) and resp.hits == []
    assert units == []
    assert max(tracker.getJobIdsForGroup(), default=-1) == jobs_before
    # the hook sees the leaf whenever one runs
    ex.search(spark, index_dir, SearchRequest("*", max_hits=1))
    assert units

    # a range that slices through split boundaries: metadata + boundary leaf
    ts0 = 1767225600 + 13 * 86400
    ts1 = 1767225600 + 61 * 86400
    req = SearchRequest("*", max_hits=0, start_timestamp=ts0, end_timestamp=ts1)
    resp = ex.search(spark, index_dir, req)
    want = oracle.search(
        SearchRequest("*", max_hits=1, start_timestamp=ts0, end_timestamp=ts1)
    )
    assert resp.num_hits == want["num_hits"] > 0


def test_count_only_with_ts_filter(spark, built):
    index_dir, oracle, _ = built
    ts0 = 1767225600 + 40 * 86400
    req = SearchRequest("error", max_hits=0, start_timestamp=ts0)
    resp = search(spark, index_dir, req)
    assert resp.hits == []
    want = oracle.search(SearchRequest("error", max_hits=100000, start_timestamp=ts0))
    assert resp.num_hits == want["num_hits"]


def test_field_collapse_matches_oracle(spark, built):
    """ES-style collapse: one hit per conv_id (the group's best-BM25 doc),
    groups ranked by that score; group_hits counts the group's matches.
    Verified against the pure-Python oracle's scores + a pandas collapse."""
    from quickwit_spark.search.executor import search_collapse
    from quickwit_spark.search.parser import parse_query, positive_term_weights

    index_dir, oracle, docs = built
    req = SearchRequest("deploy failure", max_hits=5)
    got = search_collapse(spark, index_dir, req, "conv_id").collect()

    ast = parse_query(req.query, CFG, None)
    weights = positive_term_weights(ast)
    groups: dict = {}
    for k in oracle._eval(ast):
        conv = oracle.by_key[k]["conv_id"]
        groups.setdefault(conv, []).append((oracle._score(k, weights), k))
    reps = []
    for conv, items in groups.items():
        s, k = sorted(items, key=lambda t: (-t[0], t[1][0], t[1][1]))[0]
        reps.append((s, k, conv, len(items)))
    reps.sort(key=lambda t: (-t[0], t[1][0], t[1][1]))
    want = reps[: req.max_hits]

    assert len(got) == len(want)
    for g, (s, k, conv, n) in zip(got, want):
        assert g["conv_id"] == conv
        assert (g["split_id"], g["doc_id"]) == k
        assert g["group_hits"] == n
        assert g["score"] == pytest.approx(s, rel=1e-6)
        # the representative's stored fields come back too
        assert isinstance(g["text"], str) and g["text"]

    # offset paging: page 2 continues exactly where page 1 ended
    req2 = SearchRequest("deploy failure", max_hits=3, start_offset=2)
    page2 = search_collapse(spark, index_dir, req2, "conv_id").collect()
    assert [(r["conv_id"]) for r in page2] == [c for _, _, c, _ in reps[2:5]]

    # fast-field collapse key + global tie field: one row per turn_idx value
    by_turn = search_collapse(
        spark, index_dir, SearchRequest("deploy", max_hits=4), "turn_idx",
        tie_field="ts",
    ).collect()
    assert len({r["turn_idx"] for r in by_turn}) == len(by_turn) == 4
    scores = [r["score"] for r in by_turn]
    assert scores == sorted(scores, reverse=True)

    with pytest.raises(ValueError, match="sort_by_field"):
        search_collapse(
            spark, index_dir,
            SearchRequest("deploy", sort_by_field="ts"), "conv_id",
        )
    with pytest.raises(ValueError, match="fast field"):
        search_collapse(
            spark, index_dir, SearchRequest("deploy"), "conv_id",
            tie_field="role",
        )


def test_stored_fields_restriction(spark, built):
    """stored_fields (ES _source filtering analog): hit payload and the
    driver-side page fetch restrict to the requested stored columns; rank
    and values are unchanged; unknown fields and snippet/df conflicts are
    loud errors."""
    from quickwit_spark.search.executor import search_df

    index_dir, _, _ = built
    full = search(spark, index_dir, SearchRequest("deploy", max_hits=3))
    req = SearchRequest("deploy", max_hits=3, stored_fields=("text",))
    sub = search(spark, index_dir, req)
    assert [h["doc_id"] for h in sub.hits] == [h["doc_id"] for h in full.hits]
    for h_sub, h_full in zip(sub.hits, full.hits):
        assert set(h_sub) == {"split_id", "doc_id", "score", "sort_value", "text"}
        assert h_sub["text"] == h_full["text"]
    with pytest.raises(ValueError, match="storedFields"):
        search(spark, index_dir, SearchRequest("deploy", stored_fields=("nope",)))
    with pytest.raises(ValueError, match="snippetFields"):
        search(
            spark,
            index_dir,
            SearchRequest(
                "deploy", stored_fields=("role",), snippet_fields=("text",)
            ),
        )
    with pytest.raises(ValueError, match="search_df"):
        search_df(spark, index_dir, req)


def test_search_field_weights_rank_identity(spark, built):
    """Boosted multi-field search ('searchField=text^2,role'): both engine
    and oracle resolve the field weights into leaf boosts, so rank and
    exact scores stay identical; weighting changes the order vs unweighted
    multi-field when a raw-field match competes with a text match."""
    index_dir, oracle, _ = built
    for fields in (("text^2",), ("text^2", "role"), ("role^5", "text")):
        req = SearchRequest("assistant", max_hits=10, search_fields=fields)
        _assert_rank_identical(search(spark, index_dir, req), oracle.search(req))


def test_numeric_filter_rank_identity_and_pruning(spark, built):
    """Request-level numeric range filters (the ts-param shape generalized
    to any fast field): exact per-doc mask vs the oracle, exact num_hits,
    match-all no longer takes the metadata-count shortcut, and the
    catalog's per-split field_ranges stats prune impossible splits."""
    from quickwit_spark.index.catalog import Catalog
    from quickwit_spark.search.executor import prune_splits
    from quickwit_spark.search.parser import parse_query

    index_dir, oracle, docs = built
    for flt in ((("turn_idx", 2, 10),), (("turn_idx", None, 5),), (("turn_idx", 12, None),)):
        req = SearchRequest("error", max_hits=8, numeric_filters=flt)
        _assert_rank_identical(search(spark, index_dir, req), oracle.search(req))
    # match-all + filter: every hit obeys the bound; count is exact
    r = search(
        spark,
        index_dir,
        SearchRequest(
            "*", max_hits=5, sort_by_field="turn_idx",
            numeric_filters=(("turn_idx", 3, 6),),
        ),
    )
    assert r.num_hits == int(((docs["turn_idx"] >= 3) & (docs["turn_idx"] < 6)).sum())
    assert all(3 <= h["sort_value"] < 6 for h in r.hits)
    # split pruning via field_ranges: an impossible bound prunes everything
    cat = Catalog(index_dir)
    ast = parse_query("error", CFG)
    req_none = SearchRequest("error", numeric_filters=(("turn_idx", 1000, None),))
    assert prune_splits(cat, CFG, ast, req_none) == []
    assert search(spark, index_dir, req_none).num_hits == 0
    # errors: unknown field, ts via numericFilter, float bound on int field
    with pytest.raises(ValueError, match="not a declared fast field"):
        search(spark, index_dir, SearchRequest("error", numeric_filters=(("nope", 1, 2),)))
    with pytest.raises(ValueError, match="startTimestamp"):
        search(spark, index_dir, SearchRequest("error", numeric_filters=(("ts", 1, 2),)))
    with pytest.raises(ValueError, match="must be integers"):
        search(spark, index_dir, SearchRequest("error", numeric_filters=(("turn_idx", 1.5, None),)))
