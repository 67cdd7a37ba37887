"""explain() is a plan-only run of the plan search() executes: its
strategy, leaf placement and scheduled split count must equal what the
search then ran, and it must reject whatever search() rejects."""

import pytest

from quickwit_spark.bench_queries import BENCH_QUERIES
from quickwit_spark.config import transcripts_config
from quickwit_spark.fixtures.transcripts import generate_transcripts
from quickwit_spark.index.builder import build_index
from quickwit_spark.index.catalog import Catalog
from quickwit_spark.search import leaf, root
from quickwit_spark.search.executor import explain, search
from quickwit_spark.search.request import SearchRequest

CFG = transcripts_config(split_num_docs_target=250, segment_num_docs_target=64)


@pytest.fixture(scope="module")
def index_dir(spark, tmp_path_factory):
    pdf = generate_transcripts(n_conversations=60, seed=42)
    d = str(tmp_path_factory.mktemp("idx-explain"))
    build_index(spark, spark.createDataFrame(pdf), CFG, d, n_splits=4)
    assert len(Catalog(d).splits()) == 4
    return d


def _requests(index_dir):
    splits = sorted(Catalog(index_dir).splits(), key=lambda s: s.ts_max)
    lo, hi = min(s.ts_min for s in splits), splits[-1].ts_max + 1
    return [
        # a numeric filter needs the leaf: metadata cannot count it
        SearchRequest("*", max_hits=0, numeric_filters=(("turn_idx", 0, 1000),)),
        # every split wholly inside the range: metadata answers it all
        SearchRequest("*", max_hits=0, start_timestamp=lo, end_timestamp=hi),
        # the range ends at a split's ts_max: only boundary splits run
        SearchRequest("*", max_hits=0, start_timestamp=lo, end_timestamp=splits[1].ts_max),
        SearchRequest("*", max_hits=0),
    ] + [SearchRequest(**kw) for kw in BENCH_QUERIES.values()]


@pytest.mark.parametrize("leaf_kind", ["in_process", "spark_job"])
def test_explain_reports_what_search_runs(spark, index_dir, monkeypatch, leaf_kind):
    """Units are counted at root._score_unit in process and from the bins
    root._leaf_bins hands the Spark job (the job's units run in workers).
    The strategy the search ran is the one its scorer was built with, or
    the metadata count when no unit ran for a '*' count."""
    if leaf_kind == "in_process":
        monkeypatch.setenv("QW_DRIVER_LEAF_MAX_SPLITS", "1000")
        monkeypatch.setenv("QW_DRIVER_LEAF_MAX_ROWS", "1e12")
    else:
        monkeypatch.setenv("QW_DRIVER_LEAF_MAX_SPLITS", "0")
    ran_units: set = set()
    binned: list = []
    built: list = []
    score_unit, leaf_bins, make_scorer = root._score_unit, root._leaf_bins, root.make_split_scorer

    def counting_unit(index_dir_, sid, *a, **kw):
        ran_units.add(sid)
        return score_unit(index_dir_, sid, *a, **kw)

    def counting_bins(*a, **kw):
        bins = leaf_bins(*a, **kw)
        binned.append({sid for b in bins for sid, _, _ in b})
        return bins

    def recording_scorer(config, gstats, ast, request, *a, **kw):
        built.append(leaf.select_strategy(ast, request))
        return make_scorer(config, gstats, ast, request, *a, **kw)

    if leaf_kind == "in_process":
        monkeypatch.setattr(root, "_score_unit", counting_unit)
    monkeypatch.setattr(root, "_leaf_bins", counting_bins)
    monkeypatch.setattr(root, "make_split_scorer", recording_scorer)
    plans = []
    for req in _requests(index_dir):
        plan = explain(spark, index_dir, req)
        plans.append(plan)
        for seen in (ran_units, binned, built):
            seen.clear()
        resp = search(spark, index_dir, req)
        ran = ran_units if leaf_kind == "in_process" else set().union(*binned)
        [strategy] = built
        if not ran and strategy == "match_all_scan" and req.max_hits == 0:
            strategy = "match_all_metadata_count"
        ran_leaf = "spark_job" if binned else "in_process"
        assert (plan["strategy"], plan["leaf"], plan["splits_after_pruning"]) == (
            strategy, ran_leaf, len(ran)
        ), req
        if ran:
            assert ran_leaf == leaf_kind, req
        assert plan["splits_after_pruning"] + plan["splits_pruned"] + plan[
            "splits_metadata_counted"
        ] == plan["splits_total"], req
        if req.query == "*" and req.max_hits == 0:
            want = search(spark, index_dir, SearchRequest(
                "*", max_hits=1, start_timestamp=req.start_timestamp,
                end_timestamp=req.end_timestamp, numeric_filters=req.numeric_filters,
            )).num_hits
            assert resp.num_hits == want > 0, req
    # the four '*' counts: leaf on every split, on none, on the boundary
    # splits only, on none
    assert [p["splits_after_pruning"] for p in plans[:4]] == [4, 0, 3, 0]


@pytest.mark.parametrize("leaf_kind", ["1000", "0"])
def test_explain_rejects_what_search_rejects(spark, index_dir, monkeypatch, leaf_kind):
    monkeypatch.setenv("QW_DRIVER_LEAF_MAX_SPLITS", leaf_kind)
    for req, match in [
        (SearchRequest("deploy", stored_fields=("nope",)), "storedFields"),
        (SearchRequest("deploy", search_after=(1.0, "gone-split", 0)), "stale"),
    ]:
        with pytest.raises(ValueError, match=match):
            search(spark, index_dir, req)
        with pytest.raises(ValueError, match=match):
            explain(spark, index_dir, req)
