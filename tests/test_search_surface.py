"""One search-parameter contract: REST GET /search, the REST batch body and
the CLI ``search`` subcommand all read search.request.SEARCH_PARAMS and run
one dispatcher, so a parameter means the same thing on every surface and a
parameter a surface cannot honour is an error, never silently dropped."""

import argparse
import json
import os
import threading
import urllib.error
import urllib.parse
import urllib.request

import pytest

from quickwit_spark.cli import build_parser, main
from quickwit_spark.config import transcripts_config
from quickwit_spark.fixtures.transcripts import generate_transcripts
from quickwit_spark.index.builder import build_index
from quickwit_spark.search.executor import multi_index_agg, multi_search, search
from quickwit_spark.search.request import (
    SEARCH_PARAMS,
    SearchRequest,
    cli_values,
    parse_search_params,
)
from quickwit_spark.serve import make_server

CFG = transcripts_config(split_num_docs_target=250, segment_num_docs_target=64)


@pytest.fixture(scope="module")
def index_root(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("surface-root")
    for name, n, seed in (("conv", 20, 7), ("conv2", 10, 99)):
        pdf = generate_transcripts(n_conversations=n, seed=seed)
        pdf["conv_id"] = pdf["conv_id"] + f"-{name}"
        build_index(spark, spark.createDataFrame(pdf), CFG, str(root / name))
    return str(root)


@pytest.fixture(scope="module")
def server(spark, index_root):
    srv = make_server(spark, index_root, port=0)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    yield f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()


def _get(url: str):
    try:
        with urllib.request.urlopen(url) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def _batch(server: str, queries: list):
    req = urllib.request.Request(
        f"{server}/api/v1/conv/search/batch",
        data=json.dumps({"queries": queries}).encode(),
        method="POST",
    )
    try:
        with urllib.request.urlopen(req) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def _search_parser() -> argparse.ArgumentParser:
    [sub] = [a for a in build_parser()._actions if isinstance(a, argparse._SubParsersAction)]
    return sub.choices["search"]


def _cli(capsys, *argv):
    code = main(list(argv))
    return code, json.loads(capsys.readouterr().out.strip().splitlines()[-1])


def test_table_resolves_every_surface_name():
    """Every REST name and every CLI search flag is exactly one table
    entry; names unknown to the table are errors on every surface."""
    rest = [p.rest for p in SEARCH_PARAMS]
    flags = [p.flag for p in SEARCH_PARAMS if p.flag]
    assert len(set(rest)) == len(rest) and len(set(flags)) == len(flags)
    cli_flags = {
        opt
        for a in _search_parser()._actions
        for opt in a.option_strings
        if opt.startswith("--") and opt not in ("--help", "--index-dir")
    }
    assert cli_flags == set(flags)
    # each flag round-trips through argparse to its own table entry
    for p in SEARCH_PARAMS:
        if not p.flag or p.rest == "query":
            continue
        argv = ["--index-dir", "x", "--query", "q", p.flag]
        if not p.switch:
            argv.append("1")
        got = cli_values(vars(_search_parser().parse_args(argv)))
        assert set(got) == {"query", p.rest}, p.rest
    with pytest.raises(ValueError, match="maxhits"):
        parse_search_params({"query": "x", "maxhits": "3"})
    with pytest.raises(ValueError, match="numericFilters"):
        parse_search_params({"query": "x", "numericFilters": []}, route="batch")


def test_batch_min_should_match_equals_get(server):
    q = "deploy OR error OR merge"
    st, got = _get(
        f"{server}/api/v1/conv/search?query={urllib.parse.quote(q)}"
        "&minShouldMatch=2&maxHits=5&format=json"
    )
    assert st == 200, got
    st, batch = _batch(server, [{"query": q, "minShouldMatch": 2, "maxHits": 5}])
    assert st == 200, batch
    [resp] = batch["responses"]
    assert resp["numHits"] == got["numHits"]
    assert resp["hits"] == got["hits"]
    st, loose = _get(f"{server}/api/v1/conv/search?query={urllib.parse.quote(q)}")
    assert loose["numHits"] > got["numHits"]  # the parameter did something


def test_batch_unknown_key_is_400_naming_it(server):
    st, body = _batch(server, [{"query": "deploy"}, {"query": "error", "maxhits": 3}])
    assert st == 400 and "maxhits" in body["error"]
    # what multi_search cannot honour is a 400 too, not dropped
    for extra in ({"aggTermsField": "role"}, {"format": "json"}):
        st, body = _batch(server, [{"query": "deploy", **extra}])
        assert st == 400 and next(iter(extra)) in body["error"], extra


def test_batch_numeric_filter_list_and_snippets_equal_get(server):
    st, got = _get(
        f"{server}/api/v1/conv/search?query=deploy&maxHits=4"
        "&numericFilter=turn_idx:2..5&snippetFields=text&format=json"
    )
    assert st == 200, got
    st, batch = _batch(
        server,
        [{"query": "deploy", "maxHits": 4, "numericFilter": ["turn_idx:2..5"],
          "snippetFields": "text"}],
    )
    assert st == 200, batch
    [resp] = batch["responses"]
    assert resp["numHits"] == got["numHits"] and resp["hits"] == got["hits"]
    assert all("<b>" in h["snippets"]["text"] for h in resp["hits"])
    st, body = _batch(server, [{"query": "deploy", "numericFilter": "turn_idx:2..5"}])
    assert st == 400 and "numericFilter" in body["error"]


def test_batch_score_explain_equals_get(server):
    st, got = _get(
        f"{server}/api/v1/conv/search?query=deploy%20failure&maxHits=4"
        "&scoreExplain=true&format=json"
    )
    assert st == 200, got
    st, batch = _batch(
        server,
        [{"query": "deploy failure", "maxHits": 4, "scoreExplain": True},
         {"query": "error", "maxHits": 2}],
    )
    assert st == 200, batch
    resp = batch["responses"][0]
    assert resp["numHits"] == got["numHits"] and resp["hits"] == got["hits"]
    assert resp["hits"] and all(
        h["score_detail"]["score"] == h["score"] for h in resp["hits"]
    )
    assert all("score_detail" not in h for h in batch["responses"][1]["hits"])


def test_explain_with_collapse_is_400(server):
    st, body = _get(
        f"{server}/api/v1/conv/search?query=deploy&collapseField=conv_id&explain=true"
    )
    assert st == 400 and "explain" in body["error"]


def test_multi_search_attaches_snippets_like_search(spark, index_root):
    idx = os.path.join(index_root, "conv")
    req = SearchRequest("depl* OR error", max_hits=5, snippet_fields=("text",))
    [got] = multi_search(spark, idx, [req])
    want = search(spark, idx, req)
    assert got.hits == want.hits
    assert got.hits and all("snippets" in h for h in got.hits)


def test_cli_collapse_with_agg_is_an_error(capsys, index_root):
    code, out = _cli(
        capsys, "search", "--index-dir", os.path.join(index_root, "conv"),
        "--query", "deploy", "--collapse-field", "conv_id", "--agg-terms", "role",
    )
    assert code == 1 and "--agg-terms" in out["error"]


def test_cli_multi_index_agg_equals_library(spark, capsys, index_root):
    dirs = [os.path.join(index_root, "conv"), os.path.join(index_root, "conv2")]
    code, out = _cli(
        capsys, "search", "--index-dir", ",".join(dirs), "--query", "deploy",
        "--max-hits", "0", "--agg-terms", "role", "--agg-stats", "turn_idx",
    )
    assert code == 0, out
    want = multi_index_agg(
        spark, dirs, SearchRequest("deploy", max_hits=0),
        terms_field="role", stats_field="turn_idx",
    )
    assert out["agg_terms"] == [{"key": v, "doc_count": n} for v, n in want["terms"]]
    assert out["agg_stats"] == want["stats"]
    assert out["num_hits"] == sum(
        search(spark, d, SearchRequest("deploy", max_hits=0)).num_hits for d in dirs
    )
