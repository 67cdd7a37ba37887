"""REST server (quickwit-serve analog) + CLI management subcommands.

Mirrors the reference's serve/rest tests (quickwit-serve/src/rest.rs) and
CLI integration scenarios (quickwit-cli/tests/cli.rs:73-800): search over
HTTP with the documented params, stream export as CSV, 404/400 taxonomy,
ingest → describe → gc → delete lifecycle."""

import json
import os
import threading
import urllib.request

import pytest

from quickwit_spark.config import transcripts_config
from quickwit_spark.fixtures.transcripts import generate_transcripts
from quickwit_spark.index.builder import build_index
from quickwit_spark.search.executor import search
from quickwit_spark.search.request import SearchRequest
from quickwit_spark.serve import make_server

CFG = transcripts_config(split_num_docs_target=250, segment_num_docs_target=64)


@pytest.fixture(scope="module")
def index_root(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("serve-root")
    pdf = generate_transcripts(n_conversations=30, seed=7)
    build_index(spark, spark.createDataFrame(pdf), CFG, str(root / "conv"))
    return str(root)


@pytest.fixture(scope="module")
def server(spark, index_root):
    srv = make_server(spark, index_root, port=0)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()


def _get(url: str):
    try:
        with urllib.request.urlopen(url) as r:
            return r.status, r.read(), r.headers.get("Content-Type")
    except urllib.error.HTTPError as e:
        return e.code, e.read(), e.headers.get("Content-Type")


def test_health(server):
    code, body, _ = _get(f"{server}/health")
    assert code == 200 and json.loads(body)["status"] == "ok"
    code, body, _ = _get(f"{server}/health/livez")  # health_check.rs:50
    assert code == 200 and json.loads(body)["status"] == "ok"


def test_cluster_members(server):
    code, body, _ = _get(f"{server}/cluster/members")
    members = json.loads(body)["members"]
    assert code == 200 and members and members[0]["default_parallelism"] >= 1


def test_metrics_endpoint(server):
    """GET /metrics serves Prometheus text format and the search counter
    moves per request (rest.rs:50-54; counters.rs rest_api:search:num_requests)."""

    def scrape():
        code, body, ctype = _get(f"{server}/metrics")
        assert code == 200 and ctype.startswith("text/plain")
        vals = {}
        for line in body.decode().splitlines():
            if line.startswith("#") or not line.strip():
                continue
            name, v = line.rsplit(" ", 1)
            vals[name] = int(v)
        return vals

    before = scrape()
    assert "rest_api:search:num_requests" in before
    _get(f"{server}/api/v1/conv/search?query=deploy&maxHits=1")
    _get(f"{server}/api/v1/nosuchindex/search?query=deploy")  # 404 → errors
    after = scrape()
    assert (
        after["rest_api:search:num_requests"]
        >= before["rest_api:search:num_requests"] + 1
    )
    assert (
        after["rest_api:errors:num_responses"]
        >= before["rest_api:errors:num_responses"] + 1
    )


def test_search_endpoint_matches_library(spark, server, index_root):
    code, body, ctype = _get(f"{server}/api/v1/conv/search?query=deploy&maxHits=5")
    assert code == 200 and ctype == "application/json"
    got = json.loads(body)
    want = search(spark, os.path.join(index_root, "conv"), SearchRequest("deploy", max_hits=5))
    assert got["numHits"] == want.num_hits
    assert [h["doc_id"] for h in got["hits"]] == [h["doc_id"] for h in want.hits]
    assert [round(h["score"], 9) for h in got["hits"]] == [
        round(h["score"], 9) for h in want.hits
    ]


def test_doc_endpoint(server):
    """GET /api/v1/{index}/doc/{split}/{doc} returns the stored fields of
    one search hit's address; bad addresses 404, non-int doc_id 400s."""
    code, body, _ = _get(f"{server}/api/v1/conv/search?query=deploy&maxHits=1&format=json")
    hit = json.loads(body)["hits"][0]
    code, body, _ = _get(f"{server}/api/v1/conv/doc/{hit['split_id']}/{hit['doc_id']}")
    assert code == 200, body
    doc = json.loads(body)
    assert doc["split_id"] == hit["split_id"] and doc["doc_id"] == hit["doc_id"]
    assert doc["text"] == hit["text"] and doc["conv_id"] == hit["conv_id"]
    code, _, _ = _get(f"{server}/api/v1/conv/doc/no-such-split/0")
    assert code == 404
    code, _, _ = _get(f"{server}/api/v1/conv/doc/{hit['split_id']}/99999999")
    assert code == 404
    code, _, _ = _get(f"{server}/api/v1/conv/doc/{hit['split_id']}/abc")
    assert code == 400
    code, _, _ = _get(f"{server}/api/v1/conv/doc/{hit['split_id']}")
    assert code == 404


def test_search_endpoint_score_explain(server):
    """scoreExplain=true attaches the per-hit BM25 breakdown; each hit's
    contributions reproduce its reported score exactly."""
    code, body, _ = _get(
        f"{server}/api/v1/conv/search?query=deploy%20OR%20error&maxHits=3"
        "&scoreExplain=true&format=json"
    )
    assert code == 200
    got = json.loads(body)
    assert got["hits"]
    for h in got["hits"]:
        d = h["score_detail"]
        assert d["score"] == h["score"]
        assert sum(t["contribution"] for t in d["terms"]) == h["score"]
        assert all(t["tf"] >= 1 and t["doc_freq"] >= 1 for t in d["terms"])


def test_search_endpoint_snippets(server):
    """snippetFields returns highlighted fragments per hit; a bad field is
    a 400, not a dropped connection."""
    code, body, _ = _get(
        f"{server}/api/v1/conv/search?query=deploy&maxHits=3"
        "&snippetFields=text&snippetMaxChars=80&format=json"
    )
    assert code == 200
    got = json.loads(body)
    assert got["hits"]
    for h in got["hits"]:
        snip = h["snippets"]["text"]
        assert "<b>" in snip
        plain = snip.replace("<b>", "").replace("</b>", "")
        assert len(plain) <= 80 and plain in h["text"]
    code, body, _ = _get(
        f"{server}/api/v1/conv/search?query=deploy&maxHits=1&snippetFields=role"
    )
    if isinstance(body, bytes):
        body = body.decode()
    assert code == 400 and "role" in body


def test_search_params(server):
    url = (
        f"{server}/api/v1/conv/search?query=error&startOffset=2&maxHits=3"
        "&startTimestamp=1767225600&endTimestamp=1798761600&searchField=text"
    )
    code, body, _ = _get(url)
    assert code == 200
    got = json.loads(body)
    assert len(got["hits"]) <= 3 and got["numHits"] > 0


def test_unknown_query_param_is_400(server):
    """serde(deny_unknown_fields) parity (rest.rs:124,225): a typo'd
    parameter must 400 and name the offender, not silently default."""
    code, body, _ = _get(f"{server}/api/v1/conv/search?query=error&maxhits=3")
    if isinstance(body, bytes):
        body = body.decode()
    assert code == 400 and "maxhits" in body
    # stream endpoint has its OWN (reference-exact) allowed set:
    # search-only params like startOffset are unknown there
    code, body, _ = _get(
        f"{server}/api/v1/conv/search/stream?query=error&fastField=ts"
        "&startOffset=2"
    )
    if isinstance(body, bytes):
        body = body.decode()
    assert code == 400 and "startOffset" in body
    # empty fastField: deserialize_not_empty_string is a 400
    code, _, _ = _get(
        f"{server}/api/v1/conv/search/stream?query=error&fastField="
    )
    assert code == 400


def test_stream_endpoint_csv(server):
    code, body, ctype = _get(
        f"{server}/api/v1/conv/search/stream?query=deploy&fastField=ts&outputFormat=csv"
    )
    assert code == 200 and ctype == "text/csv"
    lines = [ln for ln in body.decode().splitlines() if ln]
    assert lines and all(ln.lstrip("-").isdigit() for ln in lines)


def test_stream_endpoint_rowbinary(server):
    """outputFormat=clickHouseRowBinary (rest-api.md:70-114): little-endian
    i64 packed values, same value multiset as the CSV format."""
    import numpy as np

    _, csv_body, _ = _get(
        f"{server}/api/v1/conv/search/stream?query=deploy&fastField=ts&outputFormat=csv"
    )
    csv_vals = sorted(int(ln) for ln in csv_body.decode().splitlines() if ln)
    code, body, ctype = _get(
        f"{server}/api/v1/conv/search/stream?query=deploy&fastField=ts"
        "&outputFormat=clickHouseRowBinary"
    )
    assert code == 200 and ctype == "application/octet-stream"
    assert len(body) % 8 == 0
    assert sorted(np.frombuffer(body, dtype="<i8").tolist()) == csv_vals
    code, _, _ = _get(
        f"{server}/api/v1/conv/search/stream?query=deploy&fastField=ts&outputFormat=xml"
    )
    assert code == 400


def test_sort_by_field_mini_dsl(spark, server, index_root):
    """rest.rs:361-371 / sort_by.rs:64-75: sortByField=+f asc, -f desc,
    bare f ASC (the REST layer always sets an explicit order)."""

    def hits(url_sort):
        code, body, _ = _get(
            f"{server}/api/v1/conv/search?query=deploy&maxHits=5"
            f"&sortByField={url_sort}&format=json"
        )
        assert code == 200
        return [h["sort_value"] for h in json.loads(body)["hits"]]

    asc_plus, desc, bare = hits("%2Bts"), hits("-ts"), hits("ts")
    assert asc_plus == sorted(asc_plus)
    assert desc == sorted(desc, reverse=True)
    assert bare == asc_plus  # bare field is ascending, sort_by.rs:70-71
    want = search(
        spark,
        os.path.join(index_root, "conv"),
        SearchRequest("deploy", max_hits=5, sort_by_field="ts", sort_asc=True),
    )
    assert asc_plus == [h["sort_value"] for h in want.hits]


def test_stream_endpoint_partitioned_rowbinary(server):
    """partitionByField + clickHouseRowBinary: per-partition blocks of
    partition value (8B LE) + payload size (8B LE) + i64 values
    (search_stream/mod.rs:50-69 serialize_partitions); CSV + partitionBy
    is rejected (leaf.rs:140-145)."""
    import struct

    import numpy as np

    _, csv_body, _ = _get(
        f"{server}/api/v1/conv/search/stream?query=deploy&fastField=ts&outputFormat=csv"
    )
    all_vals = sorted(int(ln) for ln in csv_body.decode().splitlines() if ln)
    code, body, ctype = _get(
        f"{server}/api/v1/conv/search/stream?query=deploy&fastField=ts"
        "&outputFormat=clickHouseRowBinary&partitionByField=turn_idx"
    )
    assert code == 200 and ctype == "application/octet-stream"
    got_vals, seen_parts, off = [], set(), 0
    while off < len(body):
        part, size = struct.unpack_from("<qQ", body, off)
        off += 16
        assert size % 8 == 0
        got_vals.extend(np.frombuffer(body[off : off + size], dtype="<i8").tolist())
        assert part not in seen_parts  # one block per partition value
        seen_parts.add(part)
        off += size
    assert off == len(body)
    assert sorted(got_vals) == all_vals and len(seen_parts) > 1
    code, _, _ = _get(
        f"{server}/api/v1/conv/search/stream?query=deploy&fastField=ts"
        "&outputFormat=csv&partitionByField=turn_idx"
    )
    assert code == 400
    # a non-numeric partition column is rejected up-front (leaf.rs:346-357:
    # the partition field must be a numeric fast field), not mid-stream
    code, body, _ = _get(
        f"{server}/api/v1/conv/search/stream?query=deploy&fastField=ts"
        "&outputFormat=clickHouseRowBinary&partitionByField=role"
    )
    assert code == 400 and b"integer column" in body


def test_batch_endpoint(spark, server, index_root):
    import urllib.request as ur

    body = json.dumps(
        {"queries": [{"query": "deploy", "maxHits": 3}, {"query": "error", "maxHits": 2}]}
    ).encode()
    req = ur.Request(
        f"{server}/api/v1/conv/search/batch", data=body,
        headers={"Content-Type": "application/json"}, method="POST",
    )
    with ur.urlopen(req) as r:
        got = json.loads(r.read())
    assert len(got["responses"]) == 2
    want = search(spark, os.path.join(index_root, "conv"), SearchRequest("deploy", max_hits=3))
    assert got["responses"][0]["numHits"] == want.num_hits
    assert [h["doc_id"] for h in got["responses"][0]["hits"]] == [
        h["doc_id"] for h in want.hits
    ]


def test_error_taxonomy(server):
    assert _get(f"{server}/api/v1/nosuch/search?query=a")[0] == 404
    assert _get(f"{server}/api/v1/conv/search")[0] == 400  # missing query
    assert _get(f"{server}/api/v1/conv/search?query=ts:%5B1%20TO%202%5D")[0] == 400  # ranges rejected
    assert _get(f"{server}/api/v1/conv/search/stream?query=a")[0] == 400  # missing fastField
    assert _get(f"{server}/nope")[0] == 404


def test_cli_ingest_describe_gc_delete(spark, tmp_path):
    from quickwit_spark.cli import cmd_delete, cmd_describe, cmd_gc, cmd_ingest

    # NDJSON corpus (FileSource analog)
    nd = tmp_path / "docs.ndjson"
    pdf = generate_transcripts(n_conversations=5, seed=3)
    with open(nd, "w") as f:
        for r in pdf.to_dict("records"):
            f.write(
                json.dumps(
                    {
                        "conv_id": r["conv_id"],
                        "turn_idx": int(r["turn_idx"]),
                        "role": r["role"],
                        "text": r["text"],
                        "tool": r["tool"],
                        "ts": str(r["ts"]).replace(" ", "T"),
                    }
                )
                + "\n"
            )
        f.write("not json at all\n")  # NotJson analog → invalid-doc counter

    class A:
        pass

    a = A()
    a.local_cpus = None
    a.shuffle_partitions = None
    a.input = str(nd)
    a.index_dir = str(tmp_path / "idx")
    a.build_id = "t1"
    a.split_docs = 100
    a.segment_docs = 64
    out = cmd_ingest(a)
    assert out["total_docs"] == len(pdf) and out["invalid_docs"] == 1
    assert out["published_splits"] >= 1

    a.splits = False
    desc = cmd_describe(a)
    assert desc["num_docs"] == len(pdf)
    assert desc["splits_by_state"]["Published"] == out["published_splits"]
    assert desc["ts_range"] is not None

    assert cmd_gc(a)["deleted"] == []  # nothing marked yet

    # dry runs report candidates and touch nothing (quickwit-cli
    # index gc/delete --dry-run, quickwit-cli/src/index.rs:92-101)
    a.dry_run = True
    a.grace_period = 0.0
    a.deletion_grace_period = None
    gc_dry = cmd_gc(a)
    assert gc_dry["dry_run"] is True and gc_dry["candidates"] == []
    del_dry = cmd_delete(a)
    assert del_dry["dry_run"] is True
    assert len(del_dry["candidates"]) == out["published_splits"]
    assert os.path.exists(a.index_dir)  # nothing deleted
    a.dry_run = False

    a.yes = False
    assert "error" in cmd_delete(a)
    a.yes = True
    deleted = cmd_delete(a)
    assert len(deleted["deleted_splits"]) == out["published_splits"]
    assert not os.path.exists(a.index_dir)


def test_search_endpoint_generic_schema(spark, tmp_path):
    """REST search over a generic-schema index: nested-leaf queries resolve
    and typed stored fields render JSON-safe (bytes → base64, dates →
    RFC-3339) through the HTTP path."""
    import urllib.parse

    from quickwit_spark.index.generic import build_index_from_ndjson
    from tests.test_generic_index import MAPPER, _corpus

    root = tmp_path / "root"
    root.mkdir()
    nd = tmp_path / "c.ndjson"
    nd.write_text("\n".join(_corpus()) + "\n")
    build_index_from_ndjson(spark, str(nd), MAPPER, str(root / "ev"), split_num_docs_target=50)

    srv = make_server(spark, str(root), port=0)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        base = f"http://127.0.0.1:{srv.server_address[1]}"
        q = urllib.parse.quote("attributes.server:srv-2 needle")
        # maxHits, not max_hits: the param grammar is camelCase and
        # unknown params are 400s (deny_unknown_fields parity)
        status, body, ctype = _get(f"{base}/api/v1/ev/search?query={q}&maxHits=3")
        assert status == 200 and "application/json" in ctype
        out = json.loads(body)
        assert out["numHits"] > 0
        for h in out["hits"]:
            assert h["attributes.server"] == "srv-2"
            assert h["payload"] == "YWJj"  # bytes as base64
            assert h["created"].startswith("2024-01-")  # date as RFC-3339
    finally:
        srv.shutdown()


def test_path_traversal_index_id_rejected(server, index_root, tmp_path_factory):
    """'..' in the index-id position must 404, not serve the PARENT of the
    index root (any directory reachable that way with a catalog.json would
    leak data the operator did not mount)."""
    # plant a catalog one level ABOVE the index root: pre-fix, /api/v1/..
    # resolves there and happily serves it
    parent = os.path.dirname(index_root)
    import shutil

    if not os.path.exists(os.path.join(parent, "catalog.json")):
        shutil.copy(
            os.path.join(index_root, "conv", "catalog.json"),
            os.path.join(parent, "catalog.json"),
        )
    code, _, _ = _get(f"{server}/api/v1/../search?query=deploy")
    assert code == 404
    req = urllib.request.Request(
        f"{server}/api/v1/../search/batch",
        data=json.dumps({"queries": [{"query": "a"}]}).encode(),
        method="POST",
    )
    try:
        with urllib.request.urlopen(req) as r:
            code = r.status
    except urllib.error.HTTPError as e:
        code = e.code
    assert code == 404


def test_dangling_operator_is_400_not_500(server):
    """Malformed queries ending in an operator must be a 400 parse error
    (QueryParserError), not an unhandled IndexError tearing down the
    handler."""
    for q in ("error%20NOT", "foo%20-", "%2B", "error%20AND"):
        code, body, _ = _get(f"{server}/api/v1/conv/search?query={q}")
        assert code == 400, (q, code, body)
        assert "error" in json.loads(body)


def test_slow_stream_client_does_not_block_other_queries(spark, index_root):
    """The driver lock must be released between stream batches: a client
    that stalls mid-transfer cannot hold every other query hostage.  When
    the stalled client then goes away, its handler raises nothing."""
    import socket
    import sys
    import time

    srv = make_server(spark, index_root, port=0)
    errors, finished = [], []
    srv.handle_error = lambda request, addr: errors.append(sys.exc_info()[1])
    serve_one = srv.process_request_thread

    def tracked(request, addr):
        try:
            serve_one(request, addr)
        finally:
            finished.append(addr)

    srv.process_request_thread = tracked
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    server = f"http://127.0.0.1:{srv.server_address[1]}"
    s = socket.create_connection(srv.server_address)
    stream_addr = s.getsockname()
    try:
        s.sendall(
            b"GET /api/v1/conv/search/stream?query=the&fastField=ts&outputFormat=csv"
            b" HTTP/1.1\r\nHost: x\r\n\r\n"
        )
        s.recv(256)  # headers+first bytes arrived; now stall WITHOUT reading more
        try:
            t0 = time.monotonic()
            code, body, _ = _get(f"{server}/api/v1/conv/search?query=deploy&maxHits=1")
            elapsed = time.monotonic() - t0
            assert code == 200 and json.loads(body)["numHits"] > 0
            # generous bound: a held lock would block until the stream times out
            assert elapsed < 30
        finally:
            s.close()
        # the gone client's handler now closes its export iterator; a query
        # sent meanwhile is not held up behind that close
        t0 = time.monotonic()
        code, body, _ = _get(f"{server}/api/v1/conv/search?query=deploy&maxHits=1")
        assert code == 200 and json.loads(body)["numHits"] > 0
        assert time.monotonic() - t0 < 30
        deadline = time.monotonic() + 60
        while stream_addr not in finished and time.monotonic() < deadline:
            time.sleep(0.05)
        assert stream_addr in finished
        assert errors == []
    finally:
        srv.shutdown()
        srv.server_close()


def test_stream_reply_survives_client_disconnect(caplog):
    """A client that drops the connection mid-stream ends the chunked reply
    with one log line: no exception leaves the handler, and the chunk
    generator is closed (its cleanup releases the export iterator)."""
    import logging

    from quickwit_spark.serve import _Handler

    class DroppedSocket:
        def __init__(self):
            self.writes = 0

        def write(self, data):
            self.writes += 1
            if self.writes > 2:  # headers and one chunk, then the peer is gone
                raise ConnectionResetError(104, "Connection reset by peer")

    closed = []

    def chunks():
        try:
            for _ in range(100):
                yield b"x" * 10
        finally:
            closed.append(True)

    h = _Handler.__new__(_Handler)
    h.wfile = DroppedSocket()
    h.request_version = "HTTP/1.1"
    h.requestline = "GET /api/v1/conv/search/stream HTTP/1.1"
    h.client_address = ("127.0.0.1", 40000)
    h.close_connection = False
    with caplog.at_level(logging.WARNING, logger="quickwit_spark.serve"):
        h._reply_chunked(chunks(), "text/csv")
    assert closed == [True]
    assert h.close_connection
    assert h.wfile.writes == 3
    assert [r.getMessage() for r in caplog.records] == [
        "stream client 127.0.0.1 disconnected: [Errno 104] Connection reset by peer"
    ]


def test_stream_iterator_closes_outside_the_driver_lock():
    """Closing an abandoned export iterator drains the rest of its current
    partition from the iterator's own socket; it must not hold the driver
    lock while it does, or every other query waits behind it."""
    from quickwit_spark.serve import _Handler

    h = _Handler.__new__(_Handler)
    h.lock = threading.Lock()
    held_at_close = []

    class Rows:
        def __iter__(self):
            return self

        def __next__(self):
            return {"ts": 1}

        def close(self):
            held_at_close.append(h.lock.locked())

    chunks = h._row_chunks(Rows(), lambda rows: b"x" * len(rows), 4)
    assert next(chunks) == b"xxxx"
    chunks.close()
    assert held_at_close == [False]


def test_search_endpoint_calendar_histogram(spark, server, index_root):
    """aggHistogramCalendar buckets date_trunc in UTC (here 'day': keys on
    86400 boundaries since the corpus epochs are UTC-aligned); combining
    with aggHistogramInterval is a 400."""
    code, body, _ = _get(
        f"{server}/api/v1/conv/search?query=deploy&maxHits=0"
        "&aggHistogramCalendar=day&format=json"
    )
    assert code == 200, body
    got = json.loads(body)
    buckets = got["aggregations"]["histogram"]["buckets"]
    assert sum(b["docCount"] for b in buckets) == got["numHits"]
    assert all(b["key"] % 86400 == 0 for b in buckets)
    code, body, _ = _get(
        f"{server}/api/v1/conv/search?query=deploy&maxHits=0"
        "&aggHistogramCalendar=day&aggHistogramInterval=100"
    )
    assert code == 400
    code, body, _ = _get(
        f"{server}/api/v1/conv/search?query=deploy&maxHits=0"
        "&aggHistogramCalendar=fortnight"
    )
    assert code == 400


def test_search_endpoint_aggregations(spark, server, index_root):
    """aggTermsField / aggHistogramInterval return ES-shaped buckets whose
    counts sum to numHits (every match lands in exactly one bucket)."""
    code, body, _ = _get(
        f"{server}/api/v1/conv/search?query=deploy&maxHits=0"
        "&aggTermsField=role&aggTermsMetricField=ts&aggHistogramInterval=604800"
        "&aggStatsField=ts&aggPercentilesField=ts&aggCardinalityField=role&format=json"
    )
    assert code == 200, body
    got = json.loads(body)
    assert got["hits"] == []
    aggs = got["aggregations"]
    assert sum(b["docCount"] for b in aggs["terms"]["buckets"]) == got["numHits"]
    assert sum(b["docCount"] for b in aggs["histogram"]["buckets"]) == got["numHits"]
    hist_keys = [b["key"] for b in aggs["histogram"]["buckets"]]
    assert hist_keys == sorted(hist_keys) and all(k % 604800 == 0 for k in hist_keys)
    counts = [b["docCount"] for b in aggs["terms"]["buckets"]]
    assert counts == sorted(counts, reverse=True)
    stats = aggs["stats"]
    assert stats["count"] == got["numHits"]
    assert stats["min"] <= stats["avg"] <= stats["max"]
    # every match lands in the [min, max] histogram span
    assert hist_keys[0] <= stats["min"] and stats["max"] < hist_keys[-1] + 604800
    pcts = aggs["percentiles"]
    assert pcts["count"] == got["numHits"]
    assert stats["min"] <= pcts["p50"] <= pcts["p90"] <= pcts["p99"] <= stats["max"]
    card = aggs["cardinality"]
    assert card["count"] == got["numHits"]
    # cardinality of role == the number of terms buckets (role has few values)
    assert card["cardinality"] == len(aggs["terms"]["buckets"])
    # nested sub-aggregation: same buckets as terms, each with ts stats
    ts_stats = aggs["termsStats"]
    assert ts_stats["field"] == "role" and ts_stats["metricField"] == "ts"
    assert [(b["value"], b["doc_count"]) for b in ts_stats["buckets"]] == [
        (b["key"], b["docCount"]) for b in aggs["terms"]["buckets"]
    ]
    for b in ts_stats["buckets"]:
        assert stats["min"] <= b["min"] <= b["avg"] <= b["max"] <= stats["max"]

    # extended_stats rides the same param set: variance/std/sum_of_squares
    code, body, _ = _get(
        f"{server}/api/v1/conv/search?query=deploy&maxHits=0"
        "&aggStatsField=ts&aggStatsExtended=true&format=json"
    )
    assert code == 200, body
    est = json.loads(body)["aggregations"]["stats"]
    assert est["count"] == stats["count"] and est["sum"] == stats["sum"]
    assert est["variance"] >= 0 and est["sum_of_squares"] > 0
    assert abs(est["std_deviation"] ** 2 - est["variance"]) < 1e-4 * max(
        1.0, est["variance"]
    )
    # extended without a stats field is a parameter error, not silence
    code, body, _ = _get(
        f"{server}/api/v1/conv/search?query=deploy&maxHits=0"
        "&aggStatsExtended=true&format=json"
    )
    assert code == 400


def test_search_endpoint_significant_terms(server):
    """aggSignificantField returns JLH-scored buckets desc; the query's own
    term dominates; a raw-tokenized field is a 400."""
    code, body, _ = _get(
        f"{server}/api/v1/conv/search?query=deploy&maxHits=0"
        "&aggSignificantField=text&aggSignificantSize=5&format=json"
    )
    assert code == 200, body
    got = json.loads(body)
    sig = got["aggregations"]["significantTerms"]
    assert sig["field"] == "text" and len(sig["buckets"]) == 5
    assert sig["buckets"][0]["term"] == "deploy"
    scores = [b["score"] for b in sig["buckets"]]
    assert scores == sorted(scores, reverse=True)
    for b in sig["buckets"]:
        assert 0 < b["fg_count"] <= got["numHits"] and b["bg_count"] >= b["fg_count"]
    code, body, _ = _get(
        f"{server}/api/v1/conv/search?query=deploy&maxHits=0&aggSignificantField=role"
    )
    assert code == 400


def test_search_endpoint_filters_agg(server):
    """aggFilters (URL-encoded JSON) returns one named count bucket per
    filter; malformed JSON is a 400."""
    import urllib.parse

    flt = urllib.parse.quote(json.dumps({"d": "deploy", "e": "error OR failure"}))
    code, body, _ = _get(
        f"{server}/api/v1/conv/search?query=merge&maxHits=0"
        f"&aggFilters={flt}&format=json"
    )
    assert code == 200, body
    got = json.loads(body)
    buckets = {b["key"]: b["docCount"] for b in got["aggregations"]["filters"]["buckets"]}
    assert set(buckets) == {"d", "e"}
    assert all(0 < v <= got["numHits"] for v in buckets.values())
    code, _, _ = _get(
        f"{server}/api/v1/conv/search?query=merge&maxHits=0&aggFilters=notjson"
    )
    assert code == 400


def test_unknown_fast_field_is_400(server):
    """An undeclared fast field must be rejected driver-side as a 400 —
    not crash executor-side and drop the HTTP connection."""
    code, body, _ = _get(
        f"{server}/api/v1/conv/search?query=deploy&maxHits=0"
        "&aggStatsField=nope&format=json"
    )
    if isinstance(body, bytes):
        body = body.decode()
    assert code == 400 and "nope" in body


def test_explain_endpoint_and_strategies(spark, server, index_root):
    """explain=true surfaces the driver-side plan: strategy selection must
    match make_split_scorer's (WAND for one term, MaxScore for pure OR,
    metadata count for '*' count-only, full_eval otherwise)."""
    from quickwit_spark.search.executor import explain
    from quickwit_spark.search.request import SearchRequest as SR

    idx = os.path.join(index_root, "conv")
    assert explain(spark, idx, SR("deploy"))["strategy"] == "block_max_wand"
    assert explain(spark, idx, SR("deploy OR error"))["strategy"] == "maxscore_union"
    assert explain(spark, idx, SR("*", max_hits=0))["strategy"] == "match_all_metadata_count"
    # boosted disjunctions prune too: MaxScore scales each term's bound
    # and score by its boost
    assert explain(spark, idx, SR("deploy^2 OR error"))["strategy"] == "maxscore_union"
    p = explain(spark, idx, SR('"deploy failure"', start_timestamp=1))
    assert p["strategy"] == "full_eval" and p["splits_after_pruning"] >= 1
    assert p["ts_elided_strategy"] is None  # phrases never elide to a pruned path
    # a time range covering every split: full_eval at request level, but
    # every split upgrades to WAND (whole-split time-filter elision)
    e = explain(spark, idx, SR("deploy", start_timestamp=0, end_timestamp=2**40))
    assert e["strategy"] == "full_eval"
    assert e["ts_elided_strategy"] == "block_max_wand"
    assert e["splits_ts_elided"] == e["splits_after_pruning"] > 0
    dfq = {t["term"]: t["doc_freq"] for t in p["terms"]}
    assert dfq["deploy"] > 0 and dfq["failure"] > 0

    code, body, _ = _get(
        f"{server}/api/v1/conv/search?query=deploy&maxHits=1&explain=true&format=json"
    )
    got = json.loads(body)
    assert code == 200 and got["explain"]["strategy"] == "block_max_wand"
    assert got["numHits"] > 0  # explain rides along, search still runs


def test_search_endpoint_collapse(spark, server, index_root):
    """collapseField: one hit per distinct field value, matching the
    library's search_collapse page; totals cover ALL groups/docs; agg and
    snippet combinations are rejected."""
    from quickwit_spark.search.executor import search_collapse

    st, body, _ = _get(
        f"{server}/api/v1/conv/search?query=deploy&maxHits=3"
        "&collapseField=conv_id&format=json"
    )
    assert st == 200
    out = json.loads(body)
    assert out["collapse"]["field"] == "conv_id"
    assert len(out["hits"]) == 3
    assert out["collapse"]["numGroups"] >= 3
    assert out["numHits"] >= out["collapse"]["numGroups"]
    lib = search_collapse(
        spark, os.path.join(index_root, "conv"),
        SearchRequest("deploy", max_hits=3), "conv_id",
    ).collect()
    assert [h["conv_id"] for h in out["hits"]] == [r["conv_id"] for r in lib]
    assert [h["group_hits"] for h in out["hits"]] == [
        r["group_hits"] for r in lib
    ]
    # distinct conv_ids by construction
    assert len({h["conv_id"] for h in out["hits"]}) == 3

    st, body, _ = _get(
        f"{server}/api/v1/conv/search?query=deploy&collapseField=conv_id"
        "&aggTermsField=role"
    )
    assert st == 400 and b"agg" in body
    st, body, _ = _get(
        f"{server}/api/v1/conv/search?query=deploy&collapseField=conv_id"
        "&snippetFields=text"
    )
    assert st == 400 and b"snippet" in body
    # unknown-field taxonomy flows through (ValueError -> 400)
    st, body, _ = _get(
        f"{server}/api/v1/conv/search?query=deploy&collapseField=nope"
    )
    assert st == 400


def test_termdict_endpoint(spark, server, index_root):
    """GET /termdict: term-dictionary range scan — terms ascending with
    global doc_freq, prefix window honored, df equal to what search-time
    global stats report; param errors 400."""
    st, body, _ = _get(f"{server}/api/v1/conv/termdict?field=role")
    assert st == 200
    got = json.loads(body)
    terms = {t["term"]: t["doc_freq"] for t in got["terms"]}
    assert set(terms) == {"assistant", "system", "tool", "user"}
    names = [t["term"] for t in got["terms"]]
    assert names == sorted(names)
    # df agrees with the search path's global stats (same LSM source)
    from quickwit_spark.search.executor import explain
    from quickwit_spark.search.request import SearchRequest as SR

    idx = os.path.join(index_root, "conv")
    e = explain(spark, idx, SR("role:assistant"))
    assert terms["assistant"] == e["terms"][0]["doc_freq"]
    # prefix + limit window
    st, body, _ = _get(f"{server}/api/v1/conv/termdict?field=text&prefix=dep&limit=3")
    assert st == 200
    sub = json.loads(body)["terms"]
    assert 1 <= len(sub) <= 3 and all(t["term"].startswith("dep") for t in sub)
    # errors: unknown field, unknown param, missing field
    assert _get(f"{server}/api/v1/conv/termdict?field=nope")[0] == 400
    assert _get(f"{server}/api/v1/conv/termdict?field=text&bogus=1")[0] == 400
    assert _get(f"{server}/api/v1/conv/termdict")[0] == 400


def test_stored_fields_param(server):
    """storedFields=a,b restricts each hit to identity + those columns;
    an unknown column is a 400 naming the stored set."""
    st, body, _ = _get(
        f"{server}/api/v1/conv/search?query=deploy&maxHits=2"
        "&storedFields=text,role&format=json"
    )
    assert st == 200, body
    got = json.loads(body)
    assert got["hits"]
    for h in got["hits"]:
        assert set(h) == {"split_id", "doc_id", "score", "sort_value", "text", "role"}
    st, body, _ = _get(
        f"{server}/api/v1/conv/search?query=deploy&storedFields=nope"
    )
    if isinstance(body, bytes):
        body = body.decode()
    assert st == 400 and "nope" in body


def test_numeric_filter_param(server):
    """numericFilter=field:lo..hi (repeatable) restricts matches to the
    fast-field range; malformed filters and unknown fields are 400s."""
    st, body, _ = _get(
        f"{server}/api/v1/conv/search?query=deploy&maxHits=5"
        "&numericFilter=turn_idx:2..5&format=json"
    )
    assert st == 200, body
    got = json.loads(body)
    assert got["numHits"] > 0
    assert all(2 <= h["turn_idx"] < 5 for h in got["hits"])
    assert _get(f"{server}/api/v1/conv/search?query=deploy&numericFilter=bogus")[0] == 400
    assert _get(f"{server}/api/v1/conv/search?query=deploy&numericFilter=nope:1..2")[0] == 400


def test_multi_index_search(spark, server, index_root):
    """ES-style multi-index addressing (/api/v1/a,b/search): pages merge in
    result order with the index id as the outermost tie key, num_hits sums
    exact per-index counts, offsets apply globally after the merge;
    single-index-only features and unknown members reject loudly."""
    from quickwit_spark.fixtures.transcripts import generate_transcripts
    from quickwit_spark.index.builder import build_index
    from quickwit_spark.search.executor import multi_index_search

    pdf = generate_transcripts(n_conversations=10, seed=99)
    pdf["conv_id"] = pdf["conv_id"] + "-b"
    b_dir = os.path.join(index_root, "conv2")
    build_index(spark, spark.createDataFrame(pdf), CFG, b_dir)
    a_dir = os.path.join(index_root, "conv")
    ra = search(spark, a_dir, SearchRequest("deploy", max_hits=50))
    rb = search(spark, b_dir, SearchRequest("deploy", max_hits=50))
    m = multi_index_search(spark, [a_dir, b_dir], SearchRequest("deploy", max_hits=7))
    assert m.num_hits == ra.num_hits + rb.num_hits
    union = [dict(h, index_id="conv") for h in ra.hits] + [
        dict(h, index_id="conv2") for h in rb.hits
    ]
    union.sort(key=lambda h: (-h["score"], h["index_id"], h["split_id"], h["doc_id"]))
    key = lambda h: (h["index_id"], h["split_id"], h["doc_id"])  # noqa: E731
    assert [key(h) for h in m.hits] == [key(h) for h in union[:7]]
    # global offset = a slice of the merged order, not per-index slices
    m2 = multi_index_search(
        spark, [a_dir, b_dir], SearchRequest("deploy", max_hits=3, start_offset=4)
    )
    assert [key(h) for h in m2.hits] == [key(h) for h in m.hits[4:7]]
    with pytest.raises(ValueError, match="search_after"):
        multi_index_search(
            spark, [a_dir, b_dir], SearchRequest("deploy", search_after=(1.0, "s", 0))
        )

    st, body, _ = _get(
        f"{server}/api/v1/conv,conv2/search?query=deploy&maxHits=7&format=json"
    )
    assert st == 200, body
    got = json.loads(body)
    assert got["numHits"] == m.num_hits
    assert [(h["index_id"], h["doc_id"]) for h in got["hits"]] == [
        (h["index_id"], h["doc_id"]) for h in m.hits
    ]
    # aggregations merge EXACTLY across indexes (executor.multi_index_agg
    # unions the per-index hit streams into one reduce)
    from quickwit_spark.search.executor import multi_index_agg

    st, body, _ = _get(
        f"{server}/api/v1/conv,conv2/search?query=deploy&maxHits=0"
        "&aggTermsField=role&aggTermsSize=10&aggStatsField=turn_idx&format=json"
    )
    assert st == 200, body
    got = json.loads(body)
    want = multi_index_agg(
        spark, [a_dir, b_dir], SearchRequest("deploy"),
        terms_field="role", terms_size=10, stats_field="turn_idx",
    )
    assert got["aggregations"]["terms"]["buckets"] == [
        {"key": v, "docCount": n} for v, n in want["terms"]
    ]
    assert got["aggregations"]["stats"]["count"] == want["stats"]["count"]
    # field collapse across indexes: ONE window over the unioned scored
    # streams picks each group's winner; group_hits counts every member
    # from every index (a merge of per-index collapse pages could not)
    st, body, _ = _get(
        f"{server}/api/v1/conv,conv2/search?query=deploy&maxHits=5"
        "&collapseField=conv_id&format=json"
    )
    assert st == 200, body
    got = json.loads(body)
    ra_all = search(spark, a_dir, SearchRequest("deploy", max_hits=100000))
    rb_all = search(spark, b_dir, SearchRequest("deploy", max_hits=100000))
    union2 = [dict(h, _i=0, index_id="conv") for h in ra_all.hits] + [
        dict(h, _i=1, index_id="conv2") for h in rb_all.hits
    ]
    okey = lambda h: (-h["score"], h["_i"], h["split_id"], h["doc_id"])  # noqa: E731
    best, counts = {}, {}
    for h in sorted(union2, key=okey):
        counts[h["conv_id"]] = counts.get(h["conv_id"], 0) + 1
        best.setdefault(h["conv_id"], h)
    want_page = sorted(best.values(), key=okey)[:5]
    assert got["collapse"]["numGroups"] == len(best)
    assert got["numHits"] == len(union2)
    assert [
        (h["conv_id"], h["index_id"], h["doc_id"], h["group_hits"]) for h in got["hits"]
    ] == [
        (h["conv_id"], h["index_id"], h["doc_id"], counts[h["conv_id"]])
        for h in want_page
    ]
    # still single-index only: per-index plans / background stats
    assert _get(f"{server}/api/v1/conv,conv2/search?query=x&aggSignificantField=text")[0] == 400
    assert _get(f"{server}/api/v1/conv,conv2/search?query=x&explain=true")[0] == 400
    assert _get(
        f"{server}/api/v1/conv,conv2/search?query=x&collapseField=conv_id&aggTermsField=role"
    )[0] == 400
    assert _get(f"{server}/api/v1/conv,nosuch/search?query=x")[0] == 404
    assert _get(f"{server}/api/v1/conv,conv/search?query=x")[0] == 400  # dupes

    # multi-index /search/stream (round-3 ask #4): the csv body is the
    # UNION of the per-index exports, one value per line (wire parity)
    from quickwit_spark.search.executor import search_stream

    st, body, ctype = _get(
        f"{server}/api/v1/conv,conv2/search/stream?query=deploy&fastField=ts"
    )
    assert st == 200 and ctype.startswith("text/csv")
    got_vals = sorted(int(x) for x in body.decode().split())
    want_vals = sorted(
        [r["ts"] for r in search_stream(spark, a_dir, SearchRequest("deploy"), "ts").collect()]
        + [r["ts"] for r in search_stream(spark, b_dir, SearchRequest("deploy"), "ts").collect()]
    )
    assert got_vals == want_vals

    # multi-index search_after through the REST layer: the 4-part
    # index-qualified cursor resumes exactly where page 1 ended
    last = m.hits[-1]
    cursor = f"{last['score']},{last['index_id']},{last['split_id']},{last['doc_id']}"
    st, body, _ = _get(
        f"{server}/api/v1/conv,conv2/search?query=deploy&maxHits=7"
        f"&searchAfter={cursor}&format=json"
    )
    assert st == 200, body
    got_p2 = json.loads(body)
    flat = multi_index_search(
        spark, [a_dir, b_dir], SearchRequest("deploy", max_hits=14)
    )
    assert [(h["index_id"], h["doc_id"]) for h in got_p2["hits"]] == [
        (h["index_id"], h["doc_id"]) for h in flat.hits[7:14]
    ]
