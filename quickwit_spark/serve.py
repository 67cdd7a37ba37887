"""REST search API — the quickwit-serve analog (quickwit-serve/src/rest.rs).

Endpoints (same shapes as docs/reference/rest-api.md):

* ``GET /health`` — liveness probe (rest.rs's /health analog).
* ``GET /metrics`` — Prometheus text exposition of the request counters
  (rest.rs:52-54 metrics_service; quickwit-common/src/metrics.rs).
* ``GET /api/v1/{index_id}/search`` — the parameters of the
  ``search.request.SEARCH_PARAMS`` table (``query`` required,
  ``startTimestamp``, ``endTimestamp``, ``startOffset``, ``maxHits``,
  ``searchField``, ``sortByField``, ... plus snippets, explain, agg* and
  collapse) → ``{"numHits": N, "hits": [...], "elapsedTimeMicros": T}``
  (rest-api.md:47-69; SearchRequest proto quickwit-proto/src/quickwit.rs:6-37).
* ``GET /api/v1/{index_id}/search/stream`` — params ``query``,
  ``fastField`` (required), ``outputFormat`` = ``csv`` |
  ``clickHouseRowBinary``, ``partitionByField`` (RowBinary only:
  per-partition blocks of value/size/i64s, search_stream/mod.rs:50-69) →
  ``text/csv`` body, one fast-field value per line
  (rest-api.md:70-114, search_stream/leaf.rs analog).
  ``sortByField`` uses the reference mini-DSL everywhere: ``+f`` asc,
  ``-f`` desc, bare asc (rest.rs:361-371, sort_by.rs:64-75).
* ``POST /api/v1/{index_id}/search/batch`` — body ``{"queries": [{...
  search params per query...}]}`` → ``{"responses": [...]}``.  A query's
  keys are the GET names with JSON values (``numericFilter`` a list);
  explain, format, agg* and collapse are 400s.  Q queries
  in ONE Spark leaf job (multi_search; no reference analog — the
  amortized-job-floor throughput path, ~2.6x at Q=8).

The server maps ``{index_id}`` to ``<index_root>/<index_id>`` — the
metastore-by-directory convention used throughout this engine.  It is a
thin driver-side shim: each request runs the same single-RDD-job search
path as the CLI/library; a lock serializes Spark driver access (the
reference serializes per-split work onto its CPU pool the same way —
concurrency belongs to the leaf tasks, not the HTTP layer).

Run: ``python -m quickwit_spark.serve --index-root DIR [--port P]``.
"""

from __future__ import annotations

import json
import logging
import os
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from quickwit_spark import metrics
from quickwit_spark.index.catalog import Catalog
from quickwit_spark.search.request import parse_search_params, query_string_values

log = logging.getLogger(__name__)

# quickwit-serve/src/counters.rs:24-36 registers rest_api:search:num_requests
# and bumps it per search request (rest.rs:50); the extra families below
# cover the other routes and the error taxonomy so an operator can alert on
# 4xx/5xx rates without log scraping.
COUNTERS = {
    "search": metrics.new_counter(
        "rest_api:search:num_requests", "Number of search requests"
    ),
    "stream": metrics.new_counter(
        "rest_api:search_stream:num_requests", "Number of search stream requests"
    ),
    "batch": metrics.new_counter(
        "rest_api:search_batch:num_requests", "Number of batch search requests"
    ),
    "termdict": metrics.new_counter(
        "rest_api:termdict:num_requests", "Number of term-dictionary requests"
    ),
    "doc": metrics.new_counter(
        "rest_api:doc:num_requests", "Number of single-document GET requests"
    ),
    "errors": metrics.new_counter(
        "rest_api:errors:num_responses", "Number of 4xx/5xx REST responses"
    ),
}


# The search parameters (GET /search and each batch query) are the
# request.SEARCH_PARAMS table.  The stream set is exactly the reference's
# SearchStreamRequestQueryString fields: four table parameters plus the
# stream's own.
_STREAM_ONLY = frozenset({"fastField", "outputFormat", "partitionByField"})
_STREAM_PARAMS = _STREAM_ONLY | {"query", "searchField", "startTimestamp", "endTimestamp"}
# rest-api.md:47-57: a REST search returns 20 hits unless maxHits says
# otherwise (maxHits=0 is the count-only request)
_REST_DEFAULTS = {"maxHits": 20}


def _bad_index_id(index_id: str) -> bool:
    """Reject ids that would escape the index root when path-joined: '..'
    walks to the PARENT of the root (any directory reachable that way with
    a catalog.json would be served), and separators/drive chars nest or
    absolutize the join."""
    return (
        index_id in (".", "..")
        or "/" in index_id
        or "\\" in index_id
        or "\x00" in index_id
    )


class _Handler(BaseHTTPRequestHandler):
    server_version = "quickwit-spark-serve/0.1"

    # injected by make_server
    spark = None
    index_root = None
    lock: threading.Lock = None

    def log_message(self, *a):  # stderr noise off; the JSON responses suffice
        pass

    def _reply(self, code: int, body: bytes, ctype: str = "application/json"):
        self.send_response(code)
        self.send_header("Content-Type", ctype)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def _err(self, code: int, msg: str):
        COUNTERS["errors"].inc()
        self._reply(code, json.dumps({"error": msg}).encode())

    def _reply_chunked(self, chunks, ctype: str) -> None:
        """Stream a generator of byte chunks with chunked transfer encoding —
        the search-stream path is every-matching-doc-sized, so the driver
        must never hold the whole payload (the reference streams per split
        too, search_stream/leaf.rs:47-62).  A client that disconnects
        mid-stream ends the reply with one log line; the generator is
        closed either way, which releases its export iterator."""
        self.send_response(200)
        self.send_header("Content-Type", ctype)
        self.send_header("Transfer-Encoding", "chunked")
        self.end_headers()
        try:
            for chunk in chunks:
                if chunk:
                    self.wfile.write(f"{len(chunk):X}\r\n".encode() + chunk + b"\r\n")
            self.wfile.write(b"0\r\n\r\n")
        except (ConnectionResetError, BrokenPipeError) as e:
            self.close_connection = True
            log.warning("stream client %s disconnected: %s", self.client_address[0], e)
        finally:
            chunks.close()

    def _row_chunks(self, rows_it, encode, size: int):
        """Chunk generator over a Spark ``toLocalIterator``: ``encode`` turns
        each pull of up to ``size`` rows into bytes.  The driver lock is held
        only around each pull, NEVER across the client socket write — a slow
        or stalled client must not block every other query on the server
        for the whole transfer.  Closing the generator closes the iterator,
        which tells the JVM to stop serving partitions.  That close drains
        the rest of the current partition from the iterator's own socket
        and makes no py4j call, so it runs OUTSIDE the lock: under it, a
        client that disconnects would stall every other query for up to a
        whole partition."""
        from itertools import islice

        try:
            while True:
                with self.lock:
                    rows = list(islice(rows_it, size))
                if not rows:
                    return
                yield encode(rows)
        finally:
            rows_it.close()

    def do_POST(self):  # noqa: N802 (stdlib handler naming)
        from quickwit_spark.search.executor import multi_search

        url = urlparse(self.path)
        parts = [p for p in url.path.split("/") if p]
        if (
            len(parts) != 5
            or parts[:2] != ["api", "v1"]
            or parts[3:] != ["search", "batch"]
        ):
            return self._err(404, f"no POST route for {url.path}")
        COUNTERS["batch"].inc()
        if _bad_index_id(parts[2]):
            return self._err(404, f"index {parts[2]!r} not found")
        index_dir = os.path.join(self.index_root, parts[2])
        if not Catalog.exists(index_dir):
            return self._err(404, f"index {parts[2]!r} not found")
        try:
            n = int(self.headers.get("Content-Length", 0))
            body = json.loads(self.rfile.read(n) or b"{}")
            queries = body.get("queries") if isinstance(body, dict) else None
            if not (isinstance(queries, list) and queries and all(isinstance(q, dict) for q in queries)):
                return self._err(400, "body must contain a non-empty 'queries' list of objects")
            # batch keys are the GET names, with JSON values
            reqs = [
                parse_search_params({**_REST_DEFAULTS, **q}, route="batch").request
                for q in queries
            ]
            with self.lock:
                resps = multi_search(self.spark, index_dir, reqs)
        except ValueError as e:  # json.JSONDecodeError is a ValueError
            return self._err(400, str(e))
        out = {
            "responses": [
                {
                    "numHits": r.num_hits,
                    "hits": r.hits,
                    "elapsedTimeMicros": r.elapsed_time_micros,
                }
                for r in resps
            ]
        }
        return self._reply(200, json.dumps(out).encode())

    def do_GET(self):  # noqa: N802 (stdlib handler naming)
        from quickwit_spark.search.dispatch import run_search

        url = urlparse(self.path)
        parts = [p for p in url.path.split("/") if p]
        if parts in (["health"], ["health", "livez"]):  # health_check.rs:50
            return self._reply(200, b'{"status": "ok"}')
        if parts == ["metrics"]:  # rest.rs:52-54 metrics_service
            return self._reply(200, metrics.render().encode(), metrics.CONTENT_TYPE)
        if parts == ["cluster", "members"]:
            # cluster.rs:52 analog — on Spark the "cluster" is the app and
            # its executors (the scheduler owns membership/retry, so this
            # is observability, not routing)
            sc = self.spark.sparkContext
            out = {
                "members": [
                    {
                        "id": sc.applicationId,
                        "master": sc.master,
                        "default_parallelism": sc.defaultParallelism,
                    }
                ]
            }
            return self._reply(200, json.dumps(out).encode())
        # /api/v1/{index_id}/search[/stream] | /api/v1/{index_id}/termdict
        # | /api/v1/{index_id}/doc/{split_id}/{doc_id}
        if len(parts) < 4 or parts[:2] != ["api", "v1"] or parts[3] not in (
            "search",
            "termdict",
            "doc",
        ):
            return self._err(404, f"no route for {url.path}")
        index_id = parts[2]
        # ES-style multi-index addressing: /api/v1/a,b/search fans the
        # request over several indexes and merges pages (search and
        # search/stream only; doc/termdict stay single-index)
        ids = [i for i in index_id.split(",") if i] if "," in index_id else [index_id]
        if "," in index_id and (len(set(ids)) != len(ids) or len(ids) < 2):
            return self._err(400, f"bad multi-index list {index_id!r}")
        for i in ids:
            if _bad_index_id(i) or not Catalog.exists(os.path.join(self.index_root, i)):
                return self._err(404, f"index {i!r} not found")
        index_dirs = [os.path.join(self.index_root, i) for i in ids]
        multi = len(index_dirs) > 1
        if multi and (
            parts[3] != "search" or parts[4:] not in ([], ["stream"])
        ):
            return self._err(
                400, "multi-index addressing supports only /search and /search/stream"
            )
        index_dir = index_dirs[0]
        if parts[3] == "doc":
            # single-document GET by (split_id, doc_id) address (the ES
            # GET /index/_doc analog): one row-group-pruned doc-store read
            if len(parts) != 6:
                return self._err(404, f"no route for {url.path}")
            if url.query:
                return self._err(400, "doc route takes no query parameters")
            try:
                did = int(parts[5])
            except ValueError:
                return self._err(400, f"doc_id must be an integer: {parts[5]!r}")
            from quickwit_spark.search.executor import fetch_doc

            COUNTERS["doc"].inc()
            with self.lock:
                doc = fetch_doc(self.spark, index_dir, parts[4], did)
            if doc is None:
                return self._err(
                    404, f"doc {parts[4]}/{did} not found (split gone or id absent)"
                )
            return self._reply(200, json.dumps(doc, indent=2).encode())
        if parts[3] == "termdict":
            # term-dictionary range scan (FST range-scan analog): terms of
            # an indexed field + global doc_freq, optional prefix window —
            # the autocomplete/introspection backend; driver-side LSM read
            if len(parts) != 4:
                return self._err(404, f"no route for {url.path}")
            qs = parse_qs(url.query)
            unknown = sorted(set(qs) - {"field", "prefix", "limit"})
            if unknown:
                return self._err(
                    400, f"unknown query parameter(s): {', '.join(unknown)}"
                )
            fieldname = qs.get("field", [None])[0]
            if not fieldname:
                return self._err(400, "missing required param 'field'")
            COUNTERS["termdict"].inc()
            try:
                limit = int(qs.get("limit", ["100"])[0])
                from quickwit_spark.search.executor import term_dictionary

                with self.lock:
                    terms = term_dictionary(
                        self.spark,
                        index_dir,
                        fieldname,
                        prefix=qs.get("prefix", [None])[0],
                        limit=limit,
                    )
            except ValueError as e:
                return self._err(400, str(e))
            out = {"field": fieldname, "terms": terms}
            return self._reply(200, json.dumps(out).encode())
        qs = parse_qs(url.query)
        if parts[4:] == ["stream"]:
            return self._search_stream(qs, index_dirs)
        COUNTERS["search"].inc()  # rest.rs:50
        try:
            params = parse_search_params(
                {**_REST_DEFAULTS, **query_string_values(qs)}, multi_index=multi
            )
            with self.lock:
                res = run_search(self.spark, index_dirs, params)
        except ValueError as e:  # parameter or parser rejection (bad query / field)
            return self._err(400, str(e))
        if res.collapse is not None:
            rows, n_groups, n_docs = res.collapse
            out = {
                "numHits": n_docs,
                "collapse": {"field": params.collapse[0], "numGroups": n_groups},
                "hits": rows,
            }
        else:
            out = {
                "numHits": res.response.num_hits,
                "hits": res.response.hits,
                "elapsedTimeMicros": res.response.elapsed_time_micros,
            }
            aggs = _format_aggs(res.aggs, params.aggs)
            if res.filters:
                aggs["filters"] = {
                    "buckets": [{"key": k, "docCount": n} for k, n in res.filters]
                }
            if aggs:
                out["aggregations"] = aggs
            if res.plan is not None:
                out["explain"] = res.plan
        # format=json|prettyjson (reference rest-api.md: default prettyjson)
        body = json.dumps(out, indent=2 if params.format == "prettyjson" else None)
        return self._reply(200, body.encode())

    def _search_stream(self, qs: dict, index_dirs: list[str]):
        """``/search/stream``: every matching doc's fast-field value."""
        from quickwit_spark.search.executor import search_stream

        # serde(deny_unknown_fields) parity (rest.rs:124,225): a typo'd
        # param must 400, not silently fall back to its default
        unknown = sorted(set(qs) - _STREAM_PARAMS)
        if unknown:
            return self._err(
                400, f"unknown query parameter(s): {', '.join(unknown)}"
            )
        COUNTERS["stream"].inc()  # rest.rs:50
        index_dir = index_dirs[0]
        multi = len(index_dirs) > 1
        try:
            searched = {k: v for k, v in qs.items() if k not in _STREAM_ONLY}
            req = parse_search_params(
                {**_REST_DEFAULTS, **query_string_values(searched)}
            ).request
            fast_field = qs.get("fastField", [None])[0]
            if fast_field is None:
                return self._err(400, "missing required param 'fastField'")
            if not fast_field:
                # rest.rs deserialize_not_empty_string: empty is a 400,
                # not a field named ""
                return self._err(400, "fastField must not be empty")
            fmt = qs.get("outputFormat", ["csv"])[0]
            if fmt not in ("csv", "clickHouseRowBinary"):
                return self._err(400, f"unsupported outputFormat {fmt!r}")
            partition_by = qs.get("partitionByField", [None])[0]
            if partition_by is not None:
                # leaf.rs:140-145: partitioned export requires the
                # RowBinary format; CSV + partitionBy is a 400
                if fmt != "clickHouseRowBinary":
                    return self._err(
                        400,
                        "partitionByField requires "
                        "outputFormat=clickHouseRowBinary",
                    )
                import struct

                from quickwit_spark.search.executor import (
                    export_stream,
                    multi_index_export_stream,
                )

                with self.lock:
                    if multi:
                        # partition keys merge across indexes (exact
                        # union-reduce — multi_index_agg contract)
                        df = multi_index_export_stream(
                            self.spark,
                            index_dirs,
                            req, fast_field,
                            output_format="rowbinary",
                            partition_by=partition_by,
                        )
                    else:
                        df = export_stream(
                            self.spark, index_dir, req, fast_field,
                            output_format="rowbinary",
                            partition_by=partition_by,
                        )
                    # reference contract (leaf.rs:346-357): the
                    # partition field must be numeric — reject BEFORE
                    # the chunked reply starts (a mid-stream error
                    # would only truncate the body)
                    ptype = df.schema[0].dataType.simpleString()
                    if ptype not in ("bigint", "int", "smallint", "tinyint", "long"):
                        return self._err(
                            400,
                            f"partitionByField {partition_by!r} must be "
                            f"an integer column (got {ptype})",
                        )
                    rows_it = df.toLocalIterator(prefetchPartitions=True)

                # reference wire format (search_stream/mod.rs:50-69):
                # per partition, partition value (8B LE) + payload
                # byte size (8B LE) + the i64 values
                def encode_parts(rows):
                    return b"".join(
                        struct.pack("<qQ", int(r[partition_by]), len(r["payload"]))
                        + r["payload"]
                        for r in rows
                    )

                return self._reply_chunked(
                    self._row_chunks(rows_it, encode_parts, 64),
                    "application/octet-stream",
                )
            # toLocalIterator: partitions stream to the driver one at a
            # time — memory stays bounded no matter how many docs match
            # (collect() of a hot query's export could be index-sized).
            # The driver lock is held only around Spark access (the plan
            # build and each iterator pull; see _row_chunks).
            import numpy as np

            with self.lock:
                if multi:
                    from quickwit_spark.search.executor import (
                        multi_index_export_stream,
                    )

                    # union of the per-index streams; the wire format
                    # stays one value per line/8 bytes (reference
                    # parity) — index identity is a DataFrame-API
                    # concern, not a wire one
                    stream_df = multi_index_export_stream(
                        self.spark,
                        index_dirs,
                        req, fast_field, output_format="csv",
                    )
                else:
                    stream_df = search_stream(
                        self.spark, index_dir, req, fast_field
                    )
                it = stream_df.toLocalIterator(prefetchPartitions=True)

            if fmt == "csv":
                def encode_csv(rows):
                    return ("\n".join(str(r[fast_field]) for r in rows) + "\n").encode()

                return self._reply_chunked(self._row_chunks(it, encode_csv, 8192), "text/csv")

            # ClickHouse RowBinary: little-endian i64 per value
            # (docs/reference/rest-api.md:70-114, search_stream/leaf.rs)
            def encode_bin(rows):
                return np.asarray([r[fast_field] for r in rows], dtype="<i8").tobytes()

            return self._reply_chunked(
                self._row_chunks(it, encode_bin, 8192), "application/octet-stream"
            )
        except ValueError as e:  # parameter or parser rejection
            return self._err(400, str(e))


def _format_aggs(multi: dict, asked: dict) -> dict:
    """Engine agg result dict → REST response shape; ``asked`` is the
    multi_index_agg arguments that produced it (for the field names)."""
    aggs: dict = {}
    if "histogram" in multi:
        aggs["histogram"] = {
            "interval": asked.get("histogram_interval"),
            "buckets": [
                {"key": b, "docCount": n} for b, n in multi["histogram"]
            ],
        }
    if "terms" in multi:
        aggs["terms"] = {
            "field": asked["terms_field"],
            "buckets": [
                {"key": v, "docCount": n} for v, n in multi["terms"]
            ],
        }
    if "terms_stats" in multi:
        aggs["termsStats"] = {
            "field": asked["terms_field"],
            "metricField": asked["terms_metric_field"],
            "buckets": multi["terms_stats"],
        }
    if "stats" in multi:
        aggs["stats"] = {"field": asked["stats_field"], **multi["stats"]}
    if "percentiles" in multi:
        aggs["percentiles"] = {"field": asked["percentiles_field"], **multi["percentiles"]}
    if "cardinality" in multi:
        aggs["cardinality"] = {"field": asked["cardinality_field"], **multi["cardinality"]}
    if "significant_terms" in multi:
        aggs["significantTerms"] = {
            "field": asked["significant_field"],
            "buckets": multi["significant_terms"],
        }
    return aggs


def make_server(spark, index_root: str, port: int = 0) -> ThreadingHTTPServer:
    """Build (but don't start) the HTTP server; port 0 = ephemeral."""
    handler = type(
        "BoundHandler",
        (_Handler,),
        {"spark": spark, "index_root": index_root, "lock": threading.Lock()},
    )
    return ThreadingHTTPServer(("127.0.0.1", port), handler)


def main():
    import argparse

    from quickwit_spark.cli import _get_spark

    ap = argparse.ArgumentParser()
    ap.add_argument("--index-root", required=True)
    ap.add_argument("--port", type=int, default=7280)  # the reference's default REST port
    ap.add_argument("--local-cpus", default=None)
    args = ap.parse_args()
    spark = _get_spark("qw-serve", args.local_cpus, None)
    spark.sparkContext.setLogLevel("ERROR")
    srv = make_server(spark, args.index_root, args.port)
    print(json.dumps({"serving": True, "port": srv.server_address[1]}), flush=True)
    srv.serve_forever()


if __name__ == "__main__":
    main()
