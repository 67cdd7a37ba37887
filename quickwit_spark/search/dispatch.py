"""The one search dispatcher behind REST ``GET /search`` and the CLI
``search`` subcommand: a parsed request (request.parse_search_params) over
a list of index dirs.  It never branches on one index vs several — every
multi_index_* entry point hands a one-dir list to its single-index twin —
and each surface formats the outcome in its own shape.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import SparkSession

from .aggs import multi_index_agg, multi_index_collapse_rows, search_agg_filters
from .plan import SearchResponse
from .request import SearchParams
from .root import explain, multi_index_search


class SearchOutcome(NamedTuple):
    response: SearchResponse | None = None  # the top-k page (None under collapse)
    aggs: dict = {}  # multi_index_agg result
    filters: tuple = ()  # (name, doc_count) per aggFilters entry
    collapse: tuple | None = None  # (rows, num_groups, num_docs)
    plan: dict | None = None  # explain() of the request


def run_search(
    spark: SparkSession,
    index_dirs: list[str],
    params: SearchParams,
    plan_only: bool = False,
) -> SearchOutcome:
    """Run what ``params`` asks over ``index_dirs``: the plan (explain),
    then either the collapsed page or the top-k page plus its
    aggregations.  ``plan_only`` stops after the plan.  The parser already
    rejected explain and aggFilters on several indexes."""
    req = params.request
    plan = None
    if params.explain:
        [index_dir] = index_dirs
        plan = explain(spark, index_dir, req)
        if plan_only:
            return SearchOutcome(plan=plan)
    if params.collapse is not None:
        return SearchOutcome(
            collapse=multi_index_collapse_rows(spark, index_dirs, req, *params.collapse)
        )
    resp = multi_index_search(spark, index_dirs, req)
    aggs = multi_index_agg(spark, index_dirs, req, **params.aggs) if params.aggs else {}
    filters = ()
    if params.agg_filters is not None:
        [index_dir] = index_dirs
        rows = search_agg_filters(spark, index_dir, req, params.agg_filters).collect()
        filters = tuple((r["key"], int(r["doc_count"])) for r in rows)
    return SearchOutcome(resp, aggs, filters, None, plan)
