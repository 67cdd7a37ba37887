"""SearchRequest — the engine's analog of the reference SearchRequest proto
(quickwit-proto/src/quickwit.rs:6-37; REST params docs/reference/rest-api.md:47-57)
— and SEARCH_PARAMS, the one table of user-facing search parameters that
REST GET /search, the REST batch body and the CLI ``search`` subcommand
parse (parse_search_params) and run (search.dispatch.run_search).
"""

from __future__ import annotations

import json
from dataclasses import dataclass
from typing import Callable, NamedTuple


@dataclass(frozen=True)
class SearchRequest:
    query: str
    max_hits: int = 10
    start_offset: int = 0
    # half-open [start, end) epoch-second range (reference lib.rs:100-119)
    start_timestamp: int | None = None
    end_timestamp: int | None = None
    search_fields: tuple[str, ...] | None = None
    # None → BM25 score (north rule); otherwise a fast field name
    # (reference collector sorts by fast field / DocId, collector.rs:47-64)
    sort_by_field: str | None = None
    sort_asc: bool = False
    # 'reference' → tie-break (sort desc, split_id asc, doc_id asc), the
    # merge order of lib.rs:93-98; 'global_key' → tie-break on
    # (conv_id, turn_idx) so results are split-layout independent (used for
    # the DuckDB driver oracle where the SQL knows nothing about splits)
    tiebreak: str = "reference"
    # request-level numeric range filters over FAST fields — the
    # generalization of the start/end_timestamp params (the reference
    # rejects range QUERY SYNTAX, query_builder.rs:36-39, but filters by
    # time through request params; this extends that shape to any fast
    # field).  Each entry is (field, lo, hi) with half-open [lo, hi);
    # None = unbounded side.  Split pruning uses the catalog's per-split
    # field_ranges stats; surviving splits apply an exact per-doc mask.
    numeric_filters: tuple[tuple, ...] | None = None
    # restrict each hit's stored fields to this subset (ES _source
    # filtering analog): None returns every stored column (default), a
    # tuple returns only those — and the driver-side page fetch reads ONLY
    # those doc-store columns (column-pruned pyarrow), which matters for
    # wide documents.  Hit identity (split_id, doc_id, score, sort_value)
    # is always present.  snippet_fields must be a subset when both are
    # set (snippets read the stored text).
    stored_fields: tuple[str, ...] | None = None
    # highlighted fragments for these stored tokenized text fields, added
    # to each hit as hit["snippets"] = {field: "<b>..</b> .."} — generated
    # driver-side for the final page only (beyond-reference; snippet.py)
    snippet_fields: tuple[str, ...] | None = None
    snippet_max_chars: int = 150
    # cursor pagination (beyond-reference, the ES search_after shape):
    # (last_sort_value_or_score, last_split_id, last_doc_id) of the
    # previous page's final hit — the next page returns hits strictly
    # AFTER it in result order.  O(k) per page at any depth, vs
    # start_offset's O(offset) leaf work; mutually exclusive with
    # start_offset.  Ties on the primary value break by the reference
    # (split_id, doc_id) order, so it requires tiebreak='reference'.
    search_after: tuple | None = None
    # ES bool minimum_should_match, applied to the TOP-LEVEL disjunction:
    # a doc matches only if >= this many of the top-level OR clauses match
    # (nested groups are unaffected; Lucene semantics — a value above the
    # clause count matches nothing).  >1 requires the query's top level to
    # BE a disjunction (loud error otherwise) and disables the MaxScore
    # pruning path (matching changes, so the leaf runs full evaluation).
    # Scoring is unchanged: every matching clause contributes, not just
    # the first min_should_match (the ES behavior).
    min_should_match: int = 1
    # attach a per-hit BM25 breakdown (the ES per-hit ``explain`` analog):
    # hit["score_detail"] = {"score", "terms": [{field, term, tf, doc_freq,
    # idf, doc_len, avg_len, weight, contribution}, ...]} — recomputed
    # driver-side for the final page only, summing per-term contributions
    # in the SAME sorted-term float-addition order as the leaf, so the
    # reported breakdown reproduces the hit score BIT-exactly across every
    # evaluation strategy (full eval, WAND post-scale, MaxScore).
    score_explain: bool = False


def parse_search_after(s) -> tuple | None:
    """``searchAfter=<value>,<split_id>,<doc_id>`` (REST query-string/CLI
    form) or the ES-style JSON array ``[value, split_id, doc_id]`` (batch
    body): the previous page's last hit's sort value (or BM25 score,
    float) plus its reference tie key.  The INDEX-QUALIFIED 4-element form
    ``<value>,<index_id>,<split_id>,<doc_id>`` addresses multi-index
    pagination (executor.multi_index_search — split ids are unique only
    within one index, so the cursor needs the index coordinate).
    Integral float values normalize to int — sort-field cursors compare
    against int64 arrays, and a float64 cursor would collapse distinct
    values above 2^53 (the same discipline _fast_field_values enforces)."""
    if s is None:
        return None
    index_id = None
    if isinstance(s, (list, tuple)):
        if len(s) not in (3, 4):
            raise ValueError(
                "searchAfter must be [value, split_id, doc_id] or "
                f"[value, index_id, split_id, doc_id] (got {s!r})"
            )
        if len(s) == 3:
            value, split_id, doc_id = s
        else:
            value, index_id, split_id, doc_id = s
        if not isinstance(value, (int, float)):
            raise ValueError(f"searchAfter value must be numeric (got {value!r})")
    elif isinstance(s, str):
        parts = s.split(",")
        if len(parts) not in (3, 4):
            raise ValueError(
                "searchAfter must be '<sortValueOrScore>,<split_id>,<doc_id>' "
                "or '<sortValueOrScore>,<index_id>,<split_id>,<doc_id>' "
                f"(got {s!r})"
            )
        raw = parts[0]
        value = float(raw) if ("." in raw or "e" in raw.lower()) else int(raw)
        if len(parts) == 3:
            split_id, doc_id = parts[1], parts[2]
        else:
            index_id, split_id, doc_id = parts[1], parts[2], parts[3]
    else:
        raise ValueError(
            f"searchAfter must be a string or 3/4-element array (got {s!r})"
        )
    if isinstance(value, float) and value.is_integer():
        value = int(value)
    if index_id is not None:
        return (value, str(index_id), str(split_id), int(doc_id))
    return (value, str(split_id), int(doc_id))


def parse_sort_by_dsl(s: str | None) -> tuple[str | None, bool]:
    """``sortByField`` mini-DSL shared by REST and CLI (rest.rs:361-371 →
    sort_by.rs:64-75 ``SortByField::from``): ``+field`` → ascending,
    ``-field`` → descending, bare ``field`` → ASCENDING (the surface layer
    always sets an explicit order; the proto-level Desc default applies
    only when no sort field reaches the engine at all).  Returns
    ``(field_or_None, sort_asc)``."""
    if s is None:
        return None, False
    if s.startswith("+"):
        return s[1:].strip(), True
    if s.startswith("-"):
        return s[1:].strip(), False
    return s.strip(), True


def parse_numeric_filters(entries) -> tuple[tuple, ...] | None:
    """``field:lo..hi`` filter strings (REST ``numericFilter`` repeatable /
    CLI ``--numeric-filter``) → ((field, lo, hi), ...).  Either bound may
    be empty (unbounded side): ``turn_idx:2..10``, ``score:0.5..``,
    ``n:..100``.  Integer-looking bounds parse as int, others as float
    (f64 fast fields take float bounds)."""
    if not entries:
        return None
    out = []
    for s in entries:
        field, sep, rng = s.partition(":")
        if not sep or not field or ".." not in rng:
            raise ValueError(
                f"numericFilter must be 'field:lo..hi' (either bound may be "
                f"empty): {s!r}"
            )
        lo_s, _, hi_s = rng.partition("..")

        def num(x: str):
            if x == "":
                return None
            try:
                return int(x)
            except ValueError:
                return float(x)  # raises ValueError on garbage — intended

        try:
            lo, hi = num(lo_s), num(hi_s)
        except ValueError:
            raise ValueError(f"numericFilter bounds must be numbers: {s!r}")
        if lo is None and hi is None:
            raise ValueError(f"numericFilter needs at least one bound: {s!r}")
        out.append((field, lo, hi))
    return tuple(out)


# ---------------------------------------------------------------------------
# The search-parameter table: ONE contract for REST ``GET /search``, the
# ``POST /search/batch`` body and the CLI ``search`` subcommand.  The
# reference parses REST into the same SearchRequest proto the CLI builds,
# from one query-string struct with serde(deny_unknown_fields)
# (rest.rs:124-127): an unknown name is an error, never a silent default,
# and a parameter the route cannot honour is an error, never dropped.


def _str(v) -> str:
    if not isinstance(v, str):
        raise TypeError("expected a string")
    return v


def _csv(v) -> tuple[str, ...]:
    return tuple(_str(v).split(","))


def _flag(v) -> bool:
    return v if isinstance(v, bool) else str(v).lower() in ("true", "1")


def _format(v) -> str:
    if v not in ("json", "prettyjson"):
        raise ValueError(f"unsupported format {v!r}")
    return v


def _json_object(v) -> dict:
    obj = json.loads(_str(v))
    if not isinstance(obj, dict):
        raise ValueError("must be a JSON object")
    return obj


@dataclass(frozen=True)
class Param:
    """One search parameter.  ``rest`` is its query-string and batch-body
    name; ``flag`` its CLI flag (None: REST-only).  ``parse`` turns a raw
    value (query-string text, JSON value or argparse value) into the typed
    one, and ``target``/``field`` say where it goes: a SearchRequest field
    (a tuple of fields when ``parse`` returns one value per field), a
    multi_index_agg argument (``filters`` runs search_agg_filters), the
    collapse field/tie key, explain, or the response format.  ``requires``
    names the parameter it only makes sense with; ``repeat`` marks a list
    value (a repeated query-string key, an appending CLI flag, a JSON list
    in the batch body)."""

    rest: str
    flag: str | None
    parse: Callable
    target: str
    field: str | tuple[str, ...] = ""
    requires: str | None = None
    repeat: bool = False
    required: bool = False
    help: str | None = None

    @property
    def dest(self) -> str | None:
        """The argparse attribute of the CLI flag."""
        return self.flag[2:].replace("-", "_") if self.flag else None

    @property
    def switch(self) -> bool:
        """A true/false parameter: a CLI store_true flag."""
        return self.parse is _flag


SEARCH_PARAMS: tuple[Param, ...] = (
    Param("query", "--query", _str, "request", "query", required=True),
    Param(
        "searchField", "--search-fields", _csv, "request", "search_fields",
        help="comma-separated default fields for unscoped clauses (overrides config)",
    ),
    Param("startTimestamp", "--start-timestamp", int, "request", "start_timestamp"),
    Param("endTimestamp", "--end-timestamp", int, "request", "end_timestamp"),
    Param("maxHits", "--max-hits", int, "request", "max_hits"),
    Param("startOffset", "--start-offset", int, "request", "start_offset"),
    Param(
        "sortByField", "--sort-by", parse_sort_by_dsl, "request",
        ("sort_by_field", "sort_asc"),
        help="fast field to sort by: '+field' asc, '-field' desc, bare asc "
        "(the REST sortByField mini-DSL, sort_by.rs:64-75); use the "
        "--sort-by=-field form — a separate '-field' token parses as a flag",
    ),
    Param(
        "searchAfter", "--search-after", parse_search_after, "request", "search_after",
        help="cursor pagination: '<sortValueOrScore>,<split_id>,<doc_id>' of "
        "the previous page's last hit — O(k) deep paging (vs --start-offset's "
        "O(offset)); mutually exclusive with --start-offset",
    ),
    Param(
        "snippetFields", "--snippet-fields", _csv, "request", "snippet_fields",
        help="comma-separated tokenized text fields to return highlighted "
        "fragments for (hit['snippets'])",
    ),
    Param(
        "snippetMaxChars", "--snippet-max-chars", int, "request",
        "snippet_max_chars", requires="snippetFields",
    ),
    Param(
        "storedFields", "--stored-fields", _csv, "request", "stored_fields",
        help="comma-separated subset of stored columns to return per hit "
        "(default: all; the page fetch column-prunes to this set)",
    ),
    Param(
        "numericFilter", "--numeric-filter", parse_numeric_filters, "request",
        "numeric_filters", repeat=True,
        help="fast-field range filter 'field:lo..hi' (half-open; repeatable; "
        "either bound may be empty)",
    ),
    Param(
        "minShouldMatch", "--min-should-match", int, "request", "min_should_match",
        help="ES bool minimum_should_match over the top-level OR clauses: "
        "a doc matches only if at least this many clauses match (scoring "
        "still sums every matching clause)",
    ),
    Param(
        "scoreExplain", "--score-explain", _flag, "request", "score_explain",
        help="attach a per-hit BM25 breakdown (hit['score_detail']: each "
        "matching term's tf/df/idf/doc_len/weight/contribution; the "
        "contributions sum to the hit score bit-exactly)",
    ),
    Param(
        "explain", "--explain", _flag, "explain",
        help="print the query plan (split pruning, leaf strategy, per-term "
        "df, in-process vs spark-job leaf) without executing the search",
    ),
    Param("format", None, _format, "format"),
    Param(
        "aggHistogramInterval", "--agg-histogram-interval", int, "agg",
        "histogram_interval",
        help="date-histogram aggregation over every match (bucket seconds)",
    ),
    Param(
        "aggHistogramCalendar", "--agg-calendar", _str, "agg", "histogram_calendar",
        help="calendar-interval date histogram (minute/hour/day/week/"
        "month/quarter/year — ES calendar_interval; buckets are "
        "date_trunc'd in UTC)",
    ),
    Param(
        "aggTermsField", "--agg-terms", _str, "agg", "terms_field",
        help="terms facet over every match's fast/stored field",
    ),
    Param(
        "aggTermsSize", "--agg-terms-size", int, "agg", "terms_size",
        requires="aggTermsField",
    ),
    Param(
        "aggTermsMetricField", "--agg-terms-metric", _str, "agg",
        "terms_metric_field", requires="aggTermsField",
        help="nested stats (min/max/sum/avg of this fast i64 field) inside "
        "each --agg-terms bucket (ES sub-aggregation)",
    ),
    Param(
        "aggStatsField", "--agg-stats", _str, "agg", "stats_field",
        help="stats aggregation (count/min/max/sum/avg) over a fast i64 field",
    ),
    Param(
        "aggStatsExtended", None, _flag, "agg", "stats_extended",
        requires="aggStatsField",
    ),
    Param(
        "aggPercentilesField", "--agg-percentiles", _str, "agg", "percentiles_field",
        help="EXACT p50/p90/p99 percentiles over a fast i64 field",
    ),
    Param(
        "aggCardinalityField", "--agg-cardinality", _str, "agg", "cardinality_field",
        help="EXACT distinct-value count over a fast or stored field",
    ),
    Param(
        "aggSignificantField", "--agg-significant", _str, "agg", "significant_field",
        help="significant_terms over a default-tokenized text field "
        "(foreground = matches, background = term-stats LSM; JLH score)",
    ),
    Param(
        "aggSignificantSize", "--agg-significant-size", int, "agg",
        "significant_size", requires="aggSignificantField",
    ),
    Param(
        "aggFilters", "--agg-filters", _json_object, "agg", "filters",
        help='JSON object of named sub-queries counted within the base '
        'query, e.g. \'{"errors": "error OR failure"}\' — all in one '
        "batched leaf pass",
    ),
    Param(
        "collapseField", "--collapse-field", _str, "collapse", "field",
        help="field collapse: return one hit per distinct value of this "
        "field (the group's best-BM25 doc), groups ranked by that score",
    ),
    Param(
        "collapseTieField", "--collapse-tie-field", _str, "collapse", "tie_field",
        requires="collapseField",
        help="fast field used as the global tie key for collapse ordering "
        "(default: split_id, doc_id)",
    ),
)
_BY_REST = {p.rest: p for p in SEARCH_PARAMS}
_AGG_NAMES = tuple(p.rest for p in SEARCH_PARAMS if p.target == "agg")


class SearchParams(NamedTuple):
    """A parsed search: the request plus what rides along with it."""

    request: SearchRequest
    aggs: dict  # multi_index_agg keyword arguments; empty = no aggregation
    agg_filters: dict | None  # name → sub-query (search_agg_filters)
    collapse: tuple[str, str | None] | None  # (field, tie field)
    explain: bool
    format: str


def query_string_values(qs: dict[str, list[str]]) -> dict:
    """``parse_qs`` output → the parser's name → raw-value mapping: a
    repeatable parameter keeps every value, any other its first."""
    return {
        k: v if k in _BY_REST and _BY_REST[k].repeat else v[0] for k, v in qs.items()
    }


def cli_values(args: dict) -> dict:
    """argparse ``vars(args)`` → the parser's mapping: every table flag the
    command line set (an unset flag is None, an unset switch False)."""
    out = {}
    for p in SEARCH_PARAMS:
        v = args.get(p.dest) if p.flag else None
        if v is not None and v is not False:
            out[p.rest] = v
    return out


def parse_search_params(
    raw: dict, *, route: str = "get", multi_index: bool = False
) -> SearchParams:
    """Name → raw-value mapping (REST names; see query_string_values /
    cli_values) → SearchParams, with every conflict rule checked here
    once.  ``route`` is ``get`` (REST search), ``batch`` (one query of a
    multi_search batch: request fields only) or ``cli``
    (errors name the CLI flags; --explain prints the plan only, so it
    takes no aggregation).  ``multi_index`` rejects what needs one
    index's plan or background statistics.  Raises ValueError."""
    unknown = sorted(set(raw) - set(_BY_REST))
    if unknown:
        raise ValueError(f"unknown query parameter(s): {', '.join(unknown)}")
    if "query" not in raw:
        raise ValueError("missing required param 'query'")

    def label(name: str) -> str:
        flag = _BY_REST[name].flag
        return flag if route == "cli" and flag else name

    got: dict = {}  # a false switch is an absent one
    for name, v in raw.items():
        p = _BY_REST[name]
        try:
            if p.repeat and not isinstance(v, (list, tuple)):
                raise TypeError("expected a list")
            val = p.parse(v)
        except (TypeError, ValueError) as e:
            raise ValueError(f"invalid {label(name)} {v!r}: {e}") from None
        if val is not None and val is not False:
            got[name] = val

    def reject(names, why: str) -> None:
        bad = [label(n) for n in names if n in got]
        if bad:
            raise ValueError(f"{why}: {', '.join(bad)}")

    for name in got:
        need = _BY_REST[name].requires
        if need is not None and need not in got:
            raise ValueError(f"{label(name)} requires {label(need)}")
    if "collapseField" in got:
        reject(
            ("snippetFields", "explain", *_AGG_NAMES),
            f"{label('collapseField')} cannot combine with",
        )
    if multi_index:
        reject(
            ("explain", "aggSignificantField", "aggFilters"),
            "multi-index search does not support",
        )
    if route == "batch":
        reject(
            [n for n in got if _BY_REST[n].target != "request"],
            "batch search does not support",
        )
    if route == "cli" and "explain" in got:
        reject(_AGG_NAMES, "--explain prints the plan only; it cannot combine with")

    fields: dict = {}
    groups: dict[str, dict] = {"agg": {}, "collapse": {}}
    for name, val in got.items():
        p = _BY_REST[name]
        if p.target == "request":
            fields.update(zip(p.field, val) if isinstance(p.field, tuple) else [(p.field, val)])
        elif p.target in groups:
            groups[p.target][p.field] = val
    aggs, collapse = groups["agg"], groups["collapse"]
    filters = aggs.pop("filters", None)
    return SearchParams(
        SearchRequest(**fields),
        aggs,
        filters,
        (collapse["field"], collapse.get("tie_field")) if collapse else None,
        got.get("explain", False),
        got.get("format", "prettyjson"),
    )
