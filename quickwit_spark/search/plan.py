"""Root-side planning & catalog surface of the search path.

Split out of the monolithic ``executor.py`` in round 5 (no behavior
change): open_index / request resolution / split pruning / global term
stats / prefix-class expansion / the term-dictionary API, plus the
fetched-schema helpers and the split-open read counters.  The execution
halves live in ``split_io`` (worker reads/caches), ``leaf`` (per-split
scoring), ``root`` (job planning + merge + public search APIs),
``export`` and ``aggs``; ``executor`` re-exports everything, so external
imports are unchanged.  The architecture docstring lives in
``executor.py``.
"""

from __future__ import annotations

import bisect
import os
import re
from dataclasses import dataclass, replace as _dc_replace

import pandas as pd
from pyspark.sql import SparkSession

from ..config import IndexConfig
from ..storage import storage_for
from ..index.catalog import Catalog, SplitMetadata
from .parser import (
    BoolQuery,
    FUZZY_PREFIX_LEN,
    FuzzyQuery,
    PhrasePrefixQuery,
    PhraseQuery,
    PrefixQuery,
    RegexQuery,
    TermQuery,
    WildcardQuery,
    extract_tag_predicate,
    regex_literal_prefix,
    wildcard_literal_prefix,
    wildcard_regex,
)
from .request import SearchRequest




HITS_SCHEMA = "split_id string, doc_id long, score double, sort_value long, split_num_hits long"

# topk mode fetches the winners' stored fields inside the leaf task (one job
# per query instead of leaf + fetch): per split only offset+k docs are read,
# pruned to row groups by doc_id min/max stats.  The fetched column set is
# config-derived (generic DocMapper schemas carry their own stored leaves).
_PLUMBING_SPARK = {"doc_id": "long", "conv_id": "string", "turn_idx": "int", "ts_epoch": "long"}


def fetch_cols(config: IndexConfig) -> list[str]:
    """Stored columns returned with every hit: all doc-store columns except
    the raw timestamp (ts_epoch carries it)."""
    return [c for c in config.doc_cols() if c != "ts"]


def _fetch_ddl(config: IndexConfig, include_doc_id: bool) -> str:
    from ..index.builder import spark_field_type

    by_name = config.fields
    parts = []
    for c in fetch_cols(config):
        if c == "doc_id" and not include_doc_id:
            continue
        t = _PLUMBING_SPARK.get(c) or spark_field_type(by_name[c])
        parts.append(f"`{c}` {t}")
    return ", ".join(parts)


def fetched_hits_schema(config: IndexConfig) -> str:
    return HITS_SCHEMA + ", " + _fetch_ddl(config, include_doc_id=False)




@dataclass
class SearchResponse:
    num_hits: int
    hits: list[dict]
    elapsed_time_micros: int


class SplitVanishedError(RuntimeError):
    """A split planned for this query disappeared before its leaf read —
    a concurrent merge replace + GC raced the query.  The reference FAILS a
    query on any failed split rather than silently dropping its hits
    (root.rs:179-188); the root here re-plans once against the fresh
    catalog (the retry-on-other-node analog, retry/search.rs) and
    propagates if the retry fails too."""


_CATALOG_CACHE: dict = {}


def open_index(spark: SparkSession, index_dir: str) -> tuple[Catalog, IndexConfig]:
    """Catalog + config, cached per catalog-file state: at 10^4 splits the
    catalog JSON is megabytes, and re-parsing it (plus re-validating the
    config) on EVERY query would eat ~tens of ms of driver time.  The
    backend state token (file mtime/size, or the sqlite revision) makes
    publish/merge/GC invalidate naturally — the same trick as the
    scan/gstats caches."""
    state = Catalog.state_token(index_dir)
    if state is None:
        raise FileNotFoundError(f"no index at {index_dir} (missing catalog)")
    key = (index_dir, state)
    hit = _CATALOG_CACHE.get(key)
    if hit is None:
        cat = Catalog(index_dir)
        if cat.config_dict is None:
            raise FileNotFoundError(f"no index at {index_dir} (missing catalog)")
        hit = (cat, IndexConfig.from_dict(cat.config_dict))
        for k in [k for k in _CATALOG_CACHE if k[0] == index_dir]:
            _CATALOG_CACHE.pop(k)  # drop older states of this index
        _CATALOG_CACHE[key] = hit
        while len(_CATALOG_CACHE) > 256:
            _CATALOG_CACHE.pop(next(iter(_CATALOG_CACHE)))
    return hit


def resolve_sort(request: SearchRequest, config: IndexConfig) -> SearchRequest:
    """Index-level default sort (doc_mapper.rs:61-63): a request without an
    explicit sort uses the index's declared sort_by field; absent both, BM25
    relevance (north rule — the reference's DocId order is the tiebreak)."""
    if request.sort_by_field is None and config.sort_by_field is not None:
        request = _dc_replace(
            request,
            sort_by_field=config.sort_by_field,
            sort_asc=config.sort_by_order == "asc",
        )
    # the timestamp field's fast values live in the ts plumbing column
    # (epoch seconds) rather than a ff_<name> column
    if (
        request.sort_by_field is not None
        and request.sort_by_field == config.timestamp_field
    ):
        request = _dc_replace(request, sort_by_field="ts")
    # the sort contract is integer-class fast fields (reference u64,
    # collector.rs:47-64) — f64 would be silently truncated downstream
    # f64 fast fields sort through the monotonic int64 key (f64_sort_keys
    # — tantivy's f64↔u64 mapping); cursors would need the raw key on the
    # wire, so search_after is rejected there rather than mis-compared
    if (
        request.sort_by_field in config.extra_fast_float_fields
        and request.search_after is not None
    ):
        raise ValueError(
            f"search_after is not supported on f64 sort field "
            f"{request.sort_by_field!r} (cursor values are integer sort keys)"
        )
    # reject unknown names driver-side: an unvalidated field would fail
    # executor-side with an opaque Py4J traceback (and a dropped REST
    # connection) instead of a 400
    if (
        request.sort_by_field is not None
        and request.sort_by_field not in ("ts", "doc_len")
        and request.sort_by_field not in config.extra_fast_fields
        and request.sort_by_field not in config.extra_fast_float_fields
    ):
        raise ValueError(
            f"unknown sort fast field {request.sort_by_field!r}: declared "
            f"fast fields are {sorted(('doc_len', config.timestamp_field or 'ts') + config.extra_fast_fields + config.extra_fast_float_fields)}"
        )
    return request


def prune_splits(
    cat: Catalog, config: IndexConfig, ast, request: SearchRequest
) -> list[SplitMetadata]:
    """Driver-side split pruning: time-range overlap (lib.rs:100-119) + tag
    predicate (tag_pruning.rs) + numeric-filter field_ranges stats over the
    published-split catalog."""
    splits = cat.splits()
    lo, hi = request.start_timestamp, request.end_timestamp
    if lo is not None:
        splits = [s for s in splits if s.ts_max is None or s.ts_max >= lo]
    if hi is not None:
        splits = [s for s in splits if s.ts_min is None or s.ts_min < hi]
    for f_, f_lo, f_hi in request.numeric_filters or ():
        # RAW-value comparison against the per-split [min, max] stats;
        # splits without recorded stats (legacy) cannot be pruned
        splits = [
            s
            for s in splits
            if f_ not in s.field_ranges
            or (
                (f_lo is None or s.field_ranges[f_][1] >= f_lo)
                and (f_hi is None or s.field_ranges[f_][0] < f_hi)
            )
        ]
    pred = extract_tag_predicate(ast, config.tag_fields)
    return [s for s in splits if pred(set(s.tags), bool(s.tags))]


_GSTATS_CACHE: dict = {}


def term_buckets(
    spark: SparkSession, terms: set[tuple[str, str]], n_buckets: int
) -> list[int]:
    """Stored-bucket values of the query terms (computed locally with the
    same ``term_bucket`` hash the build task used — no JVM round trip).
    Lets the postings scan prune row groups via parquet min/max stats on the
    `bucket` column — the warmup/'read exactly what the query needs' analog
    (leaf.rs:125-193) at the storage layer."""
    from ..functions.codec import term_bucket

    return sorted({term_bucket(f_, t_, n_buckets) for f_, t_ in terms})


_SCAN_DF_CACHE: dict = {}


def _table_scan(spark: SparkSession, index_dir: str, table: str):
    """Cached parquet scan per (index_dir, table, catalog state) — the
    split-footer-cache analog (leaf.rs:47-55): ``spark.read.parquet`` lists
    every split dir and reads footers eagerly (~1s on a few hundred
    splits), which would otherwise be paid on every use.  Only data-scale
    DataFrame paths use this (export_stream's partition-by join); the leaf
    search reads split files directly with worker-side pyarrow.
    Invalidated whenever the catalog changes (publish/merge/GC add or
    drop split dirs)."""
    st = storage_for(index_dir)
    state = Catalog.state_token(index_dir)
    key = (index_dir, table, state)
    if key not in _SCAN_DF_CACHE:
        for k in [k for k in _SCAN_DF_CACHE if k[:2] == (index_dir, table)]:
            _SCAN_DF_CACHE.pop(k)  # drop scans of older catalog states
        _SCAN_DF_CACHE[key] = spark.read.parquet(
            st.spark_url(os.path.join(index_dir, table))
        )
        if len(_SCAN_DF_CACHE) > 256:
            _SCAN_DF_CACHE.pop(next(iter(_SCAN_DF_CACHE)))
    return _SCAN_DF_CACHE[key]


def _stats_files(index_dir: str, cat: Catalog) -> list[str]:
    """Global term-dictionary source files: the term-stats LSM deltas
    (O(publish batches since the last merge), independent of split count)
    or, for indexes published without deltas, every split's postings files
    (O(splits), column/row-group-pruned).  Retries once against a fresh
    catalog when a concurrent compaction swapped the delta list between
    the catalog read and the file read; a SECOND miss is real corruption
    and raises."""
    from ..index.builder import _expand_parquet_paths

    delta_files = cat.termstats_files()
    if delta_files is not None:
        try:
            return _expand_parquet_paths(delta_files, strict=True)
        except FileNotFoundError:
            cat = Catalog(index_dir)
            delta_files = cat.termstats_files()
            if delta_files is not None:
                return _expand_parquet_paths(delta_files, strict=True)
    return [
        f
        for s in cat.splits()
        for f in _split_files(index_dir, "postings", s.split_id)
    ]


def _stats_table(index_dir: str, cat: Catalog, columns: list[str], cond) -> pd.DataFrame:
    """Filtered read over the term-dictionary stats files with ONE retry
    against a fresh catalog: a merge round compacts the LSM deltas (the
    file list changes and old delta files are deleted), so a read racing
    that compaction can hit FileNotFoundError between the listing and the
    parquet open — re-resolving the list once always lands on a committed
    state (delta lists commit atomically with the catalog)."""
    for attempt in (0, 1):
        files = _stats_files(index_dir, cat)
        if not files:
            return pd.DataFrame(columns=columns)
        dkey = ("gstats-dset", tuple(files))
        dset = _GSTATS_CACHE.get(dkey)
        if dset is None:
            dset = storage_for(index_dir).dataset(files)
            _GSTATS_CACHE[dkey] = dset
        use_cond = cond
        if "chunk_ord" in dset.schema.names:
            # postings-file fallback: positions-chunk rows are not
            # dictionary entries
            import pyarrow.dataset as pads

            cc = (pads.field("chunk_ord") == 0) | pads.field("chunk_ord").is_null()
            use_cond = cc if cond is None else (cond & cc)
        try:
            return dset.to_table(columns=columns, filter=use_cond).to_pandas()
        except FileNotFoundError:
            _GSTATS_CACHE.pop(dkey, None)
            if attempt:
                raise
            cat = Catalog(index_dir)
    raise AssertionError("unreachable")


def global_term_stats(
    spark: SparkSession,
    index_dir: str,
    cat: Catalog,
    terms: set[tuple[str, str]],
    buckets: list[int] | None = None,
) -> dict:
    """Whole-index collection stats for BM25: N, per-field avg_len (from the
    catalog) and global doc_freq per (field, term) — one tiny aggregate over
    the term-dictionary rows of all published splits.  df is cached per
    (index state, term) — the split-footer/fast-field cache analog
    (leaf.rs:47-55), invalidated whenever the catalog changes."""
    cat_state = Catalog.state_token(index_dir)
    stats = cat.global_stats()
    # per-TERM cache (not per-query): "deploy" then "deploy AND failure"
    # reads only the new term's df; invalidated with the catalog state
    df_map: dict[tuple[str, str], int] = {}
    missing: set[tuple[str, str]] = set()
    for t in terms:
        hit = _GSTATS_CACHE.get((index_dir, cat_state, t))
        if hit is None:
            missing.add(t)
            df_map[t] = 0
        else:
            df_map[t] = hit
    terms = missing
    if terms:
        # Driver-side pyarrow read, NOT a Spark job: the global doc_freq of a
        # handful of query terms is metadata-scale, and launching a Spark
        # stage for it costs ~300-500 ms — the dominant first-query cost.
        # Primary source: the term-stats LSM deltas (O(publish batches since
        # the last merge) bucket-pruned files — independent of split count,
        # which is what keeps this driver-cheap at 10^4 splits / 100 TB).
        # Fallback for indexes published without deltas: the per-split
        # posting-dictionary rows, O(splits) but column/row-group-pruned.
        import pyarrow.dataset as pads

        cond = None
        for f_, t_ in terms:
            c = (pads.field("field") == f_) & (pads.field("term") == t_)
            cond = c if cond is None else (cond | c)
        if buckets:
            cond = pads.field("bucket").isin(buckets) & cond
        if cond is not None:
            pdf = _stats_table(index_dir, cat, ["field", "term", "doc_freq"], cond)
            if len(pdf):
                for (f_, t_), df_sum in pdf.groupby(["field", "term"])["doc_freq"].sum().items():
                    if (f_, t_) in df_map:
                        df_map[(f_, t_)] = int(df_sum)
    for t in terms:
        _GSTATS_CACHE[(index_dir, cat_state, t)] = df_map[t]
    while len(_GSTATS_CACHE) > 4096:
        _GSTATS_CACHE.pop(next(iter(_GSTATS_CACHE)))
    return {"num_docs": stats["num_docs"], "avg_len": stats["avg_len"], "df": df_map}


def _lev_within(a: str, b: str, d: int) -> bool:
    """Classic Levenshtein distance(a, b) <= d, with length prefilter and
    row-minimum early exit — runs on the (anchored) candidate term set of a
    fuzzy expansion, never the whole corpus."""
    if abs(len(a) - len(b)) > d:
        return False
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i] + [0] * len(b)
        mn = cur[0]
        for j, cb in enumerate(b, 1):
            cur[j] = min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            if cur[j] < mn:
                mn = cur[j]
        if mn > d:
            return False
        prev = cur
    return prev[-1] <= d


def _prefix_upper(p: str) -> str | None:
    """Smallest string > every string with prefix ``p`` (for a dictionary
    range read [p, upper)), or None when the last char is the maximum code
    point (then the scan is unbounded above and the startswith re-check
    below does the filtering)."""
    for i in range(len(p) - 1, -1, -1):
        if ord(p[i]) < 0x10FFFF:
            return p[:i] + chr(ord(p[i]) + 1)
    return None


def expand_prefixes(spark: SparkSession, index_dir: str, cat: Catalog, ast):
    """Rewrite every PrefixQuery into a scored disjunction of the index's
    matching dictionary terms — Lucene's ``scoring_boolean`` multi-term
    rewrite (each expanded term keeps the prefix clause's boost and is
    BM25-scored normally, so a pure prefix query runs MaxScore like any
    other term disjunction and every downstream stage — warmup, pruning,
    oracle comparison — sees only ordinary Term/Bool nodes).

    Expansion reads the global term dictionary (the term-stats LSM deltas,
    O(publish batches) driver-side pyarrow — the same source global doc_freq
    comes from) with a [prefix, prefix+1) range condition, and the summed
    doc_freq of each matched term seeds the df cache so planning costs ONE
    stats read, not two.  More than QW_PREFIX_MAX_EXPANSIONS (default 1024)
    distinct terms is a loud error — Lucene's too_many_clauses analog;
    predictable failure beats silently truncated results.  A prefix that
    matches nothing becomes a match-nothing clause.

    ``ast`` may be a list of ASTs (multi_search): the specs of all of them
    are looked up together — one dictionary read for the batch's uncached
    ones — and the rewritten list comes back."""
    # ("p", field, prefix) | ("f", field, term, dist)
    # | ("w", field, pattern) | ("r", field, pattern)
    wanted: list[tuple] = []

    def find(n):
        if isinstance(n, (PrefixQuery, PhrasePrefixQuery)):
            wanted.append(("p", n.field, n.prefix))
        elif isinstance(n, FuzzyQuery):
            wanted.append(("f", n.field, n.term, n.distance))
        elif isinstance(n, WildcardQuery):
            wanted.append(("w", n.field, n.pattern))
        elif isinstance(n, RegexQuery):
            wanted.append(("r", n.field, n.pattern))
        elif isinstance(n, BoolQuery):
            for c in (*n.must, *n.should, *n.must_not):
                find(c)

    asts = ast if isinstance(ast, list) else [ast]
    for a in asts:
        find(a)
    if not wanted:
        return ast
    import pyarrow.dataset as pads

    cap = int(os.environ.get("QW_PREFIX_MAX_EXPANSIONS", "1024"))
    state = Catalog.state_token(index_dir)
    expansions: dict[tuple, tuple[str, ...]] = {}
    missing: list[tuple] = []
    for key in sorted(set(wanted)):
        hit = _GSTATS_CACHE.get((index_dir, state, "expand", key))
        if hit is not None:
            expansions[key] = hit
        else:
            missing.append(key)

    def _anchor(spec) -> str:
        """Dictionary-scan range anchor: the whole prefix for 'p' specs,
        the first FUZZY_PREFIX_LEN chars for 'f' specs, the pattern's
        extractable literal prefix for 'w'/'r' specs ('' = full
        field-vocabulary scan)."""
        if spec[0] == "p":
            return spec[2]
        if spec[0] == "w":
            return wildcard_literal_prefix(spec[2])
        if spec[0] == "r":
            return regex_literal_prefix(spec[2])
        return spec[2][:FUZZY_PREFIX_LEN]

    if missing:
        cond = None
        for spec in missing:
            c = pads.field("field") == spec[1]
            a = _anchor(spec)
            if a:
                c = c & (pads.field("term") >= a)
                hi = _prefix_upper(a)
                if hi is not None:
                    c = c & (pads.field("term") < hi)
            cond = c if cond is None else (cond | c)
        pdf = _stats_table(index_dir, cat, ["field", "term", "doc_freq"], cond)
        # field → (sorted terms, their summed doc_freqs): the LSM deltas
        # repeat a term once per publish batch.  Summed once for the whole
        # read, so each spec bisects its anchor range instead of scanning
        # every row the batch's specs read
        vocab: dict[str, tuple[list, list]] = {}
        if len(pdf):
            agg = pdf.groupby(["field", "term"], sort=True)["doc_freq"].sum()
            for (f_, t_), d_ in zip(agg.index.tolist(), agg.tolist()):
                if d_ > 0:
                    ts_, ds_ = vocab.setdefault(f_, ([], []))
                    ts_.append(t_)
                    ds_.append(int(d_))
        for spec in missing:
            f_ = spec[1]
            a = _anchor(spec)
            ts_, ds_ = vocab.get(f_, ([], []))
            i = bisect.bisect_left(ts_, a)
            hi = _prefix_upper(a) if a else None
            j = bisect.bisect_left(ts_, hi) if hi is not None else len(ts_)
            cand = [(t, d) for t, d in zip(ts_[i:j], ds_[i:j]) if t.startswith(a)]
            if spec[0] == "f":
                t_, d_ = spec[2], spec[3]
                cand = [(t, d) for t, d in cand if _lev_within(t, t_, d_)]
            elif spec[0] in ("w", "r"):
                rx = wildcard_regex(spec[2]) if spec[0] == "w" else re.compile(spec[2])
                cand = [(t, d) for t, d in cand if rx.fullmatch(t) is not None]
            terms = tuple(t for t, _ in cand)
            if len(terms) > cap:
                what = {
                    "p": f"prefix '{f_}:{spec[2]}*'",
                    "w": f"wildcard '{f_}:{spec[2]}'",
                    "r": f"regex '{f_}:/{spec[2]}/'",
                }.get(spec[0], f"fuzzy '{f_}:{spec[2]}~{spec[-1]}'")
                raise ValueError(
                    f"{what} expands to {len(terms)} dictionary "
                    f"terms (max {cap}; raise QW_PREFIX_MAX_EXPANSIONS to "
                    "allow more)"
                )
            expansions[spec] = terms
            _GSTATS_CACHE[(index_dir, state, "expand", spec)] = terms
            for t, d in cand:  # the LSM sums ARE the global doc_freqs
                _GSTATS_CACHE[(index_dir, state, (f_, t))] = d

    def rw(n):
        if isinstance(n, (PrefixQuery, FuzzyQuery, WildcardQuery, RegexQuery)):
            if isinstance(n, PrefixQuery):
                key = ("p", n.field, n.prefix)
            elif isinstance(n, FuzzyQuery):
                key = ("f", n.field, n.term, n.distance)
            elif isinstance(n, WildcardQuery):
                key = ("w", n.field, n.pattern)
            else:
                key = ("r", n.field, n.pattern)
            terms = expansions[key]
            if not terms:
                return BoolQuery()  # matches no documents
            if len(terms) == 1:
                return TermQuery(n.field, terms[0], boost=n.boost)
            return BoolQuery(
                should=[TermQuery(n.field, t, boost=n.boost) for t in terms]
            )
        if isinstance(n, PhrasePrefixQuery):
            # match_phrase_prefix → OR of full phrases, one per expansion;
            # each runs the ordinary rarest-first position verification
            terms = expansions[("p", n.field, n.prefix)]
            if not terms:
                return BoolQuery()
            alts = [
                PhraseQuery(n.field, (*n.terms, t), boost=n.boost) for t in terms
            ]
            return alts[0] if len(alts) == 1 else BoolQuery(should=alts)
        if isinstance(n, BoolQuery):
            return BoolQuery(
                must=[rw(c) for c in n.must],
                should=[rw(c) for c in n.should],
                must_not=[rw(c) for c in n.must_not],
            )
        return n

    return [rw(a) for a in ast] if isinstance(ast, list) else rw(ast)


def term_dictionary(
    spark: SparkSession,
    index_dir: str,
    field: str,
    prefix: str | None = None,
    limit: int = 100,
) -> list[dict]:
    """Global term-dictionary range scan — the tantivy FST range-scan /
    termdict API analog, surfaced to users (autocomplete backends, index
    introspection): terms of ``field``, optionally restricted to a prefix
    range, with their GLOBAL doc_freq, ascending by term, capped at
    ``limit``.  Driver-side pyarrow over the term-stats LSM (O(publish
    batches) files, independent of split count) — no Spark job."""
    cat, config = open_index(spark, index_dir)
    fm = config.fields.get(field)
    if fm is None:
        raise ValueError(f"field does not exist in schema: {field}")
    if not fm.is_indexed:
        raise ValueError(f"field is not indexed: {field}")
    if limit < 1:
        raise ValueError("limit must be >= 1")
    import pyarrow.dataset as pads

    cond = pads.field("field") == field
    if prefix:
        cond = cond & (pads.field("term") >= prefix)
        hi = _prefix_upper(prefix)
        if hi is not None:
            cond = cond & (pads.field("term") < hi)
    pdf = _stats_table(index_dir, cat, ["field", "term", "doc_freq"], cond)
    if prefix and len(pdf):
        pdf = pdf[pdf["term"].str.startswith(prefix)]
    if not len(pdf):
        return []
    agg = pdf.groupby("term")["doc_freq"].sum().sort_index()
    out = [
        {"term": str(t), "doc_freq": int(d)} for t, d in agg.items() if int(d) > 0
    ]
    return out[: int(limit)]


def _split_files(index_dir: str, table: str, split_id: str) -> list[str]:
    d = os.path.join(index_dir, table, f"split_id={split_id}")
    _count_read("list")
    return storage_for(index_dir).list_files(d)


_OPEN_READS = {"head": 0, "get": 0, "list": 0, "footer": 0}


def _count_read(kind: str, n: int = 1) -> None:
    _OPEN_READS[kind] = _OPEN_READS.get(kind, 0) + n


def split_open_read_counts(reset: bool = False) -> dict:
    out = dict(_OPEN_READS)
    if reset:
        for k in _OPEN_READS:
            _OPEN_READS[k] = 0
    return out


