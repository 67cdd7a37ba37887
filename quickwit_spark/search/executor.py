"""Distributed search path — the Spark-native analog of the reference's
root/leaf search (quickwit-search/src/root.rs, leaf.rs, collector.rs).

Plan shape (mirrors SURVEY.md §3.1; as built):

1. **Plan / prune** (list_relevant_splits analog, lib.rs:129-149): the
   split catalog (cached per file state) is filtered driver-side by
   state=Published, time-range overlap and the tag predicate extracted
   from the query AST (tag_pruning.rs:47-51).  Global BM25 stats come
   from the catalog (N, avg_len) and the term-stats LSM (doc_freq —
   O(publish batches), not O(splits)).  No Spark job is launched.

2. **Leaf search** (leaf.rs:237-285 / collector.rs): one planner
   (``root._plan_batch``) and one runner (``root._topk_batch``) for every
   top-k request — ``search`` is ``multi_search`` over a batch of one,
   and ``explain`` is a plan-only run of the same plan.  It is ONE plain-RDD
   ``sc.parallelize(bins).flatMap`` job over LPT-balanced split bins (see
   ``_leaf_bins``; the SearchJob list of root.rs:280-284), or the same
   task body in the driver for tiny indexes and light queries
   (``_leaf_runs_in_process``).  Each unit (``_score_unit``, shared with
   the stream runner) opens its split through its worker-cached footers,
   reads ONE map of the batch's terms' posting rows (bucket + row-group
   pruned — the warmup analog, leaf.rs:125-193) and the split's
   fast-field blobs, then runs each query's vectorized numpy scorer on
   it: boolean set ops on decoded doc arrays
   (AND = sorted intersect with block skips, OR = union, NOT = setdiff),
   phrase verification via positions, per-doc timestamp filtering with
   whole-segment skips (filters.rs:64-66 analog), BM25 with *global*
   collection stats, block-max WAND for single-term queries, and
   per-split top-(offset+k) selection — the offset rewrite of
   root.rs:286-301.  Leaves return bare (split_id, doc_id, score) hits;
   a split that vanished mid-query fails the query (root.rs:179-188)
   after one re-plan retry.

3. **Root merge** (merge_fruits analog, collector.rs:283-302): the driver
   sorts <= splits*(offset+k) tiny rows with the reference tie-break and
   pages.

4. **Fetch docs** (fetch_docs.rs analog): stored fields are read for ONLY
   the final page via row-group-pruned pyarrow reads of the doc store.

Data-scale work (stream export, every-matching-doc paths) stays on
DataFrames/mapInPandas.  At 100 TB the only data-sized work is step 2,
which reads a few posting rows per split; everything the driver touches
is O(splits + k).
"""


# Round-5 split: this module was a 5,500-line monolith; it now re-exports
# the six focused modules below VERBATIM (public and private names alike)
# so every existing import path — tests, tools, bench, __spark_entry__ —
# keeps working, and worker-side closures pickled as
# quickwit_spark.search.executor.<name> still resolve.  New code should
# import from the specific module; this façade is the compatibility
# surface.  NOTE for monkeypatching in tests: patch the DEFINING module
# (e.g. quickwit_spark.search.root._contains_phrase) — cross-module call
# sites bind names at import time, so patching the façade only affects
# callers that go through `executor.<name>`.

from __future__ import annotations

from .plan import (
    HITS_SCHEMA,
    SearchResponse,
    SplitVanishedError,
    _CATALOG_CACHE,
    _GSTATS_CACHE,
    _OPEN_READS,
    _PLUMBING_SPARK,
    _SCAN_DF_CACHE,
    _count_read,
    _fetch_ddl,
    _lev_within,
    _prefix_upper,
    _split_files,
    _stats_files,
    _stats_table,
    _table_scan,
    expand_prefixes,
    fetch_cols,
    fetched_hits_schema,
    global_term_stats,
    open_index,
    prune_splits,
    resolve_sort,
    split_open_read_counts,
    term_buckets,
    term_dictionary,
)
from .split_io import (
    LAST_PHRASE_COUNTERS,
    _PHRASE_CTR,
    _ast_may_match,
    _cached_fastfields,
    _fetch_doc_fields,
    _limit_arrow_threads,
    _load_termblooms,
    _phrase_ctr,
    _postings_nbytes,
    _read_split_postings,
    _read_split_postings_chunks,
    _term_prunable,
    prune_splits_by_terms,
    take_phrase_counters,
)
from .leaf import (
    _SplitPostings,
    _apply_numeric_filters,
    _block_range,
    _count_only_row,
    _eval_node,
    _eval_phrase,
    _eval_root,
    _fast_field_values,
    _intersect_with_tfs,
    _maxscore_union,
    _resolve_numeric_filters,
    _sorted_member,
    _split_inside_ts,
    _term_count_in_range,
    _topk_take,
    _ts_filter,
    _validate_msm,
    _wand_single_term,
    f64_sort_keys,
    make_split_scorer,
    select_strategy,
    sort_key_to_f64,
    ts_elidable_strategy,
)
from .root import (
    CURSOR_SPLIT_MAX,
    CURSOR_SPLIT_MIN,
    _attach_score_explain,
    _contains_phrase,
    _df_cols_and_schema,
    _est_split_rows,
    _fetch_page_fields,
    _hit_dict,
    _json_safe,
    _leaf_bins,
    _leaf_hits_df,
    _make_leaf_runner,
    _maybe_add_source,
    _plan_leaf,
    _ranged_ok,
    _sort_key,
    _topk_batch,
    _validate_stored_fields,
    explain,
    fetch_doc,
    multi_index_search,
    multi_search,
    search,
    search_df,
)
from .export import (
    _export_hits,
    _format_export,
    _resolve_fast_field,
    export_stream,
    multi_index_export_stream,
    search_stream,
)
from .aggs import (
    _CALENDAR_UNITS,
    _agg_reduce,
    _agg_values_df,
    _calendar_bucket_expr,
    _check_significant_field,
    _collapse_page,
    _collapse_reps,
    _collapse_vals,
    _default_tokens_expr,
    _doc_store_vals,
    _exact_percentiles,
    _group_by,
    _significant_terms_df,
    multi_index_agg,
    multi_index_collapse_rows,
    search_agg_cardinality,
    search_agg_date_histogram,
    search_agg_filters,
    search_agg_histogram,
    search_agg_multi,
    search_agg_percentiles,
    search_agg_range,
    search_agg_significant_terms,
    search_agg_stats,
    search_agg_terms,
    search_agg_terms_stats,
    search_agg_top_hits,
    search_collapse,
    search_collapse_rows,
    search_stream_multi,
)

# submodules themselves, for callers that need module-level access
from . import aggs, export, leaf, plan, root, split_io  # noqa: E402,F401
