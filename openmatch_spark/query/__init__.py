"""Query surfaces — lazily re-exported (PEP 562).

Eagerly importing all ~33 query modules here cost ~0.1 s per import and,
far worse, was paid by EVERY Python worker: a kernel pickled from
`openmatch_spark.query.bm25_search` makes the worker import that module,
which triggers this package __init__ — so each of local[32]'s workers was
importing the whole query surface to run a BM25 kernel. That worker-side
import tax grew with every module added in round 4 and showed up as multi-
second warmup on the bench's build and per-query search legs (BENCH r4→r5
notes).
Lazy exports keep `from openmatch_spark.query import search` working while
a worker unpickling a kernel imports only the module the kernel lives in.
"""

_EXPORTS = {
    # aggregates
    "count_hits": "aggregates",
    "hit_boxplot": "aggregates",
    "hit_cardinality": "aggregates",
    "hit_extended_stats": "aggregates",
    "hit_filters": "aggregates",
    "hit_median_absolute_deviation": "aggregates",
    "hit_missing": "aggregates",
    "hit_percentile_ranks": "aggregates",
    "hit_percentiles": "aggregates",
    "hit_stats": "aggregates",
    "hit_string_stats": "aggregates",
    "hit_t_test": "aggregates",
    "hit_value_count": "aggregates",
    "hit_weighted_avg": "aggregates",
    "matrix_stats": "aggregates",
    "top_metrics": "aggregates",
    # core search
    "search": "bm25_search",
    "search_terms": "bm25_search",
    "search_boolean": "boolean",
    "search_terms_set": "boolean",
    "cross_fields_score_adhoc": "dismax",
    "dismax_score_adhoc": "dismax",
    "mmr_rerank": "diversify",
    "compile_dsl": "dsl",
    "explain_dsl": "dsl",
    "search_dsl": "dsl",
    "search_bool_prefix": "expand",
    "search_fuzzy": "expand",
    "search_prefix": "expand",
    "search_regexp": "expand",
    "search_synonyms": "expand",
    "search_wildcard": "expand",
    "wildcard_to_like": "expand",
    "collapse_run": "collapse",
    "host_key_col": "collapse",
    "search_collapsed": "collapse",
    "explain_adhoc": "explain",
    "federated_stats": "federated",
    "search_federated": "federated",
    "search_filtered": "filtered",
    "search_intervals": "intervals",
    "mlt_terms": "mlt",
    "more_like_this": "mlt",
    "correct_queries": "spell",
    "suggest_spelling": "spell",
    "page_cursors": "paging",
    "search_after": "paging",
    # positional
    "search_phrase": "phrase",
    "search_phrase_prefix": "phrase",
    "search_proximity": "phrase",
    "search_span_containing": "phrase",
    "search_span_first": "phrase",
    "search_span_near": "phrase",
    "search_span_not": "phrase",
    "search_span_or": "phrase",
    "search_span_within": "phrase",
    # multi-field / dense
    "bm25f_score_adhoc": "bm25f",
    "combined_fields_score_adhoc": "bm25f",
    "pq_encode": "pq",
    "pq_topk": "pq",
    "pq_train": "pq",
    "quantize_embeddings": "quantize",
    "quantized_topk": "quantize",
    # rescoring
    "boosting_rescore": "decay",
    "decay_rescore": "decay",
    "distance_feature_rescore": "decay",
    "field_value_factor_rescore": "decay",
    "function_score": "decay",
    "search_pinned": "decay",
    # fielded family
    "build_fielded_index": "fielded",
    "compact_fielded_index": "fielded",
    "delete_docs_fielded": "fielded",
    "upsert_docs_fielded": "fielded",
    "load_fielded_index": "fielded",
    "search_dsl_fielded": "fielded",
    "search_fielded": "fielded",
    "percolate": "percolate",
    "suggest_phrases": "phrase_suggest",
    # query languages
    "parse_query_string": "querystring",
    "parse_query_string_grouped": "querystring",
    "parse_query_string_fielded": "querystring",
    "search_query_string": "querystring",
    "search_query_string_fielded": "querystring",
    "parse_simple_query_string": "simpleqs",
    "search_simple_query_string": "simpleqs",
    "rm3_rescore_adhoc": "rm3",
    "significant_terms": "significant",
    "significant_text": "significant",
    "term_vectors": "significant",
    "search_sorted": "sorted",
    "search_sorted_indexed": "sorted",
    "suggest_completions": "suggest",
    "suggest_terms": "suggest",
}


def __getattr__(name):
    try:
        submod = _EXPORTS[name]
    except KeyError:
        raise AttributeError(
            f"module 'openmatch_spark.query' has no attribute {name!r}"
        ) from None
    import importlib

    obj = getattr(
        importlib.import_module(f"openmatch_spark.query.{submod}"), name
    )
    globals()[name] = obj  # memoize: next access skips __getattr__
    return obj


def __dir__():
    return sorted(set(globals()) | set(_EXPORTS))
