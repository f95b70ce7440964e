"""More-Like-This: find documents similar to seed documents.

Lucene's MoreLikeThis shape: select the seed document's most interesting
terms by tf x idf (gated by min_tf / min_df / max_df_pct — stopword-ish
terms carry no signal and huge posting lists), cap at max_query_terms, and
run the selected terms as a weighted query through the UNCHANGED pruned
BM25 engine (query/bm25_search.py search_terms), excluding the seed itself.

Scale shape: seed term vectors come from the seed docs' own text (seeds are
the request, bounded like a query batch — never from decoding the packed
postings), df/idf from one vocabulary-bounded broadcast join against the
dictionary, and the candidate scan is the same bucket/term-pruned postings
plan every other query surface uses. Term selection rounds the tf*idf
interest score (9 dp) BEFORE the top-terms cut, the same cross-engine
determinism trick as RM3 (query/rm3.py), so an oracle replica picks
identical expansion terms.
"""

from __future__ import annotations

import math
from collections import Counter

from pyspark.sql import DataFrame
import pyspark.sql.functions as F

from openmatch_spark.index.load import BM25Index
from openmatch_spark.functions.localrel import in_list


def mlt_terms(
    index: BM25Index,
    seeds: DataFrame,
    max_query_terms: int = 25,
    min_tf: int = 2,
    min_df: int = 2,
    max_df_pct: float = 0.5,
) -> list:
    """[(seed_id, term, weight, term_bucket)] — the selected interesting
    terms per seed, weight = round(tf * lucene_idf, 9), ready for
    search_terms(). seeds: (doc_id, text)."""
    from openmatch_spark.analysis import tokenize_py

    analyzer = index.stats["analyzer"]
    n_docs = float(index.stats["n_docs"])
    max_df = max_df_pct * n_docs
    # tokenize the seeds driver-side (request-bounded, like a query batch);
    # collect the union vocabulary once for the dictionary join
    seed_tf: dict[str, Counter] = {}
    for r in seeds.select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    ).collect():
        seed_tf[r["doc_id"]] = Counter(tokenize_py(r["text"] or "", analyzer))
    vocab = sorted({t for c in seed_tf.values() for t, n in c.items() if n >= min_tf})
    if not vocab:
        return []
    dict_rows = (
        index.dictionary.where(in_list("term", vocab))
        .select("term", "df", "term_bucket")
        .collect()
    )
    df_map = {r["term"]: (int(r["df"]), int(r["term_bucket"])) for r in dict_rows}
    out = []
    for seed_id in sorted(seed_tf):
        scored = []
        for term, tf in seed_tf[seed_id].items():
            if tf < min_tf or term not in df_map:
                continue
            df, bucket = df_map[term]
            if df < min_df or df > max_df:
                continue
            idf = math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))
            scored.append((round(tf * idf, 9), term, bucket))
        # interest DESC, term ASC — total order, deterministic cut
        scored.sort(key=lambda s: (-s[0], s[1]))
        for w, term, bucket in scored[:max_query_terms]:
            out.append((seed_id, term, w, bucket))
    return out


def more_like_this(
    index: BM25Index,
    seeds: DataFrame,
    k: int = 10,
    max_query_terms: int = 25,
    min_tf: int = 2,
    min_df: int = 2,
    max_df_pct: float = 0.5,
    include_seed: bool = False,
) -> DataFrame:
    """Top-k documents most like each seed: (query_id, doc_id, score, rank)
    with query_id = the seed's doc_id. The seed itself is excluded unless
    include_seed=True (it trivially ranks first)."""
    from openmatch_spark.query.bm25_search import search_terms

    matched = mlt_terms(
        index, seeds, max_query_terms=max_query_terms,
        min_tf=min_tf, min_df=min_df, max_df_pct=max_df_pct,
    )
    if include_seed:
        return search_terms(index, matched, k=k)
    # retrieve k+1 so dropping the seed (usually rank 1) still leaves k
    # true neighbors; re-cut because the seed may not be in the top k+1
    run = search_terms(index, matched, k=k + 1, remove_identical=True)
    return run.where(F.col("rank") <= k)
