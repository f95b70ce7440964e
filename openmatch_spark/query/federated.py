"""Federated BM25 search over MULTIPLE independent indexes — the Lucene
MultiReader / distributed-IndexSearcher semantic: the member indexes are
scored as if their corpora had been built into ONE index.

Why this is not just "union the runs": each member index stores payload
weights computed with ITS OWN frozen stats (n_docs, avgdl, per-term idf), so
scores from two indexes are on different scales and their dfs undercount the
union — naively merging runs is the classic sharded-search bug Lucene solves
by computing global term statistics across readers before scoring
(TermStates over the MultiReader's leaves). This module does the same in
DataFrame algebra:

  1. global stats   N = sum(n_docs_i), avgdl = sum(total_terms_i) / N,
                    df(t) = sum over members of df_i(t)  (dictionary lookups
                    pruned to the query vocabulary — never full scans)
  2. per member     decode the query-term postings (bucket+term pruned scan,
                    the same pruning as the single-index path), recover tf
                    exactly by inverting the stored index-time weight with
                    the member's OWN stats (the compaction rebaseline's
                    inversion: w = idf*tf/(tf+K)  =>  tf = w*K/(idf - w)),
                    then re-weight with the GLOBAL idf/avgdl using the
                    byte-identical build expressions (functions/bm25.py)
  3. score          per-(query, doc) sum of qtf * global_weight in canonical
                    ascending-term order (array_sort + aggregate — the same
                    associativity contract the kernels keep), one global
                    rank window for the top-k

The result is bit-identical to building one index over the union corpus and
searching it — the contract `bm25_topk_federated` proves against the same
ad-hoc DuckDB oracle that never saw any index at all.

Scale shape: every per-member scan is bucket+term pruned (bounded by the
query vocabulary, like the single-index path), the docmap join ships only
pruned postings through one shuffle, stats lookups collect O(query vocab)
rows per member, and nothing corpus-sized ever reaches the driver. Members
stay where they live — federation is the right tool for ad-hoc queries
across indexes that are maintained separately (per-crawl, per-tenant,
per-language); for a PERMANENT merge, compact_index(rebaseline_stats=True)
re-packs into the packed block form and restores the block-level shard
kernel, which this row-level path deliberately forgoes.

Members must be doc_id-disjoint (they are separate corpora, like Lucene
shards); a doc_id present in two members is two documents that will both
rank. Deletes (tombstones) of each member are honored.

Reference parity: OpenMatch evaluates per-collection retrievers and merges
runs offline (docs/experiments-*), which is exactly the score-incompatible
merge this operator replaces with stat-correct federation.
"""

from __future__ import annotations

import math

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from openmatch_spark.functions.bm25 import bm25_weight_col, lucene_idf_col
from openmatch_spark.index.load import BM25Index
from openmatch_spark.query.bm25_search import query_term_counts
from openmatch_spark.functions.localrel import in_list, inline_table

_DECODED_SCHEMA = (
    "shard int, term string, term_bucket int, doc_ord long, weight double"
)


def _member_stats(indexes: list[BM25Index]) -> tuple[float, float]:
    """(global N, global avgdl) plus homogeneity validation."""
    if not indexes:
        raise ValueError("search_federated needs at least one index")
    base = indexes[0].stats
    for i, idx in enumerate(indexes[1:], start=1):
        s = idx.stats
        for key in ("analyzer", "k1", "b"):
            if s.get(key) != base.get(key):
                raise ValueError(
                    f"federated members disagree on {key!r}: "
                    f"member 0 has {base.get(key)!r}, member {i} has {s.get(key)!r}"
                )
    for i, idx in enumerate(indexes):
        if idx.stats.get("scoring", "bm25") != "bm25":
            # QLD payloads are not invertible to tf (zero-weight postings);
            # same refusal as compact_index(rebaseline_stats=True)
            raise ValueError(
                f"member {i} is scoring={idx.stats.get('scoring')!r}; "
                "federated reweighting requires bm25 payloads"
            )
    n_g = sum(float(idx.stats["n_docs"]) for idx in indexes)
    total_g = sum(float(idx.stats["total_terms"]) for idx in indexes)
    avgdl_g = (total_g / n_g) if n_g else 1.0
    return n_g, (avgdl_g if avgdl_g else 1.0)


def search_federated(
    indexes: list[BM25Index],
    queries: DataFrame,
    k: int = 100,
) -> DataFrame:
    """Top-k BM25 run (query_id, doc_id, score, rank) over the UNION of the
    member indexes' corpora, with globally correct statistics (module doc)."""
    from openmatch_spark.index.compact import _decode_blocks_arrow

    spark = indexes[0].spark
    n_g, avgdl_g = _member_stats(indexes)
    analyzer = indexes[0].stats["analyzer"]
    k1 = float(indexes[0].stats["k1"])
    b = float(indexes[0].stats["b"])

    qtf = query_term_counts(queries, analyzer)
    empty = spark.createDataFrame(
        [], "query_id string, doc_id string, score double, rank int"
    )
    if not qtf:
        return empty
    terms = sorted({t for (_, t) in qtf})

    # ---- global df: one vocabulary-pruned dictionary lookup per member.
    # term_buckets() rides the member's cached driver dictionary when small,
    # a PushedFilters In-scan otherwise — O(query vocab) rows either way.
    member_idf: list[dict[str, float]] = []  # per member: term -> OLD idf
    df_g: dict[str, int] = {}
    for idx in indexes:
        rows = (
            idx.dictionary.where(in_list("term", terms))
            .select("term", "df", "idf")
            .collect()
        )
        member_idf.append({r["term"]: float(r["idf"]) for r in rows})
        for r in rows:
            df_g[r["term"]] = df_g.get(r["term"], 0) + int(r["df"])
    if not df_g:
        return empty

    # (query_id, term, qtf) — bounded by query vocabulary, broadcast below
    qt_df = inline_table(
        spark,
        [(q, t, float(c)) for (q, t), c in sorted(qtf.items()) if t in df_g],
        "query_id string, term string, qtf double",
    )

    scored_members = []
    for mi, idx in enumerate(indexes):
        in_vocab = sorted(t for t in terms if t in member_idf[mi])
        if not in_vocab:
            continue
        bucket_of = idx.term_buckets(in_vocab)
        pruned = idx.postings.where(
            in_list("term_bucket", sorted(set(bucket_of.values())))
            & in_list("term", in_vocab)
        )
        decoded = pruned.mapInArrow(_decode_blocks_arrow, _DECODED_SCHEMA)
        # a tombstoned doc must not enter the candidate set (liveDocs)
        decoded = idx.mask_deleted(decoded)
        # doclen for BOTH the inversion (old K) and the re-weight (new K);
        # the join ships only the pruned posting rows, never the docmap
        hydrated = decoded.join(
            idx.docmap.select("shard", "doc_ord", "doc_id", "doclen"),
            ["shard", "doc_ord"],
        )
        avgdl_old = float(idx.stats["avgdl"]) or 1.0
        # global idf is evaluated JVM-SIDE with the build's shared
        # expression (functions/bm25.py lucene_idf_col): a driver-side
        # numpy/math log can differ from Math.log by 1 ULP, which would
        # break the bit-identity contract with a union-corpus build
        term_meta = inline_table(
            spark,
            [(t, member_idf[mi][t], df_g[t]) for t in in_vocab],
            "term string, idf_old double, df_g long",
        ).select(
            "term",
            "idf_old",
            lucene_idf_col(F.col("df_g"), n_g).alias("idf_g"),
        )
        k_old = F.lit(k1) * (
            F.lit(1.0 - b) + F.lit(b) * F.col("doclen") / F.lit(avgdl_old)
        )
        tf = F.round(F.col("weight") * k_old / (F.col("idf_old") - F.col("weight")))
        scored_members.append(
            hydrated.join(F.broadcast(term_meta), "term")
            .join(F.broadcast(qt_df), "term")
            .select(
                "query_id",
                F.lit(mi).alias("member"),
                "shard",
                "doc_ord",
                "doc_id",
                "term",
                (
                    F.col("qtf")
                    * bm25_weight_col(
                        tf, F.col("idf_g"), F.col("doclen"), avgdl_g, k1, b
                    )
                ).alias("contrib"),
            )
        )
    if not scored_members:
        return empty
    contrib = scored_members[0]
    for m in scored_members[1:]:
        contrib = contrib.unionByName(m)

    # canonical ascending-term accumulation — the same float64 associativity
    # the single-index kernels keep, so the federated sum is bit-identical
    # to a union-corpus build's kernel sum (terms per (query, doc) are
    # bounded by the query length; the collect_list state is tiny)
    per_doc = (
        contrib.groupBy("query_id", "member", "shard", "doc_ord", "doc_id")
        .agg(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("term", "contrib"))),
                F.lit(0.0),
                lambda acc, x: acc + x["contrib"],
            ).alias("score")
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        per_doc.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "doc_id", "score", "rank")
    )


def federated_stats(indexes: list[BM25Index]) -> dict:
    """Union-global stats summary (n_docs, total_terms, avgdl, members) —
    what a fresh build over the union corpus would freeze."""
    n_g, avgdl_g = _member_stats(indexes)
    return {
        "n_docs": int(n_g),
        "total_terms": int(sum(float(i.stats["total_terms"]) for i in indexes)),
        "avgdl": avgdl_g if n_g else 0.0,
        "members": len(indexes),
        "per_member_docs": [int(i.stats["n_docs"]) for i in indexes],
    }


def _self_check_inversion(k1: float = 0.9, b: float = 0.4) -> bool:
    """Sanity for the inversion identity used above (documented, not hot
    path): for any tf >= 1, w = idf*tf/(tf+K) inverts to tf exactly after
    rounding, because idf - w > 0 strictly and float64 error << 0.5."""
    idf = math.log(1.0 + (100 - 3 + 0.5) / 3.5)
    for tf in (1, 2, 7, 1000):
        K = k1 * (1 - b + b * 17 / 12.0)
        w = idf * tf / (tf + K)
        assert round(w * K / (idf - w)) == tf
    return True
