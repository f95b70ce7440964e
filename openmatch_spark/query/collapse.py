"""Field collapsing: one best hit per (query, collapse key).

The classic SERP "site dedup" — Lucene/Elasticsearch `collapse`: after
scoring, only the highest-scoring document per collapse key (host, domain,
canonical cluster, ...) competes for the page, so one site cannot crowd out
the result list. The reference has no counterpart (its retrieval is flat
run-file oriented); semantics follow Lucene's CollapsingTopDocsCollector.

Exactness contract (same as Lucene's): collapsing happens over the top
`depth` hits of the underlying run. A key that crowds more than `depth`
hits above the k-th surviving key can hide later keys; `depth` defaults to
10*k and is the knob to raise when keys are pathologically concentrated.
Everything after the run is pure window algebra — at scale the collapse
costs one shuffle of queries x depth rows (tiny next to the search itself),
and when the key is an expression over doc_id (host from url) it costs no
join at all.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
import pyspark.sql.functions as F

from openmatch_spark.index.load import BM25Index


def host_key_col(url: Column | str) -> Column:
    """Lowercased host (no scheme, userinfo, port) — the standard collapse
    key for web corpora. Pure regexp algebra (stays in codegen)."""
    c = F.col(url) if isinstance(url, str) else url
    host = F.regexp_extract(c, r"^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]+)", 1)
    return F.lower(host)


def collapse_run(
    run: DataFrame,
    key: Column | DataFrame,
    k: int = 10,
    key_name: str = "collapse_key",
) -> DataFrame:
    """Collapse an existing (query_id, doc_id, score, rank) run to its best
    hit per (query_id, key), re-ranked to top-k.

    key: either a Column expression over the run's columns (zero-join path,
    e.g. host_key_col("doc_id") when doc ids are urls), or a
    (doc_id, <key_name>) DataFrame. With a DataFrame, hits whose doc_id has
    no key row collapse as their own singleton group (Elasticsearch's
    missing-field behavior) — implemented join-free for the common covered
    case plus a broadcast anti-join recovery for the uncovered one, so the
    big key table is only ever the probe side of one broadcast join.
    """
    if isinstance(key, DataFrame):
        keyed_cols = key.columns
        if "doc_id" not in keyed_cols or key_name not in keyed_cols:
            raise ValueError(f"key DataFrame needs (doc_id, {key_name}) columns")
        keys = key.select("doc_id", key_name)
        # run is queries x depth (small): broadcast it on BOTH legs so the
        # corpus-sized key table never shuffles.
        covered = keys.join(F.broadcast(run), "doc_id")
        uncovered = run.join(F.broadcast(keys.select("doc_id")), "doc_id", "left_anti")
        keyed = covered.unionByName(
            uncovered.withColumn(key_name, F.col("doc_id"))
        )
    else:
        keyed = run.withColumn(key_name, key)
    # null key == singleton group (collapse on the doc itself)
    keyed = keyed.withColumn(key_name, F.coalesce(F.col(key_name), F.col("doc_id")))
    best = Window.partitionBy("query_id", key_name).orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    rerank = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        keyed.withColumn("_g", F.row_number().over(best))
        .where(F.col("_g") == 1)
        .withColumn("rank", F.row_number().over(rerank).cast("int"))
        .where(F.col("rank") <= k)
        .select("query_id", "doc_id", "score", key_name, "rank")
    )


def search_collapsed(
    index: BM25Index,
    queries: DataFrame,
    key: Column | DataFrame,
    k: int = 10,
    depth: int | None = None,
    key_name: str = "collapse_key",
) -> DataFrame:
    """Top-k BM25 with field collapsing: run the normal engine to `depth`
    (default 10*k), then keep one best hit per (query, key).

    Returns (query_id, doc_id, score, <key_name>, rank).
    """
    from openmatch_spark.query.bm25_search import search

    depth = depth if depth is not None else 10 * k
    if depth < k:
        raise ValueError(f"depth ({depth}) must be >= k ({k})")
    run = search(index, queries, k=depth)
    return collapse_run(run, key, k=k, key_name=key_name)
