"""Deep pagination: search_after cursors (Elasticsearch search_after /
Lucene searchAfter semantics) over the packed BM25 index.

Page-2+ correctness cannot come from re-ranking page-1's output: the
per-shard kernel emits only each shard's top-k per query, so a doc ranked
k+1 globally may have been cut in its shard. The cursor therefore goes INTO
the kernel (query/bm25_search.py `_batch_partials`): candidates are
restricted to score <= cursor_score (every doc tied AT the cursor score is
emitted — any of them can survive the doc_id tie-break), and the exact
predicate (score < s) OR (score = s AND doc_id > d) is applied after the
docmap join, before the final window. Results are bit-identical to slicing
ranks [offset+1, offset+k] of one deep search (tested), without ever
materializing the deep run.

Scale: each page costs one normal bucket/term-pruned search; state is the
O(1) cursor, not an offset-deep window — the reason search_after exists in
every production engine (offset pagination re-scores offset+k docs per
shard; cursor pagination re-scores k).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from openmatch_spark.index.load import BM25Index
from openmatch_spark.query.bm25_search import query_terms, search_terms


def page_cursors(run: DataFrame) -> dict:
    """{query_id: (score, doc_id)} of each query's LAST hit in a page run —
    the cursors for the next page. Runs are tiny (queries x k); the collect
    is the driver handing cursors back to the caller, not a data move."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("rank"))
    last = (
        run.withColumn("_r", F.row_number().over(w))
        .where(F.col("_r") == 1)
        .select("query_id", "score", "doc_id")
        .collect()
    )
    return {r["query_id"]: (float(r["score"]), r["doc_id"]) for r in last}


def search_after(
    index: BM25Index,
    queries: DataFrame,
    cursors: dict | None = None,
    k: int = 100,
) -> DataFrame:
    """Next-page top-k run (query_id, doc_id, score, rank): ranks restart at
    1 within the page. cursors is {query_id: (score, doc_id)} from
    `page_cursors` (or any (score, doc_id) position in the total order);
    queries without a cursor get page 1. The exhaustive per-shard pass
    makes the cursor restriction exact."""
    return search_terms(
        index, query_terms(index, queries), k=k, cursors=cursors or {}
    )
