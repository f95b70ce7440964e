"""Continuous retrieval: serve a STREAM of queries against the packed index.

The reference runs retrieval as one-shot batch jobs (driver loops over the
whole query set, dense_retriever.py:226-241); a production search service
instead receives queries continuously. Structured Streaming's foreachBatch
is the Spark-native shape for that: each micro-batch of queries runs the
SAME batch search plan (query/bm25_search.py — identical results to
offline, tested stream==batch), and the run lands in an append-only parquet
run table tagged with the micro-batch id for exactly-once bookkeeping.

Why foreachBatch and not a streaming join: the search plan needs broadcast
joins against the dictionary + a groupBy window over candidate hits, both
of which are batch-only constructs; foreachBatch gives each micro-batch the
full batch planner (the standard pattern for stream-against-static-index
serving). Checkpointing + the batch_id column make restarts idempotent:
a replayed batch overwrites its own partition, never doubles it.

Scale: the index side stays the bucket/term-pruned scan (nothing is
re-read per batch beyond matched postings); query batches are the small
side. Latency is micro-batch cadence (availableNow for drains, processing
time triggers for a live service).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from openmatch_spark.index.load import BM25Index


def serve_queries(
    index: BM25Index,
    query_stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    k: int = 100,
    available_now: bool = True,
    processing_time: str | None = None,
):
    """Run the query stream against the index; append results to a parquet
    run table at out_dir partitioned by micro-batch id.

    query_stream: streaming DataFrame with (query_id, text).
    Returns the StreamingQuery (caller awaits/stops it).

    Output columns: query_id, doc_id, score, rank, batch_id. Idempotent per
    batch: a restarted batch rewrites ONLY its own batch_id partition
    (dynamic partition overwrite), so checkpoint replay cannot double rows.
    """
    from openmatch_spark.query.bm25_search import search

    def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
        queries = batch_df.select(
            F.col("query_id").cast("string").alias("query_id"), "text"
        )
        if not queries.take(1):
            return
        run = search(index, queries, k=k).withColumn(
            "batch_id", F.lit(int(batch_id)).cast("long")
        )
        (
            run.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(out_dir)
        )

    writer = (
        query_stream.writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time is not None:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def serve_percolation(
    doc_stream: DataFrame,
    stored: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    analyzer: str = "simple",
    min_should_match: int = 0,
    available_now: bool = True,
    processing_time: str | None = None,
):
    """Continuous percolation — the alerting/saved-search serving loop:
    every micro-batch of incoming documents is matched against the stored
    rule set (query/percolate.py) and the (doc, rule) matches land in an
    append-only parquet table partitioned by micro-batch id.

    doc_stream: streaming DataFrame with (doc_id, text). stored: STATIC
    rule table (query_id, must, should, must_not) — rules are a config
    table; re-registering rules means restarting the stream (the standard
    percolator deployment shape). Same idempotent per-batch contract as
    serve_queries: a replayed batch overwrites only its own partition.

    percolate() is stateless column algebra over one micro-batch, so no
    watermarks or state stores are involved — each batch pays exactly the
    batch-mode plan (broadcast rules, one bounded aggregate)."""
    from openmatch_spark.query.percolate import compile_rules, percolate

    # rules are a STATIC config table for the stream's lifetime (module
    # docstring: re-registering rules means restarting the stream), so
    # tokenize/compile them once here; every micro-batch then builds
    # pure-JVM inline rule tables instead of re-running the rule-side
    # tokenize jobs and table builds per batch
    compiled = compile_rules(stored, analyzer=analyzer)

    def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
        # keep every doc column, not just (doc_id, text): filter-context
        # rules (percolate's `filter` column) evaluate against the doc
        # frame's own attribute columns
        extra = [c for c in batch_df.columns if c != "doc_id"]
        docs = batch_df.select(
            F.col("doc_id").cast("string").alias("doc_id"), *extra
        )
        if not docs.take(1):
            return
        matches = percolate(
            docs, stored, analyzer=analyzer,
            min_should_match=min_should_match, compiled=compiled,
        ).withColumn("batch_id", F.lit(int(batch_id)).cast("long"))
        (
            matches.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(out_dir)
        )

    writer = (
        doc_stream.writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time is not None:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()
