"""Distributed BM25 top-k search over the packed index (SURVEY §3.2 Spark shape).

Plan (one kernel for every batch size):
  queries ─tokenize─► (query_id, term, qtf)
          ─join dictionary─► matched terms (+ term_bucket)    [queries are small:
                                                               collected & broadcast]
  postings ─bucket/term-pruned scan─► blocks for matched terms only
           ─repartition(shard)─► mapInPandas shard kernel: every block is
                decoded once and scored for every query that holds its term,
                canonical accumulation ─► per-(query, shard) top-k
           ─rank() pre-cut (large batches)─► per-query top-k candidates
           ─broadcast join docmap─► doc_id
           ─window (score DESC, doc_id ASC) rank<=k─► run(query_id, doc_id, score, rank)

This is the reference's partition-wise search + score merge
(dense_retriever.py:318-335 `SuccessiveRetriever`, utils.py:262-283
`merge_retrieval_results_by_score`) as one declarative plan: per-shard
partial top-k, then a final window top-k — with the first-seen-wins dup rule
replaced by the deterministic (score DESC, doc_id ASC) rank everywhere
(utils.py:141-146 relies on Python sort stability; we pin it down).

Determinism: per-doc scores are summed in canonical ascending-term order in
both engine and oracle (oracle.BM25Oracle), so runs are bit-identical to it.

Query-side weighting: a term repeated in the query multiplies its weight by
its query term frequency (Lucene/Anserini semantics); OOV terms drop out at
the dictionary join.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from openmatch_spark.functions.codec import decode_postings
from openmatch_spark.index.load import BM25Index
from openmatch_spark.functions.localrel import in_list, inline_table

_KERNEL_OUT = StructType(
    [
        StructField("query_id", StringType()),
        StructField("shard", IntegerType()),
        StructField("doc_ord", LongType()),
        StructField("score", DoubleType()),
    ]
)


# above this many queries, tokenization fans out to executors (the
# driver-side loop is O(batch) Python); below it, the zero-job driver path
# keeps single-query p50 latency flat
_DISTRIBUTED_TOKENIZE_MIN_QUERIES = 2048

# above this many expected hit rows (queries x k), the final docmap join
# broadcasts the DISTINCT hit-doc set instead of the whole cut — the
# q x k rows then never cross the driver (see the join-site comment)
_BROADCAST_CUT_MAX_ROWS = 500_000


def query_terms(
    index: BM25Index, queries: DataFrame,
    distributed_threshold: int = _DISTRIBUTED_TOKENIZE_MIN_QUERIES,
) -> list:
    """[(query_id, term, qtf, term_bucket)] for in-vocabulary terms.

    Small batches (the p50/p99 regime; the reference materializes the whole
    query set too, dense_retriever.py:226-241) tokenize driver-side with the
    identical Python tokenizer — zero Spark jobs with the cached dictionary.
    Batches above distributed_threshold tokenize executor-side (the SAME
    tokenizer: JVM split for `simple`, the byte-identical Arrow UDF for
    `dpr`) and only the aggregated (query_id, term, qtf) rows — bounded by
    vocabulary, not text size — come back to plan the pruned postings scan.
    Either way the dictionary lookup is one bucket/term-pruned scan
    (PushedFilters: In(term, ...)), never a full-dictionary join.
    """
    analyzer = index.stats["analyzer"]
    qtf = query_term_counts(queries, analyzer, distributed_threshold)
    terms = sorted({t for (_, t) in qtf})
    if not terms:
        return []
    bucket_of = index.term_buckets(terms)
    return [
        (q_, t, float(c), bucket_of[t]) for (q_, t), c in sorted(qtf.items()) if t in bucket_of
    ]


def decoded_query_postings(
    index: BM25Index, queries: DataFrame,
    distributed_threshold: int = _DISTRIBUTED_TOKENIZE_MIN_QUERIES,
    block_cap: int | None = None,
):
    """(decoded, qterms) — the shared front half of every any-term query
    surface (count_hits, search_sorted, ...): the vocabulary-pruned,
    tombstone-masked postings decode for the batch's in-vocabulary terms,
    plus the broadcast (query_id, term) frame to join it against. Returns
    (None, None) when no query term is in vocabulary, so callers own only
    their empty-result shape.

    block_cap: decode only blocks with block_id < block_cap per posting
    list — the index-sorted early-termination cut (see
    search_sorted_indexed for the proof of when this is lossless). The
    predicate lands on the postings scan (parquet pushdown), so skipped
    blocks are never read, let alone decoded."""
    from openmatch_spark.index.compact import _decode_blocks_arrow

    qt = query_terms(index, queries, distributed_threshold)
    if not qt:
        return None, None
    blocks = _pruned_postings(index, qt)
    if block_cap is not None:
        blocks = blocks.where(F.col("block_id") < F.lit(int(block_cap)))
    decoded = blocks.mapInArrow(
        _decode_blocks_arrow,
        "shard int, term string, term_bucket int, doc_ord long, weight double",
    )
    decoded = index.mask_deleted(decoded)
    qterms = F.broadcast(
        inline_table(index.spark, 
            sorted({(qid, t) for (qid, t, _, _) in qt}),
            "query_id string, term string",
        )
    )
    return decoded, qterms


def query_term_counts(
    queries: DataFrame, analyzer: str,
    distributed_threshold: int = _DISTRIBUTED_TOKENIZE_MIN_QUERIES,
) -> dict:
    """{(query_id, term) -> qtf} for a query frame — the tokenize half of
    query_terms, WITHOUT any vocabulary filter. Shared by the single-index
    path (which then drops out-of-vocabulary terms against ONE dictionary)
    and the federated path (query/federated.py), where a term may be
    out-of-vocabulary in one member index but present — and df-bearing —
    in another, so vocabulary filtering must happen per index, after."""
    from collections import Counter

    from openmatch_spark.analysis import tokenize_col, tokenize_py

    q = queries.select(F.col("query_id").cast("string").alias("query_id"), "text")
    # ONE bounded take decides the path AND feeds the small-batch loop.
    # Two latency traps live here: a separate peek before the collect
    # doubles the job rounds, and Spark's limit execution starts at 1
    # partition and scales up 4x per retry — on a 32-partition single-row
    # query frame that is 3-4 job rounds (~0.7 s of a 1.6 s p50, measured).
    # Scoping initialNumPartitions to the cluster's parallelism makes the
    # typical small frame a single job while still early-stopping on a
    # huge frame (the first wave already yields > threshold rows, so the
    # driver never materializes more than ~parallelism x threshold rows).
    from openmatch_spark.session import scoped_confs

    sess = q.sparkSession
    with scoped_confs(
        sess,
        {
            "spark.sql.limit.initialNumPartitions": str(
                max(sess.sparkContext.defaultParallelism, 16)
            )
        },
    ):
        head = q.take(distributed_threshold + 1)
    big = len(head) > distributed_threshold
    qtf: dict[tuple[str, str], int] = {}
    if big:
        agg = (
            q.select("query_id", F.explode(tokenize_col(F.col("text"), analyzer)).alias("term"))
            .groupBy("query_id", "term")
            .agg(F.count(F.lit(1)).alias("qtf"))
            .collect()
        )
        for r in agg:
            qtf[(r["query_id"], r["term"])] = int(r["qtf"])
    else:
        for r in head:
            for t, c in Counter(tokenize_py(r["text"], analyzer)).items():
                qtf[(r["query_id"], t)] = c
    return qtf


def _pruned_postings(index: BM25Index, matched: list) -> DataFrame:
    """Posting blocks of the matched terms only: term_bucket prunes
    partition directories, term prunes row groups (PushedFilters)."""
    buckets = sorted({b for (_, _, _, b) in matched})
    terms = sorted({t for (_, t, _, _) in matched})
    return index.postings.where(
        in_list("term_bucket", buckets) & in_list("term", terms)
    )


def _query_fanout(matched: list) -> tuple[list, dict]:
    """(qids, fanout): the batch's sorted query ids and term ->
    [(query_index, weight)] — the query side of the shard kernel."""
    qids = sorted({q for (q, _, _, _) in matched})
    qidx = {q: i for i, q in enumerate(qids)}
    fanout: dict[str, list[tuple[int, float]]] = {}
    for q, t, c, _ in matched:
        fanout.setdefault(t, []).append((qidx[q], c))
    return qids, fanout


def _batch_partials(
    index: BM25Index, matched: list, k: int,
    dead_map: dict | None = None,
    cursors: dict | None = None,
    keep_map: dict | None = None,
) -> DataFrame:
    """Per-(query, shard) top-k partials in one pass over each matched
    posting block.

    Blocks repartition by shard (a doc's postings never leave its shard, so
    per-shard accumulation yields COMPLETE scores) and one vectorized kernel
    per shard scores every query of the batch. A block row is read once no
    matter how many queries hold its term — no per-query fan-out of block
    rows through the shuffle.

    Canonical determinism: the kernel buffers encoded payloads per (shard,
    term) and accumulates terms in ascending-term order, so sums are
    bit-identical to the oracle.
    """
    qids, fanout = _query_fanout(matched)
    # per-query search_after cursor score (query/paging.py): NaN = no cursor.
    # The kernel restricts candidates to score <= cursor and emits ALL docs
    # tied AT the cursor score (any of them may survive the exact
    # (score, doc_id) cursor predicate applied after the docmap join) plus
    # the deterministic top-k of the strictly-below set.
    cursors = cursors or {}
    cur = np.array(
        [float(cursors[q][0]) if q in cursors else np.nan for q in qids]
    )

    def kernel(batches):
        buf: dict[int, dict[str, list]] = {}  # shard -> term -> [(ords, w)]
        for pdf in batches:
            for shard, term, docs, scores in zip(
                pdf["shard"], pdf["term"], pdf["docs"], pdf["scores"]
            ):
                buf.setdefault(int(shard), {}).setdefault(term, []).append((docs, scores))
        for shard, terms in buf.items():
            dead = dead_map.get(shard) if dead_map else None
            allowed = keep_map.get(shard) if keep_map is not None else None
            if keep_map is not None and allowed is None:
                # a keep-map with no entry for this shard allows NOTHING
                continue
            out = _shard_topk(shard, terms, qids, fanout, k, dead, allowed, cur)
            if out is not None:
                yield out

    # per-shard accumulation needs every block of a shard in one partition;
    # explicit N (not repartition("shard") alone) stops AQE from coalescing
    # the exchange to a single task and serializing the kernel. N follows the
    # live segment count, NOT stats["num_shards"]: incremental ingest grows
    # the segment set and compaction shrinks it, while build-time stats stay
    # frozen (committed_shards is memoized, no job)
    n_segments = len(index.committed_shards())
    n_parts = max(1, min(n_segments, index.spark.sparkContext.defaultParallelism))
    return (
        _pruned_postings(index, matched)
        .select("shard", "term", "docs", "scores")
        .repartition(n_parts, "shard")
        .mapInPandas(kernel, _KERNEL_OUT)
    )


def _shard_topk(shard, terms, qids, fanout, k, dead, allowed, cur):
    """One shard's canonical accumulate + deterministic top-k: terms is
    {term: [(docs_bytes, scores_bytes)]}. Shared by the batch kernel and the
    cogrouped filtered kernel (query/filtered.py) — byte-identical math in
    both plans. Returns a pandas frame in _KERNEL_OUT shape, or None."""
    max_ord = 0
    decoded = {}
    for term in sorted(terms):
        pairs = [
            (decode_postings(d), np.frombuffer(s, dtype=np.float64))
            for d, s in terms[term]
        ]
        o = np.concatenate([p[0] for p in pairs])
        w = np.concatenate([p[1] for p in pairs])
        # live-docs mask at decode time: a tombstoned doc must not
        # enter the candidate set (it would consume a top-k slot)
        if dead is not None and dead.size and o.size:
            keep = ~np.isin(o, dead)
            o, w = o[keep], w[keep]
        # attribute-filter allow mask (query/filtered.py): same
        # decode-time placement — a filtered-out doc must never
        # consume a top-k slot
        if allowed is not None and o.size:
            keep = np.isin(o, allowed)
            o, w = o[keep], w[keep]
        order = np.argsort(o, kind="stable")
        decoded[term] = (o[order], w[order])
        max_ord = max(max_ord, int(o.max()) if o.size else 0)
    touched = np.zeros(max_ord + 1, dtype=bool)
    for term in decoded:
        touched[decoded[term][0]] = True
    cand = np.flatnonzero(touched)
    if not cand.size:
        return None
    # bound accumulator memory: chunk queries so the dense matrix
    # stays under ~1 GiB regardless of shard size
    chunk = max(1, int(128e6 // (max_ord + 1)))
    out = {"query_id": [], "shard": [], "doc_ord": [], "score": []}
    for q0 in range(0, len(qids), chunk):
        qs = range(q0, min(q0 + chunk, len(qids)))
        dense = np.zeros((len(qs), max_ord + 1), dtype=np.float64)
        for term in sorted(decoded):
            o, w = decoded[term]
            for qi, qtf in fanout[term]:
                if q0 <= qi < q0 + chunk:
                    dense[qi - q0, o] += qtf * w
        for row, qi in enumerate(qs):
            s = dense[row, cand]
            nz = np.flatnonzero(s > 0)
            eq = None
            cs = cur[qi]
            if not np.isnan(cs):
                # search_after: page candidates are strictly below
                # the cursor score, plus every doc TIED at it (the
                # exact doc_id tie-break runs post-docmap-join)
                eq = nz[s[nz] == cs]
                nz = nz[s[nz] < cs]
            if not nz.size and (eq is None or not eq.size):
                continue
            kk = min(k, nz.size)
            if nz.size > kk:
                # argpartition alone picks ARBITRARY members of a
                # score tie; the deterministic contract is
                # (score DESC, doc_ord ASC), so fill the boundary
                # tie with the smallest ords explicitly
                part = np.argpartition(-s[nz], kk - 1)
                thresh = s[nz[part[kk - 1]]]
                above = nz[s[nz] > thresh]
                tied = nz[s[nz] == thresh]
                need = kk - above.size
                tied = tied[np.argsort(cand[tied])][:need]
                sel = np.concatenate([above, tied])
            else:
                sel = nz
            order = np.lexsort((cand[sel], -s[sel]))
            sel = sel[order][:k]
            if eq is not None and eq.size:
                sel = np.concatenate([eq[np.argsort(cand[eq])], sel])
            out["query_id"].extend([qids[qi]] * len(sel))
            out["shard"].extend([shard] * len(sel))
            out["doc_ord"].extend(cand[sel].tolist())
            out["score"].extend(s[sel].tolist())
    return pd.DataFrame(out)


def search(
    index: BM25Index,
    queries: DataFrame,
    k: int = 100,
    remove_identical: bool = False,
) -> DataFrame:
    """Top-k BM25 run: (query_id, doc_id, score, rank), bit-identical to
    oracle.BM25Oracle (canonical ascending-term accumulation). Every batch
    size runs the same plan: the shard kernel of `_batch_partials`, then the
    docmap hydrate and final window of `_rank_run`.

    remove_identical drops hits where doc_id == query_id
    (reference dense_retriever.py:252-253, flag arguments.py:207).
    """
    return search_terms(
        index, query_terms(index, queries), k=k, remove_identical=remove_identical,
    )


def search_terms(
    index: BM25Index,
    matched: list,
    k: int = 100,
    remove_identical: bool = False,
    cursors: dict | None = None,
    keep_map: dict | None = None,
) -> DataFrame:
    """Top-k run over an explicit weighted-term list — the shared engine
    behind search() and the term-expansion surfaces (query/expand.py fuzzy
    and prefix search): matched is [(query_id, term, weight, term_bucket)]
    with in-vocabulary terms; weight generalizes qtf (expansion surfaces
    pass fractional per-variant weights, e.g. qtf/(1+edit_distance)).

    cursors (query/paging.py search_after): {query_id: (score, doc_id)} —
    only hits strictly after the cursor in the total (score DESC, doc_id
    ASC) order compete for the page's top-k; queries absent from the dict
    get page 1. The per-shard pass is exhaustive, so the cursor restriction
    is exact.

    keep_map (query/filtered.py): {shard: sorted int64 ord array} allow
    mask applied at decode time, the same placement as the tombstone mask —
    a masked-out doc never consumes a top-k slot. A shard with no entry
    allows nothing.
    """
    if not matched:
        return index.spark.createDataFrame(
            [], "query_id string, doc_id string, score double, rank int"
        )
    # live-docs mask (tombstoned docs; index/deletes.py): a tiny driver-held
    # {shard -> sorted ord array} shipped in the kernel closures — the
    # Lucene liveDocs contract. {} (no deletes) costs nothing per row.
    dead_map = index.deleted_ords() or None
    partial = _batch_partials(
        index, matched, k, dead_map, cursors=cursors, keep_map=keep_map,
    )
    return _rank_run(
        index, partial, matched, k, cursors=cursors, remove_identical=remove_identical,
    )


def _rank_run(
    index: BM25Index,
    partial: DataFrame,
    matched: list,
    k: int,
    cursors: dict | None = None,
    remove_identical: bool = False,
) -> DataFrame:
    """Per-(query, shard) partials (_KERNEL_OUT shape) -> the final run
    (query_id, doc_id, score, rank): rank pre-cut, broadcast docmap
    hydrate, optional search_after predicate, final deterministic window.
    Shared by search_terms and the filtered routes (query/filtered.py)."""
    spark = index.spark
    n_segments = len(index.committed_shards())
    # pre-reduce the per-(query, shard) partials to a per-query top-k cut
    # BEFORE the broadcast: partial is queries x shards x k rows, and at
    # 4000 shards (10^12 docs) driver-collecting that for a broadcast is a
    # serial O(shards) cost that caps scaling (measured: it flattened the
    # 4096-query batch's N->4N efficiency). rank() keeps every row tied at
    # the k-th score, so no candidate that could win under the final
    # (score DESC, doc_id ASC) tie-break is lost — results bit-identical.
    # Spark's WindowGroupLimit pushes this rank cut map-side, so the
    # exchange carries ~queries x k rows, and the subsequent broadcast is
    # ~shards times smaller. For SMALL batches the bound is already tiny
    # and the cut's extra exchange would only add a job round to p50 —
    # skip it (identical results either way; the final window re-ranks).
    n_queries = len({q for (q, _, _, _) in matched})
    bound = n_queries * n_segments * k
    if cursors:
        # the rank() pre-cut keeps the k best BY SCORE; with a cursor the
        # ties AT the cursor score may all be eliminated by the doc_id
        # predicate below, so the cut could starve the page — skip it
        # (paging batches are interactive-sized; the bound stays tiny)
        bound = 0
    if bound > 200_000:
        pre_w = Window.partitionBy("query_id").orderBy(F.desc("score"))
        cut = (
            partial.withColumn("_r", F.rank().over(pre_w))
            .where(F.col("_r") <= k)
            .drop("_r")
        )
    else:
        cut = partial
    # the docmap is never shuffled (at 10^12 docs that would be the whole
    # corpus); the hit side broadcasts instead. HOW it broadcasts is batch-
    # size dependent: small batches broadcast the cut itself (one join, the
    # p50 shape), but at 16k+ queries the cut is ~queries x k rows carrying
    # query_id strings, and pushing all of it through the driver is a
    # core-count-independent ~tens-of-seconds cost that flattens N->4N
    # query scaling (measured: the 16,384-query leg's fixed component).
    # Above the threshold, broadcast only the DISTINCT (shard, doc_ord)
    # hit set (narrow ints, and query overlap dedupes popular docs), join
    # it to the docmap to hydrate doc_id, and broadcast that small map
    # back against the cut — the q x k rows never cross the driver.
    # Results are identical: same equi-join, two broadcast hops.
    if not cursors and n_queries * k > _BROADCAST_CUT_MAX_ROWS:
        # cut feeds TWO consumers below (the distinct hit-doc set and the
        # final join) — materialize it once or the whole scoring kernel
        # re-executes for each consumer (measured: 2x wall at local[1])
        cut = cut.localCheckpoint()
        hit_docs = cut.select("shard", "doc_ord").distinct()
        dmap_small = index.docmap.select("shard", "doc_ord", "doc_id").join(
            F.broadcast(hit_docs), ["shard", "doc_ord"]
        )
        hits = cut.join(F.broadcast(dmap_small), ["shard", "doc_ord"])
    else:
        hits = index.docmap.select("shard", "doc_ord", "doc_id").join(
            F.broadcast(cut), ["shard", "doc_ord"]
        )
    if cursors:
        # exact search_after predicate in the total (score DESC, doc_id ASC)
        # order: strictly lower score, or tied score with a later doc_id
        cur_df = inline_table(spark, 
            [(q, float(s), str(d)) for q, (s, d) in cursors.items()],
            "query_id string, cur_score double, cur_doc string",
        )
        hits = (
            hits.join(F.broadcast(cur_df), "query_id", "left")
            .where(
                F.col("cur_score").isNull()
                | (F.col("score") < F.col("cur_score"))
                | (
                    (F.col("score") == F.col("cur_score"))
                    & (F.col("doc_id") > F.col("cur_doc"))
                )
            )
            .drop("cur_score", "cur_doc")
        )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    run = (
        hits.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "doc_id", "score", "rank")
    )
    if remove_identical:
        run = run.where(F.col("query_id") != F.col("doc_id"))
        w2 = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
        run = run.withColumn("rank", F.row_number().over(w2))
    return run
