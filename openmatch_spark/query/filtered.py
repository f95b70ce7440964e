"""Attribute-filtered BM25 top-k: only docs passing a metadata predicate
compete for the page (Lucene filter context / Elasticsearch bool.filter).

Semantics: the filter restricts the CANDIDATE set, never the statistics —
idf/avgdl stay corpus-wide, exactly like a Lucene filter (a query for
"spark" over lang='de' docs scores each hit as if the whole corpus were
searchable). Scores of surviving docs are bit-identical to their unfiltered
scores (tested).

Correctness constraint: the per-shard kernels emit only shard top-k, so
post-hoc filtering of an unfiltered run is WRONG (a filtered-in doc ranked
k+1 in its shard would be lost). The filter must reach the kernel. Three
routes, picked by selectivity:

  keep-mask   few docs ALLOWED: {shard -> sorted ord array} rides the kernel
              closure like the tombstone mask (index/deletes.py liveDocs).
  drop-mask   few docs EXCLUDED: the complement rides the same dead-ord
              mask the tombstones use (they compose: union).
  cogroup     both sides huge (the 100 TB shape): the allowed-ord table is
              never driver-materialized — posting blocks cogroup with the
              ord table ON shard, and the same `_shard_topk` kernel applies
              the mask executor-side. One extra shuffle of the FILTER set,
              zero driver bytes.

All three routes produce bit-identical runs (tested; the kernel math is the
shared `_shard_topk`, the final ranking the shared `_rank_run` of plain
search).
"""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from openmatch_spark.index.load import BM25Index
from openmatch_spark.query.bm25_search import (
    _KERNEL_OUT,
    _batch_partials,
    _pruned_postings,
    _query_fanout,
    _rank_run,
    _shard_topk,
    query_terms,
    search_terms,
)

# above this many ords on BOTH sides, neither mask fits the driver
# comfortably and the cogroup route keeps the filter distributed
MAX_DRIVER_ORDS = 2_000_000


def _allowed_ords(index: BM25Index, allowed_docs: DataFrame) -> DataFrame:
    """(shard, doc_ord) of allowed docs: one broadcast-or-shuffle equi-join
    against the docmap (Catalyst picks by size), distinct on doc_id first so
    a duplicated filter row cannot double-mask."""
    return (
        index.docmap.select("shard", "doc_ord", "doc_id")
        .join(allowed_docs.select(F.col("doc_id").cast("string")).distinct(), "doc_id")
        .select("shard", "doc_ord")
    )


def _collect_mask(ords: DataFrame) -> dict:
    """{shard -> sorted int64 ord array} — the driver-held mask shape shared
    with BM25Index.deleted_ords."""
    mask: dict[int, list] = {}
    for r in ords.collect():
        mask.setdefault(int(r["shard"]), []).append(int(r["doc_ord"]))
    return {s: np.sort(np.asarray(v, dtype=np.int64)) for s, v in mask.items()}


def search_filtered(
    index: BM25Index,
    queries: DataFrame,
    allowed_docs: DataFrame | None = None,
    k: int = 100,
    max_driver_ords: int = MAX_DRIVER_ORDS,
    route: str | None = None,
    where=None,
) -> DataFrame:
    """Top-k run restricted to a filter context. Two ways to express it:

    - ``allowed_docs``: any DataFrame with a doc_id column — typically
      ``docs.where(predicate).select("doc_id")``. One equi-join against
      the docmap resolves ids to (shard, doc_ord).
    - ``where``: a predicate (SQL string or Column) over the index's OWN
      stored doc-values columns (build_index store_attrs) — e.g.
      ``where="lang = 'en'"``. The allowed set comes straight off the
      column-pruned docmap scan: no corpus access, no doc_id join, no
      id strings in flight — the doc-values filter path.

    route: None (auto by selectivity) | "keep" | "drop" | "cogroup" —
    explicit routes exist for tests and for callers that already know their
    filter's selectivity (skips the counting job).
    """
    if (allowed_docs is None) == (where is None):
        raise ValueError("give exactly one of allowed_docs or where")
    matched = query_terms(index, queries)
    if not matched:
        return index.spark.createDataFrame(
            [], "query_id string, doc_id string, score double, rank int"
        )
    if where is not None:
        if not index.stored_attrs:
            raise ValueError(
                "where= filters on stored doc values, but this index was "
                "built without store_attrs"
            )
        pred = F.expr(where) if isinstance(where, str) else where
        ords = index.docmap.where(pred).select("shard", "doc_ord")
    else:
        ords = _allowed_ords(index, allowed_docs)
    if route is None:
        n_allowed = ords.count()
        if n_allowed <= max_driver_ords:
            route = "keep"
        else:
            n_total = index.docmap.count()
            route = "drop" if n_total - n_allowed <= max_driver_ords else "cogroup"
    if route == "keep":
        return search_terms(index, matched, k=k, keep_map=_collect_mask(ords))
    if route == "drop":
        # complement mask composes with tombstones through the same dead-ord
        # channel: a doc is skipped if deleted OR filtered out
        dis = index.docmap.select("shard", "doc_ord").exceptAll(ords)
        merged = _collect_mask(dis)
        for shard, arr in (index.deleted_ords() or {}).items():
            merged[shard] = np.unique(np.concatenate([merged.get(shard, arr[:0]), arr]))
        partial = _batch_partials(index, matched, k, merged or None)
    elif route == "cogroup":
        partial = _cogroup_partials(index, matched, k, ords)
    else:
        raise ValueError(f"unknown route: {route}")
    return _rank_run(index, partial, matched, k)


def _cogroup_partials(index, matched, k, ords: DataFrame):
    """Fully distributed filtered partials: posting blocks ⋈ allowed ords,
    cogrouped ON shard — the allowed set shuffles once on its storage key
    and never transits the driver. The kernel is the shared `_shard_topk`
    (bit-identical math to the mask routes)."""
    import pandas as pd

    qids, fanout = _query_fanout(matched)
    cur = np.full(len(qids), np.nan)
    dead_map = index.deleted_ords() or None
    blocks = _pruned_postings(index, matched).select("shard", "term", "docs", "scores")

    def kernel(key, blocks_pdf: pd.DataFrame, ords_pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {"query_id": [], "shard": [], "doc_ord": [], "score": []}
        ).astype({"shard": "int32", "doc_ord": "int64", "score": "float64"})
        if not len(blocks_pdf) or not len(ords_pdf):
            return empty
        shard = int(key[0])
        allowed = np.unique(ords_pdf["doc_ord"].to_numpy(np.int64))
        terms: dict[str, list] = {}
        for term, docs, scores in zip(
            blocks_pdf["term"], blocks_pdf["docs"], blocks_pdf["scores"]
        ):
            terms.setdefault(term, []).append((docs, scores))
        dead = dead_map.get(shard) if dead_map else None
        out = _shard_topk(shard, terms, qids, fanout, k, dead, allowed, cur)
        return out if out is not None else empty

    return (
        blocks.groupBy("shard")
        .cogroup(ords.groupBy("shard"))
        .applyInPandas(kernel, _KERNEL_OUT)
    )
