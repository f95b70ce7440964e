"""BM25 scoring kernel (Lucene/Anserini flavor), float64 throughout.

The reference consumes BM25 runs from a previous-stage ranker
(docs/rr-msmarco-passage.md:164) and names BM25 as its standard negative
source (docs/models/ance-tele_msmarco_qry-psg-encoder.md:11); this module is
the native rebuild of that first stage. Constants from BASELINE.json:
k1=0.9, b=0.4; idf is Lucene's ``ln(1 + (N - df + 0.5)/(df + 0.5))``.

Scores are computed in float64 and never re-associated across partitionings
in a way that changes the sum order per (query, doc): each per-term weight is
exact given (tf, doclen, df), and the per-doc score is a sum over the query's
matched terms in canonical term order — so the engine is rank-identical under
any partitioning (SURVEY §7.4).
"""

from __future__ import annotations

import numpy as np

K1 = 0.9
B = 0.4


def lucene_idf(df: np.ndarray | float, n_docs: float) -> np.ndarray | float:
    """idf(t) = ln(1 + (N - df + 0.5) / (df + 0.5))."""
    return np.log(1.0 + (n_docs - np.asarray(df, dtype=np.float64) + 0.5) / (np.asarray(df, dtype=np.float64) + 0.5))


def bm25_weight(
    tf: np.ndarray | float,
    doclen: np.ndarray | float,
    idf: np.ndarray | float,
    avgdl: float,
    k1: float = K1,
    b: float = B,
) -> np.ndarray | float:
    """w(t, d) = idf(t) * tf / (tf + k1 * (1 - b + b * dl/avgdl))."""
    tf = np.asarray(tf, dtype=np.float64)
    dl = np.asarray(doclen, dtype=np.float64)
    return np.asarray(idf, dtype=np.float64) * tf / (tf + k1 * (1.0 - b + b * dl / avgdl))


def bm25_weight_scalar(tf: int, doclen: int, df: int, n_docs: int, avgdl: float,
                       k1: float = K1, b: float = B) -> float:
    """Pure-scalar variant used by the Python oracle (no numpy reassociation)."""
    import math

    idf = math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))
    return idf * tf / (tf + k1 * (1.0 - b + b * doclen / avgdl))


def lucene_idf_col(df_col, n_docs: float):
    """Column-expression twin of lucene_idf — THE single definition of the
    engine's JVM-side idf. index/build.py (fresh build + dictionary
    extension) and index/compact.py (stats rebaseline) all use this one
    expression: the rebaseline guarantee is that re-derived weights are
    byte-identical to a fresh build's, which only holds if every site
    shares the exact same expression tree."""
    import pyspark.sql.functions as F

    return F.log(
        F.lit(1.0) + (F.lit(float(n_docs)) - df_col + 0.5) / (df_col + 0.5)
    )


def bm25_weight_col(tf_col, idf_col, doclen_col, avgdl: float,
                    k1: float = K1, b: float = B):
    """Column-expression twin of bm25_weight — the single definition of the
    index-time payload weight (same byte-identity rationale as
    lucene_idf_col). avgdl must be pre-guarded nonzero by the caller."""
    import pyspark.sql.functions as F

    return (
        idf_col
        * tf_col
        / (
            tf_col
            + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * doclen_col / F.lit(avgdl))
        )
    )


MU = 1000.0  # Anserini/Indri default Dirichlet smoothing parameter


def qld_weight_col(tf_col, cf_col, doclen_col, total_terms: float,
                   mu: float = MU):
    """Dirichlet-smoothed query-likelihood per-(term, doc) weight — Lucene's
    LMDirichletSimilarity matched-term formulation:

        w(t, d) = max(0, log(1 + tf / (mu * cf(t)/|C|)) + log(mu / (dl + mu)))

    where cf/|C| is the collection language model. The max(0, ·) clamp is
    Lucene's (scores of poorly-matching terms go slightly negative under
    this decomposition; Lucene floors them at 0). Because the clamped weight
    is fully determined per (term, doc) once collection stats are frozen, a
    QLD index is just build_index(scoring="qld"): same payload layout, same
    search kernel (which keeps docs whose summed weight is > 0, so weights
    must be non-negative),
    and exact-zero weights carry no posting at all — a doc whose every
    matched term clamps to 0 is absent from results (vs Lucene returning it
    with score 0; documented contract, replicated by the oracle's w > 0).
    total_terms must be pre-guarded nonzero by the caller."""
    import pyspark.sql.functions as F

    return F.greatest(
        F.lit(0.0),
        F.log(
            F.lit(1.0)
            + tf_col / (F.lit(mu) * cf_col / F.lit(float(total_terms)))
        )
        + F.log(F.lit(mu) / (doclen_col + F.lit(mu))),
    )


def qld_jm_weight_col(tf_col, cf_col, doclen_col, total_terms: float,
                      lam: float = 0.1):
    """Jelinek-Mercer-smoothed query-likelihood per-(term, doc) weight —
    Lucene's LMJelinekMercerSimilarity matched-term formulation:

        w(t, d) = log(1 + ((1 - lambda) * tf/dl) / (lambda * cf(t)/|C|))

    Linear interpolation between the document model tf/dl and the
    collection model cf/|C| (Zhai & Lafferty 2001 recommend lambda ~0.1
    for short queries, ~0.7 for long). Unlike the Dirichlet form there is
    no negative region — any matched term (tf >= 1) contributes a strictly
    positive weight, so no clamp and no dropped postings: a QLD-JM index
    is build-compatible the same way (non-negative weights, as the search
    kernel requires). total_terms must be pre-guarded nonzero by the caller;
    lambda must be in (0, 1)."""
    import pyspark.sql.functions as F

    if not 0.0 < lam < 1.0:
        raise ValueError(f"lambda must be in (0, 1), got {lam}")
    return F.log(
        F.lit(1.0)
        + (F.lit(1.0 - lam) * tf_col / doclen_col)
        / (F.lit(lam) * cf_col / F.lit(float(total_terms)))
    )
