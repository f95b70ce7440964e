"""openmatch_spark — a PySpark-native sparse-retrieval analytics engine.

Re-implements, Spark-first, the query/data-processing capabilities of the
OpenMatch v2 reference toolkit (first-stage retrieval: corpus scan -> index
build -> top-k search -> TREC run; run algebra; hard-negative mining; rank
metrics), with the BM25 first stage — which the reference delegates to
external tools (docs/rr-msmarco-passage.md:164) — rebuilt natively:

- inverted-index construction (salted, skew-aware, block-max, varbyte)
- BM25 top-k in one vectorized per-shard scatter-gather kernel
  (k1=0.9, b=0.4, Lucene idf)
- deterministic rank semantics: (score DESC, doc_id ASC)

Everything is DataFrame-declarative; Python appears only inside vectorized
Arrow/pandas UDFs (tokenization, posting-block codecs, the shard top-k
kernel).
"""

from openmatch_spark.session import get_spark, scoped_confs  # noqa: F401

__version__ = "0.1.0"

BM25_K1 = 0.9
BM25_B = 0.4
