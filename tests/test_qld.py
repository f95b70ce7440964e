"""Dirichlet query-likelihood scoring (scoring="qld") — functions/bm25.py
qld_weight_col, build_index(scoring=), query/bm25_df.qld_score_adhoc.

The QLD index reuses every piece of the BM25 machinery (payloads are
precomputed per-(term, doc) weights either way); these tests pin:
  * indexed search == the declarative ad-hoc plan, in all three modes;
  * the Lucene clamp drops zero-weight postings (long docs, common terms);
  * plain compaction preserves qld results bit-for-bit (weight copy is
    scoring-agnostic) while rebaseline refuses loudly;
  * resume/upsert into a qld index inherits the frozen scoring.
"""

import pytest

from openmatch_spark.fixtures import PAGES_SCHEMA, QUERIES_SCHEMA, gen_pages_rows
from openmatch_spark.index import build_index, compact_index, load_index
from openmatch_spark.query import search
from openmatch_spark.query.bm25_df import qld_score_adhoc

QUERIES = [
    ("q1", "term0001 term0040"),
    ("q2", "term0100"),
    ("q3", "term0007 term0019 term0002"),
    ("q4", "nosuchterm"),
]


def _rounded(df):
    import pyspark.sql.functions as F

    return sorted(
        (r["query_id"], r["rank"], r["doc_id"], r["score"])
        for r in df.withColumn("score", F.round("score", 9)).collect()
    )


@pytest.fixture(scope="module")
def qld_built(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("qld")
    idx_dir = str(tmp / "idx")
    pages = spark.createDataFrame(gen_pages_rows(200), PAGES_SCHEMA)
    build_index(
        spark, pages, idx_dir, analyzer="simple",
        num_shards=4, num_term_buckets=4, scoring="qld",
    )
    queries = spark.createDataFrame(QUERIES, QUERIES_SCHEMA)
    return idx_dir, pages, queries


def test_indexed_matches_adhoc(spark, qld_built):
    idx_dir, pages, queries = qld_built
    idx = load_index(spark, idx_dir)
    assert idx.stats["scoring"] == "qld" and idx.stats["mu"] == 1000.0
    corpus = pages.selectExpr("url as doc_id", "text")
    want = _rounded(qld_score_adhoc(corpus, queries, k=10, analyzer="simple"))
    assert want  # queries actually hit
    assert _rounded(search(idx, queries, k=10)) == want


def test_clamp_drops_zero_weight_postings(spark, qld_built):
    idx_dir, pages, _queries = qld_built
    import pyspark.sql.functions as F

    idx = load_index(spark, idx_dir)
    # the head term in a long doc has log(mu/(dl+mu)) < 0 dominating a tiny
    # tf/(mu*p) lift -> clamped -> no posting. Total postings must therefore
    # be strictly fewer than distinct (term, doc) pairs.
    n_postings = idx.postings.agg(F.sum("n")).collect()[0][0]
    n_pairs = (
        pages.select(
            F.col("url"),
            F.explode(F.split(F.lower("text"), "[^a-z0-9]+")).alias("t"),
        )
        .where(F.col("t") != "")
        .distinct()
        .count()
    )
    assert 0 < n_postings < n_pairs
    # and no payload weight is ever negative (the search kernel keeps docs
    # whose summed weight is > 0)
    assert idx.postings.where(F.col("max_score") < 0).count() == 0


def test_plain_compact_preserves_qld_results(spark, qld_built):
    idx_dir, _pages, queries = qld_built
    before = _rounded(search(load_index(spark, idx_dir), queries, k=10))
    compact_index(spark, idx_dir)
    idx2 = load_index(spark, idx_dir)
    assert _rounded(search(idx2, queries, k=10)) == before
    assert idx2.stats["scoring"] == "qld"


def test_rebaseline_refuses_qld(spark, tmp_path):
    idx_dir = str(tmp_path / "idx")
    pages = spark.createDataFrame(gen_pages_rows(60), PAGES_SCHEMA)
    build_index(
        spark, pages, idx_dir, analyzer="simple",
        num_shards=2, num_term_buckets=2, scoring="qld",
    )
    with pytest.raises(NotImplementedError, match="qld clamp"):
        compact_index(spark, idx_dir, rebaseline_stats=True)


def test_upsert_inherits_frozen_scoring(spark, tmp_path):
    import datetime

    from openmatch_spark.index import upsert_docs

    idx_dir = str(tmp_path / "idx")
    pages = spark.createDataFrame(gen_pages_rows(60), PAGES_SCHEMA)
    build_index(
        spark, pages, idx_dir, analyzer="simple",
        num_shards=2, num_term_buckets=2, scoring="qld",
    )
    ep = datetime.datetime(2024, 6, 1, tzinfo=datetime.timezone.utc)
    up = spark.createDataFrame(
        [("https://new.example/x", ep, b"x", "zebra zebra unique", "en")],
        PAGES_SCHEMA,
    )
    upsert_docs(spark, up, idx_dir)  # resume path: stats' scoring wins
    idx = load_index(spark, idx_dir)
    assert idx.stats["scoring"] == "qld"
    q = spark.createDataFrame([("z", "zebra")], QUERIES_SCHEMA)
    hits = search(idx, q, k=5).collect()
    assert {r["doc_id"] for r in hits} == {"https://new.example/x"}
    assert all(r["score"] > 0 for r in hits)


def test_invalid_scoring_rejected(spark, tmp_path):
    pages = spark.createDataFrame(gen_pages_rows(5), PAGES_SCHEMA)
    with pytest.raises(ValueError, match="scoring"):
        build_index(
            spark, pages, str(tmp_path / "idx"), scoring="tfidf",
            num_shards=1, num_term_buckets=1,
        )
