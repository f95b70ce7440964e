"""Milestone-0 end-to-end: pages -> index -> search -> rank-identical vs oracle.

Mirrors the reference's only self-contained query->metric path
(driver/beir_eval_pipeline.py) with the BM25 first stage rebuilt natively.
"""

import pytest

from openmatch_spark.fixtures import (
    gen_pages_rows,
    gen_queries_rows,
    PAGES_SCHEMA,
    QUERIES_SCHEMA,
)
from openmatch_spark.index import build_index, load_index
from openmatch_spark.oracle import BM25Oracle
from openmatch_spark.query import search

N_DOCS = 300
N_QUERIES = 15
K = 10


@pytest.fixture(scope="module")
def corpus_rows():
    return gen_pages_rows(N_DOCS)


@pytest.fixture(scope="module")
def query_rows():
    return gen_queries_rows(N_QUERIES)


@pytest.fixture(scope="module")
def index(spark, corpus_rows, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx"))
    pages = spark.createDataFrame(corpus_rows, PAGES_SCHEMA)
    build_index(spark, pages, d, analyzer="dpr", num_shards=4, num_term_buckets=8, block_size=32)
    return load_index(spark, d)


@pytest.fixture(scope="module")
def oracle(corpus_rows):
    return BM25Oracle({u: t for (u, _, _, t, _) in corpus_rows}, analyzer="dpr")


def _as_rank_map(rows):
    out = {}
    for r in rows:
        out.setdefault(r["query_id"], []).append((r["rank"], r["doc_id"], r["score"]))
    for q in out:
        out[q].sort()
    return out


def test_rank_identical_vs_oracle(spark, index, oracle, query_rows):
    queries = spark.createDataFrame(query_rows, QUERIES_SCHEMA)
    run = search(index, queries, k=K).collect()
    got = _as_rank_map(run)
    for qid, qtext in query_rows:
        expected = oracle.search(qtext, k=K)
        mine = got.get(qid, [])
        assert [d for (_, d, _) in mine] == [d for (d, _, _) in expected], (qid, qtext, mine, expected)
        for (rk, d, s), (d2, s2, rk2) in zip(mine, expected):
            assert rk == rk2 and d == d2
            assert s == pytest.approx(s2, abs=1e-9)


def test_oov_and_empty_queries(spark, index):
    queries = spark.createDataFrame(
        [("qa", "zzznotinvocab qqqmissing"), ("qb", "")],
        QUERIES_SCHEMA,
    )
    run = search(index, queries, k=K)
    assert run.count() == 0


def test_partition_invariance(spark, corpus_rows, query_rows, oracle, tmp_path_factory):
    """Same index content and same run under a different shard/parallelism
    layout (SURVEY §5.5 property)."""
    d = str(tmp_path_factory.mktemp("idx2"))
    pages = spark.createDataFrame(corpus_rows, PAGES_SCHEMA).repartition(13)
    build_index(spark, pages, d, analyzer="dpr", num_shards=2, num_term_buckets=3, block_size=7)
    idx2 = load_index(spark, d)
    queries = spark.createDataFrame(query_rows, QUERIES_SCHEMA)
    run = search(idx2, queries, k=K).collect()
    got = _as_rank_map(run)
    for qid, qtext in query_rows:
        expected = oracle.search(qtext, k=K)
        assert [d_ for (_, d_, _) in got.get(qid, [])] == [d_ for (d_, _, _) in expected]


def test_distributed_query_tokenization_identical(spark, tmp_path):
    """A batch above the distributed-tokenize threshold must return the
    exact same run as the driver-side path (VERDICT r1 item 9)."""
    import pyspark.sql.functions as F

    from openmatch_spark.fixtures import PAGES_SCHEMA, gen_pages_rows
    from openmatch_spark.index import build_index, load_index
    from openmatch_spark.query import search
    from openmatch_spark.query.bm25_search import query_terms

    pages = spark.createDataFrame(gen_pages_rows(80, seed=9), PAGES_SCHEMA)
    d = str(tmp_path / "idx")
    build_index(spark, pages, d, num_shards=2, num_term_buckets=2, block_size=16)
    idx = load_index(spark, d)
    # 60 queries built from corpus vocabulary, threshold forced to 10 ->
    # distributed branch; text repeats a term (qtf > 1 exercised)
    words = [
        r["t"] for r in pages.selectExpr("explode(split(text, ' ')) AS t")
        .where("t <> ''").distinct().limit(60).collect()
    ]
    qs = spark.createDataFrame(
        [(f"q{i}", f"{w} {w} {words[(i + 1) % len(words)]}") for i, w in enumerate(words)],
        "query_id string, text string",
    )
    qt_driver = query_terms(idx, qs, distributed_threshold=10_000)
    qt_dist = query_terms(idx, qs, distributed_threshold=10)
    assert len(qt_dist) > 0
    assert sorted(qt_driver) == sorted(qt_dist)
    run = search(idx, qs, k=3)
    assert run.where("rank = 1").count() > 0
