"""Physical-plan audits (SURVEY §4: verify Catalyst, don't rebuild it).

These lock in the scale-critical plan properties: term filters reach the
postings parquet scan (row-group pruning), the bucket predicate prunes
partition directories, the docmap join broadcasts the tiny hit set, and the
extraction path is Arrow-vectorized (no row-at-a-time Python).
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from openmatch_spark.fixtures import pages_df, queries_df
from openmatch_spark.index import build_index, load_index
from openmatch_spark.plans.explain import capture_plan, plan_summary
from openmatch_spark.query import search


@pytest.fixture(scope="module")
def idx(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("plan_idx"))
    build_index(spark, pages_df(spark, 300), d, num_shards=4, num_term_buckets=8)
    return load_index(spark, d)


def test_term_filter_pushed_to_postings_scan(idx):
    pruned = idx.postings.where(
        F.col("term_bucket").isin([0, 3]) & F.col("term").isin(["term0001", "term0002"])
    )
    plan = capture_plan(pruned)
    assert "PushedFilters:" in plan and "In(term, [term0001,term0002])" in plan


def test_bucket_partition_pruning(idx):
    pruned = idx.postings.where(F.col("term_bucket") == 3)
    plan = capture_plan(pruned)
    # partition filters appear separately from data filters for a
    # directory-partitioned column
    assert "PartitionFilters:" in plan
    assert any(
        frag in plan for frag in ["isnotnull(term_bucket", "(term_bucket#"]
    ), plan


def test_search_plan_shape(idx, spark):
    run = search(idx, queries_df(spark, 4), k=10)
    s = plan_summary(run)
    # hit set joins against docmap via broadcast — the docmap side must
    # never shuffle (it is corpus-sized)
    assert s["broadcasts"] >= 1
    # exactly the declared Python points: the batch scorer kernel
    assert s["python_evals"] >= 1
    assert s["pushed_filters"]


def test_extraction_is_arrow_vectorized(spark):
    from openmatch_spark.analysis import extract_corpus

    corpus = extract_corpus(pages_df(spark, 50), analyzer="dpr")
    plan = capture_plan(corpus)
    assert "ArrowEvalPython" in plan  # vectorized pandas UDF, not BatchEvalPython
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python anywhere


def test_winnow_simhash_plans_are_python_free(spark):
    """The r2 kernel rewrites must keep simhash/winnowing entirely JVM-side:
    no ArrowEvalPython / MapInPandas anywhere in either plan."""
    from openmatch_spark.operators.dedup import simhash_fingerprints
    from openmatch_spark.operators.textstats import winnow_fingerprints
    from openmatch_spark.plans.explain import plan_summary

    df = spark.createDataFrame(
        [(f"d{i}", "alpha beta gamma delta epsilon zeta eta theta") for i in range(20)],
        "doc_id string, text string",
    )
    for out in (winnow_fingerprints(df), simhash_fingerprints(df)):
        s = plan_summary(out)
        assert s["python_evals"] == 0, s
        assert s["wholestage"] >= 1, s


def test_compaction_reads_are_shard_pruned(idx, spark):
    """The merge's postings read must scan ONLY the merged shards'
    partition dirs (shard is a partition column; at scale the merge cost
    must be proportional to the merged segments, never the whole index)."""
    merge = [1, 2]
    pruned = idx.postings.where(F.col("shard").isin(merge))
    plan = capture_plan(pruned)
    assert "PartitionFilters:" in plan
    assert any(
        frag in plan for frag in ["shard#", "isnotnull(shard"]
    ), plan
    # the manifest gate composes: committed-shard In-filter is ALSO a
    # partition filter, not a post-scan filter
    gated = idx.postings
    gplan = capture_plan(gated)
    assert "PartitionFilters:" in gplan


def test_lsh_cap_rides_the_bands_shuffle(spark):
    """The bucket-size cap must not add an aggregation pass: the window
    count over (band, band_hash) shares the hash partitioning the pair
    self-join needs, so the bands frame is exchanged and the filtered
    frame reused for both join sides — no separate groupBy+semi-join
    subtree in the plan."""
    from openmatch_spark.operators.dedup import (
        minhash_candidate_pairs,
        minhash_signatures,
        shingles,
    )

    docs = spark.createDataFrame(
        [(f"d{i}", f"some text body number {i} with shared tokens here")
         for i in range(20)],
        "doc_id string, text string",
    )
    sig = minhash_signatures(shingles(docs, n=3), num_hashes=8)
    pairs = minhash_candidate_pairs(sig, num_bands=4, num_hashes=8, max_bucket=5)
    plan = capture_plan(pairs)
    assert "Window" in plan
    # the old implementation computed sizes via a second HashAggregate +
    # LeftSemi join back onto the bands; the fused form has neither
    assert "LeftSemi" not in plan


def test_ivf_df_plan_prunes_and_single_corpus_exchange(spark):
    """ivf_topk_df's corpus side: broadcast LeftSemi prune on the probed
    bucket set BEFORE the one exchange that feeds the cogroup."""
    import numpy as np

    from openmatch_spark.query.dense import assign_buckets, ivf_topk_df

    rng = np.random.default_rng(0)
    emb = spark.createDataFrame(
        [(f"v{i}", [float(x) for x in rng.standard_normal(8)]) for i in range(50)],
        "vec_id string, embedding array<float>",
    )
    qdf = spark.createDataFrame(
        [(f"q{i}", [float(x) for x in rng.standard_normal(8)]) for i in range(4)],
        "query_id string, embedding array<double>",
    )
    b = assign_buckets(emb, dim=8, n_centroids=8)
    out = ivf_topk_df(b, qdf, dim=8, k=3, n_centroids=8, nprobe=2)
    plan = capture_plan(out)
    assert "FlatMapCoGroupsInPandas" in plan
    semi_pos = plan.find("LeftSemi")
    cg_pos = plan.find("FlatMapCoGroupsInPandas")
    assert semi_pos != -1 and "BroadcastHashJoin" in plan
    # prune sits below (after, in formatted output) the cogroup operator
    assert semi_pos > cg_pos


def test_span_near_window_fold_is_python_free(spark):
    """The r4 rewrite of the min-window-subsequence DP must stay a pure-JVM
    aggregate() fold: the grouped stage (occurrence rows -> min_window)
    carries no ArrowEvalPython / MapInPandas / FlatMapGroupsInPandas.
    (The full search still has its declared Arrow decode kernels; this
    pins the DP stage itself.)"""
    from openmatch_spark.query.phrase import _min_window_grouped
    from openmatch_spark.plans.explain import plan_summary

    rows = spark.createDataFrame(
        [("q1", 0, 0, 3, 0, 2), ("q1", 0, 0, 7, 1, 2), ("q1", 0, 0, 9, 1, 2)],
        "query_id string, shard int, doc_ord long, pos long, j int, m int",
    )
    out = _min_window_grouped(rows)
    s = plan_summary(out)
    assert s["python_evals"] == 0, s
    assert out.collect()[0]["min_window"] == 5  # 3..7 inclusive


def test_function_score_plan_pure_jvm(spark):
    """function_score is pure column algebra: run hydrate broadcasts, the
    fold is higher-order array exprs — no Python eval, no Arrow kernel,
    no corpus-side shuffle beyond the rank window."""
    from openmatch_spark.query import function_score

    run = spark.createDataFrame(
        [("q1", "a", 2.0), ("q1", "b", 1.0)],
        "query_id string, doc_id string, score double",
    )
    docs = spark.createDataFrame(
        [("a", "en", 10.0), ("b", "de", 20.0)],
        "doc_id string, lang string, views double",
    )
    out = function_score(
        run, docs,
        [{"kind": "weight", "weight": 2.0, "filter": "lang='en'"},
         {"kind": "field_value_factor", "field": "views", "factor": 0.1,
          "modifier": "log1p"},
         {"kind": "random_score", "seed": 7}],
        score_mode="sum",
    )
    s = plan_summary(out)
    assert s["python_evals"] == 0
    plan = capture_plan(out)
    assert "InArrow" not in plan and "InPandas" not in plan
    assert s["broadcasts"] >= 2  # semi-join bound + hydrate


def test_metric_agg_plans_pure_jvm(spark):
    """The ES metric/bucket aggregation family stays JVM-side: one
    broadcast hydrate, groupBy/window algebra, zero Python points."""
    from openmatch_spark.operators.facets import adjacency_matrix_facets
    from openmatch_spark.query import hit_extended_stats, matrix_stats

    run = spark.createDataFrame(
        [("q1", "a"), ("q1", "b")], "query_id string, doc_id string"
    )
    docs = spark.createDataFrame(
        [("a", 1.0, 2.0, "en"), ("b", 3.0, 4.0, "de")],
        "doc_id string, x double, y double, lang string",
    )
    for df in (
        hit_extended_stats(run, docs, ["x"]),
        matrix_stats(run, docs, ["x", "y"]),
        adjacency_matrix_facets(run, docs, {"en": "lang='en'", "big": "x>=3"}),
    ):
        s = plan_summary(df)
        assert s["python_evals"] == 0
        assert s["broadcasts"] >= 1
        plan = capture_plan(df)
        assert "InArrow" not in plan and "InPandas" not in plan


def test_nested_dsl_plan_stays_compact(spark, idx):
    """The nested-DSL item-composition path must keep its one-aggregate-
    per-level shape: bounded shuffle exchanges and parquet scans for a
    depth-1 two-query batch (the restructure took 117 exchanges / 45
    scans down to ~13 / ~8 — this pins against plan-blowup regressions;
    the checkpointed item plan executes separately and is not in this
    lineage)."""
    import re

    from openmatch_spark.query import search_dsl

    run = search_dsl(idx, {
        "n1": {"bool": {"should": [
            {"bool": {"should": [{"match": {"text": "term0001"}},
                                 {"match": {"text": "term0002"}}],
                      "minimum_should_match": 2}},
            {"match": {"text": "term0003"}},
        ]}},
        "n2": {"bool": {
            "must": [{"bool": {"should": [{"match": {"text": "term0004"}},
                                          {"match": {"text": "term0001"}}]}}],
            "must_not": [{"bool": {"must": [{"match": {"text": "term0002"}}]}}],
        }},
    }, k=10)
    plan = capture_plan(run)
    ex = len(re.findall(r"\bExchange hash", plan))
    sc = plan.count("Scan parquet")
    assert ex <= 20, f"nested-DSL plan regressed to {ex} shuffle exchanges"
    assert sc <= 12, f"nested-DSL plan regressed to {sc} parquet scans"
