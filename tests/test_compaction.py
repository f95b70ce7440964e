"""Segment compaction (index/compact.py) and manifest-gated reads.

The compaction contract: merging shards changes WHERE postings live, never
WHAT a query returns — doc ids, ranks, and float64 scores are identical
before and after. The manifest gate makes uncommitted
or retired segment dirs invisible to readers.
"""

import os
import shutil

import pytest

from openmatch_spark.fixtures import PAGES_SCHEMA, QUERIES_SCHEMA, gen_pages_rows
from openmatch_spark.index import build_index, compact_index, load_index
from openmatch_spark.query import search


def _runs(idx, queries, k=10):
    return sorted(
        (r["query_id"], r["rank"], r["doc_id"], r["score"])
        for r in search(idx, queries, k=k).collect()
    )


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("compact")
    idx_dir = str(tmp / "idx")
    pages = spark.createDataFrame(gen_pages_rows(220), PAGES_SCHEMA)
    build_index(spark, pages, idx_dir, num_shards=5, num_term_buckets=4)
    queries = spark.createDataFrame(
        [("q1", "term0001 term0040"), ("q2", "term0100"), ("q3", "term0007 term0019 term0200")],
        QUERIES_SCHEMA,
    )
    return idx_dir, queries


def test_compact_all_is_search_identical(spark, built):
    idx_dir, queries = built
    before = _runs(load_index(spark, idx_dir), queries)
    res = compact_index(spark, idx_dir)
    assert res["merged"] == [0, 1, 2, 3, 4] and res["new_shard"] == 5

    idx2 = load_index(spark, idx_dir)
    assert idx2.committed_shards() == [5]
    assert _runs(idx2, queries) == before

    # retired segment dirs are physically gone (path mode)
    assert sorted(
        d for d in os.listdir(os.path.join(idx_dir, "postings")) if d.startswith("shard=")
    ) == ["shard=5"]
    # totals preserved
    man = idx2.manifest.collect()
    assert len(man) == 1 and man[0]["n_docs"] == 220
    assert idx2.docmap.count() == 220


def test_compact_subset_then_search(spark, tmp_path):
    idx_dir = str(tmp_path / "idx")
    pages = spark.createDataFrame(gen_pages_rows(150), PAGES_SCHEMA)
    build_index(spark, pages, idx_dir, num_shards=4, num_term_buckets=4)
    queries = spark.createDataFrame([("q", "term0003 term0050")], QUERIES_SCHEMA)
    before = _runs(load_index(spark, idx_dir), queries)

    res = compact_index(spark, idx_dir, shards=[1, 3])
    assert res["merged"] == [1, 3] and res["new_shard"] == 4
    idx2 = load_index(spark, idx_dir)
    assert idx2.committed_shards() == [0, 2, 4]
    assert _runs(idx2, queries) == before
    assert idx2.docmap.count() == 150


def test_compact_validates_inputs(spark, built):
    idx_dir, _ = built
    with pytest.raises(ValueError, match="not in manifest"):
        compact_index(spark, idx_dir, shards=[0, 99])
    with pytest.raises(ValueError, match=">= 2 shards"):
        compact_index(spark, idx_dir, shards=[5])


def test_manifest_gate_hides_uncommitted_shard(spark, tmp_path):
    """Write-then-manifest, read half: a stray shard dir (as left by a build
    or compaction crash between data write and manifest commit) is invisible
    to docmap/postings/search."""
    idx_dir = str(tmp_path / "idx")
    pages = spark.createDataFrame(gen_pages_rows(80), PAGES_SCHEMA)
    build_index(spark, pages, idx_dir, num_shards=2, num_term_buckets=4)
    idx = load_index(spark, idx_dir)
    n_docs, n_blocks = idx.docmap.count(), idx.postings.count()

    # forge an uncommitted segment by cloning shard 0's dirs as shard 9
    for kind in ("docmap", "postings"):
        src = os.path.join(idx_dir, kind, "shard=0")
        dst = os.path.join(idx_dir, kind, "shard=9")
        shutil.copytree(src, dst)

    idx2 = load_index(spark, idx_dir)
    assert idx2.committed_shards() == [0, 1]
    assert idx2.docmap.count() == n_docs  # clone not visible
    assert idx2.postings.count() == n_blocks
    q = spark.createDataFrame([("q", "term0001")], QUERIES_SCHEMA)
    hits = search(idx2, q, k=100).collect()
    assert len({r["doc_id"] for r in hits}) == len(hits)  # no duplicate docs


def test_plan_compaction_tiers():
    """Pure policy function: like-sized segments group, cross-tier pairs
    don't, groups cap at max_merge, smallest merge first."""
    from openmatch_spark.index.compact import plan_compaction

    rows = [
        {"shard": 0, "n_docs": 1_000_000},   # tier 6
        {"shard": 1, "n_docs": 30},          # tier 1
        {"shard": 2, "n_docs": 45},          # tier 1
        {"shard": 3, "n_docs": 12},          # tier 1
        {"shard": 4, "n_docs": 800},         # tier 2
    ]
    plan = plan_compaction(rows, tier_factor=10, min_merge=2, max_merge=2)
    # tier 1 has three members; the two smallest merge, the third waits;
    # the lone tier-2 and tier-6 segments are untouched
    assert plan == [[3, 1]]
    assert plan_compaction([{"shard": 0, "n_docs": 100}]) == []


def test_compact_auto_settles(spark, tmp_path):
    """compact_auto folds a many-small-segment index down and search is
    unchanged."""
    from openmatch_spark.index import compact_auto

    idx_dir = str(tmp_path / "idx")
    pages = spark.createDataFrame(gen_pages_rows(120), PAGES_SCHEMA)
    build_index(spark, pages, idx_dir, num_shards=4, num_term_buckets=4)
    queries = spark.createDataFrame([("q", "term0002 term0030")], QUERIES_SCHEMA)
    before = _runs(load_index(spark, idx_dir), queries)

    results = compact_auto(spark, idx_dir, tier_factor=10, min_merge=2, max_merge=4)
    assert len(results) >= 1
    idx2 = load_index(spark, idx_dir)
    assert len(idx2.committed_shards()) < 4
    assert _runs(idx2, queries) == before
    assert idx2.docmap.count() == 120


def test_compact_table_mode_v1(spark, tmp_path):
    """Compaction in session-catalog (V1) table mode: the merged tables are
    derived FROM the tables being overwritten, which V1 insertInto rejects
    as a self-read-write plan — the staged overwrite (IndexStorage
    stage=True) must route around it and keep search identical."""
    prefix = "spark_catalog.default.om_compact_v1"
    idx_dir = str(tmp_path / "idx_tbl")
    pages = spark.createDataFrame(gen_pages_rows(90), PAGES_SCHEMA)
    try:
        build_index(
            spark, pages, idx_dir, num_shards=3, num_term_buckets=2,
            block_size=16, table_prefix=prefix,
        )
        queries = spark.createDataFrame([("q", "term0004 term0021")], QUERIES_SCHEMA)
        idx = load_index(spark, idx_dir, table_prefix=prefix)
        before = _runs(idx, queries)

        res = compact_index(spark, idx_dir, table_prefix=prefix)
        assert res["merged"] == [0, 1, 2] and res["new_shard"] == 3
        idx2 = load_index(spark, idx_dir, table_prefix=prefix)
        assert idx2.committed_shards() == [3]
        assert _runs(idx2, queries) == before
        assert idx2.docmap.count() == 90
    finally:
        from openmatch_spark.index.storage import KINDS

        for kind in KINDS:
            spark.sql(f"DROP TABLE IF EXISTS {prefix}_{kind}")


def test_compact_preclean_removes_stray_buckets(spark, tmp_path):
    """A crashed compaction's leftover dirs under the next shard id must
    not leak into a later write to that id: the pre-clean removes stray
    (shard, term_bucket) partitions dynamic overwrite would miss."""
    idx_dir = str(tmp_path / "idx")
    pages = spark.createDataFrame(gen_pages_rows(100), PAGES_SCHEMA)
    build_index(spark, pages, idx_dir, num_shards=2, num_term_buckets=4)
    # forge a stray half-written segment under the id compaction will pick
    stray = os.path.join(idx_dir, "postings", "shard=2", "term_bucket=99")
    shutil.copytree(os.path.join(idx_dir, "postings", "shard=0", "term_bucket=0"), stray)

    queries = spark.createDataFrame([("q", "term0002")], QUERIES_SCHEMA)
    before = _runs(load_index(spark, idx_dir), queries)
    res = compact_index(spark, idx_dir)
    assert res["new_shard"] == 2
    # the forged bucket is gone — not resurrected by the manifest commit
    assert not os.path.exists(stray)
    assert _runs(load_index(spark, idx_dir), queries) == before


def test_compact_duplicate_doc_ids(spark, tmp_path):
    """Two segments carrying the SAME doc_id (a url re-ingested later) must
    not fan out in the ordinal remap: scores per returned doc_id are
    unchanged by compaction."""
    from openmatch_spark.fixtures import gen_pages_rows as gen

    idx_dir = str(tmp_path / "idx")
    rows = gen(60)
    # same 60 urls twice -> every doc_id occurs in two shards' worth of data
    pages = spark.createDataFrame(rows + rows, PAGES_SCHEMA)
    build_index(spark, pages, idx_dir, num_shards=3, num_term_buckets=4)
    queries = spark.createDataFrame([("q", "term0001 term0011")], QUERIES_SCHEMA)
    before = _runs(load_index(spark, idx_dir), queries, k=30)
    compact_index(spark, idx_dir)
    after = _runs(load_index(spark, idx_dir), queries, k=30)
    assert after == before


@pytest.mark.parametrize("seed", [5, 17])
def test_random_merge_sequences_preserve_search(spark, tmp_path, seed):
    """Property: ANY sequence of valid merges leaves search results
    bit-identical and totals invariant — the merge order is pure physical
    layout, never semantics."""
    import random

    rng = random.Random(seed)
    n_docs = rng.randrange(80, 140)
    n_shards = rng.choice([3, 4, 5])
    idx_dir = str(tmp_path / f"idx{seed}")
    pages = spark.createDataFrame(gen_pages_rows(n_docs, seed=seed), PAGES_SCHEMA)
    build_index(spark, pages, idx_dir, num_shards=n_shards, num_term_buckets=4)
    queries = spark.createDataFrame(
        [("q1", "term0001 term0008"), ("q2", "term0015")], QUERIES_SCHEMA
    )
    before = _runs(load_index(spark, idx_dir), queries, k=20)
    total_postings = sum(
        r["n_postings"] for r in load_index(spark, idx_dir).manifest.collect()
    )

    for _ in range(2):
        committed = load_index(spark, idx_dir).committed_shards()
        if len(committed) < 2:
            break
        group = rng.sample(committed, rng.randrange(2, len(committed) + 1))
        compact_index(spark, idx_dir, shards=sorted(group))
        idx = load_index(spark, idx_dir)
        assert _runs(idx, queries, k=20) == before
        assert idx.docmap.count() == n_docs
        assert sum(r["n_postings"] for r in idx.manifest.collect()) == total_postings


def test_plan_compaction_properties():
    """Pure-function invariants under randomized manifests: planned groups
    are disjoint, subsets of the input, sized within [min_merge, max_merge],
    and tier-homogeneous (no giant-with-tiny merges)."""
    import random

    from openmatch_spark.index.compact import plan_compaction

    rng = random.Random(99)
    for _ in range(50):
        rows = [
            {"shard": s, "n_docs": rng.choice([1, 7, 42, 300, 5_000, 80_000, 2_000_000])}
            for s in range(rng.randrange(1, 12))
        ]
        mn, mx = 2, rng.randrange(2, 6)
        plan = plan_compaction(rows, tier_factor=10, min_merge=mn, max_merge=mx)
        seen = set()
        size_of = {r["shard"]: r["n_docs"] for r in rows}
        for group in plan:
            assert mn <= len(group) <= mx
            assert not (set(group) & seen)  # disjoint
            seen.update(group)
            assert set(group) <= set(size_of)
            tiers = {len(str(max(size_of[s], 1))) for s in group}
            assert len(tiers) == 1  # tier-homogeneous (power-of-10 tiers)

    import pytest as _pytest

    with _pytest.raises(ValueError, match="tier_factor"):
        plan_compaction([{"shard": 0, "n_docs": 10}], tier_factor=1)
