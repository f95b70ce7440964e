"""Document deletes (tombstones) and upsert — index/deletes.py.

Contract under test:
  * delete_docs masks docs from EVERY query path (BM25 top-k, boolean,
    phrase) without touching postings: survivors' scores are
    bit-identical to the undeleted search filtered post-hoc, and deleted
    docs never consume top-k slots (docs ranked below k surface).
  * delete is idempotent; unknown ids are a no-op, not an error.
  * compact_index physically drops tombstoned docs and purges their
    tombstone rows; plain compaction preserves frozen weights exactly.
  * compact(rebaseline_stats=True) after deletes is bit-identical to a
    fresh build that never saw the deleted docs (scores AND stats).
  * upsert_docs replaces a url's content (old version unsearchable, new
    searchable) and inserts brand-new urls, in one appended segment.
"""

import pytest

from openmatch_spark.fixtures import PAGES_SCHEMA, QUERIES_SCHEMA, gen_pages_rows
from openmatch_spark.index import (
    build_index,
    compact_index,
    delete_docs,
    load_index,
    upsert_docs,
)
from openmatch_spark.index.storage import IndexStorage
from openmatch_spark.query import search


def _collect_run(idx, queries, k=10):
    return sorted(
        (r["query_id"], r["rank"], r["doc_id"], r["score"])
        for r in search(idx, queries, k=k).collect()
    )


def _filter_rerank(full_run, deleted: set, k: int):
    """Oracle: drop deleted docs from an exhaustive run, re-rank, cut to k."""
    by_q: dict = {}
    for qid, _rank, doc, score in full_run:
        if doc not in deleted:
            by_q.setdefault(qid, []).append((doc, score))
    out = []
    for qid, hits in by_q.items():
        hits.sort(key=lambda ds: (-ds[1], ds[0]))
        for r, (doc, score) in enumerate(hits[:k], start=1):
            out.append((qid, r, doc, score))
    return sorted(out)


QUERIES = [
    ("q1", "term0001 term0040"),
    ("q2", "term0100"),
    ("q3", "term0007 term0019 term0002"),
]


@pytest.fixture()
def built(spark, tmp_path):
    idx_dir = str(tmp_path / "idx")
    pages = spark.createDataFrame(gen_pages_rows(200), PAGES_SCHEMA)
    build_index(spark, pages, idx_dir, num_shards=4, num_term_buckets=4)
    queries = spark.createDataFrame(QUERIES, QUERIES_SCHEMA)
    return idx_dir, pages, queries


def test_delete_masks_every_bm25_mode(spark, built):
    idx_dir, _pages, queries = built
    idx = load_index(spark, idx_dir)
    # exhaustive pre-delete run = the oracle's candidate pool (k=200 is
    # the whole 200-doc fixture, so every match is returned)
    full = _collect_run(idx, queries, k=200)
    # delete docs that actually occupy top slots (the adversarial case)
    deleted = sorted({doc for (_q, rank, doc, _s) in full if rank <= 3})
    res = delete_docs(spark, idx_dir, deleted)
    assert res["n_matched"] == len(deleted) == res["n_new"]

    expected = _filter_rerank(full, set(deleted), k=10)
    idx2 = load_index(spark, idx_dir)
    assert _collect_run(idx2, queries, k=10) == expected
    # deleted docs never appear, and freed slots were refilled from below
    assert all(doc not in set(deleted) for (_q, _r, doc, _s) in expected)
    assert len({q for (q, _r, _d, _s) in expected}) == 3


def test_delete_idempotent_and_unknown_ids(spark, built):
    idx_dir, _pages, _queries = built
    some = ["https://site1.example/1", "https://site2.example/2"]
    first = delete_docs(spark, idx_dir, some)
    assert first["n_new"] == 2
    again = delete_docs(spark, idx_dir, some + ["no://such/doc"])
    assert again["n_new"] == 0
    assert again["n_matched"] == 2  # unknown id matched nothing, no error
    store = IndexStorage.resolve(spark, idx_dir)
    assert store.read("deletes").count() == 2


def test_boolean_respects_deletes(spark, built):
    from openmatch_spark.query import search_boolean

    idx_dir, _pages, _queries = built
    bq = spark.createDataFrame(
        [("b1", "term0001", "term0040", None)],
        "query_id string, must string, should string, must_not string",
    )
    idx = load_index(spark, idx_dir)
    before = search_boolean(idx, bq, k=5).collect()
    victim = sorted(before, key=lambda r: r["rank"])[0]["doc_id"]
    delete_docs(spark, idx_dir, [victim])
    after = search_boolean(load_index(spark, idx_dir), bq, k=5).collect()
    assert victim not in {r["doc_id"] for r in after}
    assert len(after) == min(5, len(before))  # slot refilled from below


def test_phrase_respects_deletes(spark, built):
    from openmatch_spark.index import build_positions
    from openmatch_spark.query import search_phrase

    idx_dir, pages, _queries = built
    build_positions(spark, pages, idx_dir)
    idx = load_index(spark, idx_dir)
    # find a phrase that actually occurs: take the first bigram of a doc
    row = pages.orderBy("url").limit(1).collect()[0]
    bigram = " ".join(row["text"].split()[:2])
    pq = spark.createDataFrame([("p1", bigram)], QUERIES_SCHEMA)
    before = search_phrase(idx, pq, k=50).collect()
    assert row["url"] in {r["doc_id"] for r in before}
    delete_docs(spark, idx_dir, [row["url"]])
    after = search_phrase(load_index(spark, idx_dir), pq, k=50).collect()
    assert row["url"] not in {r["doc_id"] for r in after}
    assert {r["doc_id"] for r in after} == {
        r["doc_id"] for r in before if r["doc_id"] != row["url"]
    }


def test_compact_purges_tombstones_and_preserves_scores(spark, built):
    idx_dir, _pages, queries = built
    idx = load_index(spark, idx_dir)
    full = _collect_run(idx, queries, k=200)
    deleted = sorted({doc for (_q, rank, doc, _s) in full if rank == 1})
    delete_docs(spark, idx_dir, deleted)
    masked = _collect_run(load_index(spark, idx_dir), queries, k=10)

    compact_index(spark, idx_dir)  # plain merge: frozen weights preserved
    store = IndexStorage.resolve(spark, idx_dir)
    assert store.read("deletes").count() == 0  # purged with retired shards
    idx2 = load_index(spark, idx_dir)
    assert not idx2.deleted_ords()
    assert idx2.docmap.count() == 200 - len(deleted)  # physically gone
    assert _collect_run(idx2, queries, k=10) == masked  # bit-identical


def test_rebaseline_after_delete_equals_fresh_build(spark, built, tmp_path):
    idx_dir, pages, queries = built
    idx = load_index(spark, idx_dir)
    full = _collect_run(idx, queries, k=200)
    deleted = sorted({doc for (_q, rank, doc, _s) in full if rank <= 2})
    delete_docs(spark, idx_dir, deleted)
    compact_index(spark, idx_dir, rebaseline_stats=True)

    fresh_dir = str(tmp_path / "fresh")
    import pyspark.sql.functions as F

    build_index(
        spark, pages.where(~F.col("url").isin(deleted)), fresh_dir,
        num_shards=4, num_term_buckets=4,
    )
    got = _collect_run(load_index(spark, idx_dir), queries, k=10)
    want = _collect_run(load_index(spark, fresh_dir), queries, k=10)
    assert got == want  # scores bit-identical to a build that never saw them
    s1 = load_index(spark, idx_dir).stats
    s2 = load_index(spark, fresh_dir).stats
    assert s1["n_docs"] == s2["n_docs"] == 200 - len(deleted)
    assert s1["avgdl"] == pytest.approx(s2["avgdl"], rel=0, abs=1e-12)


def test_upsert_replaces_and_inserts(spark, built):
    import datetime

    idx_dir, pages, _queries = built
    target = pages.orderBy("url").limit(1).collect()[0]["url"]
    epoch = datetime.datetime(2024, 6, 1, tzinfo=datetime.timezone.utc)
    new_rows = [
        (target, epoch, b"<html>freshcontent</html>",
         "freshcontent zebra zebra unique", "en"),
        ("https://new.example/brand-new", epoch, b"<html>n</html>",
         "brandnewdoc zebra", "en"),
    ]
    res = upsert_docs(
        spark, spark.createDataFrame(new_rows, PAGES_SCHEMA), idx_dir
    )
    assert res["deleted"]["n_matched"] == 1  # only the existing url matched
    assert res["n_docs"] == 2

    idx = load_index(spark, idx_dir)
    q = spark.createDataFrame([("z", "zebra")], QUERIES_SCHEMA)
    hits = {r["doc_id"] for r in search(idx, q, k=10).collect()}
    assert hits == {target, "https://new.example/brand-new"}
    # the url's OLD content is gone: a term unique to its old text no
    # longer returns it
    old_term = load_index(spark, idx_dir)  # noqa: F841 (readability)
    old_text_term = None
    for t in pages.orderBy("url").limit(1).collect()[0]["text"].split():
        if t.startswith("term"):
            old_text_term = t
            break
    qo = spark.createDataFrame([("o", old_text_term)], QUERIES_SCHEMA)
    assert target not in {
        r["doc_id"] for r in search(idx, qo, k=200).collect()
    }
    # exactly one live occurrence of the url
    import pyspark.sql.functions as F

    live = idx.mask_deleted(idx.docmap.select("shard", "doc_ord", "doc_id"))
    assert live.where(F.col("doc_id") == target).count() == 1
