"""Round-4 query surfaces: wildcard, synonyms, search_after paging,
attribute-filtered search.

Correctness strategy mirrors the expansion suite: degenerate-case identities
against exact search, manual-expansion parity through the shared
search_terms engine, and slice/filter identities against a deep unfiltered
run (which the per-shard kernels must reproduce WITHOUT materializing it).
"""

import pytest

from openmatch_spark.fixtures import PAGES_SCHEMA, QUERIES_SCHEMA, gen_pages_rows
from openmatch_spark.index import build_index, load_index
from openmatch_spark.query import (
    page_cursors,
    search,
    search_after,
    search_filtered,
    search_synonyms,
    search_terms,
    search_wildcard,
)


def _rows(df):
    return sorted(
        (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
        for r in df.collect()
    )


@pytest.fixture(scope="module")
def idx(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("r4b") / "idx")
    pages = spark.createDataFrame(gen_pages_rows(200), PAGES_SCHEMA)
    build_index(spark, pages, d, analyzer="simple", num_shards=4, num_term_buckets=4)
    return load_index(spark, d)


@pytest.fixture(scope="module")
def pages(spark):
    return spark.createDataFrame(gen_pages_rows(200), PAGES_SCHEMA)


# ---------------------------------------------------------------- wildcard


def test_wildcard_no_metachar_equals_exact(spark, idx):
    q = spark.createDataFrame(
        [("q1", "term0001 term0040"), ("q2", "term0100 term0100")], QUERIES_SCHEMA
    )
    assert _rows(search_wildcard(idx, q, k=10, max_expansions=10_000)) == _rows(
        search(idx, q, k=10)
    )


def test_wildcard_matches_manual_expansion(spark, idx):
    """`term001*` == the same variants fed to search_terms by hand."""
    import pyspark.sql.functions as F

    q = spark.createDataFrame([("q1", "term001*")], QUERIES_SCHEMA)
    got = search_wildcard(idx, q, k=20, max_expansions=10_000)
    vocab = (
        idx.dictionary.where(F.col("term").startswith("term001"))
        .select("term", "term_bucket")
        .collect()
    )
    matched = sorted(("q1", r["term"], 1.0, int(r["term_bucket"])) for r in vocab)
    assert _rows(got) == _rows(search_terms(idx, matched, k=20))


def test_wildcard_question_mark_single_char(spark, idx):
    """`?` matches exactly one char: term000? hits term0001..term0009 etc.,
    never term00012-style longer tails (vocab has none, but the pattern also
    must not match term00)."""
    import pyspark.sql.functions as F

    q = spark.createDataFrame([("q1", "term000?")], QUERIES_SCHEMA)
    got = search_wildcard(idx, q, k=50, max_expansions=10_000)
    terms = {
        r["term"]
        for r in idx.dictionary.where(F.col("term").rlike("^term000.$")).collect()
    }
    assert got.count() > 0 and terms  # pattern expanded against real vocab
    # every hit is explained by the regex-equivalent vocabulary
    matched = [
        ("q1", t, 1.0, b)
        for t, b in sorted(
            (r["term"], int(r["term_bucket"]))
            for r in idx.dictionary.where(F.col("term").rlike("^term000.$"))
            .select("term", "term_bucket")
            .collect()
        )
    ]
    assert _rows(got) == _rows(search_terms(idx, matched, k=50))


def test_wildcard_oov_pattern_empty(spark, idx):
    q = spark.createDataFrame([("q1", "zzz*")], QUERIES_SCHEMA)
    assert search_wildcard(idx, q, k=10).count() == 0


def test_wildcard_cap_is_deterministic(spark, idx):
    """max_expansions caps by (df DESC, term ASC): two runs agree."""
    q = spark.createDataFrame([("q1", "term*")], QUERIES_SCHEMA)
    a = _rows(search_wildcard(idx, q, k=10, max_expansions=7))
    b = _rows(search_wildcard(idx, q, k=10, max_expansions=7))
    assert a == b and len(a) > 0


# ---------------------------------------------------------------- synonyms


def test_synonyms_empty_table_equals_exact(spark, idx):
    q = spark.createDataFrame([("q1", "term0001 term0040")], QUERIES_SCHEMA)
    assert _rows(search_synonyms(idx, q, [], k=10)) == _rows(search(idx, q, k=10))


def test_synonyms_weight_math(spark, idx):
    """original qtf + variant qtf*w through the shared engine, by hand."""
    q = spark.createDataFrame([("q1", "term0003 term0003")], QUERIES_SCHEMA)
    syn = [("term0003", "term0009", 0.25)]
    got = search_synonyms(idx, q, syn, k=30)
    b = idx.term_buckets(["term0003", "term0009"])
    manual = [
        ("q1", "term0003", 2.0, b["term0003"]),
        ("q1", "term0009", 2.0 * 0.25, b["term0009"]),
    ]
    assert _rows(got) == _rows(search_terms(idx, manual, k=30))


def test_synonyms_directional_and_oov_variant(spark, idx):
    """mapping is directional; an OOV variant silently drops out."""
    q = spark.createDataFrame([("q1", "term0009")], QUERIES_SCHEMA)
    syn = [("term0003", "term0009", 0.5), ("term0009", "zzznothere", 0.5)]
    assert _rows(search_synonyms(idx, q, syn, k=10)) == _rows(search(idx, q, k=10))


def test_synonyms_dataframe_input(spark, idx):
    q = spark.createDataFrame([("q1", "term0003")], QUERIES_SCHEMA)
    syn_df = spark.createDataFrame(
        [("term0003", "term0009", 0.25)], "term string, variant string, weight double"
    )
    assert _rows(search_synonyms(idx, q, syn_df, k=30)) == _rows(
        search_synonyms(idx, q, [("term0003", "term0009", 0.25)], k=30)
    )


# ---------------------------------------------------------------- paging


def _deep_slice(deep_rows, lo, hi):
    return sorted(
        (r["query_id"], r["rank"] - lo, r["doc_id"], round(r["score"], 9))
        for r in deep_rows
        if lo < r["rank"] <= hi
    )


def test_search_after_pages_equal_deep_slices(spark, idx):
    q = spark.createDataFrame(
        [("q1", "term0001 term0002 term0003"), ("q2", "term0005")], QUERIES_SCHEMA
    )
    deep = search(idx, q, k=15).collect()
    p1 = search_after(idx, q, None, k=5)
    assert _rows(p1) == _deep_slice(deep, 0, 5)
    c1 = page_cursors(p1)
    p2 = search_after(idx, q, c1, k=5)
    assert _rows(p2) == _deep_slice(deep, 5, 10)
    p3 = search_after(idx, q, page_cursors(p2), k=5)
    assert _rows(p3) == _deep_slice(deep, 10, 15)


def test_search_after_score_ties_cross_pages(spark, tmp_path_factory):
    """Duplicate docs produce EXACT score ties; the doc_id tie-break must
    paginate through a tie group that straddles the page boundary."""
    base = gen_pages_rows(40)
    # clone one doc's text into 12 docs -> a 12-way tie for any query
    # hitting only that text
    txt = "tiepage alpha beta gamma"
    rows = []
    for i, r in enumerate(base):
        rec = list(r)
        if i < 12:
            rec[3] = txt
        rows.append(tuple(rec))
    d = str(tmp_path_factory.mktemp("r4b_ties") / "idx")
    pages = spark.createDataFrame(rows, PAGES_SCHEMA)
    build_index(spark, pages, d, analyzer="simple", num_shards=4,
                num_term_buckets=4)
    idx2 = load_index(spark, d)
    q = spark.createDataFrame([("q1", "tiepage")], QUERIES_SCHEMA)
    deep = search(idx2, q, k=12).collect()
    assert len({round(r["score"], 9) for r in deep}) == 1  # all tied
    p1 = search_after(idx2, q, None, k=5)
    p2 = search_after(idx2, q, page_cursors(p1), k=5)
    p3 = search_after(idx2, q, page_cursors(p2), k=5)
    assert _rows(p1) == _deep_slice(deep, 0, 5)
    assert _rows(p2) == _deep_slice(deep, 5, 10)
    assert _rows(p3) == _deep_slice(deep, 10, 12)


# ---------------------------------------------------------------- filtered


@pytest.fixture(scope="module")
def fquery(spark):
    return spark.createDataFrame(
        [("q1", "term0001 term0002 term0003"), ("q2", "term0005")], QUERIES_SCHEMA
    )


def _filter_oracle(idx, q, allowed_set, k):
    deep = search(idx, q, k=10**6).collect()
    exp = {}
    for r in sorted(deep, key=lambda r: (r["query_id"], -r["score"], r["doc_id"])):
        if r["doc_id"] in allowed_set:
            exp.setdefault(r["query_id"], []).append(
                (r["doc_id"], round(r["score"], 9))
            )
    return sorted(
        (qid, i + 1, d, s)
        for qid, hits in exp.items()
        for i, (d, s) in enumerate(hits[:k])
    )


def test_filtered_routes_identical_and_match_oracle(spark, idx, pages, fquery):
    import pyspark.sql.functions as F

    allowed = pages.select(F.col("url").alias("doc_id")).where(
        F.md5("doc_id").substr(1, 1).isin(list("0123456789ab"))
    )
    runs = {
        route: search_filtered(idx, fquery, allowed, k=5, route=route)
        for route in ("keep", "drop", "cogroup")
    }
    got = {route: _rows(df) for route, df in runs.items()}
    assert got["keep"] == got["drop"] == got["cogroup"]
    allowed_set = {r["doc_id"] for r in allowed.collect()}
    assert got["keep"] == _filter_oracle(idx, fquery, allowed_set, 5)
    assert len(got["keep"]) > 0


def test_filtered_scores_are_unfiltered_scores(spark, idx, pages, fquery):
    """Filter context semantics: statistics stay corpus-wide, so a
    surviving doc's score equals its score in the UNfiltered run."""
    import pyspark.sql.functions as F

    allowed = pages.select(F.col("url").alias("doc_id")).limit(50)
    run = search_filtered(idx, fquery, allowed, k=10, route="keep").collect()
    deep = {
        (r["query_id"], r["doc_id"]): round(r["score"], 12)
        for r in search(idx, fquery, k=10**6).collect()
    }
    assert run
    for r in run:
        assert round(r["score"], 12) == deep[(r["query_id"], r["doc_id"])]


def test_filtered_auto_route_and_empty_filter(spark, idx, pages, fquery):
    import pyspark.sql.functions as F

    allowed = pages.select(F.col("url").alias("doc_id")).limit(20)
    auto = search_filtered(idx, fquery, allowed, k=5)  # route=None -> keep
    keep = search_filtered(idx, fquery, allowed, k=5, route="keep")
    assert _rows(auto) == _rows(keep)
    none_allowed = pages.select(F.col("url").alias("doc_id")).where(F.lit(False))
    assert search_filtered(idx, fquery, none_allowed, k=5, route="keep").count() == 0
    assert search_filtered(idx, fquery, none_allowed, k=5, route="cogroup").count() == 0
