"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry is an operator from SURVEY.md §2 implemented by
``openmatch_spark``; ``oracle_sql()`` carries the DuckDB-equivalent ANSI SQL
over the same parquet views. Column names AND types are aligned on both
sides; every float is rounded to 6 dp AFTER ranking so cross-engine
summation-order ulps cannot flip the value hash.

Tokenization in cross-checked queries uses the SQL-expressible "simple"
analyzer (lower + split on [^a-z0-9]+) — identical in Spark JVM regex,
DuckDB regexp_split_to_array, and Python (openmatch_spark/analysis.py).
The reference-exact DPR tokenizer is exercised by pytest against the
pure-Python oracle instead (tests/test_e2e_bm25.py).
"""

from __future__ import annotations

import math as _math
import os
import tempfile
from collections.abc import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

# query/fixture tables route through the Arrow LocalRelation fast path:
# identical rows and schema to spark.createDataFrame(rows, ddl), but
# take()/collect() probes over them run zero Spark jobs (the tuple-list
# path pays one Python-runner task per partition per action)
from openmatch_spark.functions.localrel import local_df as _ldf

# ---------------------------------------------------------------------------
# shared definitions (identical constants on both engines)
# ---------------------------------------------------------------------------

K1, B = 0.9, 0.4
SEED = 42

# inline query set over the documents-table vocabulary; includes a
# duplicate-term query and an OOV term (FIXTURES.md §2 adversarial cases)
QUERIES = [
    ("q0", "spark hash join"),
    ("q1", "window merge sort"),
    ("q2", "the spark spark"),
    ("q3", "stream batch pipeline"),
    ("q4", "nosuchterm spark"),
    ("q5", "scan filter group"),
    ("q6", "vector column"),
    ("q7", "customer order key"),
]

# boolean-structured queries (must / should / must_not free-text roles);
# covers OOV-must (zero hits), role overlap (qtf merge), pure-conjunctive,
# exclusion-only (zero hits), and should-only shapes
BOOL_QUERIES = [
    ("b0", "spark", "hash join", None),
    ("b1", "spark join", None, "window"),
    ("b2", None, "merge sort stream", "the"),
    ("b3", "batch filter", "spark spark", None),
    ("b4", "nosuchterm spark", "join", None),
    ("b5", None, "vector column", "scan filter"),
    ("b6", "group", "group scan", None),
    ("b7", None, None, "spark"),
    ("b8", "customer order key", None, None),
]

# exact-phrase queries over the positional sidecar: bigram, trigrams, a
# duplicate-token phrase, an OOV token (zero hits), and a single-token
# phrase (degenerates to tf)
PHRASE_QUERIES = [
    ("ph0", "table hash"),
    ("ph1", "part filter scan"),
    ("ph2", "customer join window"),
    ("ph3", "merge merge"),
    ("ph4", "nosuchterm join"),
    ("ph5", "spark"),
]

# span_first queries (any token within the first 3 positions); span_not
# include/exclude pairs (occurrence-level negation, pre=post=2)
SPAN_FIRST_QUERIES = [
    ("sf0", "table"),
    ("sf1", "hash join"),
    ("sf2", "nosuchterm"),
]
SPAN_FIRST_END = 3
SPAN_NOT_QUERIES = [
    ("sn0", "join", "merge"),
    ("sn1", "table", "hash"),
    ("sn2", "scan", "nosuchterm"),
]
SPAN_NOT_PRE = 2
SPAN_NOT_POST = 2

# match_phrase_prefix queries: last token is a prefix, earlier tokens
# exact; one zero-expansion tail, one OOV exact token (both zero hits)
PHRASE_PREFIX_QUERIES = [
    ("pp0", "table ha"),
    ("pp1", "part filter sc"),
    ("pp2", "customer zz"),
    ("pp3", "nosuchterm jo"),
]
PHRASE_PREFIX_MAX_EXP = 50

# autocomplete prefixes ('zz' matches no vocabulary term)
SUGGEST_PREFIXES = ["s", "sp", "ha", "c", "zz"]

# fuzzy queries: misspellings within 1 edit of vocabulary terms (same first
# char — the Lucene prefix gate), one exact+fuzzy mix, one all-OOV
FUZZY_QUERIES = [
    ("fz0", "spask"),
    ("fz1", "joim merge"),
    ("fz2", "windoq batch"),
    ("fz3", "zzzzzz"),
]
FUZZY_MAX_EXP = 50

# prefix (trailing-wildcard) queries ranking DOCS (suggest ranks terms)
PREFIX_QUERIES = [
    ("px0", "sp"),
    ("px1", "wind ha"),
    ("px2", "zz"),
]
PREFIX_MAX_EXP = 50

# wildcard patterns (* = any run, ? = one char); one mixed exact+pattern,
# one all-OOV, one leading-wildcard (the expensive-scan shape)
WILD_QUERIES = [
    ("wc0", "spar*"),
    ("wc1", "jo?n merge"),
    ("wc2", "wind* batch"),
    ("wc3", "zzz*"),
    ("wc4", "*ust*"),
]
WILD_MAX_EXP = 50

# regexp patterns (Lucene RegexpQuery: full-term match, Java/RE2 common
# subset); one dot, one alternation+optional group, one char class, one
# unanchored-shape (.*ust.*), one all-OOV
REGEXP_QUERIES = [
    ("re0", "spar.*"),
    ("re1", "jo.n merge"),
    ("re2", "wind(ow|y).*"),
    ("re3", "[bc]atch"),
    ("re4", ".*ust.*"),
    ("re5", "zzz+"),
]
REGEXP_MAX_EXP = 50

# query-side synonym table (term -> variant, directional, weighted)
SYNONYMS = [
    ("spark", "stream", 0.5),
    ("join", "merge", 0.5),
    ("sort", "scan", 0.25),
    ("window", "frame", 1.0),
]

# unordered proximity queries (terms within a token window)
PROX_QUERIES = [
    ("x0", "spark join"),
    ("x1", "window merge sort"),
    ("x2", "customer nosuchterm"),
]
PROX_WITHIN = 6

# ordered proximity (span_near in_order): s0/s1 differ only in token order
SPAN_NEAR_QUERIES = [
    ("s0", "spark join"),
    ("s1", "join spark"),
    ("s2", "window sort merge"),
    ("s3", "customer nosuchterm"),
]
SPAN_NEAR_WITHIN = 8

# span containment (Lucene SpanContaining/SpanWithin over exact-phrase
# spans): (big, little) pairs — strict containment, single-token little,
# self-containment (big == little), and an OOV little (structurally dead)
SPAN_CONTAIN_QUERIES = [
    ("sc0", "part filter scan", "filter scan"),
    ("sc1", "customer join window", "join"),
    ("sc2", "table hash", "table hash"),
    ("sc3", "sort merge", "nosuchterm"),
]

# span_or (Lucene SpanOrQuery over phrase spans): alternative phrase
# lists — multi-token pair, single-token pair, overlapping spans of
# different lengths, an OOV alternative that must drop ALONE, and an
# all-dead query (no rows)
SPAN_OR_QUERIES = [
    ("so0", ["part filter scan", "sort merge"]),
    ("so1", ["join", "merge"]),
    ("so2", ["customer join", "join window"]),
    ("so3", ["spark", "nosuchterm fast"]),
    ("so4", ["nosuchterm", "zzzmissing scan"]),
]

# intervals query (query/intervals.py): all_of over any_of slots —
# iv0/iv1 ordered (gap-capped / unlimited), iv2/iv3 unordered with
# disjoint slot vocabularies, iv4 carries a dead (all-OOV) slot
INTERVAL_SPECS = [
    {"query_id": "iv0", "slots": [["spark"], ["join", "merge"]],
     "ordered": True, "max_gaps": 3},
    {"query_id": "iv1", "slots": [["hash"], ["table"]],
     "ordered": True, "max_gaps": -1},
    {"query_id": "iv2", "slots": [["fast", "slow"], ["scan"], ["row", "line"]],
     "ordered": False, "max_gaps": 4},
    {"query_id": "iv3", "slots": [["window"], ["agg"]],
     "ordered": False, "max_gaps": 0},
    {"query_id": "iv4", "slots": [["spark"], ["nosuchterm"]],
     "ordered": True, "max_gaps": -1},
]

# query_string surface (query/querystring.py): fixed strings covering
# must/should/not roles, a should-phrase + term mix, prefix and fuzzy
# expansion clauses, an OOV-must (zero hits), a boost, an exclusion-only
# string (zero hits), and a must-phrase + term mix
QS_QUERIES = [
    ("qs0", "+spark hash -window"),
    ("qs1", '"part filter scan" merge'),
    ("qs2", "sp* +join"),
    ("qs3", "windoq~1 batch"),
    ("qs4", "+nosuchterm spark"),
    ("qs5", "spark^2 join"),
    ("qs6", "-spark"),
    ("qs7", '+"customer join window" spark'),
]
QS_MAX_EXP = 50

# DSL filter context (query/dsl.py bool.filter): attribute predicates
# over the entry index's stored doc values (lang, n_chars). df0 term,
# df1 range, df2 terms, df3 FILTER-ONLY (match_all shape: score 0, page
# = first 10 by doc_id), df4 must + ids, df5 exists (no-op — lang never
# null in the fixture corpus)
_DSLF_IDS = [f"doc://{i}" for i in range(0, 60, 3)]
DSL_FILTER_QUERIES = {
    "df0": {"bool": {"should": [{"match": {"text": "spark join"}}],
                     "filter": [{"term": {"lang": "en"}}]}},
    "df1": {"bool": {"should": [{"match": {"text": "customer window"}}],
                     "filter": [{"range": {"n_chars": {"gte": 200,
                                                       "lt": 500}}}]}},
    "df2": {"bool": {"should": [{"match": {"text": "hash merge scan"}}],
                     "filter": [{"terms": {"lang": ["de", "fr"]}}]}},
    "df3": {"bool": {"filter": [{"term": {"lang": "en"}},
                                {"range": {"n_chars": {"lt": 150}}}]}},
    "df4": {"bool": {"must": [{"match": {"text": "spark"}}],
                     "filter": [{"ids": {"values": _DSLF_IDS}}]}},
    "df5": {"bool": {"should": [{"match": {"text": "merge"}}],
                     "filter": [{"exists": {"field": "lang"}}]}},
}

# Nested bool on the DSL front door (query/dsl.py item-composition
# path). dn0 nested should-group with its own msm + sibling leaf; dn1
# nested OR-group under must + optional should; dn2 nested AND-group
# under must_not; dn3 nested group carrying its own filter context; dn4
# the must_not filter-only rewrite (attribute exclusion); dn5 depth-3
# nesting with msm at the innermost level.
DSL_NESTED_QUERIES = {
    "dn0": {"bool": {"should": [
        {"bool": {"should": [{"match": {"text": "spark join window"}}],
                  "minimum_should_match": 2}},
        {"match": {"text": "customer"}},
    ]}},
    "dn1": {"bool": {
        "must": [{"bool": {"should": [{"match": {"text": "hash"}},
                                      {"match": {"text": "merge"}}]}}],
        "should": [{"match": {"text": "scan"}}],
    }},
    "dn2": {"bool": {
        "should": [{"match": {"text": "spark"}}],
        "must_not": [{"bool": {"must": [{"match": {"text": "join"}},
                                        {"match": {"text": "window"}}]}}],
    }},
    "dn3": {"bool": {"should": [
        {"bool": {"should": [{"match": {"text": "customer window"}}],
                  "filter": [{"term": {"lang": "en"}}]}},
        {"match": {"text": "merge"}},
    ]}},
    "dn4": {"bool": {
        "should": [{"match": {"text": "spark join"}}],
        "must_not": [{"bool": {"filter": [{"term": {"lang": "en"}}]}}],
    }},
    "dn5": {"bool": {"should": [
        {"bool": {"should": [
            {"bool": {"should": [{"match": {"text": "hash scan"}}],
                      "minimum_should_match": 2}},
            {"match": {"text": "merge"}},
        ]}},
    ]}},
}

# constant_score / match_all on the DSL front door. dc0 top-level
# constant_score page (first 10 by doc_id at the boost); dc1 top-level
# match_all page; dc2 constant_score under must (attribute gate + fixed
# bonus on the BM25 score); dc3 constant_score under must_not
# (exclusion, boost irrelevant); dc4 range-filter constant_score under
# must beside a scoring must.
DSL_CONST_QUERIES = {
    "dc0": {"constant_score": {"filter": {"term": {"lang": "en"}},
                               "boost": 2.5}},
    "dc1": {"match_all": {"boost": 1.5}},
    "dc2": {"bool": {
        "must": [{"constant_score": {"filter": {"term": {"lang": "en"}},
                                     "boost": 3.0}}],
        "should": [{"match": {"text": "spark"}}],
    }},
    "dc3": {"bool": {
        "should": [{"match": {"text": "spark"}}],
        "must_not": [{"constant_score": {
            "filter": {"range": {"n_chars": {"lt": 300}}}, "boost": 9.0}}],
    }},
    "dc4": {"bool": {
        "must": [{"match": {"text": "merge"}},
                 {"constant_score": {
                     "filter": {"range": {"n_chars": {"gte": 200,
                                                      "lt": 500}}},
                     "boost": 0.75}}],
    }},
}

# prefix / wildcard attribute predicates in DSL filter context. dfp0
# prefix; dfp1 '?' single-char wildcard; dfp2 the filter-only zero page
# under a wildcard.
DSL_FILTER_PATTERN_QUERIES = {
    "dfp0": {"bool": {"should": [{"match": {"text": "spark join"}}],
                      "filter": [{"prefix": {"lang": "e"}}]}},
    "dfp1": {"bool": {"should": [{"match": {"text": "customer window"}}],
                      "filter": [{"wildcard": {"lang": "?e"}}]}},
    "dfp2": {"bool": {"filter": [{"wildcard": {"lang": "e?"}},
                                 {"range": {"n_chars": {"lt": 200}}}]}},
}

# Grouped query_string grammar (parentheses / AND / OR / NOT compiled
# onto the nested-bool tree, Lucene classic addClause occur rules). qg0
# OR-group under AND; qg1 NOT over a group; qg2 boosted group (the ^2
# distributes into leaf boosts — exact, power of two); qg3 the classic
# promote quirk "a AND b OR c" = +a +b c.
QS_GROUPED_QUERIES = [
    ("qg0", "(spark OR join) AND customer"),
    ("qg1", "hash AND NOT (merge OR scan)"),
    ("qg2", "(spark join)^2 window"),
    ("qg3", "spark AND merge OR window"),
]

# Multi-field DSL over the fielded index (query/fielded.py
# search_dsl_fielded, title = first 8 tokens / body = rest — the
# dismax/bm25f split). fd0 bool summing across fields; fd1 dis_max over
# the same term in both fields (best_fields shape, per-field stats);
# fd2 must across fields with a nested OR-group; fd3 must_not on the
# OTHER field.
DSL_FIELDED_QUERIES = {
    "fd0": {"bool": {"should": [{"match": {"title": "spark join"}},
                                {"match": {"body": "customer window"}}]}},
    "fd1": {"dis_max": {"queries": [{"match": {"title": "spark"}},
                                    {"match": {"body": "spark"}}],
                        "tie_breaker": 0.4}},
    "fd2": {"bool": {"must": [
        {"match": {"title": "spark"}},
        {"bool": {"should": [{"match": {"body": "hash"}},
                             {"match": {"body": "merge"}}]}},
    ]}},
    "fd3": {"bool": {"should": [{"match": {"title": "merge"}}],
                     "must_not": [{"match": {"body": "scan"}}]}},
}

# filter context on the fielded DSL (union-of-docmaps doc values). ff0
# cross-field bool gated by lang; ff1 constant_score under must (gate +
# fixed bonus); ff2 the must_not filter-only rewrite.
DSL_FIELDED_FILTERED_QUERIES = {
    "ff0": {"bool": {"should": [{"match": {"title": "spark"}},
                                {"match": {"body": "join"}}],
            "filter": [{"term": {"lang": "en"}}]}},
    "ff1": {"bool": {
        "should": [{"match": {"body": "merge"}}],
        "must": [{"constant_score": {"filter": {"terms": {"lang": ["de", "fr"]}},
                                     "boost": 1.5}}],
    }},
    "ff2": {"bool": {
        "should": [{"match": {"title": "hash"}}],
        "must_not": [{"bool": {"filter": [{"term": {"lang": "en"}}]}}],
    }},
}

# explain_dsl: per-clause breakdown on a fixed doc set; root must leaf
# (node 0) + a nested boosted should group (node 1).
_DSL_EXPLAIN_DOCS = [f"doc://{i}" for i in range(40)]
DSL_EXPLAIN_QUERY = {"bool": {
    "must": [{"match": {"text": "spark"}}],
    "should": [{"bool": {"should": [
        {"match": {"text": {"query": "merge", "boost": 2.0}}},
    ]}}],
}}

# multi_match leaves on the fielded DSL (ES's documented decomposition,
# compile-time rewrite): mm0 best_fields with a title^2 boost and
# tie_breaker; mm1 most_fields (per-field scores sum).
DSL_MULTI_MATCH_QUERIES = {
    "mm0": {"multi_match": {"query": "spark hash",
                            "fields": ["title^2", "body"],
                            "type": "best_fields", "tie_breaker": 0.4}},
    "mm1": {"multi_match": {"query": "merge window",
                            "fields": ["title", "body"],
                            "type": "most_fields"}},
}

# dis_max on the DSL front door. dd0 top-level dis_max (one multi-token
# branch that sums INSIDE the branch, one single-term branch, tie_breaker
# 0.3); dd1 a bool branch (AND of two terms) against a leaf at
# tie_breaker 0.5; dd2 dis_max composed as one should clause of a bool.
DSL_DISMAX_QUERIES = {
    "dd0": {"dis_max": {
        "queries": [{"match": {"text": "spark join"}},
                    {"match": {"text": "customer"}}],
        "tie_breaker": 0.3,
    }},
    "dd1": {"dis_max": {
        "queries": [{"bool": {"must": [{"match": {"text": "hash"}},
                                       {"match": {"text": "merge"}}]}},
                    {"match": {"text": "scan"}}],
        "tie_breaker": 0.5,
    }},
    "dd2": {"bool": {"should": [
        {"dis_max": {"queries": [{"match": {"text": "spark"}},
                                 {"match": {"text": "window"}}]}},
        {"match": {"text": "merge"}},
    ]}},
}

# simple_query_string surface (query/simpleqs.py), default_operator 'or',
# flags ALL: OR junction of branches (whitespace = OR), '+' AND-run, a
# phrase branch with a lifted global negation, prefix|fuzzy branches, an
# OOV-killed single branch (no rows), an OOV branch that dies ALONE, an
# exclusion-only string (no rows), a multi-token segment ('hash-table' —
# one group unit matching either token), a phrase+term branch sum, and a
# run-local negation that must NOT leak to the sibling branch
SQS_QUERIES = [
    ("sq0", "spark | merge"),
    ("sq1", "spark + join"),
    ("sq2", '"part filter scan" -window'),
    ("sq3", "sp* | windoq~1"),
    ("sq4", "nosuchterm + spark"),
    ("sq5", "spark + nosuchterm | join"),
    ("sq6", "-spark"),
    ("sq7", "hash-table join"),
    ("sq8", '"sort merge" scan'),
    ("sq9", "merge + -window | hash"),
]

EN_STOP = ["the", "and", "of", "to", "in", "is", "that", "for", "with", "a"]
DE_STOP = ["der", "die", "und", "das", "ist", "nicht", "mit", "ein", "zu", "den"]
FR_STOP = ["le", "la", "et", "les", "des", "est", "pas", "pour", "une", "que"]
ES_STOP = ["el", "la", "de", "que", "y", "los", "es", "en", "un", "por"]


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))


def _queries_df(spark: SparkSession) -> DataFrame:
    return _ldf(spark, QUERIES, "query_id string, text string")


def _qrels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic synthetic qrels: query i is 'relevant' to docs with
    doc_id % 83 == (7*i + 3) % 83 — derivable identically in SQL."""
    docs = _docs(spark, sf_dir).select(F.col("doc_id"))
    q = _ldf(spark, 
        [(qid, i) for i, (qid, _) in enumerate(QUERIES)], "query_id string, qidx int"
    )
    return (
        q.crossJoin(docs)
        .where(F.col("doc_id") % 83 == (7 * F.col("qidx") + 3) % 83)
        .select(
            "query_id",
            F.col("doc_id").cast("string").alias("doc_id"),
            (F.col("doc_id") % 3 + 1).cast("int").alias("rel"),
        )
    )


def _bm25_run(spark: SparkSession, sf_dir: str, k: int = 10, rounded: bool = True) -> DataFrame:
    from openmatch_spark.query.bm25_df import bm25_score_adhoc

    return bm25_score_adhoc(
        _docs(spark, sf_dir),
        _queries_df(spark),
        k=k,
        analyzer="simple",
        round_to=6 if rounded else None,
    )


# ---------------------------------------------------------------------------
# SQL prelude shared by the oracle queries
# ---------------------------------------------------------------------------

_Q_VALUES = ", ".join(f"('{qid}', '{text}')" for qid, text in QUERIES)
_Q_IDX_VALUES = ", ".join(
    f"('{qid}', {i})" for i, (qid, _) in enumerate(QUERIES)
)

_TOK = """
tok AS (
  SELECT CAST(d.doc_id AS VARCHAR) AS doc_id, t.term
  FROM documents d, UNNEST(regexp_split_to_array(lower(d.text), '[^a-z0-9]+')) AS t(term)
  WHERE t.term <> ''
)"""

# the standard query-side scoring group (q VALUES -> qtok -> qt ->
# scored) shared by the BM25 CTE prelude and the snippet/highlight
# oracles — one definition, one formula
_Q_SCORED_CTES = f"""q(query_id, text) AS (VALUES {_Q_VALUES}),
qtok AS (
  SELECT q.query_id, t.term
  FROM q, UNNEST(regexp_split_to_array(lower(q.text), '[^a-z0-9]+')) AS t(term)
  WHERE t.term <> ''
),
qt AS (SELECT query_id, term, CAST(COUNT(*) AS DOUBLE) AS qtf FROM qtok GROUP BY query_id, term),
scored AS (
  SELECT qt.query_id, tf.doc_id,
         SUM(qt.qtf
             * ln(1 + (g.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
             * tf.tf / (tf.tf + {K1} * (1 - {B} + {B} * dl.doclen / g.avgdl))) AS score
  FROM tf
  JOIN qt ON qt.term = tf.term
  JOIN dl ON dl.doc_id = tf.doc_id
  JOIN dfreq ON dfreq.term = tf.term
  CROSS JOIN g
  GROUP BY qt.query_id, tf.doc_id
)"""

_BM25_CTES = f"""
{_TOK},
tf AS (SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf FROM tok GROUP BY doc_id, term),
dl AS (SELECT doc_id, CAST(COUNT(*) AS DOUBLE) AS doclen FROM tok GROUP BY doc_id),
g AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(doclen) AS avgdl FROM dl),
dfreq AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY term),
{_Q_SCORED_CTES},
run AS (
  SELECT query_id, doc_id, score,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS INTEGER) AS rank
  FROM scored
)"""

_BM25_TOPK_SQL = f"""
WITH {_BM25_CTES}
SELECT query_id, doc_id, ROUND(score, 6) AS score, rank
FROM run WHERE rank <= 10
"""

# tombstone-delete oracle: statistics stay frozen over the FULL corpus
# (scored is unchanged); deleted docs are only excluded from RANKING —
# exactly the engine's liveDocs semantic before a rebaseline.
_BM25_DELETED_SQL = f"""
WITH {_BM25_CTES}
SELECT query_id, doc_id, ROUND(score, 6) AS score, rank FROM (
  SELECT query_id, doc_id, score,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS INTEGER) AS rank
  FROM scored
  WHERE CAST(doc_id AS BIGINT) % 7 <> 2
) WHERE rank <= 10
"""

# upsert oracle: plain BM25 from scratch over the MODIFIED corpus (docs with
# doc_id % 5 == 0 carry one extra ' upserted' token) — the engine must land
# here through tombstone + appended segment + rebaselining merge.
_TOK_UPSERT = """
tok AS (
  SELECT CAST(d.doc_id AS VARCHAR) AS doc_id, t.term
  FROM (
    SELECT doc_id,
           CASE WHEN doc_id % 5 = 0 THEN text || ' upserted' ELSE text END AS text
    FROM documents
  ) d, UNNEST(regexp_split_to_array(lower(d.text), '[^a-z0-9]+')) AS t(term)
  WHERE t.term <> ''
)"""

_BM25_UPSERTED_SQL = f"""
WITH {_BM25_CTES.replace(_TOK, _TOK_UPSERT)}
SELECT query_id, doc_id, ROUND(score, 6) AS score, rank
FROM run WHERE rank <= 10
"""

# term-expansion oracles (query/expand.py): variants from the vocabulary
# under the same predicates and the same deterministic per-token cap
# (edits ASC, df DESC, term ASC), weight qtf/(1+edits) (prefix: qtf),
# weights summed per (query, variant), then plain BM25 over the variants.
_FUZZY_Q_VALUES = ", ".join(f"('{q}', '{t}')" for q, t in FUZZY_QUERIES)
_PREFIX_Q_VALUES = ", ".join(f"('{q}', '{t}')" for q, t in PREFIX_QUERIES)

_EXPAND_PRELUDE = f"""
{_TOK},
tf AS (SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf FROM tok GROUP BY doc_id, term),
dl AS (SELECT doc_id, CAST(COUNT(*) AS DOUBLE) AS doclen FROM tok GROUP BY doc_id),
g AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(doclen) AS avgdl FROM dl),
dfreq AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY term)"""

_EXPAND_TAIL = f"""
wscored AS (
  SELECT w.query_id, tf.doc_id,
         SUM(w.wgt
             * ln(1 + (g.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
             * tf.tf / (tf.tf + {K1} * (1 - {B} + {B} * dl.doclen / g.avgdl))) AS score
  FROM tf
  JOIN wterms w ON w.term = tf.term
  JOIN dl ON dl.doc_id = tf.doc_id
  JOIN dfreq ON dfreq.term = tf.term
  CROSS JOIN g
  GROUP BY w.query_id, tf.doc_id
),
wrun AS (
  SELECT query_id, doc_id, score,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS INTEGER) AS rank
  FROM wscored
)
SELECT query_id, doc_id, ROUND(score, 6) AS score, rank
FROM wrun WHERE rank <= 10"""

_FUZZY_SQL = f"""
WITH {_EXPAND_PRELUDE},
fq(query_id, text) AS (VALUES {_FUZZY_Q_VALUES}),
fqtok AS (
  SELECT fq.query_id, t.term AS qterm
  FROM fq, UNNEST(regexp_split_to_array(lower(fq.text), '[^a-z0-9]+')) AS t(term)
  WHERE t.term <> ''
),
fqt AS (SELECT query_id, qterm, CAST(COUNT(*) AS DOUBLE) AS qtf FROM fqtok GROUP BY query_id, qterm),
cand AS (
  SELECT v.qterm, d.term, levenshtein(d.term, v.qterm) AS ed, d.df
  FROM dfreq d
  JOIN (SELECT DISTINCT qterm FROM fqt) v
    ON substr(d.term, 1, 1) = substr(v.qterm, 1, 1)
   AND abs(len(d.term) - len(v.qterm)) <= 1
   AND levenshtein(d.term, v.qterm) <= 1
),
capped AS (
  SELECT qterm, term, ed FROM (
    SELECT qterm, term, ed,
           ROW_NUMBER() OVER (PARTITION BY qterm ORDER BY ed ASC, df DESC, term ASC) AS r
    FROM cand
  ) WHERE r <= {FUZZY_MAX_EXP}
),
wterms AS (
  SELECT fqt.query_id, capped.term, SUM(fqt.qtf / (1 + capped.ed)) AS wgt
  FROM fqt JOIN capped ON capped.qterm = fqt.qterm
  GROUP BY fqt.query_id, capped.term
),
{_EXPAND_TAIL}
"""

_PREFIX_SQL = f"""
WITH {_EXPAND_PRELUDE},
pq(query_id, text) AS (VALUES {_PREFIX_Q_VALUES}),
pqtok AS (
  SELECT pq.query_id, t.term AS qterm
  FROM pq, UNNEST(regexp_split_to_array(lower(pq.text), '[^a-z0-9]+')) AS t(term)
  WHERE t.term <> ''
),
pqt AS (SELECT query_id, qterm, CAST(COUNT(*) AS DOUBLE) AS qtf FROM pqtok GROUP BY query_id, qterm),
cand AS (
  SELECT v.qterm, d.term, d.df
  FROM dfreq d
  JOIN (SELECT DISTINCT qterm FROM pqt) v ON d.term LIKE v.qterm || '%'
),
capped AS (
  SELECT qterm, term FROM (
    SELECT qterm, term,
           ROW_NUMBER() OVER (PARTITION BY qterm ORDER BY df DESC, term ASC) AS r
    FROM cand
  ) WHERE r <= {PREFIX_MAX_EXP}
),
wterms AS (
  SELECT pqt.query_id, capped.term, SUM(pqt.qtf) AS wgt
  FROM pqt JOIN capped ON capped.qterm = pqt.qterm
  GROUP BY pqt.query_id, capped.term
),
{_EXPAND_TAIL}
"""


# wildcard oracle (query/expand.py search_wildcard): patterns tokenize by
# whitespace + keep [a-z0-9*?], translate * -> % and ? -> _, match the
# vocabulary with LIKE, cap per pattern by (df DESC, term ASC), weight qtf,
# then plain BM25 over the variants — the engine's exact pipeline from
# first principles.
_WILD_Q_VALUES = ", ".join(f"('{q}', '{t}')" for q, t in WILD_QUERIES)
_WILDCARD_SQL = f"""
WITH {_EXPAND_PRELUDE},
wq(query_id, text) AS (VALUES {_WILD_Q_VALUES}),
wtok AS (
  SELECT wq.query_id,
         regexp_replace(lower(t.tk), '[^a-z0-9*?]+', '', 'g') AS rawpat
  FROM wq, UNNEST(regexp_split_to_array(wq.text, '\\s+')) AS t(tk)
),
wpat AS (
  SELECT query_id, replace(replace(rawpat, '*', '%'), '?', '_') AS pat,
         CAST(COUNT(*) AS DOUBLE) AS qtf
  FROM wtok WHERE rawpat <> '' GROUP BY query_id, rawpat
),
cand AS (
  SELECT v.pat, d.term, d.df
  FROM dfreq d JOIN (SELECT DISTINCT pat FROM wpat) v ON d.term LIKE v.pat
),
capped AS (
  SELECT pat, term FROM (
    SELECT pat, term,
           ROW_NUMBER() OVER (PARTITION BY pat ORDER BY df DESC, term ASC) AS r
    FROM cand
  ) WHERE r <= {WILD_MAX_EXP}
),
wterms AS (
  SELECT wpat.query_id, capped.term, SUM(wpat.qtf) AS wgt
  FROM wpat JOIN capped ON capped.pat = wpat.pat
  GROUP BY wpat.query_id, capped.term
),
{_EXPAND_TAIL}
"""

# regexp oracle (query/expand.py search_regexp): patterns tokenize by
# whitespace + lowercase + keep the Java/RE2-common charset, match the
# ENTIRE vocabulary term (anchored non-capturing group, Lucene semantics),
# cap per pattern by (df DESC, term ASC), weight qtf, then plain BM25 over
# the variants — the engine's exact pipeline from first principles.
_REGEXP_Q_VALUES = ", ".join(f"('{q}', '{t}')" for q, t in REGEXP_QUERIES)
_REGEXP_SQL = f"""
WITH {_EXPAND_PRELUDE},
rq(query_id, text) AS (VALUES {_REGEXP_Q_VALUES}),
rtok AS (
  SELECT rq.query_id,
         regexp_replace(lower(t.tk), '[^a-z0-9.*+?\\[\\](){{}}|,\\-]+', '', 'g') AS pat
  FROM rq, UNNEST(regexp_split_to_array(rq.text, '\\s+')) AS t(tk)
),
rpat AS (
  SELECT query_id, pat, CAST(COUNT(*) AS DOUBLE) AS qtf
  FROM rtok WHERE pat <> '' GROUP BY query_id, pat
),
cand AS (
  SELECT v.pat, d.term, d.df
  FROM dfreq d JOIN (SELECT DISTINCT pat FROM rpat) v
    ON regexp_matches(d.term, '^(?:' || v.pat || ')$')
),
capped AS (
  SELECT pat, term FROM (
    SELECT pat, term,
           ROW_NUMBER() OVER (PARTITION BY pat ORDER BY df DESC, term ASC) AS r
    FROM cand
  ) WHERE r <= {REGEXP_MAX_EXP}
),
wterms AS (
  SELECT rpat.query_id, capped.term, SUM(rpat.qtf) AS wgt
  FROM rpat JOIN capped ON capped.pat = rpat.pat
  GROUP BY rpat.query_id, capped.term
),
{_EXPAND_TAIL}
"""

# synonym oracle (query/expand.py search_synonyms): weight = original qtf
# plus qtf x weight per directional synonym row, summed per (query, term);
# OOV variants drop at the tf join exactly like the engine's vocab lookup.
_SYN_VALUES = ", ".join(f"('{t}', '{v}', {w})" for t, v, w in SYNONYMS)
_SYNONYM_SQL = f"""
WITH {_EXPAND_PRELUDE},
sq(query_id, text) AS (VALUES {_Q_VALUES}),
sqtok AS (
  SELECT sq.query_id, t.term
  FROM sq, UNNEST(regexp_split_to_array(lower(sq.text), '[^a-z0-9]+')) AS t(term)
  WHERE t.term <> ''
),
sqt AS (SELECT query_id, term, CAST(COUNT(*) AS DOUBLE) AS qtf FROM sqtok GROUP BY query_id, term),
syn(term, variant, weight) AS (VALUES {_SYN_VALUES}),
wterms AS (
  SELECT query_id, term, SUM(w) AS wgt FROM (
    SELECT query_id, term, qtf AS w FROM sqt
    UNION ALL
    SELECT sqt.query_id, s.variant AS term, sqt.qtf * s.weight AS w
    FROM sqt JOIN syn s ON s.term = sqt.term
  ) GROUP BY query_id, term
),
{_EXPAND_TAIL}
"""

# search_after oracle: page 2 of the deterministic total order IS ranks
# 6..10 of the deep run, re-based to 1 — the engine must land there through
# cursor-restricted kernels without ever materializing the deep run.
_SEARCH_AFTER_SQL = f"""
WITH {_BM25_CTES}
SELECT query_id, doc_id, ROUND(score, 6) AS score,
       CAST(rank - 5 AS INTEGER) AS rank
FROM run WHERE rank > 5 AND rank <= 10
"""

# filtered-search oracle: Lucene filter-context semantics — statistics stay
# corpus-wide (scored is the UNfiltered CTE), only RANKING is restricted to
# docs passing the attribute predicate (lang = 'en').
_FILTERED_SQL = f"""
WITH {_BM25_CTES},
frun AS (
  SELECT s.query_id, s.doc_id, s.score,
         CAST(ROW_NUMBER() OVER (PARTITION BY s.query_id ORDER BY s.score DESC, s.doc_id ASC) AS INTEGER) AS rank
  FROM scored s
  JOIN documents d ON CAST(d.doc_id AS VARCHAR) = s.doc_id
  WHERE d.lang = 'en'
)
SELECT query_id, doc_id, ROUND(score, 6) AS score, rank
FROM frun WHERE rank <= 10
"""


# passage-chunked MaxP oracle (operators/chunking.py): overlapping token
# windows (size 16, stride 8) form a passage corpus with ITS OWN statistics
# (N = #passages, passage avgdl); BM25 ranks passages, each doc scores as
# the max over its passages (Dai & Callan MaxP), deterministic final rank.
PASSAGE_SIZE, PASSAGE_STRIDE = 16, 8
_PASSAGE_MAXP_SQL = f"""
WITH base AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
  FROM documents
),
starts AS (
  SELECT doc_id, toks, gs.s
  FROM base, UNNEST(generate_series(0, len(toks) - 1, {PASSAGE_STRIDE})) AS gs(s)
  WHERE len(toks) > 0
),
ptok AS (
  SELECT doc_id || '#' || CAST(s // {PASSAGE_STRIDE} AS VARCHAR) AS pid,
         doc_id AS parent, t.term
  FROM starts, UNNEST(list_slice(toks, s + 1, s + {PASSAGE_SIZE})) AS t(term)
),
ptf AS (SELECT pid, parent, term, CAST(COUNT(*) AS DOUBLE) AS tf FROM ptok GROUP BY pid, parent, term),
pdl AS (SELECT pid, CAST(COUNT(*) AS DOUBLE) AS doclen FROM ptok GROUP BY pid),
pg AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(doclen) AS avgdl FROM pdl),
pdf AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM ptf GROUP BY term),
pq(query_id, text) AS (VALUES {_Q_VALUES}),
pqtok AS (
  SELECT pq.query_id, t.term
  FROM pq, UNNEST(regexp_split_to_array(lower(pq.text), '[^a-z0-9]+')) AS t(term)
  WHERE t.term <> ''
),
pqt AS (SELECT query_id, term, CAST(COUNT(*) AS DOUBLE) AS qtf FROM pqtok GROUP BY query_id, term),
scoredp AS (
  SELECT pqt.query_id, ptf.pid, ptf.parent,
         SUM(pqt.qtf
             * ln(1 + (pg.n_docs - pdf.df + 0.5) / (pdf.df + 0.5))
             * ptf.tf / (ptf.tf + {K1} * (1 - {B} + {B} * pdl.doclen / pg.avgdl))) AS score
  FROM ptf
  JOIN pqt ON pqt.term = ptf.term
  JOIN pdl ON pdl.pid = ptf.pid
  JOIN pdf ON pdf.term = ptf.term
  CROSS JOIN pg
  GROUP BY pqt.query_id, ptf.pid, ptf.parent
),
maxp AS (SELECT query_id, parent AS doc_id, ROUND(MAX(score), 6) AS score FROM scoredp GROUP BY query_id, parent),
prun AS (
  SELECT query_id, doc_id, score,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS INTEGER) AS rank
  FROM maxp
)
SELECT query_id, doc_id, score, rank
FROM prun WHERE rank <= 10
"""


# Dirichlet query-likelihood oracle (functions/bm25.py qld_weight_col):
# per matched (term, doc), w = max(0, ln(1 + tf/(mu*cf/|C|)) + ln(mu/(dl+mu)));
# zero-clamped contributions are dropped (the indexed path carries no posting
# for them), score = sum of qtf-weighted positive contributions.
_QLD_MU = 1000.0
_QLD_SQL = f"""
WITH {_TOK},
tf AS (SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf FROM tok GROUP BY doc_id, term),
dl AS (SELECT doc_id, CAST(COUNT(*) AS DOUBLE) AS doclen FROM tok GROUP BY doc_id),
tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS total FROM tok),
cfreq AS (SELECT term, SUM(tf) AS cf FROM tf GROUP BY term),
q(query_id, text) AS (VALUES {_Q_VALUES}),
qtok AS (
  SELECT q.query_id, t.term
  FROM q, UNNEST(regexp_split_to_array(lower(q.text), '[^a-z0-9]+')) AS t(term)
  WHERE t.term <> ''
),
qt AS (SELECT query_id, term, CAST(COUNT(*) AS DOUBLE) AS qtf FROM qtok GROUP BY query_id, term),
contrib AS (
  SELECT qt.query_id, tf.doc_id,
         qt.qtf * greatest(0, ln(1 + tf.tf / ({_QLD_MU} * cfreq.cf / tot.total))
                              + ln({_QLD_MU} / (dl.doclen + {_QLD_MU}))) AS w
  FROM tf
  JOIN qt ON qt.term = tf.term
  JOIN dl ON dl.doc_id = tf.doc_id
  JOIN cfreq ON cfreq.term = tf.term
  CROSS JOIN tot
),
qscored AS (
  SELECT query_id, doc_id, SUM(w) AS score FROM contrib WHERE w > 0
  GROUP BY query_id, doc_id
),
qrun AS (
  SELECT query_id, doc_id, score,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS INTEGER) AS rank
  FROM qscored
)
SELECT query_id, doc_id, ROUND(score, 6) AS score, rank
FROM qrun WHERE rank <= 10
"""


def _sql_str(v):
    return "NULL" if v is None else f"'{v}'"


_BQ_VALUES = ", ".join(
    f"('{qid}', {_sql_str(m)}, {_sql_str(s)}, {_sql_str(n)})"
    for qid, m, s, n in BOOL_QUERIES
)

# boolean BM25 replica: role-combined qtf, required-count AND semantics
# (counted BEFORE the vocabulary join so an OOV MUST is unsatisfiable),
# NOT EXISTS exclusion, rank on raw score then round
_BM25_BOOLEAN_SQL = f"""
WITH {_TOK},
tf AS (SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf FROM tok GROUP BY doc_id, term),
dl AS (SELECT doc_id, CAST(COUNT(*) AS DOUBLE) AS doclen FROM tok GROUP BY doc_id),
g AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(doclen) AS avgdl FROM dl),
dfreq AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY term),
bq(query_id, must, should, must_not) AS (VALUES {_BQ_VALUES}),
roletok AS (
  SELECT bq.query_id, t.term, 1 AS is_must
  FROM bq, UNNEST(regexp_split_to_array(lower(coalesce(bq.must, '')), '[^a-z0-9]+')) AS t(term)
  WHERE t.term <> ''
  UNION ALL
  SELECT bq.query_id, t.term, 0
  FROM bq, UNNEST(regexp_split_to_array(lower(coalesce(bq.should, '')), '[^a-z0-9]+')) AS t(term)
  WHERE t.term <> ''
),
qscore AS (
  SELECT query_id, term, CAST(COUNT(*) AS DOUBLE) AS qtf, MAX(is_must) AS is_must
  FROM roletok GROUP BY query_id, term
),
qreq AS (
  SELECT query_id, COUNT(DISTINCT term) AS n_required FROM (
    SELECT bq.query_id, t.term
    FROM bq, UNNEST(regexp_split_to_array(lower(coalesce(bq.must, '')), '[^a-z0-9]+')) AS t(term)
    WHERE t.term <> ''
  ) GROUP BY query_id
),
qnot AS (
  SELECT DISTINCT bq.query_id, t.term
  FROM bq, UNNEST(regexp_split_to_array(lower(coalesce(bq.must_not, '')), '[^a-z0-9]+')) AS t(term)
  WHERE t.term <> ''
),
cand AS (
  SELECT qs.query_id, tf.doc_id,
         SUM(qs.qtf
             * ln(1 + (g.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
             * tf.tf / (tf.tf + {K1} * (1 - {B} + {B} * dl.doclen / g.avgdl))) AS score,
         SUM(qs.is_must) AS n_must
  FROM tf
  JOIN qscore qs ON qs.term = tf.term
  JOIN dl ON dl.doc_id = tf.doc_id
  JOIN dfreq ON dfreq.term = tf.term
  CROSS JOIN g
  GROUP BY qs.query_id, tf.doc_id
),
filtered AS (
  SELECT c.query_id, c.doc_id, c.score
  FROM cand c
  LEFT JOIN qreq r ON r.query_id = c.query_id
  WHERE c.n_must = COALESCE(r.n_required, 0)
    AND NOT EXISTS (
      SELECT 1 FROM qnot n JOIN tok k ON k.term = n.term
      WHERE n.query_id = c.query_id AND k.doc_id = c.doc_id
    )
),
brun AS (
  SELECT query_id, doc_id, score,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS INTEGER) AS rank
  FROM filtered
)
SELECT query_id, doc_id, ROUND(score, 6) AS score, rank
FROM brun WHERE rank <= 10
"""

_PH_VALUES = ", ".join(f"('{qid}', '{text}')" for qid, text in PHRASE_QUERIES)
_PX_VALUES = ", ".join(f"('{qid}', '{text}')" for qid, text in PROX_QUERIES)
_SPANF_VALUES = ", ".join(
    f"('{qid}', '{text}')" for qid, text in SPAN_FIRST_QUERIES
)
_SPANN_VALUES = ", ".join(
    f"('{qid}', '{inc}', '{exc}')" for qid, inc, exc in SPAN_NOT_QUERIES
)
_SPAN_VALUES = ", ".join(
    f"('{qid}', '{text}')" for qid, text in SPAN_NEAR_QUERIES
)
_SPANC_VALUES = ", ".join(
    f"('{qid}', '{big}', '{little}')"
    for qid, big, little in SPAN_CONTAIN_QUERIES
)
# span_or expanded to one row per (query, alternative-index, text)
_SPANOR_VALUES = ", ".join(
    f"('{qid}', {i}, '{text}')"
    for qid, alts in SPAN_OR_QUERIES
    for i, text in enumerate(alts)
)
# intervals specs expanded to one row per (query, slot, alternative);
# slots are 1-based to match the recursive embedding's slot = 1 seed
_IV_ORD_VALUES = ", ".join(
    f"('{s['query_id']}', {j + 1}, '{t}', {len(s['slots'])}, {s['max_gaps']})"
    for s in INTERVAL_SPECS if s["ordered"]
    for j, alts in enumerate(s["slots"])
    for t in alts
)
_IV_UNORD_VALUES = ", ".join(
    f"('{s['query_id']}', {j + 1}, '{t}', {len(s['slots'])}, {s['max_gaps']})"
    for s in INTERVAL_SPECS if not s["ordered"]
    for j, alts in enumerate(s["slots"])
    for t in alts
)

# positional tokenization: DuckDB v1.0 has no UNNEST WITH ORDINALITY, so
# subscripts come from generate_series over the FILTERED token list —
# positions therefore index the same empty-free sequence the engine's
# posexplode(terms) produces
_TOKP = """
docs_toks AS (
  SELECT CAST(d.doc_id AS VARCHAR) AS doc_id,
         list_filter(regexp_split_to_array(lower(d.text), '[^a-z0-9]+'), x -> x <> '') AS toks
  FROM documents d
),
tokp AS (
  SELECT doc_id, CAST(u.i - 1 AS BIGINT) AS pos, toks[u.i] AS term
  FROM docs_toks, UNNEST(generate_series(1, len(toks))) AS u(i)
),
tok AS (SELECT doc_id, term FROM tokp)"""

_BM25_CORE = f"""
tf AS (SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf FROM tok GROUP BY doc_id, term),
dl AS (SELECT doc_id, CAST(COUNT(*) AS DOUBLE) AS doclen FROM tok GROUP BY doc_id),
g AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(doclen) AS avgdl FROM dl),
dfreq AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY term)"""

_PP_VALUES = ", ".join(
    f"('{qid}', '{text}')" for qid, text in PHRASE_PREFIX_QUERIES
)

# match_phrase_prefix oracle: exact offsets as in the phrase oracle, the
# final slot filled by the capped (df DESC, term ASC) prefix expansion;
# an occurrence needs every exact offset AND some expansion at the tail.
# OOV exact tokens die structurally (n_ex counts matched offsets against
# the PRE-vocabulary exact count). Scored by BM25 over the exact tokens.
_PHRASE_PREFIX_SQL = f"""
WITH {_TOKP},
{_BM25_CORE},
ppq(query_id, text) AS (VALUES {_PP_VALUES}),
ppq_toks AS (
  SELECT query_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
  FROM ppq
),
pterm AS (
  SELECT query_id, CAST(u.i - 1 AS BIGINT) AS off, toks[u.i] AS term
  FROM ppq_toks, UNNEST(generate_series(1, len(toks) - 1)) AS u(i)
),
ppfx AS (
  SELECT query_id, toks[len(toks)] AS pfx, CAST(len(toks) - 1 AS BIGINT) AS last_off
  FROM ppq_toks
),
exp AS (
  SELECT p.query_id, c.term, p.last_off AS off
  FROM ppfx p JOIN (
    SELECT qterm, term FROM (
      SELECT v.pfx AS qterm, d.term,
             ROW_NUMBER() OVER (PARTITION BY v.pfx ORDER BY d.df DESC, d.term ASC) AS r
      FROM dfreq d JOIN (SELECT DISTINCT pfx FROM ppfx) v ON d.term LIKE v.pfx || '%'
    ) WHERE r <= {PHRASE_PREFIX_MAX_EXP}
  ) c ON c.qterm = p.pfx
),
comb AS (
  SELECT query_id, term, off, 0 AS is_exp FROM pterm
  UNION ALL
  SELECT query_id, term, off, 1 AS is_exp FROM exp
),
nex AS (SELECT query_id, COUNT(*) AS n_exact FROM pterm GROUP BY query_id),
occm AS (
  SELECT c.query_id, k.doc_id, k.pos - c.off AS adj,
         COUNT(DISTINCT CASE WHEN c.is_exp = 0 THEN c.off END) AS n_ex,
         MAX(c.is_exp) AS has_exp
  FROM comb c JOIN tokp k ON k.term = c.term
  GROUP BY c.query_id, k.doc_id, k.pos - c.off
),
ppfreq AS (
  SELECT o.query_id, o.doc_id, CAST(COUNT(*) AS INTEGER) AS phrase_freq
  FROM occm o JOIN nex n ON n.query_id = o.query_id
  WHERE o.n_ex = n.n_exact AND o.has_exp = 1
  GROUP BY o.query_id, o.doc_id
),
ppqt AS (SELECT query_id, term, CAST(COUNT(*) AS DOUBLE) AS qtf FROM pterm GROUP BY query_id, term),
ppscored AS (
  SELECT qt.query_id, tf.doc_id,
         SUM(qt.qtf
             * ln(1 + (g.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
             * tf.tf / (tf.tf + {K1} * (1 - {B} + {B} * dl.doclen / g.avgdl))) AS score
  FROM tf
  JOIN ppqt qt ON qt.term = tf.term
  JOIN dl ON dl.doc_id = tf.doc_id
  JOIN dfreq ON dfreq.term = tf.term
  CROSS JOIN g
  GROUP BY qt.query_id, tf.doc_id
),
pprun AS (
  SELECT p.query_id, p.doc_id, s.score, p.phrase_freq,
         CAST(ROW_NUMBER() OVER (PARTITION BY p.query_id ORDER BY s.score DESC, p.doc_id ASC) AS INTEGER) AS rank
  FROM ppfreq p JOIN ppscored s ON s.query_id = p.query_id AND s.doc_id = p.doc_id
)
SELECT query_id, doc_id, ROUND(score, 6) AS score, rank, phrase_freq
FROM pprun WHERE rank <= 10
"""

_PHRASE_SQL = f"""
WITH {_TOKP},
{_BM25_CORE},
pq(query_id, text) AS (VALUES {_PH_VALUES}),
pq_toks AS (
  SELECT query_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
  FROM pq
),
pterm AS (
  SELECT query_id, CAST(u.i - 1 AS BIGINT) AS off, toks[u.i] AS term
  FROM pq_toks, UNNEST(generate_series(1, len(toks))) AS u(i)
),
plen AS (SELECT query_id, COUNT(*) AS plen FROM pterm GROUP BY query_id),
occm AS (
  SELECT p.query_id, k.doc_id, k.pos - p.off AS adj, COUNT(DISTINCT p.off) AS m
  FROM pterm p JOIN tokp k ON k.term = p.term
  GROUP BY p.query_id, k.doc_id, k.pos - p.off
),
pfreq AS (
  SELECT o.query_id, o.doc_id, CAST(COUNT(*) AS INTEGER) AS phrase_freq
  FROM occm o JOIN plen l ON l.query_id = o.query_id AND o.m = l.plen
  GROUP BY o.query_id, o.doc_id
),
qt AS (SELECT query_id, term, CAST(COUNT(*) AS DOUBLE) AS qtf FROM pterm GROUP BY query_id, term),
scored AS (
  SELECT qt.query_id, tf.doc_id,
         SUM(qt.qtf
             * ln(1 + (g.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
             * tf.tf / (tf.tf + {K1} * (1 - {B} + {B} * dl.doclen / g.avgdl))) AS score
  FROM tf
  JOIN qt ON qt.term = tf.term
  JOIN dl ON dl.doc_id = tf.doc_id
  JOIN dfreq ON dfreq.term = tf.term
  CROSS JOIN g
  GROUP BY qt.query_id, tf.doc_id
),
prun AS (
  SELECT p.query_id, p.doc_id, s.score, p.phrase_freq,
         CAST(ROW_NUMBER() OVER (PARTITION BY p.query_id ORDER BY s.score DESC, p.doc_id ASC) AS INTEGER) AS rank
  FROM pfreq p JOIN scored s ON s.query_id = p.query_id AND s.doc_id = p.doc_id
)
SELECT query_id, doc_id, ROUND(score, 6) AS score, rank, phrase_freq
FROM prun WHERE rank <= 10
"""

_PROXIMITY_SQL = f"""
WITH {_TOKP},
{_BM25_CORE},
xq(query_id, text) AS (VALUES {_PX_VALUES}),
xq_toks AS (
  SELECT query_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
  FROM xq
),
xtok AS (
  SELECT query_id, toks[u.i] AS term
  FROM xq_toks, UNNEST(generate_series(1, len(toks))) AS u(i)
),
xterm AS (SELECT DISTINCT query_id, term FROM xtok),
nt AS (SELECT query_id, COUNT(*) AS n FROM xterm GROUP BY query_id),
occ AS (
  SELECT x.query_id, k.doc_id, x.term, k.pos
  FROM xterm x JOIN tokp k ON k.term = x.term
),
lastpos AS (
  SELECT o1.query_id, o1.doc_id, o1.pos AS anchor, o2.term, MAX(o2.pos) AS lp
  FROM (SELECT DISTINCT query_id, doc_id, pos FROM occ) o1
  JOIN occ o2 ON o2.query_id = o1.query_id AND o2.doc_id = o1.doc_id AND o2.pos <= o1.pos
  GROUP BY o1.query_id, o1.doc_id, o1.pos, o2.term
),
covers AS (
  SELECT query_id, doc_id, anchor, COUNT(*) AS seen,
         anchor - MIN(lp) + 1 AS width
  FROM lastpos GROUP BY query_id, doc_id, anchor
),
mincover AS (
  SELECT c.query_id, c.doc_id, CAST(MIN(c.width) AS INTEGER) AS min_cover
  FROM covers c JOIN nt ON nt.query_id = c.query_id AND c.seen = nt.n
  GROUP BY c.query_id, c.doc_id
  HAVING MIN(c.width) <= {PROX_WITHIN}
),
qt AS (SELECT query_id, term, CAST(COUNT(*) AS DOUBLE) AS qtf FROM xtok GROUP BY query_id, term),
scored AS (
  SELECT qt.query_id, tf.doc_id,
         SUM(qt.qtf
             * ln(1 + (g.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
             * tf.tf / (tf.tf + {K1} * (1 - {B} + {B} * dl.doclen / g.avgdl))) AS score
  FROM tf
  JOIN qt ON qt.term = tf.term
  JOIN dl ON dl.doc_id = tf.doc_id
  JOIN dfreq ON dfreq.term = tf.term
  CROSS JOIN g
  GROUP BY qt.query_id, tf.doc_id
),
xrun AS (
  SELECT m.query_id, m.doc_id, s.score, m.min_cover,
         CAST(ROW_NUMBER() OVER (PARTITION BY m.query_id ORDER BY s.score DESC, m.doc_id ASC) AS INTEGER) AS rank
  FROM mincover m JOIN scored s ON s.query_id = m.query_id AND s.doc_id = m.doc_id
)
SELECT query_id, doc_id, ROUND(score, 6) AS score, rank, min_cover
FROM xrun WHERE rank <= 10
"""

# Ordered proximity (span_near in_order): the oracle enumerates ALL
# strictly-increasing slot embeddings with a recursive CTE (UNION dedups
# states, so rows are bounded by slots × positions × starts — fine at
# check scale) and takes the exact min window; the engine's DP must agree.
_SPAN_SQL = f"""
WITH RECURSIVE {_TOKP},
{_BM25_CORE},
sq(query_id, text) AS (VALUES {_SPAN_VALUES}),
sq_toks AS (
  SELECT query_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
  FROM sq
),
seq AS (
  SELECT query_id, u.i AS slot, toks[u.i] AS term, len(toks) AS m
  FROM sq_toks, UNNEST(generate_series(1, len(toks))) AS u(i)
),
socc AS (
  SELECT s.query_id, k.doc_id, s.slot, s.m, k.pos
  FROM seq s JOIN tokp k ON k.term = s.term
),
emb(query_id, doc_id, j, pos, strt, m) AS (
  SELECT query_id, doc_id, slot, pos, pos, m FROM socc WHERE slot = 1
  UNION
  SELECT o.query_id, o.doc_id, o.slot, o.pos, e.strt, e.m
  FROM emb e
  JOIN socc o ON o.query_id = e.query_id AND o.doc_id = e.doc_id
             AND o.slot = e.j + 1 AND o.pos > e.pos
),
minw AS (
  SELECT query_id, doc_id, CAST(MIN(pos - strt + 1) AS INTEGER) AS min_window
  FROM emb WHERE j = m
  GROUP BY query_id, doc_id
  HAVING MIN(pos - strt + 1) <= {SPAN_NEAR_WITHIN}
),
sqt AS (SELECT query_id, term, CAST(COUNT(*) AS DOUBLE) AS qtf FROM seq GROUP BY query_id, term),
sscored AS (
  SELECT sqt.query_id, tf.doc_id,
         SUM(sqt.qtf
             * ln(1 + (g.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
             * tf.tf / (tf.tf + {K1} * (1 - {B} + {B} * dl.doclen / g.avgdl))) AS score
  FROM tf
  JOIN sqt ON sqt.term = tf.term
  JOIN dl ON dl.doc_id = tf.doc_id
  JOIN dfreq ON dfreq.term = tf.term
  CROSS JOIN g
  GROUP BY sqt.query_id, tf.doc_id
),
srun AS (
  SELECT w.query_id, w.doc_id, s.score, w.min_window,
         CAST(ROW_NUMBER() OVER (PARTITION BY w.query_id ORDER BY s.score DESC, w.doc_id ASC) AS INTEGER) AS rank
  FROM minw w JOIN sscored s ON s.query_id = w.query_id AND s.doc_id = w.doc_id
)
SELECT query_id, doc_id, ROUND(score, 6) AS score, rank, min_window
FROM srun WHERE rank <= 10
"""


def _span_contain_sql(mode: str) -> str:
    """Oracle for search_span_containing / search_span_within: both
    phrases' occurrence starts via the offset-adjacency groupBy (as in
    the phrase oracle), paired per (query, doc) under b0 <= l0 AND
    l1 <= b1; n_spans counts distinct big starts ('containing') or
    little starts ('within'); BM25 over the governing phrase's terms.
    An OOV token in either phrase kills the query structurally (its
    role produces no starts, so the inner join yields nothing)."""
    span_col = "b0" if mode == "containing" else "l0"
    gov_role = "B" if mode == "containing" else "L"
    return f"""
WITH {_TOKP},
{_BM25_CORE},
scq(query_id, big, little) AS (VALUES {_SPANC_VALUES}),
roles AS (
  SELECT query_id, 'B' AS role, big AS text FROM scq
  UNION ALL
  SELECT query_id, 'L' AS role, little AS text FROM scq
),
rtoks AS (
  SELECT query_id, role,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
  FROM roles
),
rterm AS (
  SELECT query_id, role, CAST(u.i - 1 AS BIGINT) AS off, toks[u.i] AS term
  FROM rtoks, UNNEST(generate_series(1, len(toks))) AS u(i)
),
rlen AS (SELECT query_id, role, COUNT(*) AS plen FROM rterm GROUP BY query_id, role),
roccm AS (
  SELECT p.query_id, p.role, k.doc_id, k.pos - p.off AS strt, COUNT(DISTINCT p.off) AS m
  FROM rterm p JOIN tokp k ON k.term = p.term
  GROUP BY p.query_id, p.role, k.doc_id, k.pos - p.off
),
rstarts AS (
  SELECT o.query_id, o.role, o.doc_id, o.strt
  FROM roccm o JOIN rlen l ON l.query_id = o.query_id AND l.role = o.role AND o.m = l.plen
),
paired AS (
  SELECT b.query_id, b.doc_id,
         b.strt AS b0, li.strt AS l0
  FROM rstarts b
  JOIN rlen lb ON lb.query_id = b.query_id AND lb.role = 'B'
  JOIN rstarts li ON li.query_id = b.query_id AND li.doc_id = b.doc_id AND li.role = 'L'
  JOIN rlen ll ON ll.query_id = li.query_id AND ll.role = 'L'
  WHERE b.role = 'B'
    AND b.strt <= li.strt
    AND li.strt + ll.plen - 1 <= b.strt + lb.plen - 1
),
sccnt AS (
  SELECT query_id, doc_id, CAST(COUNT(DISTINCT {span_col}) AS INTEGER) AS n_spans
  FROM paired GROUP BY query_id, doc_id
),
scqt AS (
  SELECT query_id, term, CAST(COUNT(*) AS DOUBLE) AS qtf
  FROM rterm WHERE role = '{gov_role}' GROUP BY query_id, term
),
scscored AS (
  SELECT qt.query_id, tf.doc_id,
         SUM(qt.qtf
             * ln(1 + (g.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
             * tf.tf / (tf.tf + {K1} * (1 - {B} + {B} * dl.doclen / g.avgdl))) AS score
  FROM tf
  JOIN scqt qt ON qt.term = tf.term
  JOIN dl ON dl.doc_id = tf.doc_id
  JOIN dfreq ON dfreq.term = tf.term
  CROSS JOIN g
  GROUP BY qt.query_id, tf.doc_id
),
scrun AS (
  SELECT c.query_id, c.doc_id, s.score, c.n_spans,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY c.query_id ORDER BY s.score DESC, c.doc_id ASC
         ) AS INTEGER) AS rank
  FROM sccnt c JOIN scscored s ON s.query_id = c.query_id AND s.doc_id = c.doc_id
)
SELECT query_id, doc_id, ROUND(score, 6) AS score, rank, n_spans
FROM scrun WHERE rank <= 10
"""


_SPAN_CONTAINING_SQL = _span_contain_sql("containing")
_SPAN_WITHIN_SQL = _span_contain_sql("within")

# span_or oracle: each alternative's occurrence starts via the
# offset-adjacency groupBy; an alternative is LIVE iff every token is in
# the dictionary (an OOV alternative drops alone — so3's second
# alternative; a fully-dead query — so4 — yields nothing). n_spans counts
# DISTINCT (start, end) pairs across live alternatives; BM25 over the
# UNION of the live alternatives' terms with qtf = total count across
# those alternatives.
_SPAN_OR_SQL = f"""
WITH {_TOKP},
{_BM25_CORE},
soq(query_id, alt, text) AS (VALUES {_SPANOR_VALUES}),
sotok AS (
  SELECT query_id, alt,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
  FROM soq
),
soterm AS (
  SELECT query_id, alt, CAST(u.i - 1 AS BIGINT) AS off, toks[u.i] AS term
  FROM sotok, UNNEST(generate_series(1, len(toks))) AS u(i)
),
solen AS (SELECT query_id, alt, COUNT(*) AS plen FROM soterm GROUP BY query_id, alt),
solive AS (
  SELECT s.query_id, s.alt
  FROM soterm s LEFT JOIN dfreq d ON d.term = s.term
  GROUP BY s.query_id, s.alt
  HAVING COUNT(*) = COUNT(d.term)
),
sooccm AS (
  SELECT p.query_id, p.alt, k.doc_id, k.pos - p.off AS strt, COUNT(DISTINCT p.off) AS m
  FROM soterm p
  JOIN solive v ON v.query_id = p.query_id AND v.alt = p.alt
  JOIN tokp k ON k.term = p.term
  GROUP BY p.query_id, p.alt, k.doc_id, k.pos - p.off
),
sospan AS (
  SELECT DISTINCT o.query_id, o.doc_id, o.strt, o.strt + l.plen - 1 AS fin
  FROM sooccm o
  JOIN solen l ON l.query_id = o.query_id AND l.alt = o.alt AND o.m = l.plen
),
socnt AS (
  SELECT query_id, doc_id, CAST(COUNT(*) AS INTEGER) AS n_spans
  FROM sospan GROUP BY query_id, doc_id
),
soqt AS (
  SELECT s.query_id, s.term, CAST(COUNT(*) AS DOUBLE) AS qtf
  FROM soterm s
  JOIN solive v ON v.query_id = s.query_id AND v.alt = s.alt
  GROUP BY s.query_id, s.term
),
soscored AS (
  SELECT qt.query_id, tf.doc_id,
         SUM(qt.qtf
             * ln(1 + (g.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
             * tf.tf / (tf.tf + {K1} * (1 - {B} + {B} * dl.doclen / g.avgdl))) AS score
  FROM tf
  JOIN soqt qt ON qt.term = tf.term
  JOIN dl ON dl.doc_id = tf.doc_id
  JOIN dfreq ON dfreq.term = tf.term
  CROSS JOIN g
  GROUP BY qt.query_id, tf.doc_id
),
sorun AS (
  SELECT c.query_id, c.doc_id, s.score, c.n_spans,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY c.query_id ORDER BY s.score DESC, c.doc_id ASC
         ) AS INTEGER) AS rank
  FROM socnt c JOIN soscored s ON s.query_id = c.query_id AND s.doc_id = c.doc_id
)
SELECT query_id, doc_id, ROUND(score, 6) AS score, rank, n_spans
FROM sorun WHERE rank <= 10
"""

# intervals oracle: ordered mode replays the span recursive-CTE embedding
# with any_of slots (several terms share one slot id); unordered mode is
# the classic min-cover — for every candidate end position take each
# slot's latest occurrence <= end, covers needing all m slots. gaps =
# window - m gated by max_gaps (< 0 = unlimited). Scoring: BM25 with
# qtf = number of slots listing the term, the engine's rule.
_INTERVALS_SQL = f"""
WITH RECURSIVE {_TOKP},
{_BM25_CORE},
ivo(query_id, slot, term, m, max_gaps) AS (VALUES {_IV_ORD_VALUES}),
ivu(query_id, slot, term, m, max_gaps) AS (VALUES {_IV_UNORD_VALUES}),
ivoocc AS (
  SELECT s.query_id, k.doc_id, s.slot, s.m, s.max_gaps, k.pos
  FROM ivo s JOIN tokp k ON k.term = s.term
),
ivemb(query_id, doc_id, j, pos, strt, m, max_gaps) AS (
  SELECT query_id, doc_id, slot, pos, pos, m, max_gaps
  FROM ivoocc WHERE slot = 1
  UNION
  SELECT o.query_id, o.doc_id, o.slot, o.pos, e.strt, e.m, e.max_gaps
  FROM ivemb e
  JOIN ivoocc o ON o.query_id = e.query_id AND o.doc_id = e.doc_id
              AND o.slot = e.j + 1 AND o.pos > e.pos
),
ivwin_o AS (
  SELECT query_id, doc_id, m, max_gaps,
         CAST(MIN(pos - strt + 1) AS INTEGER) AS win
  FROM ivemb WHERE j = m
  GROUP BY query_id, doc_id, m, max_gaps
),
ivuocc AS (
  SELECT s.query_id, k.doc_id, s.slot, s.m, s.max_gaps, k.pos
  FROM ivu s JOIN tokp k ON k.term = s.term
),
ivends AS (
  SELECT DISTINCT query_id, doc_id, m, max_gaps, pos AS e FROM ivuocc
),
ivcov AS (
  SELECT n.query_id, n.doc_id, n.m, n.max_gaps, n.e, o.slot,
         MAX(o.pos) AS lastp
  FROM ivends n
  JOIN ivuocc o ON o.query_id = n.query_id AND o.doc_id = n.doc_id
              AND o.pos <= n.e
  GROUP BY 1, 2, 3, 4, 5, 6
),
ivwin_u AS (
  SELECT query_id, doc_id, m, max_gaps, CAST(MIN(w) AS INTEGER) AS win
  FROM (
    SELECT query_id, doc_id, m, max_gaps, e,
           e - MIN(lastp) + 1 AS w, COUNT(*) AS ns
    FROM ivcov GROUP BY query_id, doc_id, m, max_gaps, e
  ) WHERE ns = m
  GROUP BY query_id, doc_id, m, max_gaps
),
ivwin AS (
  SELECT * FROM ivwin_o UNION ALL SELECT * FROM ivwin_u
),
ivgated AS (
  SELECT query_id, doc_id, win AS "window",
         CAST(win - m AS INTEGER) AS gaps
  FROM ivwin
  WHERE max_gaps < 0 OR win - m <= max_gaps
),
ivqt AS (
  SELECT query_id, term, CAST(COUNT(*) AS DOUBLE) AS qtf
  FROM (SELECT * FROM ivo UNION ALL SELECT * FROM ivu)
  GROUP BY query_id, term
),
ivscored AS (
  SELECT q.query_id, tf.doc_id,
         SUM(q.qtf
             * ln(1 + (g.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
             * tf.tf / (tf.tf + {K1} * (1 - {B} + {B} * dl.doclen / g.avgdl))) AS score
  FROM tf
  JOIN ivqt q ON q.term = tf.term
  JOIN dl ON dl.doc_id = tf.doc_id
  JOIN dfreq ON dfreq.term = tf.term
  CROSS JOIN g
  GROUP BY q.query_id, tf.doc_id
),
ivrun AS (
  SELECT w.query_id, w.doc_id, s.score, w."window", w.gaps,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY w.query_id ORDER BY s.score DESC, w.doc_id ASC
         ) AS INTEGER) AS rank
  FROM ivgated w
  JOIN ivscored s ON s.query_id = w.query_id AND s.doc_id = w.doc_id
)
SELECT query_id, doc_id, ROUND(score, 6) AS score, rank, "window", gaps
FROM ivrun WHERE rank <= 10
"""

# query_string oracle: the clause tables below are the HAND-COMPILED parse
# of QS_QUERIES under the module grammar (the parser itself is unit-tested
# in tests/test_querystring.py — the oracle checks the retrieval math, not
# the parse). Expansion caps/orders, phrase adjacency, clause-distinct MUST
# counting and the NOT-EXISTS exclusions replay the engine from first
# principles. qs6 (-spark) has no scoring clause and must yield no rows;
# qs4's OOV must term never matches, so its must count can never be met.
_QUERY_STRING_SQL = f"""
WITH {_TOKP},
{_BM25_CORE},
qs_term(query_id, cid, is_must, term, wgt) AS (VALUES
  ('qs0', 0, 1, 'spark', 1.0), ('qs0', 1, 0, 'hash', 1.0),
  ('qs1', 1, 0, 'merge', 1.0),
  ('qs2', 1, 1, 'join', 1.0),
  ('qs3', 1, 0, 'batch', 1.0),
  ('qs4', 0, 1, 'nosuchterm', 1.0), ('qs4', 1, 0, 'spark', 1.0),
  ('qs5', 0, 0, 'spark', 2.0), ('qs5', 1, 0, 'join', 1.0),
  ('qs7', 1, 0, 'spark', 1.0)),
qs_prefix(query_id, cid, is_must, pat, boost) AS (VALUES ('qs2', 0, 0, 'sp', 1.0)),
qs_fuzzy(query_id, cid, is_must, qterm, edits, boost) AS (VALUES
  ('qs3', 0, 0, 'windoq', 1, 1.0)),
qs_phrase(query_id, cid, is_must, ptext, boost) AS (VALUES
  ('qs1', 0, 0, 'part filter scan', 1.0),
  ('qs7', 0, 1, 'customer join window', 1.0)),
qs_not(query_id, nterm) AS (VALUES ('qs0', 'window'), ('qs6', 'spark')),
qp_cand AS (
  SELECT p.query_id, p.cid, p.is_must, d.term, p.boost AS wgt, d.df
  FROM qs_prefix p JOIN dfreq d ON d.term LIKE p.pat || '%'
),
qp_cap AS (
  SELECT query_id, cid, is_must, term, wgt FROM (
    SELECT query_id, cid, is_must, term, wgt,
           ROW_NUMBER() OVER (PARTITION BY query_id, cid
                              ORDER BY df DESC, term ASC) AS r
    FROM qp_cand
  ) WHERE r <= {QS_MAX_EXP}
),
qf_cand AS (
  SELECT f.query_id, f.cid, f.is_must, d.term,
         f.boost / (1 + levenshtein(d.term, f.qterm)) AS wgt,
         levenshtein(d.term, f.qterm) AS ed, d.df
  FROM qs_fuzzy f JOIN dfreq d
    ON substr(d.term, 1, 1) = substr(f.qterm, 1, 1)
   AND abs(len(d.term) - len(f.qterm)) <= f.edits
   AND levenshtein(d.term, f.qterm) <= f.edits
),
qf_cap AS (
  SELECT query_id, cid, is_must, term, wgt FROM (
    SELECT query_id, cid, is_must, term, wgt,
           ROW_NUMBER() OVER (PARTITION BY query_id, cid
                              ORDER BY ed ASC, df DESC, term ASC) AS r
    FROM qf_cand
  ) WHERE r <= {QS_MAX_EXP}
),
qs_sc AS (
  SELECT query_id, cid, is_must, term, CAST(wgt AS DOUBLE) AS wgt FROM qs_term
  UNION ALL SELECT query_id, cid, is_must, term, wgt FROM qp_cap
  UNION ALL SELECT query_id, cid, is_must, term, wgt FROM qf_cap
),
qs_tbase AS (
  SELECT s.query_id, tf.doc_id,
         SUM(s.wgt
             * ln(1 + (g.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
             * tf.tf / (tf.tf + {K1} * (1 - {B} + {B} * dl.doclen / g.avgdl))) AS t_score,
         COUNT(DISTINCT CASE WHEN s.is_must = 1 THEN s.cid END) AS t_must
  FROM tf
  JOIN qs_sc s ON s.term = tf.term
  JOIN dl ON dl.doc_id = tf.doc_id
  JOIN dfreq ON dfreq.term = tf.term
  CROSS JOIN g
  GROUP BY s.query_id, tf.doc_id
),
qs_ph_toks AS (
  SELECT query_id, cid, is_must, boost,
         list_filter(regexp_split_to_array(lower(ptext), '[^a-z0-9]+'), x -> x <> '') AS toks
  FROM qs_phrase
),
qs_pterm AS (
  SELECT query_id, cid, CAST(u.i - 1 AS BIGINT) AS off, toks[u.i] AS term
  FROM qs_ph_toks, UNNEST(generate_series(1, len(toks))) AS u(i)
),
qs_plen AS (SELECT query_id, cid, COUNT(*) AS plen FROM qs_pterm GROUP BY query_id, cid),
qs_occm AS (
  SELECT p.query_id, p.cid, k.doc_id, k.pos - p.off AS adj, COUNT(DISTINCT p.off) AS m
  FROM qs_pterm p JOIN tokp k ON k.term = p.term
  GROUP BY p.query_id, p.cid, k.doc_id, k.pos - p.off
),
qs_pmatch AS (
  SELECT DISTINCT o.query_id, o.cid, o.doc_id
  FROM qs_occm o JOIN qs_plen l ON l.query_id = o.query_id AND l.cid = o.cid AND o.m = l.plen
),
qs_pqt AS (
  SELECT query_id, cid, term, CAST(COUNT(*) AS DOUBLE) AS qtf
  FROM qs_pterm GROUP BY query_id, cid, term
),
qs_pscored AS (
  SELECT q.query_id, q.cid, tf.doc_id,
         SUM(q.qtf
             * ln(1 + (g.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
             * tf.tf / (tf.tf + {K1} * (1 - {B} + {B} * dl.doclen / g.avgdl))) AS score
  FROM tf
  JOIN qs_pqt q ON q.term = tf.term
  JOIN dl ON dl.doc_id = tf.doc_id
  JOIN dfreq ON dfreq.term = tf.term
  CROSS JOIN g
  GROUP BY q.query_id, q.cid, tf.doc_id
),
qs_pm AS (
  SELECT m.query_id, m.doc_id,
         SUM(s.score * t.boost) AS p_score,
         COUNT(DISTINCT CASE WHEN t.is_must = 1 THEN m.cid END) AS p_must
  FROM qs_pmatch m
  JOIN qs_pscored s ON s.query_id = m.query_id AND s.cid = m.cid AND s.doc_id = m.doc_id
  JOIN qs_ph_toks t ON t.query_id = m.query_id AND t.cid = m.cid
  GROUP BY m.query_id, m.doc_id
),
qs_comb AS (
  SELECT COALESCE(b.query_id, p.query_id) AS query_id,
         COALESCE(b.doc_id, p.doc_id) AS doc_id,
         COALESCE(b.t_score, 0) + COALESCE(p.p_score, 0) AS score,
         COALESCE(b.t_must, 0) + COALESCE(p.p_must, 0) AS must_m
  FROM qs_tbase b FULL JOIN qs_pm p
    ON p.query_id = b.query_id AND p.doc_id = b.doc_id
),
qs_nmust AS (
  SELECT query_id, COUNT(DISTINCT cid) AS n FROM (
    SELECT query_id, cid FROM qs_term WHERE is_must = 1
    UNION ALL SELECT query_id, cid FROM qs_prefix WHERE is_must = 1
    UNION ALL SELECT query_id, cid FROM qs_fuzzy WHERE is_must = 1
    UNION ALL SELECT query_id, cid FROM qs_phrase WHERE is_must = 1
  ) GROUP BY query_id
),
qs_filt AS (
  SELECT c.query_id, c.doc_id, c.score
  FROM qs_comb c LEFT JOIN qs_nmust n ON n.query_id = c.query_id
  WHERE c.must_m = COALESCE(n.n, 0)
    AND NOT EXISTS (
      SELECT 1 FROM qs_not x JOIN tok k ON k.term = x.nterm
      WHERE x.query_id = c.query_id AND k.doc_id = c.doc_id
    )
),
qs_run AS (
  SELECT query_id, doc_id, score,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS INTEGER) AS rank
  FROM qs_filt
)
SELECT query_id, doc_id, ROUND(score, 6) AS score, rank
FROM qs_run WHERE rank <= 10
"""

# dsl_filtered oracle: per-token BM25 sum (the match decomposition — all
# fixture tokens distinct, weight 1) with each query's filter predicate
# replayed over the raw documents table; df3's filter-only leg is the
# first-10-by-doc_id zero-score page; df4's must is a single token, so
# containment == the scored join itself.
_DSLF_ID_LIST = ", ".join(
    f"'{i.removeprefix('doc://')}'" for i in _DSLF_IDS
)
_DSL_FILTERED_SQL = f"""
WITH {_TOKP},
{_BM25_CORE},
dfq(query_id, text) AS (VALUES
  ('df0', 'spark join'), ('df1', 'customer window'),
  ('df2', 'hash merge scan'), ('df4', 'spark'), ('df5', 'merge')),
dfqt AS (
  SELECT query_id, t.term
  FROM dfq, UNNEST(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS t(term)
  WHERE t.term <> ''
),
dfscored AS (
  SELECT q.query_id, tf.doc_id,
         SUM(ln(1 + (g.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
             * tf.tf / (tf.tf + {K1} * (1 - {B} + {B} * dl.doclen / g.avgdl))) AS score
  FROM tf
  JOIN dfqt q ON q.term = tf.term
  JOIN dl ON dl.doc_id = tf.doc_id
  JOIN dfreq ON dfreq.term = tf.term
  CROSS JOIN g
  GROUP BY q.query_id, tf.doc_id
),
dffilt AS (
  SELECT s.query_id, s.doc_id, s.score
  FROM dfscored s JOIN documents d ON CAST(d.doc_id AS VARCHAR) = s.doc_id
  WHERE (s.query_id = 'df0' AND d.lang = 'en')
     OR (s.query_id = 'df1' AND d.n_chars >= 200 AND d.n_chars < 500)
     OR (s.query_id = 'df2' AND d.lang IN ('de', 'fr'))
     OR (s.query_id = 'df4' AND s.doc_id IN ({_DSLF_ID_LIST}))
     OR (s.query_id = 'df5' AND d.lang IS NOT NULL)
),
dfzero AS (
  SELECT 'df3' AS query_id, CAST(doc_id AS VARCHAR) AS doc_id,
         CAST(0.0 AS DOUBLE) AS score
  FROM documents WHERE lang = 'en' AND n_chars < 150
  ORDER BY CAST(doc_id AS VARCHAR) ASC LIMIT 10
),
dfall AS (
  SELECT * FROM dffilt UNION ALL SELECT * FROM dfzero
),
dfrun AS (
  SELECT query_id, doc_id, score,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY score DESC, doc_id ASC
         ) AS INTEGER) AS rank
  FROM dfall
)
SELECT query_id, doc_id, ROUND(score, 6) AS score, rank
FROM dfrun WHERE rank <= 10
"""

# dsl_nested oracle: a per-(doc, term) BM25 weight table, then each
# query's bool tree replayed as explicit group CTEs — group = SUM of its
# matched members with HAVING as the msm/must gate, parent = outer-join
# sum, must_not = NOT IN, nested filter = lang join — mirroring the
# engine's composition structure (group partial sums, then the parent
# sum) so float rounding at 6 decimals can never diverge.
_DSL_NESTED_SQL = f"""
WITH {_TOKP},
{_BM25_CORE},
w AS (
  SELECT tf.doc_id, tf.term,
         ln(1 + (g.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
           * tf.tf / (tf.tf + {K1} * (1 - {B} + {B} * dl.doclen / g.avgdl)) AS wgt
  FROM tf
  JOIN dl ON dl.doc_id = tf.doc_id
  JOIN dfreq ON dfreq.term = tf.term
  CROSS JOIN g
),
dlang AS (SELECT CAST(doc_id AS VARCHAR) AS doc_id, lang FROM documents),
dn0_g AS (SELECT doc_id, SUM(wgt) AS s FROM w
          WHERE term IN ('spark', 'join', 'window')
          GROUP BY doc_id HAVING COUNT(*) >= 2),
dn0_l AS (SELECT doc_id, wgt AS s FROM w WHERE term = 'customer'),
dn0 AS (
  SELECT 'dn0' AS query_id, COALESCE(a.doc_id, b.doc_id) AS doc_id,
         COALESCE(a.s, 0) + COALESCE(b.s, 0) AS score
  FROM dn0_g a FULL OUTER JOIN dn0_l b ON a.doc_id = b.doc_id
),
dn1_g AS (SELECT doc_id, SUM(wgt) AS s FROM w
          WHERE term IN ('hash', 'merge') GROUP BY doc_id),
dn1_l AS (SELECT doc_id, wgt AS s FROM w WHERE term = 'scan'),
dn1 AS (
  SELECT 'dn1' AS query_id, a.doc_id, a.s + COALESCE(b.s, 0) AS score
  FROM dn1_g a LEFT JOIN dn1_l b ON a.doc_id = b.doc_id
),
dn2_x AS (SELECT doc_id FROM w WHERE term IN ('join', 'window')
          GROUP BY doc_id HAVING COUNT(*) = 2),
dn2 AS (
  SELECT 'dn2' AS query_id, doc_id, wgt AS score FROM w
  WHERE term = 'spark' AND doc_id NOT IN (SELECT doc_id FROM dn2_x)
),
dn3_g AS (
  SELECT w.doc_id, SUM(wgt) AS s
  FROM w JOIN dlang ON dlang.doc_id = w.doc_id
  WHERE term IN ('customer', 'window') AND dlang.lang = 'en'
  GROUP BY w.doc_id
),
dn3_l AS (SELECT doc_id, wgt AS s FROM w WHERE term = 'merge'),
dn3 AS (
  SELECT 'dn3' AS query_id, COALESCE(a.doc_id, b.doc_id) AS doc_id,
         COALESCE(a.s, 0) + COALESCE(b.s, 0) AS score
  FROM dn3_g a FULL OUTER JOIN dn3_l b ON a.doc_id = b.doc_id
),
dn4_s AS (SELECT doc_id, SUM(wgt) AS s FROM w
          WHERE term IN ('spark', 'join') GROUP BY doc_id),
dn4 AS (
  SELECT 'dn4' AS query_id, a.doc_id, a.s AS score
  FROM dn4_s a JOIN dlang ON dlang.doc_id = a.doc_id
  WHERE dlang.lang IS DISTINCT FROM 'en'
),
dn5_i AS (SELECT doc_id, SUM(wgt) AS s FROM w
          WHERE term IN ('hash', 'scan')
          GROUP BY doc_id HAVING COUNT(*) >= 2),
dn5_m AS (SELECT doc_id, wgt AS s FROM w WHERE term = 'merge'),
dn5 AS (
  SELECT 'dn5' AS query_id, COALESCE(a.doc_id, b.doc_id) AS doc_id,
         COALESCE(a.s, 0) + COALESCE(b.s, 0) AS score
  FROM dn5_i a FULL OUTER JOIN dn5_m b ON a.doc_id = b.doc_id
),
dnall AS (
  SELECT * FROM dn0 UNION ALL SELECT * FROM dn1 UNION ALL SELECT * FROM dn2
  UNION ALL SELECT * FROM dn3 UNION ALL SELECT * FROM dn4
  UNION ALL SELECT * FROM dn5
),
dnrun AS (
  SELECT query_id, doc_id, score,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY score DESC, doc_id ASC
         ) AS INTEGER) AS rank
  FROM dnall
)
SELECT query_id, doc_id, ROUND(score, 6) AS score, rank
FROM dnrun WHERE rank <= 10
"""

# dsl_constant_score oracle: constant pages are first-10-by-doc_id
# scans of the documents table at the boost; gate+bonus queries replay
# the per-term BM25 weight plus the constant against the raw attribute
# columns.
_DSL_CONST_SQL = f"""
WITH {_TOKP},
{_BM25_CORE},
w AS (
  SELECT tf.doc_id, tf.term,
         ln(1 + (g.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
           * tf.tf / (tf.tf + {K1} * (1 - {B} + {B} * dl.doclen / g.avgdl)) AS wgt
  FROM tf
  JOIN dl ON dl.doc_id = tf.doc_id
  JOIN dfreq ON dfreq.term = tf.term
  CROSS JOIN g
),
dmeta AS (SELECT CAST(doc_id AS VARCHAR) AS doc_id, lang, n_chars
          FROM documents),
dc0 AS (
  SELECT 'dc0' AS query_id, doc_id, CAST(2.5 AS DOUBLE) AS score
  FROM dmeta WHERE lang = 'en' ORDER BY doc_id ASC LIMIT 10
),
dc1 AS (
  SELECT 'dc1' AS query_id, doc_id, CAST(1.5 AS DOUBLE) AS score
  FROM dmeta ORDER BY doc_id ASC LIMIT 10
),
dc2 AS (
  SELECT 'dc2' AS query_id, w.doc_id, w.wgt + 3.0 AS score
  FROM w JOIN dmeta m ON m.doc_id = w.doc_id
  WHERE w.term = 'spark' AND m.lang = 'en'
),
dc3 AS (
  SELECT 'dc3' AS query_id, w.doc_id, w.wgt AS score
  FROM w JOIN dmeta m ON m.doc_id = w.doc_id
  WHERE w.term = 'spark' AND NOT (m.n_chars < 300)
),
dc4 AS (
  SELECT 'dc4' AS query_id, w.doc_id, w.wgt + 0.75 AS score
  FROM w JOIN dmeta m ON m.doc_id = w.doc_id
  WHERE w.term = 'merge' AND m.n_chars >= 200 AND m.n_chars < 500
),
dcall AS (
  SELECT * FROM dc0 UNION ALL SELECT * FROM dc1 UNION ALL SELECT * FROM dc2
  UNION ALL SELECT * FROM dc3 UNION ALL SELECT * FROM dc4
),
dcrun AS (
  SELECT query_id, doc_id, score,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY score DESC, doc_id ASC
         ) AS INTEGER) AS rank
  FROM dcall
)
SELECT query_id, doc_id, ROUND(score, 6) AS score, rank
FROM dcrun WHERE rank <= 10
"""

# dsl_filtered_pattern oracle: per-token BM25 + LIKE predicates over the
# raw documents table; dfp2's filter-only leg is the first-10-by-doc_id
# zero-score page.
_DSL_FILTER_PATTERN_SQL = f"""
WITH {_TOKP},
{_BM25_CORE},
dfpq(query_id, text) AS (VALUES
  ('dfp0', 'spark join'), ('dfp1', 'customer window')),
dfpqt AS (
  SELECT query_id, t.term
  FROM dfpq, UNNEST(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS t(term)
  WHERE t.term <> ''
),
dfpscored AS (
  SELECT q.query_id, tf.doc_id,
         SUM(ln(1 + (g.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
             * tf.tf / (tf.tf + {K1} * (1 - {B} + {B} * dl.doclen / g.avgdl))) AS score
  FROM tf
  JOIN dfpqt q ON q.term = tf.term
  JOIN dl ON dl.doc_id = tf.doc_id
  JOIN dfreq ON dfreq.term = tf.term
  CROSS JOIN g
  GROUP BY q.query_id, tf.doc_id
),
dfpfilt AS (
  SELECT s.query_id, s.doc_id, s.score
  FROM dfpscored s JOIN documents d ON CAST(d.doc_id AS VARCHAR) = s.doc_id
  WHERE (s.query_id = 'dfp0' AND d.lang LIKE 'e%')
     OR (s.query_id = 'dfp1' AND d.lang LIKE '_e')
),
dfpzero AS (
  SELECT 'dfp2' AS query_id, CAST(doc_id AS VARCHAR) AS doc_id,
         CAST(0.0 AS DOUBLE) AS score
  FROM documents WHERE lang LIKE 'e_' AND n_chars < 200
  ORDER BY CAST(doc_id AS VARCHAR) ASC LIMIT 10
),
dfpall AS (
  SELECT * FROM dfpfilt UNION ALL SELECT * FROM dfpzero
),
dfprun AS (
  SELECT query_id, doc_id, score,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY score DESC, doc_id ASC
         ) AS INTEGER) AS rank
  FROM dfpall
)
SELECT query_id, doc_id, ROUND(score, 6) AS score, rank
FROM dfprun WHERE rank <= 10
"""

# query_string_grouped oracle: the grouped grammar hand-compiled (the
# parser is unit-tested in tests/test_qs_grouped.py) and replayed as
# group CTEs over the per-(doc, term) BM25 weight table — the same
# composition structure as the dsl_nested oracle.
_QS_GROUPED_SQL = f"""
WITH {_TOKP},
{_BM25_CORE},
w AS (
  SELECT tf.doc_id, tf.term,
         ln(1 + (g.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
           * tf.tf / (tf.tf + {K1} * (1 - {B} + {B} * dl.doclen / g.avgdl)) AS wgt
  FROM tf
  JOIN dl ON dl.doc_id = tf.doc_id
  JOIN dfreq ON dfreq.term = tf.term
  CROSS JOIN g
),
qg0_g AS (SELECT doc_id, SUM(wgt) AS s FROM w
          WHERE term IN ('spark', 'join') GROUP BY doc_id),
qg0_l AS (SELECT doc_id, wgt AS s FROM w WHERE term = 'customer'),
qg0 AS (
  SELECT 'qg0' AS query_id, a.doc_id, a.s + b.s AS score
  FROM qg0_g a JOIN qg0_l b ON a.doc_id = b.doc_id
),
qg1_x AS (SELECT DISTINCT doc_id FROM w WHERE term IN ('merge', 'scan')),
qg1 AS (
  SELECT 'qg1' AS query_id, doc_id, wgt AS score FROM w
  WHERE term = 'hash' AND doc_id NOT IN (SELECT doc_id FROM qg1_x)
),
qg2_g AS (SELECT doc_id, SUM(2.0 * wgt) AS s FROM w
          WHERE term IN ('spark', 'join') GROUP BY doc_id),
qg2_l AS (SELECT doc_id, wgt AS s FROM w WHERE term = 'window'),
qg2 AS (
  SELECT 'qg2' AS query_id, COALESCE(a.doc_id, b.doc_id) AS doc_id,
         COALESCE(a.s, 0) + COALESCE(b.s, 0) AS score
  FROM qg2_g a FULL OUTER JOIN qg2_l b ON a.doc_id = b.doc_id
),
qg3_a AS (SELECT doc_id, wgt AS s FROM w WHERE term = 'spark'),
qg3_b AS (SELECT doc_id, wgt AS s FROM w WHERE term = 'merge'),
qg3_c AS (SELECT doc_id, wgt AS s FROM w WHERE term = 'window'),
qg3 AS (
  SELECT 'qg3' AS query_id, a.doc_id,
         a.s + b.s + COALESCE(c.s, 0) AS score
  FROM qg3_a a
  JOIN qg3_b b ON b.doc_id = a.doc_id
  LEFT JOIN qg3_c c ON c.doc_id = a.doc_id
),
qgall AS (
  SELECT * FROM qg0 UNION ALL SELECT * FROM qg1 UNION ALL SELECT * FROM qg2
  UNION ALL SELECT * FROM qg3
),
qgrun AS (
  SELECT query_id, doc_id, score,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY score DESC, doc_id ASC
         ) AS INTEGER) AS rank
  FROM qgall
)
SELECT query_id, doc_id, ROUND(score, 6) AS score, rank
FROM qgrun WHERE rank <= 10
"""

# dsl_fielded oracle: the dismax entries' per-field BM25 machinery
# (per-field tf/df/len/avgdl over the title/body token split) exposed as
# one weight table, then each query's composition replayed as group
# CTEs — outer-join sums for bool, GREATEST + tie_breaker for dis_max,
# NOT IN for must_not.
def _fielded_wf_ctes(where: str = "") -> str:
    """Shared DuckDB prelude for every fielded-index oracle: the per-
    (doc, field, term) BM25 weight table `wf` over the title/body token
    split (title = first 8 tokens, body = rest — the _entry_fielded
    layout). `where` filters the document universe (the lifecycle
    entry's survivor set) — collection statistics (n_docs, avgflen, df)
    are computed over the SAME filtered universe, which is exactly what
    a rebaselined compact converges to."""
    return f"""docs_toks AS (
  SELECT CAST(d.doc_id AS VARCHAR) AS doc_id,
         list_filter(regexp_split_to_array(lower(d.text), '[^a-z0-9]+'), x -> x <> '') AS toks
  FROM documents d {where}
),
fields AS (
  SELECT doc_id, list_slice(toks, 1, 8) AS title,
         list_slice(toks, 9, len(toks)) AS body
  FROM docs_toks
),
ftok AS (
  SELECT doc_id, 'title' AS field, t.term FROM fields, UNNEST(title) AS t(term)
  UNION ALL
  SELECT doc_id, 'body' AS field, t.term FROM fields, UNNEST(body) AS t(term)
),
flen AS (
  SELECT doc_id, 'title' AS field, CAST(len(title) AS DOUBLE) AS flen FROM fields
  UNION ALL
  SELECT doc_id, 'body' AS field, CAST(len(body) AS DOUBLE) AS flen FROM fields
),
tff AS (SELECT doc_id, field, term, CAST(COUNT(*) AS DOUBLE) AS tf
        FROM ftok GROUP BY doc_id, field, term),
avgf AS (SELECT field, AVG(flen) AS avgflen FROM flen GROUP BY field),
nd AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents d {where}),
dff AS (SELECT field, term, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS df
        FROM ftok GROUP BY field, term),
wf AS (
  SELECT t.doc_id, t.field, t.term,
         ln(1 + (nd.n_docs - dff.df + 0.5) / (dff.df + 0.5))
           * t.tf / (t.tf + {K1} * (1 - {B} + {B} * l.flen / a.avgflen)) AS wgt
  FROM tff t
  JOIN flen l ON l.doc_id = t.doc_id AND l.field = t.field
  JOIN avgf a ON a.field = t.field
  JOIN dff ON dff.field = t.field AND dff.term = t.term
  CROSS JOIN nd
)"""


_DSL_FIELDED_SQL = f"""
WITH {_fielded_wf_ctes()},
fd0_t AS (SELECT doc_id, SUM(wgt) AS s FROM wf
          WHERE field = 'title' AND term IN ('spark', 'join') GROUP BY doc_id),
fd0_b AS (SELECT doc_id, SUM(wgt) AS s FROM wf
          WHERE field = 'body' AND term IN ('customer', 'window') GROUP BY doc_id),
fd0 AS (
  SELECT 'fd0' AS query_id, COALESCE(a.doc_id, b.doc_id) AS doc_id,
         COALESCE(a.s, 0) + COALESCE(b.s, 0) AS score
  FROM fd0_t a FULL OUTER JOIN fd0_b b ON a.doc_id = b.doc_id
),
fd1_t AS (SELECT doc_id, wgt AS s FROM wf
          WHERE field = 'title' AND term = 'spark'),
fd1_b AS (SELECT doc_id, wgt AS s FROM wf
          WHERE field = 'body' AND term = 'spark'),
fd1 AS (
  SELECT 'fd1' AS query_id, COALESCE(a.doc_id, b.doc_id) AS doc_id,
         CASE WHEN a.s IS NOT NULL AND b.s IS NOT NULL
              THEN GREATEST(a.s, b.s)
                   + 0.4 * (a.s + b.s - GREATEST(a.s, b.s))
              ELSE COALESCE(a.s, b.s) END AS score
  FROM fd1_t a FULL OUTER JOIN fd1_b b ON a.doc_id = b.doc_id
),
fd2_t AS (SELECT doc_id, wgt AS s FROM wf
          WHERE field = 'title' AND term = 'spark'),
fd2_g AS (SELECT doc_id, SUM(wgt) AS s FROM wf
          WHERE field = 'body' AND term IN ('hash', 'merge') GROUP BY doc_id),
fd2 AS (
  SELECT 'fd2' AS query_id, a.doc_id, a.s + b.s AS score
  FROM fd2_t a JOIN fd2_g b ON b.doc_id = a.doc_id
),
fd3_x AS (SELECT DISTINCT doc_id FROM wf
          WHERE field = 'body' AND term = 'scan'),
fd3 AS (
  SELECT 'fd3' AS query_id, doc_id, wgt AS score FROM wf
  WHERE field = 'title' AND term = 'merge'
    AND doc_id NOT IN (SELECT doc_id FROM fd3_x)
),
fdall AS (
  SELECT * FROM fd0 UNION ALL SELECT * FROM fd1 UNION ALL SELECT * FROM fd2
  UNION ALL SELECT * FROM fd3
),
fdrun AS (
  SELECT query_id, doc_id, score,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY score DESC, doc_id ASC
         ) AS INTEGER) AS rank
  FROM fdall
)
SELECT query_id, doc_id, ROUND(score, 6) AS score, rank
FROM fdrun WHERE rank <= 10
"""

# dsl_multi_match oracle: the same per-field weight table; best_fields
# = GREATEST + tie_breaker over per-field branch sums (title boost
# folded into the branch sum — exact, power of two), most_fields =
# outer-join sum.
_DSL_MM_SQL = f"""
WITH {_fielded_wf_ctes()},
mm0_t AS (SELECT doc_id, SUM(2.0 * wgt) AS s FROM wf
          WHERE field = 'title' AND term IN ('spark', 'hash') GROUP BY doc_id),
mm0_b AS (SELECT doc_id, SUM(wgt) AS s FROM wf
          WHERE field = 'body' AND term IN ('spark', 'hash') GROUP BY doc_id),
mm0 AS (
  SELECT 'mm0' AS query_id, COALESCE(a.doc_id, b.doc_id) AS doc_id,
         CASE WHEN a.s IS NOT NULL AND b.s IS NOT NULL
              THEN GREATEST(a.s, b.s)
                   + 0.4 * (a.s + b.s - GREATEST(a.s, b.s))
              ELSE COALESCE(a.s, b.s) END AS score
  FROM mm0_t a FULL OUTER JOIN mm0_b b ON a.doc_id = b.doc_id
),
mm1_t AS (SELECT doc_id, SUM(wgt) AS s FROM wf
          WHERE field = 'title' AND term IN ('merge', 'window') GROUP BY doc_id),
mm1_b AS (SELECT doc_id, SUM(wgt) AS s FROM wf
          WHERE field = 'body' AND term IN ('merge', 'window') GROUP BY doc_id),
mm1 AS (
  SELECT 'mm1' AS query_id, COALESCE(a.doc_id, b.doc_id) AS doc_id,
         COALESCE(a.s, 0) + COALESCE(b.s, 0) AS score
  FROM mm1_t a FULL OUTER JOIN mm1_b b ON a.doc_id = b.doc_id
),
mmall AS (SELECT * FROM mm0 UNION ALL SELECT * FROM mm1),
mmrun AS (
  SELECT query_id, doc_id, score,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY score DESC, doc_id ASC
         ) AS INTEGER) AS rank
  FROM mmall
)
SELECT query_id, doc_id, ROUND(score, 6) AS score, rank
FROM mmrun WHERE rank <= 10
"""

# dsl_fielded_filtered oracle: the per-field weight table gated by lang
# predicates over the raw documents table (attrs are doc-level, so the
# union-of-docmaps evaluation equals one lang lookup per doc).
_DSL_FF_SQL = f"""
WITH {_fielded_wf_ctes()},
dmeta AS (SELECT CAST(doc_id AS VARCHAR) AS doc_id, lang FROM documents),
ff0_t AS (SELECT doc_id, wgt AS s FROM wf WHERE field = 'title' AND term = 'spark'),
ff0_b AS (SELECT doc_id, wgt AS s FROM wf WHERE field = 'body' AND term = 'join'),
ff0 AS (
  SELECT 'ff0' AS query_id, m.doc_id,
         COALESCE(a.s, 0) + COALESCE(b.s, 0) AS score
  FROM dmeta m
  LEFT JOIN ff0_t a ON a.doc_id = m.doc_id
  LEFT JOIN ff0_b b ON b.doc_id = m.doc_id
  WHERE m.lang = 'en' AND (a.doc_id IS NOT NULL OR b.doc_id IS NOT NULL)
),
ff1 AS (
  SELECT 'ff1' AS query_id, w.doc_id, w.wgt + 1.5 AS score
  FROM wf w JOIN dmeta m ON m.doc_id = w.doc_id
  WHERE w.field = 'body' AND w.term = 'merge' AND m.lang IN ('de', 'fr')
),
ff2 AS (
  SELECT 'ff2' AS query_id, w.doc_id, w.wgt AS score
  FROM wf w JOIN dmeta m ON m.doc_id = w.doc_id
  WHERE w.field = 'title' AND w.term = 'hash'
    AND m.lang IS DISTINCT FROM 'en'
),
ffall AS (
  SELECT * FROM ff0 UNION ALL SELECT * FROM ff1 UNION ALL SELECT * FROM ff2
),
ffrun AS (
  SELECT query_id, doc_id, score,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY score DESC, doc_id ASC
         ) AS INTEGER) AS rank
  FROM ffall
)
SELECT query_id, doc_id, ROUND(score, 6) AS score, rank
FROM ffrun WHERE rank <= 10
"""

# dsl_explain oracle: the per-(doc, term) weight table restricted to the
# fixed doc set, with the hand-compiled clause metadata (node ids follow
# the compiler's deterministic role-order numbering: root 0, first
# nested group 1).
_DSL_EXPLAIN_ID_LIST = ", ".join(
    f"'{d.removeprefix('doc://')}'" for d in _DSL_EXPLAIN_DOCS
)
_DSL_EXPLAIN_SQL = f"""
WITH {_TOKP},
{_BM25_CORE},
w AS (
  SELECT tf.doc_id, tf.term,
         ln(1 + (g.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
           * tf.tf / (tf.tf + {K1} * (1 - {B} + {B} * dl.doclen / g.avgdl)) AS wgt
  FROM tf
  JOIN dl ON dl.doc_id = tf.doc_id
  JOIN dfreq ON dfreq.term = tf.term
  CROSS JOIN g
)
SELECT 'qe0' AS query_id, doc_id, 0 AS node, 0 AS depth,
       'must' AS role, 'term' AS kind, 'spark' AS text,
       CAST(1.0 AS DOUBLE) AS boost, ROUND(wgt, 6) AS score
FROM w WHERE term = 'spark' AND doc_id IN ({_DSL_EXPLAIN_ID_LIST})
UNION ALL
SELECT 'qe0', doc_id, 1, 1, 'should', 'term', 'merge',
       CAST(2.0 AS DOUBLE), ROUND(2.0 * wgt, 6)
FROM w WHERE term = 'merge' AND doc_id IN ({_DSL_EXPLAIN_ID_LIST})
"""

# dsl_dismax oracle: per-branch score CTEs (a multi-term branch sums
# inside the branch), then max + tie_breaker × (sum − max) via GREATEST
# over the outer-joined branches — the same combination structure the
# engine's level aggregate evaluates.
_DSL_DISMAX_SQL = f"""
WITH {_TOKP},
{_BM25_CORE},
w AS (
  SELECT tf.doc_id, tf.term,
         ln(1 + (g.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
           * tf.tf / (tf.tf + {K1} * (1 - {B} + {B} * dl.doclen / g.avgdl)) AS wgt
  FROM tf
  JOIN dl ON dl.doc_id = tf.doc_id
  JOIN dfreq ON dfreq.term = tf.term
  CROSS JOIN g
),
dd0_b1 AS (SELECT doc_id, SUM(wgt) AS s FROM w
           WHERE term IN ('spark', 'join') GROUP BY doc_id),
dd0_b2 AS (SELECT doc_id, wgt AS s FROM w WHERE term = 'customer'),
dd0 AS (
  SELECT 'dd0' AS query_id, COALESCE(a.doc_id, b.doc_id) AS doc_id,
         CASE WHEN a.s IS NOT NULL AND b.s IS NOT NULL
              THEN GREATEST(a.s, b.s)
                   + 0.3 * (a.s + b.s - GREATEST(a.s, b.s))
              ELSE COALESCE(a.s, b.s) END AS score
  FROM dd0_b1 a FULL OUTER JOIN dd0_b2 b ON a.doc_id = b.doc_id
),
dd1_b1 AS (SELECT doc_id, SUM(wgt) AS s FROM w
           WHERE term IN ('hash', 'merge')
           GROUP BY doc_id HAVING COUNT(*) = 2),
dd1_b2 AS (SELECT doc_id, wgt AS s FROM w WHERE term = 'scan'),
dd1 AS (
  SELECT 'dd1' AS query_id, COALESCE(a.doc_id, b.doc_id) AS doc_id,
         CASE WHEN a.s IS NOT NULL AND b.s IS NOT NULL
              THEN GREATEST(a.s, b.s)
                   + 0.5 * (a.s + b.s - GREATEST(a.s, b.s))
              ELSE COALESCE(a.s, b.s) END AS score
  FROM dd1_b1 a FULL OUTER JOIN dd1_b2 b ON a.doc_id = b.doc_id
),
dd2_g AS (SELECT doc_id, MAX(wgt) AS s FROM w
          WHERE term IN ('spark', 'window') GROUP BY doc_id),
dd2_l AS (SELECT doc_id, wgt AS s FROM w WHERE term = 'merge'),
dd2 AS (
  SELECT 'dd2' AS query_id, COALESCE(a.doc_id, b.doc_id) AS doc_id,
         COALESCE(a.s, 0) + COALESCE(b.s, 0) AS score
  FROM dd2_g a FULL OUTER JOIN dd2_l b ON a.doc_id = b.doc_id
),
ddall AS (
  SELECT * FROM dd0 UNION ALL SELECT * FROM dd1 UNION ALL SELECT * FROM dd2
),
ddrun AS (
  SELECT query_id, doc_id, score,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY score DESC, doc_id ASC
         ) AS INTEGER) AS rank
  FROM ddall
)
SELECT query_id, doc_id, ROUND(score, 6) AS score, rank
FROM ddrun WHERE rank <= 10
"""

# simple_query_string oracle: the clause tables are the HAND-COMPILED
# OR-of-AND-branches decomposition of SQS_QUERIES under default_operator
# 'or' (parser unit-tested in tests/test_round4s.py — the oracle checks
# the retrieval math). Per branch: every positive segment is one MUST
# GROUP (gid) that matches when ANY of its clauses/expansions matches
# (sq7's 'hash-table' analyzes to a two-term group); a branch qualifies
# when its matched-group count equals the branch's hand-coded group
# count (sq4/sq5-branch-0 carry a dead OOV group and can never qualify);
# not-terms are branch-scoped (sq9) with lifted global negations expanded
# onto every branch of their query (sq2); the final score is the SUM over
# qualifying branches (sq0 docs matching both spark and merge accumulate
# both branches); sq6 has no positive branch and must yield nothing.
_SIMPLE_QS_SQL = f"""
WITH {_TOKP},
{_BM25_CORE},
sq_term(query_id, br, gid, term) AS (VALUES
  ('sq0', 0, 0, 'spark'), ('sq0', 1, 0, 'merge'),
  ('sq1', 0, 0, 'spark'), ('sq1', 0, 1, 'join'),
  ('sq4', 0, 0, 'nosuchterm'), ('sq4', 0, 1, 'spark'),
  ('sq5', 0, 0, 'spark'), ('sq5', 0, 1, 'nosuchterm'), ('sq5', 1, 0, 'join'),
  ('sq7', 0, 0, 'hash'), ('sq7', 0, 0, 'table'), ('sq7', 1, 0, 'join'),
  ('sq8', 1, 0, 'scan'),
  ('sq9', 0, 0, 'merge'), ('sq9', 1, 0, 'hash')),
sq_prefix(query_id, br, gid, pat) AS (VALUES ('sq3', 0, 0, 'sp')),
sq_fuzzy(query_id, br, gid, qterm, edits) AS (VALUES ('sq3', 1, 0, 'windoq', 1)),
sq_phrase(query_id, br, gid, ptext) AS (VALUES
  ('sq2', 0, 0, 'part filter scan'),
  ('sq8', 0, 0, 'sort merge')),
sq_not(query_id, br, nterm) AS (VALUES
  ('sq2', 0, 'window'), ('sq9', 0, 'window')),
sq_nmust(query_id, br, n) AS (VALUES
  ('sq0', 0, 1), ('sq0', 1, 1),
  ('sq1', 0, 2),
  ('sq2', 0, 1),
  ('sq3', 0, 1), ('sq3', 1, 1),
  ('sq4', 0, 2),
  ('sq5', 0, 2), ('sq5', 1, 1),
  ('sq7', 0, 1), ('sq7', 1, 1),
  ('sq8', 0, 1), ('sq8', 1, 1),
  ('sq9', 0, 1), ('sq9', 1, 1)),
sqp_cand AS (
  SELECT p.query_id, p.br, p.gid, d.term, d.df
  FROM sq_prefix p JOIN dfreq d ON d.term LIKE p.pat || '%'
),
sqp_cap AS (
  SELECT query_id, br, gid, term, CAST(1.0 AS DOUBLE) AS wgt FROM (
    SELECT query_id, br, gid, term,
           ROW_NUMBER() OVER (PARTITION BY query_id, br, gid
                              ORDER BY df DESC, term ASC) AS r
    FROM sqp_cand
  ) WHERE r <= {QS_MAX_EXP}
),
sqf_cand AS (
  SELECT f.query_id, f.br, f.gid, d.term,
         1.0 / (1 + levenshtein(d.term, f.qterm)) AS wgt,
         levenshtein(d.term, f.qterm) AS ed, d.df
  FROM sq_fuzzy f JOIN dfreq d
    ON substr(d.term, 1, 1) = substr(f.qterm, 1, 1)
   AND abs(len(d.term) - len(f.qterm)) <= f.edits
   AND levenshtein(d.term, f.qterm) <= f.edits
),
sqf_cap AS (
  SELECT query_id, br, gid, term, wgt FROM (
    SELECT query_id, br, gid, term, wgt,
           ROW_NUMBER() OVER (PARTITION BY query_id, br, gid
                              ORDER BY ed ASC, df DESC, term ASC) AS r
    FROM sqf_cand
  ) WHERE r <= {QS_MAX_EXP}
),
sq_sc AS (
  SELECT query_id, br, gid, term, CAST(1.0 AS DOUBLE) AS wgt FROM sq_term
  UNION ALL SELECT query_id, br, gid, term, wgt FROM sqp_cap
  UNION ALL SELECT query_id, br, gid, term, wgt FROM sqf_cap
),
sq_tbase AS (
  SELECT s.query_id, s.br, tf.doc_id,
         SUM(s.wgt
             * ln(1 + (g.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
             * tf.tf / (tf.tf + {K1} * (1 - {B} + {B} * dl.doclen / g.avgdl))) AS t_score,
         COUNT(DISTINCT s.gid) AS t_must
  FROM tf
  JOIN sq_sc s ON s.term = tf.term
  JOIN dl ON dl.doc_id = tf.doc_id
  JOIN dfreq ON dfreq.term = tf.term
  CROSS JOIN g
  GROUP BY s.query_id, s.br, tf.doc_id
),
sq_ptoks AS (
  SELECT query_id, br, gid,
         list_filter(regexp_split_to_array(lower(ptext), '[^a-z0-9]+'), x -> x <> '') AS toks
  FROM sq_phrase
),
sq_pterm AS (
  SELECT query_id, br, gid, CAST(u.i - 1 AS BIGINT) AS off, toks[u.i] AS term
  FROM sq_ptoks, UNNEST(generate_series(1, len(toks))) AS u(i)
),
sq_plen AS (SELECT query_id, br, gid, COUNT(*) AS plen FROM sq_pterm GROUP BY query_id, br, gid),
sq_occm AS (
  SELECT p.query_id, p.br, p.gid, k.doc_id, k.pos - p.off AS adj, COUNT(DISTINCT p.off) AS m
  FROM sq_pterm p JOIN tokp k ON k.term = p.term
  GROUP BY p.query_id, p.br, p.gid, k.doc_id, k.pos - p.off
),
sq_pmatch AS (
  SELECT DISTINCT o.query_id, o.br, o.gid, o.doc_id
  FROM sq_occm o
  JOIN sq_plen l ON l.query_id = o.query_id AND l.br = o.br
                AND l.gid = o.gid AND o.m = l.plen
),
sq_pqt AS (
  SELECT query_id, br, gid, term, CAST(COUNT(*) AS DOUBLE) AS qtf
  FROM sq_pterm GROUP BY query_id, br, gid, term
),
sq_pscored AS (
  SELECT q.query_id, q.br, q.gid, tf.doc_id,
         SUM(q.qtf
             * ln(1 + (g.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
             * tf.tf / (tf.tf + {K1} * (1 - {B} + {B} * dl.doclen / g.avgdl))) AS score
  FROM tf
  JOIN sq_pqt q ON q.term = tf.term
  JOIN dl ON dl.doc_id = tf.doc_id
  JOIN dfreq ON dfreq.term = tf.term
  CROSS JOIN g
  GROUP BY q.query_id, q.br, q.gid, tf.doc_id
),
sq_pm AS (
  SELECT m.query_id, m.br, m.doc_id,
         SUM(s.score) AS p_score,
         COUNT(DISTINCT m.gid) AS p_must
  FROM sq_pmatch m
  JOIN sq_pscored s ON s.query_id = m.query_id AND s.br = m.br
                   AND s.gid = m.gid AND s.doc_id = m.doc_id
  GROUP BY m.query_id, m.br, m.doc_id
),
sq_comb AS (
  SELECT COALESCE(b.query_id, p.query_id) AS query_id,
         COALESCE(b.br, p.br) AS br,
         COALESCE(b.doc_id, p.doc_id) AS doc_id,
         COALESCE(b.t_score, 0) + COALESCE(p.p_score, 0) AS score,
         COALESCE(b.t_must, 0) + COALESCE(p.p_must, 0) AS must_m
  FROM sq_tbase b FULL JOIN sq_pm p
    ON p.query_id = b.query_id AND p.br = b.br AND p.doc_id = b.doc_id
),
sq_bfilt AS (
  SELECT c.query_id, c.br, c.doc_id, c.score
  FROM sq_comb c
  JOIN sq_nmust n ON n.query_id = c.query_id AND n.br = c.br
  WHERE c.must_m = n.n
    AND NOT EXISTS (
      SELECT 1 FROM sq_not x JOIN tok k ON k.term = x.nterm
      WHERE x.query_id = c.query_id AND x.br = c.br AND k.doc_id = c.doc_id
    )
),
sq_sum AS (
  SELECT query_id, doc_id, SUM(score) AS score
  FROM sq_bfilt GROUP BY query_id, doc_id
),
sq_srun AS (
  SELECT query_id, doc_id, score,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY score DESC, doc_id ASC
         ) AS INTEGER) AS rank
  FROM sq_sum
)
SELECT query_id, doc_id, ROUND(score, 6) AS score, rank
FROM sq_srun WHERE rank <= 10
"""

_SNIPPET_W = 12

_SNIPPET_SQL = f"""
WITH {_TOKP},
{_BM25_CORE},
{_Q_SCORED_CTES},
run10 AS (
  SELECT query_id, doc_id FROM (
    SELECT query_id, doc_id,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
    FROM scored
  ) WHERE rank <= 10
),
occ AS (
  SELECT r.query_id, r.doc_id, k.pos, k.term
  FROM run10 r
  JOIN qt ON qt.query_id = r.query_id
  JOIN tokp k ON k.doc_id = r.doc_id AND k.term = qt.term
),
cand AS (
  SELECT o1.query_id, o1.doc_id, o1.pos AS start, COUNT(DISTINCT o2.term) AS nhit
  FROM occ o1 JOIN occ o2 ON o2.query_id = o1.query_id AND o2.doc_id = o1.doc_id
     AND o2.pos >= o1.pos AND o2.pos < o1.pos + {_SNIPPET_W}
  GROUP BY o1.query_id, o1.doc_id, o1.pos
),
chosen AS (
  SELECT query_id, doc_id, start, nhit FROM (
    SELECT query_id, doc_id, start, nhit,
           ROW_NUMBER() OVER (PARTITION BY query_id, doc_id ORDER BY nhit DESC, start ASC) AS rn
    FROM cand
  ) WHERE rn = 1
)
SELECT r.query_id, r.doc_id,
       CAST(COALESCE(c.start, 0) AS BIGINT) AS start,
       CAST(COALESCE(c.nhit, 0) AS INTEGER) AS n_hit_terms,
       array_to_string(
         list_slice(dt.toks,
                    CAST(COALESCE(c.start, 0) + 1 AS BIGINT),
                    CAST(COALESCE(c.start, 0) + {_SNIPPET_W} AS BIGINT)),
         ' ') AS snippet
FROM run10 r
LEFT JOIN chosen c ON c.query_id = r.query_id AND c.doc_id = r.doc_id
JOIN docs_toks dt ON dt.doc_id = r.doc_id
"""

# ES highlighter: same candidate machinery as the snippet oracle, then the
# 2-round greedy (best, anti-overlap, best again) unrolled as CTEs, and
# <em> marking replayed with list_transform
_HIGHLIGHT_SQL = f"""
WITH {_TOKP},
{_BM25_CORE},
{_Q_SCORED_CTES},
run10 AS (
  SELECT query_id, doc_id FROM (
    SELECT query_id, doc_id,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
    FROM scored
  ) WHERE rank <= 10
),
occ AS (
  SELECT r.query_id, r.doc_id, k.pos, k.term
  FROM run10 r
  JOIN qt ON qt.query_id = r.query_id
  JOIN tokp k ON k.doc_id = r.doc_id AND k.term = qt.term
),
cand AS (
  SELECT o1.query_id, o1.doc_id, o1.pos AS start, COUNT(DISTINCT o2.term) AS nhit
  FROM occ o1 JOIN occ o2 ON o2.query_id = o1.query_id AND o2.doc_id = o1.doc_id
     AND o2.pos >= o1.pos AND o2.pos < o1.pos + {_SNIPPET_W}
  GROUP BY o1.query_id, o1.doc_id, o1.pos
),
pick1 AS (
  SELECT query_id, doc_id, start, nhit FROM (
    SELECT query_id, doc_id, start, nhit,
           ROW_NUMBER() OVER (PARTITION BY query_id, doc_id ORDER BY nhit DESC, start ASC) AS rn
    FROM cand
  ) WHERE rn = 1
),
cand2 AS (
  SELECT c.query_id, c.doc_id, c.start, c.nhit
  FROM cand c JOIN pick1 p ON p.query_id = c.query_id AND p.doc_id = c.doc_id
  WHERE abs(c.start - p.start) >= {_SNIPPET_W}
),
pick2 AS (
  SELECT query_id, doc_id, start, nhit FROM (
    SELECT query_id, doc_id, start, nhit,
           ROW_NUMBER() OVER (PARTITION BY query_id, doc_id ORDER BY nhit DESC, start ASC) AS rn
    FROM cand2
  ) WHERE rn = 1
),
frags AS (
  SELECT query_id, doc_id, 1 AS frag_idx, start, nhit FROM pick1
  UNION ALL
  SELECT query_id, doc_id, 2 AS frag_idx, start, nhit FROM pick2
),
qlist AS (SELECT query_id, list(DISTINCT term) AS qts FROM qtok GROUP BY query_id)
SELECT f.query_id, f.doc_id, CAST(f.frag_idx AS INTEGER) AS frag_idx,
       CAST(f.start AS BIGINT) AS start, CAST(f.nhit AS INTEGER) AS n_hit_terms,
       array_to_string(
         list_transform(
           list_slice(dt.toks, CAST(f.start + 1 AS BIGINT), CAST(f.start + {_SNIPPET_W} AS BIGINT)),
           t -> CASE WHEN list_contains(l.qts, t) THEN '<em>' || t || '</em>' ELSE t END),
         ' ') AS fragment
FROM frags f
JOIN docs_toks dt ON dt.doc_id = f.doc_id
JOIN qlist l ON l.query_id = f.query_id
"""

_BM25F_TITLE_W, _BM25F_TITLE_B = 2.0, 0.75
_BM25F_BODY_W, _BM25F_BODY_B = 1.0, 0.4

_BM25F_SQL = f"""
WITH docs_toks AS (
  SELECT CAST(d.doc_id AS VARCHAR) AS doc_id,
         list_filter(regexp_split_to_array(lower(d.text), '[^a-z0-9]+'), x -> x <> '') AS toks
  FROM documents d
),
fields AS (
  SELECT doc_id, list_slice(toks, 1, 8) AS title,
         list_slice(toks, 9, len(toks)) AS body
  FROM docs_toks
),
ftok AS (
  SELECT doc_id, 'title' AS field, t.term FROM fields, UNNEST(title) AS t(term)
  UNION ALL
  SELECT doc_id, 'body' AS field, t.term FROM fields, UNNEST(body) AS t(term)
),
flen AS (
  SELECT doc_id, 'title' AS field, CAST(len(title) AS DOUBLE) AS flen FROM fields
  UNION ALL
  SELECT doc_id, 'body' AS field, CAST(len(body) AS DOUBLE) AS flen FROM fields
),
tff AS (SELECT doc_id, field, term, CAST(COUNT(*) AS DOUBLE) AS tf FROM ftok GROUP BY doc_id, field, term),
avgf AS (SELECT field, AVG(flen) AS avgflen FROM flen GROUP BY field),
nd AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents),
dff AS (SELECT term, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS df FROM ftok GROUP BY term),
tfn AS (
  SELECT t.doc_id, t.term,
         SUM((CASE t.field WHEN 'title' THEN {_BM25F_TITLE_W} ELSE {_BM25F_BODY_W} END) * t.tf
             / (1 - (CASE t.field WHEN 'title' THEN {_BM25F_TITLE_B} ELSE {_BM25F_BODY_B} END)
                  + (CASE t.field WHEN 'title' THEN {_BM25F_TITLE_B} ELSE {_BM25F_BODY_B} END)
                    * l.flen / a.avgflen)) AS tfn
  FROM tff t
  JOIN flen l ON l.doc_id = t.doc_id AND l.field = t.field
  JOIN avgf a ON a.field = t.field
  GROUP BY t.doc_id, t.term
),
q(query_id, text) AS (VALUES {_Q_VALUES}),
qtok AS (
  SELECT q.query_id, t.term
  FROM q, UNNEST(regexp_split_to_array(lower(q.text), '[^a-z0-9]+')) AS t(term)
  WHERE t.term <> ''
),
qt AS (SELECT query_id, term, CAST(COUNT(*) AS DOUBLE) AS qtf FROM qtok GROUP BY query_id, term),
scored AS (
  SELECT qt.query_id, tfn.doc_id,
         SUM(qt.qtf
             * ln(1 + (nd.n_docs - dff.df + 0.5) / (dff.df + 0.5))
             * tfn.tfn / (tfn.tfn + {K1})) AS score
  FROM tfn
  JOIN qt ON qt.term = tfn.term
  JOIN dff ON dff.term = tfn.term
  CROSS JOIN nd
  GROUP BY qt.query_id, tfn.doc_id
),
frun AS (
  SELECT query_id, doc_id, score,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS INTEGER) AS rank
  FROM scored
)
SELECT query_id, doc_id, ROUND(score, 6) AS score, rank
FROM frun WHERE rank <= 10
"""

_CF_TITLE_W, _CF_BODY_W, _CF_B = 2.0, 1.0, 0.75

_COMBINED_FIELDS_SQL = f"""
WITH docs_toks AS (
  SELECT CAST(d.doc_id AS VARCHAR) AS doc_id,
         list_filter(regexp_split_to_array(lower(d.text), '[^a-z0-9]+'), x -> x <> '') AS toks
  FROM documents d
),
fields AS (
  SELECT doc_id, list_slice(toks, 1, 8) AS title,
         list_slice(toks, 9, len(toks)) AS body
  FROM docs_toks
),
ftok AS (
  SELECT doc_id, t.term, CAST({_CF_TITLE_W} AS DOUBLE) AS w
  FROM fields, UNNEST(title) AS t(term)
  UNION ALL
  SELECT doc_id, t.term, CAST({_CF_BODY_W} AS DOUBLE) AS w
  FROM fields, UNNEST(body) AS t(term)
),
tfw AS (SELECT doc_id, term, SUM(w) AS tfw FROM ftok GROUP BY doc_id, term),
dlen AS (
  SELECT doc_id,
         {_CF_TITLE_W} * len(title) + {_CF_BODY_W} * len(body) AS dlen
  FROM fields
),
g AS (SELECT AVG(dlen) AS avgdl, CAST(COUNT(*) AS DOUBLE) AS n_docs FROM dlen),
dff AS (SELECT term, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS df FROM ftok GROUP BY term),
q(query_id, text) AS (VALUES {_Q_VALUES}),
qtok AS (
  SELECT q.query_id, t.term
  FROM q, UNNEST(regexp_split_to_array(lower(q.text), '[^a-z0-9]+')) AS t(term)
  WHERE t.term <> ''
),
qt AS (SELECT query_id, term, CAST(COUNT(*) AS DOUBLE) AS qtf FROM qtok GROUP BY query_id, term),
scored AS (
  SELECT qt.query_id, tfw.doc_id,
         SUM(qt.qtf
             * ln(1 + (g.n_docs - dff.df + 0.5) / (dff.df + 0.5))
             * tfw.tfw
             / (tfw.tfw + {K1} * (1 - {_CF_B} + {_CF_B} * dlen.dlen / g.avgdl))) AS score
  FROM tfw
  JOIN qt ON qt.term = tfw.term
  JOIN dff ON dff.term = tfw.term
  JOIN dlen ON dlen.doc_id = tfw.doc_id
  CROSS JOIN g
  GROUP BY qt.query_id, tfw.doc_id
),
cfrun AS (
  SELECT query_id, doc_id, score,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS INTEGER) AS rank
  FROM scored
)
SELECT query_id, doc_id, ROUND(score, 6) AS score, rank
FROM cfrun WHERE rank <= 10
"""

_RM3_FB_DOCS, _RM3_FB_TERMS, _RM3_ALPHA = 10, 10, 0.5

_RM3_SQL = f"""
WITH {_TOK},
tf AS (SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf FROM tok GROUP BY doc_id, term),
dl AS (SELECT doc_id, CAST(COUNT(*) AS DOUBLE) AS doclen FROM tok GROUP BY doc_id),
g AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(doclen) AS avgdl FROM dl),
dfreq AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY term),
q(query_id, text) AS (VALUES {_Q_VALUES}),
qtok AS (
  SELECT q.query_id, t.term
  FROM q, UNNEST(regexp_split_to_array(lower(q.text), '[^a-z0-9]+')) AS t(term)
  WHERE t.term <> ''
),
qt AS (SELECT query_id, term, CAST(COUNT(*) AS DOUBLE) AS qtf FROM qtok GROUP BY query_id, term),
fb_scored AS (
  SELECT qt.query_id, tf.doc_id,
         SUM(qt.qtf
             * ln(1 + (g.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
             * tf.tf / (tf.tf + {K1} * (1 - {B} + {B} * dl.doclen / g.avgdl))) AS score
  FROM tf
  JOIN qt ON qt.term = tf.term
  JOIN dl ON dl.doc_id = tf.doc_id
  JOIN dfreq ON dfreq.term = tf.term
  CROSS JOIN g
  GROUP BY qt.query_id, tf.doc_id
),
fb_run AS (
  SELECT query_id, doc_id, score FROM (
    SELECT query_id, doc_id, score,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rn
    FROM fb_scored
  ) WHERE rn <= {_RM3_FB_DOCS}
),
s_norm AS (
  SELECT query_id, doc_id,
         score / SUM(score) OVER (PARTITION BY query_id) AS s
  FROM fb_run
),
rm AS (
  SELECT s.query_id, tf.term, ROUND(SUM(s.s * tf.tf / dl.doclen), 9) AS rmw
  FROM s_norm s
  JOIN tf ON tf.doc_id = s.doc_id
  JOIN dl ON dl.doc_id = s.doc_id
  GROUP BY s.query_id, tf.term
),
topt AS (
  SELECT query_id, term, rmw FROM (
    SELECT query_id, term, rmw,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY rmw DESC, term ASC) AS rn
    FROM rm
  ) WHERE rn <= {_RM3_FB_TERMS}
),
topn AS (
  SELECT query_id, term, rmw / SUM(rmw) OVER (PARTITION BY query_id) AS rmn
  FROM topt
),
qn AS (
  SELECT query_id, term, qtf / SUM(qtf) OVER (PARTITION BY query_id) AS qn
  FROM qt
),
fw AS (
  SELECT query_id, term, w FROM (
    SELECT COALESCE(a.query_id, b.query_id) AS query_id,
           COALESCE(a.term, b.term) AS term,
           ROUND({_RM3_ALPHA} * COALESCE(a.qn, 0) + {1 - _RM3_ALPHA} * COALESCE(b.rmn, 0), 9) AS w
    FROM qn a FULL JOIN topn b ON a.query_id = b.query_id AND a.term = b.term
  ) WHERE w > 0
),
rescored AS (
  SELECT fw.query_id, tf.doc_id,
         SUM(fw.w
             * ln(1 + (g.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
             * tf.tf / (tf.tf + {K1} * (1 - {B} + {B} * dl.doclen / g.avgdl))) AS score
  FROM tf
  JOIN fw ON fw.term = tf.term
  JOIN dl ON dl.doc_id = tf.doc_id
  JOIN dfreq ON dfreq.term = tf.term
  CROSS JOIN g
  GROUP BY fw.query_id, tf.doc_id
),
rrun AS (
  SELECT query_id, doc_id, score,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS INTEGER) AS rank
  FROM rescored
)
SELECT query_id, doc_id, ROUND(score, 6) AS score, rank
FROM rrun WHERE rank <= 10
"""

_FACETS_SQL = f"""
WITH {_BM25_CTES},
run10 AS (SELECT query_id, doc_id FROM run WHERE rank <= 10),
hyd AS (
  SELECT r.query_id,
         COALESCE(CAST(d.source AS VARCHAR), '(null)') AS source,
         COALESCE(CAST(d.lang AS VARCHAR), '(null)') AS lang
  FROM run10 r JOIN documents d ON CAST(d.doc_id AS VARCHAR) = r.doc_id
)
SELECT query_id, facet, value, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM (
  SELECT query_id, 'source' AS facet, source AS value FROM hyd
  UNION ALL
  SELECT query_id, 'lang' AS facet, lang AS value FROM hyd
)
GROUP BY query_id, facet, value
"""

_RRF_K0 = 60

# BM25F replica CTE block (ends at `fscored`) shared by the fusion oracles;
# `_BM25F_SQL` above keeps its own copy with unprefixed names.
_BM25F_FSCORED_CTES = f"""fdocs_toks AS (
  SELECT CAST(d.doc_id AS VARCHAR) AS doc_id,
         list_filter(regexp_split_to_array(lower(d.text), '[^a-z0-9]+'), x -> x <> '') AS toks
  FROM documents d
),
ffields AS (
  SELECT doc_id, list_slice(toks, 1, 8) AS title,
         list_slice(toks, 9, len(toks)) AS body
  FROM fdocs_toks
),
fftok AS (
  SELECT doc_id, 'title' AS field, t.term FROM ffields, UNNEST(title) AS t(term)
  UNION ALL
  SELECT doc_id, 'body' AS field, t.term FROM ffields, UNNEST(body) AS t(term)
),
fflen AS (
  SELECT doc_id, 'title' AS field, CAST(len(title) AS DOUBLE) AS flen FROM ffields
  UNION ALL
  SELECT doc_id, 'body' AS field, CAST(len(body) AS DOUBLE) AS flen FROM ffields
),
ftff AS (SELECT doc_id, field, term, CAST(COUNT(*) AS DOUBLE) AS tf FROM fftok GROUP BY doc_id, field, term),
favgf AS (SELECT field, AVG(flen) AS avgflen FROM fflen GROUP BY field),
fnd AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents),
fdff AS (SELECT term, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS df FROM fftok GROUP BY term),
ftfn AS (
  SELECT t.doc_id, t.term,
         SUM((CASE t.field WHEN 'title' THEN {_BM25F_TITLE_W} ELSE {_BM25F_BODY_W} END) * t.tf
             / (1 - (CASE t.field WHEN 'title' THEN {_BM25F_TITLE_B} ELSE {_BM25F_BODY_B} END)
                  + (CASE t.field WHEN 'title' THEN {_BM25F_TITLE_B} ELSE {_BM25F_BODY_B} END)
                    * l.flen / a.avgflen)) AS tfn
  FROM ftff t
  JOIN fflen l ON l.doc_id = t.doc_id AND l.field = t.field
  JOIN favgf a ON a.field = t.field
  GROUP BY t.doc_id, t.term
),
fscored AS (
  SELECT qt.query_id, ftfn.doc_id,
         SUM(qt.qtf
             * ln(1 + (fnd.n_docs - fdff.df + 0.5) / (fdff.df + 0.5))
             * ftfn.tfn / (ftfn.tfn + {K1})) AS score
  FROM ftfn
  JOIN qt ON qt.term = ftfn.term
  JOIN fdff ON fdff.term = ftfn.term
  CROSS JOIN fnd
  GROUP BY qt.query_id, ftfn.doc_id
)"""

_RRF_SQL = f"""
WITH {_BM25_CTES},
run1 AS (SELECT query_id, doc_id, rank FROM run WHERE rank <= 10),
{_BM25F_FSCORED_CTES},
run2 AS (
  SELECT query_id, doc_id, rank FROM (
    SELECT query_id, doc_id,
           CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS INTEGER) AS rank
    FROM fscored
  ) WHERE rank <= 10
),
fused AS (
  SELECT query_id, doc_id, SUM(1.0 / ({_RRF_K0} + rank)) AS score
  FROM (SELECT * FROM run1 UNION ALL SELECT * FROM run2)
  GROUP BY query_id, doc_id
),
rrfrun AS (
  SELECT query_id, doc_id, score,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS INTEGER) AS rank
  FROM fused
)
SELECT query_id, doc_id, ROUND(score, 9) AS score, rank
FROM rrfrun WHERE rank <= 10
"""

# CombSUM / CombMNZ over the SAME two runs, 6 dp-rounded (as the engine
# emits them) BEFORE the per-run per-query min-max normalization, so both
# engines normalize identical inputs. Degenerate normalization -> 1.0.
_COMB_SQL_TMPL = f"""
WITH {_BM25_CTES},
s1 AS (SELECT query_id, doc_id, ROUND(score, 6) AS score FROM run WHERE rank <= 10),
{_BM25F_FSCORED_CTES},
s2 AS (
  SELECT query_id, doc_id, ROUND(score, 6) AS score FROM (
    SELECT query_id, doc_id, score,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
    FROM fscored
  ) WHERE rank <= 10
),
n1 AS (
  SELECT query_id, doc_id,
         CASE WHEN mx = mn THEN CAST(1.0 AS DOUBLE)
              ELSE (score - mn) / (mx - mn) END AS ns
  FROM (SELECT query_id, doc_id, score,
               MIN(score) OVER (PARTITION BY query_id) AS mn,
               MAX(score) OVER (PARTITION BY query_id) AS mx FROM s1)
),
n2 AS (
  SELECT query_id, doc_id,
         CASE WHEN mx = mn THEN CAST(1.0 AS DOUBLE)
              ELSE (score - mn) / (mx - mn) END AS ns
  FROM (SELECT query_id, doc_id, score,
               MIN(score) OVER (PARTITION BY query_id) AS mn,
               MAX(score) OVER (PARTITION BY query_id) AS mx FROM s2)
),
comb AS (
  SELECT query_id, doc_id, SUM(ns) AS s, CAST(COUNT(*) AS DOUBLE) AS m
  FROM (SELECT * FROM n1 UNION ALL SELECT * FROM n2)
  GROUP BY query_id, doc_id
),
cfinal AS (SELECT query_id, doc_id, ROUND({{expr}}, 6) AS score FROM comb)
SELECT query_id, doc_id, score, rank FROM (
  SELECT query_id, doc_id, score,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS INTEGER) AS rank
  FROM cfinal
) WHERE rank <= 10
"""

# ES date_histogram (calendar month) over the BM25 top-10 hit set; the
# timestamp is synthesized identically in both engines (epoch +
# doc_id * 7 h — the fixtures' deterministic-ts rule), bucket keyed by
# its start as fixed text so the compare is representation-independent.
_DH_CTES = f"""{_BM25_CTES},
run10 AS (SELECT query_id, doc_id FROM run WHERE rank <= 10),
ts AS (
  SELECT CAST(d.doc_id AS VARCHAR) AS doc_id,
         TIMESTAMP '2024-01-01 00:00:00' + CAST(d.doc_id AS BIGINT) * INTERVAL 7 HOUR AS warc_ts
  FROM documents d
),
dhist AS (
  SELECT r.query_id,
         strftime(date_trunc('month', t.warc_ts), '%Y-%m-%d %H:%M:%S') AS bucket,
         CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM run10 r JOIN ts t ON t.doc_id = r.doc_id
  GROUP BY r.query_id, bucket
)"""

_DATE_HIST_SQL = f"""
WITH {_DH_CTES}
SELECT query_id, 'warc_ts' AS facet, bucket, n_docs FROM dhist
"""

_FACET_PIPELINE_SQL = f"""
WITH {_DH_CTES}
SELECT query_id, bucket, n_docs,
       CAST(n_docs AS DOUBLE) - LAG(CAST(n_docs AS DOUBLE)) OVER seq AS d_n,
       SUM(CAST(n_docs AS DOUBLE)) OVER (
         PARTITION BY query_id ORDER BY bucket
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_n,
       ROUND(AVG(CAST(n_docs AS DOUBLE)) OVER (
         PARTITION BY query_id ORDER BY bucket
         ROWS BETWEEN 2 PRECEDING AND 1 PRECEDING), 6) AS mov_avg
FROM dhist
WINDOW seq AS (PARTITION BY query_id ORDER BY bucket)
"""

_FACET_BUCKET_SORT_SQL = f"""
WITH {_DH_CTES},
kept AS (SELECT * FROM dhist WHERE n_docs >= 2)
SELECT query_id, bucket, n_docs, pos FROM (
  SELECT query_id, bucket, n_docs,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY n_docs DESC, bucket ASC
         ) AS INTEGER) AS pos
  FROM kept
) WHERE pos <= 2
"""

_SUGGEST_SQL = """
WITH tok AS (
  SELECT CAST(d.doc_id AS VARCHAR) AS doc_id, t.term
  FROM documents d, UNNEST(regexp_split_to_array(lower(d.text), '[^a-z0-9]+')) AS t(term)
  WHERE t.term <> ''
),
dfreq AS (SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df FROM tok GROUP BY term),
p(prefix) AS (VALUES {vals}),
cand AS (
  SELECT p.prefix, d.term, d.df
  FROM dfreq d JOIN p ON d.term LIKE p.prefix || '%'
)
SELECT prefix, term, df, rank FROM (
  SELECT prefix, term, df,
         CAST(ROW_NUMBER() OVER (PARTITION BY prefix ORDER BY df DESC, term ASC) AS INTEGER) AS rank
  FROM cand
) WHERE rank <= 5
""".format(vals=", ".join(f"('{p}')" for p in SUGGEST_PREFIXES))

# field collapsing: full scoring (exhaustive at check scale, engine
# depth=5000 covers every match), best hit per (query, doc_id%37 'host'),
# re-ranked to top-10 — the Lucene collapse contract.
_COLLAPSED_SQL = f"""
WITH {{ctes}},
keyed AS (
  SELECT query_id, doc_id, score,
         'h' || CAST(CAST(doc_id AS BIGINT) % 37 AS VARCHAR) AS collapse_key
  FROM scored
),
best AS (
  SELECT query_id, doc_id, score, collapse_key,
         ROW_NUMBER() OVER (PARTITION BY query_id, collapse_key
                            ORDER BY score DESC, doc_id ASC) AS g
  FROM keyed
)
SELECT query_id, doc_id, ROUND(score, 6) AS score, collapse_key, rank FROM (
  SELECT query_id, doc_id, score, collapse_key,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY score DESC, doc_id ASC) AS INTEGER) AS rank
  FROM best WHERE g = 1
) WHERE rank <= 10
"""

# did-you-mean: vocabulary + df recomputed from the raw corpus; a token is
# misspelled iff absent from the vocabulary (max_query_df=0); candidates
# share the first character, differ by <=2 length and <=2 edits; top-3 by
# (edits ASC, df DESC, term ASC) — DirectSpellChecker's total order.
_SPELL_SQL = """
WITH tok AS (
  SELECT CAST(d.doc_id AS VARCHAR) AS doc_id, t.term
  FROM documents d, UNNEST(regexp_split_to_array(lower(d.text), '[^a-z0-9]+')) AS t(term)
  WHERE t.term <> ''
),
dfreq AS (SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df FROM tok GROUP BY term),
sq(query_id, text) AS (VALUES {vals}),
sqtok AS (
  SELECT DISTINCT sq.query_id, t.term AS token
  FROM sq, UNNEST(regexp_split_to_array(lower(sq.text), '[^a-z0-9]+')) AS t(term)
  WHERE t.term <> ''
),
missp AS (
  SELECT s.query_id, s.token FROM sqtok s
  LEFT JOIN dfreq d ON d.term = s.token
  WHERE COALESCE(d.df, 0) <= 0
),
cand AS (
  SELECT m.token, d.term AS suggestion,
         CAST(levenshtein(d.term, m.token) AS INTEGER) AS edits, d.df
  FROM dfreq d
  JOIN (SELECT DISTINCT token FROM missp) m
    ON substr(d.term, 1, 1) = substr(m.token, 1, 1)
   AND d.term <> m.token
   AND abs(len(d.term) - len(m.token)) <= 2
   AND levenshtein(d.term, m.token) <= 2
),
capped AS (
  SELECT token, suggestion, edits, df,
         CAST(ROW_NUMBER() OVER (PARTITION BY token
                                 ORDER BY edits ASC, df DESC, suggestion ASC) AS INTEGER) AS sug_rank
  FROM cand
)
SELECT m.query_id, m.token, c.suggestion, c.edits, c.df, c.sug_rank
FROM missp m JOIN capped c ON c.token = m.token
WHERE c.sug_rank <= 3
"""

# MoreLikeThis: per-seed interesting terms by ROUND(tf*idf, 9) under
# min_tf=2 / min_df=2 / df<=0.5N gates, top-10 by (interest DESC, term
# ASC); then the weighted-BM25 tail with the seed itself excluded.
_MLT_SQL = f"""
WITH {{prelude}},
seedtf AS (
  SELECT doc_id AS seed_id, term, tf FROM tf
  WHERE doc_id IN ({{seed_ids}}) AND tf >= 2
),
interest AS (
  SELECT s.seed_id, s.term,
         ROUND(s.tf * ln(1 + (g.n_docs - d.df + 0.5) / (d.df + 0.5)), 9) AS wgt
  FROM seedtf s
  JOIN dfreq d ON d.term = s.term
  CROSS JOIN g
  WHERE d.df >= 2 AND d.df <= 1.0 * g.n_docs
),
wterms AS (
  SELECT seed_id AS query_id, term, wgt FROM (
    SELECT seed_id, term, wgt,
           ROW_NUMBER() OVER (PARTITION BY seed_id ORDER BY wgt DESC, term ASC) AS r
    FROM interest
  ) WHERE r <= 10
),
wscored AS (
  SELECT w.query_id, tf.doc_id,
         SUM(w.wgt
             * ln(1 + (g.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
             * tf.tf / (tf.tf + {K1} * (1 - {B} + {B} * dl.doclen / g.avgdl))) AS score
  FROM tf
  JOIN wterms w ON w.term = tf.term AND tf.doc_id <> w.query_id
  JOIN dl ON dl.doc_id = tf.doc_id
  JOIN dfreq ON dfreq.term = tf.term
  CROSS JOIN g
  GROUP BY w.query_id, tf.doc_id
)
SELECT query_id, doc_id, ROUND(score, 6) AS score, rank FROM (
  SELECT query_id, doc_id, score,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY score DESC, doc_id ASC) AS INTEGER) AS rank
  FROM wscored
) WHERE rank <= 10
"""

# explain(): the per-term factor decomposition behind each top-3 hit;
# score must equal the sum of the explained weights.
_EXPLAIN_SQL = f"""
WITH {{ctes}},
parts AS (
  SELECT qt.query_id, tf.doc_id, tf.term, qt.qtf, tf.tf, dfreq.df, dl.doclen,
         ln(1 + (g.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5)) AS idf,
         tf.tf / (tf.tf + {K1} * (1 - {B} + {B} * dl.doclen / g.avgdl)) AS tf_norm
  FROM tf
  JOIN qt ON qt.term = tf.term
  JOIN dl ON dl.doc_id = tf.doc_id
  JOIN dfreq ON dfreq.term = tf.term
  CROSS JOIN g
),
topk AS (
  SELECT query_id, doc_id, score, CAST(rank AS INTEGER) AS rank
  FROM run WHERE rank <= 3
)
SELECT p.query_id, p.doc_id, t.rank, ROUND(t.score, 6) AS score,
       p.term, p.qtf, p.tf, p.df, p.doclen,
       ROUND(p.idf, 6) AS idf, ROUND(p.tf_norm, 6) AS tf_norm,
       ROUND(p.qtf * p.idf * p.tf_norm, 6) AS weight
FROM parts p JOIN topk t ON t.query_id = p.query_id AND t.doc_id = p.doc_id
"""

_QRELS_CTE = f"""
qi(query_id, qidx) AS (VALUES {_Q_IDX_VALUES}),
qrels AS (
  SELECT qi.query_id, CAST(d.doc_id AS VARCHAR) AS doc_id,
         CAST(d.doc_id % 3 + 1 AS INTEGER) AS rel
  FROM qi, documents d
  WHERE d.doc_id % 83 = (7 * qi.qidx + 3) % 83
)"""

_RUN10 = f"""{_BM25_CTES},
run10 AS (SELECT query_id, doc_id, score, rank FROM run WHERE rank <= 10),
{_QRELS_CTE}"""


# ---------------------------------------------------------------------------
# Spark queries
# ---------------------------------------------------------------------------

def q_bm25_topk(spark, sf_dir):
    return _bm25_run(spark, sf_dir, k=10)


_IDX_CACHE: dict[str, str] = {}

# load_index handles memoized per (session, dir): entry index dirs are
# immutable once their cache entry is built (lifecycle entries compute
# their mutations inside the cache-build step, in their own dirs), so a
# handle's snapshot state — driver dictionary memo, manifest snapshot,
# table DataFrames — is reusable across entry calls. Re-loading per call
# re-paid ~3 Spark jobs (dictionary count + toPandas, manifest collect)
# and ~10 parquet re-reads per entry invocation.
_HANDLE_CACHE: dict = {}


def _load_entry_index(spark, d):
    from openmatch_spark.index import load_index

    key = (id(spark), d)
    h = _HANDLE_CACHE.get(key)
    if h is None:
        _HANDLE_CACHE[key] = h = load_index(spark, d)
    return h


def _entry_index(spark, sf_dir):
    """Build (once per sf_dir) and load the shared entry index."""
    from openmatch_spark.fixtures import documents_as_pages
    from openmatch_spark.index import build_index, load_index

    if sf_dir not in _IDX_CACHE:
        d = tempfile.mkdtemp(prefix="om_entry_idx_")
        pages = documents_as_pages(spark, sf_dir, extra_cols=("n_chars",))
        build_index(
            spark, pages, d, analyzer="simple", num_shards=4,
            num_term_buckets=8, block_size=128,
            # doc values: filtered_search_dv + dsl_filtered entries
            store_attrs=["lang", "n_chars"],
        )
        _IDX_CACHE[sf_dir] = d
    return _load_entry_index(spark, _IDX_CACHE[sf_dir])


# index-time synonym contraction (analysis.py): variants rewritten to the
# group's canonical token at build AND query time via the analyzer string
SYN_GROUPS = {"large": ["big", "huge"], "rapid": ["fast", "quick"]}
SYN_QUERIES = [
    ("sy0", "large table"),     # 'large' never occurs raw — only via 'big'
    ("sy1", "fast merge"),      # query-side variant also contracts
    ("sy2", "quick scan value"),
]


def _entry_index_synonyms(spark, sf_dir):
    """Entry index built with the synonym analyzer (once per sf_dir)."""
    from openmatch_spark.analysis import make_synonym_analyzer
    from openmatch_spark.fixtures import documents_as_pages
    from openmatch_spark.index import build_index, load_index

    key = ("syn", sf_dir)
    if key not in _IDX_CACHE:
        d = tempfile.mkdtemp(prefix="om_syn_idx_")
        build_index(
            spark, documents_as_pages(spark, sf_dir), d,
            analyzer=make_synonym_analyzer("simple", SYN_GROUPS),
            num_shards=4, num_term_buckets=8, block_size=128,
        )
        _IDX_CACHE[key] = d
    return _load_entry_index(spark, _IDX_CACHE[key])


def q_bm25_topk_synonyms(spark, sf_dir):
    """BM25 over an index built with index-time synonym CONTRACTION
    ('big'/'huge' -> 'large', 'fast'/'quick' -> 'rapid', frozen in the
    analyzer string in stats.json): queries naming any group member hit
    docs containing any other member, with tf/df accumulated on the
    canonical term. The oracle replays the contraction as a CASE over
    doc tokens and hand-mapped query terms."""
    from openmatch_spark.query import search

    idx = _entry_index_synonyms(spark, sf_dir)
    q = _ldf(spark, SYN_QUERIES, "query_id string, text string")
    run = search(idx, q, k=10)
    return run.select(
        "query_id",
        F.regexp_replace("doc_id", "^doc://", "").alias("doc_id"),
        F.round("score", 6).alias("score"),
        "rank",
    )


def q_bm25_topk_indexed(spark, sf_dir):
    """Same answer as q_bm25_topk, produced by the FULL engine: persistent
    block-max varbyte index + distributed shard top-k kernel. Sharing the
    ad-hoc oracle SQL makes the whole indexed path DuckDB-checked."""
    from openmatch_spark.query import search

    idx = _entry_index(spark, sf_dir)
    run = search(idx, _queries_df(spark), k=10)
    # index doc ids are 'doc://<id>' urls; strip for table-level comparison
    return run.select(
        "query_id",
        F.regexp_replace("doc_id", "^doc://", "").alias("doc_id"),
        F.round("score", 6).alias("score"),
        "rank",
    )


def q_bm25_topk_rebaselined(spark, sf_dir):
    """The incremental-lifecycle proof: HALF the corpus built as the base
    index, the other half drained in as an appended shard (frozen stats +
    extended dictionary — the exact state where incremental scores drift),
    then compact_index(rebaseline_stats=True) re-weights every payload.
    The search result must match the SAME ad-hoc BM25 oracle as a fresh
    full build — DuckDB never saw the lifecycle, only the final answer."""
    from openmatch_spark.fixtures import documents_as_pages
    from openmatch_spark.index import build_index, compact_index, load_index
    from openmatch_spark.query import search

    key = ("rebase", sf_dir)
    if key not in _IDX_CACHE:
        d = tempfile.mkdtemp(prefix="om_entry_rebase_")
        pages = documents_as_pages(spark, sf_dir)
        half = F.pmod(F.xxhash64("url"), F.lit(2))
        build_index(
            spark, pages.where(half == 0), d, analyzer="simple",
            num_shards=2, num_term_buckets=8, block_size=128,
        )
        build_index(
            spark, pages.where(half == 1), d, analyzer="simple",
            num_shards=3, num_term_buckets=8, block_size=128,
            resume=True, extend_dictionary=True, shard_override=2,
        )
        compact_index(spark, d, rebaseline_stats=True)
        _IDX_CACHE[key] = d
    idx = _load_entry_index(spark, _IDX_CACHE[key])
    run = search(idx, _queries_df(spark), k=10)
    return run.select(
        "query_id",
        F.regexp_replace("doc_id", "^doc://", "").alias("doc_id"),
        F.round("score", 6).alias("score"),
        "rank",
    )


_PRUNE_KEEP = 20


def q_bm25_topk_pruned(spark, sf_dir):
    """Static index pruning (Carmel et al. 2001) lifecycle: build, then
    compact_index(prune_keep_per_term=20) keeps only each term's 20
    highest-impact postings (6 dp-rounded weight, doc-order tie-break);
    search over the pruned index is deliberately approximate. The oracle
    recomputes every posting weight from the corpus, applies the SAME
    per-term cut, and scores only the survivors — so agreement certifies
    exactly which postings the prune kept."""
    from openmatch_spark.fixtures import documents_as_pages
    from openmatch_spark.index import build_index, compact_index, load_index
    from openmatch_spark.query import search

    key = ("pruned", sf_dir)
    if key not in _IDX_CACHE:
        d = tempfile.mkdtemp(prefix="om_entry_prune_")
        build_index(
            spark, documents_as_pages(spark, sf_dir), d, analyzer="simple",
            num_shards=2, num_term_buckets=8, block_size=128,
        )
        compact_index(spark, d, prune_keep_per_term=_PRUNE_KEEP)
        _IDX_CACHE[key] = d
    idx = _load_entry_index(spark, _IDX_CACHE[key])
    run = search(idx, _queries_df(spark), k=10)
    return run.select(
        "query_id",
        F.regexp_replace("doc_id", "^doc://", "").alias("doc_id"),
        F.round("score", 6).alias("score"),
        "rank",
    )


_STOP_SUFFIX = "the and of to in is that for with"
STOP_QUERIES = [
    ("w0", "the spark join"),
    ("w1", "scan of data and table"),
    ("w2", "the and of to"),   # all stopwords -> zero rows in both engines
]


def q_bm25_topk_stopped(spark, sf_dir):
    """The 'english_stop' analyzer (simple + Lucene's classic 33-word
    English stop set) end-to-end through the packed index: stopwords are
    dropped at build (no postings, no doclen mass, no dictionary rows)
    and identically at query time via the frozen analyzer string — an
    all-stopword query structurally returns nothing. Corpus stopword-
    injected on doc_id % 4 == 1 so the filter provably bites."""
    from openmatch_spark.fixtures import documents_as_pages
    from openmatch_spark.index import build_index, load_index
    from openmatch_spark.query import search

    key = ("stop", sf_dir)
    if key not in _IDX_CACHE:
        d = tempfile.mkdtemp(prefix="om_entry_stop_")
        base = documents_as_pages(spark, sf_dir)
        did = F.regexp_replace("url", "^doc://", "").cast("long")
        pages = base.withColumn(
            "text",
            F.when(
                did % 4 == 1, F.concat_ws(" ", "text", F.lit(_STOP_SUFFIX))
            ).otherwise(F.col("text")),
        )
        build_index(
            spark, pages, d, analyzer="english_stop", num_shards=2,
            num_term_buckets=4, block_size=128,
        )
        _IDX_CACHE[key] = d
    idx = _load_entry_index(spark, _IDX_CACHE[key])
    run = search(
        idx,
        _ldf(spark, STOP_QUERIES, "query_id string, text string"),
        k=10,
    )
    return run.select(
        "query_id",
        F.regexp_replace("doc_id", "^doc://", "").alias("doc_id"),
        F.round("score", 6).alias("score"),
        "rank",
    )


def q_bm25_topk_deleted(spark, sf_dir):
    """Tombstone-delete lifecycle: build, delete_docs(doc_id % 7 == 2),
    search. Statistics stay FROZEN at build (deleted docs keep contributing
    to df/avgdl until a rebaseline — the Lucene liveDocs semantic), so the
    oracle scores over the FULL corpus and only excludes the deleted docs
    from ranking. Exercises the kernel-side live-docs mask: deleted docs
    must not consume top-k slots (docs from below k surface)."""
    from openmatch_spark.fixtures import documents_as_pages
    from openmatch_spark.index import build_index, delete_docs, load_index
    from openmatch_spark.query import search

    key = ("del", sf_dir)
    if key not in _IDX_CACHE:
        d = tempfile.mkdtemp(prefix="om_entry_del_")
        pages = documents_as_pages(spark, sf_dir)
        build_index(
            spark, pages, d, analyzer="simple", num_shards=4,
            num_term_buckets=8, block_size=128,
        )
        did = F.regexp_replace("url", "^doc://", "").cast("long")
        delete_docs(
            spark, d,
            pages.where(did % 7 == 2).select(F.col("url").alias("doc_id")),
        )
        _IDX_CACHE[key] = d
    idx = _load_entry_index(spark, _IDX_CACHE[key])
    run = search(idx, _queries_df(spark), k=10)
    return run.select(
        "query_id",
        F.regexp_replace("doc_id", "^doc://", "").alias("doc_id"),
        F.round("score", 6).alias("score"),
        "rank",
    )


def q_bm25_topk_upserted(spark, sf_dir):
    """Upsert lifecycle: build over the full corpus, upsert_docs re-ingests
    every doc_id % 5 == 0 with ' upserted' appended to its text (tombstone
    old version + append new segment), then compact(rebaseline_stats=True)
    drops the tombstoned versions physically and recomputes every statistic.
    The oracle is a from-scratch BM25 over the MODIFIED corpus — DuckDB
    never sees the delete/append/merge lifecycle, only the final answer."""
    from openmatch_spark.fixtures import documents_as_pages
    from openmatch_spark.index import (
        build_index,
        compact_index,
        load_index,
        upsert_docs,
    )
    from openmatch_spark.query import search

    key = ("upsert", sf_dir)
    if key not in _IDX_CACHE:
        d = tempfile.mkdtemp(prefix="om_entry_upsert_")
        pages = documents_as_pages(spark, sf_dir)
        build_index(
            spark, pages, d, analyzer="simple", num_shards=4,
            num_term_buckets=8, block_size=128,
        )
        did = F.regexp_replace("url", "^doc://", "").cast("long")
        upsert_docs(
            spark,
            pages.where(did % 5 == 0).withColumn(
                "text", F.concat(F.col("text"), F.lit(" upserted"))
            ),
            d,
        )
        compact_index(spark, d, rebaseline_stats=True)
        _IDX_CACHE[key] = d
    idx = _load_entry_index(spark, _IDX_CACHE[key])
    run = search(idx, _queries_df(spark), k=10)
    return run.select(
        "query_id",
        F.regexp_replace("doc_id", "^doc://", "").alias("doc_id"),
        F.round("score", 6).alias("score"),
        "rank",
    )


def q_bm25_topk_federated(spark, sf_dir):
    """Federated search over THREE doc-disjoint member indexes with
    deliberately different shard/bucket/block geometry
    (query/federated.py search_federated): per-member frozen stats are
    federated into union-global N/avgdl/df and every posting is re-weighted
    with the build's shared expressions, so the run must land on the SAME
    ad-hoc BM25 oracle as q_bm25_topk — DuckDB never sees any index, any
    member split, or any geometry; it only ever computes fresh BM25 over
    the whole corpus (the Lucene MultiReader global-stats semantic)."""
    from openmatch_spark.fixtures import documents_as_pages
    from openmatch_spark.index import build_index, load_index
    from openmatch_spark.query import search_federated

    key = ("fed", sf_dir)
    if key not in _IDX_CACHE:
        pages = documents_as_pages(spark, sf_dir)
        part = F.pmod(F.xxhash64("url"), F.lit(3))
        dirs = []
        for i, (ns, nb, bs) in enumerate([(1, 4, 64), (2, 8, 128), (3, 2, 256)]):
            d = tempfile.mkdtemp(prefix=f"om_entry_fed{i}_")
            build_index(
                spark, pages.where(part == i), d, analyzer="simple",
                num_shards=ns, num_term_buckets=nb, block_size=bs,
            )
            dirs.append(d)
        _IDX_CACHE[key] = dirs
    idxs = [_load_entry_index(spark, d) for d in _IDX_CACHE[key]]
    run = search_federated(idxs, _queries_df(spark), k=10)
    return run.select(
        "query_id",
        F.regexp_replace("doc_id", "^doc://", "").alias("doc_id"),
        F.round("score", 6).alias("score"),
        "rank",
    )


def q_qld_topk(spark, sf_dir):
    """Index-free Dirichlet query-likelihood top-k (query/bm25_df.py
    qld_score_adhoc): mu=1000, Lucene matched-term formulation with the
    zero clamp; one declarative plan the oracle replicates verbatim."""
    from openmatch_spark.query.bm25_df import qld_score_adhoc

    return qld_score_adhoc(
        _docs(spark, sf_dir), _queries_df(spark), k=10,
        analyzer="simple", round_to=6,
    )


_QLD_JM_LAMBDA = 0.25


def q_qld_jm(spark, sf_dir):
    """Jelinek-Mercer-smoothed query likelihood (Lucene's
    LMJelinekMercerSimilarity, lambda=0.25): linear interpolation of the
    document and collection language models. Unlike Dirichlet there is no
    zero clamp — every doc matching any query term ranks."""
    from openmatch_spark.query.bm25_df import qld_jm_score_adhoc

    return qld_jm_score_adhoc(
        _docs(spark, sf_dir), _queries_df(spark), k=10,
        analyzer="simple", lam=_QLD_JM_LAMBDA, round_to=6,
    )


def q_qld_topk_indexed(spark, sf_dir):
    """Same answer via the FULL engine with scoring="qld": precomputed
    Dirichlet payload weights in the block-max varbyte index (zero-clamped
    postings dropped at build), searched by the unchanged BM25 kernel —
    the oracle never sees the index, only the formula."""
    from openmatch_spark.fixtures import documents_as_pages
    from openmatch_spark.index import build_index, load_index
    from openmatch_spark.query import search

    key = ("qld", sf_dir)
    if key not in _IDX_CACHE:
        d = tempfile.mkdtemp(prefix="om_entry_qld_")
        build_index(
            spark, documents_as_pages(spark, sf_dir), d, analyzer="simple",
            num_shards=4, num_term_buckets=8, block_size=128, scoring="qld",
        )
        _IDX_CACHE[key] = d
    idx = _load_entry_index(spark, _IDX_CACHE[key])
    run = search(idx, _queries_df(spark), k=10)
    return run.select(
        "query_id",
        F.regexp_replace("doc_id", "^doc://", "").alias("doc_id"),
        F.round("score", 6).alias("score"),
        "rank",
    )


def q_fuzzy_search(spark, sf_dir):
    """Fuzzy (edit-distance) search over the packed index: misspelled query
    tokens expand to vocabulary terms within 1 edit (same first char, the
    Lucene FuzzyQuery prefix gate), weighted qtf/(1+edits), scored by the
    unchanged pruned BM25 engine. Oracle replicates expansion + cap + BM25
    from first principles with DuckDB's levenshtein."""
    from openmatch_spark.query import search_fuzzy

    idx = _entry_index(spark, sf_dir)
    fq = _ldf(spark, FUZZY_QUERIES, "query_id string, text string")
    run = search_fuzzy(
        idx, fq, k=10, max_edits=1, prefix_len=1, max_expansions=FUZZY_MAX_EXP
    )
    return run.select(
        "query_id",
        F.regexp_replace("doc_id", "^doc://", "").alias("doc_id"),
        F.round("score", 6).alias("score"),
        "rank",
    )


def q_prefix_search(spark, sf_dir):
    """Prefix (trailing-wildcard) search ranking DOCS: each query token
    expands to the vocabulary terms it prefixes (top max_expansions by df —
    the autocomplete-popularity cap), scored as plain BM25 terms."""
    from openmatch_spark.query import search_prefix

    idx = _entry_index(spark, sf_dir)
    pq = _ldf(spark, PREFIX_QUERIES, "query_id string, text string")
    run = search_prefix(idx, pq, k=10, max_expansions=PREFIX_MAX_EXP)
    return run.select(
        "query_id",
        F.regexp_replace("doc_id", "^doc://", "").alias("doc_id"),
        F.round("score", 6).alias("score"),
        "rank",
    )


def q_wildcard_search(spark, sf_dir):
    """Wildcard (Lucene WildcardQuery) search over the packed index: each
    pattern (* any run, ? one char) expands to matching vocabulary terms via
    one pruned dictionary scan (SQL LIKE), capped (df DESC, term ASC),
    scored as plain BM25 terms. Oracle replicates tokenize + translate +
    LIKE + cap + BM25 from first principles."""
    from openmatch_spark.query import search_wildcard

    idx = _entry_index(spark, sf_dir)
    wq = _ldf(spark, WILD_QUERIES, "query_id string, text string")
    run = search_wildcard(idx, wq, k=10, max_expansions=WILD_MAX_EXP)
    return run.select(
        "query_id",
        F.regexp_replace("doc_id", "^doc://", "").alias("doc_id"),
        F.round("score", 6).alias("score"),
        "rank",
    )


def q_regexp_search(spark, sf_dir):
    """Regexp (Lucene RegexpQuery) search over the packed index: each
    pattern matches the ENTIRE vocabulary term (implicit anchoring) via one
    pruned dictionary RLIKE scan, capped (df DESC, term ASC), scored as
    plain BM25 terms. Patterns restricted to the Java-regex/RE2 common
    subset so Spark and the DuckDB oracle agree on every match."""
    from openmatch_spark.query import search_regexp

    idx = _entry_index(spark, sf_dir)
    rq = _ldf(spark, REGEXP_QUERIES, "query_id string, text string")
    run = search_regexp(idx, rq, k=10, max_expansions=REGEXP_MAX_EXP)
    return run.select(
        "query_id",
        F.regexp_replace("doc_id", "^doc://", "").alias("doc_id"),
        F.round("score", 6).alias("score"),
        "rank",
    )


def q_synonym_search(spark, sf_dir):
    """Query-side synonym expansion (Lucene SynonymQuery): each analyzed
    query token also matches its weighted variants; per-(query, term)
    weights sum. Oracle builds the same weighted term list in SQL and runs
    plain BM25 over it."""
    from openmatch_spark.query import search_synonyms

    idx = _entry_index(spark, sf_dir)
    run = search_synonyms(idx, _queries_df(spark), SYNONYMS, k=10)
    return run.select(
        "query_id",
        F.regexp_replace("doc_id", "^doc://", "").alias("doc_id"),
        F.round("score", 6).alias("score"),
        "rank",
    )


def q_search_after(spark, sf_dir):
    """Deep pagination: page 2 (k=5 after page-1 cursors) must equal ranks
    6..10 of the deep run. The engine restricts candidates inside the
    per-shard kernels (cursor-aware top-k) — the oracle just slices the
    full window, which the engine never materializes."""
    from openmatch_spark.query import page_cursors, search_after

    idx = _entry_index(spark, sf_dir)
    q = _queries_df(spark)
    p1 = search_after(idx, q, None, k=5)
    p2 = search_after(idx, q, page_cursors(p1), k=5)
    return p2.select(
        "query_id",
        F.regexp_replace("doc_id", "^doc://", "").alias("doc_id"),
        F.round("score", 6).alias("score"),
        "rank",
    )


def q_filtered_search(spark, sf_dir):
    """Attribute-filtered BM25 (Lucene filter context): only lang='en' docs
    compete for the top-k, but idf/avgdl stay corpus-wide, so each hit's
    score is bit-identical to its unfiltered score. Routed by selectivity
    (keep-mask here); the three routes are pytest-proven identical."""
    from openmatch_spark.query import search_filtered

    idx = _entry_index(spark, sf_dir)
    allowed = (
        _docs(spark, sf_dir)
        .where(F.col("lang") == "en")
        .select(F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("doc_id"))
    )
    run = search_filtered(idx, _queries_df(spark), allowed, k=10)
    return run.select(
        "query_id",
        F.regexp_replace("doc_id", "^doc://", "").alias("doc_id"),
        F.round("score", 6).alias("score"),
        "rank",
    )


def q_dsl_search(spark, sf_dir):
    """ES Query-DSL front door (query/dsl.py search_dsl): the boolean
    fixture queries re-expressed as bool/match/term JSON dicts and
    compiled onto the shared clause executor — must land on the SAME
    oracle as bm25_boolean (role semantics, OOV-must kill, qtf-equivalent
    per-token decomposition, must_not exclusion)."""
    from openmatch_spark.query import search_dsl

    idx = _entry_index(spark, sf_dir)
    dsl = {}
    for qid, must, should, must_not in BOOL_QUERIES:
        body = {}
        if must:
            body["must"] = [{"match": {"text": must}}]
        if should:
            body["should"] = [{"match": {"text": should}}]
        if must_not:
            body["must_not"] = [{"match": {"text": must_not}}]
        dsl[qid] = {"bool": body}
    run = search_dsl(idx, dsl, k=10)
    return run.select(
        "query_id",
        F.regexp_replace("doc_id", "^doc://", "").alias("doc_id"),
        F.round("score", 6).alias("score"),
        "rank",
    )


def q_dsl_filtered(spark, sf_dir):
    """ES bool.filter context on the DSL front door (query/dsl.py):
    term/range/terms/exists/ids attribute predicates evaluated on the
    entry index's stored doc values gate the candidate set BEFORE the
    top-k cut without touching scores or statistics; df3 is the
    filter-only match_all shape (score 0.0, page = first 10 by doc_id).
    The oracle replays the per-token BM25 sum and every predicate over
    the raw documents table."""
    from openmatch_spark.query import search_dsl

    idx = _entry_index(spark, sf_dir)
    run = search_dsl(idx, DSL_FILTER_QUERIES, k=10)
    return run.select(
        "query_id",
        F.regexp_replace("doc_id", "^doc://", "").alias("doc_id"),
        F.round("score", 6).alias("score"),
        "rank",
    )


def q_dsl_nested(spark, sf_dir):
    """Nested bool on the DSL front door (query/dsl.py item-composition
    path): nested should-groups with their own minimum_should_match,
    OR-groups under must, AND-groups under must_not, nested filter
    context, the must_not filter-only rewrite, and depth-3 nesting. The
    oracle replays each tree as explicit group CTEs over a per-(doc,
    term) BM25 weight table."""
    from openmatch_spark.query import search_dsl

    idx = _entry_index(spark, sf_dir)
    run = search_dsl(idx, DSL_NESTED_QUERIES, k=10)
    return run.select(
        "query_id",
        F.regexp_replace("doc_id", "^doc://", "").alias("doc_id"),
        F.round("score", 6).alias("score"),
        "rank",
    )


def q_dsl_constant_score(spark, sf_dir):
    """constant_score / match_all on the DSL front door: constant pages
    (first k by doc_id at the boost), attribute gate + fixed score bonus
    under must, and exclusion under must_not — all evaluated on the
    index's stored doc values; the oracle replays pages and gates over
    the raw documents table."""
    from openmatch_spark.query import search_dsl

    idx = _entry_index(spark, sf_dir)
    run = search_dsl(idx, DSL_CONST_QUERIES, k=10)
    return run.select(
        "query_id",
        F.regexp_replace("doc_id", "^doc://", "").alias("doc_id"),
        F.round("score", 6).alias("score"),
        "rank",
    )


def q_query_string_grouped(spark, sf_dir):
    """Grouped query_string grammar: parentheses / AND / OR / NOT
    compiled onto the nested-bool tree executor with Lucene classic
    addClause occur rules (incl. the 'a AND b OR c' promote quirk and
    multiplicative group-boost distribution). Oracle: the hand-compiled
    groups replayed as CTEs over a per-(doc, term) BM25 weight table."""
    from openmatch_spark.query import search_query_string

    idx = _entry_index(spark, sf_dir)
    qdf = _ldf(spark, 
        QS_GROUPED_QUERIES, "query_id string, text string"
    )
    run = search_query_string(idx, qdf, k=10)
    return run.select(
        "query_id",
        F.regexp_replace("doc_id", "^doc://", "").alias("doc_id"),
        F.round("score", 6).alias("score"),
        "rank",
    )


def q_dsl_fielded(spark, sf_dir):
    """Multi-field DSL over the fielded index: leaves name any sub-index
    field and score with that field's OWN statistics; bool / dis_max /
    nesting / must_not compose on doc_id (query/fielded.py
    search_dsl_fielded). Oracle: the per-field BM25 weight table over
    the title/body split with each composition replayed as group CTEs."""
    from openmatch_spark.query import search_dsl_fielded

    fx = _entry_fielded(spark, sf_dir)
    run = search_dsl_fielded(fx, DSL_FIELDED_QUERIES, k=10)
    return run.withColumn("score", F.round("score", 6))


def q_dsl_fielded_filtered(spark, sf_dir):
    """Filter context on the fielded DSL: lang predicates evaluate on
    the UNION of sub-index docmaps (doc-level attrs stored per sub-index
    by build_fielded_index store_attrs) and gate node results on doc_id
    without touching per-field scores; constant_score under must is a
    gate + fixed bonus; the must_not filter-only rewrite excludes by
    attribute."""
    from openmatch_spark.query import search_dsl_fielded

    fx = _entry_fielded(spark, sf_dir)
    run = search_dsl_fielded(fx, DSL_FIELDED_FILTERED_QUERIES, k=10)
    return run.withColumn("score", F.round("score", 6))


def q_dsl_explain(spark, sf_dir):
    """ES _explain-style per-clause breakdown (query/dsl.py explain_dsl)
    on a fixed doc set: one row per matched clause with its tree
    location (node, depth, role) and contribution. Oracle: the weight
    table restricted to the doc set with hand-compiled metadata."""
    from openmatch_spark.query import explain_dsl

    idx = _entry_index(spark, sf_dir)
    out = explain_dsl(idx, {"qe0": DSL_EXPLAIN_QUERY}, _DSL_EXPLAIN_DOCS)
    return out.select(
        "query_id",
        F.regexp_replace("doc_id", "^doc://", "").alias("doc_id"),
        "node", "depth", "role", "kind", "text", "boost",
        F.round("score", 6).alias("score"),
    )


def q_dsl_multi_match(spark, sf_dir):
    """multi_match leaves on the fielded DSL: best_fields (dis_max of
    per-field matches, field boosts folded into leaf boosts) and
    most_fields (bool.should sum) — ES's documented decomposition as a
    compile-time rewrite onto already-verified constructs."""
    from openmatch_spark.query import search_dsl_fielded

    fx = _entry_fielded(spark, sf_dir)
    run = search_dsl_fielded(fx, DSL_MULTI_MATCH_QUERIES, k=10)
    return run.withColumn("score", F.round("score", 6))


def q_dsl_filtered_pattern(spark, sf_dir):
    """prefix / wildcard attribute predicates in DSL filter context
    (LIKE compilation with escaped metacharacters), incl. the
    filter-only zero page under a wildcard."""
    from openmatch_spark.query import search_dsl

    idx = _entry_index(spark, sf_dir)
    run = search_dsl(idx, DSL_FILTER_PATTERN_QUERIES, k=10)
    return run.select(
        "query_id",
        F.regexp_replace("doc_id", "^doc://", "").alias("doc_id"),
        F.round("score", 6).alias("score"),
        "rank",
    )


def q_dsl_dismax(spark, sf_dir):
    """dis_max on the DSL front door: max + tie_breaker × rest over
    branches, multi-token branches summing inside the branch, a bool
    branch, and dis_max composed as one bool clause. Oracle: per-branch
    CTEs combined with GREATEST in the same structure."""
    from openmatch_spark.query import search_dsl

    idx = _entry_index(spark, sf_dir)
    run = search_dsl(idx, DSL_DISMAX_QUERIES, k=10)
    return run.select(
        "query_id",
        F.regexp_replace("doc_id", "^doc://", "").alias("doc_id"),
        F.round("score", 6).alias("score"),
        "rank",
    )


def q_filtered_search_dv(spark, sf_dir):
    """The doc-values filter path (query/filtered.py search_filtered
    where=): the lang predicate evaluates on the index's OWN stored
    docmap column (build_index store_attrs) — no corpus access, no
    doc_id join. Shares filtered_search's oracle SQL: the run must be
    bit-identical whether the filter hydrates from the raw corpus or
    from the index's doc values."""
    from openmatch_spark.query import search_filtered

    idx = _entry_index(spark, sf_dir)
    run = search_filtered(idx, _queries_df(spark), where="lang = 'en'", k=10)
    return run.select(
        "query_id",
        F.regexp_replace("doc_id", "^doc://", "").alias("doc_id"),
        F.round("score", 6).alias("score"),
        "rank",
    )


def q_passage_maxp(spark, sf_dir):
    """Passage-chunked document ranking (Dai & Callan MaxP): docs split into
    overlapping token windows (operators/chunking.py, pure column algebra),
    BM25 ranks the PASSAGE corpus (its own N/avgdl/df), each doc scores as
    the max over its passages. Oracle rebuilds chunking with
    generate_series + list_slice and the same two-stage ranking."""
    from openmatch_spark.operators import chunk_passages, score_aggregate
    from openmatch_spark.query.bm25_df import bm25_score_adhoc

    passages = chunk_passages(
        _docs(spark, sf_dir), size=PASSAGE_SIZE, stride=PASSAGE_STRIDE,
        analyzer="simple",
    )
    prun = bm25_score_adhoc(
        passages.select(F.col("passage_id").alias("doc_id"), "text"),
        _queries_df(spark), k=1_000_000, analyzer="simple",
    )
    # rank on the ROUNDED score: overlapping windows make exact cross-doc
    # ties common, and unrounded ulps would decide ranks engine-dependently
    doc_run = score_aggregate(prun, k=10, agg="max", round_to=6)
    return doc_run.select("query_id", "doc_id", "score", "rank")


def q_bm25_boolean(spark, sf_dir):
    """Boolean-structured BM25 over the packed index: MUST terms required
    (an OOV MUST kills the query), MUST_NOT excludes, score = BM25 over
    MUST+SHOULD with query-term-frequency multiplicity. The oracle is a
    from-first-principles SQL replica with EXISTS/required-count filters."""
    from openmatch_spark.query import search_boolean

    idx = _entry_index(spark, sf_dir)
    bq = _ldf(spark, 
        BOOL_QUERIES, "query_id string, must string, should string, must_not string"
    )
    run = search_boolean(idx, bq, k=10)
    return run.select(
        "query_id",
        F.regexp_replace("doc_id", "^doc://", "").alias("doc_id"),
        F.round("score", 6).alias("score"),
        "rank",
    )


def q_bm25_boolean_msm(spark, sf_dir):
    """Boolean search with minimum_should_match=1 (Lucene's
    setMinimumNumberShouldMatch): every hit must additionally match at
    least one DISTINCT should term. Must-only queries become
    unsatisfiable (Lucene: a quota above the should-clause count matches
    nothing), and a term in both roles merges into must and cannot fill
    the quota — the oracle replicates both with a matched-should count."""
    from openmatch_spark.query import search_boolean

    idx = _entry_index(spark, sf_dir)
    bq = _ldf(spark, 
        BOOL_QUERIES, "query_id string, must string, should string, must_not string"
    )
    run = search_boolean(idx, bq, k=10, min_should_match=1)
    return run.select(
        "query_id",
        F.regexp_replace("doc_id", "^doc://", "").alias("doc_id"),
        F.round("score", 6).alias("score"),
        "rank",
    )


# stemming entry: plural forms injected into every third doc so the
# 'english' analyzer has real work; 'queries' stems to 'querie' (NOT
# 'query') — the characteristic minimal-stemmer behavior, kept adversarial
STEM_QUERIES = [
    ("s0", "tables rows"),
    ("s1", "queries query"),
    ("s2", "sparks filters"),
    ("s3", "windows the"),
]
_STEM_SUFFIX = "rows tables columns queries"


def q_bm25_topk_stemmed(spark, sf_dir):
    """The 'english' analyzer (simple + Lucene EnglishMinimalStemFilter)
    end-to-end through the packed index: build tokenizes+stems, the frozen
    analyzer string makes query time stem identically, so plural queries
    match singular docs and vice versa. Oracle replicates the stem as one
    regexp_replace per token over the same plural-injected corpus."""
    from openmatch_spark.fixtures import documents_as_pages
    from openmatch_spark.index import build_index, load_index
    from openmatch_spark.query import search

    key = ("stem", sf_dir)
    if key not in _IDX_CACHE:
        d = tempfile.mkdtemp(prefix="om_entry_stem_")
        base = documents_as_pages(spark, sf_dir)
        did = F.regexp_replace("url", "^doc://", "").cast("long")
        pages = base.withColumn(
            "text",
            F.when(
                did % 3 == 0, F.concat_ws(" ", "text", F.lit(_STEM_SUFFIX))
            ).otherwise(F.col("text")),
        )
        build_index(
            spark, pages, d, analyzer="english", num_shards=2,
            num_term_buckets=4, block_size=128,
        )
        _IDX_CACHE[key] = d
    idx = _load_entry_index(spark, _IDX_CACHE[key])
    run = search(
        idx,
        _ldf(spark, STEM_QUERIES, "query_id string, text string"),
        k=10,
    )
    return run.select(
        "query_id",
        F.regexp_replace("doc_id", "^doc://", "").alias("doc_id"),
        F.round("score", 6).alias("score"),
        "rank",
    )


def q_hit_counts(spark, sf_dir):
    """Total hit counts (Lucene TotalHitCountCollector / ES
    track_total_hits): per query, live docs matching >= 1 term — the same
    pruned postings decode as search with no ranking, no docmap. OOV-only
    queries report 0 rather than vanishing."""
    from openmatch_spark.query import count_hits

    idx = _entry_index(spark, sf_dir)
    return count_hits(idx, _queries_df(spark))


def q_hit_stats(spark, sf_dir):
    """ES stats aggregation over the BM25 top-10 hit set: count/min/max/
    avg/sum of n_chars per query (NULLs excluded from stats, counted out
    of n)."""
    from openmatch_spark.query import hit_stats

    run = _bm25_run(spark, sf_dir, k=10, rounded=False).select(
        "query_id", "doc_id"
    )
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"), "n_chars"
    )
    out = hit_stats(run, docs, ["n_chars"])
    return out.select(
        "query_id", "facet", "n", "min", "max",
        F.round("avg", 6).alias("avg"), F.round("sum", 6).alias("sum"),
    )


def q_sorted_search(spark, sf_dir):
    """Sort-by-attribute search (the ES `sort` surface): the query is a
    filter (any-term match over the packed index), top-10 by n_chars
    ascending, doc_id tiebreak; scores deliberately absent. The tiebreak
    compares the index's 'doc://<id>' urls — a constant prefix, so the
    oracle's tiebreak on the bare id STRING is the same order."""
    from openmatch_spark.query import search_sorted

    idx = _entry_index(spark, sf_dir)
    attrs = _docs(spark, sf_dir).select(
        F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("doc_id"),
        "n_chars",
    )
    run = search_sorted(idx, _queries_df(spark), attrs, "n_chars", k=10)
    return run.select(
        "query_id",
        F.regexp_replace("doc_id", "^doc://", "").alias("doc_id"),
        "sort_value",
        "rank",
    )


def _entry_index_sorted(spark, sf_dir):
    """Entry index built with index_sort='n_chars' (once per sf_dir):
    per-shard doc ordinals follow (n_chars, doc_id), the sort value is
    persisted in the docmap, posting lists are physically field-ordered."""
    from openmatch_spark.index import build_index, load_index

    key = ("isort", sf_dir)
    if key not in _IDX_CACHE:
        d = tempfile.mkdtemp(prefix="om_isort_idx_")
        pages = _docs(spark, sf_dir).select(
            F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("url"),
            F.lit(None).cast("timestamp").alias("warc_ts"),
            F.col("text").cast("binary").alias("html"),
            "text", "lang",
            F.col("n_chars").cast("double").alias("n_chars"),
        )
        build_index(
            spark, pages, d, analyzer="simple", num_shards=4,
            num_term_buckets=8, block_size=128, index_sort="n_chars",
        )
        _IDX_CACHE[key] = d
    return _load_entry_index(spark, _IDX_CACHE[key])


def q_sorted_search_indexed(spark, sf_dir):
    """q_sorted_search answered by an INDEX-SORTED index (Lucene index
    sorting): ordinals follow the sort field, the docmap carries the
    value (no attribute join), and blocks past ceil(k/block_size) are
    pruned at the parquet scan — early termination, plan-tested in
    tests/test_index_sort.py. Shares q_sorted_search's oracle: the
    capped read must produce the identical table."""
    from openmatch_spark.query import search_sorted_indexed

    idx = _entry_index_sorted(spark, sf_dir)
    run = search_sorted_indexed(idx, _queries_df(spark), k=10)
    return run.select(
        "query_id",
        F.regexp_replace("doc_id", "^doc://", "").alias("doc_id"),
        "sort_value",
        "rank",
    )


_LM_LAMBDA = 0.9


def q_lm_perplexity(spark, sf_dir):
    """CCNet-style LM quality signal (operators/lm_score.py): per-doc
    perplexity under a Jelinek-Mercer interpolated bigram model trained on
    the corpus itself (self-scoring mode — zero OOV by construction, which
    the entry asserts via the n_oov column). The oracle rebuilds the full
    model in SQL: unigram/bigram/prefix counts, interpolation with the
    engine's exact float literals, per-doc log-prob fold."""
    from openmatch_spark.operators.lm_score import ngram_lm_scores

    out = ngram_lm_scores(
        _docs(spark, sf_dir).select(
            F.col("doc_id").cast("string").alias("doc_id"), "text"
        ),
        lam=_LM_LAMBDA,
    )
    return out.select(
        "doc_id", "n_tokens", "n_oov",
        F.round("log_prob", 6).alias("log_prob"),
        F.round("perplexity", 6).alias("perplexity"),
    )


# stored percolation rules (query side of the reverse search); covers
# pure-must, should-only, exclusion, and contradictory-role shapes
PERC_RULES = [
    ("p0", "spark join", None, None),
    ("p1", None, "merge sort stream", None),
    ("p2", "spark", None, "window"),
    ("p3", None, "vector column customer", None),
    ("p4", "nosuchterm", "spark", None),
    ("p5", None, None, "spark"),
]
_PERC_VALUES = ", ".join(
    "('{}', {}, {}, {})".format(
        q, *("NULL" if v is None else f"'{v}'" for v in (m, s, n))
    )
    for q, m, s, n in PERC_RULES
)


def q_percolate(spark, sf_dir):
    """Reverse search (ES percolator, query/percolate.py): the stored rule
    set PERC_RULES matched against every document; docs never shuffle on
    their own bulk — the rule term table broadcasts. The msm quota is
    pytest-covered (tests/test_round4f.py) — here it stays 0 so the
    pure-must rules participate (the quota is unconditional, matching
    search_boolean's Lucene semantics)."""
    from openmatch_spark.query import percolate

    stored = _ldf(spark, 
        PERC_RULES, "query_id string, must string, should string, must_not string"
    )
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    return percolate(docs, stored, min_should_match=0)


# Phrase percolation rules (query/percolate.py must_phrase/not_phrase):
# pp0 phrase-only, pp1 phrase + must term, pp2 should terms gated by a
# not_phrase exclusion, pp3 a plain term rule through the same code path.
PERC_PHRASE_RULES = [
    ("pp0", None, None, None, "spark join", None),
    ("pp1", "customer", None, None, "hash merge", None),
    ("pp2", None, "window scan", None, None, "spark join"),
    ("pp3", "merge", None, None, None, None),
]
_PERC_PH_VALUES = ", ".join(
    "('{}', {}, {}, {}, {}, {})".format(
        q, *("NULL" if v is None else f"'{v}'" for v in vals)
    )
    for (q, *vals) in PERC_PHRASE_RULES
)


def q_percolate_phrase(spark, sf_dir):
    """Phrase percolation: must_phrase requires the rule's phrase as
    CONSECUTIVE analyzed tokens in the doc (phrase-only rules live),
    not_phrase excludes occurrence-level (scattered terms do not
    exclude). The oracle replays the offset-adjacency check over the
    positional tokenization."""
    from openmatch_spark.query import percolate

    stored = _ldf(spark, 
        PERC_PHRASE_RULES,
        "query_id string, must string, should string, must_not string,"
        " must_phrase string, not_phrase string",
    )
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    return percolate(docs, stored, min_should_match=0)


_DECAY_ORIGIN, _DECAY_SCALE, _DECAY_DECAY = 500.0, 300.0, 0.5
# the exact float steps query/decay.py performs: sigma2 then 2*sigma2 —
# inlined into the oracle so both engines exponentiate identical doubles
_DECAY_DENOM = 2.0 * (
    -(_DECAY_SCALE * _DECAY_SCALE) / (2.0 * _math.log(_DECAY_DECAY))
)


def q_decay_search(spark, sf_dir):
    """Function-score decay (ES function_score, query/decay.py): the BM25
    top-100 rescored by a Gaussian decay of n_chars around 500 (chars as a
    freshness proxy — the fixture has no timestamp column), re-ranked and
    cut to 10. Docs in the run but missing from the attribute table keep
    multiplier 1.0 (ES missing-field rule)."""
    from openmatch_spark.query import decay_rescore

    run = _bm25_run(spark, sf_dir, k=100, rounded=False)
    attrs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"), "n_chars"
    )
    out = decay_rescore(
        run, attrs, "n_chars",
        origin=_DECAY_ORIGIN, scale=_DECAY_SCALE, decay=_DECAY_DECAY,
        kind="gauss", k=10,
    )
    return out.select(
        "query_id", "doc_id", F.round("score", 6).alias("score"), "rank"
    )


def q_term_vectors(spark, sf_dir):
    """Per-doc term statistics (ES _termvectors with term_statistics,
    query/significant.py): tf, 1-based first position, and df — df over
    the WHOLE corpus, rows restricted to doc_id % 17 == 0 to keep the
    contract payload bounded."""
    from openmatch_spark.query import term_vectors

    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"), "text", F.col("doc_id").alias("_i")
    )
    out = term_vectors(docs)
    keep = docs.where(F.col("_i") % 17 == 0).select("doc_id")
    return out.join(F.broadcast(keep), "doc_id").select(
        "doc_id", "term", "tf", "first_pos", "df"
    )


def q_significant_terms(spark, sf_dir):
    """Significant-terms aggregation (ES significant_terms,
    query/significant.py): per query, the 10 terms most over-represented
    in its BM25 top-10 hit set vs the corpus background, scored by
    document-frequency lift, min fg df 2."""
    from openmatch_spark.query import significant_terms

    run = _bm25_run(spark, sf_dir, k=10, rounded=False).select(
        "query_id", "doc_id"
    )
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    out = significant_terms(run, docs, n=10, min_doc_count=2)
    return out.select(
        "query_id", "term", "fg_df", "bg_df",
        F.round("score", 6).alias("score"), "rank",
    )


# completion-suggester fixture: stored suggestions = the first two tokens
# of every doc, weight = n_chars (max per surface form); prefixes cover
# exact match, a fuzzy-only prefix ('spall' ~ 'small', 1 edit after the
# exact first char), and an OOV prefix
COMPLETION_PREFIXES = ["sp", "sm", "ba", "spall", "xq"]


def q_completion_suggest(spark, sf_dir):
    """ES completion suggester (query/suggest.py suggest_completions):
    top-5 stored suggestions per typed prefix by (weight DESC, suggestion
    ASC), fuzzy mode on (max_edits=1, prefix_length=1) so 'spall' still
    completes to 'small …' entries while exact prefixes behave as plain
    completion."""
    from openmatch_spark.query import suggest_completions

    docs = _docs(spark, sf_dir).select(
        F.filter(
            F.split(F.col("text"), r"\s+"), lambda w: F.length(w) > 0
        ).alias("t"),
        F.col("n_chars").cast("double").alias("weight"),
    ).where(F.size("t") >= 2)
    sugg = docs.select(
        F.concat_ws(
            " ", F.element_at("t", 1), F.element_at("t", 2)
        ).alias("suggestion"),
        "weight",
    )
    return suggest_completions(
        sugg, COMPLETION_PREFIXES, size=5, fuzzy=True, max_edits=1,
        prefix_len=1,
    )


# significant_text fixture: a 7-token boilerplate span appended to every
# doc_id % 4 == 0 doc; each query's hit set contains several such docs, so
# filter_duplicate_text must collapse the span to ONE surviving copy per
# query (fg_df 1 < min_doc_count) — without it the span terms would top
# every list by lift
SIGTEXT_SPAN = "sigtext0 sigtext1 sigtext2 sigtext3 sigtext4 sigtext5 sigtext6"
SIGTEXT_RUN = (
    [("sq1", str(d)) for d in (0, 4, 8, 12, 16, 1, 2, 3, 5, 6)]
    + [("sq2", str(d)) for d in (20, 24, 28, 32, 7, 9, 10, 11)]
    + [("sq3", str(d)) for d in (36, 40, 13, 14, 15, 17)]
)


def _sigtext_corpus(spark, sf_dir):
    base = _docs(spark, sf_dir).where(F.col("doc_id") < 240)
    return base.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat_ws(" ", "text", F.lit(SIGTEXT_SPAN)),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )


def q_significant_text(spark, sf_dir):
    """ES significant_text with filter_duplicate_text (query/significant.py):
    per query, duplicate 5-token sequences in the hit set are removed
    (set-global first occurrence survives) before foreground counting, so
    the injected boilerplate span cannot masquerade as significant; scores
    are document-frequency lift vs the raw-corpus background."""
    from openmatch_spark.query import significant_text

    run = _ldf(spark, SIGTEXT_RUN, "query_id string, doc_id string")
    out = significant_text(
        run, _sigtext_corpus(spark, sf_dir),
        n=10, min_doc_count=2, filter_duplicate_text=True, dup_window=5,
    )
    return out.select(
        "query_id", "term", "fg_df", "bg_df",
        F.round("score", 6).alias("score"), "rank",
    )


_PCTS = (0.25, 0.5, 0.75)


def q_hit_percentiles(spark, sf_dir):
    """ES percentiles aggregation (query/aggregates.py): exact
    PERCENTILE_CONT of n_chars over each query's BM25 top-10 hit set."""
    from openmatch_spark.query import hit_percentiles

    run = _bm25_run(spark, sf_dir, k=10, rounded=False).select(
        "query_id", "doc_id"
    )
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"), "n_chars"
    )
    out = hit_percentiles(run, docs, "n_chars", _PCTS)
    return out.select("query_id", "p", F.round("value", 6).alias("value"))


def q_dsir_weights(spark, sf_dir):
    """DSIR importance weights (operators/dsir.py): every document scored
    by ln p_target/p_raw with target = the lang='en' slice and raw = the
    full corpus, Laplace-smoothed over the union vocabulary. The oracle
    rebuilds both unigram models in SQL."""
    from openmatch_spark.operators.dsir import dsir_weights

    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"), "text", "lang"
    )
    out = dsir_weights(docs, docs.where(F.col("lang") == "en"))
    return out.select(
        "doc_id", "n_tokens",
        F.round("log_weight", 6).alias("log_weight"),
        F.round("avg_log_weight", 6).alias("avg_log_weight"),
    )


_NEG_TERM, _NEG_BOOST = "slow", 0.5


def q_boosting_search(spark, sf_dir):
    """ES/Lucene boosting query (query/decay.py): BM25 top-100 with docs
    containing the negative term demoted by 0.5× (kept, unlike must_not),
    re-ranked and cut to 10."""
    from openmatch_spark.analysis import tokenize_col
    from openmatch_spark.query import boosting_rescore

    run = _bm25_run(spark, sf_dir, k=100, rounded=False)
    neg = (
        _docs(spark, sf_dir)
        .where(F.array_contains(tokenize_col(F.col("text"), "simple"), _NEG_TERM))
        .select(F.col("doc_id").cast("string").alias("doc_id"))
    )
    out = boosting_rescore(run, neg, negative_boost=_NEG_BOOST, k=10)
    return out.select(
        "query_id", "doc_id", F.round("score", 6).alias("score"), "rank"
    )


def q_facet_top_hits(spark, sf_dir):
    """ES top_hits sub-aggregation (operators/facets.py): within each
    query's BM25 top-10 hit set, the top-2 docs per lang bucket by
    (score DESC, doc_id ASC)."""
    from openmatch_spark.operators.facets import facet_top_hits

    run = _bm25_run(spark, sf_dir, k=10, rounded=False).select(
        "query_id", "doc_id", "score"
    )
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"), "lang"
    )
    out = facet_top_hits(run, docs, "lang", n=2)
    return out.select(
        "query_id", "value", "doc_id", F.round("score", 6).alias("score"), "pos"
    )


_TD_K, _TD_SEED = 10, 42


def q_interleave_td(spark, sf_dir):
    """Team-draft interleaving (operators/interleave.py): BM25 top-10 (team
    A) × Dirichlet-QLD top-10 (team B) merged per query with md5-coin tie
    breaks. The oracle replays the draft step by step — ten unrolled
    count/prefer/avail/pick CTEs over the two SQL-replicated runs, with
    the identical portable md5 coin."""
    from openmatch_spark.operators.interleave import team_draft_interleave
    from openmatch_spark.query.bm25_df import qld_score_adhoc

    run_a = _bm25_run(spark, sf_dir, k=10, rounded=False).select(
        "query_id", "doc_id", "rank"
    )
    run_b = qld_score_adhoc(
        _docs(spark, sf_dir), _queries_df(spark), k=10, analyzer="simple"
    ).select("query_id", "doc_id", "rank")
    return team_draft_interleave(run_a, run_b, k=_TD_K, seed=_TD_SEED)


_ERR_MAXREL = 3


def q_err10(spark, sf_dir):
    """ERR@10 (operators/metrics.py): the graded cascade metric per query
    over the BM25 top-10 against the synthetic qrels; the cascade product
    is a rank-ordered cumulative window, which both engines evaluate in
    the same order."""
    from openmatch_spark.operators.metrics import err_at_k

    run = _bm25_run(spark, sf_dir, k=10, rounded=False)
    return err_at_k(run, _qrels(spark, sf_dir), k=10, max_rel=_ERR_MAXREL)


def q_ltr_features(spark, sf_dir):
    """LTR feature extraction (operators/ltr.py): one tokenize pass feeds
    bm25 / Dirichlet / JM scores plus match-coverage and length features
    for the BM25 top-10 candidates; the oracle recomputes every feature
    from the same formulas in one SQL pass."""
    from openmatch_spark.operators.ltr import ltr_features

    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    return ltr_features(
        docs, _queries_df(spark), k=10, analyzer="simple",
        mu=_QLD_MU, lam=_QLD_JM_LAMBDA,
    )


def q_map10(spark, sf_dir):
    """MAP@10 per query (trec_eval convention: divide by ALL judged
    relevant, judged-but-empty queries score 0) over the BM25 top-10."""
    from openmatch_spark.operators.metrics import map_at_k_per_query

    run = _bm25_run(spark, sf_dir, k=10, rounded=False)
    return map_at_k_per_query(run, _qrels(spark, sf_dir), k=10)


_RBP_P = 0.8


def q_rbp10(spark, sf_dir):
    """RBP@10 (Moffat & Zobel): geometric-persistence precision with the
    truncation residual p^k — per query over the BM25 top-10; binary
    relevance from the synthetic qrels. The (1-p) and p^k constants are
    embedded in the oracle at full float repr so both engines use
    bit-identical doubles."""
    from openmatch_spark.operators.metrics import rbp_at_k

    run = _bm25_run(spark, sf_dir, k=10, rounded=False)
    return rbp_at_k(run, _qrels(spark, sf_dir), k=10, p=_RBP_P)


def q_qpp(spark, sf_dir):
    """Query performance prediction (query/qpp.py): per-query pre-
    retrieval idf profile + post-retrieval NQC-style score-distribution
    signals over the BM25 top-10."""
    from openmatch_spark.query.qpp import qpp_signals

    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    run = _bm25_run(spark, sf_dir, k=10, rounded=False).select(
        "query_id", "doc_id", "score"
    )
    return qpp_signals(docs, _queries_df(spark), run)


_TEMP_ALPHA = 0.7


def q_temperature_mixture(spark, sf_dir):
    """Temperature-scaled mixture weights (operators/sampling.py): the
    mT5-style language re-balancing table over the documents' lang
    column at alpha=0.7."""
    from openmatch_spark.operators.sampling import temperature_weights

    return temperature_weights(
        _docs(spark, sf_dir), "lang", alpha=_TEMP_ALPHA
    )


def q_doc_keywords(spark, sf_dir):
    """Per-doc keyword extraction (query/significant.py): top-3 terms per
    document by tf·idf (idf = ln(N/df)), rounded before ranking with a
    term tie-break."""
    from openmatch_spark.query.significant import doc_keywords

    return doc_keywords(
        _docs(spark, sf_dir).select(
            F.col("doc_id").cast("string").alias("doc_id"), "text"
        ),
        n=3,
    )


_FUZZY_DC = dict(n=3, num_hashes=8, num_bands=4, threshold=0.5)


def q_decontaminate_fuzzy(spark, sf_dir):
    """Fuzzy decontamination (operators/decontam.py): every document
    checked for MinHash-LSH near-identity against a 'benchmark' built from
    the doc_id % 97 == 0 slice (verbatim members plus their fixture
    near-dups). The oracle replays the md5 MinHash, the banding, the
    candidate join, and the exact-Jaccard verify bit-for-bit."""
    from openmatch_spark.operators.decontam import decontaminate_fuzzy

    raw = _docs(spark, sf_dir)
    corpus = raw.select(F.col("doc_id").cast("string").alias("doc_id"), "text")
    bench = raw.where(F.col("doc_id") % 97 == 0).select(
        F.concat(F.lit("b"), F.col("doc_id").cast("string")).alias("bench_id"),
        "text",
    )
    return decontaminate_fuzzy(corpus, bench, **_FUZZY_DC)


_PMI_N, _PMI_MIN = 50, 5


def q_collocations(spark, sf_dir):
    """PMI collocations (operators/collocations.py): the corpus's top-50
    adjacent-bigram associations by rounded pointwise mutual information,
    min pair count 5; ranked on ROUNDED pmi with a pair tie-break so both
    engines order identically."""
    from openmatch_spark.operators.collocations import pmi_collocations

    return pmi_collocations(
        _docs(spark, sf_dir).select(
            F.col("doc_id").cast("string").alias("doc_id"), "text"
        ),
        n=_PMI_N,
        min_count=_PMI_MIN,
    )


_MMR_LAM, _MMR_K, _MMR_DEPTH = 0.7, 5, 20


def q_mmr_rerank(spark, sf_dir):
    """MMR diversification (query/diversify.py): the cosine top-20 per
    query re-ranked by greedy maximal marginal relevance (lam=0.7, k=5).
    The oracle replays the SAME greedy step by step — five unrolled
    pick/select CTEs over 6dp-rounded relevance and pairwise cosine, so
    every argmax decision is deterministic on both engines."""
    from openmatch_spark.query.dense import brute_force_topk
    from openmatch_spark.query.diversify import mmr_rerank

    run = brute_force_topk(
        _emb(spark, sf_dir), _query_vectors(spark, sf_dir),
        k=_MMR_DEPTH, metric="cosine",
    ).select("query_id", F.col("vec_id").alias("doc_id"), "score")
    return mmr_rerank(run, _emb(spark, sf_dir), lam=_MMR_LAM, k=_MMR_K)


_CCNET_F1, _CCNET_F2 = 1.0 / 3.0, 2.0 / 3.0


def q_ccnet_buckets(spark, sf_dir):
    """CCNet head/middle/tail selection (operators/lm_score.py): docs
    bucketed by the exact-percentile thresholds of their rounded LM
    perplexity (self-scoring mode). The oracle recomputes the full bigram
    model, the same ROUND-then-quantile_cont thresholds, and the CASE."""
    from openmatch_spark.operators.lm_score import perplexity_buckets

    out = perplexity_buckets(
        _docs(spark, sf_dir).select(
            F.col("doc_id").cast("string").alias("doc_id"), "text"
        ),
        lam=_LM_LAMBDA,
        fractions=(_CCNET_F1, _CCNET_F2),
    )
    return out.select("doc_id", "n_tokens", "perplexity", "bucket")


def _entry_index_with_positions(spark, sf_dir):
    """Entry index plus the positional sidecar (built once per sf_dir)."""
    from openmatch_spark.fixtures import documents_as_pages
    from openmatch_spark.index import build_positions

    idx = _entry_index(spark, sf_dir)
    key = ("pos", sf_dir)
    if key not in _IDX_CACHE:
        build_positions(spark, documents_as_pages(spark, sf_dir), _IDX_CACHE[sf_dir])
        _IDX_CACHE[key] = _IDX_CACHE[sf_dir]
        idx = idx.refresh()
    return idx


def q_phrase_search(spark, sf_dir):
    """Exact-phrase top-k over the delta+varbyte positional sidecar: all
    phrase tokens consecutive in order, phrase_freq = occurrence count,
    ranked by BM25 over the phrase terms. Oracle rebuilds positions in SQL
    via generate_series subscripts and the same adj = pos - offset trick."""
    from openmatch_spark.query import search_phrase

    idx = _entry_index_with_positions(spark, sf_dir)
    pq = _ldf(spark, PHRASE_QUERIES, "query_id string, text string")
    run = search_phrase(idx, pq, k=10)
    return run.select(
        "query_id",
        F.regexp_replace("doc_id", "^doc://", "").alias("doc_id"),
        F.round("score", 6).alias("score"),
        "rank",
        "phrase_freq",
    )


def q_phrase_prefix(spark, sf_dir):
    """Lucene match_phrase_prefix: exact consecutive leading tokens, last
    token expanded as a prefix (cap df DESC, term ASC); scored by BM25
    over the exact tokens. Zero-expansion / OOV-exact queries yield no
    rows (structural, not special-cased)."""
    from openmatch_spark.query import search_phrase_prefix

    idx = _entry_index_with_positions(spark, sf_dir)
    pq = _ldf(spark, 
        PHRASE_PREFIX_QUERIES, "query_id string, text string"
    )
    run = search_phrase_prefix(idx, pq, k=10, max_expansions=PHRASE_PREFIX_MAX_EXP)
    return run.select(
        "query_id",
        F.regexp_replace("doc_id", "^doc://", "").alias("doc_id"),
        F.round("score", 6).alias("score"),
        "rank",
        "phrase_freq",
    )


def q_terms_set(spark, sf_dir):
    """ES terms_set query: per-doc minimum_should_match from an attribute
    (derived 1 + doc_id % 3) — a doc matches iff it holds at least that
    many DISTINCT query terms; BM25-scored, top-10."""
    from openmatch_spark.query import search_terms_set

    idx_q = _queries_df(spark)
    msm = _docs(spark, sf_dir).select(
        F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias(
            "doc_id"
        ),
        (F.lit(1) + F.col("doc_id") % 3).cast("int").alias("msm"),
    )
    idx = _entry_index(spark, sf_dir)
    run = search_terms_set(idx, idx_q, msm, "msm", k=10)
    return run.select(
        "query_id",
        F.regexp_replace("doc_id", "^doc://", "").alias("doc_id"),
        F.round("score", 6).alias("score"),
        "rank", "n_matched", "msm_required",
    )


def q_span_first(spark, sf_dir):
    """Lucene SpanFirstQuery: docs where a query token occurs within the
    first 3 positions; first_pos = earliest qualifying occurrence; BM25
    over the query terms."""
    from openmatch_spark.query import search_span_first

    idx = _entry_index_with_positions(spark, sf_dir)
    q = _ldf(spark, 
        SPAN_FIRST_QUERIES, "query_id string, text string"
    )
    run = search_span_first(idx, q, end=SPAN_FIRST_END, k=10)
    return run.select(
        "query_id",
        F.regexp_replace("doc_id", "^doc://", "").alias("doc_id"),
        F.round("score", 6).alias("score"),
        "rank",
        "first_pos",
    )


def q_span_not(spark, sf_dir):
    """Lucene SpanNotQuery (occurrence-level negation): include-token
    occurrences survive unless an exclude token sits within +-2 positions;
    docs ranked by BM25 over include terms with surviving-occurrence
    counts."""
    from openmatch_spark.query import search_span_not

    idx = _entry_index_with_positions(spark, sf_dir)
    inc = _ldf(spark, 
        [(q, i) for q, i, _ in SPAN_NOT_QUERIES], "query_id string, text string"
    )
    exc = _ldf(spark, 
        [(q, e) for q, _, e in SPAN_NOT_QUERIES], "query_id string, text string"
    )
    run = search_span_not(
        idx, inc, exc, pre=SPAN_NOT_PRE, post=SPAN_NOT_POST, k=10
    )
    return run.select(
        "query_id",
        F.regexp_replace("doc_id", "^doc://", "").alias("doc_id"),
        F.round("score", 6).alias("score"),
        "rank",
        "kept_occurrences",
    )


def q_proximity_search(spark, sf_dir):
    """Unordered proximity top-k: every distinct query term inside some
    token window <= PROX_WITHIN; min_cover = tightest such window (classic
    sorted-sweep kernel per (query, doc) group). Oracle computes the same
    min cover with an anchor-position self-join."""
    from openmatch_spark.query import search_proximity

    idx = _entry_index_with_positions(spark, sf_dir)
    xq = _ldf(spark, PROX_QUERIES, "query_id string, text string")
    run = search_proximity(idx, xq, within=PROX_WITHIN, k=10)
    return run.select(
        "query_id",
        F.regexp_replace("doc_id", "^doc://", "").alias("doc_id"),
        F.round("score", 6).alias("score"),
        "rank",
        "min_cover",
    )


def q_query_string(spark, sf_dir):
    """Lucene-classic query_string front door (query/querystring.py): one
    string per query parsed into must/should/must_not term, phrase, prefix
    and fuzzy clauses and executed as one boolean plan. The oracle
    hand-compiles the SAME clause tables (the parse is unit-tested
    separately) and replays clause expansion, phrase adjacency, clause-
    distinct MUST counting, and the anti-joined exclusions in SQL."""
    from openmatch_spark.query import search_query_string

    idx = _entry_index_with_positions(spark, sf_dir)
    qdf = _ldf(spark, QS_QUERIES, "query_id string, text string")
    run = search_query_string(idx, qdf, k=10, max_expansions=QS_MAX_EXP)
    return run.select(
        "query_id",
        F.regexp_replace("doc_id", "^doc://", "").alias("doc_id"),
        F.round("score", 6).alias("score"),
        "rank",
    )


def q_highlight(spark, sf_dir):
    """ES highlighter: up to 2 non-overlapping width-12 query-biased
    fragments per BM25 top-10 hit, query terms wrapped in <em> tags,
    best-first greedy (hits DESC, start ASC; overlap = |Δstart| < width).
    No doc-head fallback — non-matching docs emit nothing."""
    from openmatch_spark.operators.snippets import highlight_fragments

    run = _bm25_run(spark, sf_dir, k=10, rounded=False).select(
        "query_id", "doc_id"
    )
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    return highlight_fragments(
        docs, run, _queries_df(spark), width=_SNIPPET_W, n_fragments=2,
        analyzer="simple",
    )


def q_span_near(spark, sf_dir):
    """Ordered proximity (Lucene SpanNearQuery in_order=true): the query's
    token sequence in order within a window <= SPAN_NEAR_WITHIN;
    min_window = tightest ordered window (min-window-subsequence DP per
    (query, doc) group). Oracle enumerates every strictly-increasing slot
    embedding with a recursive CTE and takes the exact minimum."""
    from openmatch_spark.query import search_span_near

    idx = _entry_index_with_positions(spark, sf_dir)
    xq = _ldf(spark, 
        SPAN_NEAR_QUERIES, "query_id string, text string"
    )
    run = search_span_near(idx, xq, within=SPAN_NEAR_WITHIN, k=10)
    return run.select(
        "query_id",
        F.regexp_replace("doc_id", "^doc://", "").alias("doc_id"),
        F.round("score", 6).alias("score"),
        "rank",
        "min_window",
    )


def _span_contain_queries_df(spark):
    return _ldf(spark, 
        SPAN_CONTAIN_QUERIES, "query_id string, big string, little string"
    )


def q_span_containing(spark, sf_dir):
    """Lucene SpanContainingQuery: big-phrase occurrences that contain a
    little-phrase occurrence; n_spans = distinct qualifying big starts;
    BM25 over the big phrase's terms."""
    from openmatch_spark.query import search_span_containing

    idx = _entry_index_with_positions(spark, sf_dir)
    run = search_span_containing(idx, _span_contain_queries_df(spark), k=10)
    return run.select(
        "query_id",
        F.regexp_replace("doc_id", "^doc://", "").alias("doc_id"),
        F.round("score", 6).alias("score"),
        "rank",
        "n_spans",
    )


def q_span_within(spark, sf_dir):
    """Lucene SpanWithinQuery: little-phrase occurrences inside a
    big-phrase occurrence; n_spans = distinct qualifying little starts;
    BM25 over the little phrase's terms."""
    from openmatch_spark.query import search_span_within

    idx = _entry_index_with_positions(spark, sf_dir)
    run = search_span_within(idx, _span_contain_queries_df(spark), k=10)
    return run.select(
        "query_id",
        F.regexp_replace("doc_id", "^doc://", "").alias("doc_id"),
        F.round("score", 6).alias("score"),
        "rank",
        "n_spans",
    )


def q_span_or(spark, sf_dir):
    """Lucene SpanOrQuery over phrase spans: docs where ANY alternative
    phrase occurs; n_spans = distinct (start, end) spans across LIVE
    alternatives; BM25 over the union of the live alternatives' terms
    (an OOV alternative drops alone, a fully-dead query yields no rows)."""
    from openmatch_spark.query import search_span_or

    idx = _entry_index_with_positions(spark, sf_dir)
    qdf = _ldf(spark, 
        SPAN_OR_QUERIES, "query_id string, alternatives array<string>"
    )
    run = search_span_or(idx, qdf, k=10)
    return run.select(
        "query_id",
        F.regexp_replace("doc_id", "^doc://", "").alias("doc_id"),
        F.round("score", 6).alias("score"),
        "rank",
        "n_spans",
    )


def q_simple_query_string(spark, sf_dir):
    """ES simple_query_string front door (query/simpleqs.py): lenient
    OR-of-AND-branches parse, each positive segment one MUST group,
    per-branch execution on the shared clause executor, branch-sum
    scoring. The oracle hand-compiles the SAME branch/group tables and
    replays expansion caps, phrase adjacency, group-distinct MUST
    counting, branch-scoped exclusions, and the branch sum in SQL."""
    from openmatch_spark.query import search_simple_query_string

    idx = _entry_index_with_positions(spark, sf_dir)
    qdf = _ldf(spark, SQS_QUERIES, "query_id string, text string")
    run = search_simple_query_string(
        idx, qdf, k=10, max_expansions=QS_MAX_EXP
    )
    return run.select(
        "query_id",
        F.regexp_replace("doc_id", "^doc://", "").alias("doc_id"),
        F.round("score", 6).alias("score"),
        "rank",
    )


def q_intervals(spark, sf_dir):
    """Lucene/ES intervals query (all_of over any_of slots, ordered and
    unordered, max_gaps-gated). Ordered mode = the span-near DP with
    per-slot alternatives; unordered = slot-keyed min cover. The oracle
    replays the ordered embeddings with a recursive CTE and the covers
    with the candidate-end sweep. iv4's fully-OOV slot must return no
    rows structurally."""
    from openmatch_spark.query import search_intervals

    idx = _entry_index_with_positions(spark, sf_dir)
    run = search_intervals(idx, INTERVAL_SPECS, k=10)
    return run.select(
        "query_id",
        F.regexp_replace("doc_id", "^doc://", "").alias("doc_id"),
        F.round("score", 6).alias("score"),
        "rank",
        "window",
        "gaps",
    )


def q_snippets(spark, sf_dir):
    """Query-biased snippets for the BM25 top-10 run: best width-12 token
    window by distinct query-term hits, earliest on ties, doc-head fallback.
    Pure column algebra (self-join window count — no UDF)."""
    from openmatch_spark.operators.snippets import extract_snippets

    run = _bm25_run(spark, sf_dir, k=10, rounded=False).select("query_id", "doc_id")
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    return extract_snippets(
        docs, run, _queries_df(spark), width=12, analyzer="simple"
    )


def q_bm25f(spark, sf_dir):
    """Fielded BM25 (BM25F): title = first 8 tokens, body = the rest —
    per-field length normalization, weight-summed INSIDE one saturation,
    idf over any-field df. Oracle replicates field slicing and the exact
    formula in SQL."""
    from openmatch_spark.analysis import tokenize_col
    from openmatch_spark.query import bm25f_score_adhoc

    toks = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        tokenize_col(F.col("text"), "simple").alias("toks"),
    )
    fields = toks.select(
        "doc_id",
        F.slice("toks", 1, 8).alias("title"),
        F.slice("toks", 9, 1 << 30).alias("body"),
    )
    return bm25f_score_adhoc(
        fields,
        _queries_df(spark),
        {"title": (2.0, 0.75), "body": (1.0, 0.4)},
        k=10,
        round_to=6,
    )


def q_combined_fields(spark, sf_dir):
    """ES combined_fields (Lucene CombinedFieldQuery): fields merged into
    ONE pseudo-field — weighted tf and length summed FIRST, then a single
    BM25 with one global avgdl and any-field df. Same title/body split as
    the BM25F/dis-max entries so all three multi-field semantics are
    directly comparable on the same corpus."""
    from openmatch_spark.analysis import tokenize_col
    from openmatch_spark.query import combined_fields_score_adhoc

    toks = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        tokenize_col(F.col("text"), "simple").alias("toks"),
    )
    fields = toks.select(
        "doc_id",
        F.slice("toks", 1, 8).alias("title"),
        F.slice("toks", 9, 1 << 30).alias("body"),
    )
    return combined_fields_score_adhoc(
        fields, _queries_df(spark), {"title": 2.0, "body": 1.0},
        k=10, round_to=6,
    )


_DISMAX_TIE = 0.3


def q_dismax(spark, sf_dir):
    """Disjunction-max multi-field scoring (Lucene DisjunctionMaxQuery /
    ES best_fields): each field is its OWN BM25 universe (per-field df,
    avgdl, length norm), combined per (query, doc, term) as
    max + tie_breaker * (sum - max), then summed over terms. Same
    title/body split as the BM25F entry so the two multi-field semantics
    are directly comparable."""
    from openmatch_spark.analysis import tokenize_col
    from openmatch_spark.query.dismax import dismax_score_adhoc

    toks = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        tokenize_col(F.col("text"), "simple").alias("toks"),
    )
    fields = toks.select(
        "doc_id",
        F.slice("toks", 1, 8).alias("title"),
        F.slice("toks", 9, 1 << 30).alias("body"),
    )
    return dismax_score_adhoc(
        fields, _queries_df(spark), ["title", "body"],
        tie_breaker=_DISMAX_TIE, k=10, round_to=6,
    )


_XF_TIE, _XF_TITLE_BOOST = 0.15, 2.0


def q_cross_fields(spark, sf_dir):
    """ES multi_match type=cross_fields (Lucene BlendedTermQuery): per-term
    dis-max over fields like best_fields, but idf uses ONE blended df —
    the max across fields — so a term rare only in the short field is not
    over-rewarded. title^2 boost exercises the per-field boost path. Same
    title/body split as the bm25f/dismax/combined_fields entries so all
    four multi-field semantics are comparable on the same corpus."""
    from openmatch_spark.analysis import tokenize_col
    from openmatch_spark.query import cross_fields_score_adhoc

    toks = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        tokenize_col(F.col("text"), "simple").alias("toks"),
    )
    fields = toks.select(
        "doc_id",
        F.slice("toks", 1, 8).alias("title"),
        F.slice("toks", 9, 1 << 30).alias("body"),
    )
    return cross_fields_score_adhoc(
        fields, _queries_df(spark), ["title", "body"],
        tie_breaker=_XF_TIE, k=10, round_to=6,
        field_boosts={"title": _XF_TITLE_BOOST, "body": 1.0},
    )


def q_rm3_expand(spark, sf_dir):
    """RM3 pseudo-relevance feedback: BM25 feedback run -> relevance-model
    term weights (rounded before the top-term cut so both engines pick the
    same expansion terms) -> interpolated weighted rescore."""
    from openmatch_spark.query import rm3_rescore_adhoc

    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    return rm3_rescore_adhoc(
        docs, _queries_df(spark), k=10,
        fb_docs=_RM3_FB_DOCS, fb_terms=_RM3_FB_TERMS, alpha=_RM3_ALPHA,
        analyzer="simple", round_to=6,
    )


def q_facets(spark, sf_dir):
    """Faceted counts (source, lang) over the BM25 top-10 run — the
    results-page aggregation panel; nulls bucketed explicitly."""
    from openmatch_spark.operators.facets import facet_counts

    run = _bm25_run(spark, sf_dir, k=10, rounded=False).select("query_id", "doc_id")
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"), "source", "lang"
    )
    return facet_counts(run, docs, ["source", "lang"])


def q_facet_ranges(spark, sf_dir):
    """ES-style range aggregation over the BM25 top-10 hit set: half-open
    n_chars buckets incl. an unbounded top bucket; NULL/unmatched docs in
    '(other)'. Same hydrate-then-count shape as q_facets."""
    from openmatch_spark.operators.facets import range_facets

    run = _bm25_run(spark, sf_dir, k=10, rounded=False).select(
        "query_id", "doc_id"
    )
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"), "n_chars"
    )
    return range_facets(
        run, docs, {"n_chars": [(None, 200.0), (200.0, 400.0), (400.0, None)]}
    )


def q_facet_histogram(spark, sf_dir):
    """ES-style histogram aggregation over the same hit set: fixed-width
    n_chars buckets keyed by lower edge (sparse — empty buckets absent)."""
    from openmatch_spark.operators.facets import histogram_facets

    run = _bm25_run(spark, sf_dir, k=10, rounded=False).select(
        "query_id", "doc_id"
    )
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"), "n_chars"
    )
    return histogram_facets(run, docs, {"n_chars": 100.0})


def q_facet_terms(spark, sf_dir):
    """ES terms aggregation proper over the BM25 top-10 hit set: top-2
    source values per query (_count DESC, _key ASC) + one '(other)' row
    carrying sum_other_doc_count when a tail exists."""
    from openmatch_spark.operators.facets import terms_facets

    run = _bm25_run(spark, sf_dir, k=10, rounded=False).select(
        "query_id", "doc_id"
    )
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"), "source"
    )
    return terms_facets(run, docs, ["source"], size=2)


def q_hit_cardinality(spark, sf_dir):
    """ES cardinality aggregation over the BM25 top-10 hit set: distinct
    source/lang values per query, NULLs excluded (exact mode — the
    oracle-checked one; approx=True is the HLL sketch for unbounded
    candidate sets)."""
    from openmatch_spark.query import hit_cardinality

    run = _bm25_run(spark, sf_dir, k=10, rounded=False).select(
        "query_id", "doc_id"
    )
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"), "source", "lang"
    )
    return hit_cardinality(run, docs, ["source", "lang"])


def q_group_cap(spark, sf_dir):
    """Per-group corpus cap (RefinedWeb-style max-N-pages-per-host, here
    per source): a deterministic portable-md5 draw keeps the same 3 rows
    per group in any engine/rerun; sample_rank 1..3."""
    from openmatch_spark.operators.sampling import cap_per_group

    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"), "source"
    )
    return cap_per_group(docs, "source", n=3).select(
        "doc_id", "source", "sample_rank"
    )


def q_random_sampler(spark, sf_dir):
    """ES random_sampler aggregation + terms sub-agg: language counts over
    a seeded 40% sample of the documents table, doc counts scaled back by
    1/probability to corpus estimates (ES's inverse-probability scaling).
    The portable md5 draw keeps the identical sample in both engines."""
    from openmatch_spark.operators.sampling import random_sampler_counts

    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"), "lang"
    )
    return random_sampler_counts(docs, "lang", probability=0.4, seed=7)


def q_facet_date_histogram(spark, sf_dir):
    """ES date_histogram (calendar_interval=month) over the BM25 top-10
    hit set. documents has no timestamp, so one is synthesized
    deterministically (2024-01-01 + doc_id * 7 h, the fixtures' rule) —
    identically in the oracle — spreading sf0.01's 500 docs over ~5
    months."""
    from openmatch_spark.operators.facets import date_histogram_facets

    run = _bm25_run(spark, sf_dir, k=10, rounded=False).select(
        "query_id", "doc_id"
    )
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        (
            F.to_timestamp(F.lit("2024-01-01 00:00:00"))
            + F.make_interval(hours=(F.col("doc_id") * 7).cast("int"))
        ).alias("warc_ts"),
    )
    return date_histogram_facets(run, docs, "warc_ts", "month")


def _pipeline_buckets(spark, sf_dir):
    """Shared input for the pipeline-agg entries: the date_histogram
    bucket frame from q_facet_date_histogram (same synthesized
    timestamp rule)."""
    from openmatch_spark.operators.facets import date_histogram_facets

    run = _bm25_run(spark, sf_dir, k=10, rounded=False).select(
        "query_id", "doc_id"
    )
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        (
            F.to_timestamp(F.lit("2024-01-01 00:00:00"))
            + F.make_interval(hours=(F.col("doc_id") * 7).cast("int"))
        ).alias("warc_ts"),
    )
    return date_histogram_facets(run, docs, "warc_ts", "month")


def q_facet_pipeline(spark, sf_dir):
    """ES pipeline aggregations over the monthly date_histogram buckets:
    derivative, cumulative_sum, and a trailing moving average
    (moving_fn avg, window=2, shift=0 — the two buckets BEFORE the
    current one, ES semantics) per query, buckets ordered by month."""
    from openmatch_spark.operators.pipeline_aggs import (
        cumulative_sum,
        derivative,
        moving_fn,
    )

    b = _pipeline_buckets(spark, sf_dir)
    b = derivative(b, "n_docs", "bucket", ["query_id"], out_col="d_n")
    b = cumulative_sum(b, "n_docs", "bucket", ["query_id"], out_col="cum_n")
    b = moving_fn(
        b, "n_docs", "bucket", ["query_id"],
        fn="avg", window=2, shift=0, out_col="mov_avg",
    )
    return b.select(
        "query_id", "bucket", "n_docs", "d_n", "cum_n",
        F.round("mov_avg", 6).alias("mov_avg"),
    )


def q_facet_bucket_sort(spark, sf_dir):
    """ES bucket_selector + bucket_sort composed: keep only months with
    >= 2 hits, then per query the top-2 buckets by n_docs desc (bucket
    asc tiebreak), exposing the post-sort position."""
    from openmatch_spark.operators.pipeline_aggs import (
        bucket_selector,
        bucket_sort,
    )

    b = _pipeline_buckets(spark, sf_dir)
    b = bucket_selector(b, "n_docs >= 2")
    return bucket_sort(
        b, ["query_id"],
        sort=[("n_docs", "desc"), ("bucket", "asc")],
        size=2, pos_col="pos",
    ).select("query_id", "bucket", "n_docs", "pos")


def q_composite_page(spark, sf_dir):
    """ES composite aggregation: exhaustive (lang, source, 500-char
    histogram) buckets over documents in stable ascending key order,
    paged 5 at a time via the after-key protocol. Returns pages 1 and 2
    — page 2 is fetched with page 1's LAST bucket key as `after`, so the
    pagination contract itself is what the oracle checks."""
    from openmatch_spark.operators.facets import composite_facets

    docs = _docs(spark, sf_dir)
    sources = [
        ("lang", "lang"),
        ("source", "source"),
        ("chars_bucket", (F.floor(F.col("n_chars") / 500) * 500).cast("long")),
    ]
    p1 = composite_facets(docs, sources, size=5)
    last = p1.orderBy(F.desc("lang"), F.desc("source"), F.desc("chars_bucket")).first()
    after = {"lang": last["lang"], "source": last["source"],
             "chars_bucket": last["chars_bucket"]}
    p2 = composite_facets(docs, sources, size=5, after=after)
    return p1.withColumn("page", F.lit(1)).unionByName(
        p2.withColumn("page", F.lit(2))
    )


def _geo_customers(spark, sf_dir):
    """customer with deterministic synthetic coordinates (pure integer
    modular arithmetic + exact decimal scaling, so Spark and DuckDB
    derive bit-identical doubles): lat in [-80, 79.99], lon in
    [-180, 179.99] at 0.01° granularity."""
    cust = spark.read.parquet(os.path.join(sf_dir, "customer.parquet"))
    return cust.select(
        F.col("c_custkey").cast("string").alias("cust_id"),
        (((F.col("c_custkey") * 37) % 16000) / 100.0 - 80.0).alias("lat"),
        (((F.col("c_custkey") * 7919) % 36000) / 100.0 - 180.0).alias("lon"),
    )


def q_geo_distance(spark, sf_dir):
    """ES geo_distance query + _geo_distance sort: the 15 customers
    nearest to (10°N, 20°E) within 6,000 km, haversine distance on the
    IUGG mean radius, nearest-first with cust_id tiebreak."""
    from openmatch_spark.operators.geo import geo_distance_search

    from pyspark.sql import Window

    hits = geo_distance_search(
        _geo_customers(spark, sf_dir), "lat", "lon",
        center_lat=10.0, center_lon=20.0, radius_km=6000.0, k=15,
        id_col="cust_id",
    )
    w = Window.orderBy(F.col("distance_km").asc(), F.col("cust_id").asc())
    return hits.withColumn("rank", F.row_number().over(w)).select(
        "cust_id", F.round("distance_km", 6).alias("distance_km"), "rank"
    )


def q_geotile_grid(spark, sf_dir):
    """ES geotile_grid aggregation at zoom 4: top-10 occupied
    Web-Mercator 'z/x/y' tiles by customer count (count desc, cell asc
    — ES bucket order), 1-based pos."""
    from openmatch_spark.operators.geo import geotile_grid_facets

    return geotile_grid_facets(
        _geo_customers(spark, sf_dir), "lat", "lon", zoom=4, size=10
    )


def q_geohash_grid(spark, sf_dir):
    """ES geohash_grid aggregation at precision 3: top-15 occupied
    base32 geohash cells by customer count (count desc, cell asc — ES
    bucket order), 1-based pos. The engine computes bisection-exact
    quantization (closed form + one-bin boundary correction) folded
    into base32 chars; the oracle replays quantization, interleave, and
    base32 with DuckDB's exact BIGINT bit ops."""
    from openmatch_spark.operators.geo import geohash_grid_facets

    return geohash_grid_facets(
        _geo_customers(spark, sf_dir), "lat", "lon", precision=3, size=15
    )


def _geohash_grid_sql(precision: int, size: int) -> str:
    """Generate the DuckDB replica of geohash_grid_facets over the
    synthetic customer coordinates: same quantize-correct-clamp
    arithmetic as functions/geo.py geohash_cell, interleave + base32
    done with exact BIGINT shifts (safe in SQL: 5·precision ≤ 53 bits
    here, unlike the engine's double-division shifts)."""
    total = 5 * precision
    nlon = (total + 1) // 2
    nlat = total // 2
    latw = repr(180.0 / (2 ** nlat))  # exact decimal (45·2^k)
    lonw = repr(360.0 / (2 ** nlon))
    interleave = []
    for j in range(total):
        if j % 2 == 0:
            src, idx = "lonb", nlon - 1 - j // 2
        else:
            src, idx = "latb", nlat - 1 - j // 2
        interleave.append(f"((({src} >> {idx}) & 1) << {total - 1 - j})")
    comb = "\n         + ".join(interleave)
    b32 = "0123456789bcdefghjkmnpqrstuvwxyz"
    chars = " || ".join(
        f"substr('{b32}', CAST(((comb >> {5 * (precision - 1 - i)}) & 31) "
        "AS INTEGER) + 1, 1)"
        for i in range(precision)
    )
    return f"""
WITH geo AS (
  SELECT ((c_custkey * 37) % 16000) / 100.0 - 80.0 AS lat,
         ((c_custkey * 7919) % 36000) / 100.0 - 180.0 AS lon
  FROM customer
),
qa AS (
  SELECT lat, lon,
         GREATEST(LEAST(CAST(FLOOR((lat + 90.0) / 180.0 * {float(2 ** nlat)!r}) AS BIGINT), {2 ** nlat - 1}), 0) AS lk0,
         GREATEST(LEAST(CAST(FLOOR((lon + 180.0) / 360.0 * {float(2 ** nlon)!r}) AS BIGINT), {2 ** nlon - 1}), 0) AS nk0
  FROM geo WHERE lat IS NOT NULL AND lon IS NOT NULL
),
qb AS (
  SELECT
    GREATEST(LEAST(CASE
      WHEN lat < CAST(lk0 AS DOUBLE) * {latw} - 90.0 THEN lk0 - 1
      WHEN lat >= CAST(lk0 + 1 AS DOUBLE) * {latw} - 90.0 THEN lk0 + 1
      ELSE lk0 END, {2 ** nlat - 1}), 0) AS latb,
    GREATEST(LEAST(CASE
      WHEN lon < CAST(nk0 AS DOUBLE) * {lonw} - 180.0 THEN nk0 - 1
      WHEN lon >= CAST(nk0 + 1 AS DOUBLE) * {lonw} - 180.0 THEN nk0 + 1
      ELSE nk0 END, {2 ** nlon - 1}), 0) AS lonb
  FROM qa
),
qc AS (
  SELECT ({comb}) AS comb FROM qb
),
cells AS (
  SELECT {chars} AS cell FROM qc
),
counts AS (
  SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_docs FROM cells GROUP BY cell
)
SELECT cell, n_docs, pos FROM (
  SELECT cell, n_docs,
         CAST(ROW_NUMBER() OVER (ORDER BY n_docs DESC, cell ASC) AS INTEGER) AS pos
  FROM counts
) WHERE pos <= {size}
"""


def q_hybrid_combsum(spark, sf_dir):
    """CombSUM fusion (Fox & Shaw) of the 6 dp-rounded BM25 and BM25F
    runs: per-run per-query min-max normalization, then sum; fused score
    rounded before ranking so both engines rank identical values."""
    from openmatch_spark.operators.fusion import comb_fusion

    r1 = _bm25_run(spark, sf_dir, k=10, rounded=True)
    r2 = q_bm25f(spark, sf_dir)
    return comb_fusion([r1, r2], k=10, method="sum", round_to=6)


def q_hybrid_combmnz(spark, sf_dir):
    """CombMNZ: CombSUM × the number of runs retrieving the doc — boosts
    consensus hits; same normalization/rounding contract as combsum."""
    from openmatch_spark.operators.fusion import comb_fusion

    r1 = _bm25_run(spark, sf_dir, k=10, rounded=True)
    r2 = q_bm25f(spark, sf_dir)
    return comb_fusion([r1, r2], k=10, method="mnz", round_to=6)


def q_rescore(spark, sf_dir):
    """ES rescore: the BM25 top-10 run's FIRST 5 ranks re-scored as
    1.0×bm25 + 0.6×bm25f (rescorer = the BM25F top-10 run; window docs it
    doesn't cover keep 1.0×bm25), ranks 6-10 keep score and original
    order below the window. in_window cast to int for the value-hash."""
    from openmatch_spark.operators.fusion import rescore_window

    r1 = _bm25_run(spark, sf_dir, k=10, rounded=True)
    r2 = q_bm25f(spark, sf_dir).select("query_id", "doc_id", "score")
    out = rescore_window(
        r1, r2, window_size=5, k=10, query_weight=1.0, rescore_weight=0.6
    )
    return out.select(
        "query_id", "doc_id", "score", "rank",
        F.col("in_window").cast("int").alias("in_window"),
    )


def q_field_value_factor(spark, sf_dir):
    """ES function_score field_value_factor: BM25 top-10 multiplied by
    log1p(0.01 × n_chars) — the 'boost by popularity/size' surface; one
    broadcast hydrate + window re-rank."""
    from openmatch_spark.query import field_value_factor_rescore

    run = _bm25_run(spark, sf_dir, k=10, rounded=False)
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"), "n_chars"
    )
    return field_value_factor_rescore(
        run, docs, "n_chars", factor=0.01, modifier="log1p",
        missing=1.0, boost_mode="multiply", k=10,
    )


def q_hybrid_rrf(spark, sf_dir):
    """Reciprocal rank fusion of the plain BM25 run with the BM25F fielded
    run — the standard score-scale-free hybrid combiner. With two runs the
    per-doc sum is bit-identical across engines (IEEE commutativity)."""
    from openmatch_spark.operators.fusion import reciprocal_rank_fusion

    r1 = _bm25_run(spark, sf_dir, k=10, rounded=False)
    r2 = q_bm25f(spark, sf_dir)
    run = reciprocal_rank_fusion([r1, r2], k=10, k0=60)
    return run.select(
        "query_id", "doc_id", F.round("score", 9).alias("score"), "rank"
    )


def q_suggest(spark, sf_dir):
    """Prefix autocomplete from the index dictionary: top-5 terms per
    prefix by df DESC, term ASC; 'zz' matches nothing. Oracle recomputes
    df from the raw corpus — equality proves the dictionary's df."""
    from openmatch_spark.query import suggest_terms

    idx = _entry_index(spark, sf_dir)
    return suggest_terms(idx, SUGGEST_PREFIXES, k=5)


def q_collapsed_search(spark, sf_dir):
    """Field collapsing (Lucene/ES collapse): one best hit per (query,
    collapse key), re-ranked to top-10. Key = a synthetic 'host' derived
    from doc_id (doc_id % 37) so key crowding is real; depth=5000 makes the
    collapse exhaustive at check scale, so the full-scoring oracle replica
    is exact."""
    from openmatch_spark.query import search_collapsed

    idx = _entry_index(spark, sf_dir)
    raw_id = F.regexp_replace("doc_id", "^doc://", "")
    key = F.concat(
        F.lit("h"), (raw_id.cast("bigint") % 37).cast("string")
    )
    run = search_collapsed(idx, _queries_df(spark), key, k=10, depth=5000)
    return run.select(
        "query_id",
        F.regexp_replace("doc_id", "^doc://", "").alias("doc_id"),
        F.round("score", 6).alias("score"),
        "collapse_key",
        "rank",
    )


SPELL_QUERIES = [
    ("s1", "batcx table"),      # 1-edit typo + in-vocabulary term (no row)
    ("s2", "custmer qeury"),    # deletion typo + transposition (2 edits)
    ("s3", "vektor zzznope"),   # substitution typo + no candidate
]


def q_spell_suggest(spark, sf_dir):
    """Did-you-mean: top-3 dictionary corrections per misspelled query
    token (df == 0 as typed), ranked (edits ASC, df DESC, term ASC) —
    Lucene DirectSpellChecker semantics. Oracle recomputes the vocabulary
    and df from the raw corpus and replays the same candidate gates with
    DuckDB's levenshtein."""
    from openmatch_spark.query import suggest_spelling

    idx = _entry_index(spark, sf_dir)
    sq = _ldf(spark, SPELL_QUERIES, "query_id string, text string")
    out = suggest_spelling(idx, sq, max_edits=2, prefix_len=1, n_suggestions=3)
    return out.select(
        "query_id", "token", "suggestion", "edits",
        F.col("df").cast("long").alias("df"), "sug_rank",
    )


MLT_SEED_IDS = [7, 11, 23]


def q_more_like_this(spark, sf_dir):
    """MoreLikeThis: top-10 docs most similar to each seed doc. Term
    selection = tf*idf interest (rounded 9dp before the cut — the RM3
    determinism trick), gates min_tf=2 / min_df=2 / max_df_pct=0.5, cap 10
    terms; scoring = the unchanged weighted BM25 engine; seed excluded.
    Oracle replays selection + weighted BM25 from first principles."""
    from openmatch_spark.query import more_like_this

    idx = _entry_index(spark, sf_dir)
    seeds = (
        _docs(spark, sf_dir)
        .where(F.col("doc_id").isin(MLT_SEED_IDS))
        .select(
            F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("doc_id"),
            "text",
        )
    )
    # max_df_pct=1.0: the check corpus is 31 common words (df ~0.8N), so a
    # stopword-style df cut would empty the selection; the cut itself is
    # gate-tested on richer fixtures in tests/test_round4c.py
    run = more_like_this(
        idx, seeds, k=10, max_query_terms=10, min_tf=2, min_df=2, max_df_pct=1.0
    )
    return run.select(
        F.regexp_replace("query_id", "^doc://", "").alias("query_id"),
        F.regexp_replace("doc_id", "^doc://", "").alias("doc_id"),
        F.round("score", 6).alias("score"),
        "rank",
    )


def q_bm25_explain(spark, sf_dir):
    """Lucene-style explain(): per-term factor decomposition (qtf, tf, df,
    doclen, idf, tf_norm, weight) for every top-3 hit; the reported score
    is the sum of the explained weights. Oracle rebuilds the same
    decomposition column by column."""
    from openmatch_spark.query import explain_adhoc

    corpus = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    return explain_adhoc(corpus, _queries_df(spark), k=3, round_to=6)


def q_corpus_stats(spark, sf_dir):
    from openmatch_spark.analysis import tokenize_col_simple

    toks = _docs(spark, sf_dir).select(
        F.size(tokenize_col_simple(F.col("text"))).cast("long").alias("doclen")
    )
    return toks.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("doclen"), 6).alias("avgdl"),
        F.sum("doclen").alias("total_terms"),
    )


def q_term_stats(spark, sf_dir):
    from openmatch_spark.query.bm25_df import corpus_tokens

    toks = corpus_tokens(_docs(spark, sf_dir), "simple")
    tf = toks.groupBy("term", "doc_id").agg(F.count(F.lit(1)).alias("tf"))
    stats = tf.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"), F.sum("tf").alias("cf")
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("df"), F.asc("term"))
    return (
        stats.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 50)
        .select("term", "df", "cf", "rnk")
    )


def q_token_counts(spark, sf_dir):
    from openmatch_spark.operators.textstats import token_counts

    t = token_counts(_docs(spark, sf_dir))
    return t.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_unique_tokens").cast("long").alias("n_unique_tokens"),
        F.col("n_bpe_tokens").cast("long").alias("n_bpe_tokens"),
        "n_chars",
    )


def q_canonical_url(spark, sf_dir):
    """URL canonicalization (operators/transforms.py:canonical_url_col) —
    the url-keyed dedup/join normalization, every regex step replicated in
    DuckDB. Raw urls synthesized deterministically from doc_id with mixed
    case, default port, tracking params, trailing slash, and a fragment."""
    from openmatch_spark.operators.transforms import canonical_url_col

    d = _docs(spark, sf_dir).select(F.col("doc_id").cast("long").alias("doc_id"))
    raw = F.concat(
        F.lit("HTTPS://Example"), (F.col("doc_id") % 7).cast("string"),
        F.lit(".COM:443/Path/"), F.col("doc_id").cast("string"),
        F.lit("/?utm_source=x&id="), F.col("doc_id").cast("string"),
        F.lit("&fbclid=zz#frag"),
    )
    return d.select(
        "doc_id",
        raw.alias("raw_url"),
        canonical_url_col(raw).alias("canonical_url"),
    )


def q_pii_scrub(spark, sf_dir):
    """PII audit + redaction (operators/textstats.py:pii_counts) over text
    with deterministic synthetic PII appended — emails, IPv4s, and an
    international phone per doc — every regex replicated in DuckDB. The
    redacted text is md5-compressed for the value-hash compare."""
    from openmatch_spark.operators.textstats import pii_counts

    d = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.concat(
            F.col("text"),
            F.lit(" contact user"), F.col("doc_id"),
            F.lit("@example.com or 10.0.0."),
            (F.col("doc_id").cast("long") % 250).cast("string"),
            F.lit(" tel +1 555-01"), F.col("doc_id"),
        ).alias("text"),
    )
    out = pii_counts(d)
    return out.select(
        "doc_id", "n_emails", "n_ipv4", "n_phones",
        F.md5("redacted").alias("redacted_md5"),
    )


def q_repetition(spark, sf_dir):
    """Gopher-style repetition signals, full family (operators/textstats.py:
    repetition_signals): dup-line AND dup-paragraph ratios + top-{2,3,4}-gram
    shares, each definition replicated in DuckDB. Every third doc gets its
    text line-duplicated and every fourth paragraph-duplicated so all the
    duplicate-segment metrics actually fire."""
    from openmatch_spark.operators.textstats import repetition_signals

    lined = F.when(
        F.col("doc_id").cast("long") % 3 == 0,
        F.concat_ws("\n", "text", "text", "text"),
    ).otherwise(F.col("text"))
    d = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.when(
            F.col("doc_id").cast("long") % 4 == 0,
            F.concat_ws("\n\n", lined, lined),
        ).otherwise(lined).alias("text"),
    )
    return repetition_signals(d)


def q_gopher_quality(spark, sf_dir):
    """Gopher-style quality gates (operators/textstats.py:
    gopher_quality_flags) — every rule (word count, mean word length,
    symbol/bullet/ellipsis ratios, alpha-word ratio, stopword hits)
    replicated in DuckDB. min_words lowered to 10 so both verdicts occur
    on the synthetic docs."""
    from openmatch_spark.operators.textstats import gopher_quality_flags

    return gopher_quality_flags(_docs(spark, sf_dir), min_words=10)


def q_rank_window(spark, sf_dir):
    from pyspark.sql import Window

    # tie-break on the STRING doc_id so the order matches the SQL oracle
    w = Window.partitionBy("lang").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return (
        _docs(spark, sf_dir)
        .select("lang", F.col("doc_id").cast("string").alias("doc_id"), "n_chars")
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 5)
    )


def q_hard_negatives(spark, sf_dir):
    from openmatch_spark.operators.mining import build_hard_negatives

    run = _bm25_run(spark, sf_dir, k=10, rounded=False)
    return build_hard_negatives(run, _qrels(spark, sf_dir), depth=10, n_sample=3, seed=SEED)


def q_ground_truth_inject(spark, sf_dir):
    from openmatch_spark.operators.mining import add_ground_truth

    run = _bm25_run(spark, sf_dir, k=10, rounded=False)
    out = add_ground_truth(run, _qrels(spark, sf_dir), score=1000.0)
    return out.select(
        "query_id", "doc_id", F.round("score", 6).alias("score"), "rank"
    )


def _qrels_graded(spark, sf_dir):
    """_qrels plus EXPLICIT nonrelevant judgments (rel=0): docs with
    doc_id % 83 == (7*qidx + 4) % 83 are judged irrelevant — the judged
    pool bpref needs (see _QRELS_GRADED_CTE for the SQL twin)."""
    docs = _docs(spark, sf_dir).select(F.col("doc_id"))
    q = _ldf(spark, 
        [(qid, i) for i, (qid, _) in enumerate(QUERIES)], "query_id string, qidx int"
    )
    pos = F.col("doc_id") % 83 == (7 * F.col("qidx") + 3) % 83
    neg = F.col("doc_id") % 83 == (7 * F.col("qidx") + 4) % 83
    return (
        q.crossJoin(docs)
        .where(pos | neg)
        .select(
            "query_id",
            F.col("doc_id").cast("string").alias("doc_id"),
            F.when(pos, (F.col("doc_id") % 3 + 1)).otherwise(F.lit(0))
            .cast("int").alias("rel"),
        )
    )


def q_bpref(spark, sf_dir):
    """trec_eval bpref over the BM25 top-10 run with graded qrels that
    include explicit rel=0 judgments (unjudged docs invisible)."""
    from openmatch_spark.operators.metrics import bpref

    run = _bm25_run(spark, sf_dir, k=10, rounded=False)
    m = bpref(run, _qrels_graded(spark, sf_dir), k=10)
    return m.select(F.round("bpref", 6).alias("bpref"), "n_queries")


def q_rprec(spark, sf_dir):
    """trec_eval Rprec (precision at rank R = the query's judged-
    relevant count) over the BM25 top-10 run."""
    from openmatch_spark.operators.metrics import r_precision

    run = _bm25_run(spark, sf_dir, k=10, rounded=False)
    m = r_precision(run, _qrels(spark, sf_dir))
    return m.select(F.round("rprec", 6).alias("rprec"), "n_queries")


def q_judged10(spark, sf_dir):
    """judged@10 pool-coverage diagnostic: mean fraction of the top-10
    carrying ANY judgment (rel 0 rows count as judged)."""
    from openmatch_spark.operators.metrics import judged_at_k

    run = _bm25_run(spark, sf_dir, k=10, rounded=False)
    m = judged_at_k(run, _qrels_graded(spark, sf_dir), k=10)
    return m.select(F.round("judged", 6).alias("judged"), "n_queries")


def q_mrr10(spark, sf_dir):
    from openmatch_spark.operators.metrics import mrr_at_k

    run = _bm25_run(spark, sf_dir, k=10, rounded=False)
    m = mrr_at_k(run, _qrels(spark, sf_dir), k=10)
    return m.select(F.round("mrr", 6).alias("mrr"), "n_queries")


def q_recall10(spark, sf_dir):
    from openmatch_spark.operators.metrics import recall_at_k

    run = _bm25_run(spark, sf_dir, k=10, rounded=False)
    m = recall_at_k(run, _qrels(spark, sf_dir), k=10)
    return m.select(F.round("recall", 6).alias("recall"), "n_queries")


def q_ndcg10(spark, sf_dir):
    from openmatch_spark.operators.metrics import ndcg_at_k

    run = _bm25_run(spark, sf_dir, k=10, rounded=False)
    m = ndcg_at_k(run, _qrels(spark, sf_dir), k=10)
    return m.select(F.round("ndcg", 6).alias("ndcg"), "n_queries")


def _dup_corpus(spark, sf_dir):
    """documents unioned with a shifted copy -> guaranteed duplicate groups."""
    d = _docs(spark, sf_dir).select(F.col("doc_id").cast("long"), "text")
    shifted = d.select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    return d.unionByName(shifted)


def q_dedup_exact(spark, sf_dir):
    from openmatch_spark.operators.dedup import exact_duplicates

    out = exact_duplicates(_dup_corpus(spark, sf_dir))
    return out.select("content_hash", "n_docs", "canonical_doc_id")


def q_minhash_signatures(spark, sf_dir):
    from openmatch_spark.operators.dedup import minhash_signatures, shingles

    docs = _docs(spark, sf_dir).where(F.col("doc_id") < 100)
    sh = shingles(docs, n=3)
    return minhash_signatures(sh, num_hashes=4)


def q_minhash_pairs(spark, sf_dir):
    from openmatch_spark.operators.dedup import (
        jaccard_pairs,
        minhash_candidate_pairs,
        minhash_signatures,
        shingles,
    )

    docs = _docs(spark, sf_dir).where(F.col("doc_id") < 250)
    sh = shingles(docs, n=3)
    sig = minhash_signatures(sh, num_hashes=8)
    cand = minhash_candidate_pairs(sig, num_bands=4, num_hashes=8)
    out = jaccard_pairs(sh, cand)
    return out.select(
        "doc_a", "doc_b", "n_common", "n_a", "n_b",
        F.round("jaccard", 6).alias("jaccard"),
    )


def q_dedup_pipeline(spark, sf_dir):
    """One-call corpus dedup (exact + LSH-verified near-dup + oversized
    bucket groups, operators/dedup.py:deduplicate_corpus) — the whole
    pipeline value-checked against a DuckDB replica."""
    from openmatch_spark.operators.dedup import deduplicate_corpus

    base = _docs(spark, sf_dir).where(F.col("doc_id") < 300).select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    shifted = base.select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    corpus = base.unionByName(shifted)
    out = deduplicate_corpus(corpus, jaccard_threshold=0.5, max_bucket=100)
    return out.select(
        "doc_id", F.col("keep").cast("int").alias("keep"), "reason", "dup_of"
    )


def q_dedup_closure(spark, sf_dir):
    """deduplicate_corpus(closure=True): union-find canonical groups via
    distributed min-label propagation (operators/dedup.py:
    connected_components_min_label) — every dup_of names a KEPT component
    root, chains resolve; the DuckDB oracle computes the same closure with
    a recursive CTE over the exact/near/bucket edge set."""
    from openmatch_spark.operators.dedup import deduplicate_corpus

    base = _docs(spark, sf_dir).where(F.col("doc_id") < 300).select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    shifted = base.select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    corpus = base.unionByName(shifted)
    out = deduplicate_corpus(
        corpus, jaccard_threshold=0.5, max_bucket=100, closure=True
    )
    return out.select(
        "doc_id", F.col("keep").cast("int").alias("keep"), "reason", "dup_of"
    )


def q_dedup_spans(spark, sf_dir):
    """Exact duplicate-SPAN removal (operators/exact_spans.py,
    Lee et al. 2022 ExactSubstr re-expressed as a rolling k-token window):
    a fixed 8-token boilerplate span is appended to doc_id % 5 == 0 and
    prepended to doc_id % 7 == 1, so spans occur at different positions,
    some docs carry both, and the natural vocabulary repeats of the
    synthetic corpus add organic duplicate windows on top. The engine runs
    hash_key mode (64-bit xxhash window keys — the scale path); the oracle
    replicates with exact window STRINGS, so the entry also certifies the
    hash keys introduce no false merges on this corpus. Canonical survivor
    = corpus-global min (doc_id, pos); overlapping windows union."""
    from openmatch_spark.operators.exact_spans import remove_duplicate_spans

    span = "xqspan0 xqspan1 xqspan2 xqspan3 xqspan4 xqspan5 xqspan6 xqspan7"
    base = _docs(spark, sf_dir).where(F.col("doc_id") < 200)
    corpus = base.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.when(F.col("doc_id") % 5 == 0, F.concat_ws(" ", "text", F.lit(span)))
        .when(F.col("doc_id") % 7 == 1, F.concat_ws(" ", F.lit(span), "text"))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return remove_duplicate_spans(corpus, k=8)


def q_dedup_incremental(spark, sf_dir):
    """Incremental near-dup dedup against a persisted signature store
    (operators/dedup_incremental.py): two drains — the base docs, then
    near-duplicate variants with strictly larger ids — processed drain by
    drain with only the NEW docs' signatures computed each time; the union
    of per-drain verdicts must equal the one-shot batch dedup over the
    union corpus, which is exactly what the DuckDB oracle computes."""
    import shutil
    import tempfile

    from openmatch_spark.operators.dedup_incremental import incremental_deduplicate

    base = _docs(spark, sf_dir).where(F.col("doc_id") < 300)
    did = F.lpad(F.col("doc_id").cast("string"), 3, "0")
    d1 = base.select(F.concat(F.lit("d1_"), did).alias("doc_id"), "text")
    d2 = base.select(
        F.concat(F.lit("d2_"), did).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extra tail tokens more")).alias("text"),
    )
    store = tempfile.mkdtemp(prefix="om_dedup_store_")
    try:
        # max_bucket=500 >= any union bucket here, so no bucket crosses the
        # cap between drains (equivalence precondition 2)
        kw = dict(jaccard_threshold=0.5, max_bucket=500)
        v1 = incremental_deduplicate(spark, store, d1, **kw)
        v2 = incremental_deduplicate(spark, store, d2, **kw)
    finally:
        shutil.rmtree(store, ignore_errors=True)  # verdicts are materialized
    return v1.unionByName(v2).select(
        "doc_id", F.col("keep").cast("int").alias("keep"), "reason", "dup_of"
    )


def q_ngram_jaccard(spark, sf_dir):
    """EXACT n-gram Jaccard similarity join (operators/dedup.py:
    ngram_jaccard_join) — candidates via the shingle inverted index with a
    hot-shingle df cap, verification exact. Duplicated corpus so jaccard=1
    pairs exist."""
    from openmatch_spark.operators.dedup import ngram_jaccard_join

    base = _docs(spark, sf_dir).where(F.col("doc_id") < 150).select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    shifted = base.select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    corpus = base.unionByName(shifted)
    out = ngram_jaccard_join(corpus, n=3, threshold=0.5, max_shingle_df=50)
    return out.select(
        "doc_a", "doc_b", "n_common", "n_a", "n_b",
        F.round("jaccard", 6).alias("jaccard"),
    )


def q_curate(spark, sf_dir):
    """One-call training-data curation (operators/curate.py): language gate
    -> quality gate -> exact + LSH near-dup among survivors, every stage
    replicated in the DuckDB oracle. Same duplicated-corpus fixture as
    dedup_pipeline so all five drop reasons can fire."""
    from openmatch_spark.operators.curate import curate_corpus

    base = _docs(spark, sf_dir).where(F.col("doc_id") < 300).select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    shifted = base.select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    corpus = base.unionByName(shifted)
    out = curate_corpus(
        corpus, langs=("en",), min_quality=0.63,
        jaccard_threshold=0.5, max_bucket=100,
    )
    return out.select("doc_id", "keep", "reason", "dup_of")


def q_event_window_stats(spark, sf_dir):
    """Tumbling-window event rollup (streaming/events.py) in batch form —
    the same expression the watermarked stream runs (stream==batch equality
    is pytest-checked in tests/test_streaming.py); n_users dropped here
    because approx_count_distinct is engine-specific."""
    from openmatch_spark.streaming.events import windowed_event_stats

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    out = windowed_event_stats(ev, window="1 hour")
    return out.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        "n_events",
        "total_value",
    )


def q_sessionize(spark, sf_dir):
    """Batch gaps-and-islands sessionization (streaming/events.py:
    sessionize_batch) — the window-algebra twin of the stateful
    applyInPandasWithState sessionizer, oracle-checked against the same
    gaps-and-islands SQL in DuckDB (microsecond-exact gap rule)."""
    from openmatch_spark.streaming.events import sessionize_batch

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    out = sessionize_batch(ev, gap_seconds=6 * 3600)
    return out.select(
        "user_id",
        F.col("session_seq").cast("long").alias("session_seq"),
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
        F.date_format("session_end", "yyyy-MM-dd HH:mm:ss").alias("session_end"),
        "n_events",
        "total_value",
    )


def q_mean_pool(spark, sf_dir):
    """Masked mean pooling (A7, reference utils.py:287-291) as pure
    higher-order-function algebra: group 8 consecutive embedding rows into
    a sequence, mask = (vec_id % 3 != 0), pool, explode to scalar rows so
    DuckDB can value-hash it."""
    from openmatch_spark.query.dense import mean_pool_col

    e = _emb(spark, sf_dir).where(F.col("vec_id") < 200).select(
        F.col("vec_id").cast("long").alias("vec_id"),
        F.floor(F.col("vec_id") / 8).alias("seq_id"),
        F.col("embedding").cast("array<double>").alias("v"),
        (F.col("vec_id") % 3 != 0).cast("int").alias("m"),
    )
    g = e.groupBy("seq_id").agg(
        F.sort_array(F.collect_list(F.struct("vec_id", "v", "m"))).alias("rows")
    )
    pooled = g.select(
        "seq_id",
        mean_pool_col(
            F.col("rows").getField("v"), F.col("rows").getField("m")
        ).alias("pooled"),
    )
    out = pooled.select("seq_id", F.posexplode("pooled").alias("dim", "val"))
    return out.select(
        "seq_id",
        F.col("dim").cast("long").alias("dim"),
        F.round("val", 6).alias("pooled"),
    )


_PAGE_HTML_PREFIX = (
    '<html><head><script type="text/javascript">var x = 1 < 2;</script>'
    "<style>.c{color:red}</style></head><body><h1>Doc "
)


def q_text_extract(spark, sf_dir):
    """Byte-identical html->text extraction (the BASELINE input_hint
    per-row invariant, analysis.py:extract_text_udf): synthesize pages in
    the input_hint shape (url, warc_ts, html binary, text, lang) from the
    documents table, blank the text column on even doc_ids so those rows
    exercise the html-strip path, and hash the extracted bytes. The oracle
    re-runs the same two-regex strip in DuckDB (RE2 needs the script|style
    backreference expanded; equivalent on well-nested input)."""
    from openmatch_spark.analysis import extract_text_udf

    d = _docs(spark, sf_dir).where(F.col("doc_id") < 300)
    html_str = F.concat(
        F.lit(_PAGE_HTML_PREFIX),
        F.col("doc_id").cast("string"),
        F.lit("</h1><p>"),
        F.col("text"),
        F.lit("</p></body></html>"),
    )
    pages = d.select(
        F.concat(F.lit("https://example.com/doc/"), F.col("doc_id").cast("string")).alias("url"),
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("warc_ts"),
        F.encode(html_str, "utf-8").alias("html"),
        F.when(F.col("doc_id") % 2 == 1, F.col("text")).alias("text"),
        F.col("lang"),
    )
    ext = pages.select(
        "url", extract_text_udf(F.col("html"), F.col("text")).alias("text")
    )
    return ext.select(
        "url",
        F.md5(F.encode("text", "utf-8")).alias("text_md5"),
        F.octet_length(F.encode("text", "utf-8")).cast("long").alias("n_bytes"),
    )


def q_lang_id(spark, sf_dir):
    from openmatch_spark.operators.textstats import language_id

    return language_id(_docs(spark, sf_dir))


def q_quality(spark, sf_dir):
    from openmatch_spark.operators.textstats import quality_scores

    q = quality_scores(_docs(spark, sf_dir))
    return q.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "mean_token_len", "punct_ratio", "stopword_ratio", "unique_ratio", "quality",
    )


def _query_vectors(spark, sf_dir, n=5):
    rows = (
        _emb(spark, sf_dir)
        .where(F.col("vec_id") < n)
        .orderBy("vec_id")
        .collect()
    )
    return [(str(r["vec_id"]), [float(x) for x in r["embedding"]]) for r in rows]


def q_knn_cosine(spark, sf_dir):
    from openmatch_spark.query.dense import brute_force_topk

    run = brute_force_topk(
        _emb(spark, sf_dir), _query_vectors(spark, sf_dir), k=10,
        metric="cosine", round_to=6,
    )
    return run


def q_knn_filtered(spark, sf_dir):
    """ES knn-with-filter (PRE-filtered candidates): cosine top-10 over
    only the even vec_ids — every query still gets k survivors from the
    allowed subset, unlike post-filtering a finished run."""
    from openmatch_spark.query.dense import knn_filtered_topk

    return knn_filtered_topk(
        _emb(spark, sf_dir), _query_vectors(spark, sf_dir),
        "vec_id % 2 = 0", k=10, metric="cosine", round_to=6,
    )


def _query_vectors_df(spark, sf_dir, n=5):
    """The same query vectors as _query_vectors, as a DataFrame — drives
    the distributed dense paths (broadcast matrix / cogroup-on-bucket)."""
    return _ldf(spark, 
        _query_vectors(spark, sf_dir, n=n),
        "query_id string, embedding array<double>",
    )


def q_knn_cosine_df(spark, sf_dir):
    """Large-batch brute-force KNN path: queries as a DataFrame, matrix
    shipped as a torrent broadcast (query/dense.py) — same oracle as
    knn_cosine because the result contract is row-identical."""
    from openmatch_spark.query.dense import brute_force_topk

    return brute_force_topk(
        _emb(spark, sf_dir), _query_vectors_df(spark, sf_dir), k=10,
        metric="cosine", round_to=6,
    )


_QUANT_RESCORE = 4


_PQ_M, _PQ_KSUB, _PQ_ITERS, _PQ_FACTOR = 4, 8, 1, 4


def q_knn_pq(spark, sf_dir):
    """Product-quantized two-phase retrieval (query/pq.py): DISTRIBUTED
    engine-reproducible codebook training (md5-bucket init + 1 Lloyd
    round, every mean/distance rounded at 6 dp), ADC scoring from the
    codes table, k×4 candidate cut, exact rescore. The oracle replays the
    ENTIRE pipeline — training included — in DuckDB list algebra, so
    agreement certifies the learned codebook and the codes, not just the
    final scores."""
    from openmatch_spark.query.pq import pq_encode, pq_topk, pq_train

    e = _emb(spark, sf_dir).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    cents = pq_train(e, m=_PQ_M, ksub=_PQ_KSUB, iters=_PQ_ITERS)
    codes = pq_encode(e, cents)
    return pq_topk(
        codes=codes, centroids=cents, embeddings=e,
        queries=_query_vectors_df(spark, sf_dir),
        k=10, rescore_factor=_PQ_FACTOR,
    )


def q_knn_quantized(spark, sf_dir):
    """Two-phase int8 scalar-quantized cosine top-k (query/quantize.py):
    L2-normalize, per-vector max-abs int8 codes, exact-integer dot for the
    approximate phase (8x fewer bytes than float64 at scale), candidate
    cut at k x rescore_factor on the 6-dp-rounded approx score, exact
    float rescore of the survivors. The oracle replicates every phase in
    DuckDB list algebra — including the quantization itself, so agreement
    certifies the codes, not just the final cosines."""
    from openmatch_spark.query.quantize import quantized_topk

    return quantized_topk(
        _emb(spark, sf_dir), _query_vectors_df(spark, sf_dir),
        k=10, rescore_factor=_QUANT_RESCORE, round_to=6,
    )


def q_ivf_ann_df(spark, sf_dir):
    """Fully distributed IVF path (query/dense.py:ivf_topk_df): executor-
    side probe assignment + cogroup on bucket, queries never on the driver
    — same oracle as ivf_ann."""
    from openmatch_spark.query.dense import assign_buckets, ivf_topk_df

    e = _emb(spark, sf_dir)
    bucketed = assign_buckets(e, dim=DIM, n_centroids=N_CENTROIDS)
    return ivf_topk_df(
        bucketed, _query_vectors_df(spark, sf_dir), dim=DIM, k=10,
        n_centroids=N_CENTROIDS, nprobe=NPROBE, round_to=6,
    )


def q_embedding_neardup_ann(spark, sf_dir):
    """IVF-bucketed embedding near-dup (operators/dedup.py:
    cosine_neardup_bucketed): multi-probe cell assignment generates
    candidates, exact JVM zip_with cosine verifies — the scale path for
    embedding dedup, replicated in DuckDB via the same inlined centroid
    table as ivf_ann."""
    from openmatch_spark.operators.dedup import cosine_neardup_bucketed

    e = _emb(spark, sf_dir).where(F.col("vec_id") < 150)
    return cosine_neardup_bucketed(
        e, dim=DIM, threshold=0.2, n_centroids=N_CENTROIDS, probes=2,
        round_to=6,
    )


def q_embedding_neardup(spark, sf_dir):
    """All-pairs cosine > 0.2 among vec_id < 150 — pure JVM column math
    (zip_with dot product), no UDF."""
    e = _emb(spark, sf_dir).where(F.col("vec_id") < 150).select(
        F.col("vec_id").cast("string").alias("vid"),
        F.col("embedding").cast("array<double>").alias("v"),
    )
    a = e.select(F.col("vid").alias("vec_a"), F.col("v").alias("va"))
    b = e.select(F.col("vid").alias("vec_b"), F.col("v").alias("vb"))
    dot = F.aggregate(F.zip_with("va", "vb", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)
    na = F.sqrt(F.aggregate(F.zip_with("va", "va", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x))
    nb = F.sqrt(F.aggregate(F.zip_with("vb", "vb", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x))
    pairs = (
        a.crossJoin(b)
        .where(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", (dot / (na * nb)).alias("cos"))
        .where(F.col("cos") > 0.2)
        .select("vec_a", "vec_b", F.round("cos", 6).alias("cos"))
    )
    return pairs


# --- formerly rows-only entries, now fully DuckDB-checked -------------------

def q_simhash_neardup(spark, sf_dir):
    """SimHash near-dup pairs — the whole path (tf-weighted md5 bit mixing,
    4x16-bit chunk banding, bucket cap, popcount filter) is md5-based column
    algebra replicated bit-for-bit by the DuckDB oracle."""
    from openmatch_spark.operators.dedup import simhash_fingerprints, simhash_near_duplicates

    fp = simhash_fingerprints(_dup_corpus(spark, sf_dir))
    return simhash_near_duplicates(fp, max_hamming=3, max_bucket=1000)


def q_winnow_fingerprints(spark, sf_dir):
    """Winnowing fingerprints exploded to (doc_id, fp_hash) rows — md5
    k-gram hashes + window-4 minima, DuckDB-replicable exactly."""
    from openmatch_spark.operators.textstats import winnow_fingerprints

    return winnow_fingerprints(_docs(spark, sf_dir), k=5, w=4)


DIM = 64  # embeddings.parquet dim at every SF (TESTDATA.md)
N_CENTROIDS, NPROBE = 8, 4


def q_ivf_ann(spark, sf_dir):
    """IVF ANN with deterministic seeded centroids: assignment, probe
    selection and scoring are replicated in the oracle via an inlined
    centroid VALUES table."""
    from openmatch_spark.query.dense import assign_buckets, ivf_topk

    e = _emb(spark, sf_dir)
    bucketed = assign_buckets(e, dim=DIM, n_centroids=N_CENTROIDS)
    return ivf_topk(
        bucketed, _query_vectors(spark, sf_dir), dim=DIM, k=10,
        n_centroids=N_CENTROIDS, nprobe=NPROBE, round_to=6,
    )


def q_media_features(spark, sf_dir):
    from openmatch_spark.operators.multimodal import as_media_table, decode_features

    d = _docs(spark, sf_dir).select("doc_id", F.col("text").cast("binary").alias("payload"))
    media = as_media_table(d, "doc_id", "payload", "image")
    return decode_features(media).select(
        "media_id", "kind", "n_bytes", "content_hash", "width", "height"
    )


def q_accuracy_at_k(spark, sf_dir):
    """QA Accuracy@k (SURVEY A4+P6) in the SQL-expressible simple-analyzer
    containment mode (the reference-exact NFD/DPR mode is pytest-checked
    against the pure-Python oracle instead)."""
    from openmatch_spark.operators.metrics import accuracy_at_k

    run = _bm25_run(spark, sf_dir, k=10, rounded=False)
    corpus = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    answers = _ldf(spark, 
        [(qid, text.split()[:1]) for qid, text in QUERIES],
        "query_id string, answers array<string>",
    )
    out = accuracy_at_k(run, corpus, answers, ks=[1, 5, 10], match_mode="simple")
    return out.select("k", F.round("accuracy", 6).alias("accuracy"), "n_queries")


def q_combine_negatives(spark, sf_dir):
    """J6 negatives-merge join (combine_negative.py:34-91), unnested to
    (query_id, kind, pos, doc_id) rows so the group CONTENT AND ORDER are
    DuckDB-checked (r1 emitted array/json blobs, rows-only)."""
    from openmatch_spark.operators.mining import (
        build_hard_negatives,
        combine_negatives,
        mined_groups,
    )

    run = _bm25_run(spark, sf_dir, k=10, rounded=False)
    qrels = _qrels(spark, sf_dir)
    neg1 = build_hard_negatives(run, qrels, depth=10, n_sample=3, seed=1)
    neg2 = build_hard_negatives(run, qrels, depth=10, n_sample=5, seed=2)
    g1 = mined_groups(neg1, qrels)
    g2 = mined_groups(neg2, qrels)
    out = combine_negatives(g1, g2)
    pos_rows = out.select(
        "query_id", F.lit("pos").alias("kind"),
        F.posexplode("positives").alias("pos", "doc_id"),
    )
    neg_rows = out.select(
        "query_id", F.lit("neg").alias("kind"),
        F.posexplode("negatives").alias("pos", "doc_id"),
    )
    return pos_rows.unionByName(neg_rows).select(
        "query_id", "kind", (F.col("pos") + 1).cast("int").alias("pos"), "doc_id"
    )


def q_rerank_bm25(spark, sf_dir):
    """Rerank slot (SURVEY §3.3): exact-BM25 re-scoring of a candidate run
    against the persistent index's frozen stats; rows-only (depends on the
    on-disk index artifact)."""
    from openmatch_spark.index import load_index
    from openmatch_spark.operators.rerank import rerank_bm25

    q_bm25_topk_indexed(spark, sf_dir)  # ensure index exists (cached)
    idx = _load_entry_index(spark, _IDX_CACHE[sf_dir])
    corpus = _docs(spark, sf_dir).select(
        F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("doc_id"),
        "text",
    )
    run = q_bm25_topk_indexed(spark, sf_dir).select(
        "query_id",
        F.concat(F.lit("doc://"), F.col("doc_id")).alias("doc_id"),
        "score",
        "rank",
    )
    out = rerank_bm25(idx, run, corpus, _queries_df(spark), depth=5)
    return out.select(
        "query_id",
        F.regexp_replace("doc_id", "^doc://", "").alias("doc_id"),
        F.round("score", 6).alias("score"),
        "rank",
    )


def q_trec_roundtrip(spark, sf_dir):
    from openmatch_spark.operators.runio import load_from_trec, save_as_trec

    run = _bm25_run(spark, sf_dir, k=10, rounded=False)
    path = os.path.join(tempfile.mkdtemp(prefix="om_trec_"), "run.trec")
    save_as_trec(run, path)
    back = load_from_trec(spark, path)
    return back.select("query_id", "doc_id", "rank")


_MIX_WEIGHTS = {"src0": 0.0, "src1": 0.5, "src2": 2.25, "src3": 1.0}
_MIX_DEFAULT = 0.25


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination (operators/decontam.py): the 'benchmark'
    is derived from the corpus itself (every 29th doc's tokens 4..21), so
    the source docs — and any near-copies sharing those 5-grams — must be
    flagged. Benchmark side broadcast; corpus text never shuffles."""
    from openmatch_spark.analysis import tokenize_col
    from openmatch_spark.operators.decontam import decontaminate

    d = _docs(spark, sf_dir)
    corpus = d.select(F.col("doc_id").cast("string").alias("doc_id"), "text")
    bench = d.where(F.col("doc_id") % 29 == 0).select(
        F.concat(F.lit("b"), F.col("doc_id").cast("string")).alias("bench_id"),
        F.concat_ws(
            " ", F.slice(tokenize_col(F.col("text"), "simple"), 4, 18)
        ).alias("text"),
    )
    return decontaminate(corpus, bench, n=5)


def q_mixture_sample(spark, sf_dir):
    """Domain-weighted deterministic mixture sampling
    (operators/sampling.py): drop / downsample / upsample-with-epochs per
    source, portable md5 Bernoulli draw, exploded to one row per training
    copy."""
    from openmatch_spark.operators.sampling import mixture_sample

    d = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"), "source"
    )
    return mixture_sample(
        d, _MIX_WEIGHTS, default_weight=_MIX_DEFAULT, explode_copies=True
    ).select("doc_id", "source", "sample_u", "mix_weight", "n_copies", "copy_idx")


def q_pack_sequences(spark, sf_dir):
    """Greedy sequence packing (operators/packing.py): docs hash-bucketed
    (portable md5 bucket), greedy token-budget fill per bucket in doc_id
    order — oracle is a recursive-CTE replica of the sequential fill."""
    from openmatch_spark.operators.packing import pack_sequences

    d = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    return pack_sequences(d, max_tokens=100, n_buckets=8)


def q_pack_sequences_offset(spark, sf_dir):
    """Zero-UDF offset packing: seq = 1 + floor(cumsum_before/budget), pure
    window algebra (same output shape; straddling docs may overshoot)."""
    from openmatch_spark.operators.packing import pack_sequences

    d = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    return pack_sequences(d, max_tokens=100, n_buckets=8, strategy="offset")


def q_boilerplate(spark, sf_dir):
    """Cross-document line-level boilerplate removal
    (operators/boilerplate.py, CCNet/RefinedWeb style): testdata has no
    newlines, so both engines first derive the same line-structured corpus
    (3-token chunks per line), then drop every line appearing in >= 4
    distinct docs. Oracle replicates explode -> distinct-doc count ->
    ordered reassembly."""
    from openmatch_spark.analysis import tokenize_col
    from openmatch_spark.operators.boilerplate import remove_boilerplate_lines

    d = _docs(spark, sf_dir)
    toks = tokenize_col(F.col("text"), "simple")
    n = F.size(toks)
    chunks = F.when(
        n > 0,
        F.transform(
            F.sequence(F.lit(1), F.ceil(n / F.lit(3.0)).cast("int")),
            lambda i: F.concat_ws(" ", F.slice(toks, (i - F.lit(1)) * 3 + 1, 3)),
        ),
    ).otherwise(F.array_repeat(F.lit(""), 0))
    lined = d.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.concat_ws("\n", chunks).alias("text"),
    )
    return remove_boilerplate_lines(lined, min_docs=4)


def q_grouped_split(spark, sf_dir):
    """Leakage-safe train/val/test split (operators/sampling.py
    grouped_split): the whole 'source' group lands in one split via a
    portable md5 draw on the group value; fractions sum to 0.95, so some
    groups hold out as NULL."""
    from openmatch_spark.operators.sampling import grouped_split

    d = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"), "source"
    )
    return grouped_split(d, {"train": 0.8, "val": 0.1, "test": 0.05})


def q_mixture_report(spark, sf_dir):
    """Per-domain mixture audit: realized rates vs target weights."""
    from openmatch_spark.operators.sampling import mixture_report

    d = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"), "source", "text"
    )
    return mixture_report(d, _MIX_WEIGHTS, default_weight=_MIX_DEFAULT)


def _attr_docs(spark, sf_dir):
    """Doc attribute frame shared by the metric-aggregation entries:
    n_chars, lang, a derived token count (same regexp tokenization as the
    oracle's tok CTE), and a deterministically-NULLed n_chars sample
    (doc_id % 7 == 0 -> NULL) so the missing-value semantics are actually
    exercised at sf0.01."""
    d = _docs(spark, sf_dir)
    toks = F.filter(
        F.split(F.lower(F.col("text")), "[^a-z0-9]+"), lambda t: t != F.lit("")
    )
    return d.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        "n_chars",
        "lang",
        F.size(toks).cast("double").alias("n_tokens"),
        F.when(F.col("doc_id") % 7 != 0, F.col("n_chars"))
        .cast("double")
        .alias("nc_sampled"),
    )


def q_hit_extended_stats(spark, sf_dir):
    """ES extended_stats over the BM25 top-10 hit set (n_chars): the stats
    family plus sum_of_squares, population AND sampling variance/std, and
    avg ± 2σ bounds; two-pass centered moments (cancellation-safe)."""
    from openmatch_spark.query import hit_extended_stats

    run = _bm25_run(spark, sf_dir, k=10, rounded=False).select(
        "query_id", "doc_id"
    )
    out = hit_extended_stats(run, _attr_docs(spark, sf_dir), ["n_chars"])
    keep = ["query_id", "facet", "n", "min", "max"]
    return out.select(
        *keep,
        *[
            F.round(c, 6).alias(c)
            for c in [
                "avg", "sum", "sum_of_squares", "variance",
                "variance_sampling", "std_deviation",
                "std_deviation_sampling", "std_upper", "std_lower",
            ]
        ],
    )


def q_hit_weighted_avg(spark, sf_dir):
    """ES weighted_avg over the BM25 top-10 hit set: value = the NULLed
    n_chars sample, weight = token count; ES skip semantics (a hit with a
    NULL value contributes neither numerator nor denominator)."""
    from openmatch_spark.query import hit_weighted_avg

    run = _bm25_run(spark, sf_dir, k=10, rounded=False).select(
        "query_id", "doc_id"
    )
    out = hit_weighted_avg(
        run, _attr_docs(spark, sf_dir), "nc_sampled", "n_tokens"
    )
    return out.select(
        "query_id", F.round("weighted_avg", 6).alias("weighted_avg")
    )


def q_hit_value_count(spark, sf_dir):
    """ES value_count over the BM25 top-10 hit set: non-NULL values per
    attribute (the NULLed sample column actually varies; lang is total)."""
    from openmatch_spark.query import hit_value_count

    run = _bm25_run(spark, sf_dir, k=10, rounded=False).select(
        "query_id", "doc_id"
    )
    return hit_value_count(
        run, _attr_docs(spark, sf_dir), ["nc_sampled", "lang"]
    )


def q_hit_missing(spark, sf_dir):
    """ES missing aggregation over the BM25 top-10 hit set: hits whose
    attribute is NULL (complement of value_count; includes hits absent
    from the attribute table via the left hydrate)."""
    from openmatch_spark.query import hit_missing

    run = _bm25_run(spark, sf_dir, k=10, rounded=False).select(
        "query_id", "doc_id"
    )
    return hit_missing(run, _attr_docs(spark, sf_dir), ["nc_sampled", "lang"])


def q_hit_filters(spark, sf_dir):
    """ES filters aggregation over the BM25 top-10 hit set: named
    independent predicate buckets (long_doc, en), zero-count buckets
    emitted for every query."""
    from openmatch_spark.query import hit_filters

    run = _bm25_run(spark, sf_dir, k=10, rounded=False).select(
        "query_id", "doc_id"
    )
    return hit_filters(
        run,
        _attr_docs(spark, sf_dir),
        {"long_doc": "n_chars >= 400", "en": "lang = 'en'"},
    )


def q_matrix_stats(spark, sf_dir):
    """ES matrix_stats over the BM25 top-10 hit set (n_chars × token
    count), long form per ordered field pair: population covariance,
    Pearson correlation (NULL on constant fields, never NaN), population
    skewness and excess kurtosis from two-pass centered moments."""
    from openmatch_spark.query import matrix_stats

    run = _bm25_run(spark, sf_dir, k=10, rounded=False).select(
        "query_id", "doc_id"
    )
    out = matrix_stats(run, _attr_docs(spark, sf_dir), ["n_chars", "n_tokens"])
    return out.select(
        "query_id", "field_x", "field_y", "n",
        *[
            F.round(c, 6).alias(c)
            for c in [
                "mean_x", "covariance", "correlation",
                "skewness_x", "kurtosis_x",
            ]
        ],
    )


def q_facet_adjacency(spark, sf_dir):
    """ES adjacency_matrix over the BM25 top-10 hit set: per-filter and
    pairwise-intersection doc counts in one groupBy pass (keys joined
    '&' in sorted-name order; empty buckets omitted, ES convention)."""
    from openmatch_spark.operators.facets import adjacency_matrix_facets

    run = _bm25_run(spark, sf_dir, k=10, rounded=False).select(
        "query_id", "doc_id"
    )
    return adjacency_matrix_facets(
        run,
        _attr_docs(spark, sf_dir),
        {"long": "n_chars >= 400", "en": "lang = 'en'", "toky": "n_tokens >= 60"},
    )


def q_facet_multi_terms(spark, sf_dir):
    """ES multi_terms over the BM25 top-10 hit set: top composite
    (lang, source) keys by hit count, count DESC then joined-key ASC;
    docs missing any key component excluded (ES semantics)."""
    from openmatch_spark.operators.facets import multi_terms_facets

    run = _bm25_run(spark, sf_dir, k=10, rounded=False).select(
        "query_id", "doc_id"
    )
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"), "lang", "source"
    )
    return multi_terms_facets(run, docs, ["lang", "source"], size=3)


def q_facet_rare(spark, sf_dir):
    """ES rare_terms over the BM25 top-10 hit set: the long tail (source
    values held by exactly one hit doc) — exact here because the hit set
    is bounded; corpus-scale contexts filter aggregated df instead."""
    from openmatch_spark.operators.facets import rare_terms_facets

    run = _bm25_run(spark, sf_dir, k=10, rounded=False).select(
        "query_id", "doc_id"
    )
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"), "source"
    )
    return rare_terms_facets(run, docs, ["source"], max_doc_count=1)


def q_diversified_sample(spark, sf_dir):
    """ES diversified_sampler sampling step over the BM25 top-10 run:
    best-ranked 5 hits per query with at most 2 per source (host/source
    de-biasing before a sub-aggregation)."""
    from openmatch_spark.operators.facets import diversified_sample

    run = _bm25_run(spark, sf_dir, k=10, rounded=False).select(
        "query_id", "doc_id", "rank"
    )
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"), "source"
    )
    return diversified_sample(
        run, docs, "source", shard_size=5, max_docs_per_value=2
    )


def q_function_score(spark, sf_dir):
    """Full ES function_score combiner over the BM25 top-10: a filtered
    weight (lang='en'), a log1p field_value_factor on n_chars, and a
    deterministic md5-fold random_score, combined score_mode=sum then
    blended boost_mode=multiply — all pure column algebra."""
    from openmatch_spark.query import function_score

    run = _bm25_run(spark, sf_dir, k=10, rounded=False).select(
        "query_id", "doc_id", "score"
    )
    attrs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"), "lang", "n_chars"
    )
    out = function_score(
        run,
        attrs,
        [
            {"kind": "weight", "weight": 1.5, "filter": "lang = 'en'"},
            {"kind": "field_value_factor", "field": "n_chars",
             "factor": 0.01, "modifier": "log1p", "missing": 1.0},
            {"kind": "random_score", "seed": 7},
        ],
        score_mode="sum",
        boost_mode="multiply",
    )
    return out.select(
        "query_id", "doc_id", F.round("score", 6).alias("score"), "rank"
    )


def q_significant_jlh(spark, sf_dir):
    """significant_terms under the ES JLH heuristic (absolute change x
    relative change of fg vs bg doc rates) — same fg/bg machinery as the
    lift entry, different published formula."""
    from openmatch_spark.query import significant_terms

    run = _bm25_run(spark, sf_dir, k=10, rounded=False).select(
        "query_id", "doc_id"
    )
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    out = significant_terms(run, docs, n=10, min_doc_count=2, heuristic="jlh")
    return out.select(
        "query_id", "term", "fg_df", "bg_df",
        F.round("score", 6).alias("score"), "rank",
    )


def q_auto_date_histogram(spark, sf_dir):
    """ES auto_date_histogram over the BM25 top-10 hit set (synthetic
    warc_ts, the fixtures' 2024-01-01 + doc_id*7h rule): per query, the
    finest calendar rung keeping <= 3 occupied buckets, buckets counted at
    that rung with the chosen interval reported."""
    from openmatch_spark.operators.facets import auto_date_histogram_facets

    run = _bm25_run(spark, sf_dir, k=10, rounded=False).select(
        "query_id", "doc_id"
    )
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        (
            F.to_timestamp(F.lit("2024-01-01 00:00:00"))
            + F.make_interval(hours=(F.col("doc_id") * 7).cast("int"))
        ).alias("warc_ts"),
    )
    return auto_date_histogram_facets(run, docs, "warc_ts", target_buckets=3)


def q_pinned_search(spark, sf_dir):
    """ES pinned query over the BM25 top-10: per query, doc 3 then doc 1
    promoted ahead of organic results (dedup from the tail; a pinned doc
    outside the organic run keeps a NULL score)."""
    from openmatch_spark.query import search_pinned

    run = _bm25_run(spark, sf_dir, k=10, rounded=False).select(
        "query_id", "doc_id", "score"
    )
    qids = [qid for qid, _ in QUERIES]
    pins = _ldf(spark, 
        [(q, "3", 1) for q in qids] + [(q, "1", 2) for q in qids],
        "query_id string, doc_id string, pin_order int",
    )
    out = search_pinned(run, pins)
    return out.select(
        "query_id", "doc_id", F.round("score", 6).alias("score"),
        "rank", "pinned",
    )


def q_rank_feature(spark, sf_dir):
    """ES rank_feature functions inside the function_score combiner:
    saturation(n_chars, pivot 300) + log(n_tokens, scaling 1), summed and
    multiplied into the BM25 top-10 scores."""
    from openmatch_spark.query import function_score

    run = _bm25_run(spark, sf_dir, k=10, rounded=False).select(
        "query_id", "doc_id", "score"
    )
    out = function_score(
        run,
        _attr_docs(spark, sf_dir),
        [
            {"kind": "rank_feature", "field": "n_chars",
             "function": "saturation", "pivot": 300.0},
            {"kind": "rank_feature", "field": "n_tokens",
             "function": "log", "scaling_factor": 1.0},
        ],
        score_mode="sum",
        boost_mode="multiply",
    )
    return out.select(
        "query_id", "doc_id", F.round("score", 6).alias("score"), "rank"
    )


def q_facet_histogram_dense(spark, sf_dir):
    """ES histogram with min_doc_count=0 + extended_bounds over the BM25
    top-10 hit set: every n_chars bucket (width 100) between the snapped
    bounds appears, zero-count gaps and forced edges included."""
    from openmatch_spark.operators.facets import histogram_facets

    run = _bm25_run(spark, sf_dir, k=10, rounded=False).select(
        "query_id", "doc_id"
    )
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"), "n_chars"
    )
    return histogram_facets(
        run, docs, {"n_chars": 100.0},
        min_doc_count=0, extended_bounds={"n_chars": (0.0, 700.0)},
    )


def q_percentile_ranks(spark, sf_dir):
    """ES percentile_ranks over the BM25 top-10 hit set: the share of hit
    n_chars values <= each probe (exact, not t-digest — bounded hit set,
    oracle-checkable); NULLed-sample column exercises NULL exclusion."""
    from openmatch_spark.query import hit_percentile_ranks

    run = _bm25_run(spark, sf_dir, k=10, rounded=False).select(
        "query_id", "doc_id"
    )
    out = hit_percentile_ranks(
        run, _attr_docs(spark, sf_dir), "nc_sampled", (200.0, 450.0)
    )
    return out.select(
        "query_id", "value", F.round("percent", 6).alias("percent")
    )


def q_top_metrics(spark, sf_dir):
    """ES top_metrics over the BM25 top-10 hit set: lang and token count
    carried by the 2 longest hit docs per query (sort n_chars DESC,
    doc_id tiebreak)."""
    from openmatch_spark.query import top_metrics

    run = _bm25_run(spark, sf_dir, k=10, rounded=False).select(
        "query_id", "doc_id"
    )
    out = top_metrics(
        run, _attr_docs(spark, sf_dir), "n_chars", ["lang", "n_tokens"],
        ascending=False, size=2,
    )
    return out.select("query_id", "pos", "sort_value", "lang", "n_tokens")


def q_geo_bounds(spark, sf_dir):
    """ES geo_bounds + geo_centroid over the synthetic customer points,
    grouped by a deterministic region bucket (custkey % 3): enclosing box
    and mean coordinate per group in one output row."""
    from openmatch_spark.operators.geo import geo_bounds, geo_centroid

    pts = _geo_customers(spark, sf_dir).withColumn(
        "bucket", (F.col("cust_id").cast("long") % 3).cast("int")
    )
    b = geo_bounds(pts, "lat", "lon", ["bucket"])
    c = geo_centroid(pts, "lat", "lon", ["bucket"]).select(
        "bucket",
        F.round("lat", 6).alias("centroid_lat"),
        F.round("lon", 6).alias("centroid_lon"),
    )
    return b.join(c, "bucket").select(
        "bucket",
        F.round("top", 6).alias("top"), F.round("left", 6).alias("left"),
        F.round("bottom", 6).alias("bottom"), F.round("right", 6).alias("right"),
        "n_points", "centroid_lat", "centroid_lon",
    )


def q_facet_sibling_stats(spark, sf_dir):
    """ES stats_bucket sibling pipeline aggregation: collapse each
    query's monthly date_histogram buckets into one
    (n, min, max, avg, sum) row over the bucket metric."""
    from openmatch_spark.operators.pipeline_aggs import sibling_bucket_agg

    b = _pipeline_buckets(spark, sf_dir)
    out = sibling_bucket_agg(b, "n_docs", "bucket", ["query_id"], fn="stats")
    return out.select(
        "query_id", "n", "min", "max",
        F.round("avg", 6).alias("avg"), F.round("sum", 6).alias("sum"),
    )


def q_facet_max_bucket(spark, sf_dir):
    """ES max_bucket: the extremal bucket metric per query plus the
    ascending comma-joined bucket keys attaining it (ES reports the keys
    list alongside the value — ties are real in this fixture)."""
    from openmatch_spark.operators.pipeline_aggs import sibling_bucket_agg

    b = _pipeline_buckets(spark, sf_dir)
    out = sibling_bucket_agg(b, "n_docs", "bucket", ["query_id"], fn="max")
    return out.select("query_id", F.round("value", 6).alias("value"), "keys")


def q_facet_percentiles_bucket(spark, sf_dir):
    """ES percentiles_bucket (documented EXACT with linear interpolation,
    unlike the t-digest metric agg) of each query's monthly bucket-count
    distribution at 25/50/75."""
    from openmatch_spark.operators.pipeline_aggs import percentiles_bucket

    b = _pipeline_buckets(spark, sf_dir)
    out = percentiles_bucket(
        b, "n_docs", ["query_id"], percents=(25.0, 50.0, 75.0)
    )
    return out.select(
        "query_id", "percent", F.round("value", 6).alias("value")
    )


def q_facet_normalize(spark, sf_dir):
    """ES normalize pipeline aggregation: percent_of_sum AND z-score of
    each monthly bucket count within its query (two of the six ES
    methods; the rest share the same window algebra and are
    pytest-covered)."""
    from openmatch_spark.operators.pipeline_aggs import normalize_buckets

    b = _pipeline_buckets(spark, sf_dir)
    b = normalize_buckets(
        b, "n_docs", ["query_id"], method="percent_of_sum", out_col="pct"
    )
    b = normalize_buckets(b, "n_docs", ["query_id"], method="z-score",
                          out_col="z")
    return b.select(
        "query_id", "bucket", "n_docs",
        F.round("pct", 6).alias("pct"), F.round("z", 6).alias("z"),
    )


def q_hit_string_stats(spark, sf_dir):
    """ES string_stats (with show_distribution's Shannon entropy, log2)
    over the BM25 top-10 hit set's text attribute: codepoint length
    stats plus the pooled character-distribution entropy per query."""
    from openmatch_spark.query import hit_string_stats

    run = _bm25_run(spark, sf_dir, k=10, rounded=False).select(
        "query_id", "doc_id"
    )
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    out = hit_string_stats(run, docs, "text")
    return out.select(
        "query_id", "n", "min_length", "max_length",
        F.round("avg_length", 6).alias("avg_length"),
        F.round("entropy", 6).alias("entropy"),
    )


def q_hit_mad(spark, sf_dir):
    """ES median_absolute_deviation over the BM25 top-10 hit set's
    n_chars: median(|x - median(x)|) with exact linear-interpolated
    medians (ES approximates with t-digest; the hit set is k-bounded so
    exact is free and oracle-checkable)."""
    from openmatch_spark.query import hit_median_absolute_deviation

    run = _bm25_run(spark, sf_dir, k=10, rounded=False).select(
        "query_id", "doc_id"
    )
    out = hit_median_absolute_deviation(
        run, _attr_docs(spark, sf_dir), "n_chars"
    )
    return out.select("query_id", F.round("mad", 6).alias("mad"))


def q_hit_boxplot(spark, sf_dir):
    """ES boxplot over the BM25 top-10 hit set's n_chars: exact
    quartiles plus Tukey whiskers clamped to actual observations
    (smallest value >= q1 - 1.5 IQR, largest <= q3 + 1.5 IQR)."""
    from openmatch_spark.query import hit_boxplot

    run = _bm25_run(spark, sf_dir, k=10, rounded=False).select(
        "query_id", "doc_id"
    )
    out = hit_boxplot(run, _attr_docs(spark, sf_dir), "n_chars")
    return out.select(
        "query_id",
        *[F.round(c, 6).alias(c)
          for c in ["min", "max", "q1", "q2", "q3", "lower", "upper"]],
    )


def q_hit_t_test(spark, sf_dir):
    """ES t_test metric aggregation over the BM25 top-10 hit set, all
    three modes in one long frame: paired (rows with either side NULL
    dropped), homoscedastic (pooled), heteroscedastic (Welch). Fields:
    the NULLed n_chars sample vs the token count, so the modes' n_a/n_b
    actually differ. Reports t statistic + degrees of freedom (the
    p-value needs the t CDF — documented deviation in hit_t_test)."""
    from openmatch_spark.query import hit_t_test

    run = _bm25_run(spark, sf_dir, k=10, rounded=False).select(
        "query_id", "doc_id"
    )
    attrs = _attr_docs(spark, sf_dir)
    out = None
    for mode in ("paired", "homoscedastic", "heteroscedastic"):
        o = hit_t_test(run, attrs, "nc_sampled", "n_tokens", mode=mode)
        o = o.select(
            F.lit(mode).alias("mode"), "query_id", "n_a", "n_b",
            F.round("t_stat", 6).alias("t_stat"),
            F.round("df", 6).alias("df"),
        )
        out = o if out is None else out.unionByName(o)
    return out


def q_facet_rate(spark, sf_dir):
    """ES rate aggregation inside the monthly date_histogram: each
    bucket count re-expressed per day, divided by the TRUE calendar
    month length (31 for January, 29 for leap-year February)."""
    from openmatch_spark.operators.pipeline_aggs import bucket_rate

    b = _pipeline_buckets(spark, sf_dir)
    out = bucket_rate(b, "n_docs", "bucket", "month", "day")
    return out.select(
        "query_id", "bucket", "n_docs", F.round("rate", 6).alias("rate")
    )


def q_geo_rings(spark, sf_dir):
    """ES geo_distance aggregation: ring buckets by haversine km from
    (10N, 20E) over the synthetic customer points, grouped by the
    deterministic custkey%3 bucket — every requested ring present per
    group even at zero count."""
    from openmatch_spark.operators.geo import geo_distance_facets

    pts = _geo_customers(spark, sf_dir).withColumn(
        "grp", (F.col("cust_id").cast("long") % 3).cast("int")
    )
    return geo_distance_facets(
        pts, "lat", "lon", 10.0, 20.0,
        [(None, 3000.0), (3000.0, 8000.0), (8000.0, None)],
        group_cols=["grp"],
    )


def q_facet_date_range(spark, sf_dir):
    """ES date_range aggregation over the BM25 top-10 hit set's
    synthesized timestamp: from-inclusive / to-exclusive ranges with
    open ends, overlap allowed, all requested ranges present per query
    (zero-filled)."""
    from openmatch_spark.operators.facets import date_range_facets

    run = _bm25_run(spark, sf_dir, k=10, rounded=False).select(
        "query_id", "doc_id"
    )
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        (
            F.to_timestamp(F.lit("2024-01-01 00:00:00"))
            + F.make_interval(hours=(F.col("doc_id") * 7).cast("int"))
        ).alias("warc_ts"),
    )
    return date_range_facets(run, docs, "warc_ts", [
        (None, "2024-03-01 00:00:00"),
        ("2024-02-01 00:00:00", "2024-06-01 00:00:00"),
        ("2025-01-01 00:00:00", None),
    ])


def q_distance_feature(spark, sf_dir):
    """ES distance_feature query folded into the BM25 score (additive,
    as a bool-should clause composes): boost 3, pivot 50 around
    origin 400 on the NULLed n_chars sample — hits missing the field
    get zero boost, never NULL."""
    from openmatch_spark.query import distance_feature_rescore

    run = _bm25_run(spark, sf_dir, k=10, rounded=False)
    out = distance_feature_rescore(
        run, _attr_docs(spark, sf_dir), "nc_sampled",
        origin=400.0, pivot=50.0, boost=3.0,
    )
    return out.select(
        "query_id", "doc_id", F.round("score", 6).alias("score"), "rank"
    )


def q_facet_change_point(spark, sf_dir):
    """ES change_point (step-change subset) over each query's monthly
    bucket series: best two-segment SSE split, classified
    indeterminable / stationary / step_change; NULL detail columns off
    the step_change branch. The short monthly series exercise all three
    verdicts at sf0.01."""
    from openmatch_spark.operators.pipeline_aggs import change_point

    b = _pipeline_buckets(spark, sf_dir)
    out = change_point(b, "n_docs", "bucket", ["query_id"])
    return out.select(
        "query_id", "type", "change_bucket",
        F.round("left_mean", 6).alias("left_mean"),
        F.round("right_mean", 6).alias("right_mean"),
        F.round("reduction_ratio", 6).alias("reduction_ratio"),
    )


def q_facet_date_histogram_tz(spark, sf_dir):
    """ES date_histogram with time_zone and offset: daily buckets of the
    hit set's timestamps on +05:30 wall-clock time, boundaries shifted
    +6h (ES rule: start = trunc(ts - offset) + offset, keys in the
    requested zone). The oracle pins the fixed zone offset as interval
    arithmetic; named DST zones ride Spark's from_utc_timestamp."""
    from openmatch_spark.operators.facets import date_histogram_facets

    run = _bm25_run(spark, sf_dir, k=10, rounded=False).select(
        "query_id", "doc_id"
    )
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        (
            F.to_timestamp(F.lit("2024-01-01 00:00:00"))
            + F.make_interval(hours=(F.col("doc_id") * 7).cast("int"))
        ).alias("warc_ts"),
    )
    return date_histogram_facets(
        run, docs, "warc_ts", "day", offset="+6h", time_zone="+05:30"
    )


def q_geo_line(spark, sf_dir):
    """ES geo_line aggregation: per coarse bucket (custkey // 30 over
    the first 100 customers), the WKT track through the synthetic
    points ordered by cust_id, capped at 20 points — buckets 0..2
    overflow (complete=false), bucket 3 fits (complete=true)."""
    from openmatch_spark.operators.geo import geo_line

    pts = _geo_customers(spark, sf_dir).select(
        F.col("cust_id").cast("long").alias("cid"), "lat", "lon"
    ).where(F.col("cid") <= 100).withColumn(
        "bucket", F.floor(F.col("cid") / 30).cast("int")
    )
    return geo_line(pts, "lat", "lon", "cid", ["bucket"], size=20)


def q_facet_ip_range(spark, sf_dir):
    """ES ip_range aggregation over the BM25 top-10 hit set: client IPs
    synthesized deterministically from doc_id (two /16 masks, a bounded
    from..to split and an open-ended tail; doc 7 gets a malformed
    address that must fall in no bucket), from inclusive / to exclusive,
    zero-filled buckets."""
    from openmatch_spark.operators.facets import ip_range_facets

    run = _bm25_run(spark, sf_dir, k=10, rounded=False).select(
        "query_id", "doc_id"
    )
    d = F.col("doc_id").cast("bigint")
    ip = F.when(d == 7, F.lit("not.an.ip.addr")).otherwise(
        F.concat(
            F.lit("10."), (d % 3).cast("string"),
            F.lit("."), (d % 256).cast("string"),
            F.lit("."), ((d * 7) % 256).cast("string"),
        )
    )
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"), ip.alias("client_ip")
    )
    return ip_range_facets(run, docs, "client_ip", [
        {"mask": "10.0.0.0/16"},
        {"mask": "10.1.0.0/16"},
        {"from": "10.2.0.0", "to": "10.2.128.0"},
        {"from": "10.2.128.0", "to": None},
    ])


def q_facet_ks_test(spark, sf_dir):
    """ES bucket_count_ks_test (deterministic D statistics) of each
    query's monthly bucket counts against the uniform distribution over
    its buckets; the ML-derived p-values are documented out."""
    from openmatch_spark.operators.pipeline_aggs import bucket_count_ks_test

    b = _pipeline_buckets(spark, sf_dir)
    out = bucket_count_ks_test(b, "n_docs", "bucket", ["query_id"])
    return out.select(
        "query_id", "n_buckets",
        F.round("d_greater", 6).alias("d_greater"),
        F.round("d_less", 6).alias("d_less"),
        F.round("d_two_sided", 6).alias("d_two_sided"),
    )


def q_categorize_text(spark, sf_dir):
    """ES categorize_text (deterministic exact-pattern core) over a
    log-like message column synthesized from doc_id: four rotating
    templates plus a rare backup template and one singleton; digit
    tokens (ids, latencies, status codes) are the variable parts that
    categorization strips. min_doc_count=3 prunes the singleton."""
    from openmatch_spark.operators.facets import categorize_text

    d = F.col("doc_id").cast("bigint")
    s = d.cast("string")
    msg = (
        F.when(d == 42, F.lit("weird singleton glitch"))
        .when(d % 97 == 0,
              F.concat(F.lit("backup job "), s, F.lit(" finished")))
        .when(d % 4 == 0,
              F.concat(F.lit("GET /api/users/"), s,
                       F.lit(" returned 200 in "),
                       ((d * 13) % 997).cast("string"), F.lit(" ms")))
        .when(d % 4 == 1,
              F.concat(F.lit("POST /api/orders/"), s,
                       F.lit(" failed with error "),
                       (d % 7).cast("string")))
        .when(d % 4 == 2,
              F.concat(F.lit("cache miss for key k"), s,
                       F.lit(" after "), (d % 5).cast("string"),
                       F.lit(" lookups")))
        .otherwise(F.concat(F.lit("connection to host"), s,
                            F.lit(" timed out")))
    )
    logs = _docs(spark, sf_dir).select(msg.alias("msg"))
    return categorize_text(logs, "msg", min_doc_count=3)


def q_frequent_itemsets(spark, sf_dir):
    """ES frequent_item_sets: which (field, value) items co-occur in the
    same documents above 5% support — level-wise apriori as joins over
    lang / source / 200-char size-bucket items. Oracle replays the full
    lattice (singles, lexicographic pair/triple extension, per-level
    support gates) in SQL."""
    from openmatch_spark.operators.itemsets import frequent_item_sets

    d = _docs(spark, sf_dir)
    out = frequent_item_sets(
        d,
        {
            "lang": F.col("lang"),
            "source": F.col("source"),
            "size": F.floor(F.col("n_chars") / 200).cast("long"),
        },
        minimum_support=0.05, max_set_size=3, size=15,
    )
    return out.select(
        "items", "set_size", "doc_count",
        F.round("support", 6).alias("support"), "rank",
    )


BOOL_PREFIX_QUERIES = [
    ("bp1", "table valu"),   # full term + prefix with expansions
    ("bp2", "qu"),           # single token: prefix clause only
    ("bp3", "customer fast sc"),
]


def q_match_bool_prefix(spark, sf_dir):
    """ES match_bool_prefix over the packed index: tokens before the last
    score as BM25 term clauses; the last token is a prefix query worth
    Lucene's CONSTANT_SCORE rewrite value (1.0 once per matching doc,
    however many expansions hit). Oracle rebuilds both clause families
    from the raw corpus."""
    from openmatch_spark.query import search_bool_prefix

    idx = _entry_index(spark, sf_dir)
    bq = _ldf(spark, 
        BOOL_PREFIX_QUERIES, "query_id string, text string"
    )
    run = search_bool_prefix(idx, bq, k=10, max_expansions=PREFIX_MAX_EXP)
    return run.select(
        "query_id",
        F.regexp_replace("doc_id", "^doc://", "").alias("doc_id"),
        F.round("score", 6).alias("score"),
        "rank",
    )


def q_facet_moving_percentiles(spark, sf_dir):
    """ES moving_percentiles over the monthly date_histogram buckets:
    exact p25/p50/p75 of the 3 buckets strictly before each one (the
    moving_fn frame), NULL where the frame is empty."""
    from openmatch_spark.operators.pipeline_aggs import moving_percentiles

    b = _pipeline_buckets(spark, sf_dir)
    out = moving_percentiles(
        b, "n_docs", "bucket", ["query_id"],
        window=3, percents=(25.0, 50.0, 75.0),
    )
    return out.select(
        "query_id", "bucket", "n_docs",
        *[F.round(f"p{p:g}", 6).alias(f"p{p:g}") for p in (25, 50, 75)],
    )


_FIELDED_CACHE: dict[str, str] = {}


_FIELDED_HANDLE_CACHE: dict = {}


def _load_entry_fielded(spark, d):
    """load_fielded_index memoized per (session, dir) — same rationale as
    _load_entry_index, times the number of per-field sub-indexes."""
    from openmatch_spark.query import load_fielded_index

    key = (id(spark), d)
    h = _FIELDED_HANDLE_CACHE.get(key)
    if h is None:
        _FIELDED_HANDLE_CACHE[key] = h = load_fielded_index(spark, d)
    return h


def _entry_fielded(spark, sf_dir):
    """Build (once per sf_dir) and load the fielded index family: the
    SAME title/body token split as the bm25f/dismax/cross_fields entries,
    re-serialized to text (the simple analyzer round-trips a space join
    of its own tokens), one packed sub-index per field."""
    from openmatch_spark.analysis import tokenize_col
    from openmatch_spark.query import build_fielded_index, load_fielded_index

    if sf_dir not in _FIELDED_CACHE:
        d = tempfile.mkdtemp(prefix="om_fielded_idx_")
        toks = _docs(spark, sf_dir).select(
            F.col("doc_id").cast("string").alias("doc_id"),
            tokenize_col(F.col("text"), "simple").alias("toks"),
            "lang",
        )
        pages = toks.select(
            "doc_id",
            F.array_join(F.slice("toks", 1, 8), " ").alias("title"),
            F.array_join(F.slice("toks", 9, 1 << 30), " ").alias("body"),
            "lang",  # doc values: dsl_fielded_filtered entry
        )
        build_fielded_index(
            spark, pages, d, ["title", "body"],
            analyzer="simple", num_shards=4, num_term_buckets=8,
            store_attrs=["lang"],
        )
        _FIELDED_CACHE[sf_dir] = d
    return _load_entry_fielded(spark, _FIELDED_CACHE[sf_dir])


def q_dismax_indexed(spark, sf_dir):
    """Same answer as q_dismax, produced by the FULL fielded engine: one
    packed per-field sub-index (Lucene's per-field term spaces), the
    pruned postings decode per field, and the per-term dis-max fold over
    stored payload weights. Shares q_dismax's oracle SQL, so the whole
    fielded index path is DuckDB-checked. Every sf0.01 doc has >= 10
    tokens, so no doc is missing a field and the index universes equal
    the ad-hoc ones exactly."""
    from openmatch_spark.query import search_fielded

    run = search_fielded(
        _entry_fielded(spark, sf_dir), _queries_df(spark),
        match_type="best_fields", tie_breaker=_DISMAX_TIE, k=10,
    )
    return run.withColumn("score", F.round("score", 6))


def q_cross_fields_indexed(spark, sf_dir):
    """Same answer as q_cross_fields via the fielded index: BlendedTermQuery
    max-df blending as a pure rescale of the baked per-field payload
    weight (w * idf_blend / idf_field — no tf recovery), title^2 boosts.
    Shares q_cross_fields's oracle SQL."""
    from openmatch_spark.query import search_fielded

    run = search_fielded(
        _entry_fielded(spark, sf_dir), _queries_df(spark),
        match_type="cross_fields", tie_breaker=_XF_TIE, k=10,
        field_boosts={"title": _XF_TITLE_BOOST, "body": 1.0},
    )
    return run.withColumn("score", F.round("score", 6))


# round-5: field-prefixed query strings over the fielded family
# (querystring.parse_query_string_fielded): analyzed prefixes score on
# their sub-index, attribute prefixes (lang) gate as filter context,
# bare segments spread best_fields (dis_max, tie 0)
QSF_QUERIES = [
    ("qf0", "title:spark body:join"),
    ("qf1", "+title:merge -lang:de"),
    ("qf2", "spark"),
    ("qf3", "body:scan^2 +lang:en"),
]


def q_query_string_fielded(spark, sf_dir):
    """Lucene-classic field syntax compiled onto the fielded DSL
    (VERDICT r4 item 6): per-field scoring with each field's OWN
    statistics, attribute filters gating without touching scores. The
    oracle replays every clause against the shared per-field weight
    table (_fielded_wf_ctes)."""
    from openmatch_spark.query import search_query_string_fielded

    qs = _ldf(spark, QSF_QUERIES, "query_id string, text string")
    run = search_query_string_fielded(_entry_fielded(spark, sf_dir), qs, k=10)
    return run.withColumn("score", F.round("score", 6))


# round-5: percolation rules with filter context (query/percolate.py
# `filter` column — "term X AND lang=en" routing rules); pf3 is the
# ungated control through the same code path
PERC_FILTER_RULES = [
    ("pf0", "spark join", None, None, '[{"term": {"lang": "en"}}]'),
    ("pf1", None, "merge sort stream", None,
     '[{"range": {"n_chars": {"gte": 300}}}]'),
    ("pf2", "spark", None, "window", '[{"terms": {"lang": ["de", "fr"]}}]'),
    ("pf3", "merge", None, None, None),
]
_PERC_F_VALUES = ", ".join(
    "('{}', {}, {}, {})".format(
        q, *("NULL" if v is None else "'{}'".format(v) for v in (m, s, n))
    )
    for (q, m, s, n, _f) in PERC_FILTER_RULES
)


def q_percolate_filtered(spark, sf_dir):
    """Percolation with doc-values gates (VERDICT r4 item 7): each rule's
    filter leaves evaluate against the doc frame's own columns; the
    distinct predicate set compiles once and docs pay one projection
    pass, never a shuffle of their bulk."""
    from openmatch_spark.query import percolate

    stored = _ldf(spark, 
        PERC_FILTER_RULES,
        "query_id string, must string, should string, must_not string,"
        " filter string",
    )
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"), "text", "lang",
        "n_chars",
    )
    return percolate(docs, stored, min_should_match=0)


# round-5: fielded-family lifecycle (VERDICT r4 item 5) — delete docs
# across every sub-index, compact with stats rebaseline, and land
# bit-identically on a fresh fielded build over the survivors
_FIELDED_LC_CACHE: dict[str, str] = {}
_LC_DROP_MOD = 7  # docs with int(doc_id) % 7 == 0 are deleted

LC_QUERIES = {
    "lc0": {"bool": {"should": [{"match": {"title": "spark"}},
                                {"match": {"body": "join"}}]}},
    "lc1": {"dis_max": {"queries": [{"match": {"title": "merge"}},
                                    {"match": {"body": "merge"}}],
            "tie_breaker": 0.5}},
}


def _entry_fielded_lifecycle(spark, sf_dir):
    """Build (once per sf_dir) the lifecycle family: the _entry_fielded
    layout over ALL docs, then delete_docs_fielded of every doc_id
    divisible by _LC_DROP_MOD, then compact_fielded_index with
    rebaseline_stats=True — so collection statistics equal a build that
    never saw the deleted docs (the single-index rebaseline contract,
    lifted per field)."""
    from openmatch_spark.analysis import tokenize_col
    from openmatch_spark.query import (
        build_fielded_index,
        compact_fielded_index,
        delete_docs_fielded,
        load_fielded_index,
    )

    if sf_dir not in _FIELDED_LC_CACHE:
        d = tempfile.mkdtemp(prefix="om_fielded_lc_")
        toks = _docs(spark, sf_dir).select(
            F.col("doc_id").cast("string").alias("doc_id"),
            tokenize_col(F.col("text"), "simple").alias("toks"),
        )
        pages = toks.select(
            "doc_id",
            F.array_join(F.slice("toks", 1, 8), " ").alias("title"),
            F.array_join(F.slice("toks", 9, 1 << 30), " ").alias("body"),
        )
        build_fielded_index(
            spark, pages, d, ["title", "body"],
            analyzer="simple", num_shards=4, num_term_buckets=8,
        )
        doomed = [
            r["doc_id"] for r in pages.where(
                F.col("doc_id").cast("int") % _LC_DROP_MOD == 0
            ).select("doc_id").collect()
        ]
        delete_docs_fielded(spark, d, sorted(doomed))
        compact_fielded_index(spark, d, rebaseline_stats=True)
        _FIELDED_LC_CACHE[sf_dir] = d
    return _load_entry_fielded(spark, _FIELDED_LC_CACHE[sf_dir])


def q_dsl_fielded_lifecycle(spark, sf_dir):
    """Fielded DSL over the delete+rebaseline family — the oracle
    computes the per-field weight table over the SURVIVOR universe only
    (statistics included), which is exactly what the rebaselined compact
    must converge to."""
    from openmatch_spark.query import search_dsl_fielded

    run = search_dsl_fielded(
        _entry_fielded_lifecycle(spark, sf_dir), LC_QUERIES, k=10
    )
    return run.withColumn("score", F.round("score", 6))


PHRASE_SUGGEST_QUERIES = [
    ("p1", "fast tble scan"),   # 1-edit typo inside a trigram
    ("p2", "slo queri"),        # two 1-edit typos
    ("p3", "vector scan"),      # real words — self-phrase must win
]


def q_phrase_suggest(spark, sf_dir):
    """ES phrase suggester: whole-phrase did-you-mean under the
    noisy-channel model (stupid-backoff bigram LM x edit-distance
    channel), top-3 per query. The oracle replays the ENTIRE model in
    DuckDB — LM tables from the raw corpus, candidate generation, and
    the exact combination enumeration as a recursive CTE."""
    from openmatch_spark.query import suggest_phrases

    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    qs = _ldf(spark, 
        PHRASE_SUGGEST_QUERIES, "query_id string, text string"
    )
    out = suggest_phrases(docs, qs)
    return out.select(
        "query_id", "suggestion", F.round("score", 6).alias("score"), "rank"
    )


# ---------------------------------------------------------------------------
# driver contract
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full indexed BM25 engine over sf0.001 documents."""
    return q_bm25_topk_indexed(spark, "/root/testdata/sf0.001")


# Entries already sampled by the driver in CORRECTNESS_r01..r04.  The driver
# samples ~50 entries from the FRONT of queries(); rotating the never-checked
# long tail to the front gets it driver-verified (VERDICT r4, item 1).
_DRIVER_CHECKED = frozenset({
    # r1-r4 sample + the 50 entries the round-5 driver turned green
    # (CORRECTNESS_r05.json) — so _rotate_unchecked puts the
    # never-driver-checked tail first for the round-6 sample
    "accuracy_at_k", "bm25_boolean", "bm25_boolean_msm", "bm25_topk",
    "bm25_topk_deleted", "bm25_topk_federated", "bm25_topk_indexed",
    "bm25_topk_pruned", "bm25_topk_rebaselined", "bm25_topk_stemmed",
    "bm25_topk_stopped", "bm25_topk_upserted", "bm25f", "boosting_search",
    "canonical_url", "ccnet_buckets", "combine_negatives",
    "combined_fields", "composite_page", "corpus_stats", "cross_fields",
    "cross_fields_indexed", "curate", "decay_search", "dedup_closure",
    "dedup_exact", "dedup_pipeline", "dismax", "dismax_indexed",
    "doc_keywords", "dsir_weights", "dsl_constant_score", "dsl_dismax",
    "dsl_explain", "dsl_fielded", "dsl_fielded_filtered",
    "dsl_fielded_lifecycle", "dsl_filtered", "dsl_filtered_pattern",
    "dsl_multi_match", "dsl_nested", "dsl_search", "embedding_neardup",
    "embedding_neardup_ann", "event_window_stats", "facet_bucket_sort",
    "facet_date_histogram", "facet_histogram", "facet_max_bucket",
    "facet_normalize", "facet_percentiles_bucket", "facet_pipeline",
    "facet_ranges", "facet_sibling_stats", "facet_top_hits", "facets",
    "field_value_factor", "filtered_search", "filtered_search_dv",
    "fuzzy_search", "geo_distance", "geohash_grid", "geotile_grid",
    "gopher_quality", "ground_truth_inject", "hard_negatives", "highlight",
    "hit_cardinality", "hit_counts", "hit_extended_stats", "hit_filters",
    "hit_mad", "hit_missing", "hit_percentiles", "hit_stats",
    "hit_string_stats", "hit_value_count", "hit_weighted_avg",
    "hybrid_combmnz", "hybrid_combsum", "hybrid_rrf", "ivf_ann",
    "ivf_ann_df", "knn_cosine", "knn_cosine_df", "lang_id",
    "lm_perplexity", "mean_pool", "media_features", "minhash_pairs",
    "minhash_signatures", "mrr10", "ndcg10", "ngram_jaccard",
    "passage_maxp", "percolate", "percolate_filtered", "percolate_phrase",
    "phrase_prefix", "phrase_search", "pii_scrub", "prefix_search",
    "proximity_search", "qld_jm", "qld_topk", "qld_topk_indexed",
    "quality", "query_string", "query_string_fielded",
    "query_string_grouped", "rank_window", "recall10", "regexp_search",
    "repetition", "rerank_bm25", "rescore", "rm3_expand", "search_after",
    "sessionize", "significant_terms", "simhash_neardup",
    "simple_query_string", "snippets", "sorted_search", "span_containing",
    "span_first", "span_near", "span_not", "span_or", "span_within",
    "synonym_search", "term_stats", "term_vectors", "terms_set",
    "text_extract", "token_counts", "trec_roundtrip", "wildcard_search",
    "winnow_fingerprints",
})


def _rotate_unchecked(
    reg: dict[str, Callable[[SparkSession, str], DataFrame]],
) -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Never-driver-checked entries first, previously-green entries after."""
    out = {k: v for k, v in reg.items() if k not in _DRIVER_CHECKED}
    out.update({k: v for k, v in reg.items() if k in _DRIVER_CHECKED})
    return out


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _rotate_unchecked({
        "bm25_topk": q_bm25_topk,
        "bm25_topk_indexed": q_bm25_topk_indexed,
        "bm25_topk_rebaselined": q_bm25_topk_rebaselined,
        "bm25_topk_pruned": q_bm25_topk_pruned,
        "bm25_topk_stopped": q_bm25_topk_stopped,
        "bm25_topk_deleted": q_bm25_topk_deleted,
        "bm25_topk_upserted": q_bm25_topk_upserted,
        "bm25_topk_federated": q_bm25_topk_federated,
        "bm25_topk_stemmed": q_bm25_topk_stemmed,
        "qld_topk": q_qld_topk,
        "qld_jm": q_qld_jm,
        "qld_topk_indexed": q_qld_topk_indexed,
        "fuzzy_search": q_fuzzy_search,
        "prefix_search": q_prefix_search,
        "wildcard_search": q_wildcard_search,
        "regexp_search": q_regexp_search,
        "synonym_search": q_synonym_search,
        "search_after": q_search_after,
        "filtered_search": q_filtered_search,
        "filtered_search_dv": q_filtered_search_dv,
        "dsl_search": q_dsl_search,
        "dsl_filtered": q_dsl_filtered,
        "dsl_nested": q_dsl_nested,
        "dsl_constant_score": q_dsl_constant_score,
        "dsl_dismax": q_dsl_dismax,
        "dsl_filtered_pattern": q_dsl_filtered_pattern,
        "dsl_fielded": q_dsl_fielded,
        "dsl_multi_match": q_dsl_multi_match,
        "dsl_fielded_filtered": q_dsl_fielded_filtered,
        "query_string_fielded": q_query_string_fielded,
        "percolate_filtered": q_percolate_filtered,
        "dsl_fielded_lifecycle": q_dsl_fielded_lifecycle,
        "dsl_explain": q_dsl_explain,
        "query_string_grouped": q_query_string_grouped,
        "passage_maxp": q_passage_maxp,
        "bm25_boolean": q_bm25_boolean,
        "bm25_boolean_msm": q_bm25_boolean_msm,
        "hit_counts": q_hit_counts,
        "hit_stats": q_hit_stats,
        "hit_percentiles": q_hit_percentiles,
        "sorted_search": q_sorted_search,
        "percolate": q_percolate,
        "percolate_phrase": q_percolate_phrase,
        "decay_search": q_decay_search,
        "boosting_search": q_boosting_search,
        "term_vectors": q_term_vectors,
        "doc_keywords": q_doc_keywords,
        "significant_terms": q_significant_terms,
        "phrase_search": q_phrase_search,
        "phrase_prefix": q_phrase_prefix,
        "terms_set": q_terms_set,
        "span_first": q_span_first,
        "span_not": q_span_not,
        "proximity_search": q_proximity_search,
        "query_string": q_query_string,
        "span_near": q_span_near,
        "span_containing": q_span_containing,
        "span_within": q_span_within,
        "span_or": q_span_or,
        "simple_query_string": q_simple_query_string,
        "highlight": q_highlight,
        "snippets": q_snippets,
        "bm25f": q_bm25f,
        "combined_fields": q_combined_fields,
        "dismax": q_dismax,
        "cross_fields": q_cross_fields,
        "dismax_indexed": q_dismax_indexed,
        "cross_fields_indexed": q_cross_fields_indexed,
        "rm3_expand": q_rm3_expand,
        "facets": q_facets,
        "facet_ranges": q_facet_ranges,
        "facet_histogram": q_facet_histogram,
        "facet_top_hits": q_facet_top_hits,
        "lm_perplexity": q_lm_perplexity,
        "ccnet_buckets": q_ccnet_buckets,
        "dsir_weights": q_dsir_weights,
        "hybrid_rrf": q_hybrid_rrf,
        "hybrid_combsum": q_hybrid_combsum,
        "rescore": q_rescore,
        "field_value_factor": q_field_value_factor,
        "hybrid_combmnz": q_hybrid_combmnz,
        "facet_date_histogram": q_facet_date_histogram,
        "facet_pipeline": q_facet_pipeline,
        "facet_bucket_sort": q_facet_bucket_sort,
        "facet_sibling_stats": q_facet_sibling_stats,
        "facet_max_bucket": q_facet_max_bucket,
        "facet_percentiles_bucket": q_facet_percentiles_bucket,
        "facet_normalize": q_facet_normalize,
        "composite_page": q_composite_page,
        "geo_distance": q_geo_distance,
        "geotile_grid": q_geotile_grid,
        "geohash_grid": q_geohash_grid,
        "hit_cardinality": q_hit_cardinality,
        "hit_extended_stats": q_hit_extended_stats,
        "hit_weighted_avg": q_hit_weighted_avg,
        "hit_value_count": q_hit_value_count,
        "hit_missing": q_hit_missing,
        "hit_filters": q_hit_filters,
        "hit_string_stats": q_hit_string_stats,
        "hit_mad": q_hit_mad,
        "hit_boxplot": q_hit_boxplot,
        "hit_t_test": q_hit_t_test,
        "facet_rate": q_facet_rate,
        "geo_rings": q_geo_rings,
        "facet_date_range": q_facet_date_range,
        "distance_feature": q_distance_feature,
        "matrix_stats": q_matrix_stats,
        "facet_adjacency": q_facet_adjacency,
        "facet_multi_terms": q_facet_multi_terms,
        "facet_rare": q_facet_rare,
        "diversified_sample": q_diversified_sample,
        "facet_histogram_dense": q_facet_histogram_dense,
        "function_score": q_function_score,
        "pinned_search": q_pinned_search,
        "rank_feature": q_rank_feature,
        "significant_jlh": q_significant_jlh,
        "auto_date_histogram": q_auto_date_histogram,
        "percentile_ranks": q_percentile_ranks,
        "top_metrics": q_top_metrics,
        "geo_bounds": q_geo_bounds,
        "facet_terms": q_facet_terms,
        "group_cap": q_group_cap,
        "random_sampler": q_random_sampler,
        "significant_text": q_significant_text,
        "completion_suggest": q_completion_suggest,
        "mmr_rerank": q_mmr_rerank,
        "suggest": q_suggest,
        "collapsed_search": q_collapsed_search,
        "spell_suggest": q_spell_suggest,
        "phrase_suggest": q_phrase_suggest,
        "match_bool_prefix": q_match_bool_prefix,
        "facet_moving_percentiles": q_facet_moving_percentiles,
        "frequent_itemsets": q_frequent_itemsets,
        "facet_change_point": q_facet_change_point,
        "categorize_text": q_categorize_text,
        "intervals": q_intervals,
        "facet_ks_test": q_facet_ks_test,
        "facet_ip_range": q_facet_ip_range,
        "geo_line": q_geo_line,
        "facet_date_histogram_tz": q_facet_date_histogram_tz,
        "bm25_topk_synonyms": q_bm25_topk_synonyms,
        "sorted_search_indexed": q_sorted_search_indexed,
        "more_like_this": q_more_like_this,
        "bm25_explain": q_bm25_explain,
        "corpus_stats": q_corpus_stats,
        "term_stats": q_term_stats,
        "collocations": q_collocations,
        "token_counts": q_token_counts,
        "gopher_quality": q_gopher_quality,
        "canonical_url": q_canonical_url,
        "pii_scrub": q_pii_scrub,
        "repetition": q_repetition,
        "rank_window": q_rank_window,
        "hard_negatives": q_hard_negatives,
        "ground_truth_inject": q_ground_truth_inject,
        "mrr10": q_mrr10,
        "bpref": q_bpref,
        "rprec": q_rprec,
        "judged10": q_judged10,
        "recall10": q_recall10,
        "ndcg10": q_ndcg10,
        "err10": q_err10,
        "rbp10": q_rbp10,
        "map10": q_map10,
        "ltr_features": q_ltr_features,
        "interleave_td": q_interleave_td,
        "qpp": q_qpp,
        "temperature_mixture": q_temperature_mixture,
        "dedup_exact": q_dedup_exact,
        "dedup_pipeline": q_dedup_pipeline,
        "dedup_closure": q_dedup_closure,
        "dedup_incremental": q_dedup_incremental,
        "dedup_spans": q_dedup_spans,
        "curate": q_curate,
        "ngram_jaccard": q_ngram_jaccard,
        "event_window_stats": q_event_window_stats,
        "sessionize": q_sessionize,
        "mean_pool": q_mean_pool,
        "text_extract": q_text_extract,
        "minhash_signatures": q_minhash_signatures,
        "minhash_pairs": q_minhash_pairs,
        "lang_id": q_lang_id,
        "quality": q_quality,
        "knn_cosine": q_knn_cosine,
        "knn_filtered": q_knn_filtered,
        "knn_cosine_df": q_knn_cosine_df,
        "knn_quantized": q_knn_quantized,
        "knn_pq": q_knn_pq,
        "embedding_neardup": q_embedding_neardup,
        "embedding_neardup_ann": q_embedding_neardup_ann,
        "trec_roundtrip": q_trec_roundtrip,
        "simhash_neardup": q_simhash_neardup,
        "winnow_fingerprints": q_winnow_fingerprints,
        "ivf_ann": q_ivf_ann,
        "ivf_ann_df": q_ivf_ann_df,
        "media_features": q_media_features,
        "accuracy_at_k": q_accuracy_at_k,
        "combine_negatives": q_combine_negatives,
        "rerank_bm25": q_rerank_bm25,
        "decontaminate": q_decontaminate,
        "decontaminate_fuzzy": q_decontaminate_fuzzy,
        "mixture_sample": q_mixture_sample,
        "mixture_report": q_mixture_report,
        "pack_sequences": q_pack_sequences,
        "pack_sequences_offset": q_pack_sequences_offset,
        "boilerplate": q_boilerplate,
        "grouped_split": q_grouped_split,
    })


def _stop_sql(terms: list[str]) -> str:
    return ", ".join(f"'{t}'" for t in terms)


def oracle_sql() -> dict[str, str]:
    tok_cte = _TOK
    lang_ratio = lambda stops: (  # noqa: E731
        "CAST(len(list_filter(toks, t -> t IN ({s}))) AS DOUBLE) / "
        "greatest(len(toks), 1)"
    ).format(s=_stop_sql(stops))

    sql = {}

    sql["bm25_topk"] = _BM25_TOPK_SQL
    sql["bm25_topk_indexed"] = _BM25_TOPK_SQL
    # the incremental+rebaseline lifecycle must land on the same answer a
    # fresh build (and the engine-less ad-hoc SQL) produces
    sql["bm25_topk_rebaselined"] = _BM25_TOPK_SQL
    sql["bm25_topk_deleted"] = _BM25_DELETED_SQL

    # english_stop analyzer: same split, then drop Lucene's classic stop
    # set on BOTH sides (docs and queries) over the stopword-injected corpus
    from openmatch_spark.analysis import LUCENE_ENGLISH_STOPWORDS

    _stoplist = ", ".join(f"'{w}'" for w in LUCENE_ENGLISH_STOPWORDS)
    sql["bm25_topk_stopped"] = f"""
WITH sdocs AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         CASE WHEN doc_id % 4 = 1 THEN text || ' {_STOP_SUFFIX}' ELSE text END AS text
  FROM documents
),
tok AS (
  SELECT doc_id, t.term
  FROM sdocs, UNNEST(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     x -> x <> '' AND x NOT IN ({_stoplist}))) AS t(term)
),
tf AS (SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf FROM tok GROUP BY doc_id, term),
dl AS (SELECT doc_id, CAST(COUNT(*) AS DOUBLE) AS doclen FROM tok GROUP BY doc_id),
g AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(doclen) AS avgdl FROM dl),
dfreq AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY term),
q(query_id, text) AS (VALUES {", ".join(f"('{q}', '{t}')" for q, t in STOP_QUERIES)}),
qtok AS (
  SELECT q.query_id, t.term
  FROM q, UNNEST(list_filter(regexp_split_to_array(lower(q.text), '[^a-z0-9]+'),
                 x -> x <> '' AND x NOT IN ({_stoplist}))) AS t(term)
),
qt AS (SELECT query_id, term, CAST(COUNT(*) AS DOUBLE) AS qtf FROM qtok GROUP BY query_id, term),
scored AS (
  SELECT qt.query_id, tf.doc_id,
         SUM(qt.qtf
             * ln(1 + (g.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
             * tf.tf / (tf.tf + {K1} * (1 - {B} + {B} * dl.doclen / g.avgdl))) AS score
  FROM tf
  JOIN qt ON qt.term = tf.term
  JOIN dl ON dl.doc_id = tf.doc_id
  JOIN dfreq ON dfreq.term = tf.term
  CROSS JOIN g
  GROUP BY qt.query_id, tf.doc_id
),
srun AS (
  SELECT query_id, doc_id, score,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS INTEGER) AS rank
  FROM scored
)
SELECT query_id, doc_id, ROUND(score, 6) AS score, rank FROM srun WHERE rank <= 10
"""

    # static pruning: recompute every posting weight, apply the SAME
    # per-term top-N cut (rounded weight, doc order tie-break — doc_ord IS
    # doc_id order after a full merge), score survivors only
    sql["bm25_topk_pruned"] = f"""
WITH {_BM25_CTES},
pw AS (
  SELECT tf.doc_id, tf.term,
         ln(1 + (g.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
           * tf.tf / (tf.tf + {K1} * (1 - {B} + {B} * dl.doclen / g.avgdl)) AS w
  FROM tf
  JOIN dl ON dl.doc_id = tf.doc_id
  JOIN dfreq ON dfreq.term = tf.term
  CROSS JOIN g
),
pruned AS (
  SELECT doc_id, term, w FROM (
    SELECT doc_id, term, w,
           ROW_NUMBER() OVER (PARTITION BY term ORDER BY ROUND(w, 6) DESC, doc_id ASC) AS rn
    FROM pw
  ) WHERE rn <= {_PRUNE_KEEP}
),
pscored AS (
  SELECT qt.query_id, p.doc_id, SUM(qt.qtf * p.w) AS score
  FROM pruned p JOIN qt ON qt.term = p.term
  GROUP BY qt.query_id, p.doc_id
),
prun AS (
  SELECT query_id, doc_id, score,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS INTEGER) AS rank
  FROM pscored
)
SELECT query_id, doc_id, ROUND(score, 6) AS score, rank FROM prun WHERE rank <= 10
"""
    sql["bm25_topk_upserted"] = _BM25_UPSERTED_SQL
    # federated search must land on the SAME fresh-build oracle: the member
    # split, geometries, and stat federation are invisible to DuckDB
    sql["bm25_topk_federated"] = _BM25_TOPK_SQL
    sql["qld_topk"] = _QLD_SQL
    sql["qld_topk_indexed"] = _QLD_SQL
    sql["fuzzy_search"] = _FUZZY_SQL
    sql["prefix_search"] = _PREFIX_SQL
    sql["wildcard_search"] = _WILDCARD_SQL
    sql["regexp_search"] = _REGEXP_SQL
    sql["synonym_search"] = _SYNONYM_SQL
    sql["search_after"] = _SEARCH_AFTER_SQL
    sql["filtered_search"] = _FILTERED_SQL
    # the doc-values route must land on the SAME oracle: the stored-attr
    # hydration is invisible to DuckDB
    sql["filtered_search_dv"] = _FILTERED_SQL
    sql["passage_maxp"] = _PASSAGE_MAXP_SQL
    sql["bm25_boolean"] = _BM25_BOOLEAN_SQL
    # the DSL front door compiles the same fixture onto the shared clause
    # executor — identical results required, so identical oracle
    sql["dsl_search"] = _BM25_BOOLEAN_SQL
    sql["dsl_filtered"] = _DSL_FILTERED_SQL
    sql["dsl_nested"] = _DSL_NESTED_SQL
    sql["dsl_constant_score"] = _DSL_CONST_SQL
    sql["dsl_dismax"] = _DSL_DISMAX_SQL
    sql["dsl_filtered_pattern"] = _DSL_FILTER_PATTERN_SQL
    sql["dsl_fielded"] = _DSL_FIELDED_SQL
    sql["dsl_multi_match"] = _DSL_MM_SQL

    # field-prefixed query strings (round 5): every clause replayed
    # against the shared per-field weight table; attribute prefixes gate
    # via the raw documents columns (qf1 must_not-filter, qf3 must-filter)
    sql["query_string_fielded"] = f"""
WITH {_fielded_wf_ctes()},
langd AS (SELECT CAST(doc_id AS VARCHAR) AS doc_id, lang FROM documents),
qf0_t AS (SELECT doc_id, wgt AS s FROM wf
          WHERE field = 'title' AND term = 'spark'),
qf0_b AS (SELECT doc_id, wgt AS s FROM wf
          WHERE field = 'body' AND term = 'join'),
qf0 AS (
  SELECT 'qf0' AS query_id, COALESCE(a.doc_id, b.doc_id) AS doc_id,
         COALESCE(a.s, 0) + COALESCE(b.s, 0) AS score
  FROM qf0_t a FULL OUTER JOIN qf0_b b ON a.doc_id = b.doc_id
),
qf1 AS (
  SELECT 'qf1' AS query_id, w.doc_id, w.wgt AS score
  FROM wf w JOIN langd l ON l.doc_id = w.doc_id
  WHERE w.field = 'title' AND w.term = 'merge' AND l.lang <> 'de'
),
qf2_t AS (SELECT doc_id, wgt AS s FROM wf
          WHERE field = 'title' AND term = 'spark'),
qf2_b AS (SELECT doc_id, wgt AS s FROM wf
          WHERE field = 'body' AND term = 'spark'),
qf2 AS (
  SELECT 'qf2' AS query_id, COALESCE(a.doc_id, b.doc_id) AS doc_id,
         CASE WHEN a.s IS NOT NULL AND b.s IS NOT NULL
              THEN GREATEST(a.s, b.s) ELSE COALESCE(a.s, b.s) END AS score
  FROM qf2_t a FULL OUTER JOIN qf2_b b ON a.doc_id = b.doc_id
),
qf3 AS (
  SELECT 'qf3' AS query_id, w.doc_id, 2.0 * w.wgt AS score
  FROM wf w JOIN langd l ON l.doc_id = w.doc_id
  WHERE w.field = 'body' AND w.term = 'scan' AND l.lang = 'en'
),
qfall AS (
  SELECT * FROM qf0 UNION ALL SELECT * FROM qf1
  UNION ALL SELECT * FROM qf2 UNION ALL SELECT * FROM qf3
),
qfrun AS (
  SELECT query_id, doc_id, score,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY score DESC, doc_id ASC
         ) AS INTEGER) AS rank
  FROM qfall
)
SELECT query_id, doc_id, ROUND(score, 6) AS score, rank
FROM qfrun WHERE rank <= 10
"""

    # fielded lifecycle (round 5): the SAME weight-table replica computed
    # over the survivor universe only — doc_id % {_LC_DROP_MOD} == 0
    # deleted, statistics rebaselined by compact_fielded_index
    sql["dsl_fielded_lifecycle"] = f"""
WITH {_fielded_wf_ctes(
    f"WHERE CAST(d.doc_id AS INTEGER) % {_LC_DROP_MOD} <> 0")},
lc0_t AS (SELECT doc_id, wgt AS s FROM wf
          WHERE field = 'title' AND term = 'spark'),
lc0_b AS (SELECT doc_id, wgt AS s FROM wf
          WHERE field = 'body' AND term = 'join'),
lc0 AS (
  SELECT 'lc0' AS query_id, COALESCE(a.doc_id, b.doc_id) AS doc_id,
         COALESCE(a.s, 0) + COALESCE(b.s, 0) AS score
  FROM lc0_t a FULL OUTER JOIN lc0_b b ON a.doc_id = b.doc_id
),
lc1_t AS (SELECT doc_id, wgt AS s FROM wf
          WHERE field = 'title' AND term = 'merge'),
lc1_b AS (SELECT doc_id, wgt AS s FROM wf
          WHERE field = 'body' AND term = 'merge'),
lc1 AS (
  SELECT 'lc1' AS query_id, COALESCE(a.doc_id, b.doc_id) AS doc_id,
         CASE WHEN a.s IS NOT NULL AND b.s IS NOT NULL
              THEN GREATEST(a.s, b.s)
                   + 0.5 * (a.s + b.s - GREATEST(a.s, b.s))
              ELSE COALESCE(a.s, b.s) END AS score
  FROM lc1_t a FULL OUTER JOIN lc1_b b ON a.doc_id = b.doc_id
),
lcall AS (SELECT * FROM lc0 UNION ALL SELECT * FROM lc1),
lcrun AS (
  SELECT query_id, doc_id, score,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY score DESC, doc_id ASC
         ) AS INTEGER) AS rank
  FROM lcall
)
SELECT query_id, doc_id, ROUND(score, 6) AS score, rank
FROM lcrun WHERE rank <= 10
"""
    sql["dsl_fielded_filtered"] = _DSL_FF_SQL
    sql["dsl_explain"] = _DSL_EXPLAIN_SQL
    sql["query_string_grouped"] = _QS_GROUPED_SQL

    # phrase percolation: roles as in `percolate`, plus the offset-
    # adjacency phrase check over the positional tokenization; phrase-
    # only rules enter via the FULL OUTER join of term hits and phrase
    # hits (the engine's exact composition)
    sql["percolate_phrase"] = f"""
WITH {_TOKP},
pprules(query_id, must, should, must_not, must_phrase, not_phrase)
  AS (VALUES {_PERC_PH_VALUES}),
pp_role_raw AS (
  SELECT query_id, t.term, 1 AS is_must, 0 AS is_should, 0 AS is_not
  FROM pprules, UNNEST(regexp_split_to_array(lower(COALESCE(must, '')), '[^a-z0-9]+')) AS t(term)
  WHERE t.term <> ''
  UNION
  SELECT query_id, t.term, 0, 1, 0
  FROM pprules, UNNEST(regexp_split_to_array(lower(COALESCE(should, '')), '[^a-z0-9]+')) AS t(term)
  WHERE t.term <> ''
  UNION
  SELECT query_id, t.term, 0, 0, 1
  FROM pprules, UNNEST(regexp_split_to_array(lower(COALESCE(must_not, '')), '[^a-z0-9]+')) AS t(term)
  WHERE t.term <> ''
),
pp_roles AS (
  SELECT query_id, term, MAX(is_must) AS is_must,
         MAX(is_should) * (1 - MAX(is_must)) AS is_should,
         MAX(is_not) AS is_not
  FROM pp_role_raw GROUP BY query_id, term
),
pp_req AS (
  SELECT r.query_id, COALESCE(a.req_must, 0) AS req_must,
         COALESCE(a.n_should_avail, 0) AS n_should_avail,
         CASE WHEN r.must_phrase IS NOT NULL THEN 1 ELSE 0 END AS req_phrase
  FROM pprules r LEFT JOIN (
    SELECT query_id, SUM(is_must) AS req_must,
           SUM(is_should) AS n_should_avail
    FROM pp_roles GROUP BY query_id
  ) a ON a.query_id = r.query_id
),
mp_src AS (
  SELECT query_id,
         list_filter(regexp_split_to_array(lower(must_phrase), '[^a-z0-9]+'),
                     x -> x <> '') AS ph
  FROM pprules WHERE must_phrase IS NOT NULL
),
mp_off AS (
  SELECT query_id, CAST(t.i - 1 AS BIGINT) AS off, ph[t.i] AS term
  FROM mp_src, UNNEST(generate_series(1, len(ph))) AS t(i)
),
mp_len AS (SELECT query_id, COUNT(*) AS plen FROM mp_off GROUP BY query_id),
mp_hit AS (
  SELECT x.doc_id, x.query_id FROM (
    SELECT tp.doc_id, o.query_id, tp.pos - o.off AS adj,
           COUNT(DISTINCT o.off) AS n_off
    FROM tokp tp JOIN mp_off o ON o.term = tp.term
    GROUP BY tp.doc_id, o.query_id, tp.pos - o.off
  ) x JOIN mp_len m ON m.query_id = x.query_id AND x.n_off = m.plen
  GROUP BY x.doc_id, x.query_id
),
np_src AS (
  SELECT query_id,
         list_filter(regexp_split_to_array(lower(not_phrase), '[^a-z0-9]+'),
                     x -> x <> '') AS ph
  FROM pprules WHERE not_phrase IS NOT NULL
),
np_off AS (
  SELECT query_id, CAST(t.i - 1 AS BIGINT) AS off, ph[t.i] AS term
  FROM np_src, UNNEST(generate_series(1, len(ph))) AS t(i)
),
np_len AS (SELECT query_id, COUNT(*) AS plen FROM np_off GROUP BY query_id),
np_hit AS (
  SELECT x.doc_id, x.query_id FROM (
    SELECT tp.doc_id, o.query_id, tp.pos - o.off AS adj,
           COUNT(DISTINCT o.off) AS n_off
    FROM tokp tp JOIN np_off o ON o.term = tp.term
    GROUP BY tp.doc_id, o.query_id, tp.pos - o.off
  ) x JOIN np_len m ON m.query_id = x.query_id AND x.n_off = m.plen
  GROUP BY x.doc_id, x.query_id
),
pp_dterm AS (SELECT DISTINCT doc_id, term FROM tok),
pp_hits AS (
  SELECT d.doc_id, r.query_id,
         SUM(r.is_must) AS n_must, SUM(r.is_should) AS n_should,
         SUM(r.is_not) AS n_not
  FROM pp_dterm d JOIN pp_roles r ON r.term = d.term
  GROUP BY d.doc_id, r.query_id
),
pp_cand AS (
  SELECT COALESCE(h.doc_id, p.doc_id) AS doc_id,
         COALESCE(h.query_id, p.query_id) AS query_id,
         COALESCE(h.n_must, 0) AS n_must,
         COALESCE(h.n_should, 0) AS n_should,
         COALESCE(h.n_not, 0) AS n_not,
         CASE WHEN p.doc_id IS NOT NULL THEN 1 ELSE 0 END AS phrase_hit
  FROM pp_hits h FULL OUTER JOIN mp_hit p
    ON p.doc_id = h.doc_id AND p.query_id = h.query_id
)
SELECT c.doc_id, c.query_id,
       CAST(c.n_must AS INTEGER) AS n_must,
       CAST(c.n_should AS INTEGER) AS n_should
FROM pp_cand c JOIN pp_req q ON q.query_id = c.query_id
WHERE c.n_not = 0 AND c.n_must = q.req_must
  AND c.phrase_hit >= q.req_phrase
  AND (q.req_must > 0 OR q.req_phrase > 0 OR c.n_should >= 1)
  AND (q.req_must + q.n_should_avail + q.req_phrase) > 0
  AND NOT EXISTS (SELECT 1 FROM np_hit n
                  WHERE n.doc_id = c.doc_id AND n.query_id = c.query_id)
"""
    sql["phrase_search"] = _PHRASE_SQL
    sql["phrase_prefix"] = _PHRASE_PREFIX_SQL
    sql["proximity_search"] = _PROXIMITY_SQL
    sql["span_near"] = _SPAN_SQL
    sql["span_containing"] = _SPAN_CONTAINING_SQL
    sql["span_within"] = _SPAN_WITHIN_SQL
    sql["span_or"] = _SPAN_OR_SQL
    sql["simple_query_string"] = _SIMPLE_QS_SQL
    sql["intervals"] = _INTERVALS_SQL
    sql["query_string"] = _QUERY_STRING_SQL
    sql["snippets"] = _SNIPPET_SQL
    sql["highlight"] = _HIGHLIGHT_SQL
    sql["bm25f"] = _BM25F_SQL
    sql["combined_fields"] = _COMBINED_FIELDS_SQL
    sql["rm3_expand"] = _RM3_SQL
    sql["facets"] = _FACETS_SQL
    sql["hybrid_rrf"] = _RRF_SQL
    sql["hybrid_combsum"] = _COMB_SQL_TMPL.format(expr="s")

    sql["field_value_factor"] = f"""
WITH {_BM25_CTES},
fvbase AS (SELECT query_id, doc_id, score FROM run WHERE rank <= 10),
fvhyd AS (
  SELECT b.query_id, b.doc_id,
         ROUND(b.score * ln(1 + CAST(0.01 AS DOUBLE)
               * COALESCE(CAST(d.n_chars AS DOUBLE), CAST(1.0 AS DOUBLE))), 6) AS score
  FROM fvbase b JOIN documents d ON CAST(d.doc_id AS VARCHAR) = b.doc_id
)
SELECT query_id, doc_id, score, rank FROM (
  SELECT query_id, doc_id, score,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS INTEGER) AS rank
  FROM fvhyd
) WHERE rank <= 10
"""

    # ES rescore: window=5 of the 6 dp BM25 run re-scored with the BM25F
    # top-10 as rescorer (absent -> 0 contribution); tail keeps order
    sql["rescore"] = f"""
WITH {_BM25_CTES},
rbase AS (SELECT query_id, doc_id, ROUND(score, 6) AS score, rank FROM run WHERE rank <= 10),
{_BM25F_FSCORED_CTES},
r2 AS (
  SELECT query_id, doc_id, ROUND(score, 6) AS rs FROM (
    SELECT query_id, doc_id, score,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
    FROM fscored
  ) WHERE rank <= 10
),
rwin AS (
  SELECT b.query_id, b.doc_id,
         ROUND(CAST(1.0 AS DOUBLE) * b.score + CAST(0.6 AS DOUBLE) * COALESCE(r2.rs, 0), 6) AS score,
         0 AS seg,
         ROUND(CAST(1.0 AS DOUBLE) * b.score + CAST(0.6 AS DOUBLE) * COALESCE(r2.rs, 0), 6) AS ordv,
         1 AS in_window
  FROM rbase b LEFT JOIN r2 ON r2.query_id = b.query_id AND r2.doc_id = b.doc_id
  WHERE b.rank <= 5
),
rtail AS (
  SELECT query_id, doc_id, score, 1 AS seg, CAST(-rank AS DOUBLE) AS ordv, 0 AS in_window
  FROM rbase WHERE rank > 5
),
rall AS (SELECT * FROM rwin UNION ALL SELECT * FROM rtail)
SELECT query_id, doc_id, score, rank, CAST(in_window AS INTEGER) AS in_window FROM (
  SELECT query_id, doc_id, score, in_window,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY seg ASC, ordv DESC, doc_id ASC) AS INTEGER) AS rank
  FROM rall
) WHERE rank <= 10
"""
    sql["hybrid_combmnz"] = _COMB_SQL_TMPL.format(expr="m * s")
    sql["facet_date_histogram"] = _DATE_HIST_SQL
    sql["facet_pipeline"] = _FACET_PIPELINE_SQL
    sql["facet_bucket_sort"] = _FACET_BUCKET_SORT_SQL
    sql["geo_distance"] = """
WITH geo AS (
  SELECT CAST(c_custkey AS VARCHAR) AS cust_id,
         ((c_custkey * 37) % 16000) / 100.0 - 80.0 AS lat,
         ((c_custkey * 7919) % 36000) / 100.0 - 180.0 AS lon
  FROM customer
),
d AS (
  SELECT cust_id,
         2 * 6371.0088 * ASIN(SQRT(LEAST(
            POW(SIN((RADIANS(10.0) - RADIANS(lat)) / 2), 2)
            + COS(RADIANS(lat)) * COS(RADIANS(10.0))
              * POW(SIN((RADIANS(20.0) - RADIANS(lon)) / 2), 2),
            1.0))) AS dist
  FROM geo
)
SELECT cust_id, distance_km, rank FROM (
  SELECT cust_id, ROUND(dist, 6) AS distance_km,
         CAST(ROW_NUMBER() OVER (ORDER BY dist ASC, cust_id ASC) AS INTEGER) AS rank
  FROM d WHERE dist <= 6000.0
) WHERE rank <= 15
"""

    sql["geotile_grid"] = """
WITH geo AS (
  SELECT ((c_custkey * 37) % 16000) / 100.0 - 80.0 AS lat,
         ((c_custkey * 7919) % 36000) / 100.0 - 180.0 AS lon
  FROM customer
),
tiles AS (
  SELECT CONCAT('4/',
           CAST(CAST(GREATEST(LEAST(FLOOR((lon + 180.0) / 360.0 * 16.0), 15), 0) AS BIGINT) AS VARCHAR),
           '/',
           CAST(CAST(GREATEST(LEAST(FLOOR(
             (1.0 - LN(TAN(RADIANS(GREATEST(LEAST(lat, 85.05112878), -85.05112878)))
                      + 1.0 / COS(RADIANS(GREATEST(LEAST(lat, 85.05112878), -85.05112878))))
                  / PI()) / 2.0 * 16.0), 15), 0) AS BIGINT) AS VARCHAR)
         ) AS cell
  FROM geo WHERE lat IS NOT NULL AND lon IS NOT NULL
),
counts AS (
  SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_docs FROM tiles GROUP BY cell
)
SELECT cell, n_docs, pos FROM (
  SELECT cell, n_docs,
         CAST(ROW_NUMBER() OVER (ORDER BY n_docs DESC, cell ASC) AS INTEGER) AS pos
  FROM counts
) WHERE pos <= 10
"""

    sql["geohash_grid"] = _geohash_grid_sql(precision=3, size=15)

    sql["composite_page"] = """
WITH buckets AS (
  SELECT lang, source, CAST(FLOOR(n_chars / 500) * 500 AS BIGINT) AS chars_bucket,
         CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM documents
  WHERE lang IS NOT NULL AND source IS NOT NULL AND n_chars IS NOT NULL
  GROUP BY lang, source, chars_bucket
),
ordered AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY lang ASC, source ASC, chars_bucket ASC) AS rn
  FROM buckets
)
SELECT lang, source, chars_bucket, n_docs,
       CAST(((rn - 1) // 5) + 1 AS INTEGER) AS page
FROM ordered WHERE rn <= 10
"""

    sql["facet_terms"] = f"""
WITH {_BM25_CTES},
run10 AS (SELECT query_id, doc_id FROM run WHERE rank <= 10),
thyd AS (
  SELECT r.query_id, COALESCE(d.source, '(null)') AS value
  FROM run10 r JOIN documents d ON CAST(d.doc_id AS VARCHAR) = r.doc_id
),
tcounts AS (
  SELECT query_id, 'source' AS facet, value, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM thyd GROUP BY query_id, value
),
tranked AS (
  SELECT query_id, facet, value, n_docs,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id, facet ORDER BY n_docs DESC, value ASC) AS INTEGER) AS pos
  FROM tcounts
)
SELECT query_id, facet, value, n_docs, pos FROM tranked WHERE pos <= 2
UNION ALL
SELECT query_id, facet, '(other)' AS value, CAST(SUM(n_docs) AS BIGINT) AS n_docs,
       CAST(NULL AS INTEGER) AS pos
FROM tranked WHERE pos > 2 GROUP BY query_id, facet
"""

    sql["hit_cardinality"] = f"""
WITH {_BM25_CTES},
run10 AS (SELECT query_id, doc_id FROM run WHERE rank <= 10),
hyd AS (
  SELECT r.query_id, d.source, d.lang
  FROM run10 r JOIN documents d ON CAST(d.doc_id AS VARCHAR) = r.doc_id
),
up AS (
  SELECT query_id, 'source' AS facet, source AS value FROM hyd
  UNION ALL
  SELECT query_id, 'lang' AS facet, lang AS value FROM hyd
)
SELECT query_id, facet, CAST(COUNT(DISTINCT value) AS BIGINT) AS cardinality
FROM up WHERE value IS NOT NULL
GROUP BY query_id, facet
"""

    # per-group cap: the SAME md5 draw (seed 42 over the string doc_id)
    # and (u, doc_id) order replayed in SQL — proves which rows survive
    sql["group_cap"] = """
WITH drawn AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, source,
         CAST('0x' || substr(md5(concat_ws('|', '42', CAST(doc_id AS VARCHAR))), 1, 8) AS UBIGINT) / 4294967296.0 AS u
  FROM documents
),
ranked AS (
  SELECT doc_id, source,
         CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY u ASC, doc_id ASC) AS INTEGER) AS sample_rank
  FROM drawn
)
SELECT doc_id, source, sample_rank FROM ranked WHERE sample_rank <= 3
"""
    sql["random_sampler"] = """
WITH sampled AS (
  SELECT lang
  FROM documents
  WHERE CAST('0x' || substr(md5(concat_ws('|', '7', CAST(doc_id AS VARCHAR))), 1, 8) AS UBIGINT) / 4294967296.0 < 0.4
)
SELECT lang AS value,
       CAST(COUNT(*) AS BIGINT) AS n_sampled,
       ROUND(COUNT(*) / 0.4, 6) AS n_docs_est
FROM sampled GROUP BY lang
"""
    sql["suggest"] = _SUGGEST_SQL
    sql["collapsed_search"] = _COLLAPSED_SQL.format(ctes=_BM25_CTES)
    sql["spell_suggest"] = _SPELL_SQL.format(
        vals=", ".join(f"('{q}', '{t}')" for q, t in SPELL_QUERIES)
    )
    sql["more_like_this"] = _MLT_SQL.format(
        prelude=_EXPAND_PRELUDE,
        seed_ids=", ".join(f"'{i}'" for i in MLT_SEED_IDS),
    )
    sql["bm25_explain"] = _EXPLAIN_SQL.format(ctes=_BM25_CTES)

    sql["corpus_stats"] = f"""
WITH {tok_cte},
dl AS (SELECT doc_id, COUNT(*) AS doclen FROM tok GROUP BY doc_id)
SELECT COUNT(*) AS n_docs,
       ROUND(AVG(CAST(doclen AS DOUBLE)), 6) AS avgdl,
       CAST(SUM(doclen) AS BIGINT) AS total_terms
FROM dl
"""

    sql["term_stats"] = f"""
WITH {tok_cte},
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term),
stats AS (SELECT term, COUNT(*) AS df, CAST(SUM(tf) AS BIGINT) AS cf FROM tf GROUP BY term),
ranked AS (
  SELECT term, df, cf,
         CAST(ROW_NUMBER() OVER (ORDER BY df DESC, term ASC) AS INTEGER) AS rnk
  FROM stats
)
SELECT term, df, cf, rnk FROM ranked WHERE rnk <= 50
"""

    sql["token_counts"] = """
WITH t AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks,
         len(regexp_extract_all(text,
             '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^\\sA-Za-z0-9]+')) AS n_bpe,
         length(text) AS n_chars
  FROM documents
)
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_tokens,
       CAST(len(list_distinct(toks)) AS BIGINT) AS n_unique_tokens,
       CAST(n_bpe AS BIGINT) AS n_bpe_tokens,
       CAST(n_chars AS BIGINT) AS n_chars
FROM t
"""

    sql["canonical_url"] = """
WITH r AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         'HTTPS://Example' || CAST(CAST(doc_id AS BIGINT) % 7 AS VARCHAR)
         || '.COM:443/Path/' || CAST(doc_id AS VARCHAR)
         || '/?utm_source=x&id=' || CAST(doc_id AS VARCHAR)
         || '&fbclid=zz#frag' AS raw_url
  FROM documents
),
s1 AS (SELECT doc_id, raw_url, regexp_replace(trim(raw_url), '#.*$', '') AS u FROM r),
s2 AS (
  SELECT *,
         lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.\\-]*)://', 1)) AS scheme,
         regexp_replace(u, '^[A-Za-z][A-Za-z0-9+.\\-]*://', '') AS af
  FROM s1
),
s3 AS (
  SELECT *,
         CASE WHEN scheme = 'http'
              THEN regexp_replace(lower(regexp_extract(af, '^([^/?#]*)', 1)), ':80$', '')
              WHEN scheme = 'https'
              THEN regexp_replace(lower(regexp_extract(af, '^([^/?#]*)', 1)), ':443$', '')
              ELSE lower(regexp_extract(af, '^([^/?#]*)', 1)) END AS host,
         regexp_replace(af, '^[^/?#]*', '') AS t0
  FROM s2
),
s4 AS (
  SELECT *,
         regexp_replace(regexp_replace(regexp_replace(regexp_replace(
           t0, '([?&])(?:utm_[A-Za-z0-9_]+|gclid|fbclid|msclkid)=[^&#]*', '\\1', 'g'),
           '&&+', '&', 'g'), '\\?&', '?', 'g'), '[?&]+$', '') AS t1
  FROM s3
),
s5 AS (
  SELECT *,
         CASE WHEN contains(t1, '?') THEN t1
              ELSE regexp_replace(t1, '/+$', '') END AS tail
  FROM s4
)
SELECT doc_id, raw_url,
       CASE WHEN scheme = '' THEN u ELSE scheme || '://' || host || tail END AS canonical_url
FROM s5
"""

    # the same (gram CTE -> count -> ROW_NUMBER) replica per n: the engine
    # computes max gram multiplicity as a sorted-array longest-run fold,
    # but the VALUE is identical to count-then-top with ties to the
    # smallest gram, so the oracle keeps the relational formulation
    _rep_gram = """
g{n} AS (
  SELECT b.doc_id, s.gram, COUNT(*) AS cnt
  FROM base b,
  UNNEST(list_transform(generate_series(1, len(b.toks) - {n1}),
                        i -> array_to_string(b.toks[i:i+{n1}], ' '))) AS s(gram)
  GROUP BY b.doc_id, s.gram
),
top{n} AS (
  SELECT doc_id, gram AS top_gram, cnt FROM (
    SELECT gg.*, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY cnt DESC, gram ASC) AS rn
    FROM g{n} gg
  ) WHERE rn = 1
)"""
    _rep_seg = """
         CAST(len({seg}) AS BIGINT) AS n_{p}s,
         ROUND(CAST(len({seg}) - len(list_distinct({seg})) AS DOUBLE)
               / greatest(len({seg}), 1), 6) AS dup_{p}_ratio,
         ROUND(CAST(COALESCE(list_sum(list_transform({seg}, x -> length(x))), 0)
                    - COALESCE(list_sum(list_transform(list_distinct({seg}), x -> length(x))), 0) AS DOUBLE)
               / greatest(COALESCE(list_sum(list_transform({seg}, x -> length(x))), 0), 1), 6) AS dup_{p}_char_ratio"""
    _rep_top = """
       COALESCE(t{n}.top_gram, '') AS top_{name},
       CAST(COALESCE(t{n}.cnt, 0) AS BIGINT) AS top_{name}_count,
       ROUND(CAST(COALESCE(t{n}.cnt, 0) * length(COALESCE(t{n}.top_gram, '')) AS DOUBLE)
             / greatest(length(b.text), 1), 6) AS top_{name}_char_ratio"""
    # duplicated-n-gram char mass: sum of cnt*len over grams with cnt > 1
    _rep_dup = """
d{n} AS (
  SELECT doc_id, SUM(cnt * length(gram)) AS chars FROM (
    SELECT b.doc_id, s.gram, COUNT(*) AS cnt
    FROM base b,
    UNNEST(list_transform(generate_series(1, len(b.toks) - {n1}),
                          i -> array_to_string(b.toks[i:i+{n1}], ' '))) AS s(gram)
    GROUP BY b.doc_id, s.gram
  ) WHERE cnt > 1 GROUP BY doc_id
)"""
    _rep_dup_sel = """
       ROUND(CAST(COALESCE(d{n}.chars, 0) AS DOUBLE)
             / greatest(length(b.text), 1), 6) AS dup_{n}gram_char_ratio"""
    sql["repetition"] = f"""
WITH d AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         CASE WHEN CAST(doc_id AS BIGINT) % 4 = 0
              THEN (CASE WHEN CAST(doc_id AS BIGINT) % 3 = 0
                         THEN text || chr(10) || text || chr(10) || text
                         ELSE text END)
                   || chr(10) || chr(10) ||
                   (CASE WHEN CAST(doc_id AS BIGINT) % 3 = 0
                         THEN text || chr(10) || text || chr(10) || text
                         ELSE text END)
              WHEN CAST(doc_id AS BIGINT) % 3 = 0
              THEN text || chr(10) || text || chr(10) || text
              ELSE text END AS text
  FROM documents
),
l AS (
  SELECT doc_id, text,
         list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)),
                     x -> x <> '') AS lines,
         list_filter(list_transform(regexp_split_to_array(text, '\\n{{2,}}'), x -> trim(x)),
                     x -> x <> '') AS paras,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
  FROM d
),
base AS (
  SELECT doc_id, text, toks,{_rep_seg.format(seg="lines", p="line")},{_rep_seg.format(seg="paras", p="para")}
  FROM l
),
{_rep_gram.format(n=2, n1=1)},
{_rep_gram.format(n=3, n1=2)},
{_rep_gram.format(n=4, n1=3)},
{",".join(_rep_dup.format(n=n, n1=n - 1) for n in range(5, 11))}
SELECT b.doc_id, b.n_lines, b.dup_line_ratio, b.dup_line_char_ratio,
       b.n_paras, b.dup_para_ratio, b.dup_para_char_ratio,{_rep_top.format(n=2, name="bigram")},{_rep_top.format(n=3, name="3gram")},{_rep_top.format(n=4, name="4gram")},{",".join(_rep_dup_sel.format(n=n) for n in range(5, 11))}
FROM base b
LEFT JOIN top2 t2 USING (doc_id)
LEFT JOIN top3 t3 USING (doc_id)
LEFT JOIN top4 t4 USING (doc_id)
{chr(10).join(f"LEFT JOIN d{n} USING (doc_id)" for n in range(5, 11))}
"""

    sql["pii_scrub"] = """
WITH d AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com or 10.0.0.'
              || CAST(CAST(doc_id AS BIGINT) % 250 AS VARCHAR)
              || ' tel +1 555-01' || CAST(doc_id AS VARCHAR) AS text
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+\\-]+@[A-Za-z0-9.\\-]+\\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(text, '\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b')) AS BIGINT) AS n_ipv4,
       CAST(len(regexp_extract_all(text, '\\+\\d{1,3}[ \\-]?\\(?\\d{1,4}\\)?(?:[ \\-]?\\d{2,4}){2,3}')) AS BIGINT) AS n_phones,
       md5(regexp_replace(regexp_replace(regexp_replace(text,
           '[A-Za-z0-9._%+\\-]+@[A-Za-z0-9.\\-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
           '\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b', '<IP>', 'g'),
           '\\+\\d{1,3}[ \\-]?\\(?\\d{1,4}\\)?(?:[ \\-]?\\d{2,4}){2,3}', '<PHONE>', 'g')) AS redacted_md5
FROM d
"""

    sql["gopher_quality"] = """
WITH w AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, text,
         list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS words,
         string_split(text, chr(10)) AS lines
  FROM documents
),
m AS (
  SELECT doc_id,
         CAST(len(words) AS BIGINT) AS n_words,
         ROUND(CAST(list_sum(list_transform(words, x -> length(x))) AS DOUBLE)
               / greatest(len(words), 1), 6) AS mean_word_len,
         ROUND((CAST(length(text) - length(translate(text, '#', '')) AS DOUBLE)
                + CAST(length(text) - length(regexp_replace(text, '\\.\\.\\.', '', 'g')) AS DOUBLE) / 3)
               / greatest(len(words), 1), 6) AS symbol_ratio,
         ROUND(CAST(len(list_filter(lines, l -> regexp_matches(trim(l), '^[•\\-\\*]'))) AS DOUBLE)
               / greatest(len(lines), 1), 6) AS bullet_ratio,
         ROUND(CAST(len(list_filter(lines, l -> regexp_matches(trim(l), '\\.\\.\\.$'))) AS DOUBLE)
               / greatest(len(lines), 1), 6) AS ellipsis_ratio,
         ROUND(CAST(len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
               / greatest(len(words), 1), 6) AS alpha_word_ratio,
         CAST(len(list_intersect(list_distinct(list_transform(words, x -> lower(x))),
                  ['the','be','to','of','and','that','have','with'])) AS BIGINT) AS stopword_hits
  FROM w
)
SELECT doc_id, n_words, mean_word_len, symbol_ratio, bullet_ratio,
       ellipsis_ratio, alpha_word_ratio, stopword_hits,
       CAST(n_words >= 10 AND n_words <= 100000 AS INTEGER) AS ok_word_count,
       CAST(mean_word_len >= 3.0 AND mean_word_len <= 10.0 AS INTEGER) AS ok_mean_word_len,
       CAST(symbol_ratio <= 0.1 AS INTEGER) AS ok_symbol_ratio,
       CAST(bullet_ratio <= 0.9 AS INTEGER) AS ok_bullet_ratio,
       CAST(ellipsis_ratio <= 0.3 AS INTEGER) AS ok_ellipsis_ratio,
       CAST(alpha_word_ratio >= 0.8 AS INTEGER) AS ok_alpha_words,
       CAST(stopword_hits >= 2 AS INTEGER) AS ok_stopwords,
       CAST(n_words >= 10 AND n_words <= 100000
            AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
            AND symbol_ratio <= 0.1 AND bullet_ratio <= 0.9
            AND ellipsis_ratio <= 0.3 AND alpha_word_ratio >= 0.8
            AND stopword_hits >= 2 AS INTEGER) AS gopher_pass
FROM m
"""

    sql["rank_window"] = """
SELECT lang, CAST(doc_id AS VARCHAR) AS doc_id, n_chars, rnk FROM (
  SELECT lang, doc_id, n_chars,
         CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_chars DESC, CAST(doc_id AS VARCHAR) ASC) AS INTEGER) AS rnk
  FROM documents
) WHERE rnk <= 5
"""

    sql["hard_negatives"] = f"""
WITH {_RUN10},
neg AS (
  SELECT r.query_id, r.doc_id
  FROM run10 r
  WHERE NOT EXISTS (
    SELECT 1 FROM qrels x WHERE x.query_id = r.query_id AND x.doc_id = r.doc_id
  )
),
samp AS (
  SELECT query_id, doc_id,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY query_id
           ORDER BY md5(concat_ws('|', '{SEED}', query_id, doc_id)) ASC, doc_id ASC
         ) AS INTEGER) AS sample_rank
  FROM neg
)
SELECT query_id, doc_id, sample_rank FROM samp WHERE sample_rank <= 3
"""

    sql["ground_truth_inject"] = f"""
WITH {_RUN10},
unioned AS (
  SELECT query_id, doc_id, score FROM run10
  UNION ALL
  SELECT query_id, doc_id, 1000.0 AS score FROM qrels
),
merged AS (
  SELECT query_id, doc_id, MAX(score) AS score FROM unioned GROUP BY query_id, doc_id
)
SELECT query_id, doc_id, ROUND(score, 6) AS score,
       CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS INTEGER) AS rank
FROM merged
"""

    sql["bpref"] = f"""
WITH {_RUN10},
qrels2 AS (
  SELECT qi.query_id, CAST(d.doc_id AS VARCHAR) AS doc_id,
         CAST(CASE WHEN d.doc_id % 83 = (7 * qi.qidx + 3) % 83
                   THEN d.doc_id % 3 + 1 ELSE 0 END AS INTEGER) AS rel
  FROM qi, documents d
  WHERE d.doc_id % 83 = (7 * qi.qidx + 3) % 83
     OR d.doc_id % 83 = (7 * qi.qidx + 4) % 83
),
totals AS (
  SELECT query_id,
         SUM(CASE WHEN rel >= 1 THEN 1 ELSE 0 END) AS R,
         SUM(CASE WHEN rel = 0 THEN 1 ELSE 0 END) AS N
  FROM qrels2 GROUP BY query_id
),
judged AS (
  SELECT r.query_id, r.rank, x.rel
  FROM run10 r JOIN qrels2 x ON x.query_id = r.query_id AND x.doc_id = r.doc_id
),
bp_scored AS (
  SELECT query_id, rank, rel,
         COALESCE(SUM(CASE WHEN rel = 0 THEN 1 ELSE 0 END) OVER (
           PARTITION BY query_id ORDER BY rank
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS nr
  FROM judged
),
contrib AS (
  SELECT s.query_id,
         SUM(CASE WHEN LEAST(t.N, t.R) > 0
                  THEN 1.0 - LEAST(s.nr, t.R) / CAST(LEAST(t.N, t.R) AS DOUBLE)
                  ELSE 1.0 END) AS sc
  FROM bp_scored s JOIN totals t ON t.query_id = s.query_id
  WHERE s.rel >= 1 GROUP BY s.query_id
),
perq AS (
  SELECT t.query_id, ROUND(COALESCE(c.sc, 0.0) / t.R, 6) AS bpref
  FROM totals t LEFT JOIN contrib c ON c.query_id = t.query_id
  WHERE t.R > 0
)
SELECT ROUND(AVG(bpref), 6) AS bpref, COUNT(*) AS n_queries FROM perq
"""

    sql["rprec"] = f"""
WITH {_RUN10},
totals AS (SELECT query_id, COUNT(*) AS R FROM qrels GROUP BY query_id),
hits AS (
  SELECT r.query_id, COUNT(*) AS h
  FROM run10 r
  JOIN totals t ON t.query_id = r.query_id
  JOIN qrels x ON x.query_id = r.query_id AND x.doc_id = r.doc_id
  WHERE r.rank <= t.R
  GROUP BY r.query_id
),
perq AS (
  SELECT t.query_id, COALESCE(h.h, 0) / CAST(t.R AS DOUBLE) AS rprec_q
  FROM totals t LEFT JOIN hits h ON h.query_id = t.query_id
)
SELECT ROUND(AVG(rprec_q), 6) AS rprec, COUNT(*) AS n_queries FROM perq
"""

    sql["judged10"] = f"""
WITH {_RUN10},
qrels2 AS (
  SELECT qi.query_id, CAST(d.doc_id AS VARCHAR) AS doc_id
  FROM qi, documents d
  WHERE d.doc_id % 83 = (7 * qi.qidx + 3) % 83
     OR d.doc_id % 83 = (7 * qi.qidx + 4) % 83
),
found AS (
  SELECT r.query_id, COUNT(*) AS n
  FROM run10 r JOIN qrels2 x ON x.query_id = r.query_id AND x.doc_id = r.doc_id
  GROUP BY r.query_id
),
perq AS (
  SELECT q.query_id, COALESCE(f.n, 0) / 10.0 AS j_q
  FROM (SELECT DISTINCT query_id FROM qrels2) q
  LEFT JOIN found f ON f.query_id = q.query_id
)
SELECT ROUND(AVG(j_q), 6) AS judged, COUNT(*) AS n_queries FROM perq
"""

    sql["mrr10"] = f"""
WITH {_RUN10},
hit AS (
  SELECT r.query_id, MIN(r.rank) AS first_rank
  FROM run10 r JOIN qrels x ON x.query_id = r.query_id AND x.doc_id = r.doc_id
  GROUP BY r.query_id
),
per_q AS (
  SELECT q.query_id, COALESCE(1.0 / h.first_rank, 0.0) AS rr
  FROM (SELECT DISTINCT query_id FROM qrels) q
  LEFT JOIN hit h ON h.query_id = q.query_id
)
SELECT ROUND(AVG(rr), 6) AS mrr, COUNT(*) AS n_queries FROM per_q
"""

    sql["recall10"] = f"""
WITH {_RUN10},
found AS (
  SELECT x.query_id, COUNT(*) AS n_found
  FROM qrels x JOIN run10 r ON r.query_id = x.query_id AND r.doc_id = x.doc_id
  GROUP BY x.query_id
),
total AS (SELECT query_id, COUNT(*) AS n_rel FROM qrels GROUP BY query_id),
per_q AS (
  SELECT t.query_id, CAST(COALESCE(f.n_found, 0) AS DOUBLE) / t.n_rel AS recall_q
  FROM total t LEFT JOIN found f ON f.query_id = t.query_id
)
SELECT ROUND(AVG(recall_q), 6) AS recall, COUNT(*) AS n_queries FROM per_q
"""

    sql["ndcg10"] = f"""
WITH {_RUN10},
dcg AS (
  SELECT r.query_id, SUM((POWER(2.0, x.rel) - 1) / log2(r.rank + 1.0)) AS dcg
  FROM run10 r JOIN qrels x ON x.query_id = r.query_id AND x.doc_id = r.doc_id
  GROUP BY r.query_id
),
ideal AS (
  SELECT query_id, rel,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY rel DESC, doc_id ASC) AS irank
  FROM qrels
),
idcg AS (
  SELECT query_id, SUM((POWER(2.0, rel) - 1) / log2(irank + 1.0)) AS idcg
  FROM ideal WHERE irank <= 10 GROUP BY query_id
),
per_q AS (
  SELECT i.query_id, COALESCE(d.dcg / i.idcg, 0.0) AS ndcg_q
  FROM idcg i LEFT JOIN dcg d ON d.query_id = i.query_id
)
SELECT ROUND(AVG(ndcg_q), 6) AS ndcg, COUNT(*) AS n_queries FROM per_q
"""

    sql["dedup_exact"] = """
WITH corpus AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, text FROM documents
  UNION ALL
  SELECT CAST(doc_id AS BIGINT) + 1000000, text FROM documents
),
hashed AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         md5(array_to_string(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> ''), ' ')) AS content_hash
  FROM corpus
)
SELECT content_hash, COUNT(*) AS n_docs, MIN(doc_id) AS canonical_doc_id
FROM hashed GROUP BY content_hash HAVING COUNT(*) > 1
"""

    shingle_cte = """
sh AS (
  SELECT DISTINCT CAST(d.doc_id AS VARCHAR) AS doc_id, s.shingle
  FROM (
    SELECT doc_id,
           list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
    FROM documents WHERE doc_id < {lim}
  ) d,
  UNNEST(list_transform(generate_series(1, len(d.toks) - 2), i -> array_to_string(d.toks[i:i+2], ' '))) AS s(shingle)
)"""

    mh_cols4 = ", ".join(
        f"MIN(md5(concat_ws('|', '{h}', shingle))) AS mh_{h}" for h in range(4)
    )
    sql["minhash_signatures"] = f"""
WITH {shingle_cte.format(lim=100)}
SELECT doc_id, {mh_cols4} FROM sh GROUP BY doc_id
"""

    mh_cols8 = ", ".join(
        f"MIN(md5(concat_ws('|', '{h}', shingle))) AS mh_{h}" for h in range(8)
    )
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, md5(concat_ws('|', mh_{2*b}, mh_{2*b+1})) AS band_hash FROM sig"
        for b in range(4)
    )
    sql["minhash_pairs"] = f"""
WITH {shingle_cte.format(lim=250)},
sig AS (SELECT doc_id, {mh_cols8} FROM sh GROUP BY doc_id),
bands AS ({band_rows}),
cand AS (
  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
  FROM bands l JOIN bands r
    ON l.band = r.band AND l.band_hash = r.band_hash AND l.doc_id < r.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
common AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
  FROM cand c
  JOIN sh a ON a.doc_id = c.doc_a
  JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
  GROUP BY c.doc_a, c.doc_b
)
SELECT m.doc_a, m.doc_b, m.n_common, sa.n_sh AS n_a, sb.n_sh AS n_b,
       ROUND(CAST(m.n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - m.n_common), 6) AS jaccard
FROM common m
JOIN sizes sa ON sa.doc_id = m.doc_a
JOIN sizes sb ON sb.doc_id = m.doc_b
"""

    sql["ngram_jaccard"] = """
WITH corpus AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, text FROM documents WHERE doc_id < 150
  UNION ALL
  SELECT CAST(CAST(doc_id AS BIGINT) + 1000000 AS VARCHAR), text FROM documents WHERE doc_id < 150
),
sh AS (
  SELECT DISTINCT d.doc_id, s.shingle
  FROM (
    SELECT doc_id,
           list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
    FROM corpus
  ) d,
  UNNEST(list_transform(generate_series(1, len(d.toks) - 2), i -> array_to_string(d.toks[i:i+2], ' '))) AS s(shingle)
),
dfs AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY shingle),
gen AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN dfs USING (shingle) WHERE df <= 50),
cand AS (
  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
  FROM gen l JOIN gen r ON l.shingle = r.shingle AND l.doc_id < r.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
common AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
  FROM cand c
  JOIN sh a ON a.doc_id = c.doc_a
  JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
  GROUP BY c.doc_a, c.doc_b
)
SELECT m.doc_a, m.doc_b, m.n_common, sa.n_sh AS n_a, sb.n_sh AS n_b,
       ROUND(CAST(m.n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - m.n_common), 6) AS jaccard
FROM common m
JOIN sizes sa ON sa.doc_id = m.doc_a
JOIN sizes sb ON sb.doc_id = m.doc_b
WHERE CAST(m.n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - m.n_common) >= 0.5
"""

    sql["lang_id"] = f"""
WITH t AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
  FROM documents
),
r AS (
  SELECT doc_id,
         {lang_ratio(EN_STOP)} AS r_en,
         {lang_ratio(DE_STOP)} AS r_de,
         {lang_ratio(FR_STOP)} AS r_fr,
         {lang_ratio(ES_STOP)} AS r_es
  FROM t
)
SELECT doc_id,
       CASE WHEN greatest(r_en, r_de, r_fr, r_es) <= 0 THEN 'und'
            WHEN r_en = greatest(r_en, r_de, r_fr, r_es) THEN 'en'
            WHEN r_de = greatest(r_en, r_de, r_fr, r_es) THEN 'de'
            WHEN r_fr = greatest(r_en, r_de, r_fr, r_es) THEN 'fr'
            ELSE 'es' END AS pred_lang,
       ROUND(greatest(r_en, r_de, r_fr, r_es), 6) AS confidence
FROM r
"""

    sql["quality"] = f"""
WITH t AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, text,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
  FROM documents
),
m AS (
  SELECT doc_id,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         CAST(length(array_to_string(toks, '')) AS DOUBLE) / greatest(len(toks), 1) AS mean_token_len,
         CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS DOUBLE)
           / greatest(length(text), 1) AS punct_ratio,
         {lang_ratio(EN_STOP)} AS stopword_ratio,
         CAST(len(list_distinct(toks)) AS DOUBLE) / greatest(len(toks), 1) AS unique_ratio
  FROM t
)
SELECT doc_id, n_tokens,
       ROUND(mean_token_len, 6) AS mean_token_len,
       ROUND(punct_ratio, 6) AS punct_ratio,
       ROUND(stopword_ratio, 6) AS stopword_ratio,
       ROUND(unique_ratio, 6) AS unique_ratio,
       ROUND(least(n_tokens / 50.0, 1.0) * 0.25
             + (1.0 - least(punct_ratio * 4.0, 1.0)) * 0.25
             + least(stopword_ratio * 5.0, 1.0) * 0.25
             + unique_ratio * 0.25, 6) AS quality
FROM m
"""

    sql["knn_cosine"] = """
WITH q AS (
  SELECT CAST(vec_id AS VARCHAR) AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id < 5
),
c AS (
  SELECT CAST(vec_id AS VARCHAR) AS vec_id, CAST(embedding AS DOUBLE[]) AS cv
  FROM embeddings
),
scored AS (
  SELECT q.query_id, c.vec_id, list_cosine_similarity(q.qv, c.cv) AS score
  FROM q CROSS JOIN c
),
ranked AS (
  SELECT query_id, vec_id, score,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS INTEGER) AS rank
  FROM scored
)
SELECT query_id, vec_id, ROUND(score, 6) AS score, rank FROM ranked WHERE rank <= 10
"""

    sql["embedding_neardup"] = """
WITH e AS (
  SELECT CAST(vec_id AS VARCHAR) AS vid, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings WHERE vec_id < 150
)
SELECT a.vid AS vec_a, b.vid AS vec_b,
       ROUND(list_cosine_similarity(a.v, b.v), 6) AS cos
FROM e a JOIN e b ON a.vid < b.vid
WHERE list_cosine_similarity(a.v, b.v) > 0.2
"""

    sql["trec_roundtrip"] = f"""
WITH {_BM25_CTES}
SELECT query_id, doc_id, rank FROM run WHERE rank <= 10
"""

    # exact-BM25 rerank of the depth-5 candidate cut == the oracle's top-5
    # (same analyzer, same frozen stats, same deterministic tie-break)
    sql["rerank_bm25"] = f"""
WITH {_BM25_CTES}
SELECT query_id, doc_id, ROUND(score, 6) AS score, rank
FROM run WHERE rank <= 5
"""

    # md5 first-8-bytes as big-endian int64 pieces (both engines split the
    # hex digest into two 32-bit halves; a single 16-hex conv overflows
    # signed int64). {{x}} placeholders are format-expanded per use.
    hi32 = "CAST(CAST('0x' || substr(md5({x}), 1, 8) AS UBIGINT) AS BIGINT)"
    lo32 = "CAST(CAST('0x' || substr(md5({x}), 9, 8) AS UBIGINT) AS BIGINT)"

    sql["winnow_fingerprints"] = f"""
WITH t AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
  FROM documents
),
g AS (
  SELECT doc_id, len(toks) - 4 AS n_grams, s.i AS pos,
         array_to_string(toks[s.i:s.i+4], ' ') AS gram
  FROM t, UNNEST(generate_series(1, len(toks) - 4)) AS s(i)
  WHERE len(toks) >= 5
),
h AS (
  SELECT doc_id, n_grams, pos,
         {hi32.format(x='gram')} * 2147483648 + ({lo32.format(x='gram')} >> 1) AS hv
  FROM g
),
m AS (
  SELECT doc_id, pos, n_grams,
         MIN(hv) OVER (PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS minh
  FROM h
)
SELECT DISTINCT doc_id, minh AS fp_hash
FROM m WHERE pos <= greatest(n_grams - 3, 1)
"""

    sql["simhash_neardup"] = f"""
WITH corpus AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, text FROM documents
  UNION ALL
  SELECT CAST(CAST(doc_id AS BIGINT) + 1000000 AS VARCHAR), text FROM documents
),
tok AS (
  SELECT c.doc_id, t.term
  FROM corpus c, UNNEST(regexp_split_to_array(lower(c.text), '[^a-z0-9]+')) AS t(term)
  WHERE t.term <> ''
),
tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM tok GROUP BY doc_id, term),
th AS (
  SELECT doc_id, tf,
         {hi32.format(x='term')} AS hi,
         {lo32.format(x='term')} AS lo
  FROM tf
),
bits AS (
  SELECT doc_id, b.bit,
         SUM(CASE WHEN ((CASE WHEN b.bit < 32 THEN lo ELSE hi END) >> (b.bit % 32)) & 1 = 1
                  THEN tf ELSE -tf END) AS acc
  FROM th CROSS JOIN (SELECT UNNEST(generate_series(0, 63)) AS bit) b
  GROUP BY doc_id, b.bit
),
fpsum AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN acc > 0
                       THEN (CASE WHEN bit = 63 THEN -9223372036854775808
                                  ELSE (CAST(1 AS BIGINT) << bit) END)
                       ELSE 0 END) AS BIGINT) AS simhash
  FROM bits GROUP BY doc_id
),
fp AS (
  SELECT c.doc_id, COALESCE(f.simhash, 0) AS simhash
  FROM (SELECT DISTINCT doc_id FROM corpus) c LEFT JOIN fpsum f USING (doc_id)
),
chunks AS (
  SELECT doc_id, simhash, ch.chunk, (simhash >> (ch.chunk * 16)) & 65535 AS chunk_val
  FROM fp CROSS JOIN (SELECT UNNEST([0, 1, 2, 3]) AS chunk) ch
),
ok AS (SELECT chunk, chunk_val FROM chunks GROUP BY chunk, chunk_val HAVING COUNT(*) <= 1000),
cb AS (SELECT c.* FROM chunks c JOIN ok USING (chunk, chunk_val)),
cand AS (
  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b,
         l.simhash AS sa, r.simhash AS sb
  FROM cb l JOIN cb r
    ON l.chunk = r.chunk AND l.chunk_val = r.chunk_val AND l.doc_id < r.doc_id
)
SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS INTEGER) AS hamming
FROM cand WHERE bit_count(xor(sa, sb)) <= 3
"""

    sql["media_features"] = """
SELECT CAST(doc_id AS VARCHAR) AS media_id,
       'image' AS kind,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       md5(text) AS content_hash,
       CAST(1 + CAST('0x' || substr(md5(text), 1, 2) AS INTEGER) % 64 AS INTEGER) AS width,
       CAST(1 + CAST('0x' || substr(md5(text), 3, 2) AS INTEGER) % 64 AS INTEGER) AS height
FROM documents
"""

    sql["accuracy_at_k"] = f"""
WITH {_BM25_CTES},
run10 AS (SELECT query_id, doc_id, rank FROM run WHERE rank <= 10),
an AS (
  SELECT query_id,
         array_to_string(list_filter(
           regexp_split_to_array(lower(str_split(text, ' ')[1]), '[^a-z0-9]+'),
           x -> x <> ''), ' ') AS na
  FROM q
),
dn AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         ' ' || array_to_string(list_filter(
           regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> ''), ' ') || ' ' AS ntext
  FROM documents
),
hit AS (
  SELECT r.query_id, MIN(r.rank) AS first_hit
  FROM run10 r
  JOIN dn d ON d.doc_id = r.doc_id
  JOIN an a ON a.query_id = r.query_id
  WHERE length(a.na) > 0 AND strpos(d.ntext, ' ' || a.na || ' ') > 0
  GROUP BY r.query_id
),
base AS (
  SELECT qq.query_id, h.first_hit
  FROM (SELECT DISTINCT query_id FROM q) qq LEFT JOIN hit h USING (query_id)
)
SELECT ks.k,
       ROUND(AVG(CASE WHEN first_hit <= ks.k THEN 1.0 ELSE 0.0 END), 6) AS accuracy,
       COUNT(*) AS n_queries
FROM base CROSS JOIN (SELECT UNNEST([1, 5, 10]) AS k) ks
GROUP BY ks.k
"""

    sql["combine_negatives"] = f"""
WITH {_RUN10},
neg AS (
  SELECT r.query_id, r.doc_id
  FROM run10 r
  WHERE NOT EXISTS (
    SELECT 1 FROM qrels x WHERE x.query_id = r.query_id AND x.doc_id = r.doc_id
  )
),
s1 AS (
  SELECT query_id, doc_id,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY query_id
           ORDER BY md5(concat_ws('|', '1', query_id, doc_id)) ASC, doc_id ASC
         ) AS INTEGER) AS sample_rank
  FROM neg
),
s2 AS (
  SELECT query_id, doc_id,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY query_id
           ORDER BY md5(concat_ws('|', '2', query_id, doc_id)) ASC, doc_id ASC
         ) AS INTEGER) AS sample_rank
  FROM neg
),
n1 AS (SELECT * FROM s1 WHERE sample_rank <= 3),
n2 AS (SELECT * FROM s2 WHERE sample_rank <= 5),
g2q AS (SELECT DISTINCT query_id FROM n2 INTERSECT SELECT DISTINCT query_id FROM qrels),
g1q AS (SELECT DISTINCT query_id FROM n1 INTERSECT SELECT DISTINCT query_id FROM qrels),
posr AS (
  SELECT x.query_id, 'pos' AS kind,
         CAST(ROW_NUMBER() OVER (PARTITION BY x.query_id ORDER BY x.doc_id ASC) AS INTEGER) AS pos,
         x.doc_id
  FROM qrels x JOIN g2q USING (query_id)
),
negu AS (
  SELECT query_id, doc_id, 0 AS src, sample_rank FROM n2 JOIN g2q USING (query_id)
  UNION ALL
  SELECT n1.query_id, n1.doc_id, 1, n1.sample_rank
  FROM n1 JOIN g1q USING (query_id) JOIN g2q USING (query_id)
),
negr AS (
  SELECT query_id, 'neg' AS kind,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY src ASC, sample_rank ASC) AS INTEGER) AS pos,
         doc_id
  FROM negu
)
SELECT query_id, kind, pos, doc_id FROM posr
UNION ALL
SELECT query_id, kind, pos, doc_id FROM negr
"""

    _mh8 = ", ".join(
        f"MIN(md5(concat_ws('|', '{h}', shingle))) AS mh_{h}" for h in range(8)
    )
    _bands8 = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, md5(concat_ws('|', mh_{2*b}, mh_{2*b+1})) AS band_hash FROM sig"
        for b in range(4)
    )

    _DUP_CORPUS = """corpus AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, text FROM documents WHERE doc_id < 300
  UNION ALL
  SELECT CAST(CAST(doc_id AS BIGINT) + 1000000 AS VARCHAR), text FROM documents WHERE doc_id < 300
)"""

    def _dedup_ctes(src: str, cap: int = 100) -> str:
        """The exact/LSH/bucket dedup replica as a CTE chain over any source
        CTE `src(doc_id, text)` — shared by dedup_pipeline, curate and
        dedup_incremental so the oracles can never drift apart."""
        return f"""hashed AS (
  SELECT doc_id,
         md5(array_to_string(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> ''), ' ')) AS h
  FROM {src}
),
gmin AS (SELECT h, MIN(doc_id) AS canon, COUNT(*) AS n FROM hashed GROUP BY h),
drop_exact AS (
  SELECT hd.doc_id AS doc_id, g.canon AS dup_of, 'exact' AS reason
  FROM hashed hd JOIN gmin g ON g.h = hd.h
  WHERE g.n > 1 AND hd.doc_id <> g.canon
),
surv AS (
  SELECT c.doc_id, c.text FROM {src} c
  WHERE NOT EXISTS (SELECT 1 FROM drop_exact d WHERE d.doc_id = c.doc_id)
),
sh AS (
  SELECT DISTINCT d.doc_id, s.shingle
  FROM (
    SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
    FROM surv
  ) d,
  UNNEST(list_transform(generate_series(1, len(d.toks) - 2), i -> array_to_string(d.toks[i:i+2], ' '))) AS s(shingle)
),
sig AS (SELECT doc_id, {_mh8} FROM sh GROUP BY doc_id),
bands AS ({_bands8}),
bsz AS (SELECT band, band_hash, COUNT(*) AS n FROM bands GROUP BY band, band_hash),
okb AS (SELECT band, band_hash FROM bsz WHERE n <= {cap}),
cb AS (SELECT b.* FROM bands b JOIN okb USING (band, band_hash)),
cand AS (
  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
  FROM cb l JOIN cb r ON l.band = r.band AND l.band_hash = r.band_hash AND l.doc_id < r.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
common AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
  FROM cand c JOIN sh a ON a.doc_id = c.doc_a JOIN sh b2 ON b2.doc_id = c.doc_b AND b2.shingle = a.shingle
  GROUP BY c.doc_a, c.doc_b
),
ver AS (
  SELECT m.doc_a, m.doc_b FROM common m
  JOIN sizes sa ON sa.doc_id = m.doc_a JOIN sizes sb ON sb.doc_id = m.doc_b
  WHERE CAST(m.n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - m.n_common) >= 0.5
),
drop_near AS (SELECT doc_b AS doc_id, MIN(doc_a) AS dup_of, 'near' AS reason FROM ver GROUP BY doc_b),
bigb AS (SELECT band, band_hash FROM bsz WHERE n > {cap}),
bmem AS (
  SELECT b.doc_id, MIN(b.doc_id) OVER (PARTITION BY b.band, b.band_hash) AS canon
  FROM bands b JOIN bigb USING (band, band_hash)
),
drop_bucket AS (
  SELECT doc_id, MIN(canon) AS dup_of, 'bucket' AS reason
  FROM bmem WHERE doc_id <> canon GROUP BY doc_id
),
drops AS (
  SELECT doc_id, dup_of, reason FROM drop_exact
  UNION ALL SELECT doc_id, dup_of, reason FROM drop_near
  UNION ALL SELECT doc_id, dup_of, reason FROM drop_bucket
),
best AS (
  SELECT doc_id, dup_of, reason FROM (
    SELECT d.*, ROW_NUMBER() OVER (
      PARTITION BY doc_id
      ORDER BY CASE reason WHEN 'exact' THEN 0 WHEN 'near' THEN 1 ELSE 2 END ASC, dup_of ASC
    ) AS rn
    FROM drops d
  ) WHERE rn = 1
)"""

    sql["dedup_pipeline"] = f"""
WITH {_DUP_CORPUS},
{_dedup_ctes("corpus")}
SELECT c.doc_id,
       CAST(CASE WHEN b.reason IS NULL THEN 1 ELSE 0 END AS INTEGER) AS keep,
       b.reason, b.dup_of
FROM (SELECT doc_id FROM corpus) c LEFT JOIN best b USING (doc_id)
"""

    sql["dedup_closure"] = f"""
WITH RECURSIVE {_DUP_CORPUS},
{_dedup_ctes("corpus")},
edges AS (
  SELECT doc_id AS a, dup_of AS b FROM drop_exact
  UNION
  SELECT doc_a, doc_b FROM ver
  UNION
  SELECT doc_id, canon FROM bmem WHERE doc_id <> canon
),
und AS (SELECT a, b FROM edges UNION SELECT b, a FROM edges),
reach(doc_id, label) AS (
  SELECT a, a FROM und
  UNION
  SELECT u.a, r.label FROM und u JOIN reach r ON r.doc_id = u.b
),
comp AS (SELECT doc_id, MIN(label) AS comp FROM reach GROUP BY doc_id)
SELECT c.doc_id,
       CAST(CASE WHEN cp.comp IS NULL OR cp.comp = c.doc_id THEN 1 ELSE 0 END AS INTEGER) AS keep,
       CASE WHEN cp.comp IS NOT NULL AND cp.comp <> c.doc_id
            THEN COALESCE(b.reason, 'near') END AS reason,
       CASE WHEN cp.comp IS NOT NULL AND cp.comp <> c.doc_id
            THEN cp.comp END AS dup_of
FROM (SELECT doc_id FROM corpus) c
LEFT JOIN comp cp ON cp.doc_id = c.doc_id
LEFT JOIN best b ON b.doc_id = c.doc_id
"""

    # incremental drains over the store == one-shot batch over the union:
    # the oracle IS the batch replica over the union corpus (ids prefixed
    # so drain order == string order, the module's monotone-id precondition)
    # exact duplicate-span removal: full replica of the rolling-window
    # algebra with exact window STRINGS as keys (the engine side runs
    # 64-bit hash keys — agreement certifies no false merges here);
    # canonical survivor = min (doc_id, pos) via ROW_NUMBER, kept token i
    # survives iff no removal start s has s <= i < s+8
    sql["dedup_spans"] = """
WITH corpus AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         CASE WHEN doc_id % 5 = 0 THEN text || ' xqspan0 xqspan1 xqspan2 xqspan3 xqspan4 xqspan5 xqspan6 xqspan7'
              WHEN doc_id % 7 = 1 THEN 'xqspan0 xqspan1 xqspan2 xqspan3 xqspan4 xqspan5 xqspan6 xqspan7 ' || text
              ELSE text END AS text
  FROM documents WHERE doc_id < 200
),
toks AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS t
  FROM corpus
),
occ AS (
  SELECT doc_id, s.i - 1 AS pos, array_to_string(t[s.i:s.i+7], ' ') AS key
  FROM toks, UNNEST(generate_series(1, len(t) - 7)) AS s(i)
  WHERE len(t) >= 8
),
dup AS (
  SELECT key FROM occ GROUP BY key HAVING COUNT(DISTINCT doc_id) >= 2
),
ranked AS (
  SELECT o.doc_id, o.pos,
         ROW_NUMBER() OVER (PARTITION BY o.key ORDER BY o.doc_id, o.pos) AS rn
  FROM occ o JOIN dup d ON o.key = d.key
),
removals AS (
  SELECT doc_id, list(pos) AS starts FROM ranked WHERE rn > 1 GROUP BY doc_id
),
rebuilt AS (
  SELECT tk.doc_id, tk.t,
         COALESCE(r.starts, CAST([] AS BIGINT[])) AS starts
  FROM toks tk LEFT JOIN removals r ON tk.doc_id = r.doc_id
)
SELECT doc_id,
       -- a fully-removed doc keeps an EMPTY text (engine semantic), but
       -- DuckDB's array_to_string returns NULL on an empty list
       COALESCE(array_to_string(
         list_transform(
           list_filter(generate_series(0, len(t) - 1),
                       i -> len(list_filter(starts, s -> i >= s AND i < s + 8)) = 0),
           i -> t[i + 1]),
         ' '), '') AS text,
       CAST(len(t) AS INTEGER) AS n_tokens,
       CAST(len(t) - len(list_filter(generate_series(0, len(t) - 1),
                 i -> len(list_filter(starts, s -> i >= s AND i < s + 8)) = 0)) AS INTEGER) AS n_removed
FROM rebuilt
"""

    sql["dedup_incremental"] = f"""
WITH corpus AS (
  SELECT 'd1_' || lpad(CAST(doc_id AS VARCHAR), 3, '0') AS doc_id, text
  FROM documents WHERE doc_id < 300
  UNION ALL
  SELECT 'd2_' || lpad(CAST(doc_id AS VARCHAR), 3, '0'),
         text || ' extra tail tokens more'
  FROM documents WHERE doc_id < 300
),
{_dedup_ctes("corpus", cap=500)}
SELECT c.doc_id,
       CAST(CASE WHEN b.reason IS NULL THEN 1 ELSE 0 END AS INTEGER) AS keep,
       b.reason, b.dup_of
FROM (SELECT doc_id FROM corpus) c LEFT JOIN best b USING (doc_id)
"""

    sql["curate"] = f"""
WITH {_DUP_CORPUS},
toked AS (
  SELECT doc_id, text,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
  FROM corpus
),
langed AS (
  SELECT doc_id, text,
         {lang_ratio(EN_STOP)} AS r_en, {lang_ratio(DE_STOP)} AS r_de,
         {lang_ratio(FR_STOP)} AS r_fr, {lang_ratio(ES_STOP)} AS r_es,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS DOUBLE)
           / greatest(length(text), 1) AS punct_ratio,
         CAST(len(list_distinct(toks)) AS DOUBLE) / greatest(len(toks), 1) AS unique_ratio
  FROM toked
),
verdict AS (
  SELECT doc_id, text,
         CASE WHEN greatest(r_en, r_de, r_fr, r_es) <= 0 THEN 'und'
              WHEN r_en = greatest(r_en, r_de, r_fr, r_es) THEN 'en'
              WHEN r_de = greatest(r_en, r_de, r_fr, r_es) THEN 'de'
              WHEN r_fr = greatest(r_en, r_de, r_fr, r_es) THEN 'fr'
              ELSE 'es' END AS pred_lang,
         ROUND(least(n_tokens / 50.0, 1.0) * 0.25
               + (1.0 - least(punct_ratio * 4.0, 1.0)) * 0.25
               + least(r_en * 5.0, 1.0) * 0.25
               + unique_ratio * 0.25, 6) AS quality
  FROM langed
),
gated AS (SELECT doc_id, text FROM verdict WHERE pred_lang = 'en' AND quality >= 0.63),
{_dedup_ctes("gated")}
SELECT doc_id, CAST(0 AS INTEGER) AS keep, 'lang' AS reason, CAST(NULL AS VARCHAR) AS dup_of
FROM verdict WHERE pred_lang <> 'en'
UNION ALL
SELECT doc_id, CAST(0 AS INTEGER), 'quality', CAST(NULL AS VARCHAR)
FROM verdict WHERE pred_lang = 'en' AND quality < 0.63
UNION ALL
SELECT g.doc_id,
       CAST(CASE WHEN b.reason IS NULL THEN 1 ELSE 0 END AS INTEGER) AS keep,
       b.reason, b.dup_of
FROM (SELECT doc_id FROM gated) g LEFT JOIN best b USING (doc_id)
"""

    sql["event_window_stats"] = """
SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 6) AS total_value
FROM events
GROUP BY 1, 2
"""

    sql["sessionize"] = """
WITH g AS (
  SELECT user_id, ts, value,
         CASE WHEN epoch_us(ts) - LAG(epoch_us(ts))
                   OVER (PARTITION BY user_id ORDER BY ts) <= CAST(21600 AS BIGINT) * 1000000
              THEN 0 ELSE 1 END AS new_session
  FROM events
),
s AS (
  SELECT user_id, ts, value,
         SUM(new_session) OVER (
           PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING
         ) AS session_seq
  FROM g
)
SELECT user_id,
       CAST(session_seq AS BIGINT) AS session_seq,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 6) AS total_value
FROM s
GROUP BY user_id, session_seq
"""

    sql["mean_pool"] = """
WITH e AS (
  SELECT CAST(vec_id AS BIGINT) AS vec_id,
         vec_id // 8 AS seq_id,
         CASE WHEN vec_id % 3 <> 0 THEN 1 ELSE 0 END AS m,
         CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings
  WHERE vec_id < 200
),
x AS (
  SELECT seq_id, m, s.i AS dim, v[s.i + 1] AS val
  FROM e, LATERAL (SELECT UNNEST(generate_series(0, len(v) - 1)) AS i) s
)
SELECT seq_id,
       CAST(dim AS BIGINT) AS dim,
       ROUND(SUM(val * m) / GREATEST(SUM(m), 1), 6) AS pooled
FROM x
GROUP BY seq_id, dim
"""

    _page_prefix_sql = _PAGE_HTML_PREFIX.replace("'", "''")
    sql["text_extract"] = f"""
WITH pages AS (
  SELECT 'https://example.com/doc/' || CAST(doc_id AS VARCHAR) AS url,
         '{_page_prefix_sql}' || CAST(doc_id AS VARCHAR)
           || '</h1><p>' || text || '</p></body></html>' AS html_str,
         CASE WHEN doc_id % 2 = 1 THEN text END AS text
  FROM documents WHERE doc_id < 300
),
ext AS (
  SELECT url,
         COALESCE(
           text,
           regexp_replace(
             regexp_replace(
               html_str,
               '(?is)<(?:script|style)[^>]*>.*?</(?:script|style)>', ' ', 'g'),
             '(?s)<[^>]*>', ' ', 'g')
         ) AS text
  FROM pages
)
SELECT url, md5(text) AS text_md5, CAST(strlen(text) AS BIGINT) AS n_bytes
FROM ext
"""

    # deterministic seeded centroids, inlined identically on both engines
    import numpy as _np

    _rng = _np.random.default_rng(42)
    _C = _rng.standard_normal((N_CENTROIDS, DIM))
    _C = _C / _np.linalg.norm(_C, axis=1, keepdims=True)
    cent_values = ", ".join(
        "({}, [{}]::DOUBLE[])".format(i, ", ".join(repr(float(x)) for x in _C[i]))
        for i in range(N_CENTROIDS)
    )
    sql["ivf_ann"] = f"""
WITH cent(cid, cv) AS (VALUES {cent_values}),
e AS (
  SELECT CAST(vec_id AS VARCHAR) AS vec_id, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings
),
asn AS (
  SELECT vec_id, v, cid AS bucket FROM (
    SELECT e.vec_id, e.v, c.cid,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid ASC) AS rn
    FROM e CROSS JOIN cent c
  ) WHERE rn = 1
),
q AS (
  SELECT CAST(vec_id AS VARCHAR) AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id < 5
),
probes AS (
  SELECT query_id, cid AS bucket FROM (
    SELECT q.query_id, c.cid,
           ROW_NUMBER() OVER (
             PARTITION BY q.query_id
             ORDER BY list_cosine_similarity(q.qv, c.cv) DESC, c.cid ASC) AS rn
    FROM q CROSS JOIN cent c
  ) WHERE rn <= {NPROBE}
),
scored AS (
  SELECT q.query_id, a.vec_id, list_cosine_similarity(q.qv, a.v) AS score
  FROM q
  JOIN probes p ON p.query_id = q.query_id
  JOIN asn a ON a.bucket = p.bucket
),
ranked AS (
  SELECT query_id, vec_id, score,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS INTEGER) AS rank
  FROM scored
)
SELECT query_id, vec_id, ROUND(score, 6) AS score, rank FROM ranked WHERE rank <= 10
"""

    # distributed-path twins return row-identical results by contract
    # (pytest-verified vs the closure kernels), so they share the oracles
    sql["knn_cosine_df"] = sql["knn_cosine"]
    sql["ivf_ann_df"] = sql["ivf_ann"]

    sql["embedding_neardup_ann"] = f"""
WITH cent(cid, cv) AS (VALUES {cent_values}),
e AS (
  SELECT CAST(vec_id AS VARCHAR) AS vec_id, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings WHERE vec_id < 150
),
probes AS (
  SELECT vec_id, cid AS bucket FROM (
    SELECT e.vec_id, c.cid,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid ASC) AS rn
    FROM e CROSS JOIN cent c
  ) WHERE rn <= 2
),
cand AS (
  SELECT DISTINCT l.vec_id AS vec_a, r.vec_id AS vec_b
  FROM probes l JOIN probes r ON l.bucket = r.bucket AND l.vec_id < r.vec_id
)
SELECT c.vec_a, c.vec_b, ROUND(list_cosine_similarity(ea.v, eb.v), 6) AS cos
FROM cand c JOIN e ea ON ea.vec_id = c.vec_a JOIN e eb ON eb.vec_id = c.vec_b
WHERE list_cosine_similarity(ea.v, eb.v) >= 0.2
"""

    # --- benchmark decontamination -------------------------------------
    # bench docs = every 29th doc's tokens 4..21 (DuckDB slice is 1-based,
    # inclusive both ends); 5-grams => toks[i:i+4]. generate_series with a
    # negative stop is empty, so short docs yield zero grams on both sides.
    sql["decontaminate"] = """
WITH toks AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
  FROM documents
),
grams AS (
  SELECT d.doc_id, s.gram
  FROM toks d,
  UNNEST(list_distinct(list_transform(generate_series(1, len(d.toks) - 4),
                                      i -> array_to_string(d.toks[i:i+4], ' ')))) AS s(gram)
),
bench AS (
  SELECT DISTINCT b.bench_id, s.gram
  FROM (
    SELECT 'b' || CAST(doc_id AS VARCHAR) AS bench_id,
           list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')[4:21] AS bt
    FROM documents WHERE doc_id % 29 = 0
  ) b,
  UNNEST(list_transform(generate_series(1, len(b.bt) - 4),
                        i -> array_to_string(b.bt[i:i+4], ' '))) AS s(gram)
),
matched AS (
  SELECT g.doc_id,
         COUNT(DISTINCT g.gram) AS contaminated_ngrams,
         COUNT(DISTINCT b.bench_id) AS n_benchmark_docs
  FROM grams g JOIN bench b ON b.gram = g.gram
  GROUP BY g.doc_id
),
totals AS (
  SELECT doc_id,
         CAST(len(list_distinct(list_transform(generate_series(1, len(toks) - 4),
                                               i -> array_to_string(toks[i:i+4], ' ')))) AS BIGINT) AS total_ngrams
  FROM toks
)
SELECT t.doc_id,
       t.total_ngrams,
       CAST(COALESCE(m.contaminated_ngrams, 0) AS BIGINT) AS contaminated_ngrams,
       ROUND(COALESCE(m.contaminated_ngrams, 0) / greatest(t.total_ngrams, 1), 6) AS contamination_ratio,
       CAST(COALESCE(m.n_benchmark_docs, 0) AS BIGINT) AS n_benchmark_docs,
       COALESCE(m.contaminated_ngrams, 0) >= 1 AS is_contaminated
FROM totals t LEFT JOIN matched m USING (doc_id)
"""

    # --- mixture sampling ----------------------------------------------
    # portable md5 uniform: first 8 hex chars as uint32 / 2^32 (the repo's
    # standard cross-engine draw, functions/hashing.py). Weights mirror
    # _MIX_WEIGHTS / _MIX_DEFAULT.
    # CAST: DuckDB's bare numeric literals are DECIMAL, which stringifies
    # as 0.00 where Spark's double prints 0.0 — the value-hash would differ
    mix_w = (
        "CAST(CASE WHEN source = 'src0' THEN 0.0 WHEN source = 'src1' THEN 0.5 "
        "WHEN source = 'src2' THEN 2.25 WHEN source = 'src3' THEN 1.0 "
        "ELSE 0.25 END AS DOUBLE)"
    )
    mix_u = (
        "CAST('0x' || substr(md5(concat_ws('|', '42', CAST(doc_id AS VARCHAR))), 1, 8) "
        "AS UBIGINT) / 4294967296.0"
    )
    sql["mixture_sample"] = f"""
WITH drawn AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, source,
         {mix_u} AS u, {mix_w} AS w
  FROM documents
),
sized AS (
  SELECT doc_id, source, u, w,
         CAST(floor(w) AS BIGINT) + (CASE WHEN u < w - floor(w) THEN 1 ELSE 0 END) AS n_copies
  FROM drawn
)
SELECT doc_id, source, ROUND(u, 6) AS sample_u, w AS mix_weight,
       n_copies, c.copy_idx
FROM sized, UNNEST(generate_series(1, n_copies)) AS c(copy_idx)
WHERE n_copies > 0
"""

    # --- sequence packing ----------------------------------------------
    # bucket = portable md5 uint32 mod 8 (packing.py); greedy fill is a
    # recursive CTE walking each bucket in doc_id order — the exact
    # sequential semantics of the applyInPandas packer.
    pack_base = """
base AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         CAST(len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS BIGINT) AS n_tokens,
         CAST(CAST('0x' || substr(md5(concat_ws('|', '42', CAST(doc_id AS VARCHAR))), 1, 8) AS UBIGINT) % 8 AS BIGINT) AS bucket
  FROM documents
)"""
    sql["pack_sequences"] = f"""
WITH RECURSIVE {pack_base},
ordered AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY doc_id) AS rn FROM base
),
packed AS (
  SELECT bucket, doc_id, n_tokens, rn,
         CAST(1 AS BIGINT) AS seq_id, n_tokens AS fill, CAST(1 AS BIGINT) AS pos
  FROM ordered WHERE rn = 1
  UNION ALL
  SELECT o.bucket, o.doc_id, o.n_tokens, o.rn,
         CASE WHEN p.fill + o.n_tokens <= 100 THEN p.seq_id ELSE p.seq_id + 1 END,
         CASE WHEN p.fill + o.n_tokens <= 100 THEN p.fill + o.n_tokens ELSE o.n_tokens END,
         CASE WHEN p.fill + o.n_tokens <= 100 THEN p.pos + 1 ELSE CAST(1 AS BIGINT) END
  FROM packed p JOIN ordered o ON o.bucket = p.bucket AND o.rn = p.rn + 1
)
SELECT doc_id, bucket, seq_id, n_tokens, pos FROM packed
"""

    sql["pack_sequences_offset"] = f"""
WITH {pack_base},
ordered AS (
  SELECT *,
         COALESCE(SUM(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
  FROM base
),
seqd AS (
  SELECT doc_id, bucket, n_tokens,
         CAST(1 + floor(before / 100) AS BIGINT) AS seq_id
  FROM ordered
)
SELECT doc_id, bucket, seq_id, n_tokens,
       CAST(ROW_NUMBER() OVER (PARTITION BY bucket, seq_id ORDER BY doc_id) AS BIGINT) AS pos
FROM seqd
"""

    # --- boilerplate removal ---------------------------------------------
    # same derived line corpus as the Spark side (3-token chunks); a line
    # is boilerplate when its trimmed form occurs in >= 4 distinct docs.
    # string_agg skips NULLs exactly as collect_list does, preserving pos
    # order; an all-boilerplate doc coalesces to '' (never NULL).
    sql["boilerplate"] = """
WITH toks AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS t
  FROM documents
),
lined AS (
  SELECT doc_id,
         string_split(array_to_string(list_transform(
             generate_series(1, CAST(ceil(len(t) / 3.0) AS BIGINT)),
             i -> array_to_string(t[(i-1)*3+1:(i-1)*3+3], ' ')), chr(10)), chr(10)) AS ls
  FROM toks
),
keyed AS (
  SELECT doc_id, g.i AS pos, ls[g.i] AS line, trim(ls[g.i]) AS k
  FROM lined, UNNEST(generate_series(1, len(ls))) AS g(i)
),
common AS (
  SELECT k FROM keyed WHERE k <> '' AND len(k) >= 1
  GROUP BY k HAVING COUNT(DISTINCT doc_id) >= 4
)
SELECT kd.doc_id,
       COALESCE(string_agg(CASE WHEN c.k IS NULL THEN kd.line END, chr(10) ORDER BY kd.pos), '') AS text,
       CAST(COUNT(kd.line) AS BIGINT) AS n_lines,
       CAST(SUM(CASE WHEN c.k IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_removed
FROM keyed kd LEFT JOIN common c ON c.k = kd.k
GROUP BY kd.doc_id
"""

    # --- leakage-safe grouped split --------------------------------------
    # interval bounds replicate grouped_split's Python float accumulation
    # bit-exactly (repr), so no u can straddle an engine-specific rounding
    _gs_cases = []
    _gs_cum = 0.0
    for _gs_name, _gs_frac in (("train", 0.8), ("val", 0.1), ("test", 0.05)):
        _gs_cum += _gs_frac
        _gs_cases.append(f"WHEN u < {_gs_cum!r} THEN '{_gs_name}'")
    sql["grouped_split"] = f"""
SELECT doc_id, source,
       CASE {' '.join(_gs_cases)} ELSE NULL END AS split
FROM (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, source,
         CAST('0x' || substr(md5(concat_ws('|', '42', source)), 1, 8) AS UBIGINT) / 4294967296.0 AS u
  FROM documents
)
"""

    sql["mixture_report"] = f"""
WITH drawn AS (
  SELECT source AS domain, {mix_u} AS u, {mix_w} AS w,
         CAST(len(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS BIGINT) AS n_tokens
  FROM documents
),
sized AS (
  SELECT domain, w, n_tokens,
         CAST(floor(w) AS BIGINT) + (CASE WHEN u < w - floor(w) THEN 1 ELSE 0 END) AS n_copies
  FROM drawn
)
SELECT domain,
       MIN(w) AS target_weight,
       CAST(COUNT(*) AS BIGINT) AS docs_in,
       CAST(SUM(n_copies) AS BIGINT) AS docs_out,
       CAST(SUM(n_tokens) AS BIGINT) AS tokens_in,
       CAST(SUM(n_tokens * n_copies) AS BIGINT) AS tokens_out,
       ROUND(CAST(SUM(n_copies) AS DOUBLE) / COUNT(*), 6) AS realized_rate
FROM sized GROUP BY domain
"""

    # boolean + minimum_should_match=1: same replica with a matched-should
    # count (SUM over 1 - is_must counts DISTINCT matched should terms —
    # tf rows are unique per (doc, term)); must-only queries become
    # unsatisfiable, dual-role terms merged into must can't fill the quota
    sql["bm25_boolean_msm"] = _BM25_BOOLEAN_SQL.replace(
        "SUM(qs.is_must) AS n_must",
        "SUM(qs.is_must) AS n_must,\n"
        "         SUM(1 - qs.is_must) AS n_should",
    ).replace(
        "WHERE c.n_must = COALESCE(r.n_required, 0)",
        "WHERE c.n_must = COALESCE(r.n_required, 0)\n"
        "    AND c.n_should >= 1",
    )

    # dis-max: each field its OWN BM25 universe (per-field df/avgdl/norm),
    # per-(query, doc, term) fold max + tie*(sum - max), then sum terms
    sql["dismax"] = f"""
WITH docs_toks AS (
  SELECT CAST(d.doc_id AS VARCHAR) AS doc_id,
         list_filter(regexp_split_to_array(lower(d.text), '[^a-z0-9]+'), x -> x <> '') AS toks
  FROM documents d
),
fields AS (
  SELECT doc_id, list_slice(toks, 1, 8) AS title,
         list_slice(toks, 9, len(toks)) AS body
  FROM docs_toks
),
ftok AS (
  SELECT doc_id, 'title' AS field, t.term FROM fields, UNNEST(title) AS t(term)
  UNION ALL
  SELECT doc_id, 'body' AS field, t.term FROM fields, UNNEST(body) AS t(term)
),
flen AS (
  SELECT doc_id, 'title' AS field, CAST(len(title) AS DOUBLE) AS flen FROM fields
  UNION ALL
  SELECT doc_id, 'body' AS field, CAST(len(body) AS DOUBLE) AS flen FROM fields
),
tff AS (SELECT doc_id, field, term, CAST(COUNT(*) AS DOUBLE) AS tf FROM ftok GROUP BY doc_id, field, term),
avgf AS (SELECT field, AVG(flen) AS avgflen FROM flen GROUP BY field),
nd AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents),
dff AS (SELECT field, term, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS df FROM ftok GROUP BY field, term),
q(query_id, text) AS (VALUES {_Q_VALUES}),
qtok AS (
  SELECT q.query_id, t.term
  FROM q, UNNEST(regexp_split_to_array(lower(q.text), '[^a-z0-9]+')) AS t(term)
  WHERE t.term <> ''
),
qt AS (SELECT query_id, term, CAST(COUNT(*) AS DOUBLE) AS qtf FROM qtok GROUP BY query_id, term),
contrib AS (
  SELECT qt.query_id, t.doc_id, t.term,
         qt.qtf * ln(1 + (nd.n_docs - dff.df + 0.5) / (dff.df + 0.5))
               * t.tf / (t.tf + {K1} * (1 - {B} + {B} * l.flen / a.avgflen)) AS s
  FROM tff t
  JOIN flen l ON l.doc_id = t.doc_id AND l.field = t.field
  JOIN avgf a ON a.field = t.field
  JOIN dff ON dff.field = t.field AND dff.term = t.term
  JOIN qt ON qt.term = t.term
  CROSS JOIN nd
),
per_term AS (
  SELECT query_id, doc_id, term,
         MAX(s) + {_DISMAX_TIE} * (SUM(s) - MAX(s)) AS w
  FROM contrib GROUP BY query_id, doc_id, term
),
dscored AS (SELECT query_id, doc_id, SUM(w) AS score FROM per_term GROUP BY query_id, doc_id),
drun AS (
  SELECT query_id, doc_id, score,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS INTEGER) AS rank
  FROM dscored
)
SELECT query_id, doc_id, ROUND(score, 6) AS score, rank FROM drun WHERE rank <= 10
"""

    # cross_fields: dis-max replica with BLENDED df (max across fields in
    # the idf) and a title^2 boost on the per-field contribution
    sql["cross_fields"] = f"""
WITH docs_toks AS (
  SELECT CAST(d.doc_id AS VARCHAR) AS doc_id,
         list_filter(regexp_split_to_array(lower(d.text), '[^a-z0-9]+'), x -> x <> '') AS toks
  FROM documents d
),
fields AS (
  SELECT doc_id, list_slice(toks, 1, 8) AS title,
         list_slice(toks, 9, len(toks)) AS body
  FROM docs_toks
),
ftok AS (
  SELECT doc_id, 'title' AS field, t.term FROM fields, UNNEST(title) AS t(term)
  UNION ALL
  SELECT doc_id, 'body' AS field, t.term FROM fields, UNNEST(body) AS t(term)
),
flen AS (
  SELECT doc_id, 'title' AS field, CAST(len(title) AS DOUBLE) AS flen FROM fields
  UNION ALL
  SELECT doc_id, 'body' AS field, CAST(len(body) AS DOUBLE) AS flen FROM fields
),
tff AS (SELECT doc_id, field, term, CAST(COUNT(*) AS DOUBLE) AS tf FROM ftok GROUP BY doc_id, field, term),
avgf AS (SELECT field, AVG(flen) AS avgflen FROM flen GROUP BY field),
nd AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents),
dff AS (SELECT field, term, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS df FROM ftok GROUP BY field, term),
blend AS (SELECT term, MAX(df) AS df FROM dff GROUP BY term),
q(query_id, text) AS (VALUES {_Q_VALUES}),
qtok AS (
  SELECT q.query_id, t.term
  FROM q, UNNEST(regexp_split_to_array(lower(q.text), '[^a-z0-9]+')) AS t(term)
  WHERE t.term <> ''
),
qt AS (SELECT query_id, term, CAST(COUNT(*) AS DOUBLE) AS qtf FROM qtok GROUP BY query_id, term),
contrib AS (
  SELECT qt.query_id, t.doc_id, t.term,
         (CASE WHEN t.field = 'title' THEN {_XF_TITLE_BOOST} ELSE 1.0 END)
               * qt.qtf * ln(1 + (nd.n_docs - blend.df + 0.5) / (blend.df + 0.5))
               * t.tf / (t.tf + {K1} * (1 - {B} + {B} * l.flen / a.avgflen)) AS s
  FROM tff t
  JOIN flen l ON l.doc_id = t.doc_id AND l.field = t.field
  JOIN avgf a ON a.field = t.field
  JOIN blend ON blend.term = t.term
  JOIN qt ON qt.term = t.term
  CROSS JOIN nd
),
per_term AS (
  SELECT query_id, doc_id, term,
         MAX(s) + {_XF_TIE} * (SUM(s) - MAX(s)) AS w
  FROM contrib GROUP BY query_id, doc_id, term
),
xscored AS (SELECT query_id, doc_id, SUM(w) AS score FROM per_term GROUP BY query_id, doc_id),
xrun AS (
  SELECT query_id, doc_id, score,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS INTEGER) AS rank
  FROM xscored
)
SELECT query_id, doc_id, ROUND(score, 6) AS score, rank FROM xrun WHERE rank <= 10
"""

    # Jelinek-Mercer QLD: linear doc/collection interpolation, no clamp
    sql["qld_jm"] = f"""
WITH {_TOK},
tf AS (SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf FROM tok GROUP BY doc_id, term),
dl AS (SELECT doc_id, CAST(COUNT(*) AS DOUBLE) AS doclen FROM tok GROUP BY doc_id),
tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS total FROM tok),
cfreq AS (SELECT term, SUM(tf) AS cf FROM tf GROUP BY term),
q(query_id, text) AS (VALUES {_Q_VALUES}),
qtok AS (
  SELECT q.query_id, t.term
  FROM q, UNNEST(regexp_split_to_array(lower(q.text), '[^a-z0-9]+')) AS t(term)
  WHERE t.term <> ''
),
qt AS (SELECT query_id, term, CAST(COUNT(*) AS DOUBLE) AS qtf FROM qtok GROUP BY query_id, term),
contrib AS (
  SELECT qt.query_id, tf.doc_id,
         qt.qtf * ln(1 + ((1 - {_QLD_JM_LAMBDA}) * tf.tf / dl.doclen)
                         / ({_QLD_JM_LAMBDA} * cfreq.cf / tot.total)) AS w
  FROM tf
  JOIN qt ON qt.term = tf.term
  JOIN dl ON dl.doc_id = tf.doc_id
  JOIN cfreq ON cfreq.term = tf.term
  CROSS JOIN tot
),
jscored AS (SELECT query_id, doc_id, SUM(w) AS score FROM contrib GROUP BY query_id, doc_id),
jrun AS (
  SELECT query_id, doc_id, score,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS INTEGER) AS rank
  FROM jscored
)
SELECT query_id, doc_id, ROUND(score, 6) AS score, rank FROM jrun WHERE rank <= 10
"""

    # range facets: the fixture's three buckets are disjoint + covering, so
    # the engine's per-bucket membership array reduces to one CASE; NULL
    # n_chars (none in this table) would land in '(other)' on both sides
    sql["facet_ranges"] = f"""
WITH {_BM25_CTES},
run10 AS (SELECT query_id, doc_id FROM run WHERE rank <= 10),
hyd AS (
  SELECT r.query_id, CAST(d.n_chars AS DOUBLE) AS v
  FROM run10 r JOIN documents d ON CAST(d.doc_id AS VARCHAR) = r.doc_id
)
SELECT query_id, 'n_chars' AS facet,
       CASE WHEN v IS NULL THEN '(other)'
            WHEN v < 200 THEN '[*,200)'
            WHEN v < 400 THEN '[200,400)'
            ELSE '[400,*)' END AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM hyd
GROUP BY query_id, bucket
"""

    sql["facet_histogram"] = f"""
WITH {_BM25_CTES},
run10 AS (SELECT query_id, doc_id FROM run WHERE rank <= 10),
hyd AS (
  SELECT r.query_id, CAST(d.n_chars AS DOUBLE) AS v
  FROM run10 r JOIN documents d ON CAST(d.doc_id AS VARCHAR) = r.doc_id
)
SELECT query_id, 'n_chars' AS facet,
       CAST(floor(v / 100.0) * 100.0 AS DOUBLE) AS bucket_lo,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM hyd
WHERE v IS NOT NULL
GROUP BY query_id, bucket_lo
"""

    # product quantization: FULL replica incl. the distributed training —
    # md5-bucket init, rounded element-wise means, one Lloyd round
    # (rounded sq-dist, cid tie-break), encode vs the FINAL codebook, ADC
    # LUT gather-sum, k×factor cut, exact rescore. sub=16, m=4, ksub=8.
    sql["knn_pq"] = f"""
WITH e AS (
  SELECT CAST(vec_id AS VARCHAR) AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
js AS (SELECT UNNEST(generate_series(0, {_PQ_M - 1})) AS j),
subs AS (
  SELECT e.id, js.j, list_slice(e.v, js.j * 16 + 1, js.j * 16 + 16) AS sub
  FROM e, js
),
b0 AS (
  SELECT id, j, sub,
         CAST(CAST('0x' || substr(md5(concat_ws('|', '42', id)), 1, 8) AS UBIGINT) % {_PQ_KSUB} AS INTEGER) AS cid
  FROM subs
),
c0 AS (
  SELECT j, cid, list(av ORDER BY i) AS centroid FROM (
    SELECT j, cid, u.i AS i, ROUND(AVG(sub[u.i]), 6) AS av
    FROM b0, UNNEST(generate_series(1, 16)) AS u(i)
    GROUP BY j, cid, u.i
  ) GROUP BY j, cid
),
a1 AS (
  SELECT id, j, sub, cid FROM (
    SELECT s.id, s.j, s.sub, c.cid,
           ROW_NUMBER() OVER (PARTITION BY s.id, s.j ORDER BY
             ROUND(list_sum(list_transform(generate_series(1, 16),
                   i -> (s.sub[i] - c.centroid[i]) * (s.sub[i] - c.centroid[i]))), 6) ASC,
             c.cid ASC) AS rn
    FROM subs s JOIN c0 c ON c.j = s.j
  ) WHERE rn = 1
),
c1 AS (
  SELECT j, cid, list(av ORDER BY i) AS centroid FROM (
    SELECT j, cid, u.i AS i, ROUND(AVG(sub[u.i]), 6) AS av
    FROM a1, UNNEST(generate_series(1, 16)) AS u(i)
    GROUP BY j, cid, u.i
  ) GROUP BY j, cid
),
pqcodes AS (
  SELECT id, j, cid AS code FROM (
    SELECT s.id, s.j, c.cid,
           ROW_NUMBER() OVER (PARTITION BY s.id, s.j ORDER BY
             ROUND(list_sum(list_transform(generate_series(1, 16),
                   i -> (s.sub[i] - c.centroid[i]) * (s.sub[i] - c.centroid[i]))), 6) ASC,
             c.cid ASC) AS rn
    FROM subs s JOIN c1 c ON c.j = s.j
  ) WHERE rn = 1
),
q0 AS (
  SELECT CAST(vec_id AS VARCHAR) AS query_id, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings WHERE vec_id < 5
),
qsubs AS (
  SELECT q0.query_id, js.j, list_slice(q0.v, js.j * 16 + 1, js.j * 16 + 16) AS sub
  FROM q0, js
),
lut AS (
  SELECT q.query_id, q.j, c.cid AS code,
         ROUND(list_sum(list_transform(generate_series(1, 16),
               i -> q.sub[i] * c.centroid[i])), 6) AS w
  FROM qsubs q JOIN c1 c ON c.j = q.j
),
pqapprox AS (
  SELECT l.query_id, k.id AS vec_id, ROUND(SUM(l.w), 6) AS ap
  FROM pqcodes k JOIN lut l ON l.j = k.j AND l.code = k.code
  GROUP BY l.query_id, k.id
),
pqcand AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY ap DESC, vec_id ASC) AS rn
    FROM pqapprox
  ) WHERE rn <= {10 * _PQ_FACTOR}
),
pqexact AS (
  SELECT c.query_id, c.vec_id,
         ROUND(list_sum(list_transform(generate_series(1, 64),
               i -> qv.v[i] * dv.v[i])), 6) AS score
  FROM pqcand c
  JOIN e dv ON dv.id = c.vec_id
  JOIN q0 qv ON qv.query_id = c.query_id
)
SELECT query_id, vec_id, score, rank FROM (
  SELECT query_id, vec_id, score,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS INTEGER) AS rank
  FROM pqexact
) WHERE rank <= 10
"""

    # int8 scalar-quantized dense: FULL replica — normalize, max-abs int8
    # quantize, exact-integer approximate dot (doubles hold it exactly at
    # these magnitudes), 6-dp candidate cut at k*factor, exact rescore
    sql["knn_quantized"] = f"""
WITH q0 AS (
  SELECT CAST(vec_id AS VARCHAR) AS query_id, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings WHERE vec_id < 5
),
c0 AS (
  SELECT CAST(vec_id AS VARCHAR) AS vec_id, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings
),
qn AS (
  SELECT query_id,
         CASE WHEN sqrt(list_sum(list_transform(v, y -> y*y))) = 0 THEN v
              ELSE list_transform(v, x -> x / sqrt(list_sum(list_transform(v, y -> y*y)))) END AS nv
  FROM q0
),
cn AS (
  SELECT vec_id,
         CASE WHEN sqrt(list_sum(list_transform(v, y -> y*y))) = 0 THEN v
              ELSE list_transform(v, x -> x / sqrt(list_sum(list_transform(v, y -> y*y)))) END AS nv
  FROM c0
),
qq AS (
  SELECT query_id, nv, list_max(list_transform(nv, x -> abs(x))) / 127.0 AS scale
  FROM qn
),
qc AS (
  SELECT query_id, nv, scale,
         CASE WHEN scale = 0 THEN list_transform(nv, x -> 0.0)
              ELSE list_transform(nv, x -> round(x / scale)) END AS codes
  FROM qq
),
cc0 AS (
  SELECT vec_id, nv, list_max(list_transform(nv, x -> abs(x))) / 127.0 AS scale
  FROM cn
),
cc AS (
  SELECT vec_id, nv, scale,
         CASE WHEN scale = 0 THEN list_transform(nv, x -> 0.0)
              ELSE list_transform(nv, x -> round(x / scale)) END AS codes
  FROM cc0
),
approx AS (
  SELECT q.query_id, c.vec_id,
         ROUND(q.scale * c.scale * list_dot_product(q.codes, c.codes), 6) AS approx
  FROM qc q CROSS JOIN cc c
),
qcand AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY approx DESC, vec_id ASC) AS r
    FROM approx
  ) WHERE r <= {10 * _QUANT_RESCORE}
),
exact AS (
  SELECT k.query_id, k.vec_id, list_dot_product(qn.nv, cn.nv) AS score
  FROM qcand k
  JOIN qn ON qn.query_id = k.query_id
  JOIN cn ON cn.vec_id = k.vec_id
),
qranked AS (
  SELECT query_id, vec_id, score,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS INTEGER) AS rank
  FROM exact
)
SELECT query_id, vec_id, ROUND(score, 6) AS score, rank FROM qranked WHERE rank <= 10
"""

    # 'english' analyzer: simple tokens + Lucene minimal plural stem as one
    # regexp_replace per token, over the plural-injected corpus; queries
    # stem the same way ('queries' -> 'querie', deliberately NOT 'query')
    _stem_q_values = ", ".join(f"('{q}', '{t}')" for q, t in STEM_QUERIES)
    sql["bm25_topk_stemmed"] = f"""
WITH corpus AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         CASE WHEN doc_id % 3 = 0 THEN text || ' {_STEM_SUFFIX}' ELSE text END AS text
  FROM documents
),
tok AS (
  SELECT c.doc_id, regexp_replace(t.term, '^(.+[^su])s$', '\\1') AS term
  FROM corpus c, UNNEST(regexp_split_to_array(lower(c.text), '[^a-z0-9]+')) AS t(term)
  WHERE t.term <> ''
),
tf AS (SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf FROM tok GROUP BY doc_id, term),
dl AS (SELECT doc_id, CAST(COUNT(*) AS DOUBLE) AS doclen FROM tok GROUP BY doc_id),
g AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(doclen) AS avgdl FROM dl),
dfreq AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY term),
sq(query_id, text) AS (VALUES {_stem_q_values}),
sqtok AS (
  SELECT sq.query_id, regexp_replace(t.term, '^(.+[^su])s$', '\\1') AS term
  FROM sq, UNNEST(regexp_split_to_array(lower(sq.text), '[^a-z0-9]+')) AS t(term)
  WHERE t.term <> ''
),
sqt AS (SELECT query_id, term, CAST(COUNT(*) AS DOUBLE) AS qtf FROM sqtok GROUP BY query_id, term),
sscored AS (
  SELECT sqt.query_id, tf.doc_id,
         SUM(sqt.qtf
             * ln(1 + (g.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
             * tf.tf / (tf.tf + {K1} * (1 - {B} + {B} * dl.doclen / g.avgdl))) AS score
  FROM tf
  JOIN sqt ON sqt.term = tf.term
  JOIN dl ON dl.doc_id = tf.doc_id
  JOIN dfreq ON dfreq.term = tf.term
  CROSS JOIN g
  GROUP BY sqt.query_id, tf.doc_id
),
srun AS (
  SELECT query_id, doc_id, score,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS INTEGER) AS rank
  FROM sscored
)
SELECT query_id, doc_id, ROUND(score, 6) AS score, rank FROM srun WHERE rank <= 10
"""

    # total hit counts: distinct docs with >= 1 query term; OOV -> 0 row
    sql["hit_counts"] = f"""
WITH {_TOK},
q(query_id, text) AS (VALUES {_Q_VALUES}),
qtok AS (
  SELECT DISTINCT q.query_id, t.term
  FROM q, UNNEST(regexp_split_to_array(lower(q.text), '[^a-z0-9]+')) AS t(term)
  WHERE t.term <> ''
),
hits AS (
  SELECT qt.query_id, COUNT(DISTINCT k.doc_id) AS n
  FROM qtok qt JOIN tok k ON k.term = qt.term
  GROUP BY qt.query_id
)
SELECT q.query_id, CAST(COALESCE(h.n, 0) AS BIGINT) AS n_hits
FROM (SELECT DISTINCT query_id FROM q) q
LEFT JOIN hits h ON h.query_id = q.query_id
"""

    # ES stats aggregation over the BM25 top-10 hit set
    sql["hit_stats"] = f"""
WITH {_BM25_CTES},
run10 AS (SELECT query_id, doc_id FROM run WHERE rank <= 10),
hyd AS (
  SELECT r.query_id, CAST(d.n_chars AS DOUBLE) AS v
  FROM run10 r JOIN documents d ON CAST(d.doc_id AS VARCHAR) = r.doc_id
)
SELECT query_id, 'n_chars' AS facet,
       CAST(COUNT(v) AS BIGINT) AS n,
       MIN(v) AS min, MAX(v) AS max,
       ROUND(AVG(v), 6) AS avg, ROUND(SUM(v), 6) AS sum
FROM hyd GROUP BY query_id
"""

    # sort-by-attribute: any-term filter, top-10 by n_chars ASC (NULLs
    # would sort last; none in this table), bare-id string tiebreak ==
    # the engine's constant-prefixed url tiebreak
    sql["sorted_search"] = f"""
WITH {_TOK},
q(query_id, text) AS (VALUES {_Q_VALUES}),
qtok AS (
  SELECT DISTINCT q.query_id, t.term
  FROM q, UNNEST(regexp_split_to_array(lower(q.text), '[^a-z0-9]+')) AS t(term)
  WHERE t.term <> ''
),
cand AS (
  SELECT DISTINCT qt.query_id, k.doc_id
  FROM qtok qt JOIN tok k ON k.term = qt.term
),
sorted_run AS (
  SELECT c.query_id, c.doc_id, CAST(d.n_chars AS DOUBLE) AS sort_value,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY c.query_id
           ORDER BY CAST(d.n_chars AS DOUBLE) ASC NULLS LAST, c.doc_id ASC
         ) AS INTEGER) AS rank
  FROM cand c JOIN documents d ON CAST(d.doc_id AS VARCHAR) = c.doc_id
)
SELECT query_id, doc_id, sort_value, rank FROM sorted_run WHERE rank <= 10
"""

    # interpolated bigram LM, self-scoring mode: full model replica.
    # The interpolation literals mirror the engine's Python float exactly
    # ({_LM_LAMBDA} and {1.0 - _LM_LAMBDA}), and every bigram/word is
    # in-model by construction, so the joins are inner and n_oov is 0.
    # The CTE chain is shared with ccnet_buckets below.
    _lm_ctes = f"""d AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS t
  FROM documents
),
uni AS (
  SELECT u.term AS w, CAST(COUNT(*) AS DOUBLE) AS c1
  FROM d, UNNEST(t) AS u(term) GROUP BY u.term
),
tot AS (SELECT CAST(SUM(len(t)) AS DOUBLE) AS total FROM d),
big AS (
  SELECT d.doc_id, t[s.i] || ' ' || t[s.i + 1] AS bg
  FROM d, UNNEST(generate_series(1, len(t) - 1)) AS s(i)
  WHERE len(t) >= 2
),
c2 AS (SELECT bg, CAST(COUNT(*) AS DOUBLE) AS c2 FROM big GROUP BY bg),
cp AS (SELECT split_part(bg, ' ', 1) AS v, SUM(c2) AS cp FROM c2 GROUP BY 1),
firsttok AS (
  SELECT d.doc_id, 1.0 AS n, uni.c1 / tot.total AS p
  FROM d JOIN uni ON uni.w = t[1] CROSS JOIN tot
  WHERE len(t) >= 1
),
docbg AS (SELECT doc_id, bg, CAST(COUNT(*) AS DOUBLE) AS n FROM big GROUP BY doc_id, bg),
cont AS (
  SELECT db.doc_id, db.n,
         {_LM_LAMBDA} * (c2.c2 / cp.cp) + {1.0 - _LM_LAMBDA} * (uni.c1 / tot.total) AS p
  FROM docbg db
  JOIN c2 ON c2.bg = db.bg
  JOIN cp ON cp.v = split_part(db.bg, ' ', 1)
  JOIN uni ON uni.w = split_part(db.bg, ' ', 2)
  CROSS JOIN tot
),
lm_scored AS (
  SELECT doc_id, SUM(n * ln(p)) AS lp
  FROM (SELECT * FROM firsttok UNION ALL SELECT * FROM cont)
  GROUP BY doc_id
)"""

    sql["lm_perplexity"] = f"""
WITH {_lm_ctes}
SELECT d.doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
       CAST(0 AS BIGINT) AS n_oov,
       ROUND(s.lp, 6) AS log_prob,
       ROUND(exp(-s.lp / len(t)), 6) AS perplexity
FROM d LEFT JOIN lm_scored s ON s.doc_id = d.doc_id
"""

    # CCNet head/middle/tail: same LM, ROUND-then-exact-quantile thresholds
    sql["ccnet_buckets"] = f"""
WITH {_lm_ctes},
base AS (
  SELECT d.doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
         ROUND(exp(-s.lp / len(t)), 6) AS perplexity
  FROM d LEFT JOIN lm_scored s ON s.doc_id = d.doc_id
),
th AS (
  SELECT quantile_cont(perplexity, {_CCNET_F1!r}) AS t1,
         quantile_cont(perplexity, {_CCNET_F2!r}) AS t2
  FROM base WHERE perplexity IS NOT NULL
)
SELECT b.doc_id, b.n_tokens, b.perplexity,
       CASE WHEN b.perplexity IS NULL THEN NULL
            WHEN b.perplexity <= th.t1 THEN 'head'
            WHEN b.perplexity <= th.t2 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM base b CROSS JOIN th
"""

    # percolation: full role-semantics replica (must AND / should any-of /
    # must_not exclusion / must-should merge / dead exclusion-only rules)
    sql["percolate"] = f"""
WITH {_TOK},
rules(query_id, must, should, must_not) AS (VALUES {_PERC_VALUES}),
role_raw AS (
  SELECT query_id, t.term, 1 AS is_must, 0 AS is_should, 0 AS is_not
  FROM rules, UNNEST(regexp_split_to_array(lower(COALESCE(must, '')), '[^a-z0-9]+')) AS t(term)
  WHERE t.term <> ''
  UNION
  SELECT query_id, t.term, 0, 1, 0
  FROM rules, UNNEST(regexp_split_to_array(lower(COALESCE(should, '')), '[^a-z0-9]+')) AS t(term)
  WHERE t.term <> ''
  UNION
  SELECT query_id, t.term, 0, 0, 1
  FROM rules, UNNEST(regexp_split_to_array(lower(COALESCE(must_not, '')), '[^a-z0-9]+')) AS t(term)
  WHERE t.term <> ''
),
roles AS (
  SELECT query_id, term, MAX(is_must) AS is_must,
         MAX(is_should) * (1 - MAX(is_must)) AS is_should,
         MAX(is_not) AS is_not
  FROM role_raw GROUP BY query_id, term
),
req AS (
  SELECT query_id, SUM(is_must) AS req_must, SUM(is_should) AS n_should_avail
  FROM roles GROUP BY query_id
),
dterm AS (SELECT DISTINCT doc_id, term FROM tok),
hits AS (
  SELECT d.doc_id, r.query_id,
         SUM(r.is_must) AS n_must, SUM(r.is_should) AS n_should,
         SUM(r.is_not) AS n_not
  FROM dterm d JOIN roles r ON r.term = d.term
  GROUP BY d.doc_id, r.query_id
)
SELECT h.doc_id, h.query_id,
       CAST(h.n_must AS INTEGER) AS n_must,
       CAST(h.n_should AS INTEGER) AS n_should
FROM hits h JOIN req q ON q.query_id = h.query_id
WHERE h.n_not = 0 AND h.n_must = q.req_must
  AND (q.req_must > 0 OR h.n_should >= 1)
  AND (q.req_must + q.n_should_avail) > 0
"""

    # filter-context percolation (round 5): the same role replica over
    # PERC_FILTER_RULES, each match additionally gated by its rule's
    # doc-values predicate replayed on the raw documents columns
    sql["percolate_filtered"] = f"""
WITH {_TOK},
rules(query_id, must, should, must_not) AS (VALUES {_PERC_F_VALUES}),
role_raw AS (
  SELECT query_id, t.term, 1 AS is_must, 0 AS is_should, 0 AS is_not
  FROM rules, UNNEST(regexp_split_to_array(lower(COALESCE(must, '')), '[^a-z0-9]+')) AS t(term)
  WHERE t.term <> ''
  UNION
  SELECT query_id, t.term, 0, 1, 0
  FROM rules, UNNEST(regexp_split_to_array(lower(COALESCE(should, '')), '[^a-z0-9]+')) AS t(term)
  WHERE t.term <> ''
  UNION
  SELECT query_id, t.term, 0, 0, 1
  FROM rules, UNNEST(regexp_split_to_array(lower(COALESCE(must_not, '')), '[^a-z0-9]+')) AS t(term)
  WHERE t.term <> ''
),
roles AS (
  SELECT query_id, term, MAX(is_must) AS is_must,
         MAX(is_should) * (1 - MAX(is_must)) AS is_should,
         MAX(is_not) AS is_not
  FROM role_raw GROUP BY query_id, term
),
req AS (
  SELECT query_id, SUM(is_must) AS req_must, SUM(is_should) AS n_should_avail
  FROM roles GROUP BY query_id
),
gate AS (
  SELECT 'pf0' AS query_id, CAST(doc_id AS VARCHAR) AS doc_id
  FROM documents WHERE lang = 'en'
  UNION ALL
  SELECT 'pf1', CAST(doc_id AS VARCHAR) FROM documents WHERE n_chars >= 300
  UNION ALL
  SELECT 'pf2', CAST(doc_id AS VARCHAR) FROM documents
  WHERE lang IN ('de', 'fr')
  UNION ALL
  SELECT 'pf3', CAST(doc_id AS VARCHAR) FROM documents
),
dterm AS (SELECT DISTINCT doc_id, term FROM tok),
hits AS (
  SELECT d.doc_id, r.query_id,
         SUM(r.is_must) AS n_must, SUM(r.is_should) AS n_should,
         SUM(r.is_not) AS n_not
  FROM dterm d JOIN roles r ON r.term = d.term
  GROUP BY d.doc_id, r.query_id
)
SELECT h.doc_id, h.query_id,
       CAST(h.n_must AS INTEGER) AS n_must,
       CAST(h.n_should AS INTEGER) AS n_should
FROM hits h
JOIN req q ON q.query_id = h.query_id
JOIN gate g ON g.query_id = h.query_id AND g.doc_id = h.doc_id
WHERE h.n_not = 0 AND h.n_must = q.req_must
  AND (q.req_must > 0 OR h.n_should >= 1)
  AND (q.req_must + q.n_should_avail) > 0
"""

    # function-score gaussian decay over the BM25 top-100, re-ranked to 10.
    # The denominator literal is computed with the engine's exact float
    # steps so both sides evaluate exp(-(d*d)/denom) on identical doubles
    sql["decay_search"] = f"""
WITH {_BM25_CTES},
run100 AS (SELECT query_id, doc_id, score FROM run WHERE rank <= 100),
att AS (SELECT CAST(doc_id AS VARCHAR) AS doc_id, CAST(n_chars AS DOUBLE) AS v FROM documents),
resc AS (
  SELECT r.query_id, r.doc_id,
         r.score * COALESCE(
           exp(-(greatest(abs(a.v - {_DECAY_ORIGIN}) - 0.0, 0.0)
                 * greatest(abs(a.v - {_DECAY_ORIGIN}) - 0.0, 0.0)) / {_DECAY_DENOM!r}),
           1.0) AS score
  FROM run100 r LEFT JOIN att a ON a.doc_id = r.doc_id
),
rer AS (
  SELECT query_id, doc_id, score,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY score DESC, doc_id ASC
         ) AS INTEGER) AS rank
  FROM resc
)
SELECT query_id, doc_id, ROUND(score, 6) AS score, rank FROM rer WHERE rank <= 10
"""

    # boosting query: negative-term membership demotes by 0.5x, kept in
    # the run (vs must_not's removal); re-ranked over the top-100 window
    sql["boosting_search"] = f"""
WITH {_BM25_CTES},
run100 AS (SELECT query_id, doc_id, score FROM run WHERE rank <= 100),
neg AS (SELECT DISTINCT doc_id FROM tok WHERE term = '{_NEG_TERM}'),
resc AS (
  SELECT r.query_id, r.doc_id,
         CASE WHEN n.doc_id IS NOT NULL THEN r.score * {_NEG_BOOST}
              ELSE r.score END AS score
  FROM run100 r LEFT JOIN neg n ON n.doc_id = r.doc_id
),
rer AS (
  SELECT query_id, doc_id, score,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY score DESC, doc_id ASC
         ) AS INTEGER) AS rank
  FROM resc
)
SELECT query_id, doc_id, ROUND(score, 6) AS score, rank FROM rer WHERE rank <= 10
"""

    # per-doc term vectors with corpus df; positions over the FILTERED
    # token stream, 1-based; payload bounded to doc_id % 17 == 0
    sql["term_vectors"] = """
WITH d AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, doc_id AS idx,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS t
  FROM documents
),
posx AS (
  SELECT doc_id, idx, t[s.i] AS term, s.i AS pos
  FROM d, UNNEST(generate_series(1, len(t))) AS s(i)
),
per_doc AS (
  SELECT doc_id, idx, term,
         CAST(COUNT(*) AS BIGINT) AS tf,
         CAST(MIN(pos) AS INTEGER) AS first_pos
  FROM posx GROUP BY doc_id, idx, term
),
dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM per_doc GROUP BY term)
SELECT p.doc_id, p.term, p.tf, p.first_pos, f.df
FROM per_doc p JOIN dfreq f ON f.term = p.term
WHERE p.idx % 17 = 0
"""

    # team-draft interleaving: BM25 (A) × QLD (B), the draft unrolled into
    # _TD_K count/prefer/avail/pick CTE rounds with the portable md5 coin
    _td_steps = []
    for i in range(1, _TD_K + 1):
        coin = (
            f"CAST('0x' || substr(md5(concat_ws('|', '{_TD_SEED}', "
            f"qs.query_id, '{i}')), 1, 8) AS UBIGINT) / 4294967296.0 < 0.5"
        )
        _td_steps.append(f"""cnt{i} AS (
  SELECT query_id,
         SUM(CASE WHEN team = 'A' THEN 1 ELSE 0 END) AS na,
         SUM(CASE WHEN team = 'B' THEN 1 ELSE 0 END) AS nb
  FROM sel{i - 1} GROUP BY query_id
),
pref{i} AS (
  SELECT qs.query_id,
         CASE WHEN COALESCE(c.na, 0) < COALESCE(c.nb, 0) THEN 'A'
              WHEN COALESCE(c.na, 0) > COALESCE(c.nb, 0) THEN 'B'
              WHEN {coin} THEN 'A' ELSE 'B' END AS pteam
  FROM qids qs LEFT JOIN cnt{i} c ON c.query_id = qs.query_id
),
avail{i} AS (
  SELECT b.query_id, b.src, MIN(b.rank) AS mr
  FROM both_l b
  WHERE NOT EXISTS (SELECT 1 FROM sel{i - 1} s
                    WHERE s.query_id = b.query_id AND s.doc_id = b.doc_id)
  GROUP BY b.query_id, b.src
),
chosen{i} AS (
  SELECT p.query_id,
         CASE WHEN ap.mr IS NOT NULL THEN p.pteam
              ELSE CASE WHEN p.pteam = 'A' THEN 'B' ELSE 'A' END END AS team,
         COALESCE(ap.mr, ao.mr) AS mr
  FROM pref{i} p
  LEFT JOIN avail{i} ap ON ap.query_id = p.query_id AND ap.src = p.pteam
  LEFT JOIN avail{i} ao ON ao.query_id = p.query_id AND ao.src <> p.pteam
  WHERE COALESCE(ap.mr, ao.mr) IS NOT NULL
),
picked{i} AS (
  SELECT c.query_id, b.doc_id, c.team, {i} AS pos
  FROM chosen{i} c
  JOIN both_l b ON b.query_id = c.query_id AND b.src = c.team AND b.rank = c.mr
),
sel{i} AS MATERIALIZED (SELECT query_id, doc_id, team, pos FROM sel{i - 1}
           UNION ALL SELECT query_id, doc_id, team, pos FROM picked{i})""")
    sql["interleave_td"] = f"""
WITH {_BM25_CTES},
tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS total FROM tok),
cfreq AS (SELECT term, SUM(tf) AS cf FROM tf GROUP BY term),
qcontrib AS (
  SELECT qt.query_id, tf.doc_id,
         qt.qtf * greatest(0, ln(1 + tf.tf / ({_QLD_MU} * cfreq.cf / tot.total))
                              + ln({_QLD_MU} / (dl.doclen + {_QLD_MU}))) AS w
  FROM tf
  JOIN qt ON qt.term = tf.term
  JOIN dl ON dl.doc_id = tf.doc_id
  JOIN cfreq ON cfreq.term = tf.term
  CROSS JOIN tot
),
qldscored AS (
  SELECT query_id, doc_id, SUM(w) AS score FROM qcontrib WHERE w > 0
  GROUP BY query_id, doc_id
),
qldrun AS (
  SELECT query_id, doc_id,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS INTEGER) AS rank
  FROM qldscored
),
both_l AS MATERIALIZED (
  SELECT 'A' AS src, query_id, doc_id, rank FROM run WHERE rank <= 10
  UNION ALL
  SELECT 'B' AS src, query_id, doc_id, rank FROM qldrun WHERE rank <= 10
),
qids AS (SELECT DISTINCT query_id FROM both_l),
sel0 AS (
  SELECT CAST(NULL AS VARCHAR) AS query_id, CAST(NULL AS VARCHAR) AS doc_id,
         CAST(NULL AS VARCHAR) AS team, CAST(NULL AS INTEGER) AS pos
  WHERE FALSE
),
{",".join(_td_steps)}
SELECT query_id, CAST(pos AS INTEGER) AS pos, doc_id, team FROM sel{_TD_K}
"""

    # ERR@10: graded cascade over the top-10, rank-ordered window product
    sql["err10"] = f"""
WITH {_BM25_CTES},
{_QRELS_CTE},
graded AS (
  SELECT r.query_id, r.rank,
         (pow(2.0, CAST(COALESCE(qr.rel, 0) AS DOUBLE)) - 1.0)
           / {float(2 ** _ERR_MAXREL)} AS R
  FROM (SELECT query_id, doc_id, rank FROM run WHERE rank <= 10) r
  LEFT JOIN qrels qr ON qr.query_id = r.query_id AND qr.doc_id = r.doc_id
),
contrib AS (
  SELECT query_id,
         R * exp(COALESCE(SUM(ln(1.0 - R)) OVER (
           PARTITION BY query_id ORDER BY rank
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0.0)) / rank AS c
  FROM graded
)
SELECT query_id, ROUND(SUM(c), 6) AS err FROM contrib GROUP BY query_id
"""

    sql["ltr_features"] = f"""
WITH {_TOK},
tf AS (SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf FROM tok GROUP BY doc_id, term),
dl AS (SELECT doc_id, CAST(COUNT(*) AS DOUBLE) AS doclen FROM tok GROUP BY doc_id),
g AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(doclen) AS avgdl, SUM(doclen) AS total FROM dl),
lstats AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df, SUM(tf) AS cf FROM tf GROUP BY term),
q(query_id, text) AS (VALUES {_Q_VALUES}),
qtok AS (
  SELECT q.query_id, t.term
  FROM q, UNNEST(regexp_split_to_array(lower(q.text), '[^a-z0-9]+')) AS t(term)
  WHERE t.term <> ''
),
qt AS (SELECT query_id, term, CAST(COUNT(*) AS DOUBLE) AS qtf FROM qtok GROUP BY query_id, term),
qlen AS (SELECT query_id, SUM(qtf) AS qlen FROM qt GROUP BY query_id),
lcontrib AS (
  SELECT qt.query_id, tf.doc_id, tf.term, qt.qtf, dl.doclen,
         ln(1 + (g.n_docs - s.df + 0.5) / (s.df + 0.5)) AS idf,
         qt.qtf * ln(1 + (g.n_docs - s.df + 0.5) / (s.df + 0.5))
               * tf.tf / (tf.tf + {K1} * (1 - {B} + {B} * dl.doclen / g.avgdl)) AS c_bm25,
         qt.qtf * GREATEST(CAST(0 AS DOUBLE),
               ln(1 + tf.tf / ({_QLD_MU} * s.cf / g.total))
               + ln({_QLD_MU} / (dl.doclen + {_QLD_MU}))) AS c_dir,
         qt.qtf * ln(1 + ((1 - {_QLD_JM_LAMBDA}) * tf.tf / dl.doclen)
                         / ({_QLD_JM_LAMBDA} * s.cf / g.total)) AS c_jm
  FROM tf
  JOIN qt ON qt.term = tf.term
  JOIN dl ON dl.doc_id = tf.doc_id
  JOIN lstats s ON s.term = tf.term
  CROSS JOIN g
),
lfeats AS (
  SELECT query_id, doc_id,
         ROUND(SUM(c_bm25), 6) AS bm25,
         ROUND(SUM(c_dir), 6) AS qld_dir,
         ROUND(SUM(c_jm), 6) AS qld_jm,
         CAST(COUNT(DISTINCT term) AS INTEGER) AS n_matched,
         SUM(qtf) AS mqtf,
         ROUND(MAX(doclen), 6) AS doclen
  FROM lcontrib GROUP BY query_id, doc_id
),
lidf AS (
  SELECT query_id, doc_id, ROUND(SUM(idf), 6) AS sum_idf
  FROM (SELECT DISTINCT query_id, doc_id, term, idf FROM lcontrib)
  GROUP BY query_id, doc_id
)
SELECT query_id, doc_id, rank, bm25, qld_dir, qld_jm, n_matched,
       matched_qtf, sum_idf, doclen, qlen
FROM (
  SELECT f.query_id, f.doc_id, f.bm25, f.qld_dir, f.qld_jm, f.n_matched,
         ROUND(f.mqtf / l.qlen, 6) AS matched_qtf, i.sum_idf, f.doclen,
         ROUND(l.qlen, 6) AS qlen,
         CAST(ROW_NUMBER() OVER (PARTITION BY f.query_id ORDER BY f.bm25 DESC, f.doc_id ASC) AS INTEGER) AS rank
  FROM lfeats f
  JOIN lidf i ON i.query_id = f.query_id AND i.doc_id = f.doc_id
  JOIN qlen l ON l.query_id = f.query_id
) WHERE rank <= 10
"""

    sql["map10"] = f"""
WITH {_BM25_CTES},
{_QRELS_CTE},
mhits AS (
  SELECT r.query_id, r.rank
  FROM (SELECT query_id, doc_id, rank FROM run WHERE rank <= 10) r
  JOIN (SELECT DISTINCT query_id, doc_id FROM qrels) qr
    ON qr.query_id = r.query_id AND qr.doc_id = r.doc_id
),
mprec AS (
  SELECT query_id,
         CAST(COUNT(*) OVER (PARTITION BY query_id ORDER BY rank
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / rank AS p
  FROM mhits
),
msum AS (SELECT query_id, SUM(p) AS s FROM mprec GROUP BY query_id),
mtot AS (SELECT query_id, CAST(COUNT(*) AS DOUBLE) AS r FROM qrels GROUP BY query_id)
SELECT t.query_id, ROUND(COALESCE(m.s, 0) / t.r, 6) AS ap
FROM mtot t LEFT JOIN msum m ON m.query_id = t.query_id
"""

    sql["rbp10"] = f"""
WITH {_BM25_CTES},
{_QRELS_CTE},
rbpgraded AS (
  SELECT r.query_id,
         (CASE WHEN COALESCE(qr.rel, 0) > 0 THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END)
           * pow({_RBP_P!r}, CAST(r.rank AS DOUBLE) - 1.0) AS c
  FROM (SELECT query_id, doc_id, rank FROM run WHERE rank <= 10) r
  LEFT JOIN qrels qr ON qr.query_id = r.query_id AND qr.doc_id = r.doc_id
)
SELECT query_id, ROUND(CAST({(1.0 - _RBP_P)!r} AS DOUBLE) * SUM(c), 6) AS rbp,
       ROUND(CAST({(_RBP_P ** 10)!r} AS DOUBLE), 6) AS rbp_residual
FROM rbpgraded GROUP BY query_id
"""

    # QPP: pre-retrieval idf profile + post-retrieval score stats
    sql["qpp"] = f"""
WITH {_BM25_CTES},
run10 AS (SELECT query_id, doc_id, score FROM run WHERE rank <= 10),
ddt AS (SELECT DISTINCT doc_id, term FROM tok),
df2 AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM ddt GROUP BY term),
nd AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n FROM documents),
qdt AS (SELECT DISTINCT query_id, term FROM qtok),
pre AS (
  SELECT qd.query_id, CAST(COUNT(*) AS BIGINT) AS n_terms,
         ROUND(AVG(ln(1 + (nd.n - d.df + 0.5) / (d.df + 0.5))), 6) AS mean_idf,
         ROUND(MAX(ln(1 + (nd.n - d.df + 0.5) / (d.df + 0.5))), 6) AS max_idf
  FROM qdt qd JOIN df2 d ON d.term = qd.term CROSS JOIN nd
  GROUP BY qd.query_id
),
post AS (
  SELECT query_id, ROUND(AVG(score), 6) AS score_mean,
         ROUND(STDDEV_SAMP(score), 6) AS score_std,
         ROUND(STDDEV_SAMP(score) / AVG(score), 6) AS score_cv
  FROM run10 GROUP BY query_id
)
SELECT b.query_id, CAST(COALESCE(p.n_terms, 0) AS BIGINT) AS n_terms,
       p.mean_idf, p.max_idf, s.score_mean, s.score_std, s.score_cv
FROM (SELECT DISTINCT query_id FROM q) b
LEFT JOIN pre p ON p.query_id = b.query_id
LEFT JOIN post s ON s.query_id = b.query_id
"""

    # temperature-scaled mixture weights over the lang column
    sql["temperature_mixture"] = f"""
WITH tc AS (
  SELECT COALESCE(CAST(lang AS VARCHAR), '(null)') AS domain,
         CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY 1
),
tt AS (SELECT CAST(SUM(n_docs) AS DOUBLE) AS total FROM tc),
tp AS (
  SELECT domain, n_docs, n_docs / tt.total AS p_raw,
         pow(n_docs / tt.total, {_TEMP_ALPHA}) AS s
  FROM tc CROSS JOIN tt
),
ts AS (SELECT SUM(s) AS ssum FROM tp)
SELECT domain, n_docs, ROUND(p_raw, 6) AS p_raw,
       ROUND(s / ts.ssum, 6) AS weight
FROM tp CROSS JOIN ts
"""

    # per-doc keywords: tf*ln(N/df), rounded before the per-doc window
    sql["doc_keywords"] = """
WITH d AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS t
  FROM documents
),
per_doc AS (
  SELECT doc_id, u.term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM d, UNNEST(t) AS u(term) GROUP BY doc_id, u.term
),
dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM per_doc GROUP BY term),
ndocs AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n FROM documents),
kw AS (
  SELECT p.doc_id, p.term, p.tf, f.df,
         ROUND(p.tf * ln(ndocs.n / f.df), 6) AS score
  FROM per_doc p JOIN dfreq f ON f.term = p.term CROSS JOIN ndocs
),
kw_rk AS (
  SELECT doc_id, term, tf, df, score,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY doc_id ORDER BY score DESC, term ASC
         ) AS INTEGER) AS rank
  FROM kw
)
SELECT doc_id, term, tf, df, score, rank FROM kw_rk WHERE rank <= 3
"""

    # significant terms: fg/bg document-frequency lift over the BM25
    # top-10 hit sets, min fg df 2, top-10 per query by (lift, term)
    sql["significant_terms"] = f"""
WITH {_BM25_CTES},
run10 AS (SELECT query_id, doc_id FROM run WHERE rank <= 10),
dterm AS (SELECT DISTINCT doc_id, term FROM tok),
bg AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS bg_df FROM dterm GROUP BY term),
bgn AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n FROM documents),
fgsz AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS fg_docs FROM run10 GROUP BY query_id),
fg AS (
  SELECT r.query_id, d.term, CAST(COUNT(*) AS BIGINT) AS fg_df
  FROM run10 r JOIN dterm d ON d.doc_id = r.doc_id
  GROUP BY r.query_id, d.term
  HAVING COUNT(*) >= 2
),
sc AS (
  SELECT f.query_id, f.term, f.fg_df, b.bg_df,
         (CAST(f.fg_df AS DOUBLE) / CAST(s.fg_docs AS DOUBLE))
           / (CAST(b.bg_df AS DOUBLE) / bgn.n) AS score
  FROM fg f JOIN bg b ON b.term = f.term
  JOIN fgsz s ON s.query_id = f.query_id
  CROSS JOIN bgn
),
rk AS (
  SELECT query_id, term, fg_df, bg_df, score,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY score DESC, term ASC
         ) AS INTEGER) AS rank
  FROM sc
)
SELECT query_id, term, fg_df, bg_df, ROUND(score, 6) AS score, rank
FROM rk WHERE rank <= 10
"""

    _sigtext_run_values = ", ".join(
        f"('{q}', '{d}')" for q, d in SIGTEXT_RUN
    )
    sql["significant_text"] = f"""
WITH corpus AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         CASE WHEN doc_id % 4 = 0 THEN text || ' {SIGTEXT_SPAN}' ELSE text END AS text
  FROM documents WHERE doc_id < 240
),
srun(query_id, doc_id) AS (VALUES {_sigtext_run_values}),
hit AS (
  SELECT r.query_id, r.doc_id, c.text
  FROM srun r JOIN corpus c USING (doc_id)
),
stoks AS (
  SELECT query_id, doc_id,
         list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS t
  FROM hit
),
socc AS (
  SELECT query_id, doc_id, s.i - 1 AS pos, array_to_string(t[s.i:s.i+4], ' ') AS key
  FROM stoks, UNNEST(generate_series(1, len(t) - 4)) AS s(i)
  WHERE len(t) >= 5
),
sdup AS (
  SELECT query_id, key FROM socc GROUP BY query_id, key
  HAVING COUNT(DISTINCT doc_id) >= 2 OR COUNT(*) >= 2
),
sranked AS (
  SELECT o.query_id, o.doc_id, o.pos,
         ROW_NUMBER() OVER (PARTITION BY o.query_id, o.key
                            ORDER BY o.doc_id, o.pos) AS rn
  FROM socc o JOIN sdup d ON d.query_id = o.query_id AND d.key = o.key
),
sremove AS (
  SELECT query_id, doc_id, list(pos) AS starts
  FROM sranked WHERE rn > 1 GROUP BY query_id, doc_id
),
srebuilt AS (
  SELECT tk.query_id, tk.doc_id, tk.t,
         COALESCE(r.starts, CAST([] AS BIGINT[])) AS starts
  FROM stoks tk LEFT JOIN sremove r
    ON tk.query_id = r.query_id AND tk.doc_id = r.doc_id
),
scleaned AS (
  SELECT query_id, doc_id,
         COALESCE(array_to_string(
           list_transform(
             list_filter(generate_series(0, len(t) - 1),
                         i -> len(list_filter(starts, s -> i >= s AND i < s + 5)) = 0),
             i -> t[i + 1]),
           ' '), '') AS text
  FROM srebuilt
),
fgterm AS (
  SELECT DISTINCT query_id, doc_id, t.term
  FROM scleaned, UNNEST(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS t(term)
  WHERE t.term <> ''
),
fg AS (
  SELECT query_id, term, CAST(COUNT(*) AS BIGINT) AS fg_df
  FROM fgterm GROUP BY query_id, term HAVING COUNT(*) >= 2
),
sdterm AS (
  SELECT DISTINCT doc_id, t.term
  FROM corpus, UNNEST(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS t(term)
  WHERE t.term <> ''
),
bg AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS bg_df FROM sdterm GROUP BY term),
bgn AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n FROM corpus),
fgsz AS (
  SELECT query_id, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS fg_docs
  FROM srun GROUP BY query_id
),
sc AS (
  SELECT f.query_id, f.term, f.fg_df, b.bg_df,
         (CAST(f.fg_df AS DOUBLE) / CAST(s.fg_docs AS DOUBLE))
           / (CAST(b.bg_df AS DOUBLE) / bgn.n) AS score
  FROM fg f JOIN bg b ON b.term = f.term
  JOIN fgsz s ON s.query_id = f.query_id
  CROSS JOIN bgn
),
rk AS (
  SELECT query_id, term, fg_df, bg_df, score,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY score DESC, term ASC
         ) AS INTEGER) AS rank
  FROM sc
)
SELECT query_id, term, fg_df, bg_df, ROUND(score, 6) AS score, rank
FROM rk WHERE rank <= 10
"""

    _comp_legs = "\n  UNION ALL\n  ".join(
        f"SELECT '{p}' AS prefix, suggestion, weight FROM sugg "
        f"WHERE suggestion LIKE '{p}%' OR (substr(suggestion, 1, 1) = '{p[:1]}' "
        f"AND levenshtein(substr(suggestion, 1, {len(p)}), '{p}') <= 1)"
        for p in sorted(set(COMPLETION_PREFIXES))
    )
    sql["completion_suggest"] = f"""
WITH ctoks AS (
  SELECT list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS t,
         n_chars
  FROM documents
),
sugg AS (
  SELECT t[1] || ' ' || t[2] AS suggestion,
         MAX(CAST(n_chars AS DOUBLE)) AS weight
  FROM ctoks WHERE len(t) >= 2 GROUP BY t[1] || ' ' || t[2]
),
matches AS (
  {_comp_legs}
)
SELECT prefix, suggestion, weight, rank FROM (
  SELECT prefix, suggestion, weight,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY prefix ORDER BY weight DESC, suggestion ASC
         ) AS INTEGER) AS rank
  FROM matches
) WHERE rank <= 5
"""

    # exact PERCENTILE_CONT percentiles of n_chars over the top-10 hit set
    pct_legs = "\nUNION ALL\n".join(
        f"SELECT query_id, CAST({p} AS DOUBLE) AS p, quantile_cont(v, {p}) AS value FROM hyd GROUP BY query_id"
        for p in _PCTS
    )
    sql["hit_percentiles"] = f"""
WITH {_BM25_CTES},
run10 AS (SELECT query_id, doc_id FROM run WHERE rank <= 10),
hyd AS (
  SELECT r.query_id, CAST(d.n_chars AS DOUBLE) AS v
  FROM run10 r JOIN documents d ON CAST(d.doc_id AS VARCHAR) = r.doc_id
)
SELECT query_id, p, ROUND(value, 6) AS value FROM ({pct_legs})
"""

    # fuzzy decontamination: md5 MinHash + banding + exact-Jaccard verify,
    # all replayed in SQL (hash/band select lists generated to match the
    # engine's num_hashes/num_bands exactly)
    _fh = _FUZZY_DC["num_hashes"]
    _fb = _FUZZY_DC["num_bands"]
    _fr = _fh // _fb
    _mins = ", ".join(
        f"MIN(md5('{h}|' || shingle)) AS mh_{h}" for h in range(_fh)
    )
    def _band_sql(idc: str, src: str) -> str:
        legs = []
        for b in range(_fb):
            cols = " || '|' || ".join(
                f"mh_{b * _fr + r}" for r in range(_fr)
            )
            legs.append(
                f"SELECT {idc}, {b} AS band, md5({cols}) AS band_hash FROM {src}"
            )
        return "\nUNION ALL\n".join(legs)

    sql["decontaminate_fuzzy"] = f"""
WITH cd AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS t
  FROM documents
),
csh AS (
  SELECT DISTINCT doc_id, t[s.i] || ' ' || t[s.i + 1] || ' ' || t[s.i + 2] AS shingle
  FROM cd, UNNEST(generate_series(1, len(t) - 2)) AS s(i)
  WHERE len(t) >= 3
),
bd AS (
  SELECT 'b' || CAST(doc_id AS VARCHAR) AS bench_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS t
  FROM documents WHERE doc_id % 97 = 0
),
bsh AS (
  SELECT DISTINCT bench_id, t[s.i] || ' ' || t[s.i + 1] || ' ' || t[s.i + 2] AS shingle
  FROM bd, UNNEST(generate_series(1, len(t) - 2)) AS s(i)
  WHERE len(t) >= 3
),
cmh AS (SELECT doc_id, {_mins} FROM csh GROUP BY doc_id),
bmh AS (SELECT bench_id, {_mins} FROM bsh GROUP BY bench_id),
cbands AS ({_band_sql("doc_id", "cmh")}),
bbands AS ({_band_sql("bench_id", "bmh")}),
cand AS (
  SELECT DISTINCT c.doc_id, b.bench_id
  FROM cbands c JOIN bbands b ON b.band = c.band AND b.band_hash = c.band_hash
),
ncs AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_a FROM csh GROUP BY doc_id),
nbs AS (SELECT bench_id, CAST(COUNT(*) AS BIGINT) AS n_b FROM bsh GROUP BY bench_id),
cm AS (
  SELECT ca.doc_id, ca.bench_id, CAST(COUNT(*) AS BIGINT) AS n_common
  FROM cand ca
  JOIN csh ON csh.doc_id = ca.doc_id
  JOIN bsh ON bsh.bench_id = ca.bench_id AND bsh.shingle = csh.shingle
  GROUP BY ca.doc_id, ca.bench_id
),
jac AS (
  SELECT cm.doc_id, cm.bench_id,
         ROUND(cm.n_common / (ncs.n_a + nbs.n_b - cm.n_common), 6) AS j
  FROM cm
  JOIN ncs ON ncs.doc_id = cm.doc_id
  JOIN nbs ON nbs.bench_id = cm.bench_id
),
best AS (
  SELECT doc_id, bench_id AS best_bench_id, j AS best_jaccard FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY doc_id ORDER BY j DESC, bench_id ASC
    ) AS rn FROM jac
  ) WHERE rn = 1
),
ncand AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_candidates FROM cand GROUP BY doc_id)
SELECT d.doc_id,
       CAST(COALESCE(nd.n_candidates, 0) AS BIGINT) AS n_candidates,
       b.best_bench_id, b.best_jaccard,
       COALESCE(b.best_jaccard >= {_FUZZY_DC["threshold"]}, FALSE) AS contaminated
FROM (SELECT DISTINCT doc_id FROM cd) d
LEFT JOIN ncand nd ON nd.doc_id = d.doc_id
LEFT JOIN best b ON b.doc_id = d.doc_id
"""

    # PMI collocations: counts + ln-ratio replica, ranked on ROUNDED pmi
    sql["collocations"] = f"""
WITH d AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS t
  FROM documents
),
uni AS (
  SELECT u.term AS w, CAST(COUNT(*) AS DOUBLE) AS c1
  FROM d, UNNEST(t) AS u(term) GROUP BY u.term
),
tot AS (
  SELECT CAST(SUM(len(t)) AS DOUBLE) AS tt,
         CAST(SUM(greatest(len(t) - 1, 0)) AS DOUBLE) AS bt
  FROM d
),
big AS (
  SELECT t[s.i] AS a, t[s.i + 1] AS b
  FROM d, UNNEST(generate_series(1, len(t) - 1)) AS s(i)
  WHERE len(t) >= 2
),
pairs AS (
  SELECT a, b, CAST(COUNT(*) AS BIGINT) AS n_pair
  FROM big GROUP BY a, b HAVING COUNT(*) >= {_PMI_MIN}
),
pmi_scored AS (
  SELECT p.a AS term_a, p.b AS term_b, p.n_pair,
         ROUND(ln((CAST(p.n_pair AS DOUBLE) / tot.bt)
                  / ((ua.c1 / tot.tt) * (ub.c1 / tot.tt))), 6) AS pmi
  FROM pairs p
  JOIN uni ua ON ua.w = p.a
  JOIN uni ub ON ub.w = p.b
  CROSS JOIN tot
),
pmi_rk AS (
  SELECT term_a, term_b, n_pair, pmi,
         CAST(ROW_NUMBER() OVER (
           ORDER BY pmi DESC, term_a ASC, term_b ASC
         ) AS INTEGER) AS rank
  FROM pmi_scored
)
SELECT term_a, term_b, n_pair, pmi, rank FROM pmi_rk WHERE rank <= {_PMI_N}
"""

    # ES top_hits: top-2 docs per lang bucket within the top-10 hit set
    sql["facet_top_hits"] = f"""
WITH {_BM25_CTES},
run10 AS (SELECT query_id, doc_id, score FROM run WHERE rank <= 10),
hyd AS (
  SELECT r.query_id, COALESCE(CAST(d.lang AS VARCHAR), '(null)') AS value,
         r.doc_id, r.score
  FROM run10 r JOIN documents d ON CAST(d.doc_id AS VARCHAR) = r.doc_id
),
ranked_hits AS (
  SELECT query_id, value, doc_id, score,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY query_id, value ORDER BY score DESC, doc_id ASC
         ) AS INTEGER) AS pos
  FROM hyd
)
SELECT query_id, value, doc_id, ROUND(score, 6) AS score, pos
FROM ranked_hits WHERE pos <= 2
"""

    # MMR diversification: the greedy loop unrolled into _MMR_K pick/sel
    # CTE pairs — each step's argmax runs over the SAME 6dp-rounded rel
    # and pairwise-cosine inputs the engine's kernel rounds to, with the
    # same (mmr DESC, doc_id ASC) tie-break, so the selections replay
    # identically. The lam literals are Python float reprs (exact).
    _lam_r, _oml_r = repr(_MMR_LAM), repr(1.0 - _MMR_LAM)
    _mmr_ctes = [
        "sel0 AS (SELECT CAST(NULL AS VARCHAR) AS query_id, CAST(NULL AS VARCHAR) AS doc_id WHERE FALSE)"
    ]
    for i in range(1, _MMR_K + 1):
        _mmr_ctes.append(f"""mmr{i} AS (
  SELECT b.query_id, b.doc_id,
         {_lam_r} * b.rel - {_oml_r} * COALESCE((
           SELECT MAX(s.s) FROM sim s
           WHERE s.query_id = b.query_id AND s.ca = b.doc_id
             AND s.cb IN (SELECT t.doc_id FROM sel{i - 1} t
                          WHERE t.query_id = b.query_id)
         ), 0.0) AS mmr
  FROM base b
  WHERE NOT EXISTS (SELECT 1 FROM sel{i - 1} t
                    WHERE t.query_id = b.query_id AND t.doc_id = b.doc_id)
),
pick{i} AS (
  SELECT query_id, doc_id, mmr, {i} AS rank FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY mmr DESC, doc_id ASC
    ) AS rn FROM mmr{i}
  ) WHERE rn = 1
),
sel{i} AS (SELECT query_id, doc_id FROM sel{i - 1}
           UNION ALL SELECT query_id, doc_id FROM pick{i})""")
    _mmr_picks = "\nUNION ALL\n".join(
        f"SELECT query_id, doc_id, mmr, rank FROM pick{i}"
        for i in range(1, _MMR_K + 1)
    )
    sql["mmr_rerank"] = f"""
WITH q AS (
  SELECT CAST(vec_id AS VARCHAR) AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id < 5
),
c AS (
  SELECT CAST(vec_id AS VARCHAR) AS vec_id, CAST(embedding AS DOUBLE[]) AS cv
  FROM embeddings
),
scored AS (
  SELECT q.query_id, c.vec_id, list_cosine_similarity(q.qv, c.cv) AS score
  FROM q CROSS JOIN c
),
ranked AS (
  SELECT query_id, vec_id, score,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS INTEGER) AS rank
  FROM scored
),
base AS (
  SELECT query_id, vec_id AS doc_id, ROUND(score, 6) AS rel
  FROM ranked WHERE rank <= {_MMR_DEPTH}
),
sim AS (
  SELECT b1.query_id, b1.doc_id AS ca, b2.doc_id AS cb,
         ROUND(list_cosine_similarity(e1.cv, e2.cv), 6) AS s
  FROM base b1
  JOIN base b2 ON b2.query_id = b1.query_id AND b2.doc_id <> b1.doc_id
  JOIN c e1 ON e1.vec_id = b1.doc_id
  JOIN c e2 ON e2.vec_id = b2.doc_id
),
{",".join(_mmr_ctes)}
SELECT query_id, doc_id, ROUND(mmr, 6) AS mmr_score, CAST(rank AS INTEGER) AS rank
FROM ({_mmr_picks})
"""

    # DSIR importance weights: both Laplace-smoothed unigram models
    # rebuilt in SQL (target = lang='en' slice, raw = full corpus);
    # log-ratio written as ln(a) - ln(b), the engine's exact op order
    sql["dsir_weights"] = """
WITH dt AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, lang,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), x -> x <> '') AS t
  FROM documents
),
rawtok AS (SELECT doc_id, u.term FROM dt, UNNEST(t) AS u(term)),
tgttok AS (SELECT doc_id, u.term FROM dt, UNNEST(t) AS u(term) WHERE lang = 'en'),
cr AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS c FROM rawtok GROUP BY term),
ct AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS c FROM tgttok GROUP BY term),
totr AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM rawtok),
tott AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM tgttok),
vocab AS (SELECT DISTINCT term FROM (SELECT term FROM cr UNION ALL SELECT term FROM ct)),
vs AS (SELECT CAST(COUNT(*) AS DOUBLE) AS v FROM vocab),
ratios AS (
  SELECT v.term,
         ln((COALESCE(ct.c, 0.0) + 1.0) / (tott.n + vs.v))
           - ln((COALESCE(cr.c, 0.0) + 1.0) / (totr.n + vs.v)) AS log_ratio
  FROM vocab v
  LEFT JOIN ct ON ct.term = v.term
  LEFT JOIN cr ON cr.term = v.term
  CROSS JOIN tott CROSS JOIN totr CROSS JOIN vs
),
doct AS (SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf FROM rawtok GROUP BY doc_id, term),
folded AS (
  SELECT d.doc_id, SUM(d.tf * r.log_ratio) AS lw
  FROM doct d JOIN ratios r ON r.term = d.term GROUP BY d.doc_id
),
sz AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens FROM dt)
SELECT s.doc_id, s.n_tokens,
       ROUND(COALESCE(f.lw, 0.0), 6) AS log_weight,
       ROUND(CASE WHEN s.n_tokens > 0 THEN COALESCE(f.lw, 0.0) / s.n_tokens END, 6) AS avg_log_weight
FROM sz s LEFT JOIN folded f ON f.doc_id = s.doc_id
"""

    # shared hydrate for the ES metric-aggregation family: BM25 top-10 run
    # joined to doc attributes, with the SAME derived columns as _attr_docs
    # (regexp token count; n_chars NULLed where doc_id % 7 = 0)
    _HIT_ATTRS = """
run10 AS (SELECT query_id, doc_id FROM run WHERE rank <= 10),
hyd AS (
  SELECT r.query_id,
         CAST(d.n_chars AS DOUBLE) AS n_chars,
         d.lang,
         CAST(len(list_filter(regexp_split_to_array(lower(d.text), '[^a-z0-9]+'),
                              t -> t <> '')) AS DOUBLE) AS n_tokens,
         CASE WHEN d.doc_id % 7 <> 0 THEN CAST(d.n_chars AS DOUBLE) END AS nc_sampled
  FROM run10 r JOIN documents d ON CAST(d.doc_id AS VARCHAR) = r.doc_id
)"""

    # same hydrate keeping doc_id (needed for deterministic tiebreaks)
    _HIT_ATTRS_WITH_ID = """
run10 AS (SELECT query_id, doc_id FROM run WHERE rank <= 10),
hyd2 AS (
  SELECT r.query_id, r.doc_id,
         CAST(d.n_chars AS DOUBLE) AS n_chars,
         d.lang,
         CAST(len(list_filter(regexp_split_to_array(lower(d.text), '[^a-z0-9]+'),
                              t -> t <> '')) AS DOUBLE) AS n_tokens
  FROM run10 r JOIN documents d ON CAST(d.doc_id AS VARCHAR) = r.doc_id
)"""

    # ES extended_stats: two-pass centered variance (population + n-1),
    # std bounds avg ± 2σ — formulas mirror hit_extended_stats exactly
    sql["hit_extended_stats"] = f"""
WITH {_BM25_CTES},
{_HIT_ATTRS},
mu AS (SELECT query_id, AVG(n_chars) AS m FROM hyd GROUP BY query_id),
c AS (
  SELECT h.query_id, h.n_chars AS v, h.n_chars - mu.m AS d
  FROM hyd h JOIN mu ON mu.query_id = h.query_id
)
SELECT query_id, 'n_chars' AS facet,
       CAST(COUNT(v) AS BIGINT) AS n,
       MIN(v) AS min, MAX(v) AS max,
       ROUND(AVG(v), 6) AS avg, ROUND(SUM(v), 6) AS sum,
       ROUND(SUM(v * v), 6) AS sum_of_squares,
       ROUND(AVG(d * d), 6) AS variance,
       CASE WHEN COUNT(v) > 1
            THEN ROUND(AVG(d * d) * COUNT(v) / (COUNT(v) - 1), 6) END
         AS variance_sampling,
       ROUND(SQRT(AVG(d * d)), 6) AS std_deviation,
       CASE WHEN COUNT(v) > 1
            THEN ROUND(SQRT(AVG(d * d) * COUNT(v) / (COUNT(v) - 1)), 6) END
         AS std_deviation_sampling,
       ROUND(AVG(v) + 2 * SQRT(AVG(d * d)), 6) AS std_upper,
       ROUND(AVG(v) - 2 * SQRT(AVG(d * d)), 6) AS std_lower
FROM c GROUP BY query_id
"""

    # ES weighted_avg, skip semantics: a NULL value drops the hit from
    # both numerator and denominator
    sql["hit_weighted_avg"] = f"""
WITH {_BM25_CTES},
{_HIT_ATTRS}
SELECT query_id,
       ROUND(SUM(nc_sampled * n_tokens)
             / NULLIF(SUM(CASE WHEN nc_sampled IS NOT NULL THEN n_tokens END), 0),
             6) AS weighted_avg
FROM hyd GROUP BY query_id
"""

    sql["hit_value_count"] = f"""
WITH {_BM25_CTES},
{_HIT_ATTRS},
up AS (
  SELECT query_id, 'nc_sampled' AS facet, CAST(nc_sampled AS VARCHAR) AS value FROM hyd
  UNION ALL
  SELECT query_id, 'lang' AS facet, lang AS value FROM hyd
)
SELECT query_id, facet,
       CAST(SUM(CASE WHEN value IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS value_count
FROM up GROUP BY query_id, facet
"""

    sql["hit_missing"] = f"""
WITH {_BM25_CTES},
{_HIT_ATTRS},
up AS (
  SELECT query_id, 'nc_sampled' AS facet, CAST(nc_sampled AS VARCHAR) AS value FROM hyd
  UNION ALL
  SELECT query_id, 'lang' AS facet, lang AS value FROM hyd
)
SELECT query_id, facet,
       CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_missing
FROM up GROUP BY query_id, facet
"""

    # ES filters aggregation: independent named predicate buckets, zero
    # counts included (SUM over the full per-query group)
    sql["hit_filters"] = f"""
WITH {_BM25_CTES},
{_HIT_ATTRS}
SELECT query_id, facet, n FROM (
  SELECT query_id, 'long_doc' AS facet,
         CAST(SUM(CASE WHEN n_chars >= 400 THEN 1 ELSE 0 END) AS BIGINT) AS n
  FROM hyd GROUP BY query_id
  UNION ALL
  SELECT query_id, 'en' AS facet,
         CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n
  FROM hyd GROUP BY query_id
)
"""

    # ES string_stats with show_distribution entropy: codepoint length
    # stats per query over the hit texts, plus the Shannon entropy (log2)
    # of the pooled character distribution — chars enumerated by position
    # so the oracle tokenization is unambiguous
    sql["hit_string_stats"] = f"""
WITH {_BM25_CTES},
run10 AS (SELECT query_id, doc_id FROM run WHERE rank <= 10),
sv AS (
  SELECT r.query_id, d.text AS s
  FROM run10 r JOIN documents d ON CAST(d.doc_id AS VARCHAR) = r.doc_id
  WHERE d.text IS NOT NULL
),
lens AS (
  SELECT q.query_id, COALESCE(st.n, 0) AS n,
         st.min_length, st.max_length, st.avg_length
  FROM (SELECT DISTINCT query_id FROM run10) q
  LEFT JOIN (
    SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(len(s)) AS BIGINT) AS min_length,
           CAST(MAX(len(s)) AS BIGINT) AS max_length,
           AVG(len(s)) AS avg_length
    FROM sv GROUP BY query_id
  ) st USING (query_id)
),
chars AS (
  SELECT query_id, substr(s, CAST(u.i AS INTEGER), 1) AS c
  FROM sv, UNNEST(range(1, len(s) + 1)) AS u(i)
),
dist AS (
  SELECT query_id, c, CAST(COUNT(*) AS DOUBLE) AS cnt
  FROM chars GROUP BY query_id, c
),
ent AS (
  SELECT query_id, -SUM(p * log2(p)) AS entropy
  FROM (SELECT query_id,
               cnt / SUM(cnt) OVER (PARTITION BY query_id) AS p
        FROM dist)
  GROUP BY query_id
)
SELECT l.query_id, l.n, l.min_length, l.max_length,
       ROUND(l.avg_length, 6) AS avg_length, ROUND(e.entropy, 6) AS entropy
FROM lens l LEFT JOIN ent e USING (query_id)
"""

    # ES median_absolute_deviation, exact two-pass medians
    sql["hit_mad"] = f"""
WITH {_BM25_CTES},
{_HIT_ATTRS},
med AS (SELECT query_id, quantile_cont(n_chars, 0.5) AS m
        FROM hyd GROUP BY query_id)
SELECT h.query_id,
       ROUND(quantile_cont(ABS(h.n_chars - med.m), 0.5), 6) AS mad
FROM hyd h JOIN med ON med.query_id = h.query_id
GROUP BY h.query_id
"""

    # ES boxplot: exact quartiles + Tukey whiskers clamped to data points
    sql["hit_boxplot"] = f"""
WITH {_BM25_CTES},
{_HIT_ATTRS},
bq AS (
  SELECT query_id, MIN(n_chars) AS mn, MAX(n_chars) AS mx,
         quantile_cont(n_chars, 0.25) AS q1,
         quantile_cont(n_chars, 0.5) AS q2,
         quantile_cont(n_chars, 0.75) AS q3
  FROM hyd GROUP BY query_id
)
SELECT bq.query_id,
       ROUND(bq.mn, 6) AS min, ROUND(bq.mx, 6) AS max,
       ROUND(bq.q1, 6) AS q1, ROUND(bq.q2, 6) AS q2, ROUND(bq.q3, 6) AS q3,
       ROUND(MIN(CASE WHEN h.n_chars >= bq.q1 - 1.5 * (bq.q3 - bq.q1)
                      THEN h.n_chars END), 6) AS lower,
       ROUND(MAX(CASE WHEN h.n_chars <= bq.q3 + 1.5 * (bq.q3 - bq.q1)
                      THEN h.n_chars END), 6) AS upper
FROM hyd h JOIN bq ON bq.query_id = h.query_id
GROUP BY bq.query_id, bq.mn, bq.mx, bq.q1, bq.q2, bq.q3
"""

    # ES stats_bucket sibling pipeline agg over the monthly buckets
    sql["facet_sibling_stats"] = f"""
WITH {_DH_CTES}
SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n,
       MIN(CAST(n_docs AS DOUBLE)) AS min, MAX(CAST(n_docs AS DOUBLE)) AS max,
       ROUND(AVG(CAST(n_docs AS DOUBLE)), 6) AS avg,
       ROUND(SUM(CAST(n_docs AS DOUBLE)), 6) AS sum
FROM dhist GROUP BY query_id
"""

    # ES max_bucket: extremal value + ascending joined keys attaining it
    sql["facet_max_bucket"] = f"""
WITH {_DH_CTES},
mxb AS (SELECT query_id, MAX(CAST(n_docs AS DOUBLE)) AS value
        FROM dhist GROUP BY query_id)
SELECT m.query_id, ROUND(m.value, 6) AS value,
       string_agg(d.bucket, ',' ORDER BY d.bucket) AS keys
FROM mxb m JOIN dhist d
  ON d.query_id = m.query_id AND CAST(d.n_docs AS DOUBLE) = m.value
GROUP BY m.query_id, m.value
"""

    # ES percentiles_bucket: exact linear-interpolated percentiles of the
    # sibling metric (quantile_cont == Spark percentile's definition)
    sql["facet_percentiles_bucket"] = f"""
WITH {_DH_CTES}
SELECT query_id, CAST(25.0 AS DOUBLE) AS percent,
       ROUND(quantile_cont(CAST(n_docs AS DOUBLE), 0.25), 6) AS value
FROM dhist GROUP BY query_id
UNION ALL
SELECT query_id, CAST(50.0 AS DOUBLE) AS percent,
       ROUND(quantile_cont(CAST(n_docs AS DOUBLE), 0.50), 6) AS value
FROM dhist GROUP BY query_id
UNION ALL
SELECT query_id, CAST(75.0 AS DOUBLE) AS percent,
       ROUND(quantile_cont(CAST(n_docs AS DOUBLE), 0.75), 6) AS value
FROM dhist GROUP BY query_id
"""

    # ES normalize: percent_of_sum and z-score within the parent, NULL on
    # degenerate parents (zero sum / zero stddev)
    sql["facet_normalize"] = f"""
WITH {_DH_CTES},
nw AS (
  SELECT query_id, bucket, n_docs,
         CAST(n_docs AS DOUBLE) AS x,
         SUM(CAST(n_docs AS DOUBLE)) OVER (PARTITION BY query_id) AS s,
         AVG(CAST(n_docs AS DOUBLE)) OVER (PARTITION BY query_id) AS m,
         stddev_pop(CAST(n_docs AS DOUBLE))
           OVER (PARTITION BY query_id) AS sd
  FROM dhist
)
SELECT query_id, bucket, n_docs,
       ROUND(x / NULLIF(s, 0), 6) AS pct,
       ROUND((x - m) / NULLIF(sd, 0), 6) AS z
FROM nw
"""

    # ES t_test (paired / pooled / Welch): t statistic + df, expression
    # structure mirrored operation-for-operation against hit_t_test
    sql["hit_t_test"] = f"""
WITH {_BM25_CTES},
{_HIT_ATTRS},
pr AS (
  SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n, AVG(d) AS m,
         var_samp(d) AS v
  FROM (SELECT query_id, nc_sampled - n_tokens AS d FROM hyd
        WHERE nc_sampled IS NOT NULL AND n_tokens IS NOT NULL)
  GROUP BY query_id
),
up AS (
  SELECT query_id,
         CAST(COUNT(nc_sampled) AS BIGINT) AS na,
         CAST(COUNT(n_tokens) AS BIGINT) AS nb,
         AVG(nc_sampled) AS ma, AVG(n_tokens) AS mb,
         var_samp(nc_sampled) AS va, var_samp(n_tokens) AS vb
  FROM hyd GROUP BY query_id
)
SELECT 'paired' AS mode, query_id, n AS n_a, n AS n_b,
       CASE WHEN n >= 2 AND v > 0
            THEN ROUND(m / SQRT(v / n), 6) END AS t_stat,
       CASE WHEN n >= 2 THEN CAST(n - 1 AS DOUBLE) END AS df
FROM pr
UNION ALL
SELECT 'homoscedastic' AS mode, query_id, na AS n_a, nb AS n_b,
       CASE WHEN na >= 2 AND nb >= 2 AND va IS NOT NULL AND vb IS NOT NULL
                 AND ((na - 1) * va + (nb - 1) * vb) / (na + nb - 2)
                     * (1.0 / na + 1.0 / nb) > 0
            THEN ROUND((ma - mb) / SQRT(
                 ((na - 1) * va + (nb - 1) * vb) / (na + nb - 2)
                 * (1.0 / na + 1.0 / nb)), 6) END AS t_stat,
       CASE WHEN na >= 2 AND nb >= 2 AND va IS NOT NULL AND vb IS NOT NULL
            THEN CAST(na + nb - 2 AS DOUBLE) END AS df
FROM up
UNION ALL
SELECT 'heteroscedastic' AS mode, query_id, na AS n_a, nb AS n_b,
       CASE WHEN na >= 2 AND nb >= 2 AND va IS NOT NULL AND vb IS NOT NULL
                 AND va / na + vb / nb > 0
            THEN ROUND((ma - mb) / SQRT(va / na + vb / nb), 6) END AS t_stat,
       CASE WHEN na >= 2 AND nb >= 2 AND va IS NOT NULL AND vb IS NOT NULL
                 AND va / na + vb / nb > 0
            THEN ROUND((va / na + vb / nb) * (va / na + vb / nb)
                 / ((va / na) * (va / na) / (na - 1)
                    + (vb / nb) * (vb / nb) / (nb - 1)), 6) END AS df
FROM up
"""

    # ES rate: per-day rate of monthly buckets, true calendar span
    sql["facet_rate"] = f"""
WITH {_DH_CTES}
SELECT query_id, bucket, n_docs,
       ROUND(CAST(n_docs AS DOUBLE) /
             ((CAST(epoch(CAST(bucket AS TIMESTAMP) + INTERVAL 1 MONTH) AS DOUBLE)
               - CAST(epoch(CAST(bucket AS TIMESTAMP)) AS DOUBLE)) / 86400.0),
             6) AS rate
FROM dhist
"""

    # ES geo_distance rings: overlap allowed, zero-filled per group,
    # NULL coordinates ignored (fixture has none)
    sql["geo_rings"] = """
WITH geo AS (
  SELECT CAST(c_custkey % 3 AS INTEGER) AS grp,
         ((c_custkey * 37) % 16000) / 100.0 - 80.0 AS lat,
         ((c_custkey * 7919) % 36000) / 100.0 - 180.0 AS lon
  FROM customer
),
d AS (
  SELECT grp,
         2 * 6371.0088 * ASIN(SQRT(LEAST(
            POW(SIN((RADIANS(10.0) - RADIANS(lat)) / 2), 2)
            + COS(RADIANS(lat)) * COS(RADIANS(10.0))
              * POW(SIN((RADIANS(20.0) - RADIANS(lon)) / 2), 2),
            1.0))) AS dist
  FROM geo
),
rings(bucket, lo, hi) AS (VALUES
  ('[*,3000)', NULL, 3000.0),
  ('[3000,8000)', 3000.0, 8000.0),
  ('[8000,*)', 8000.0, NULL)
),
counts AS (
  SELECT d.grp, r.bucket, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM d JOIN rings r
    ON (r.lo IS NULL OR d.dist >= r.lo)
   AND (r.hi IS NULL OR d.dist < r.hi)
  GROUP BY d.grp, r.bucket
)
SELECT g.grp, r.bucket, COALESCE(c.n_docs, 0) AS n_docs
FROM (SELECT DISTINCT grp FROM d) g
CROSS JOIN rings r
LEFT JOIN counts c ON c.grp = g.grp AND c.bucket = r.bucket
"""

    # ES date_range over the hit set: [from, to), open ends, zero-filled
    # (reuses the _DH_CTES ts synthesis; dhist goes unused)
    sql["facet_date_range"] = f"""
WITH {_DH_CTES},
dr(bucket, lo, hi) AS (VALUES
  ('*..2024-03-01 00:00:00', NULL, TIMESTAMP '2024-03-01 00:00:00'),
  ('2024-02-01 00:00:00..2024-06-01 00:00:00',
   TIMESTAMP '2024-02-01 00:00:00', TIMESTAMP '2024-06-01 00:00:00'),
  ('2025-01-01 00:00:00..*', TIMESTAMP '2025-01-01 00:00:00', NULL)
),
drh AS (
  SELECT r.query_id, t.warc_ts
  FROM run10 r JOIN ts t ON t.doc_id = r.doc_id
  WHERE t.warc_ts IS NOT NULL
),
drc AS (
  SELECT h.query_id, d.bucket, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM drh h JOIN dr d
    ON (d.lo IS NULL OR h.warc_ts >= d.lo)
   AND (d.hi IS NULL OR h.warc_ts < d.hi)
  GROUP BY h.query_id, d.bucket
)
SELECT g.query_id, d.bucket, COALESCE(c.n_docs, 0) AS n_docs
FROM (SELECT DISTINCT query_id FROM run10) g
CROSS JOIN dr d
LEFT JOIN drc c ON c.query_id = g.query_id AND c.bucket = d.bucket
"""

    # ES distance_feature folded additively into the BM25 score
    sql["distance_feature"] = f"""
WITH {_BM25_CTES},
{_HIT_ATTRS_WITH_ID},
dfh AS (
  SELECT r.query_id, r.doc_id,
         r.score + COALESCE(
           (3.0 * 50.0) / (50.0 + ABS(
             (CASE WHEN CAST(h.doc_id AS BIGINT) % 7 <> 0
                   THEN h.n_chars END) - 400.0)),
           0.0) AS score
  FROM (SELECT query_id, doc_id, score FROM run WHERE rank <= 10) r
  LEFT JOIN hyd2 h ON h.query_id = r.query_id AND h.doc_id = r.doc_id
)
SELECT query_id, doc_id, ROUND(score, 6) AS score,
       CAST(ROW_NUMBER() OVER (
         PARTITION BY query_id ORDER BY score DESC, doc_id ASC
       ) AS INTEGER) AS rank
FROM dfh
"""

    # ES matrix_stats long form (x = n_chars, y = n_tokens): population
    # covariance, Pearson correlation (NULL on constant fields), population
    # skewness / excess kurtosis — same two-pass centered moments as the
    # engine; ES row-drop semantics are vacuous here (no NULLs in either)
    sql["matrix_stats"] = f"""
WITH {_BM25_CTES},
{_HIT_ATTRS},
mu AS (
  SELECT query_id, AVG(n_chars) AS mx, AVG(n_tokens) AS my
  FROM hyd GROUP BY query_id
),
c AS (
  SELECT h.query_id, h.n_chars AS x, h.n_tokens AS y,
         h.n_chars - mu.mx AS dx, h.n_tokens - mu.my AS dy
  FROM hyd h JOIN mu ON mu.query_id = h.query_id
),
m AS (
  SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n,
         AVG(x) AS mean_x, AVG(y) AS mean_y,
         AVG(dx * dx) AS m2x, AVG(dy * dy) AS m2y,
         AVG(dx * dx * dx) AS m3x, AVG(dy * dy * dy) AS m3y,
         AVG(dx * dx * dx * dx) AS m4x, AVG(dy * dy * dy * dy) AS m4y,
         AVG(dx * dy) AS cxy
  FROM c GROUP BY query_id
)
SELECT query_id, field_x, field_y, n,
       ROUND(mean_x, 6) AS mean_x, ROUND(covariance, 6) AS covariance,
       ROUND(correlation, 6) AS correlation,
       ROUND(skewness_x, 6) AS skewness_x, ROUND(kurtosis_x, 6) AS kurtosis_x
FROM (
  SELECT query_id, 'n_chars' AS field_x, 'n_chars' AS field_y, n, mean_x, m2x AS covariance,
         CASE WHEN m2x > 0 THEN 1.0 END AS correlation,
         CASE WHEN m2x > 0 THEN m3x / POW(m2x, 1.5) END AS skewness_x,
         CASE WHEN m2x > 0 THEN m4x / (m2x * m2x) - 3.0 END AS kurtosis_x
  FROM m
  UNION ALL
  SELECT query_id, 'n_chars', 'n_tokens', n, mean_x, cxy,
         CASE WHEN m2x > 0 AND m2y > 0 THEN cxy / SQRT(m2x * m2y) END,
         CASE WHEN m2x > 0 THEN m3x / POW(m2x, 1.5) END,
         CASE WHEN m2x > 0 THEN m4x / (m2x * m2x) - 3.0 END
  FROM m
  UNION ALL
  SELECT query_id, 'n_tokens', 'n_chars', n, mean_y, cxy,
         CASE WHEN m2x > 0 AND m2y > 0 THEN cxy / SQRT(m2x * m2y) END,
         CASE WHEN m2y > 0 THEN m3y / POW(m2y, 1.5) END,
         CASE WHEN m2y > 0 THEN m4y / (m2y * m2y) - 3.0 END
  FROM m
  UNION ALL
  SELECT query_id, 'n_tokens', 'n_tokens', n, mean_y, m2y,
         CASE WHEN m2y > 0 THEN 1.0 END,
         CASE WHEN m2y > 0 THEN m3y / POW(m2y, 1.5) END,
         CASE WHEN m2y > 0 THEN m4y / (m2y * m2y) - 3.0 END
  FROM m
)
"""

    # ES adjacency_matrix: singles + pairwise intersections, empties omitted
    sql["facet_adjacency"] = f"""
WITH {_BM25_CTES},
{_HIT_ATTRS},
f AS (
  SELECT query_id,
         COALESCE(n_chars >= 400, FALSE) AS f_long,
         COALESCE(lang = 'en', FALSE) AS f_en,
         COALESCE(n_tokens >= 60, FALSE) AS f_toky
  FROM hyd
),
agg AS (
  SELECT query_id,
         SUM(CASE WHEN f_long THEN 1 ELSE 0 END) AS n_long,
         SUM(CASE WHEN f_en THEN 1 ELSE 0 END) AS n_en,
         SUM(CASE WHEN f_toky THEN 1 ELSE 0 END) AS n_toky,
         SUM(CASE WHEN f_en AND f_long THEN 1 ELSE 0 END) AS n_en_long,
         SUM(CASE WHEN f_en AND f_toky THEN 1 ELSE 0 END) AS n_en_toky,
         SUM(CASE WHEN f_long AND f_toky THEN 1 ELSE 0 END) AS n_long_toky
  FROM f GROUP BY query_id
)
SELECT query_id, key, CAST(n_docs AS BIGINT) AS n_docs FROM (
  SELECT query_id, 'long' AS key, n_long AS n_docs FROM agg
  UNION ALL SELECT query_id, 'en', n_en FROM agg
  UNION ALL SELECT query_id, 'toky', n_toky FROM agg
  UNION ALL SELECT query_id, 'en&long', n_en_long FROM agg
  UNION ALL SELECT query_id, 'en&toky', n_en_toky FROM agg
  UNION ALL SELECT query_id, 'long&toky', n_long_toky FROM agg
) WHERE n_docs > 0
"""

    # ES multi_terms: composite (lang, source) keys, count DESC then
    # joined-key ASC, docs missing any component excluded
    sql["facet_multi_terms"] = f"""
WITH {_BM25_CTES},
run10 AS (SELECT query_id, doc_id FROM run WHERE rank <= 10),
hyd AS (
  SELECT r.query_id, d.lang, d.source
  FROM run10 r JOIN documents d ON CAST(d.doc_id AS VARCHAR) = r.doc_id
  WHERE d.lang IS NOT NULL AND d.source IS NOT NULL
),
counted AS (
  SELECT query_id, lang || '|' || source AS key, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM hyd GROUP BY query_id, lang || '|' || source
),
ranked AS (
  SELECT query_id, key, n_docs,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY n_docs DESC, key ASC
         ) AS INTEGER) AS pos
  FROM counted
)
SELECT query_id, key, n_docs, pos FROM ranked WHERE pos <= 3
"""

    # ES rare_terms: source values with exactly one hit doc (NULLs excluded)
    sql["facet_rare"] = f"""
WITH {_BM25_CTES},
run10 AS (SELECT query_id, doc_id FROM run WHERE rank <= 10),
hyd AS (
  SELECT r.query_id, d.source
  FROM run10 r JOIN documents d ON CAST(d.doc_id AS VARCHAR) = r.doc_id
)
SELECT query_id, 'source' AS facet, source AS value,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM hyd WHERE source IS NOT NULL
GROUP BY query_id, source
HAVING COUNT(*) <= 1
"""

    # ES diversified_sampler: best-ranked 5 per query, <= 2 per source;
    # same two-window plan replayed in SQL
    sql["diversified_sample"] = f"""
WITH {_BM25_CTES},
run10 AS (SELECT query_id, doc_id, rank FROM run WHERE rank <= 10),
hyd AS (
  SELECT r.query_id, r.doc_id, r.rank,
         COALESCE(d.source, '(null)') AS dv
  FROM run10 r LEFT JOIN documents d ON CAST(d.doc_id AS VARCHAR) = r.doc_id
),
per_value AS (
  SELECT query_id, doc_id, rank,
         ROW_NUMBER() OVER (PARTITION BY query_id, dv ORDER BY rank ASC) AS vpos
  FROM hyd
),
kept AS (
  SELECT query_id, doc_id, rank,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY rank ASC) AS INTEGER)
           AS sample_rank
  FROM per_value WHERE vpos <= 2
)
SELECT query_id, doc_id, rank, sample_rank FROM kept WHERE sample_rank <= 5
"""

    # ES percentile_ranks, exact definition 100·|{v <= x}|/n over non-NULL
    sql["percentile_ranks"] = f"""
WITH {_BM25_CTES},
{_HIT_ATTRS},
agg AS (
  SELECT query_id, COUNT(nc_sampled) AS n,
         SUM(CASE WHEN nc_sampled <= 200.0 THEN 1 ELSE 0 END) AS le0,
         SUM(CASE WHEN nc_sampled <= 450.0 THEN 1 ELSE 0 END) AS le1
  FROM hyd GROUP BY query_id
)
SELECT query_id, value,
       ROUND(CASE WHEN n > 0 THEN 100.0 * le / n END, 6) AS percent
FROM (
  SELECT query_id, CAST(200.0 AS DOUBLE) AS value, le0 AS le, n FROM agg
  UNION ALL
  SELECT query_id, CAST(450.0 AS DOUBLE), le1, n FROM agg
)
"""

    # ES top_metrics: metrics of the 2 longest hit docs (n_chars DESC,
    # doc_id ASC tiebreak; NULL sorts last — vacuous here)
    sql["top_metrics"] = f"""
WITH {_BM25_CTES},
{_HIT_ATTRS_WITH_ID},
ranked AS (
  SELECT query_id, n_chars AS sort_value, lang, n_tokens,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY query_id
           ORDER BY n_chars DESC NULLS LAST, doc_id ASC
         ) AS INTEGER) AS pos
  FROM hyd2
)
SELECT query_id, pos, sort_value, lang, n_tokens FROM ranked WHERE pos <= 2
"""

    # ES geo_bounds + geo_centroid per deterministic bucket
    sql["geo_bounds"] = """
WITH geo AS (
  SELECT CAST(c_custkey % 3 AS INTEGER) AS bucket,
         ((c_custkey * 37) % 16000) / 100.0 - 80.0 AS lat,
         ((c_custkey * 7919) % 36000) / 100.0 - 180.0 AS lon
  FROM customer
)
SELECT bucket,
       ROUND(MAX(lat), 6) AS top, ROUND(MIN(lon), 6) AS "left",
       ROUND(MIN(lat), 6) AS bottom, ROUND(MAX(lon), 6) AS "right",
       CAST(COUNT(*) AS BIGINT) AS n_points,
       ROUND(AVG(lat), 6) AS centroid_lat, ROUND(AVG(lon), 6) AS centroid_lon
FROM geo GROUP BY bucket
"""

    # ES histogram min_doc_count=0 + extended_bounds: densified buckets
    # via generate_series over bucket ordinals, zero-count gaps included
    sql["facet_histogram_dense"] = f"""
WITH {_BM25_CTES},
run10 AS (SELECT query_id, doc_id FROM run WHERE rank <= 10),
hh AS (
  SELECT r.query_id, FLOOR(CAST(d.n_chars AS DOUBLE) / 100.0) * 100.0 AS bucket_lo
  FROM run10 r JOIN documents d ON CAST(d.doc_id AS VARCHAR) = r.doc_id
  WHERE d.n_chars IS NOT NULL
),
hcounts AS (
  SELECT query_id, bucket_lo, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM hh GROUP BY query_id, bucket_lo
),
spans AS (
  SELECT query_id,
         LEAST(MIN(bucket_lo), 0.0) AS mn,
         GREATEST(MAX(bucket_lo), 700.0) AS mx
  FROM hcounts GROUP BY query_id
),
grid AS (
  SELECT s.query_id,
         (CAST(ROUND(s.mn / 100.0) AS BIGINT) + u.i) * CAST(100.0 AS DOUBLE) AS bucket_lo
  FROM spans s, UNNEST(generate_series(0, CAST(ROUND((s.mx - s.mn) / 100.0) AS BIGINT))) AS u(i)
)
SELECT g.query_id, 'n_chars' AS facet, g.bucket_lo,
       COALESCE(c.n_docs, 0) AS n_docs
FROM grid g LEFT JOIN hcounts c
  ON c.query_id = g.query_id AND c.bucket_lo = g.bucket_lo
"""

    # full function_score: filtered weight + log1p fvf + md5-fold random,
    # score_mode=sum, boost_mode=multiply (fvf and random always match, so
    # the matched-sum is closed-form; the weight term gates on lang)
    sql["function_score"] = f"""
WITH {_BM25_CTES},
fsrun AS (SELECT query_id, doc_id, score FROM run WHERE rank <= 10),
fsh AS (
  SELECT r.query_id, r.doc_id, r.score,
         (CASE WHEN d.lang = 'en' THEN 1.5 ELSE 0.0 END)
         + ln(1 + 0.01 * COALESCE(CAST(d.n_chars AS DOUBLE), 1.0))
         + ((strpos('0123456789abcdef', substring(md5(concat_ws('|', '7', r.doc_id)), 1, 1)) - 1) * power(16.0, -1) + (strpos('0123456789abcdef', substring(md5(concat_ws('|', '7', r.doc_id)), 2, 1)) - 1) * power(16.0, -2) + (strpos('0123456789abcdef', substring(md5(concat_ws('|', '7', r.doc_id)), 3, 1)) - 1) * power(16.0, -3) + (strpos('0123456789abcdef', substring(md5(concat_ws('|', '7', r.doc_id)), 4, 1)) - 1) * power(16.0, -4) + (strpos('0123456789abcdef', substring(md5(concat_ws('|', '7', r.doc_id)), 5, 1)) - 1) * power(16.0, -5) + (strpos('0123456789abcdef', substring(md5(concat_ws('|', '7', r.doc_id)), 6, 1)) - 1) * power(16.0, -6) + (strpos('0123456789abcdef', substring(md5(concat_ws('|', '7', r.doc_id)), 7, 1)) - 1) * power(16.0, -7) + (strpos('0123456789abcdef', substring(md5(concat_ws('|', '7', r.doc_id)), 8, 1)) - 1) * power(16.0, -8)) AS fs
  FROM fsrun r LEFT JOIN documents d ON CAST(d.doc_id AS VARCHAR) = r.doc_id
)
SELECT query_id, doc_id, ROUND(score * fs, 6) AS score,
       CAST(ROW_NUMBER() OVER (
         PARTITION BY query_id ORDER BY score * fs DESC, doc_id ASC
       ) AS INTEGER) AS rank
FROM fsh
"""

    # JLH heuristic: (fgr - bgr) * (fgr / bgr) over the same fg/bg counts
    sql["significant_jlh"] = f"""
WITH {_BM25_CTES},
run10 AS (SELECT query_id, doc_id FROM run WHERE rank <= 10),
dterm AS (SELECT DISTINCT doc_id, term FROM tok),
bg AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS bg_df FROM dterm GROUP BY term),
bgn AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n FROM documents),
fgsz AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS fg_docs FROM run10 GROUP BY query_id),
fg AS (
  SELECT r.query_id, d.term, CAST(COUNT(*) AS BIGINT) AS fg_df
  FROM run10 r JOIN dterm d ON d.doc_id = r.doc_id
  GROUP BY r.query_id, d.term
  HAVING COUNT(*) >= 2
),
sc AS (
  SELECT f.query_id, f.term, f.fg_df, b.bg_df,
         ((CAST(f.fg_df AS DOUBLE) / CAST(s.fg_docs AS DOUBLE))
            - (CAST(b.bg_df AS DOUBLE) / bgn.n))
         * ((CAST(f.fg_df AS DOUBLE) / CAST(s.fg_docs AS DOUBLE))
            / (CAST(b.bg_df AS DOUBLE) / bgn.n)) AS score
  FROM fg f JOIN bg b ON b.term = f.term
  JOIN fgsz s ON s.query_id = f.query_id
  CROSS JOIN bgn
),
rk AS (
  SELECT query_id, term, fg_df, bg_df, score,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY score DESC, term ASC
         ) AS INTEGER) AS rank
  FROM sc
)
SELECT query_id, term, fg_df, bg_df, ROUND(score, 6) AS score, rank
FROM rk WHERE rank <= 10
"""

    # auto_date_histogram: monotone rung counts -> finest-fitting CASE
    sql["auto_date_histogram"] = f"""
WITH {_BM25_CTES},
run10 AS (SELECT query_id, doc_id FROM run WHERE rank <= 10),
adh AS (
  SELECT r.query_id,
         TIMESTAMP '2024-01-01 00:00:00'
           + to_hours(CAST(d.doc_id * 7 AS BIGINT)) AS ts
  FROM run10 r JOIN documents d ON CAST(d.doc_id AS VARCHAR) = r.doc_id
),
tr AS (
  SELECT query_id, ts,
         strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M:%S') AS b_minute,
         strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS b_hour,
         strftime(date_trunc('day', ts), '%Y-%m-%d %H:%M:%S') AS b_day,
         strftime(date_trunc('week', ts), '%Y-%m-%d %H:%M:%S') AS b_week,
         strftime(date_trunc('month', ts), '%Y-%m-%d %H:%M:%S') AS b_month,
         strftime(date_trunc('quarter', ts), '%Y-%m-%d %H:%M:%S') AS b_quarter,
         strftime(date_trunc('year', ts), '%Y-%m-%d %H:%M:%S') AS b_year
  FROM adh
),
ch AS (
  SELECT query_id,
         CASE WHEN COUNT(DISTINCT b_minute) <= 3 THEN 'minute'
              WHEN COUNT(DISTINCT b_hour) <= 3 THEN 'hour'
              WHEN COUNT(DISTINCT b_day) <= 3 THEN 'day'
              WHEN COUNT(DISTINCT b_week) <= 3 THEN 'week'
              WHEN COUNT(DISTINCT b_month) <= 3 THEN 'month'
              WHEN COUNT(DISTINCT b_quarter) <= 3 THEN 'quarter'
              ELSE 'year' END AS interval
  FROM tr GROUP BY query_id
)
SELECT t.query_id, 'warc_ts' AS facet, c.interval,
       CASE c.interval
         WHEN 'minute' THEN t.b_minute WHEN 'hour' THEN t.b_hour
         WHEN 'day' THEN t.b_day WHEN 'week' THEN t.b_week
         WHEN 'month' THEN t.b_month WHEN 'quarter' THEN t.b_quarter
         ELSE t.b_year END AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM tr t JOIN ch c ON c.query_id = t.query_id
GROUP BY t.query_id, c.interval, 2, 4
"""

    # SpanFirst: tokp filtered to pos < end, min position per doc, BM25
    # over the query terms (OOV-only queries die in the join)
    sql["span_first"] = f"""
WITH {_TOKP},
{_BM25_CORE},
sfq(query_id, text) AS (VALUES {_SPANF_VALUES}),
sfqt AS (
  SELECT DISTINCT sfq.query_id, t.term
  FROM sfq, UNNEST(regexp_split_to_array(lower(sfq.text), '[^a-z0-9]+')) AS t(term)
  WHERE t.term <> ''
),
sfqtf AS (
  SELECT sfq.query_id, t.term, CAST(COUNT(*) AS DOUBLE) AS qtf
  FROM sfq, UNNEST(regexp_split_to_array(lower(sfq.text), '[^a-z0-9]+')) AS t(term)
  WHERE t.term <> ''
  GROUP BY sfq.query_id, t.term
),
firsts AS (
  SELECT q.query_id, k.doc_id, CAST(MIN(k.pos) AS INTEGER) AS first_pos
  FROM sfqt q JOIN tokp k ON k.term = q.term
  WHERE k.pos < {SPAN_FIRST_END}
  GROUP BY q.query_id, k.doc_id
),
sfscored AS (
  SELECT qt.query_id, tf.doc_id,
         SUM(qt.qtf
             * ln(1 + (g.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
             * tf.tf / (tf.tf + {K1} * (1 - {B} + {B} * dl.doclen / g.avgdl))) AS score
  FROM tf
  JOIN sfqtf qt ON qt.term = tf.term
  JOIN dl ON dl.doc_id = tf.doc_id
  JOIN dfreq ON dfreq.term = tf.term
  CROSS JOIN g
  GROUP BY qt.query_id, tf.doc_id
)
SELECT query_id, doc_id, ROUND(score, 6) AS score, rank, first_pos FROM (
  SELECT f.query_id, f.doc_id, s.score, f.first_pos,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY f.query_id ORDER BY s.score DESC, f.doc_id ASC
         ) AS INTEGER) AS rank
  FROM firsts f JOIN sfscored s ON s.query_id = f.query_id AND s.doc_id = f.doc_id
) WHERE rank <= 10
"""

    # SpanNot: include occurrences anti-joined against exclude occurrences
    # within [pos-pre, pos+post]; docs with >= 1 survivor
    sql["span_not"] = f"""
WITH {_TOKP},
{_BM25_CORE},
snq(query_id, inc, exc) AS (VALUES {_SPANN_VALUES}),
iqt AS (
  SELECT DISTINCT snq.query_id, t.term
  FROM snq, UNNEST(regexp_split_to_array(lower(snq.inc), '[^a-z0-9]+')) AS t(term)
  WHERE t.term <> ''
),
iqtf AS (
  SELECT snq.query_id, t.term, CAST(COUNT(*) AS DOUBLE) AS qtf
  FROM snq, UNNEST(regexp_split_to_array(lower(snq.inc), '[^a-z0-9]+')) AS t(term)
  WHERE t.term <> ''
  GROUP BY snq.query_id, t.term
),
eqt AS (
  SELECT DISTINCT snq.query_id, t.term
  FROM snq, UNNEST(regexp_split_to_array(lower(snq.exc), '[^a-z0-9]+')) AS t(term)
  WHERE t.term <> ''
),
iocc AS (
  SELECT q.query_id, k.doc_id, k.pos AS ipos
  FROM iqt q JOIN tokp k ON k.term = q.term
),
eocc AS (
  SELECT q.query_id, k.doc_id, k.pos AS epos
  FROM eqt q JOIN tokp k ON k.term = q.term
),
surv AS (
  SELECT i.query_id, i.doc_id, i.ipos
  FROM iocc i
  WHERE NOT EXISTS (
    SELECT 1 FROM eocc e
    WHERE e.query_id = i.query_id AND e.doc_id = i.doc_id
      AND e.epos BETWEEN i.ipos - {SPAN_NOT_PRE} AND i.ipos + {SPAN_NOT_POST}
  )
),
kept AS (
  SELECT query_id, doc_id, CAST(COUNT(*) AS INTEGER) AS kept_occurrences
  FROM surv GROUP BY query_id, doc_id
),
snscored AS (
  SELECT qt.query_id, tf.doc_id,
         SUM(qt.qtf
             * ln(1 + (g.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
             * tf.tf / (tf.tf + {K1} * (1 - {B} + {B} * dl.doclen / g.avgdl))) AS score
  FROM tf
  JOIN iqtf qt ON qt.term = tf.term
  JOIN dl ON dl.doc_id = tf.doc_id
  JOIN dfreq ON dfreq.term = tf.term
  CROSS JOIN g
  GROUP BY qt.query_id, tf.doc_id
)
SELECT query_id, doc_id, ROUND(score, 6) AS score, rank, kept_occurrences FROM (
  SELECT kp.query_id, kp.doc_id, s.score, kp.kept_occurrences,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY kp.query_id ORDER BY s.score DESC, kp.doc_id ASC
         ) AS INTEGER) AS rank
  FROM kept kp JOIN snscored s ON s.query_id = kp.query_id AND s.doc_id = kp.doc_id
) WHERE rank <= 10
"""

    # terms_set: distinct matched-term counts vs per-doc msm attribute
    sql["terms_set"] = f"""
WITH {_BM25_CTES},
tsm AS (
  SELECT qt.query_id, tf.doc_id, CAST(COUNT(DISTINCT tf.term) AS INTEGER) AS n_matched
  FROM tf JOIN qt ON qt.term = tf.term
  GROUP BY qt.query_id, tf.doc_id
),
tsmsm AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         GREATEST(CAST(1 + doc_id % 3 AS INTEGER), 1) AS msm_required
  FROM documents
),
tshits AS (
  SELECT s.query_id, s.doc_id, s.score, m.n_matched, ms.msm_required
  FROM scored s
  JOIN tsm m ON m.query_id = s.query_id AND m.doc_id = s.doc_id
  JOIN tsmsm ms ON ms.doc_id = s.doc_id
  WHERE m.n_matched >= ms.msm_required
)
SELECT query_id, doc_id, ROUND(score, 6) AS score, rank, n_matched, msm_required
FROM (
  SELECT query_id, doc_id, score, n_matched, msm_required,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY score DESC, doc_id ASC
         ) AS INTEGER) AS rank
  FROM tshits
) WHERE rank <= 10
"""

    # pinned query: full outer of run10 x pin VALUES, pin block first
    _PIN_VALUES = ", ".join(
        f"('{qid}', '3', 1), ('{qid}', '1', 2)" for qid, _ in QUERIES
    )
    sql["pinned_search"] = f"""
WITH {_BM25_CTES},
prun AS (SELECT query_id, doc_id, score FROM run WHERE rank <= 10),
pins(query_id, doc_id, pin_order) AS (VALUES {_PIN_VALUES}),
merged AS (
  SELECT COALESCE(r.query_id, p.query_id) AS query_id,
         COALESCE(r.doc_id, p.doc_id) AS doc_id,
         r.score, p.pin_order
  FROM prun r FULL OUTER JOIN pins p
    ON p.query_id = r.query_id AND p.doc_id = r.doc_id
)
SELECT query_id, doc_id, ROUND(score, 6) AS score,
       CAST(ROW_NUMBER() OVER (
         PARTITION BY query_id
         ORDER BY CASE WHEN pin_order IS NOT NULL THEN 0 ELSE 1 END,
                  pin_order ASC NULLS LAST,
                  score DESC NULLS LAST,
                  doc_id ASC
       ) AS INTEGER) AS rank,
       pin_order IS NOT NULL AS pinned
FROM merged
"""

    # rank_feature: saturation + log, closed-form (both always match)
    sql["rank_feature"] = f"""
WITH {_BM25_CTES},
rfrun AS (SELECT query_id, doc_id, score FROM run WHERE rank <= 10),
rfh AS (
  SELECT r.query_id, r.doc_id, r.score,
         (GREATEST(COALESCE(CAST(d.n_chars AS DOUBLE), 0.0), 0.0)
            / (GREATEST(COALESCE(CAST(d.n_chars AS DOUBLE), 0.0), 0.0) + 300.0))
         + ln(1.0 + GREATEST(COALESCE(
               CAST(len(list_filter(regexp_split_to_array(lower(d.text), '[^a-z0-9]+'),
                                    t -> t <> '')) AS DOUBLE), 0.0), 0.0)) AS fs
  FROM rfrun r LEFT JOIN documents d ON CAST(d.doc_id AS VARCHAR) = r.doc_id
)
SELECT query_id, doc_id, ROUND(score * fs, 6) AS score,
       CAST(ROW_NUMBER() OVER (
         PARTITION BY query_id ORDER BY score * fs DESC, doc_id ASC
       ) AS INTEGER) AS rank
FROM rfh
"""

    # ES phrase suggester: the full noisy-channel model replayed —
    # unigram/bigram LM from the raw corpus, DirectSpellChecker candidate
    # gates, exact combination enumeration via a recursive CTE, stupid
    # backoff with a Lidstone-0.5 unigram floor. The channel constants
    # are embedded from Python floats because 1.0 - 0.95 is NOT 0.05 in
    # IEEE doubles — log10(0.05) in SQL would diverge from the engine.
    import math as _math
    import re as _re

    _pq_vals = ", ".join(
        f"('{qid}', {i + 1}, '{t}')"
        for qid, text in PHRASE_SUGGEST_QUERIES
        for i, t in enumerate(
            [x for x in _re.split("[^a-z0-9]+", text.lower()) if x]
        )
    )
    _chan0 = repr(_math.log10(0.95))
    _chan1 = repr(_math.log10(1.0 - 0.95))
    sql["phrase_suggest"] = f"""
WITH RECURSIVE
pdt AS (
  SELECT list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     t -> t <> '') AS toks
  FROM documents
),
pdn AS (SELECT toks FROM pdt WHERE len(toks) > 0),
puni AS (
  SELECT t.term, CAST(COUNT(*) AS DOUBLE) AS cnt
  FROM pdn, UNNEST(pdn.toks) AS t(term) GROUP BY t.term
),
ptot AS (SELECT SUM(cnt) AS n, CAST(COUNT(*) AS DOUBLE) AS v FROM puni),
pbi AS (
  SELECT toks[CAST(u.i AS INTEGER)] AS w1,
         toks[CAST(u.i AS INTEGER) + 1] AS w2,
         CAST(COUNT(*) AS DOUBLE) AS bcnt
  FROM pdn, UNNEST(range(1, len(toks))) AS u(i)
  GROUP BY w1, w2
),
pqtok(query_id, pos, token) AS (VALUES {_pq_vals}),
ptyped AS (SELECT DISTINCT token FROM pqtok),
pcorr AS (
  SELECT token, term AS cand,
         CAST(levenshtein(term, token) AS INTEGER) AS edits, cnt,
         ROW_NUMBER() OVER (
           PARTITION BY token
           ORDER BY levenshtein(term, token) ASC, cnt DESC, term ASC
         ) AS r
  FROM puni JOIN ptyped
    ON substr(term, 1, 1) = substr(token, 1, 1)
   AND term <> token
   AND len(term) >= len(token) - 1 AND len(term) <= len(token) + 1
   AND levenshtein(term, token) <= 1
),
pself AS (
  SELECT t.token, t.token AS cand, 0 AS edits, COALESCE(u.cnt, 0.0) AS cnt
  FROM ptyped t LEFT JOIN puni u ON u.term = t.token
),
ppool AS (
  SELECT token, cand, edits, cnt FROM pself
  UNION ALL
  SELECT token, cand, edits, cnt FROM pcorr WHERE r <= 3
),
pcands AS (
  SELECT q.query_id, q.pos, c.cand, c.cnt,
         CASE WHEN c.edits = 0 THEN {_chan0}
              ELSE c.edits * {_chan1} END AS chan
  FROM pqtok q JOIN ppool c ON c.token = q.token
),
pqlen AS (SELECT query_id, MAX(pos) AS plen FROM pqtok GROUP BY query_id),
pcombo AS (
  SELECT c.query_id, 1 AS pos, c.cand AS phrase, c.cand AS prev,
         log10((c.cnt + 0.5) / (ptot.n + 0.5 * ptot.v)) + c.chan AS ls
  FROM pcands c CROSS JOIN ptot WHERE c.pos = 1
  UNION ALL
  SELECT k.query_id, pcombo.pos + 1,
         pcombo.phrase || ' ' || k.cand, k.cand,
         pcombo.ls
         + log10(CASE WHEN b.bcnt IS NOT NULL THEN b.bcnt / up.cnt
                      ELSE 0.4 * ((k.cnt + 0.5)
                                  / (ptot.n + 0.5 * ptot.v)) END)
         + k.chan
  FROM pcombo
  JOIN pcands k ON k.query_id = pcombo.query_id
               AND k.pos = pcombo.pos + 1
  LEFT JOIN puni up ON up.term = pcombo.prev
  LEFT JOIN pbi b ON b.w1 = pcombo.prev AND b.w2 = k.cand
  CROSS JOIN ptot
),
pfinal AS (
  SELECT c.query_id, c.phrase, c.ls
  FROM pcombo c JOIN pqlen l
    ON l.query_id = c.query_id AND c.pos = l.plen
)
SELECT query_id, suggestion, score, rank FROM (
  SELECT query_id, phrase AS suggestion, ROUND(ls, 6) AS score,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY ls DESC, phrase ASC
         ) AS INTEGER) AS rank
  FROM pfinal
) WHERE rank <= 3
"""

    # knn with pre-filter: same cosine oracle over the restricted set
    sql["knn_filtered"] = """
WITH q AS (
  SELECT CAST(vec_id AS VARCHAR) AS query_id, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id < 5
),
c AS (
  SELECT CAST(vec_id AS VARCHAR) AS vec_id, CAST(embedding AS DOUBLE[]) AS cv
  FROM embeddings WHERE vec_id % 2 = 0
),
scored AS (
  SELECT q.query_id, c.vec_id, list_cosine_similarity(q.qv, c.cv) AS score
  FROM q CROSS JOIN c
),
ranked AS (
  SELECT query_id, vec_id, score,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id ASC) AS INTEGER) AS rank
  FROM scored
)
SELECT query_id, vec_id, ROUND(score, 6) AS score, rank FROM ranked WHERE rank <= 10
"""

    # ES match_bool_prefix: BM25 term clauses for all but the last token,
    # constant-score 1.0 for any doc matching a capped prefix expansion
    # of the last token, summed per doc — both clause families rebuilt
    # from the raw corpus
    _bp_vals = ", ".join(f"('{q}', '{t}')" for q, t in BOOL_PREFIX_QUERIES)
    sql["match_bool_prefix"] = f"""
WITH {_EXPAND_PRELUDE},
bq(query_id, text) AS (VALUES {_bp_vals}),
bts AS (
  SELECT query_id,
         list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                     t -> t <> '') AS ts
  FROM bq
),
blast AS (
  SELECT query_id, ts[len(ts)] AS prefix FROM bts WHERE len(ts) > 0
),
bfull AS (
  SELECT query_id, ts[CAST(u.i AS INTEGER)] AS term,
         CAST(COUNT(*) AS DOUBLE) AS qtf
  FROM bts, UNNEST(range(1, len(ts))) AS u(i)
  GROUP BY query_id, term
),
btermscore AS (
  SELECT b.query_id, tf.doc_id,
         SUM(b.qtf
             * ln(1 + (g.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
             * tf.tf / (tf.tf + {K1} * (1 - {B} + {B} * dl.doclen / g.avgdl))
         ) AS s
  FROM tf
  JOIN bfull b ON b.term = tf.term
  JOIN dl ON dl.doc_id = tf.doc_id
  JOIN dfreq ON dfreq.term = tf.term
  CROSS JOIN g
  GROUP BY b.query_id, tf.doc_id
),
bexp AS (
  SELECT query_id, term FROM (
    SELECT bl.query_id, d.term,
           ROW_NUMBER() OVER (
             PARTITION BY bl.query_id, bl.prefix
             ORDER BY d.df DESC, d.term ASC
           ) AS r
    FROM blast bl JOIN dfreq d ON d.term LIKE bl.prefix || '%'
  ) WHERE r <= {PREFIX_MAX_EXP}
),
bpdocs AS (
  SELECT DISTINCT e.query_id, tf.doc_id
  FROM bexp e JOIN tf ON tf.term = e.term
),
bscored AS (
  SELECT query_id, doc_id, SUM(s) AS score FROM (
    SELECT query_id, doc_id, s FROM btermscore
    UNION ALL
    SELECT query_id, doc_id, 1.0 AS s FROM bpdocs
  ) GROUP BY query_id, doc_id
)
SELECT query_id, doc_id, ROUND(score, 6) AS score, rank FROM (
  SELECT query_id, doc_id, score,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY score DESC, doc_id ASC
         ) AS INTEGER) AS rank
  FROM bscored
) WHERE rank <= 10
"""

    # ES frequent_item_sets: the apriori lattice replayed level by level —
    # same items, same lexicographic extension, same >= support gates
    sql["frequent_itemsets"] = """
WITH fis_items AS (
  SELECT DISTINCT CAST(doc_id AS VARCHAR) AS txn, item FROM (
    SELECT doc_id, 'lang:' || lang AS item FROM documents WHERE lang IS NOT NULL
    UNION ALL
    SELECT doc_id, 'source:' || source FROM documents WHERE source IS NOT NULL
    UNION ALL
    SELECT doc_id, 'size:' || CAST(n_chars // 200 AS VARCHAR) FROM documents
    WHERE n_chars IS NOT NULL
  )
),
fis_n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n FROM documents),
f1 AS (
  SELECT item, CAST(COUNT(*) AS BIGINT) AS dc FROM fis_items GROUP BY item
  HAVING COUNT(*) >= (SELECT 0.05 * n FROM fis_n)
),
fitems AS (SELECT i.txn, i.item FROM fis_items i JOIN f1 ON f1.item = i.item),
s2 AS (
  SELECT a.txn, a.item AS i1, b.item AS i2
  FROM fitems a JOIN fitems b ON b.txn = a.txn AND b.item > a.item
),
f2 AS (
  SELECT i1, i2, CAST(COUNT(*) AS BIGINT) AS dc
  FROM s2 GROUP BY i1, i2
  HAVING COUNT(*) >= (SELECT 0.05 * n FROM fis_n)
),
s3 AS (
  SELECT s.txn, s.i1, s.i2, c.item AS i3
  FROM s2 s
  JOIN f2 ON f2.i1 = s.i1 AND f2.i2 = s.i2
  JOIN fitems c ON c.txn = s.txn AND c.item > s.i2
),
f3 AS (
  SELECT i1, i2, i3, CAST(COUNT(*) AS BIGINT) AS dc
  FROM s3 GROUP BY i1, i2, i3
  HAVING COUNT(*) >= (SELECT 0.05 * n FROM fis_n)
),
allsets AS (
  SELECT item AS items, 1 AS set_size, dc FROM f1
  UNION ALL SELECT i1 || ',' || i2, 2, dc FROM f2
  UNION ALL SELECT i1 || ',' || i2 || ',' || i3, 3, dc FROM f3
)
SELECT items, set_size, doc_count, ROUND(support, 6) AS support, rank FROM (
  SELECT items, CAST(set_size AS INTEGER) AS set_size, dc AS doc_count,
         dc / (SELECT n FROM fis_n) AS support,
         CAST(ROW_NUMBER() OVER (ORDER BY dc DESC, items ASC) AS INTEGER) AS rank
  FROM allsets
) WHERE rank <= 15
"""

    # ES moving_percentiles: exact window quantiles over the moving_fn
    # frame (3 strictly before), NULL on empty frames
    sql["facet_moving_percentiles"] = f"""
WITH {_DH_CTES}
SELECT query_id, bucket, n_docs,
       ROUND(quantile_cont(CAST(n_docs AS DOUBLE), 0.25) OVER fr, 6) AS p25,
       ROUND(quantile_cont(CAST(n_docs AS DOUBLE), 0.50) OVER fr, 6) AS p50,
       ROUND(quantile_cont(CAST(n_docs AS DOUBLE), 0.75) OVER fr, 6) AS p75
FROM dhist
WINDOW fr AS (PARTITION BY query_id ORDER BY bucket
              ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING)
"""

    # ES change_point (step-change subset): prefix-sum SSE split replica —
    # same argmax (ratio desc, earliest i), same min_segment=2/threshold=0.5
    sql["facet_change_point"] = f"""
WITH {_DH_CTES},
cpd AS (
  SELECT query_id,
         ROW_NUMBER() OVER seq AS i,
         SUM(CAST(n_docs AS DOUBLE)) OVER cum AS cs,
         SUM(CAST(n_docs AS DOUBLE) * CAST(n_docs AS DOUBLE)) OVER cum AS cs2,
         COUNT(*) OVER grp AS n,
         SUM(CAST(n_docs AS DOUBLE)) OVER grp AS s,
         SUM(CAST(n_docs AS DOUBLE) * CAST(n_docs AS DOUBLE)) OVER grp AS s2,
         LEAD(bucket) OVER seq AS nxt
  FROM dhist
  WINDOW seq AS (PARTITION BY query_id ORDER BY bucket),
         cum AS (PARTITION BY query_id ORDER BY bucket
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         grp AS (PARTITION BY query_id)
),
cpc AS (
  SELECT query_id, i, n, nxt,
         CASE WHEN i >= 2 AND n - i >= 2 AND (s2 - s * s / n) > 0 THEN
           ((s2 - s * s / n) - (cs2 - cs * cs / i)
            - ((s2 - cs2) - (s - cs) * (s - cs) / (n - i))) / (s2 - s * s / n)
         END AS ratio,
         cs / i AS lmean,
         CASE WHEN n > i THEN (s - cs) / (n - i) END AS rmean
  FROM cpd
),
cpb AS (
  SELECT *,
         CASE WHEN n < 4 THEN 'indeterminable'
              WHEN ratio IS NULL OR ratio < 0.5 THEN 'stationary'
              ELSE 'step_change' END AS type
  FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY query_id ORDER BY ratio DESC NULLS LAST, i ASC) AS r
    FROM cpc
  ) WHERE r = 1
)
SELECT query_id, type,
       CASE WHEN type = 'step_change' THEN nxt END AS change_bucket,
       ROUND(CASE WHEN type = 'step_change' THEN lmean END, 6) AS left_mean,
       ROUND(CASE WHEN type = 'step_change' THEN rmean END, 6) AS right_mean,
       ROUND(CASE WHEN type = 'step_change' THEN ratio END, 6) AS reduction_ratio
FROM cpb
"""

    # index-time synonyms: the contraction replayed as a CASE over doc
    # tokens; query terms hand-mapped under the same groups
    sql["bm25_topk_synonyms"] = f"""
WITH syn_tok AS (
  SELECT CAST(d.doc_id AS VARCHAR) AS doc_id,
         CASE t.term WHEN 'big' THEN 'large' WHEN 'huge' THEN 'large'
                     WHEN 'fast' THEN 'rapid' WHEN 'quick' THEN 'rapid'
                     ELSE t.term END AS term
  FROM documents d,
       UNNEST(regexp_split_to_array(lower(d.text), '[^a-z0-9]+')) AS t(term)
  WHERE t.term <> ''
),
syn_tf AS (SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf
           FROM syn_tok GROUP BY doc_id, term),
syn_dl AS (SELECT doc_id, CAST(COUNT(*) AS DOUBLE) AS doclen
           FROM syn_tok GROUP BY doc_id),
syn_g AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(doclen) AS avgdl
          FROM syn_dl),
syn_df AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df
           FROM syn_tf GROUP BY term),
syn_q(query_id, term, qtf) AS (VALUES
  ('sy0', 'large', 1.0), ('sy0', 'table', 1.0),
  ('sy1', 'rapid', 1.0), ('sy1', 'merge', 1.0),
  ('sy2', 'rapid', 1.0), ('sy2', 'scan', 1.0), ('sy2', 'value', 1.0)),
syn_scored AS (
  SELECT q.query_id, tf.doc_id,
         SUM(q.qtf
             * ln(1 + (g.n_docs - df.df + 0.5) / (df.df + 0.5))
             * tf.tf / (tf.tf + {K1} * (1 - {B} + {B} * dl.doclen / g.avgdl))) AS score
  FROM syn_tf tf
  JOIN syn_q q ON q.term = tf.term
  JOIN syn_dl dl ON dl.doc_id = tf.doc_id
  JOIN syn_df df ON df.term = tf.term
  CROSS JOIN syn_g g
  GROUP BY q.query_id, tf.doc_id
)
SELECT query_id, doc_id, ROUND(score, 6) AS score, rank FROM (
  SELECT query_id, doc_id, score,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY score DESC, doc_id ASC
         ) AS INTEGER) AS rank
  FROM syn_scored
) WHERE rank <= 10
"""

    # ES date_histogram time_zone/offset: +05:30 pinned as interval
    # arithmetic, +6h boundary shift per the ES start rule
    sql["facet_date_histogram_tz"] = f"""
WITH {_BM25_CTES},
dz10 AS (SELECT query_id, doc_id FROM run WHERE rank <= 10),
dzts AS (
  SELECT CAST(d.doc_id AS VARCHAR) AS doc_id,
         TIMESTAMP '2024-01-01 00:00:00'
           + CAST(d.doc_id AS BIGINT) * INTERVAL 7 HOUR
           + INTERVAL 330 MINUTE AS lts
  FROM documents d
)
SELECT r.query_id, 'warc_ts' AS facet,
       strftime(
         date_trunc('day', t.lts - INTERVAL 6 HOUR) + INTERVAL 6 HOUR,
         '%Y-%m-%d %H:%M:%S') AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM dz10 r JOIN dzts t ON t.doc_id = r.doc_id
GROUP BY r.query_id, bucket
"""

    # ES geo_line: same synthetic coordinates, same cap-before-pack rule
    sql["geo_line"] = """
WITH gl_pts AS (
  SELECT CAST(c_custkey AS BIGINT) AS cid,
         CAST(CAST(c_custkey AS BIGINT) // 30 AS INTEGER) AS bucket,
         ((CAST(c_custkey AS BIGINT) * 37) % 16000) / 100.0 - 80.0 AS lat,
         ((CAST(c_custkey AS BIGINT) * 7919) % 36000) / 100.0 - 180.0 AS lon
  FROM customer WHERE CAST(c_custkey AS BIGINT) <= 100
),
gl_rk AS (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY cid, lon, lat) AS r,
         COUNT(*) OVER (PARTITION BY bucket) AS n
  FROM gl_pts
)
SELECT bucket,
       'LINESTRING (' || string_agg(
         printf('%.2f %.2f', lon, lat), ', ' ORDER BY cid, lon, lat
       ) || ')' AS line,
       CAST(COUNT(*) AS INTEGER) AS n_points,
       MAX(n) <= 20 AS complete
FROM gl_rk WHERE r <= 20 GROUP BY bucket
"""

    # ES ip_range: bounds recomputed independently with ipaddress (the
    # engine compiles its own); same from-inclusive/to-exclusive rule
    import ipaddress as _ipa

    def _ipl(s):
        return int(_ipa.IPv4Address(s))

    _ipr_rows = []
    for _m in ("10.0.0.0/16", "10.1.0.0/16"):
        _net = _ipa.ip_network(_m)
        _ipr_rows.append(
            (_m, int(_net.network_address), int(_net.broadcast_address) + 1)
        )
    _ipr_rows.append(
        ("10.2.0.0..10.2.128.0", _ipl("10.2.0.0"), _ipl("10.2.128.0"))
    )
    _ipr_rows.append(("10.2.128.0..*", _ipl("10.2.128.0"), 1 << 32))
    _ipr_vals = ", ".join(
        f"('{b}', {lo}, {hi})" for b, lo, hi in _ipr_rows
    )
    sql["facet_ip_range"] = f"""
WITH {_BM25_CTES},
ipr10 AS (SELECT query_id, doc_id FROM run WHERE rank <= 10),
ipd AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id,
         CASE WHEN CAST(doc_id AS BIGINT) = 7 THEN 'not.an.ip.addr'
              ELSE '10.' || CAST(CAST(doc_id AS BIGINT) % 3 AS VARCHAR)
                   || '.' || CAST(CAST(doc_id AS BIGINT) % 256 AS VARCHAR)
                   || '.' || CAST((CAST(doc_id AS BIGINT) * 7) % 256 AS VARCHAR)
         END AS ip
  FROM documents
),
ipnum AS (
  SELECT doc_id,
         CASE WHEN regexp_matches(ip, '^[0-9]+(\\.[0-9]+){{3}}$')
                   AND CAST(split_part(ip, '.', 1) AS BIGINT) <= 255
                   AND CAST(split_part(ip, '.', 2) AS BIGINT) <= 255
                   AND CAST(split_part(ip, '.', 3) AS BIGINT) <= 255
                   AND CAST(split_part(ip, '.', 4) AS BIGINT) <= 255
              THEN CAST(split_part(ip, '.', 1) AS BIGINT) * 16777216
                   + CAST(split_part(ip, '.', 2) AS BIGINT) * 65536
                   + CAST(split_part(ip, '.', 3) AS BIGINT) * 256
                   + CAST(split_part(ip, '.', 4) AS BIGINT)
         END AS num
  FROM ipd
),
ipranges(bucket, lo, hi) AS (VALUES {_ipr_vals}),
ipcnt AS (
  SELECT r.query_id, g.bucket, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM ipr10 r
  JOIN ipnum n ON n.doc_id = r.doc_id
  JOIN ipranges g ON n.num >= g.lo AND n.num < g.hi
  GROUP BY 1, 2
)
SELECT q.query_id, rg.bucket,
       CAST(COALESCE(c.n_docs, 0) AS BIGINT) AS n_docs
FROM (SELECT DISTINCT query_id FROM ipr10) q
CROSS JOIN ipranges rg
LEFT JOIN ipcnt c ON c.query_id = q.query_id AND c.bucket = rg.bucket
"""

    # ES bucket_count_ks_test: prefix-sum CDF distances vs uniform
    sql["facet_ks_test"] = f"""
WITH {_DH_CTES},
ks AS (
  SELECT query_id,
         SUM(CAST(n_docs AS DOUBLE)) OVER cum
           / SUM(CAST(n_docs AS DOUBLE)) OVER grp AS ca,
         CAST(ROW_NUMBER() OVER seq AS DOUBLE)
           / CAST(COUNT(*) OVER grp AS DOUBLE) AS ce
  FROM dhist
  WINDOW seq AS (PARTITION BY query_id ORDER BY bucket),
         cum AS (PARTITION BY query_id ORDER BY bucket
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         grp AS (PARTITION BY query_id)
)
SELECT query_id,
       CAST(COUNT(*) AS INTEGER) AS n_buckets,
       ROUND(GREATEST(MAX(ca - ce), 0.0), 6) AS d_greater,
       ROUND(GREATEST(MAX(ce - ca), 0.0), 6) AS d_less,
       ROUND(MAX(ABS(ca - ce)), 6) AS d_two_sided
FROM ks GROUP BY query_id
"""

    # ES categorize_text: exact token-pattern categorization replica —
    # same templates, same digit-token stripping, same min_doc_count=3
    sql["categorize_text"] = """
WITH ct_src AS (
  SELECT CASE
    WHEN CAST(doc_id AS BIGINT) = 42 THEN 'weird singleton glitch'
    WHEN CAST(doc_id AS BIGINT) % 97 = 0 THEN
      'backup job ' || CAST(doc_id AS VARCHAR) || ' finished'
    WHEN CAST(doc_id AS BIGINT) % 4 = 0 THEN
      'GET /api/users/' || CAST(doc_id AS VARCHAR) || ' returned 200 in '
      || CAST((CAST(doc_id AS BIGINT) * 13) % 997 AS VARCHAR) || ' ms'
    WHEN CAST(doc_id AS BIGINT) % 4 = 1 THEN
      'POST /api/orders/' || CAST(doc_id AS VARCHAR) || ' failed with error '
      || CAST(CAST(doc_id AS BIGINT) % 7 AS VARCHAR)
    WHEN CAST(doc_id AS BIGINT) % 4 = 2 THEN
      'cache miss for key k' || CAST(doc_id AS VARCHAR) || ' after '
      || CAST(CAST(doc_id AS BIGINT) % 5 AS VARCHAR) || ' lookups'
    ELSE 'connection to host' || CAST(doc_id AS VARCHAR) || ' timed out'
  END AS msg FROM documents
),
ct_tok AS (
  SELECT list_filter(
           regexp_split_to_array(lower(msg), '[^a-z0-9]+'),
           t -> t <> '' AND NOT regexp_matches(t, '[0-9]')) AS toks
  FROM ct_src
),
ct_cat AS (
  SELECT array_to_string(toks, ' ') AS category,
         CAST(len(toks) AS INTEGER) AS n_tokens,
         CAST(COUNT(*) AS BIGINT) AS doc_count
  FROM ct_tok GROUP BY 1, 2 HAVING COUNT(*) >= 3
)
SELECT category, n_tokens, doc_count,
       CAST(ROW_NUMBER() OVER (
         ORDER BY doc_count DESC, category ASC) AS INTEGER) AS rank
FROM ct_cat
"""

    # the fielded-index entries produce the SAME answers as the ad-hoc
    # multi-field surfaces (row-identity pinned in tests/test_round4n.py);
    # sharing the oracle makes the per-field packed-index path — build,
    # per-field postings decode, blended rescale — DuckDB-checked too
    sql["dismax_indexed"] = sql["dismax"]
    sql["cross_fields_indexed"] = sql["cross_fields"]
    # the index-sorted early-terminated path must answer identically to
    # the attribute-join surface — sharing the oracle checks the whole
    # ordinal re-keying + block-cap machinery against DuckDB
    sql["sorted_search_indexed"] = sql["sorted_search"]

    return sql
