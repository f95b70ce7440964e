"""Percolation — reverse search: a REGISTERED set of boolean queries is
matched against a stream of incoming documents (the ES percolator /
Luwak "stored query" surface; alerting, saved searches, routing rules).
Reference counterpart: none in-repo — the reference always searches docs
with ad-hoc queries; percolation inverts which side is data and which is
predicate, the missing half of a serving story where `search` is the
forward half.

Semantics (mirrors query/boolean.py's Lucene-compatible roles, evaluated
against the DOCUMENT's term set instead of the index vocabulary):
  * MUST     — every distinct must term occurs in the doc. An empty must
               role imposes nothing.
  * SHOULD   — if the query has NO must terms, at least one should term
               must occur (Lucene's pure-disjunction rule); otherwise
               should terms only feed min_should_match.
  * MUST_NOT — a doc containing any must_not term never matches.
  * min_should_match — additionally require >= this many DISTINCT should
               terms present (0 = off). A term in both must and should
               merges into must and leaves the quota (deduped-builder
               behavior, same as search_boolean).
  * a query with no must AND no should terms matches nothing (a pure
    exclusion rule is unsatisfiable as a match predicate).

Plan (docs never shuffle on their own bulk):
  stored queries ─tokenize 3 roles─► (query_id, term, role) + per-query
    required counts, BROADCAST (stored-query sets are rule tables —
    thousands, not billions)
  docs ─tokenize once─► explode DISTINCT (doc_id, term)
       ─broadcast join role table─► groupBy (doc_id, query_id):
          n_must_hit, n_should_hit, n_not_hit
       ─filter to the role contract─► (doc_id, query_id)
The only shuffle is the (doc_id, query_id) aggregate, bounded by
Σ per-doc distinct terms that appear in ANY rule — the broadcast join
prunes every other token map-side, so a 100 TB doc stream pays one
map-side-combined aggregate over its rule-relevant tokens only.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from openmatch_spark.analysis import tokenize_col
from openmatch_spark.functions.localrel import inline_table


def _role_table(stored: DataFrame, analyzer: str) -> DataFrame:
    """(query_id, term, is_must, is_should, is_not) — one row per distinct
    (query, term, role); must∩should merged into must."""
    parts = []
    for role, m, s, n in (("must", 1, 0, 0), ("should", 0, 1, 0), ("must_not", 0, 0, 1)):
        parts.append(
            stored.select(
                F.col("query_id").cast("string").alias("query_id"),
                F.explode(tokenize_col(F.col(role), analyzer)).alias("term"),
                F.lit(m).alias("is_must"),
                F.lit(s).alias("is_should"),
                F.lit(n).alias("is_not"),
            ).distinct()
        )
    tagged = parts[0].unionByName(parts[1]).unionByName(parts[2])
    return tagged.groupBy("query_id", "term").agg(
        F.max("is_must").alias("is_must"),
        F.max("is_should").alias("is_should"),
        F.max("is_not").alias("is_not"),
    ).select(
        "query_id",
        "term",
        "is_must",
        # must wins over should: a merged term is a must clause only
        (F.col("is_should") * (1 - F.col("is_must"))).alias("is_should"),
        "is_not",
    )


def _phrase_hits(
    docs: DataFrame,
    phrases: DataFrame,
    analyzer: str,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """(doc_id, query_id) for every doc containing a rule's phrase as
    CONSECUTIVE analyzed tokens — the offset-adjacency check phrase
    search uses, against the doc's own token positions instead of the
    positional sidecar. phrases: (query_id, phrase-text), non-empty."""
    offs = phrases.select(
        "query_id",
        F.posexplode(tokenize_col(F.col("phrase"), analyzer)).alias(
            "off", "term"
        ),
    ).withColumn("off", F.col("off").cast("long"))
    plen = offs.groupBy("query_id").agg(F.count(F.lit(1)).alias("plen"))
    doc_pos = docs.select(
        F.col(id_col).cast("string").alias("doc_id"),
        F.posexplode(tokenize_col(F.col(text_col), analyzer)).alias(
            "pos", "term"
        ),
    ).withColumn("pos", F.col("pos").cast("long"))
    return (
        doc_pos.join(F.broadcast(offs), "term")
        .groupBy(
            "doc_id", "query_id", (F.col("pos") - F.col("off")).alias("adj")
        )
        .agg(F.count_distinct("off").alias("n_off"))
        .join(F.broadcast(plen), "query_id")
        .where(F.col("n_off") == F.col("plen"))
        .select("doc_id", "query_id")
        .distinct()
    )


def _apply_rule_filters(
    matched: DataFrame,
    docs: DataFrame,
    stored: DataFrame | None,
    id_col: str,
    frules: list[tuple[str, str]] | None = None,
) -> DataFrame:
    """Gate matches on the rules' filter-context predicates (module
    docstring `filter` column). Distinct predicate JSONs compile ONCE
    (fid = predicate id, exactly the DSL executor's dedup discipline);
    the doc side pays one projection pass per distinct predicate, never
    a shuffle of its own bulk. frules: precollected (query_id, filter)
    rows (compile_rules); when None they are collected from `stored`."""
    import json

    from openmatch_spark.query.dsl import _filter_leaf, _filter_sql

    if frules is None:
        frules = [
            (str(r["query_id"]), r["filter"])
            for r in stored.select(
                F.col("query_id").cast("string").alias("query_id"), "filter"
            ).collect()
            if r["filter"] is not None and str(r["filter"]).strip()
        ]
    if not frules:
        return matched
    doc_cols = tuple(c for c in docs.columns if c != id_col)
    fids: dict = {}
    qmap_rows = []
    for qid, raw in sorted(frules):
        try:
            leaves = json.loads(raw)
        except ValueError as e:
            raise ValueError(
                f"rule {qid!r}: filter must be a JSON array of "
                f"filter-context leaves: {e}"
            ) from e
        if not isinstance(leaves, list) or not leaves:
            raise ValueError(
                f"rule {qid!r}: filter must be a non-empty JSON array"
            )
        specs = []
        for leaf in leaves:
            if not isinstance(leaf, dict) or len(leaf) != 1:
                raise ValueError(
                    f"rule {qid!r}: filter leaves are single-key query "
                    f"dicts, got {leaf!r}"
                )
            kind, body = next(iter(leaf.items()))
            specs.append(_filter_leaf(kind, body))
        sql = " AND ".join(
            f"({_filter_sql(s, doc_cols)})" for s in specs
        )
        qmap_rows.append((qid, fids.setdefault(sql, len(fids))))
    spark = docs.sparkSession
    allowed = None
    for sql, fid in sorted(fids.items(), key=lambda kv: kv[1]):
        a = docs.where(F.expr(sql)).select(
            F.col(id_col).cast("string").alias("doc_id"),
            F.lit(fid).cast("int").alias("fid"),
        )
        allowed = a if allowed is None else allowed.unionByName(a)
    qmap = F.broadcast(
        inline_table(spark, qmap_rows, "query_id string, fid int")
    )
    # single pass over `matched` (its lineage holds the doc-bulk tokenize +
    # aggregate; the former anti-branch ∪ semi-branch referenced it twice
    # and the whole doc subtree executed twice per batch — measured as the
    # two dominant stages of the 100k percolation leg). A left join against
    # qmap tags each match with its rule's predicate id (null = ungated);
    # a left join against the pass-set plus one filter keeps exactly the
    # old anti ∪ semi row set: fid null -> kept, fid hit -> kept, fid
    # miss -> dropped. No join can fan out (qmap: one row per query_id,
    # allowed: one row per (doc_id, fid)).
    return (
        matched.join(qmap, "query_id", "left")
        .join(
            allowed.withColumn("_fok", F.lit(1)), ["doc_id", "fid"], "left"
        )
        .where(F.col("fid").isNull() | F.col("_fok").isNotNull())
        .drop("fid", "_fok")
    )


class CompiledRules:
    """Driver-compiled percolation rule tables: tokenized role terms,
    per-rule requirement counts, phrase rows, filter rules. Rule tables
    are driver-sized by contract (thousands, not billions — the filter
    gate already collects them), so a serving stream compiles its STATIC
    rule set once and every micro-batch builds pure-JVM inline tables
    from these rows instead of re-running the rule-side tokenize jobs
    and pickled-RDD table builds per batch. `analyzer` is the one the role
    terms were tokenized with; percolate() refuses any other (docs
    tokenized differently would silently miss every term)."""

    __slots__ = ("analyzer", "roles", "req", "mph", "nph", "frules")

    def __init__(self, analyzer, roles, req, mph, nph, frules):
        self.analyzer = analyzer
        self.roles = roles
        self.req = req
        self.mph = mph
        self.nph = nph
        self.frules = frules


def compile_rules(stored: DataFrame, analyzer: str = "simple") -> CompiledRules:
    """Collect + tokenize the rule table once, driver-side (same kernel
    semantics as the distributed role table: per-role DISTINCT terms,
    must∩should merged into must; phrase rows kept only when the phrase
    analyzes to >= 1 token; filter rows kept only when non-blank). A NULL
    query_id rule is skipped: the distributed path casts it to NULL, which
    never survives the query_id equi-join, so it can never match."""
    from openmatch_spark.analysis import tokenize_py

    cols = set(stored.columns)
    rows = stored.collect()
    must_t: dict[str, set] = {}
    should_t: dict[str, set] = {}
    not_t: dict[str, set] = {}
    mph_rows: list[tuple[str, str]] = []
    nph_rows: list[tuple[str, str]] = []
    frules: list[tuple[str, str]] = []
    for r in rows:
        if r["query_id"] is None:
            continue
        qid = str(r["query_id"])
        must_t.setdefault(qid, set()).update(tokenize_py(r["must"], analyzer))
        should_t.setdefault(qid, set()).update(
            tokenize_py(r["should"], analyzer)
        )
        not_t.setdefault(qid, set()).update(
            tokenize_py(r["must_not"], analyzer)
        )
        if "must_phrase" in cols and tokenize_py(r["must_phrase"], analyzer):
            mph_rows.append((qid, r["must_phrase"]))
        if "not_phrase" in cols and tokenize_py(r["not_phrase"], analyzer):
            nph_rows.append((qid, r["not_phrase"]))
        if (
            "filter" in cols
            and r["filter"] is not None
            and str(r["filter"]).strip()
        ):
            frules.append((qid, r["filter"]))
    roles_rows = []
    for qid in sorted(must_t):
        m, s, n = must_t[qid], should_t[qid], not_t[qid]
        for term in sorted(m | s | n):
            roles_rows.append(
                (qid, term, int(term in m),
                 int(term in s and term not in m), int(term in n))
            )
    mph_qids = {q for q, _ in mph_rows}
    req_rows = [
        (qid, len(must_t[qid]), len(should_t[qid] - must_t[qid]),
         int(qid in mph_qids))
        for qid in sorted(must_t)
    ]
    return CompiledRules(
        analyzer, roles_rows, req_rows, mph_rows, nph_rows, frules
    )


def percolate(
    docs: DataFrame,
    stored: DataFrame,
    analyzer: str = "simple",
    min_should_match: int = 0,
    id_col: str = "doc_id",
    text_col: str = "text",
    compiled: CompiledRules | None = None,
) -> DataFrame:
    """(doc_id, query_id, n_must, n_should) — one row per (document,
    stored query) MATCH under the module-doc role contract.

    docs: (doc_id, text). stored: (query_id, must, should, must_not) —
    free-text role fields tokenized with ``analyzer`` (use the same
    analyzer the forward index uses so percolation and search agree on
    term identity); NULL/empty roles allowed.

    stored may also carry PHRASE rule columns (the ES percolator's
    match_phrase leaves, each optional, NULL/empty = absent):
      * must_phrase — the text must occur as CONSECUTIVE analyzed tokens
        in the doc (a must clause; a rule may be phrase-only);
      * not_phrase  — a doc containing the phrase contiguously never
        matches (occurrence-level exclusion — its terms scattered
        non-adjacently do NOT exclude).
    Docs pay the positional explode only when phrase rules exist; the
    adjacency check is phrase search's offset trick against the doc's
    own positions (one bounded (doc, query, alignment) aggregate).

    stored may also carry a FILTER-context column (the ES percolator
    document-metadata gate — "term X AND lang=en" routing rules):
      * filter — a JSON array of filter-context leaves in the Query-DSL
        shape (query/dsl.py bool.filter: term/terms/range/exists/prefix/
        wildcard), e.g. '[{"term": {"lang": "en"}},
        {"range": {"n_chars": {"gte": 100}}}]'. Fields name DOC columns
        (the doc frame IS the doc-values store here); an unknown field
        raises loudly. NULL/empty = ungated. A rule must still carry at
        least one term/phrase clause (a filter-only rule would match a
        corpus-sized constant set — same refusal as the DSL surface).
    Plan: the DISTINCT predicate set (tiny — it rides the rule table)
    compiles to SQL fragments evaluated in ONE column-pruned pass over
    the docs, producing (doc_id, fid) pass rows; matches for gated rules
    semi-join that set. Docs never shuffle for the gate."""
    if compiled is not None:
        if compiled.analyzer != analyzer:
            raise ValueError(
                f"rules compiled with analyzer {compiled.analyzer!r}, "
                f"percolate called with {analyzer!r}"
            )
        # serving path: the static rule set was compiled ONCE (driver-side
        # rows); every batch builds pure-JVM inline tables — no rule-side
        # tokenize jobs, no isEmpty probes, no pickled-RDD scans per batch
        spark = docs.sparkSession
        roles = inline_table(
            spark, compiled.roles,
            "query_id string, term string, is_must int, is_should int,"
            " is_not int",
        )
        req = inline_table(
            spark, compiled.req,
            "query_id string, req_must bigint, n_should_avail bigint,"
            " req_phrase int",
        )
        mph = (
            inline_table(spark, compiled.mph, "query_id string, phrase string")
            if compiled.mph else None
        )
        nph = (
            inline_table(spark, compiled.nph, "query_id string, phrase string")
            if compiled.nph else None
        )
        frules = compiled.frules
    else:
        roles = _role_table(stored, analyzer)
        # the rule universe comes from `stored` itself — a phrase-only rule
        # has no role terms and must still own a req row
        req = (
            stored.select(F.col("query_id").cast("string").alias("query_id"))
            .distinct()
            .join(
                roles.groupBy("query_id").agg(
                    F.sum("is_must").alias("req_must"),
                    F.sum("is_should").alias("n_should_avail"),
                ),
                "query_id",
                "left",
            )
            .fillna({"req_must": 0, "n_should_avail": 0})
        )
        cols = set(stored.columns)
        frules = None
        mph = (
            stored.select(
                F.col("query_id").cast("string").alias("query_id"),
                F.col("must_phrase").alias("phrase"),
            ).where(F.size(tokenize_col(F.col("phrase"), analyzer)) > 0)
            if "must_phrase" in cols else None
        )
        nph = (
            stored.select(
                F.col("query_id").cast("string").alias("query_id"),
                F.col("not_phrase").alias("phrase"),
            ).where(F.size(tokenize_col(F.col("phrase"), analyzer)) > 0)
            if "not_phrase" in cols else None
        )
        if nph is not None and nph.isEmpty():
            nph = None
        if mph is not None and not mph.isEmpty():
            has_mph = mph.select(
                "query_id", F.lit(1).alias("req_phrase")
            ).distinct()
            req = req.join(has_mph, "query_id", "left").fillna(
                {"req_phrase": 0}
            )
        else:
            mph = None
            req = req.withColumn("req_phrase", F.lit(0))
    # rules table is small by contract: broadcast both sides of it
    doc_terms = docs.select(
        F.col(id_col).cast("string").alias("doc_id"),
        F.explode(F.array_distinct(tokenize_col(F.col(text_col), analyzer))).alias(
            "term"
        ),
    )
    hits = (
        doc_terms.join(F.broadcast(roles), "term")
        .groupBy("doc_id", "query_id")
        .agg(
            F.sum("is_must").alias("n_must"),
            F.sum("is_should").alias("n_should"),
            F.sum("is_not").alias("n_not"),
        )
    )
    if mph is not None:
        ph = _phrase_hits(docs, mph, analyzer, id_col, text_col)
        hits = hits.join(
            ph.withColumn("phrase_hit", F.lit(1)),
            ["doc_id", "query_id"], "full_outer",
        ).fillna({"n_must": 0, "n_should": 0, "n_not": 0, "phrase_hit": 0})
    else:
        hits = hits.withColumn("phrase_hit", F.lit(0))
    hits = hits.join(F.broadcast(req), "query_id")
    matched = hits.where(
        (F.col("n_not") == 0)
        & (F.col("n_must") == F.col("req_must"))
        & (F.col("phrase_hit") >= F.col("req_phrase"))
        & (
            # pure-disjunction rule: no must terms and no must phrase ->
            # need >= 1 should hit
            (F.col("req_must") > 0) | (F.col("req_phrase") > 0)
            | (F.col("n_should") >= 1)
        )
        & (F.col("n_should") >= F.lit(min_should_match))
        # a rule with no scoring terms and no must phrase can never match
        & ((F.col("req_must") + F.col("n_should_avail")
            + F.col("req_phrase")) > 0)
    )
    if nph is not None:
        nhits = _phrase_hits(docs, nph, analyzer, id_col, text_col)
        matched = matched.join(nhits, ["doc_id", "query_id"], "left_anti")
    if frules is not None:
        if frules:
            matched = _apply_rule_filters(
                matched, docs, None, id_col, frules=frules
            )
    elif "filter" in cols:
        matched = _apply_rule_filters(matched, docs, stored, id_col)
    return matched.select(
        "doc_id",
        "query_id",
        F.col("n_must").cast("int").alias("n_must"),
        F.col("n_should").cast("int").alias("n_should"),
    )
