"""Term-expansion search surfaces: fuzzy (edit-distance) and prefix queries.

Lucene exposes these as FuzzyQuery / PrefixQuery: a multi-term query rewrites
to the matching vocabulary terms, each scored like a normal term. The Spark
shape here:

  queries ─tokenize (NO vocab filter: the misspelling IS the input)─►
      distinct query tokens (tiny, broadcast)
  dictionary ─one column-pruned scan ⋈ broadcast tokens─► variants
      fuzzy:  same prefix_len chars, length within ±max_edits, JVM
              levenshtein(term, qtoken) <= max_edits
      prefix: term STARTSWITH qtoken
      per-token cap: top max_expansions by (edit ASC,) df DESC, term ASC
  variants ─collect (bounded: tokens × max_expansions)─► weighted term list
  search_terms(...)  — the unchanged pruned-postings BM25 engine

Scoring: each variant contributes BM25(variant, doc) × qtf × 1/(1+edits)
(prefix: multiplier 1). Two query tokens expanding to the same variant sum
their weights, consistently with the engine's qtf-merge rule. Deterministic
end to end (the cap's ordering is total), so the whole surface is
DuckDB-oracle-checkable.

Scale: Lucene walks an FST automaton instead of scanning the dictionary;
here the dictionary scan is ONE vocabulary-bounded, column-pruned parallel
pass per query batch (vocab is ~1e7 rows even at 10^12 docs — postings
dwarf it by 5 orders of magnitude), and only the capped variant list
crosses to the driver. The expensive part — scoring — reuses the
bucket-pruned posting scan exactly like plain search.
"""

from __future__ import annotations

from collections import Counter

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from openmatch_spark.index.load import BM25Index
from openmatch_spark.query.bm25_search import search_terms
from openmatch_spark.functions.localrel import in_list, inline_table

EMPTY_RUN = "query_id string, doc_id string, score double, rank int"


def _query_tokens(
    index: BM25Index, queries: DataFrame,
    distributed_threshold: int | None = None,
) -> list:
    """[(query_id, token, qtf)] — tokenized with the index analyzer but NOT
    vocabulary-filtered (out-of-vocabulary tokens are exactly what fuzzy
    matching exists for). Delegates to query_term_counts, so batches above
    the engine-wide _DISTRIBUTED_TOKENIZE_MIN_QUERIES tokenize
    executor-side and only the aggregated (query_id, token, qtf) rows
    reach the driver — the same scale discipline as the plain path."""
    from openmatch_spark.query.bm25_search import (
        _DISTRIBUTED_TOKENIZE_MIN_QUERIES,
        query_term_counts,
    )

    if distributed_threshold is None:
        distributed_threshold = _DISTRIBUTED_TOKENIZE_MIN_QUERIES
    qtf = query_term_counts(
        queries, index.stats["analyzer"], distributed_threshold
    )
    return [(q, t, float(c)) for (q, t), c in sorted(qtf.items())]


def _lev(a: str, b: str) -> int:
    """Unit-cost Levenshtein distance — the same function Spark's
    `levenshtein` expression computes (insert/delete/substitute, cost 1),
    used by the driver-side expansion fast path so its edit distances are
    identical to the distributed dictionary scan's."""
    if a == b:
        return 0
    if len(a) < len(b):
        a, b = b, a
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def _prefix_upper(p: str) -> str | None:
    """Smallest string greater than every string with prefix p (for a
    sorted-vocabulary range cut); None when no such bound exists."""
    for i in range(len(p) - 1, -1, -1):
        if ord(p[i]) < 0x10FFFF:
            return p[:i] + chr(ord(p[i]) + 1)
    return None


def _like_to_regex(pat: str) -> str:
    """SQL LIKE pattern (backslash escape, the wildcard_to_like output
    contract) -> anchored Python regex source with identical match set."""
    import re as _re

    out, i = [], 0
    while i < len(pat):
        ch = pat[i]
        if ch == "\\" and i + 1 < len(pat):
            out.append(_re.escape(pat[i + 1]))
            i += 2
            continue
        if ch == "%":
            out.append(".*")
        elif ch == "_":
            out.append(".")
        else:
            out.append(_re.escape(ch))
        i += 1
    return "".join(out)


def _like_literal_prefix(pat: str) -> str:
    """Leading literal run of a LIKE pattern (chars before the first
    metacharacter), used to range-cut the sorted vocabulary."""
    out, i = [], 0
    while i < len(pat):
        ch = pat[i]
        if ch == "\\" and i + 1 < len(pat):
            out.append(pat[i + 1])
            i += 2
            continue
        if ch in ("%", "_"):
            break
        out.append(ch)
        i += 1
    return "".join(out)


def _expansions_driver(
    arrs, tokens: list[str], kind: str, max_edits: int, prefix_len: int,
    max_expansions: int,
) -> dict:
    """Driver-side twin of the distributed _expansions scan for
    vocabularies already memoized on the driver (BM25Index.vocab_arrays):
    same candidate predicates (substring/length/levenshtein for fuzzy,
    LIKE for wildcard, anchored regex for regexp, startswith for prefix)
    and the same deterministic cap order (edits ASC, df DESC, term ASC),
    so the expansion set is bit-identical — without the per-call Spark
    job + window shuffle, which dominated small-batch expansion surfaces."""
    import re as _re

    import numpy as np

    terms, dfs, buckets = arrs
    n = terms.shape[0]

    def rng(prefix: str):
        if not prefix:
            return 0, n
        lo = int(np.searchsorted(terms, prefix, side="left"))
        upper = _prefix_upper(prefix)
        hi = n if upper is None else int(
            np.searchsorted(terms, upper, side="left")
        )
        return lo, hi

    by_tok: dict[str, list] = {}
    for tok in tokens:
        cands: list[tuple[str, int, int]] = []  # (term, ed, idx)
        if kind == "fuzzy":
            if len(tok) < prefix_len:
                # substring(term, 1, p) == substring(qterm, 1, p) with the
                # whole qterm shorter than p admits ONLY term == qterm
                # (both substrings clamp to their string's length) — the
                # range cut below would wrongly admit longer extensions
                i = int(np.searchsorted(terms, tok, side="left"))
                if i < n and terms[i] == tok:
                    by_tok[tok] = [(tok, 0, int(buckets[i]))]
                continue
            lo, hi = rng(tok[:prefix_len])
            lq = len(tok)
            for i in range(lo, hi):
                t = terms[i]
                if abs(len(t) - lq) > max_edits:
                    continue
                ed = _lev(t, tok)
                if ed <= max_edits:
                    cands.append((t, ed, i))
        elif kind == "wildcard":
            lo, hi = rng(_like_literal_prefix(tok))
            rx = _re.compile(_like_to_regex(tok))
            cands = [(terms[i], 0, i) for i in range(lo, hi)
                     if rx.fullmatch(terms[i])]
        elif kind == "regexp":
            rx = _re.compile(f"^(?:{tok})$")
            cands = [(terms[i], 0, i) for i in range(n)
                     if rx.match(terms[i])]
        else:  # prefix
            lo, hi = rng(tok)
            cands = [(terms[i], 0, i) for i in range(lo, hi)]
        if not cands:
            continue
        cands.sort(key=lambda c: (c[1], -int(dfs[c[2]]), c[0]))
        by_tok[tok] = [
            (t, ed, int(buckets[i])) for (t, ed, i) in cands[:max_expansions]
        ]
    return by_tok


def _expansions(
    index: BM25Index,
    tokens: list[str],
    kind: str,
    max_edits: int,
    prefix_len: int,
    max_expansions: int,
) -> dict:
    """{query_token -> [(variant_term, edits, term_bucket)]} via one
    dictionary scan joined to the broadcast token list; capped per token by
    (edits ASC, df DESC, term ASC) — a total order, so the expansion set is
    deterministic and oracle-replicable. Vocabularies small enough for the
    driver memo (BM25Index.vocab_arrays) expand driver-side with identical
    results and zero Spark jobs (_expansions_driver); the distributed scan
    below is the huge-dictionary / cluster-scale path."""
    arrs = index.vocab_arrays()
    if arrs is not None:
        return _expansions_driver(
            arrs, tokens, kind, max_edits, prefix_len, max_expansions
        )
    spark = index.spark
    qt = F.broadcast(
        inline_table(spark, [(t,) for t in tokens], "qterm string")
    )
    d = index.dictionary.select("term", "df", "term_bucket")
    if kind == "fuzzy":
        cand = (
            d.join(
                qt,
                (F.substring("term", 1, prefix_len)
                 == F.substring("qterm", 1, prefix_len))
                & (F.length("term") >= F.length("qterm") - max_edits)
                & (F.length("term") <= F.length("qterm") + max_edits)
                & (F.levenshtein("term", "qterm") <= max_edits),
            )
            .withColumn("ed", F.levenshtein("term", "qterm"))
        )
    elif kind == "wildcard":
        # qterm arrives already translated to SQL LIKE (* -> %, ? -> _,
        # literal %/_/\ escaped); Spark's default LIKE escape is backslash
        cand = d.join(qt, F.expr("term LIKE qterm")).withColumn("ed", F.lit(0))
    elif kind == "regexp":
        # Lucene RegexpQuery matches the ENTIRE term: anchor the validated
        # pattern with a non-capturing group so alternation at the top level
        # ('a|b') can't escape the anchors. The pattern charset is restricted
        # to the Java-regex/RE2 common subset (see _regexp_tokens), so Spark's
        # Java RLIKE and the DuckDB oracle's RE2 agree on every match.
        cand = d.join(
            qt, F.expr("term RLIKE concat('^(?:', qterm, ')$')")
        ).withColumn("ed", F.lit(0))
    else:  # prefix
        cand = d.join(qt, F.col("term").startswith(F.col("qterm"))).withColumn(
            "ed", F.lit(0)
        )
    w = Window.partitionBy("qterm").orderBy(
        F.asc("ed"), F.desc("df"), F.asc("term")
    )
    kept = (
        cand.withColumn("_r", F.row_number().over(w))
        .where(F.col("_r") <= max_expansions)
        .select("qterm", "term", "ed", "term_bucket")
        .collect()
    )
    by_tok: dict[str, list] = {}
    for r in kept:
        by_tok.setdefault(r["qterm"], []).append(
            (r["term"], int(r["ed"]), int(r["term_bucket"]))
        )
    return by_tok


def _weighted_matched(qtoks: list, by_tok: dict) -> list:
    """Merge per-(query, variant) weights: Σ qtf/(1+edits) over the query's
    tokens that expanded to the variant."""
    acc: dict[tuple[str, str], list] = {}
    for qid, tok, qtf in qtoks:
        for term, ed, bucket in by_tok.get(tok, []):
            key = (qid, term)
            if key in acc:
                acc[key][0] += qtf / (1.0 + ed)
            else:
                acc[key] = [qtf / (1.0 + ed), bucket]
    return [(q, t, wgt, b) for (q, t), (wgt, b) in sorted(acc.items())]


def search_fuzzy(
    index: BM25Index,
    queries: DataFrame,
    k: int = 100,
    max_edits: int = 1,
    prefix_len: int = 1,
    max_expansions: int = 50,
) -> DataFrame:
    """Fuzzy top-k run (query_id, doc_id, score, rank): every query token
    matches vocabulary terms within max_edits Levenshtein edits (sharing the
    first prefix_len chars, Lucene FuzzyQuery's default prefix gate), each
    weighted qtf/(1+edits); max_edits=0 degenerates to exact search with
    identical results (tested)."""
    qtoks = _query_tokens(index, queries)
    if not qtoks:
        return index.spark.createDataFrame([], EMPTY_RUN)
    by_tok = _expansions(
        index, sorted({t for (_, t, _) in qtoks}), "fuzzy",
        max_edits, prefix_len, max_expansions,
    )
    return search_terms(index, _weighted_matched(qtoks, by_tok), k=k)


def search_prefix(
    index: BM25Index,
    queries: DataFrame,
    k: int = 100,
    max_expansions: int = 50,
) -> DataFrame:
    """Prefix (trailing-wildcard) top-k run: every query token matches the
    vocabulary terms it prefixes (capped at max_expansions by df DESC, the
    autocomplete-popularity order), each scored as a normal BM25 term with
    the token's qtf. `suggest` ranks the TERMS; this ranks the DOCS."""
    qtoks = _query_tokens(index, queries)
    if not qtoks:
        return index.spark.createDataFrame([], EMPTY_RUN)
    by_tok = _expansions(
        index, sorted({t for (_, t, _) in qtoks}), "prefix", 0, 0, max_expansions
    )
    return search_terms(index, _weighted_matched(qtoks, by_tok), k=k)


def wildcard_to_like(pattern: str) -> str:
    """Lucene wildcard syntax -> SQL LIKE: ``*`` = any run, ``?`` = one char.
    Literal ``%``/``_``/``\\`` in the pattern are escaped with backslash
    (Spark's default LIKE escape char) — they never occur in analyzer output,
    so this is purely defensive."""
    out = []
    for ch in pattern:
        if ch == "*":
            out.append("%")
        elif ch == "?":
            out.append("_")
        elif ch in ("%", "_", "\\"):
            out.append("\\" + ch)
        else:
            out.append(ch)
    return "".join(out)


def _wildcard_row(text: str) -> list:
    """One query text -> sorted [(like_pattern, qtf)] — whitespace-split +
    lowercase + keep only [a-z0-9*?] (the wildcard-preserving restriction
    of the ``simple`` analyzer; the analyzer itself would strip */?)."""
    import re as _re

    toks = [
        _re.sub(r"[^a-z0-9*?]+", "", t) for t in (text or "").lower().split()
    ]
    c = Counter(wildcard_to_like(t) for t in toks if t)
    return [(pat, float(n)) for pat, n in sorted(c.items())]


def _pattern_tokens(
    queries: DataFrame, row_fn, distributed_threshold: int | None = None
) -> list:
    """[(query_id, pattern, qtf)] via a pure per-row pattern extractor —
    the wildcard/regexp twin of query_term_counts' scale dispatch: small
    batches loop driver-side (zero extra jobs); batches above the
    engine-wide threshold run row_fn executor-side in mapInPandas and
    only compact (query_id, pattern, qtf) rows return. row_fn ValueErrors
    (regexp validation) are carried back as error rows and re-raised,
    preserving the driver-path contract."""
    from openmatch_spark.query.bm25_search import (
        _DISTRIBUTED_TOKENIZE_MIN_QUERIES,
    )
    from openmatch_spark.session import scoped_confs

    if distributed_threshold is None:
        distributed_threshold = _DISTRIBUTED_TOKENIZE_MIN_QUERIES
    q = queries.select(
        F.col("query_id").cast("string").alias("query_id"), "text"
    )
    sess = q.sparkSession
    with scoped_confs(
        sess,
        {
            "spark.sql.limit.initialNumPartitions": str(
                max(sess.sparkContext.defaultParallelism, 16)
            )
        },
    ):
        head = q.take(distributed_threshold + 1)
    if len(head) <= distributed_threshold:
        return sorted(
            (str(r["query_id"]), pat, n)
            for r in head
            for (pat, n) in row_fn(r["text"])
        )

    def _part(it):
        import pandas as pd

        for pdf in it:
            qids, pats, ns, errs = [], [], [], []
            for qid, text in zip(pdf["query_id"], pdf["text"]):
                try:
                    rows = row_fn(text)
                    err = None
                except ValueError as e:
                    rows, err = [("", 0.0)], str(e)
                for pat, n in rows:
                    qids.append(str(qid))
                    pats.append(pat)
                    ns.append(float(n))
                    errs.append(err)
            yield pd.DataFrame(
                {"query_id": qids, "pattern": pats, "qtf": ns, "err": errs}
            )

    out = []
    for r in q.mapInPandas(
        _part, "query_id string, pattern string, qtf double, err string"
    ).collect():
        if r["err"] is not None:
            raise ValueError(r["err"])
        out.append((r["query_id"], r["pattern"], float(r["qtf"])))
    return sorted(out)


def _wildcard_tokens(
    index: BM25Index, queries: DataFrame,
    distributed_threshold: int | None = None,
) -> list:
    """[(query_id, like_pattern, qtf)] — _wildcard_row through the shared
    driver/distributed dispatch."""
    return _pattern_tokens(queries, _wildcard_row, distributed_threshold)


def search_wildcard(
    index: BM25Index,
    queries: DataFrame,
    k: int = 100,
    max_expansions: int = 50,
) -> DataFrame:
    """Wildcard top-k run (Lucene WildcardQuery): each query token is a
    pattern (``*`` any run, ``?`` one char) matched against the vocabulary
    with SQL LIKE, capped at max_expansions by (df DESC, term ASC); variants
    score as plain BM25 terms with the pattern's qtf. A token with no
    wildcard degenerates to exact term lookup (LIKE without metachars).

    Scale note: like Lucene's leading-wildcard caveat, a pattern starting
    with ``*``/``?`` cannot prune the dictionary scan — it is still ONE
    column-pruned vocabulary pass (bounded by vocab size, not corpus), but a
    trailing-only wildcard keeps the scan range-prunable by the dictionary's
    term sort order."""
    qtoks = _wildcard_tokens(index, queries)
    if not qtoks:
        return index.spark.createDataFrame([], EMPTY_RUN)
    by_tok = _expansions(
        index, sorted({t for (_, t, _) in qtoks}), "wildcard", 0, 0, max_expansions
    )
    return search_terms(index, _weighted_matched(qtoks, by_tok), k=k)


# Lucene-RegexpQuery pattern surface restricted to the subset on which
# Java regex (Spark RLIKE) and RE2 (the DuckDB oracle) agree exactly:
# literals, '.', quantifiers * + ? {m,n}, character classes (including
# [^...] negation — Lucene RegexpQuery supports it and Java/RE2 agree),
# alternation, grouping. No backslash escapes, no anchors (full-term match
# is implicit, Lucene semantics — so a '^' anywhere except class-negation
# position is rejected loudly rather than stripped: stripping would turn
# [^ab] into the positive class [ab] and silently invert the match set),
# no backrefs/lookaround (RE2 has neither).
_REGEXP_ALLOWED = r"[^a-z0-9.*+?\[\](){}|,\^\-]+"


def _regexp_row(text: str) -> list:
    """One query text -> sorted [(pattern, qtf)] — whitespace-split +
    lowercase + keep only the allowed pattern charset. Every kept pattern
    must compile (Python re compiles the Java/RE2 common subset
    identically) and may use '^' only as class negation, else ValueError
    — a silently dropped malformed pattern would look like zero hits."""
    import re as _re

    toks = [
        _re.sub(_REGEXP_ALLOWED, "", t) for t in (text or "").lower().split()
    ]
    c = Counter(t for t in toks if t)
    out = []
    for pat, n in sorted(c.items()):
        for i, ch in enumerate(pat):
            if ch == "^" and (i == 0 or pat[i - 1] != "["):
                raise ValueError(
                    f"invalid regexp pattern {pat!r}: '^' is only "
                    "supported as class negation '[^...]' (full-term "
                    "match is implicit; anchors are not part of the "
                    "Lucene RegexpQuery surface)"
                )
        try:
            _re.compile(f"^(?:{pat})$")
        except _re.error as e:
            raise ValueError(f"invalid regexp pattern {pat!r}: {e}") from e
        out.append((pat, float(n)))
    return out


def _regexp_tokens(
    index: BM25Index, queries: DataFrame,
    distributed_threshold: int | None = None,
) -> list:
    """[(query_id, pattern, qtf)] — _regexp_row through the shared
    driver/distributed dispatch (validation errors surface as ValueError
    on either path)."""
    return _pattern_tokens(queries, _regexp_row, distributed_threshold)


def search_regexp(
    index: BM25Index,
    queries: DataFrame,
    k: int = 100,
    max_expansions: int = 50,
) -> DataFrame:
    """Regexp top-k run (Lucene RegexpQuery): each whitespace-separated
    query token is a regular expression matched against the ENTIRE
    vocabulary term (Lucene's implicit anchoring), capped at
    max_expansions by (df DESC, term ASC); variants score as plain BM25
    terms with the pattern's qtf, identical to the wildcard surface.
    Patterns are restricted to the Java-regex/RE2 common subset (no
    escapes, anchors, backrefs, or lookaround) and validated up front.

    Scale note: Lucene compiles the regexp to an automaton and intersects
    it with the term FST; here the match is ONE column-pruned vocabulary
    scan (bounded by vocab size, not corpus — ~1e7 rows even at 10^12
    docs), and only the capped variant list crosses to the driver. The
    scoring pass reuses the bucket-pruned postings scan like every other
    expansion surface."""
    qtoks = _regexp_tokens(index, queries)
    if not qtoks:
        return index.spark.createDataFrame([], EMPTY_RUN)
    by_tok = _expansions(
        index, sorted({t for (_, t, _) in qtoks}), "regexp", 0, 0, max_expansions
    )
    return search_terms(index, _weighted_matched(qtoks, by_tok), k=k)


def search_synonyms(
    index: BM25Index,
    queries: DataFrame,
    synonyms,
    k: int = 100,
    include_original: bool = True,
) -> DataFrame:
    """Synonym-expanded top-k run (Lucene SynonymQuery / analysis-chain
    synonym graph, applied query-side): every analyzed query token also
    matches its synonym variants, each weighted qtf x weight; weights for
    the same (query, term) sum (a variant reachable from two query tokens
    accumulates both, the engine's standard qtf-merge rule).

    ``synonyms`` is a DataFrame(term, variant, weight double) or a list of
    (term, variant, weight) tuples. The mapping is directional — supply both
    directions for an equivalence. Only rows whose ``term`` appears in the
    query batch are ever materialized driver-side, so a corpus-scale synonym
    table stays a pruned scan (the collect is bounded by query vocabulary x
    fan-out, same bound as the fuzzy/prefix caps).
    """
    spark = index.spark
    qtoks = _query_tokens(index, queries)
    if not qtoks:
        return spark.createDataFrame([], EMPTY_RUN)
    toks = sorted({t for (_, t, _) in qtoks})
    if isinstance(synonyms, DataFrame):
        rows = (
            synonyms.where(in_list("term", toks))
            .select("term", "variant", F.col("weight").cast("double"))
            .collect()
        )
        syn = [(r["term"], r["variant"], float(r["weight"])) for r in rows]
    else:
        syn = [(t, v, float(w)) for (t, v, w) in synonyms if t in set(toks)]
    fan: dict[str, list] = {}
    for t, v, w in syn:
        fan.setdefault(t, []).append((v, w))
    # accumulate (query, term) -> weight, then one vocabulary lookup for the
    # union term set (OOV originals AND OOV variants drop out there)
    acc: dict[tuple[str, str], float] = {}
    for qid, tok, qtf in qtoks:
        if include_original:
            acc[(qid, tok)] = acc.get((qid, tok), 0.0) + qtf
        for v, w in fan.get(tok, []):
            acc[(qid, v)] = acc.get((qid, v), 0.0) + qtf * w
    bucket_of = index.term_buckets(sorted({t for (_, t) in acc}))
    matched = [
        (qid, t, wgt, bucket_of[t])
        for (qid, t), wgt in sorted(acc.items())
        if t in bucket_of
    ]
    return search_terms(index, matched, k=k)


def search_bool_prefix(
    index: BM25Index,
    queries: DataFrame,
    k: int = 100,
    max_expansions: int = 50,
    prefix_boost: float = 1.0,
) -> DataFrame:
    """ES match_bool_prefix: every token but the LAST scores as a plain
    BM25 term clause (qtf multiplicity); the last token is a prefix
    query contributing Lucene's CONSTANT_SCORE multi-term rewrite value
    — prefix_boost ONCE per matching doc, however many expansions hit
    (that is what separates this from search_prefix, which BM25-scores
    each expansion). Bool OR semantics: a doc matching any clause
    competes. (query_id, doc_id, score, rank).

    Plan: one pruned postings decode covering full + expansion terms;
    the term side aggregates sum(qtf x weight), the prefix side reduces
    to a distinct doc set; a full outer join composes them BEFORE the
    top-k cut — a doc matching only the prefix can outrank a weak term
    match, so neither side may be pre-cut."""
    from openmatch_spark.analysis import tokenize_py
    from openmatch_spark.index.compact import _decode_blocks_arrow
    from openmatch_spark.query.phrase import _finalize

    if prefix_boost <= 0:
        raise ValueError(f"prefix_boost must be > 0, got {prefix_boost}")
    spark = index.spark
    analyzer = index.stats["analyzer"]
    empty = spark.createDataFrame([], EMPTY_RUN)
    full, pref = [], []
    for r in queries.select(
        F.col("query_id").cast("string").alias("query_id"), "text"
    ).collect():
        toks = tokenize_py(r["text"], analyzer)
        if not toks:
            continue
        pref.append((str(r["query_id"]), toks[-1]))
        for t, c in sorted(Counter(toks[:-1]).items()):
            full.append((str(r["query_id"]), t, float(c)))
    if not pref:
        return empty
    exp = _expansions(
        index, sorted({t for _, t in pref}), "prefix", 0, 0, max_expansions
    )
    bucket_of = index.term_buckets(sorted({t for _, t, _ in full}))
    live_full = [(q, t, c) for q, t, c in full if t in bucket_of]
    prefix_pairs = sorted({
        (q, term) for q, tok in pref for (term, _, _) in exp.get(tok, [])
    })
    buckets = sorted(
        {bucket_of[t] for _, t, _ in live_full}
        | {b for tok in exp for (_, _, b) in exp[tok]}
    )
    all_terms = sorted(
        {t for _, t, _ in live_full} | {t for _, t in prefix_pairs}
    )
    if not all_terms:
        return empty
    decoded = index.postings.where(
        in_list("term_bucket", buckets) & in_list("term", all_terms)
    ).mapInArrow(
        _decode_blocks_arrow,
        "shard int, term string, term_bucket int, doc_ord long, weight double",
    )
    decoded = index.mask_deleted(decoded)
    sides = []
    if live_full:
        qt = F.broadcast(
            inline_table(spark, 
                live_full, "query_id string, term string, qtf double"
            )
        )
        sides.append(
            decoded.join(qt, "term")
            .groupBy("query_id", "shard", "doc_ord")
            .agg(F.sum(F.col("qtf") * F.col("weight")).alias("score"))
        )
    if prefix_pairs:
        pq = F.broadcast(
            inline_table(spark, 
                prefix_pairs, "query_id string, term string"
            )
        )
        sides.append(
            decoded.join(pq, "term")
            .select("query_id", "shard", "doc_ord")
            .distinct()
            .withColumn("score", F.lit(float(prefix_boost)))
        )
    if not sides:
        return empty
    cand = sides[0]
    for s in sides[1:]:
        cand = cand.unionByName(s)
    cand = cand.groupBy("query_id", "shard", "doc_ord").agg(
        F.sum("score").alias("score")
    )
    return _finalize(index, cand, k, [])
