"""Text analysis: extraction + tokenization as vectorized Arrow UDFs.

Two analyzer profiles, both pure functions of the input string so engine and
oracle tokenize byte-identically (BASELINE input_hint invariant):

- ``"dpr"``   — the reference's DPR/Anserini-lineage ``SimpleTokenizer``
  semantics (reference: src/openmatch/qa_utils.py:144-187): regex-module
  pattern ``([\\p{L}\\p{N}\\p{M}]+)|([^\\p{Z}\\p{C}])`` with
  IGNORECASE|UNICODE|MULTILINE, NFD-normalized (qa_utils.py:202-204),
  lowercased (``words(uncased=True)``, qa_utils.py:44-48). Java regex
  ``\\p{L}`` differs on some codepoints, so this lives in a Python pandas
  UDF on BOTH the engine and oracle sides — never in JVM regexp.
- ``"simple"`` — lowercase + split on ``[^a-z0-9]+``. SQL-expressible
  (DuckDB ``regexp_split_to_array``), used for the driver's DuckDB
  cross-check path; same function is also available as a pure-JVM column
  expression (:func:`tokenize_col_simple`) so the hot path stays inside
  whole-stage codegen.
- ``"english"`` — ``simple`` plus Lucene's EnglishMinimalStemFilter
  (Savoy's minimal plural stemmer): a token of >= 3 chars ending in 's'
  drops the 's' unless the preceding char is 'u' or 's' ("dogs"->"dog",
  "boss"/"virus" unchanged). One anchored regexp_replace per token —
  expressible identically in Java regex, Python re, and DuckDB, so it
  stays in whole-stage codegen AND in the oracle. Applied at index AND
  query time (the analyzer string frozen in stats covers both).

Extraction: html -> text. The reference renders templates verbatim over the
already-extracted ``text`` field (src/openmatch/utils.py:230-259), so the
per-url invariant is byte-identical passthrough of ``text`` when present,
with an html-strip fallback for rows that only carry ``html``.
"""

from __future__ import annotations

import unicodedata
from collections.abc import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, StringType

try:  # the reference hard-requires `regex`; we degrade to a close re fallback
    import regex as _regex

    _HAVE_REGEX = True
except ImportError:  # pragma: no cover
    import re as _regex

    _HAVE_REGEX = False

SIMPLE_SPLIT_PATTERN = "[^a-z0-9]+"

_DPR_PATTERN = r"([\p{L}\p{N}\p{M}]+)|([^\p{Z}\p{C}])"
_dpr_regexp = None


def _get_dpr_regexp():
    global _dpr_regexp
    if _dpr_regexp is None:
        if _HAVE_REGEX:
            _dpr_regexp = _regex.compile(
                _DPR_PATTERN,
                flags=_regex.IGNORECASE | _regex.UNICODE | _regex.MULTILINE,
            )
        else:  # pragma: no cover - sandbox always has `regex`
            _dpr_regexp = _regex.compile(
                r"(\w+)|([^\s\w])", flags=_regex.IGNORECASE | _regex.MULTILINE
            )
    return _dpr_regexp


def tokenize_dpr_py(text: str) -> list[str]:
    """Reference-exact tokenization of one string (oracle + UDF kernel).

    NFD normalize (qa_utils.py:202-204) -> regex finditer (qa_utils.py:153-156)
    -> lowercase (qa_utils.py:44-48).
    """
    if text is None:
        return []
    text = unicodedata.normalize("NFD", text)
    rx = _get_dpr_regexp()
    return [m.group().lower() for m in rx.finditer(text)]


# Fast doc-bulk kernel for the same DPR semantics. tokenize_dpr_py above
# stays the reference implementation (it is what the DuckDB oracle calls and
# what the bench noise probe times — both must stay frozen); the UDF below
# uses this provably token-identical kernel instead:
#
# - Pure-ASCII rows (text.isascii(), a C-speed check) skip NFD entirely
#   (ASCII is NFD-invariant), lowercase the whole string once (ASCII
#   lowercasing is per-char A-Z -> a-z, category-stable, no expansion), and
#   match with the stdlib-`re` ASCII projection of the DPR pattern:
#   [\p{L}\p{N}\p{M}]+ over lowered ASCII is [0-9a-z]+, and [^\p{Z}\p{C}]
#   restricted to ASCII is the printable punctuation ranges (space 0x20 is
#   Zs; 0x00-0x1F and 0x7F are Cc). Measured 4.7x on the synthetic corpus.
# - Non-ASCII rows keep the `regex` engine but use a GROUPLESS alternation
#   with findall (same leftmost-first matches as the grouped finditer,
#   returning strings directly instead of building match objects). 1.4x.
#
# Identity with tokenize_dpr_py is pinned by tests/test_round6_opt.py
# (adversarial unicode battery + random-codepoint fuzz).
_ASCII_DPR_RX = None
_FAST_DPR_RX = None


def _get_fast_dpr_rx():
    global _ASCII_DPR_RX, _FAST_DPR_RX
    if _ASCII_DPR_RX is None:
        import re as _re

        _ASCII_DPR_RX = _re.compile(r"[0-9a-z]+|[!-/:-@\[-`{-~]")
        if _HAVE_REGEX:
            _FAST_DPR_RX = _regex.compile(
                r"[\p{L}\p{N}\p{M}]+|[^\p{Z}\p{C}]",
                flags=_regex.IGNORECASE | _regex.UNICODE | _regex.MULTILINE,
            )
        else:  # pragma: no cover - sandbox always has `regex`
            _FAST_DPR_RX = _get_dpr_regexp()
    return _ASCII_DPR_RX, _FAST_DPR_RX


def tokenize_dpr_fast(text: str) -> list[str]:
    """Token-identical fast kernel for tokenize_dpr_py (doc-bulk UDF path)."""
    if text is None:
        return []
    ascii_rx, uni_rx = _get_fast_dpr_rx()
    if text.isascii():
        return ascii_rx.findall(text.lower())
    text = unicodedata.normalize("NFD", text)
    if uni_rx is _get_dpr_regexp():  # pragma: no cover - no-`regex` fallback
        return [m.group().lower() for m in uni_rx.finditer(text)]
    return [t.lower() for t in uni_rx.findall(text)]


def tokenize_simple_py(text: str) -> list[str]:
    """SQL-expressible tokenization of one string; mirrors
    DuckDB ``regexp_split_to_array(lower(text), '[^a-z0-9]+')`` minus empties.
    """
    if text is None:
        return []
    import re

    return [t for t in re.split(SIMPLE_SPLIT_PATTERN, text.lower()) if t]


# Lucene EnglishMinimalStemFilter: len >= 3, ends in 's', and the char
# before the final 's' is not 'u'/'s' => drop the 's'. The lookbehind-free
# capture form runs identically in Java regex, Python re, and DuckDB RE2.
ENGLISH_MINIMAL_STEM_PATTERN = "^(.+[^su])s$"


def stem_english_minimal_py(token: str) -> str:
    import re

    return re.sub(ENGLISH_MINIMAL_STEM_PATTERN, r"\1", token)


# Lucene's classic ENGLISH_STOP_WORDS_SET (EnglishAnalyzer default, 33
# words) — a FIXED list, frozen in the index's analyzer string, so build
# and query drop identical tokens in any engine.
LUCENE_ENGLISH_STOPWORDS = (
    "a", "an", "and", "are", "as", "at", "be", "but", "by", "for", "if",
    "in", "into", "is", "it", "no", "not", "of", "on", "or", "such",
    "that", "the", "their", "then", "there", "these", "they", "this",
    "to", "was", "will", "with",
)
_STOP_SET = frozenset(LUCENE_ENGLISH_STOPWORDS)


def tokenize_py(text: str, analyzer: str = "dpr") -> list[str]:
    if "|syn=" in analyzer:
        base, mapping = split_synonym_analyzer(analyzer)
        return [mapping.get(t, t) for t in tokenize_py(text, base)]
    if analyzer == "dpr":
        return tokenize_dpr_py(text)
    if analyzer == "english":
        return [stem_english_minimal_py(t) for t in tokenize_simple_py(text)]
    if analyzer == "english_stop":
        return [t for t in tokenize_simple_py(text) if t not in _STOP_SET]
    if analyzer == "simple":
        return tokenize_simple_py(text)
    raise ValueError(
        f"unknown analyzer {analyzer!r} (dpr | simple | english | english_stop)"
    )


@pandas_udf(ArrayType(StringType()))
def tokenize_dpr_udf(texts: pd.Series) -> pd.Series:
    return texts.map(tokenize_dpr_fast)


def tokenize_col_simple(col: Column) -> Column:
    """JVM-side simple tokenizer: stays inside whole-stage codegen (no Python).

    `split` on an ASCII class is identical between Java and Python regex, so
    this is safe to pair with the DuckDB oracle. Leading empty strings from a
    leading delimiter are filtered like the Python/DuckDB sides.
    """
    return F.filter(F.split(F.lower(col), SIMPLE_SPLIT_PATTERN), lambda t: t != "")


def stem_english_minimal_col(tok: Column) -> Column:
    """JVM-side minimal plural stem of one token (pattern doc above)."""
    return F.regexp_replace(tok, ENGLISH_MINIMAL_STEM_PATTERN, "$1")


def tokenize_col(col: Column, analyzer: str = "dpr") -> Column:
    if "|syn=" in analyzer:
        base, mapping = split_synonym_analyzer(analyzer)
        # a literal map lookup with identity fallback — stays JVM-side
        m = F.create_map(*[
            F.lit(x) for kv in sorted(mapping.items()) for x in kv
        ])
        return F.transform(
            tokenize_col(col, base),
            lambda t: F.coalesce(F.element_at(m, t), t),
        )
    if analyzer == "dpr":
        return tokenize_dpr_udf(col)
    if analyzer == "english":
        return F.transform(tokenize_col_simple(col), stem_english_minimal_col)
    if analyzer == "english_stop":
        stop = F.array(*[F.lit(w) for w in LUCENE_ENGLISH_STOPWORDS])
        return F.filter(
            tokenize_col_simple(col), lambda t: ~F.array_contains(stop, t)
        )
    if analyzer == "simple":
        return tokenize_col_simple(col)
    raise ValueError(
        f"unknown analyzer {analyzer!r} (dpr | simple | english | english_stop)"
    )


@pandas_udf(StringType())
def extract_text_udf(html: pd.Series, text: pd.Series) -> pd.Series:
    """Byte-identical text per url (input_hint invariant).

    If ``text`` is present it is passed through verbatim (the reference
    operates on pre-extracted text; templates fill it unchanged,
    utils.py:230-259). Rows with only ``html`` get a deterministic minimal
    strip: drop <script>/<style> blocks, strip tags, collapse nothing else
    (no whitespace squeezing — byte determinism beats prettiness).
    """
    import re

    # whole-batch fast path: every row has text -> verbatim passthrough
    # (no per-row Python loop; the common shape for pre-extracted corpora)
    if not text.isna().any():
        return text

    script = re.compile(rb"(?is)<(script|style)[^>]*>.*?</\1>")
    tag = re.compile(rb"(?s)<[^>]*>")

    def one(h, t):
        if t is not None:
            return t
        if h is None:
            return None
        raw = tag.sub(b" ", script.sub(b" ", bytes(h)))
        return raw.decode("utf-8", errors="replace")

    return pd.Series([one(h, t) for h, t in zip(html, text)], dtype=object)


def extract_corpus(
    pages: DataFrame, analyzer: str = "dpr", carry_cols: tuple = ()
) -> DataFrame:
    """pages(url, warc_ts, html, text, lang) -> (doc_id, terms, doclen).

    doc_id is the url (string end-to-end; reference coerces ids via str(),
    inference_dataset.py:17-28). One Arrow batch pipeline: extract -> tokenize.
    carry_cols: extra pages columns passed through unchanged (index-sort
    fields) — a projection, never a join."""
    cols = set(pages.columns)
    missing = [c for c in carry_cols if c not in cols]
    if missing:
        raise ValueError(f"carry_cols absent from pages: {missing}")
    doc_id = F.col("url") if "url" in cols else F.col("doc_id").cast("string")
    html = F.col("html") if "html" in cols else F.lit(None).cast("binary")
    text = F.col("text") if "text" in cols else F.lit(None).cast("string")
    # extract_text_udf ignores html whenever text is present, so null the
    # html argument out for those rows BEFORE the Python boundary: the Arrow
    # transfer then ships no html bytes for any text-bearing row (guide-§4
    # "pass only the columns the function needs", applied row-wise — on
    # corpora that carry both columns this halves the bytes crossing into
    # the tokenize worker). Row semantics are unchanged: the UDF sees
    # html=None exactly where it would not have read html anyway.
    if "html" in cols:
        html = F.when(text.isNull(), html)
    extracted = pages.select(
        doc_id.alias("doc_id"),
        extract_text_udf(html, text).alias("text"),
        *carry_cols,
    )
    return extracted.select(
        "doc_id",
        tokenize_col(F.col("text"), analyzer).alias("terms"),
        *carry_cols,
    ).withColumn("doclen", F.size("terms"))


def tokenizer_fn(analyzer: str = "dpr"):
    """Per-row tokenize callable for doc-bulk kernels: same token stream as
    ``tokenize_py(text, analyzer)`` with the fast dpr kernel substituted
    where the base analyzer is dpr (see tokenize_dpr_fast)."""
    if _SYN_SEP in analyzer:
        base, mapping = split_synonym_analyzer(analyzer)
        base_fn = tokenizer_fn(base)
        get = mapping.get
        return lambda t: [get(x, x) for x in base_fn(t)]
    if analyzer == "dpr":
        return tokenize_dpr_fast
    tokenize_py("probe", analyzer)  # raises on unknown analyzer
    return lambda t: tokenize_py(t, analyzer)


def iter_tokenize(batches: Iterator[pd.DataFrame], analyzer: str = "dpr") -> Iterator[pd.DataFrame]:
    """mapInPandas kernel variant (used by the streaming/incremental path)."""
    tok = tokenizer_fn(analyzer)
    for pdf in batches:
        out = pd.DataFrame(
            {
                "doc_id": pdf["doc_id"].astype(str),
                "terms": pdf["text"].map(tok),
            }
        )
        out["doclen"] = out["terms"].map(len)
        yield out


# ---------------------------------------------------------------------------
# Index-time synonyms (Lucene SynonymFilter, contraction mode)
# ---------------------------------------------------------------------------
#
# A synonym analyzer is a BASE analyzer plus a contraction map, encoded
# IN the analyzer string itself — "simple|syn=fast:quick,rapid;big:large"
# maps every variant token to its group's canonical token AFTER base
# analysis, at build time and query time alike. Because the whole map
# rides the analyzer string, it is frozen in the index's stats.json and
# every consumer (build, search, phrase/positional queries, suggesters,
# compaction rebaseline) reproduces the identical token stream with no
# side state. Lucene's expansion mode (emit all group members at one
# position) is documented out: it inflates tf/df and double-counts
# positions, and Lucene itself recommends contraction for scoring
# sanity (SynonymGraphFilter docs).

_SYN_SEP = "|syn="


def make_synonym_analyzer(base: str, groups: dict[str, list[str]]) -> str:
    """Build a synonym analyzer string from {canonical: [variants...]}.
    Every canonical and variant must analyze to exactly one token under
    the base analyzer (multi-word synonyms are out of scope); a variant
    may belong to only one group. The encoding is canonicalized (sorted
    groups, sorted variants) so equal maps yield byte-equal analyzer
    strings — stats.json equality checks stay meaningful."""
    if _SYN_SEP in base:
        raise ValueError("base analyzer already carries a synonym map")
    tokenize_py("probe", base)  # raises on unknown base
    if not groups:
        raise ValueError("groups must name at least one synonym group")
    seen: dict[str, str] = {}
    parts = []
    for canon in sorted(groups):
        cts = tokenize_py(canon, base)
        if len(cts) != 1:
            raise ValueError(
                f"canonical {canon!r} analyzes to {len(cts)} tokens; "
                "synonyms are single-token"
            )
        variants = set()
        for v in groups[canon]:
            vts = tokenize_py(v, base)
            if len(vts) != 1:
                raise ValueError(
                    f"variant {v!r} analyzes to {len(vts)} tokens; "
                    "synonyms are single-token"
                )
            if vts[0] == cts[0]:
                continue  # mapping a term to itself is a no-op
            if vts[0] in seen and seen[vts[0]] != cts[0]:
                raise ValueError(
                    f"variant {vts[0]!r} appears in groups "
                    f"{seen[vts[0]]!r} and {cts[0]!r}"
                )
            seen[vts[0]] = cts[0]
            variants.add(vts[0])
        if not variants:
            raise ValueError(f"group {canon!r} has no distinct variants")
        parts.append(f"{cts[0]}:{','.join(sorted(variants))}")
    return f"{base}{_SYN_SEP}{';'.join(parts)}"


def split_synonym_analyzer(analyzer: str) -> tuple[str, dict[str, str] | None]:
    """-> (base_analyzer, variant->canonical map or None)."""
    if _SYN_SEP not in analyzer:
        return analyzer, None
    base, _, enc = analyzer.partition(_SYN_SEP)
    mapping: dict[str, str] = {}
    for part in enc.split(";"):
        canon, _, alts = part.partition(":")
        if not canon or not alts:
            raise ValueError(f"malformed synonym analyzer part {part!r}")
        for a in alts.split(","):
            mapping[a] = canon
    return base, mapping
