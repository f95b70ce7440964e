"""Round-6 optimization invariants.

The optimizations must be pure performance: the driver-side expansion
fast path (query/expand.py _expansions_driver) must produce the SAME
variant sets, edit distances, buckets AND cap ordering as the
distributed dictionary scan it replaces, and the per-handle DataFrame /
handle memos must not change any query result.
"""

import random
import string
import tempfile

import pytest

from openmatch_spark.index import build_index, load_index
from openmatch_spark.query.expand import _expansions


@pytest.fixture(scope="module")
def fat_vocab_index(spark):
    rnd = random.Random(7)
    words = list({
        "".join(rnd.choices(string.ascii_lowercase[:6], k=rnd.randint(1, 7)))
        for _ in range(3000)
    })
    docs = [(f"d{i}", " ".join(rnd.choices(words, k=25))) for i in range(600)]
    pages = spark.createDataFrame(docs, "url string, text string")
    d = tempfile.mkdtemp(prefix="om_r6_expab_")
    build_index(spark, pages, d, analyzer="simple", num_shards=2,
                num_term_buckets=4, block_size=64)
    return load_index(spark, d)


def _ab(idx, toks, kind, edits, plen, mx):
    drv = _expansions(idx, toks, kind, edits, plen, mx)
    idx._vocab_cache = False  # force the distributed dictionary scan
    try:
        dist = _expansions(idx, toks, kind, edits, plen, mx)
    finally:
        idx._vocab_cache = None
    assert drv == dist, (kind, toks, edits, plen, mx)
    return drv


def test_expansions_driver_equals_distributed(fat_vocab_index):
    idx = fat_vocab_index
    rnd = random.Random(99)
    # fixed adversarial cases: short tokens vs prefix_len clamp, empty
    # literal prefixes, leading wildcards, full-class regexes
    _ab(idx, ["a", "ab"], "fuzzy", 2, 3, 10)     # token shorter than prefix
    _ab(idx, ["abc", "fedcb"], "fuzzy", 2, 0, 50)  # prefix_len=0 full scan
    _ab(idx, ["%ba", "_a%", "ab"], "wildcard", 0, 0, 10)
    _ab(idx, ["[af]b.*", "a{2,3}", "(aa|bb)c?"], "regexp", 0, 0, 50)
    _ab(idx, ["a", "fe", "zzz"], "prefix", 0, 0, 3)
    for _ in range(8):
        kind = rnd.choice(["prefix", "fuzzy", "wildcard", "regexp"])
        if kind == "fuzzy":
            toks = ["".join(rnd.choices(string.ascii_lowercase[:7],
                                        k=rnd.randint(1, 6)))
                    for _ in range(4)]
            edits, plen = rnd.choice([1, 2]), rnd.choice([0, 1, 2])
        elif kind == "wildcard":
            toks = ["".join(rnd.choices(string.ascii_lowercase[:6] + "%_",
                                        k=rnd.randint(1, 5)))
                    for _ in range(4)]
            edits = plen = 0
        elif kind == "regexp":
            toks = [rnd.choice(["ab.*", "[ab]+c", "a{1,2}b", "..c"])]
            edits = plen = 0
        else:
            toks = ["".join(rnd.choices(string.ascii_lowercase[:6],
                                        k=rnd.randint(1, 3)))
                    for _ in range(4)]
            edits = plen = 0
        _ab(idx, sorted(set(toks)), kind, edits, plen,
            rnd.choice([3, 10, 50]))


def test_query_string_fielded_distributed_parse_identity(spark, tmp_path):
    """Above the distributed threshold the field-prefixed query_string
    surface parses executor-side; results (and parse errors) must be
    identical to the driver path (VERDICT r5 item 3)."""
    from openmatch_spark.query import (
        build_fielded_index,
        load_fielded_index,
        search_query_string_fielded,
    )

    rnd = random.Random(11)
    docs = [(f"d{i}",
             " ".join(rnd.choices(["alpha", "beta", "gamma", "delta"], k=4)),
             " ".join(rnd.choices(["merge", "scan", "join", "sort"], k=8)),
             rnd.choice(["en", "de"]))
            for i in range(120)]
    pages = spark.createDataFrame(
        docs, "doc_id string, title string, body string, lang string")
    d = str(tmp_path / "fqs")
    build_fielded_index(spark, pages, d, ["title", "body"],
                        analyzer="simple", num_shards=2, num_term_buckets=4,
                        store_attrs=["lang"])
    fx = load_fielded_index(spark, d)
    qs = spark.createDataFrame(
        [(f"q{i}", rnd.choice([
            "title:alpha body:merge", "+title:beta -lang:de",
            "gamma", "body:scan^2 +lang:en",
        ])) for i in range(20)],
        "query_id string, text string")

    def run(threshold):
        out = search_query_string_fielded(
            fx, qs, k=5, distributed_threshold=threshold)
        return sorted(
            (r["query_id"], r["rank"], r["doc_id"], round(r["score"], 9))
            for r in out.collect())

    assert run(10_000) == run(5)  # driver path == executor-side parse

    bad = spark.createDataFrame(
        [(f"b{i}", "(title:alpha OR body:merge)") for i in range(12)],
        "query_id string, text string")
    for threshold in (10_000, 5):
        with pytest.raises(ValueError):
            search_query_string_fielded(
                fx, bad, k=5, distributed_threshold=threshold).collect()


def test_handle_df_cache_refresh(fat_vocab_index):
    idx = fat_vocab_index
    idx.postings  # populates the per-handle table memo
    first = idx._df_cache.get("postings")
    assert first is not None
    idx.postings
    assert idx._df_cache.get("postings") is first  # memo hit, no re-read
    idx.refresh()
    assert idx._df_cache == {} and idx._vocab_cache is None


def test_positions_mapside_kernel_reference():
    """The map-side positions encoder (index/positions.py round-6 rewrite)
    must emit exactly one run per (doc, term) whose payload decodes to the
    term's occurrence positions in order — pinned against a brute-force
    Python reference over randomized documents (duplicates, empty docs,
    single-token docs, null terms lists)."""
    import numpy as np
    import pyarrow as pa

    from openmatch_spark.functions.codec import decode_postings
    from openmatch_spark.index.positions import _encode_doc_positions_arrow

    rng = np.random.default_rng(13)
    vocab = [f"t{i}" for i in range(17)]
    docs = []
    for i in range(60):
        n = int(rng.integers(0, 30))
        docs.append((f"d{i}", [str(rng.choice(vocab)) for _ in range(n)]))
    docs.append(("empty", []))
    docs.append(("single", ["t3"]))
    docs.append(("nulldoc", None))

    batch = pa.RecordBatch.from_arrays(
        [
            pa.array([d for d, _ in docs], type=pa.string()),
            pa.array([t for _, t in docs], type=pa.list_(pa.string())),
        ],
        names=["doc_id", "terms"],
    )
    out = list(_encode_doc_positions_arrow()([batch]))
    got = {}
    for b in out:
        for r in b.to_pylist():
            key = (r["doc_id"], r["term"])
            assert key not in got, f"duplicate run {key}"
            positions = decode_postings(r["positions"]).tolist()
            assert len(positions) == r["npos"]
            got[key] = positions

    want = {}
    for doc_id, terms in docs:
        for pos, t in enumerate(terms or []):
            want.setdefault((doc_id, t), []).append(pos)
    assert got == want


def test_tokenize_dpr_fast_identity():
    """tokenize_dpr_fast (the doc-bulk UDF kernel) must be token-identical
    to tokenize_dpr_py (the reference / oracle kernel) on: an adversarial
    unicode battery (case-expansion, titlecase digraphs, NFC-vs-NFD input,
    combining marks, non-ASCII spaces, format/control chars, supplementary
    plane, final sigma) and random-codepoint fuzz."""
    import random

    from openmatch_spark.analysis import tokenize_dpr_fast, tokenize_dpr_py

    cases = [
        None, "", " ", "\t\n\r\f\v", "\x00\x01\x1f\x7f", "a\x00b",
        "Hello, World! 123", "foo_bar-baz", "a" * 5000,
        "İstanbul", "STRASSE straße ß", "ǅungla ǄUNGLA",
        "café CAFÉ café", "naïve NAÏVE", "ﬁle ﬂow",
        "日本語のテキスト", "中文 测试", "한국어 텍스트",
        "עברית عربي", "Ελληνικά ΕΛΛΗΝΙΚΆ",
        "a b", "a b", "a​b", "a­b",
        "x́̂y", "é", "́e",
        "１２３ fullwidth ＡＢＣ", "emoji 😀 test 🎉",
        "Ⅻ roman ⅻ", "½ vulgar ¾", "tab\tsep", "mixed İ ascii",
        "ʼn", "ΐ ΰ", "Σ sigma ΣΣ τέλοΣ", "𝔘𝔫𝔦𝔠𝔬𝔡𝔢",
        "🇺🇸 flags", "ᾈ ᾨ",
    ]
    for c in cases:
        assert tokenize_dpr_py(c) == tokenize_dpr_fast(c), repr(c)

    rnd = random.Random(99)
    pools = [(32, 126), (0x20, 0x2FFF), (0x1F300, 0x1F6FF), (0x41, 0x5A)]
    for _ in range(2000):
        s = "".join(
            chr(rnd.randint(*rnd.choice(pools))) for _ in range(rnd.randint(0, 60))
        )
        assert tokenize_dpr_py(s) == tokenize_dpr_fast(s), repr(s)


def test_tokenizer_fn_matches_tokenize_py():
    """tokenizer_fn(analyzer) (mapInPandas doc-bulk path) must match
    tokenize_py(text, analyzer) for every analyzer family incl. synonym
    maps layered on a dpr base."""
    from openmatch_spark.analysis import (
        make_synonym_analyzer,
        tokenize_py,
        tokenizer_fn,
    )

    texts = [
        None, "", "Quick FAST rapid big large words!",
        "İstanbul café ﬂow 123", "dogs boss virus classes",
        "the a of and keep these words",
    ]
    analyzers = ["dpr", "simple", "english", "english_stop",
                 make_synonym_analyzer("dpr", {"fast": ["quick", "rapid"]}),
                 make_synonym_analyzer("simple", {"big": ["large"]})]
    for az in analyzers:
        fn = tokenizer_fn(az)
        for t in texts:
            assert fn(t) == tokenize_py(t, az), (az, t)

    import pytest

    with pytest.raises(ValueError):
        tokenizer_fn("no_such_analyzer")


def test_extract_corpus_html_gate_identity(spark):
    """extract_corpus must produce identical (doc_id, terms, doclen) whether
    a row carries text, only html, or neither — the round-6 html-argument
    gate (ship html to Python only where text is null) and the whole-batch
    text passthrough must not change any row."""
    from openmatch_spark.analysis import extract_corpus, tokenize_py

    rows = [
        ("u1", b"<b>ignored html</b>", "kept text one", "en"),
        ("u2", b"<p>from <script>drop()</script>html Two</p>", None, "en"),
        ("u3", None, None, "en"),
        ("u4", None, "only text four", "en"),
        ("u5", b"<style>x{}</style>tag<br/>soup", None, "en"),
    ]
    pages = spark.createDataFrame(
        rows, "url string, html binary, text string, lang string"
    )
    got = {
        r["doc_id"]: (r["terms"], r["doclen"])
        for r in extract_corpus(pages, analyzer="dpr").collect()
    }

    def strip(h):
        import re

        raw = re.sub(rb"(?s)<[^>]*>", b" ",
                     re.sub(rb"(?is)<(script|style)[^>]*>.*?</\1>", b" ", h))
        return raw.decode("utf-8", errors="replace")

    for url, h, t, _ in rows:
        txt = t if t is not None else (strip(h) if h is not None else None)
        want = tokenize_py(txt, "dpr") if txt is not None else []
        assert got[url][0] == want, url
        assert got[url][1] == len(want), url

    # all-text frame (no html column at all) still works
    pages2 = spark.createDataFrame(
        [("u1", "alpha beta"), ("u2", "gamma")], "url string, text string"
    )
    got2 = {r["doc_id"]: r["terms"]
            for r in extract_corpus(pages2, analyzer="dpr").collect()}
    assert got2 == {"u1": ["alpha", "beta"], "u2": ["gamma"]}


def test_percolate_compiled_rules_identity(spark):
    """percolate(compiled=compile_rules(...)) — the per-stream rule
    compile serve_percolation uses — must produce the identical match set
    as the uncompiled distributed plan, across role mixes, phrase rules,
    filter-context gates, duplicate-qid rows, a NULL-qid row (the
    distributed plan drops it at the query_id equi-join, so it never
    matches), and min_should_match."""
    import json
    import random

    from openmatch_spark.query.percolate import compile_rules, percolate

    rnd = random.Random(17)
    vocab = [f"w{i}" for i in range(25)]
    docs = spark.createDataFrame(
        [(f"d{i}",
          " ".join(rnd.choice(vocab) for _ in range(rnd.randint(0, 18))),
          rnd.randint(0, 999), rnd.choice(["en", "de"]))
         for i in range(150)],
        "doc_id string, text string, n_chars int, lang string",
    )
    rule_rows = []
    for i in range(25):
        must = " ".join(rnd.sample(vocab, rnd.randint(0, 2))) or None
        should = " ".join(rnd.sample(vocab, rnd.randint(0, 3))) or None
        mnot = rnd.choice([None, rnd.choice(vocab)])
        filt = rnd.choice([None, None, json.dumps(
            [{"range": {"n_chars": {"gte": rnd.randint(0, 900)}}}]),
            json.dumps([{"term": {"lang": "en"}}])])
        mph = rnd.choice([None, None, None, " ".join(rnd.sample(vocab, 2))])
        nph = rnd.choice([None] * 4 + [" ".join(rnd.sample(vocab, 2))])
        if not (must or should or mph):
            must = rnd.choice(vocab)
        rule_rows.append((f"r{i}", must, should, mnot, filt, mph, nph))
    # a duplicate-qid row (roles must merge across rows, like the
    # distributed union+groupBy does)
    rule_rows.append(("r0", vocab[0], None, None, None, None, None))
    rule_rows.append((None, vocab[1], vocab[2], None, None, None, None))
    rules = spark.createDataFrame(
        rule_rows,
        "query_id string, must string, should string, must_not string,"
        " filter string, must_phrase string, not_phrase string",
    )
    comp = compile_rules(rules, analyzer="simple")
    for msm in (0, 2):
        a = sorted((r.doc_id, r.query_id, r.n_must, r.n_should)
                   for r in percolate(docs, rules, analyzer="simple",
                                      min_should_match=msm).collect())
        b = sorted((r.doc_id, r.query_id, r.n_must, r.n_should)
                   for r in percolate(docs, rules, analyzer="simple",
                                      min_should_match=msm,
                                      compiled=comp).collect())
        assert a == b and a, msm


def test_percolate_compiled_rejects_other_analyzer(spark):
    """Rules compiled under one analyzer must not be applied to docs
    tokenized under another: the term identity would silently differ."""
    from openmatch_spark.query.percolate import compile_rules, percolate

    docs = spark.createDataFrame([("d1", "alpha beta")], "doc_id string, text string")
    rules = spark.createDataFrame(
        [("r1", "beta", None, None)],
        "query_id string, must string, should string, must_not string",
    )
    comp = compile_rules(rules, analyzer="simple")
    with pytest.raises(ValueError, match="analyzer"):
        percolate(docs, rules, analyzer="dpr", compiled=comp)
