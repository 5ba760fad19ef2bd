"""Unit tests for the scalar text functions, mirroring the reference's
Rust unit tests (src/tokens.rs:50-133, src/ngrams/mod.rs:114-174) per
FIXTURES.md §6.
"""

from pyspark.sql import functions as F

from wimbd_spark.functions.text import (
    char_ngrams,
    doc_hash,
    hash32,
    ngram_strings,
    ngrams,
    term_count,
    tokenize,
    tokenize_words,
    url_ext_bucket,
    url_host,
    url_scheme,
    year_of,
)


def one(spark, col):
    return spark.range(1).select(col.alias("v")).collect()[0]["v"]


def test_tokenize_golden(spark):
    # src/tokens.rs:56-76 golden: 13 tokens, "RSS" and "2.0" intact.
    s = "You can follow any responses to this entry through the RSS 2.0 feed"
    toks = one(spark, tokenize(F.lit(s)))
    assert len(toks) == 13
    assert "RSS" in toks and "2.0" in toks


def test_tokenize_edge_cases(spark):
    assert one(spark, tokenize(F.lit("  a  b\tc \n"))) == ["a", "b", "c"]
    assert one(spark, tokenize(F.lit(""))) == []
    assert one(spark, tokenize(F.lit("   "))) == []
    assert one(spark, tokenize(F.lit(None).cast("string"))) is None


def test_tokenize_words_golden(spark):
    # src/tokens.rs:56-76 golden, verbatim: the exact token vector of
    # the reference's unicode-segmentation tokenizer.
    s = "You can follow any responses to this entry through the RSS 2.0 feed"
    toks = one(spark, tokenize_words(F.lit(s)))
    assert toks == [
        "You", "can", "follow", "any", "responses", "to", "this",
        "entry", "through", "the", "RSS", "2.0", "feed",
    ]


def test_tokenize_words_golden_ngrams(spark):
    # src/tokens.rs:78-131: 10-grams over the golden tokens → 4 windows,
    # first ["You"... "the"], last ["any"..."feed"].
    s = "You can follow any responses to this entry through the RSS 2.0 feed"
    # UDF output must be materialized before use in a higher-order
    # lambda (Catalyst restriction), hence the two-step select
    toks_df = spark.range(1).select(tokenize_words(F.lit(s)).alias("toks"))
    grams = toks_df.select(ngrams(F.col("toks"), 10).alias("v")).collect()[0]["v"]
    assert len(grams) == 4
    assert grams[0] == [
        "You", "can", "follow", "any", "responses", "to", "this",
        "entry", "through", "the",
    ]
    assert grams[3] == [
        "any", "responses", "to", "this", "entry", "through", "the",
        "RSS", "2.0", "feed",
    ]


def test_tokenize_words_uax29_behavior(spark):
    # split_word_bounds keeps punctuation as its own token (only
    # whitespace segments are dropped — src/tokens.rs:9-16)
    assert one(spark, tokenize_words(F.lit("Hi, there."))) == [
        "Hi", ",", "there", ".",
    ]
    # MidNumLet joins letters and numbers; MidNum joins numbers
    assert one(spark, tokenize_words(F.lit("don't stop"))) == ["don't", "stop"]
    assert one(spark, tokenize_words(F.lit("U.S.A. is"))) == [
        "U.S.A", ".", "is",
    ]
    assert one(spark, tokenize_words(F.lit("1,000.5!"))) == ["1,000.5", "!"]
    # ExtendNumLet underscores join; ellipsis breaks per char
    assert one(spark, tokenize_words(F.lit("foo_bar..."))) == [
        "foo_bar", ".", ".", ".",
    ]
    # Han segments per ideograph; Katakana runs join (UAX-29 WB13)
    assert one(spark, tokenize_words(F.lit("汉字 カタカナ abc"))) == [
        "汉", "字", "カタカナ", "abc",
    ]
    assert one(spark, tokenize_words(F.lit(None).cast("string"))) is None


def test_ngrams_windows(spark):
    # src/ngrams/mod.rs:120-140: "one two three four five" 4-grams → 2 windows
    toks = tokenize(F.lit("one two three four five"))
    grams = one(spark, ngrams(toks, 4))
    assert grams == [
        ["one", "two", "three", "four"],
        ["two", "three", "four", "five"],
    ]
    assert one(spark, ngram_strings(toks, 4)) == [
        "one two three four",
        "two three four five",
    ]


def test_ngrams_unigram_and_short(spark):
    toks = tokenize(F.lit("a b"))
    assert one(spark, ngram_strings(toks, 1)) == ["a", "b"]
    assert one(spark, ngram_strings(toks, 3)) == []  # only full windows


# The lambda forms the built-in array functions replaced, written out
# as they were: the parity reference for tokenize / ngram_strings(·, 1)
# / term_count, NULLs included.
def _old_tokenize(c):
    return F.filter(F.split(F.trim(c), r"\s+"), lambda x: x != F.lit(""))


def _old_unigrams(t):
    return F.when(
        F.size(t) >= 1,
        F.transform(
            F.sequence(F.lit(1), F.size(t)),
            lambda i: F.array_join(F.slice(t, i, 1), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _old_term_count(t, term):
    return F.size(F.filter(t, lambda x: x == F.lit(term)))


def test_tokenize_matches_lambda_form(spark):
    from wimbd_spark.session import local_frame

    texts = [
        None, "", "   ", "\tlead tab", "a\nb\r\n\r\nc", "x    y  z ",
        "héllo wörld 日本語 テキスト", " \u00a0nbsp\u00a0 ", "one",
    ]
    df = local_frame(
        spark, list(enumerate(texts)), "id int, text string"
    ).select(
        "id",
        tokenize(F.col("text")).alias("new"),
        _old_tokenize(F.col("text")).alias("old"),
    )
    rows = df.orderBy("id").collect()
    assert len(rows) == len(texts)
    for r in rows:
        assert r["new"] == r["old"], texts[r["id"]]
    assert rows[0]["new"] is None and rows[2]["new"] == []


def test_unigrams_and_term_count_match_lambda_forms(spark):
    from wimbd_spark.session import local_frame

    token_rows = [None, [], ["a"], ["a", "b", "a", "a"], ["a.b", "c"]]
    df = local_frame(
        spark, list(enumerate(token_rows)), "id int, t array<string>"
    )
    terms = ["a", "zzz", "a.b", ""]
    out = df.select(
        "id",
        ngram_strings(F.col("t"), 1).alias("new_g"),
        _old_unigrams(F.col("t")).alias("old_g"),
        *[term_count("t", u).alias(f"new{i}") for i, u in enumerate(terms)],
        *[
            _old_term_count(F.col("t"), u).alias(f"old{i}")
            for i, u in enumerate(terms)
        ],
    ).orderBy("id").collect()
    assert len(out) == len(token_rows)
    for r in out:
        assert r["new_g"] == r["old_g"], token_rows[r["id"]]
        for i in range(len(terms)):
            assert r[f"new{i}"] == r[f"old{i}"], (token_rows[r["id"]], terms[i])
    assert out[0]["new_g"] == [] and out[0]["new0"] is None
    assert out[3]["new0"] == 3 and out[3]["new1"] == 0


def test_char_ngrams(spark):
    # src/ngrams/mod.rs:150-173 char case on "test string"
    grams = one(spark, char_ngrams(F.lit("test string"), 4))
    assert grams[0] == "test" and grams[-1] == "ring"
    assert len(grams) == len("test string") - 4 + 1


def test_char_ngrams_regimes_agree_at_crossover(spark):
    """The short-doc substring path and the long-doc char-array path
    emit identical grams around the _CHAR_NGRAM_SHORT boundary, on
    multi-byte text, and on degenerate inputs (empty → NO grams, even
    at n=1 — the pre-r10 array form emitted a phantom '' there)."""
    from wimbd_spark.functions.text import _CHAR_NGRAM_SHORT

    B = _CHAR_NGRAM_SHORT
    cases = [
        "αβγδε" * (B // 5),        # exactly B chars, multibyte
        "αβγδε" * (B // 5) + "ζ",  # B+1 → long path
        "x" * (B - 1),
        "naïve café 🚀 日本語",
        "",
        "ab",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(cases)], ["id", "t"]
    )
    for n in (1, 3, 5):
        got = {
            r.id: r.g
            for r in df.select(
                "id", char_ngrams(F.col("t"), n).alias("g")
            ).collect()
        }
        for i, t in enumerate(cases):
            want = (
                [t[j : j + n] for j in range(len(t) - n + 1)]
                if len(t) >= n
                else []
            )
            assert got[i] == want, (n, i, t[:20])


def test_doc_hash_none_convention(spark):
    # helper_scripts/get_text_hashes.py:11-17
    import hashlib

    assert one(spark, doc_hash(F.lit("abc"))) == hashlib.md5(b"abc").hexdigest()
    assert one(spark, doc_hash(F.lit(None).cast("string"))) == "None"


def test_hash32_matches_duckdb(spark):
    import duckdb

    for s in ["abc", "hello world", ""]:
        expect = duckdb.sql(
            f"SELECT ('0x' || substr(md5('{s}'),1,8))::BIGINT"
        ).fetchone()[0]
        assert one(spark, hash32(F.lit(s))) == expect
    # salted variant
    expect = duckdb.sql(
        "SELECT ('0x' || substr(md5('7:abc'),1,8))::BIGINT"
    ).fetchone()[0]
    assert one(spark, hash32(F.lit("abc"), salt="7")) == expect


def test_url_functions(spark):
    u = F.lit("https://sub.example.co.uk/path/img.JPG?x=1")
    assert one(spark, url_host(u)) == "sub.example.co.uk"
    assert one(spark, url_scheme(u)) == "https"
    assert one(spark, url_ext_bucket(u)) == "jpg"
    assert one(spark, url_ext_bucket(F.lit("http://a.com/x.pdf"))) == "other"
    assert one(spark, url_ext_bucket(F.lit("http://a.com/"))) == "other"


def test_year_of(spark):
    assert one(spark, year_of(F.lit("2019-03-04T10:00:00"))) == 2019
    assert (
        one(
            spark,
            year_of(F.lit(None).cast("string"), F.lit("2021-01-01")),
        )
        == 2021
    )


def test_url_suffix_full_psl(spark):
    from wimbd_spark.functions.text import url_suffix

    cases = {
        "https://www.example.com/x": "com",
        "https://foo.co.uk/": "co.uk",
        "https://user.github.io/page": "github.io",
        "http://shop.example.com.tr/": "com.tr",
        "https://x.co.kr/": "co.kr",
        "https://a.s3.cn-north-1.amazonaws.com.cn/": "s3.cn-north-1.amazonaws.com.cn",
        # wildcard rule *.bd
        "http://foo.anything.bd/": "anything.bd",
        # exception rule !www.ck (suffix = rule minus leftmost label)
        "http://www.ck/": "ck",
        "http://shop.www.ck/": "ck",
        # unlisted TLD → NULL (tldextract yields empty suffix)
        "http://host.notarealtld12345/": None,
        "not a url": None,
        # IDN suffixes: hosts from try_parse_url are punycode, the dat
        # file is unicode — both forms must be indexed (tldextract
        # parity). xn--fiqs8s = 中国, xn--p1ai = рф
        "http://example.xn--fiqs8s/": "xn--fiqs8s",
        "http://site.xn--p1ai/page": "xn--p1ai",
    }
    rows = [(u,) for u in cases]
    out = (
        spark.createDataFrame(rows, ["url"])
        .select("url", url_suffix("url").alias("s"))
        .collect()
    )
    got = {r["url"]: r["s"] for r in out}
    assert got == cases


def test_let_single_evaluation_binding(spark):
    from pyspark.sql import functions as F

    from wimbd_spark.functions.text import let

    df = spark.createDataFrame([("a b c",), (None,)], ["t"])
    out = df.select(
        let(
            F.split(F.trim("t"), r"\s+"),
            lambda arr: F.when(F.size(arr) > 0, F.element_at(arr, 1)),
        ).alias("first"),
        let(F.col("t"), lambda c: F.length(c)).alias("n"),
    ).collect()
    assert (out[0].first, out[0].n) == ("a", 5)
    # NULL passes through the binding exactly like a direct reference
    assert (out[1].first, out[1].n) == (None, None)


def test_url_normalize_cases(spark):
    from wimbd_spark.functions.text import url_normalize

    cases = [
        # (input, expected)
        ("HTTP://WWW.Ex.COM:80/A/b/?utm_source=x&q=1#frag",
         "http://www.ex.com/A/b?q=1"),
        ("https://host.com:443/p/", "https://host.com/p"),
        ("https://host.com:8443/p", "https://host.com:8443/p"),  # non-default port kept
        ("http://host.com:443/p", "http://host.com:443/p"),  # wrong-scheme port kept
        ("https://h.com/x?gclid=1&fbclid=2&utm_medium=a", "https://h.com/x"),
        ("https://h.com/x?a=1&utm_source=s&b=2", "https://h.com/x?a=1&b=2"),
        ("https://h.com", "https://h.com"),
        ("https://h.com///", "https://h.com"),
        ("not a url", "not a url"),  # scheme-less passthrough
        ("", ""),
        (None, None),
        ("ftp://Files.Example.ORG/Pub/", "ftp://files.example.org/Pub"),
    ]
    df = spark.createDataFrame(
        [(i, u) for i, (u, _) in enumerate(cases)], ["i", "u"]
    )
    got = {
        r.i: r.n
        for r in df.select(
            "i", url_normalize(F.col("u")).alias("n")
        ).collect()
    }
    for i, (u, want) in enumerate(cases):
        assert got[i] == want, (u, got[i], want)


def test_url_normalize_idempotent_property(spark):
    """normalize(normalize(u)) == normalize(u) over a generated URL
    grid (schemes x cases x ports x fragments x tracking params x
    trailing slashes x scheme-less strings) — canonical forms must be
    fixed points, or URL-dedup keys would depend on how many times a
    pipeline stage ran. ONE Spark job for the whole grid."""
    import itertools

    from wimbd_spark.functions.text import url_normalize

    schemes = ["https://", "HTTP://", ""]
    hosts = ["Host.COM", "host.com:443", "host.com:8080"]
    paths = ["", "/A/b", "/A/b/", "/x//"]
    queries = ["", "?utm_source=a", "?q=1&utm_medium=x", "?q=1&r=2"]
    frags = ["", "#Frag"]
    urls = [
        "".join(parts)
        for parts in itertools.product(schemes, hosts, paths, queries, frags)
    ] + ["not a url", "", "mailto:a@b.c", "ftp://h/p?utm_source=x"]
    df = spark.createDataFrame([(u,) for u in urls], ["u"])
    once = url_normalize(F.col("u"))
    rows = df.select(
        F.col("u"),
        once.alias("n1"),
        url_normalize(once).alias("n2"),
    ).collect()
    bad = [(r.u, r.n1, r.n2) for r in rows if r.n1 != r.n2]
    assert not bad, bad


def test_psl_snapshot_sanity():
    """The vendored public-suffix list carries its snapshot header and
    still holds a set of long-stable multi-level rules — a truncated
    or mangled refresh fails here loudly instead of silently turning
    url_suffix into a TLD-only bucketer (r12 VERDICT #7)."""
    import os

    import wimbd_spark.functions.text as t

    path = os.path.join(
        os.path.dirname(t.__file__), "..", "data",
        "public_suffix_list.dat",
    )
    head = open(path, encoding="utf-8").read(4096)
    assert "SNAPSHOT" in head and "2026-08-13" in head
    exact, wc, exc = t._load_psl()
    for rule in ("co.uk", "com.au", "co.jp", "com.br", "co.kr",
                 "github.io", "org.uk"):
        assert rule in exact, f"stable PSL rule {rule!r} missing"
    assert "bd" in wc          # wildcard *.bd
    assert "www.ck" in exc     # exception !www.ck
    # size floor: the real list is ~14k lines / >9k rules; a stub
    # (the pre-r7 state) was ~50
    assert len(exact) > 5_000


def test_tokenize_words_jvm_twin_differential(spark):
    """The JVM regex (r13 VERDICT item 5) is value-identical to the
    Python reference ``_uax29_words``, run on the collected texts, on
    a deterministic differential corpus covering every automaton
    branch: ASCII word runs + mids, non-ASCII letters/digits/marks,
    Katakana joins (incl. the block's non-letter members ・ ゠),
    Hiragana/Han per-char breaks, underscore bridges, emoji, and the
    ASCII fast branch's guard boundary (word-mid-word across the
    ASCII/non-ASCII line)."""
    import random

    from wimbd_spark.functions.text import _uax29_words, tokenize_words

    curated = [
        "You can follow any responses to this entry through the RSS"
        " 2.0 feed",
        "Hi, there.", "don't stop", "U.S.A. is", "1,000.5!",
        "foo_bar...", "汉字 カタカナ abc", "a.b", "a'1", "1.a", "a._",
        "", "   ", "naïve café 🚀 日本語", "don’t", "_", "か_a",
        "カ_a", "0_・걸", "e.g. i.e.", "3.14159", "a:b", "a：b",
        "м.и.р", "٣٤٥", "१.२", "a·b", "ｱｲｳ", "x́", "á.b́",
        "word. Next", "end.", "don’", "カ・カ", "゠ヽｰ",
    ]
    rng = random.Random(20260816)
    alphabet = (
        list("abcXYZ019_.,;:'’·—!?#%&*()[]{}\"\\/<>~`^|  \t\n")
        + list("αβγДж中文字カタひら한글ﷺ🚀😀é́ñ٣४ｱ.’‧・")
        + ["́", "‍", "゠", "ヽ", "ｰ"]
    )
    fuzz = [
        "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 60)))
        for _ in range(400)
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(curated + fuzz)], ["id", "t"]
    )
    got = df.select(
        "id", "t", tokenize_words(F.col("t")).alias("jvm")
    ).collect()
    assert len(got) == len(curated) + len(fuzz)
    bad = [
        (r["id"], r["jvm"])
        for r in got
        if r["jvm"] != _uax29_words(r["t"])
    ]
    assert bad == [], bad[:5]
    # NULL passes through
    assert one(spark, tokenize_words(F.lit(None).cast("string"))) is None


