"""Dedup / decontaminate / overlap tests (J1-J4, A11)."""

import pytest
from pyspark.sql import functions as F

from wimbd_spark.operators.dedup import (
    contamination_rate,
    decontaminate,
    dedup_keep_first,
    duplicate_stats,
    find_examples,
    mark_duplicates,
    multi_overlap,
    overlap,
)

from conftest import forced_route


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (1, "alpha beta", "ds1"),
        (2, "gamma", "ds1"),
        (3, "alpha beta", "ds1"),  # dup of 1
        (4, "alpha beta", "ds2"),  # cross-dataset dup
        (5, "delta", "ds2"),
        (6, None, "ds2"),
        (7, None, "ds2"),  # null texts hash to "None" → dups
    ]
    return spark.createDataFrame(rows, ["doc_id", "text", "source"])


def test_dedup_keep_first(corpus):
    kept = sorted(r["doc_id"] for r in dedup_keep_first(corpus).collect())
    assert kept == [1, 2, 5, 6]


def test_mark_duplicates(corpus):
    flags = {
        r["doc_id"]: r["duplicate"] for r in mark_duplicates(corpus).collect()
    }
    assert flags == {1: False, 2: False, 3: True, 4: True, 5: False, 6: False, 7: True}


def test_dedup_null_key_rows_all_kept(spark):
    """A NULL dedup key (e.g. a document with no URL) must never form
    a duplicate group: url_normalize(NULL)=NULL and
    Window.partitionBy groups all NULLs together, which would silently
    drop every URL-less document but one (r10 ADVICE). NULL key =
    unknown, keep unconditionally."""
    from pyspark.sql import functions as F

    from wimbd_spark.functions.text import url_normalize

    df = spark.createDataFrame(
        [
            (1, "a", "https://h.com/p"),
            (2, "b", "https://h.com/p?utm_source=x"),  # dup of 1
            (3, "c", None),
            (4, "d", None),
            (5, "e", None),
        ],
        ["doc_id", "text", "url"],
    )
    key = url_normalize(F.col("url"))
    kept = sorted(
        r["doc_id"] for r in dedup_keep_first(df, key=key).collect()
    )
    assert kept == [1, 3, 4, 5]
    flags = {
        r["doc_id"]: r["duplicate"]
        for r in mark_duplicates(df, key=key).collect()
    }
    assert flags == {1: False, 2: True, 3: False, 4: False, 5: False}


def test_decontaminate(spark, corpus):
    evalset = spark.createDataFrame([("alpha beta",)], ["text"])
    kept = sorted(
        r["doc_id"] for r in decontaminate(corpus, evalset).collect()
    )
    assert kept == [2, 5, 6, 7]


def test_overlap(corpus):
    a = corpus.filter("source = 'ds1'")
    b = corpus.filter("source = 'ds2'")
    hashes = [r["hash"] for r in overlap(a, b).collect()]
    assert len(hashes) == 1  # only "alpha beta" is shared


def test_multi_overlap(corpus):
    rows = multi_overlap(corpus).collect()
    by_n = {}
    for r in rows:
        by_n.setdefault(r["n_datasets"], 0)
        by_n[r["n_datasets"]] += 1
    # "alpha beta" in both; gamma/delta/None-hash in one dataset each
    assert by_n == {1: 3, 2: 1}


def test_duplicate_stats(corpus):
    r = duplicate_stats(corpus).collect()[0]
    assert r["total"] == 7
    assert r["uniq_total"] == 4
    assert r["duplicates"] == 3 + 2  # alpha-beta×3 + None×2
    assert r["uniq_duplicates"] == 2


def test_duplicate_stats_grouped(corpus):
    rows = {
        r["source"]: r for r in duplicate_stats(corpus, "source").collect()
    }
    assert rows["ds1"]["duplicates"] == 2 and rows["ds1"]["total"] == 3
    assert rows["ds2"]["duplicates"] == 2 and rows["ds2"]["uniq_duplicates"] == 1


def test_find_examples(spark, corpus):
    import hashlib

    h = hashlib.md5(b"alpha beta").hexdigest()
    rows = find_examples(corpus, [h], k=2).collect()
    assert [r["doc_id"] for r in rows] == [1, 3]


def test_contamination_rate(spark, corpus):
    evalset = spark.createDataFrame(
        [("alpha",), ("gamma",), ("nothere",)], ["phrase"]
    )
    r = contamination_rate(evalset, corpus, "phrase").collect()[0]
    assert r["contaminated"] == 2 and r["total"] == 3
    assert abs(r["rate"] - 2 / 3) < 1e-12


def test_contamination_rate_prefilter(spark):
    """Anchored-token prefilter returns the same answer as the BNLJ.

    Covers: hit via interior-token anchor, candidate whose anchor
    matches but full phrase doesn't (contains-verify must reject),
    <3-token phrases on the direct path, and substring-across-token
    boundaries ("xb c dy" contains "b c d").
    """
    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps"),
            (2, "xb c dy"),
            (3, "brown bear"),  # shares anchor "brown", phrase absent
        ],
        ["doc_id", "text"],
    )
    evalset = spark.createDataFrame(
        [
            ("quick brown fox",),   # hit, anchored on "brown"
            ("b c d",),             # hit inside "xb c dy"
            ("slow brown snail",),  # anchor "brown" matches, phrase absent
            ("bear",),              # 1 token → direct path, hit
            ("no hit",),            # 2 tokens → direct path, miss
        ],
        ["phrase"],
    )
    expect = (3, 5, 3 / 5)
    for pf in ("small", "large"):
        with forced_route(spark, pf, "prefilter"):
            r = contamination_rate(evalset, corpus, "phrase")
        row = r.collect()[0]
        assert (row["contaminated"], row["total"]) == expect[:2], pf
        assert abs(row["rate"] - expect[2]) < 1e-12


def _rate_substring(spark, ev, docs, tmp_path):
    return contamination_rate(ev, docs, "phrase")


def _rate_tokens(spark, ev, docs, tmp_path):
    from wimbd_spark.operators.dedup import contamination_rate_ngrams

    return contamination_rate_ngrams(ev, docs, "phrase")


def _rate_indexed(spark, ev, docs, tmp_path):
    from wimbd_spark.index import build_phrase_index, load_phrase_index
    from wimbd_spark.operators.dedup import contamination_rate_indexed

    path = str(tmp_path / "degidx")
    build_phrase_index(docs, path, num_files=1)
    return contamination_rate_indexed(
        load_phrase_index(spark, path), ev, "phrase"
    )


@pytest.mark.parametrize(
    "rate", [_rate_substring, _rate_tokens, _rate_indexed],
    ids=["substring", "tokens", "indexed"],
)
def test_contamination_rates_drop_degenerate_phrases(spark, tmp_path, rate):
    """Every rate operator counts the same eval phrase set: distinct
    raw strings, NULL and blank phrases dropped (a NULL is no test
    item, and contains("") is true for every doc). An empty eval set
    has a NULL rate."""
    from wimbd_spark.session import local_frame

    docs = local_frame(
        spark,
        [(1, "the quick brown fox"), (2, "a b c")],
        "doc_id long, text string",
    )
    ev = local_frame(
        spark,
        [("quick brown",), (None,), ("",), ("   ",), ("zzz",), ("zzz",)],
        "phrase string",
    )
    row = rate(spark, ev, docs, tmp_path).collect()[0]
    assert (row["contaminated"], row["total"], row["rate"]) == (1, 2, 0.5)
    empty = local_frame(spark, [], "phrase string")
    row = rate(spark, empty, docs, tmp_path).collect()[0]
    assert (row["contaminated"], row["total"], row["rate"]) == (0, 0, None)


def test_contamination_rate_builds_without_jobs(spark, corpus):
    """The substring rate is one lazy aggregate: with the route forced
    (spark.wimbd.route.prefilter=small/large) building it runs no
    driver job."""
    import uuid

    from wimbd_spark.session import local_frame

    ev = local_frame(spark, [("alpha",), ("nothere",)], "phrase string")
    sc = spark.sparkContext
    for pf in ("small", "large"):
        group = f"rate-build-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            with forced_route(spark, pf, "prefilter"):
                df = contamination_rate(ev, corpus, "phrase")
        finally:
            sc._jsc.clearJobGroup()
        assert sc.statusTracker().getJobIdsForGroup(group) == [], pf
        row = df.collect()[0]
        assert (row["contaminated"], row["total"]) == (1, 2)


def test_contamination_rate_indexed_matches_token_semantics(spark, tmp_path):
    from pyspark.sql import functions as F

    from wimbd_spark.index import build_phrase_index, load_phrase_index
    from wimbd_spark.operators.dedup import contamination_rate_indexed

    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),
            (2, "beta gamma something else"),
        ],
        ["doc_id", "text"],
    )
    evalset = spark.createDataFrame(
        [
            ("alpha beta",),      # hit (doc 1)
            ("gamma delta",),     # hit (doc 1)
            ("delta alpha",),     # tokens present, never contiguous
            ("missing tokens",),  # absent
            ("alpha beta",),      # duplicate → counted once
            (None,),              # null phrase → ignored
        ],
        ["phrase"],
    )
    path = str(tmp_path / "cidx")
    build_phrase_index(corpus, path, num_files=1)
    idx = load_phrase_index(spark, path)
    row = contamination_rate_indexed(idx, evalset, "phrase").collect()[0]
    assert (row["contaminated"], row["total"]) == (2, 4)
    assert abs(row["rate"] - 0.5) < 1e-12
    # empty eval set → 0/0 with NULL rate (undefined, not "clean"), no crash
    empty = evalset.filter(F.col("phrase").isNull())
    row0 = contamination_rate_indexed(idx, empty, "phrase").collect()[0]
    assert (row0["contaminated"], row0["total"], row0["rate"]) == (0, 0, None)


def test_decontaminate_by_ngrams(spark):
    from wimbd_spark.operators.dedup import decontaminate_by_ngrams

    train = spark.createDataFrame(
        [
            (0, "s", "the quick brown fox"),
            (1, "s", "slow green turtle"),
            (2, "s", "quick brown"),          # eval phrase IS the doc
            (3, "s", None),                    # null text survives
            (4, "s", "brown quick"),           # tokens, wrong order
            (5, "s", "a"),                     # shorter than any phrase
        ],
        ["doc_id", "source", "text"],
    )
    ev = spark.createDataFrame(
        [("quick brown",), ("turtle",), ("  ",), (None,)], ["phrase"]
    )
    kept = sorted(
        r["doc_id"] for r in decontaminate_by_ngrams(train, ev).collect()
    )
    assert kept == [3, 4, 5]
    flags = {
        r["doc_id"]: r["contaminated"]
        for r in decontaminate_by_ngrams(train, ev, mode="flag").collect()
    }
    assert flags == {0: True, 1: True, 2: True, 3: False, 4: False, 5: False}
    # schema preserved; flag mode adds exactly one column
    assert decontaminate_by_ngrams(train, ev).columns == train.columns
    assert decontaminate_by_ngrams(train, ev, mode="flag").columns == (
        train.columns + ["contaminated"]
    )
    # empty eval set: identity / all-False
    empty = spark.createDataFrame([], "phrase string")
    assert decontaminate_by_ngrams(train, empty).count() == 6
    with pytest.raises(ValueError, match="mode"):
        decontaminate_by_ngrams(train, ev, mode="bogus")


def test_decontaminate_by_ngrams_agrees_with_sweep(spark, documents, tmp_path):
    # coherence: the docs decontaminate_by_ngrams drops from corpus C
    # are exactly the docs the sweep's hit grams appear in
    from wimbd_spark.functions.text import ngram_strings, tokenize
    from wimbd_spark.index import build_phrase_index, load_phrase_index
    from wimbd_spark.operators.dedup import decontaminate_by_ngrams

    docs = documents.select("doc_id", "source", "text")
    ev = (
        docs.filter(F.col("source") == "src0")
        .limit(20)
        .select(
            F.explode(
                ngram_strings(tokenize(F.col("text")), 4)
            ).alias("phrase")
        )
        .distinct()
    )
    train = docs.filter(F.col("source") != "src0")
    dropped = (
        train.select("doc_id")
        .subtract(decontaminate_by_ngrams(train, ev).select("doc_id"))
    )
    # independent check through the index path: docs matching >=1 phrase
    path = str(tmp_path / "dcidx")
    build_phrase_index(train, path, num_files=2)
    idx = load_phrase_index(spark, path)
    from wimbd_spark.index import count_documents_for_each_phrase_df

    # any phrase with count>0 must correspond to >=1 dropped doc
    n_hit_phrases = (
        count_documents_for_each_phrase_df(idx, ev)
        .filter(F.col("count") > 0)
        .count()
    )
    n_dropped = dropped.count()
    if n_hit_phrases == 0:
        assert n_dropped == 0
    else:
        assert n_dropped > 0
    # exact doc-level parity with the gram-join matcher
    from wimbd_spark.index import _phrase_matches_gram_join

    plist = [r["phrase"].split() for r in ev.collect()]
    expect = {
        r["doc_id"]
        for r in _phrase_matches_gram_join(idx, plist)
        .select("doc_id")
        .distinct()
        .collect()
    }
    assert {r["doc_id"] for r in dropped.collect()} == expect


def test_decontaminate_by_ngrams_overlong_phrase(spark):
    # a >32-token phrase must match via normalized-text contains (the
    # gram explode would scale map-side output with L) — fully
    # distributed, exact token alignment
    from wimbd_spark.index import GRAM_JOIN_MAX_PHRASE_TOKENS
    from wimbd_spark.operators.dedup import decontaminate_by_ngrams

    L = GRAM_JOIN_MAX_PHRASE_TOKENS + 5
    long_seq = " ".join(f"w{i}" for i in range(L))
    train = spark.createDataFrame(
        [
            (0, f"prefix {long_seq} suffix"),    # contains, aligned
            (1, f"prefix{long_seq} suffix"),     # first token fused → no
            (2, "w0 w1 w2"),                     # short sub-sequence → no
            (3, f"x {long_seq}"),                # at the end, aligned
            (4, "quick brown"),                  # short-phrase hit
        ],
        ["doc_id", "text"],
    )
    ev = spark.createDataFrame(
        [(long_seq,), ("quick brown",)], ["phrase"]
    )
    kept = sorted(
        r["doc_id"] for r in decontaminate_by_ngrams(train, ev).collect()
    )
    assert kept == [1, 2]
    flags = {
        r["doc_id"]: r["contaminated"]
        for r in decontaminate_by_ngrams(train, ev, mode="flag").collect()
    }
    assert flags == {0: True, 1: False, 2: False, 3: True, 4: True}


def test_dedup_paragraphs(spark):
    from wimbd_spark.operators.dedup import dedup_paragraphs

    df = spark.createDataFrame(
        [
            (0, "s", "shared para\n\nunique zero"),
            (1, "s", "unique one\n\nshared para"),  # loses shared → keeps rest
            (2, "s", "shared para"),                 # all paragraphs lose → dropped
            (3, "s", "  \n\n "),                     # whitespace-only → dropped
            (4, "s", None),                          # null text → dropped
        ],
        ["doc_id", "source", "text"],
    )
    out = {r["doc_id"]: r["text"] for r in dedup_paragraphs(df).collect()}
    assert out == {0: "shared para\n\nunique zero", 1: "unique one"}
    # non-text columns pass through
    cols = dedup_paragraphs(df).columns
    assert set(cols) == {"doc_id", "source", "text"}
    # custom separator + within-doc duplicate paragraph: only the
    # first position survives
    df2 = spark.createDataFrame(
        [(0, "x | y | x"), (1, "y | z")], ["doc_id", "text"]
    )
    out2 = {
        r["doc_id"]: r["text"]
        for r in dedup_paragraphs(df2, sep=" | ").collect()
    }
    assert out2 == {0: "x | y", 1: "z"}


def test_repeated_spans_and_removal(spark):
    from wimbd_spark.operators.dedup import (
        remove_repeated_spans,
        repeated_spans,
    )

    df = spark.createDataFrame(
        [
            (0, "a b c d e f g h"),      # shares 'c d e' with doc 1
            (1, "x x c d e y z w"),
            (2, "p q r s t u v w2"),     # unique → no spans
            (3, "m n o m n o m n o q"),  # internal repeat covers 0..8
            (4, None),
        ],
        ["doc_id", "text"],
    )
    sp = sorted(map(tuple, repeated_spans(df, k=3).collect()))
    assert sp == [(0, 2, 4), (1, 2, 4), (3, 0, 8)]
    out = {
        r["doc_id"]: r["text"]
        for r in remove_repeated_spans(df, k=3).collect()
    }
    assert out == {
        0: "a b f g h",
        1: "x x y z w",
        2: "p q r s t u v w2",
        3: "q",
        4: None,
    }
    # precomputed-spans reuse gives the same enforcement
    pre = repeated_spans(df, k=3)
    out2 = {
        r["doc_id"]: r["text"]
        for r in remove_repeated_spans(df, k=3, spans=pre).collect()
    }
    assert out2 == out
    # two disjoint repeated regions stay separate spans
    df2 = spark.createDataFrame(
        [(0, "a b c X d e f"), (1, "a b c Y d e f")], ["doc_id", "text"]
    )
    sp2 = sorted(map(tuple, repeated_spans(df2, k=3).collect()))
    assert sp2 == [(0, 0, 2), (0, 4, 6), (1, 0, 2), (1, 4, 6)]


def test_decontaminate_by_ngrams_slop(spark):
    # r8: slop widens containment to in-order-within-window matching
    from wimbd_spark.operators.dedup import decontaminate_by_ngrams

    train = spark.createDataFrame(
        [
            (0, "quick brown fox"),          # contiguous hit
            (1, "quick red brown fox"),      # 1 intervening token
            (2, "quick red blue brown"),     # 2 intervening tokens
            (3, "brown then quick"),         # wrong order at any slop
            (4, "nothing here"),
        ],
        ["doc_id", "text"],
    )
    ev = spark.createDataFrame([("quick brown",)], ["phrase"])
    kept0 = sorted(
        r["doc_id"] for r in decontaminate_by_ngrams(train, ev).collect()
    )
    assert kept0 == [1, 2, 3, 4]
    kept1 = sorted(
        r["doc_id"]
        for r in decontaminate_by_ngrams(train, ev, slop=1).collect()
    )
    assert kept1 == [2, 3, 4]
    kept2 = sorted(
        r["doc_id"]
        for r in decontaminate_by_ngrams(train, ev, slop=2).collect()
    )
    assert kept2 == [3, 4]
    # flag mode agrees with drop mode at slop
    flags = {
        r["doc_id"]: r["contaminated"]
        for r in decontaminate_by_ngrams(
            train, ev, mode="flag", slop=1
        ).collect()
    }
    assert flags == {0: True, 1: True, 2: False, 3: False, 4: False}
    # combo blow-up (trigrams at slop=40: C(42,2)=861 > 512) no
    # longer raises — the over-budget length routes through the scan
    # predicate (r12 VERDICT #5) with identical doc-level semantics:
    # in-order subsequence within a 43-token window
    ev3 = spark.createDataFrame([("quick brown fox",)], ["phrase"])
    kept_scan = sorted(
        r["doc_id"]
        for r in decontaminate_by_ngrams(train, ev3, slop=40).collect()
    )
    assert kept_scan == [2, 3, 4]
    # overlong + slop routes to the scan predicate too (contains is
    # contiguous-only): a no-match suite keeps everything...
    long_ev = spark.createDataFrame(
        [(" ".join(f"w{i}" for i in range(40)),)], ["phrase"]
    )
    kept_long = sorted(
        r["doc_id"]
        for r in decontaminate_by_ngrams(train, long_ev, slop=1).collect()
    )
    assert kept_long == [0, 1, 2, 3, 4]
    # ...and a genuinely slop-matching overlong phrase drops its doc
    long_train = train.unionByName(
        spark.createDataFrame(
            [
                (
                    5,
                    " ".join(
                        f"w{i}" + (" XX" if i == 20 else "")
                        for i in range(40)
                    ),
                )
            ],
            ["doc_id", "text"],
        )
    )
    kept_hit = sorted(
        r["doc_id"]
        for r in decontaminate_by_ngrams(
            long_train, long_ev, slop=1
        ).collect()
    )
    assert kept_hit == [0, 1, 2, 3, 4]


def test_decontaminate_ac_routing_and_parity(spark):
    """method='ac' is row-identical to the gram join; 'auto' routes to
    the automaton only where the gram multipliers bite (>= 4 distinct
    short lengths), stays on grams for single-length sets, and always
    under slop>0 / custom tokenizers (r10 VERDICT #3)."""
    from wimbd_spark.functions.text import ngram_strings, tokenize
    from wimbd_spark.operators.dedup import decontaminate_by_ngrams

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    )
    train = docs.filter(F.col("source") != "src0")
    src0 = docs.filter(F.col("source") == "src0")
    parts = [
        src0.select(
            F.explode(ngram_strings(tokenize("text"), n)).alias("phrase")
        )
        .distinct()
        .limit(40)
        for n in (3, 4, 5, 6)
    ]
    ev = parts[0]
    for p in parts[1:]:
        ev = ev.unionByName(p)
    ev = ev.distinct()

    got = {}
    for m in ("gram", "ac", "auto"):
        got[m] = sorted(
            r.doc_id
            for r in decontaminate_by_ngrams(train, ev, method=m)
            .select("doc_id")
            .collect()
        )
    assert got["gram"] == got["ac"] == got["auto"]

    def plan_of(q):
        return q._jdf.queryExecution().executedPlan().toString()

    # 4 distinct lengths, >= 32 phrases -> auto takes the automaton
    assert "MapInPandas" in plan_of(
        decontaminate_by_ngrams(train, ev, method="auto")
    )
    # single-length set is flat in P on the gram join -> stays gram
    ev4 = (
        src0.select(
            F.explode(ngram_strings(tokenize("text"), 4)).alias("phrase")
        )
        .distinct()
        .limit(200)
    )
    assert "MapInPandas" not in plan_of(
        decontaminate_by_ngrams(train, ev4, method="auto")
    )
    # flag mode parity on the AC path
    fa = {
        (r.doc_id, r.contaminated)
        for r in decontaminate_by_ngrams(
            train, ev, mode="flag", method="gram"
        )
        .select("doc_id", "contaminated")
        .collect()
    }
    fb = {
        (r.doc_id, r.contaminated)
        for r in decontaminate_by_ngrams(
            train, ev, mode="flag", method="ac"
        )
        .select("doc_id", "contaminated")
        .collect()
    }
    assert fa == fb

    import pytest as _pytest

    with _pytest.raises(ValueError, match="method"):
        decontaminate_by_ngrams(train, ev, method="AC")
    with _pytest.raises(ValueError, match="slop"):
        decontaminate_by_ngrams(train, ev, method="ac", slop=1)


def test_decontaminate_ac_flag_parity_duplicate_ids(spark):
    """Flag-mode AC decontamination must not fan out rows when train
    carries duplicate ids (r11 ADVICE): the gram path distincts its
    hit set before the left join, so the AC path must too, keeping
    the documented row-identical parity between method='ac' and
    method='gram'."""
    from wimbd_spark.operators.dedup import decontaminate_by_ngrams

    train = spark.createDataFrame(
        [
            (1, "the quick brown fox"),
            (1, "the quick brown fox"),  # duplicate id AND text
            (2, "irrelevant words only"),
        ],
        ["doc_id", "text"],
    )
    evals = spark.createDataFrame(
        [("quick brown",)], ["phrase"]
    )
    got_ac = decontaminate_by_ngrams(
        train, evals, mode="flag", method="ac"
    ).collect()
    got_gram = decontaminate_by_ngrams(
        train, evals, mode="flag", method="gram"
    ).collect()
    assert len(got_ac) == train.count() == 3
    key = lambda r: (r.doc_id, r.text, r.contaminated)
    assert sorted(map(key, got_ac)) == sorted(map(key, got_gram))
    assert sum(r.contaminated for r in got_ac) == 2


def test_slop_budget_split_rule():
    from wimbd_spark.operators.dedup import _slop_budget_split

    # slop=1: cost of length L is C(L, L-1) = L; cheapest-first
    gram, scan = _slop_budget_split([2, 3, 9], 1, 6)
    assert gram == [2, 3] and scan == [9]
    # everything fits
    gram, scan = _slop_budget_split([2, 3], 1, 512)
    assert gram == [2, 3] and scan == []
    # nothing fits
    gram, scan = _slop_budget_split([13], 3, 100)  # C(15,12)=455
    assert gram == [] and scan == [13]


def test_decontaminate_slop_hatch_matches_gram_plan(spark, monkeypatch):
    """The scan-predicate fallback is row-identical to the gram plan:
    shrink the combination budget so one length routes to the scan
    while the other keeps the explode, and compare against the pure
    gram route under the default budget (budgeted path unchanged,
    r12 VERDICT #5 done-criteria)."""
    import wimbd_spark.index as idx
    from wimbd_spark.operators.dedup import decontaminate_by_ngrams

    train = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta"),
            (1, "alpha x beta gamma"),
            (2, "one two three four five"),
            (3, "one two x three four"),
            (4, "beta alpha delta gamma"),
            (5, None),
        ],
        ["doc_id", "text"],
    )
    ev = spark.createDataFrame(
        [("alpha beta",), ("one two three four",)], ["phrase"]
    )
    want = {
        r["doc_id"]: r["contaminated"]
        for r in decontaminate_by_ngrams(
            train, ev, mode="flag", slop=1
        ).collect()
    }
    # slop=1 costs: L=2 → 2, L=4 → 4; budget 3 → L=2 gram, L=4 scan
    monkeypatch.setattr(idx, "MAX_SLOP_COMBINATIONS", 3)
    got = {
        r["doc_id"]: r["contaminated"]
        for r in decontaminate_by_ngrams(
            train, ev, mode="flag", slop=1
        ).collect()
    }
    assert got == want
    assert want == {0: True, 1: True, 2: True, 3: True, 4: False, 5: False}
    # drop mode agrees
    kept = sorted(
        r["doc_id"]
        for r in decontaminate_by_ngrams(train, ev, slop=1).collect()
    )
    assert kept == [4, 5]
    # the expression budget still bounds the hatch
    monkeypatch.setattr(idx, "MAX_SLOP_COMBINATIONS", 0)
    import wimbd_spark.operators.dedup as dd

    monkeypatch.setattr(dd, "SCAN_SLOP_MAX_PHRASES", 1)
    with pytest.raises(ValueError, match="expression budget"):
        decontaminate_by_ngrams(train, ev, slop=1)


def test_phrase_route_rule():
    """The one token-phrase route rule shared by the search tails, the
    batch decontaminator and the stream gate, one case per branch, on
    {phrase length: distinct phrases} maps (pure Python, no Spark)."""
    from wimbd_spark.index import GRAM_JOIN_MAX_PHRASE_TOKENS as cap
    from wimbd_spark.operators.dedup import (
        _AC_MAX_PHRASES,
        _SCAN_MAX_BEFORE_GRAM,
        _route_rule,
    )

    def mix(total):
        # `total` phrases over lengths 2..4 plus one overlong phrase
        per = {2: 0, 3: 0, 4: 0, cap + 1: 1}
        for i in range(total - 1):
            per[2 + i % 3] += 1
        return per

    # slop 0, canonical tokenizer: the automaton from one phrase up to
    # its memory bound, then the gram join
    assert _route_rule({2: 1}, 0, None) == "ac"
    assert _route_rule(mix(_AC_MAX_PHRASES), 0, None) == "ac"
    assert _route_rule(mix(_AC_MAX_PHRASES + 1), 0, None) == "gram"
    # slop > 0 or a custom tokenizer: the scan, then the gram join
    for slop, tok in ((1, None), (2, None), (0, str.split)):
        assert _route_rule(mix(_SCAN_MAX_BEFORE_GRAM), slop, tok) == "scan"
        assert (
            _route_rule(mix(_SCAN_MAX_BEFORE_GRAM + 1), slop, tok) == "gram"
        )


def test_one_phrase_hit_planner_in_dedup():
    """The token-phrase hit plan is built in one place, so the search
    tails, the batch decontaminator, the stream gate and the index-free
    rate cannot drift apart:

    - the gram explode and the normalized-text form are called only
      inside dedup._gram_phrase_hits;
    - the scan and the automaton walker are called only by the
      planner (dedup._phrase_hits, and the gram plan's slop hatch);
    - search.py routes nothing itself: no module constant, no
      per-phrase ``count_if`` aggregate, no multipattern import — and
      synthesizes no row id (``monotonically_increasing_id`` depends
      on the row order, so two branches of one plan can number a row
      differently)."""
    import ast
    import pathlib

    import wimbd_spark

    pkg = pathlib.Path(wimbd_spark.__file__).parent
    callers: dict[str, set[str]] = {
        "_text_grams": set(),
        "_normalized_tokens_text": set(),
        "_scan_slop_matches": set(),
        "phrase_hits_ac": set(),
    }
    for path in pkg.rglob("*.py"):
        tree = ast.parse(path.read_text())
        for fn in ast.walk(tree):
            if not isinstance(fn, ast.FunctionDef):
                continue
            for c in ast.walk(fn):
                if not isinstance(c, ast.Call):
                    continue
                f = c.func
                name = f.id if isinstance(f, ast.Name) else getattr(
                    f, "attr", None
                )
                if name in callers:
                    callers[name].add(f"{path.stem}.{fn.name}")
    assert callers == {
        "_text_grams": {"dedup._gram_phrase_hits"},
        "_normalized_tokens_text": {"dedup._gram_phrase_hits"},
        "_scan_slop_matches": {
            "dedup._phrase_hits",
            "dedup._gram_phrase_hits",
        },
        "phrase_hits_ac": {"dedup._phrase_hits"},
    }

    search = ast.parse((pkg / "search.py").read_text())
    constants = [
        t.id
        for node in search.body
        if isinstance(node, (ast.Assign, ast.AnnAssign))
        for t in (
            node.targets if isinstance(node, ast.Assign) else [node.target]
        )
        if isinstance(t, ast.Name)
    ]
    assert constants == []
    for node in ast.walk(search):
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            mods = [node.module or ""] + [a.name for a in node.names]
            assert not any("multipattern" in m for m in mods), mods
        if isinstance(node, ast.Attribute):
            assert node.attr not in (
                "count_if",
                "monotonically_increasing_id",
            )
