"""Aho-Corasick multi-pattern matching: automaton correctness,
row-identity of the automaton route with the predicate scan, and auto
routing."""

import pytest
from pyspark.sql import functions as F

from wimbd_spark.operators.multipattern import (
    _build_automaton,
    _matched_ids,
)
from wimbd_spark.search import count_documents_for_each_phrase


def test_automaton_overlaps_and_nesting():
    pats = [" a b ", " b c ", " a b c d ", " b ", " zz "]
    goto, fail, out = _build_automaton(pats)

    def ids(text):
        return _matched_ids(" " + text + " ", goto, fail, out)

    assert ids("a b c d") == {0, 1, 2, 3}  # overlapping + nested
    assert ids("a b x") == {0, 3}
    assert ids("b") == {3}
    assert ids("zz") == {4}
    assert ids("ab") == set()  # no token boundary
    assert ids("a bc") == set()


def test_ac_matches_aggregate_scan(spark):
    rows = [
        (1, "alpha beta gamma"),
        (2, "beta gamma delta"),
        (3, "alpha   beta"),  # irregular spacing
        (4, ""),
        (5, None),
        (6, "gamma"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    phrases = [
        "alpha beta", "beta gamma", "gamma", "delta",
        "missing phrase", "  beta   gamma  ",  # analyzer-normalized dup
    ]
    got = sorted(
        (r.phrase, r["count"])
        for r in count_documents_for_each_phrase(
            df, phrases, method="ac"
        ).collect()
    )
    want = sorted(
        (r.phrase, r["count"])
        for r in count_documents_for_each_phrase(
            df, phrases, method="agg"
        ).collect()
    )
    assert got == want
    d = dict(got)
    assert d["alpha beta"] == 2 and d["gamma"] == 3
    assert d["missing phrase"] == 0  # zero-count phrases restored


def test_auto_routing_and_validation(spark):
    df = spark.createDataFrame([(1, "a b")], ["doc_id", "text"])
    many = [f"tok{i}" for i in range(40)]

    def plan(q):
        return q._jdf.queryExecution().executedPlan().toString()

    # auto routes slop-0 batches to the automaton — AND-groups
    # included: the plan holds the Python map stage, not 40 predicates
    assert "MapInPandas" in plan(count_documents_for_each_phrase(df, many))
    assert "MapInPandas" in plan(
        count_documents_for_each_phrase(df, [["a", "b"]] * 40)
    )
    # slop>0 joins grams instead
    assert "MapInPandas" not in plan(
        count_documents_for_each_phrase(df, many, slop=1)
    )
    with pytest.raises(ValueError):
        count_documents_for_each_phrase(df, ["a"], method="ac", slop=1)
    with pytest.raises(ValueError):
        count_documents_for_each_phrase(
            df, ["a"], method="ac", token_aligned=False
        )
    # a blank phrase counts 0 on the automaton route, it does not raise
    got = dict(
        map(
            tuple,
            count_documents_for_each_phrase(
                df, ["a b", "   "], method="ac"
            ).collect(),
        )
    )
    assert got == {"a b": 1, "   ": 0}
    # a typo'd method must error, not silently run the slow path
    # (r10 ADVICE: method='AC'/'aho' fell through to the default)
    from wimbd_spark.search import get_documents_containing_phrases

    for bad in ("AC", "aho", "pred"):  # 'pred' is retrieval-only
        with pytest.raises(ValueError, match="method"):
            count_documents_for_each_phrase(df, ["a"], method=bad)
    for bad in ("AC", "aho", "agg"):  # 'agg' is counting-only
        with pytest.raises(ValueError, match="method"):
            get_documents_containing_phrases(df, ["a"], method=bad)


def test_ac_on_documents_table(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    toks = [
        r[0]
        for r in docs.select(
            F.explode(F.split(F.trim("text"), r"\s+"))
        )
        .distinct()
        .limit(60)
        .collect()
    ]
    phrases = toks[:30] + [f"{a} {b}" for a, b in zip(toks[:15], toks[15:30])]
    got = sorted(
        map(
            tuple,
            count_documents_for_each_phrase(
                docs, phrases, method="ac"
            ).collect(),
        )
    )
    want = sorted(
        map(
            tuple,
            count_documents_for_each_phrase(
                docs, phrases, method="agg"
            ).collect(),
        )
    )
    assert got == want


def test_retrieval_ac_matches_predicate(spark):
    from wimbd_spark.search import get_documents_containing_phrases

    rows = [
        (1, "alpha beta gamma"),
        (2, "beta gamma delta"),
        (3, "alpha only here"),
        (4, None),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    for all_p in (False, True):
        got = sorted(
            r.doc_id
            for r in get_documents_containing_phrases(
                df, ["alpha", "beta gamma"], num_documents=None,
                all_phrases=all_p, method="ac",
            ).collect()
        )
        want = sorted(
            r.doc_id
            for r in get_documents_containing_phrases(
                df, ["alpha", "beta gamma"], num_documents=None,
                all_phrases=all_p, method="pred",
            ).collect()
        )
        assert got == want, all_p
    # ANY: docs 1,2,3; ALL: doc 1 only
    assert sorted(
        r.doc_id
        for r in get_documents_containing_phrases(
            df, ["alpha", "beta gamma"], num_documents=None,
            all_phrases=True, method="ac",
        ).collect()
    ) == [1]
    # duplicate phrases don't inflate the ALL requirement
    assert sorted(
        r.doc_id
        for r in get_documents_containing_phrases(
            df, ["alpha", "alpha", "beta gamma"], num_documents=None,
            all_phrases=True, method="ac",
        ).collect()
    ) == [1]
    with pytest.raises(ValueError):
        get_documents_containing_phrases(
            df, ["a"], slop=1, method="ac"
        )


def test_trie_regex_equals_automaton_pure():
    """Pure-Python property: the trie-structured regex's existence
    answer and prefilter soundness match the exact automaton walk over
    adversarial pattern sets — shared prefixes, patterns nested inside
    others, regex metacharacters in tokens, overlapping plants."""
    import random

    from wimbd_spark.operators.multipattern import (
        _build_automaton,
        _matched_ids,
        _trie_regex,
    )

    rng = random.Random(20260815)
    words = ["a", "ab", "a.b", "(x)", "zz+", "the", "q"]
    for trial in range(60):
        n_pats = rng.randint(1, 12)
        pats = []
        for _ in range(n_pats):
            L = rng.randint(1, 4)
            pats.append(
                " " + " ".join(rng.choice(words) for _ in range(L)) + " "
            )
        # adversarial: make one pattern a strict prefix of another
        if len(pats) >= 2:
            pats[1] = pats[0].rstrip() + " " + rng.choice(words) + " "
        goto, fail, out = _build_automaton(pats)
        rx = _trie_regex(pats)
        for _ in range(20):
            toks = [rng.choice(words) for _ in range(rng.randint(0, 15))]
            if toks and rng.random() < 0.5:
                # plant a pattern (possibly overlapping an existing one)
                plant = rng.choice(pats).split()
                i = rng.randrange(0, len(toks) + 1)
                toks[i:i] = plant
            padded = " " + " ".join(toks) + " "
            exact = _matched_ids(padded, goto, fail, out)
            assert (rx.search(padded) is not None) == bool(exact), (
                pats,
                padded,
            )


def test_matcher_cache_bounded_and_reused():
    """_compiled caches per pattern set + kind and stays bounded (the
    entries are ~100 MB at the routing cap — unbounded growth would
    OOM a long-lived Python worker)."""
    from wimbd_spark.operators import multipattern as mp

    mp._MATCHER_CACHE.clear()
    a = mp._compiled([" a "], "regex")
    assert mp._compiled([" a "], "regex") is a  # reused, not rebuilt
    mp._compiled([" a "], "automaton")
    for i in range(6):
        mp._compiled([f" p{i} "], "regex")
    assert len(mp._MATCHER_CACHE) <= 4


def test_phrase_hits_ac_overlong_existence_parity(spark):
    """Route-independence of the contamination-audit row multiset
    (r11 ADVICE, medium): for phrases LONGER than
    GRAM_JOIN_MAX_PHRASE_TOKENS the gram path matches via a contains
    EXISTENCE join (one row per (doc, phrase) however many
    occurrences), so phrase_hits_ac must cap overlong counts at 1 —
    otherwise method='auto' silently changes audit row counts when it
    flips routes on phrase-set shape."""
    from wimbd_spark.index import GRAM_JOIN_MAX_PHRASE_TOKENS
    from wimbd_spark.operators.multipattern import phrase_hits_ac
    from wimbd_spark.streaming import (
        eval_gram_table,
        streaming_contamination_hits,
    )

    L = GRAM_JOIN_MAX_PHRASE_TOKENS + 3
    long_seq = " ".join(f"w{i}" for i in range(L))
    rows = [
        # overlong phrase appears TWICE; short phrase appears twice
        (1, f"{long_seq} mid quick brown x {long_seq} quick brown"),
        (2, "quick brown once"),
        (3, "nothing here"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    phrases = [long_seq, "quick brown"]

    ac = sorted(
        (r.doc_id, r.phrase)
        for r in phrase_hits_ac(df, phrases).collect()
    )
    # overlong: existence (1 row for doc 1); short: per-occurrence
    assert ac == [
        (1, "quick brown"),
        (1, "quick brown"),
        (1, long_seq),
        (2, "quick brown"),
    ]
    # the gram route on the same static frame agrees as a MULTISET
    grams = eval_gram_table(
        spark.createDataFrame([(p,) for p in phrases], ["phrase"])
    )
    gram = sorted(
        (r.doc_id, r.phrase)
        for r in streaming_contamination_hits(
            df, grams, method="gram"
        ).collect()
    )
    assert gram == ac
    # and the ac route of the streaming entry point routes here
    via = sorted(
        (r.doc_id, r.phrase)
        for r in streaming_contamination_hits(
            df, grams, method="ac"
        ).collect()
    )
    assert via == ac
