"""The distributed contamination sweep (r5): eval phrases stay a
DataFrame end-to-end, corpus L-grams are reconstructed from postings,
and dense phrase batches route off the quadratic slot join.

Covers VERDICT r4 items 1-2: no driver .collect() of phrases on the
sweep path, no postings×slot fan-out, density-guard routing, and value
parity of every new path with the established slot-join/scan paths.
"""

import math

import pytest
from pyspark.sql import functions as F

import wimbd_spark.index as index_mod
from wimbd_spark.index import (
    build_phrase_index,
    corpus_grams_from_postings,
    count_documents_for_each_phrase_df,
    count_documents_for_each_phrase_indexed,
    load_phrase_index,
    phrase_matches_batch,
)
from wimbd_spark.operators.dedup import contamination_rate_indexed


@pytest.fixture(scope="module")
def corpus(documents):
    return documents.select("doc_id", "text")


@pytest.fixture(scope="module")
def index(spark, corpus, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("sweepidx") / "postings")
    build_phrase_index(corpus, path, num_files=4)
    return load_phrase_index(spark, path)


def _eval_grams(corpus, n=4):
    from wimbd_spark.functions.text import ngram_strings, tokenize

    return corpus.select(
        F.explode(ngram_strings(tokenize(F.col("text")), n)).alias("phrase")
    ).distinct()


# ------------------------------------------------ gram reconstruction


def test_vocab_pruned_grams_respect_contiguity(spark, tmp_path):
    # With vocab pruning, postings gaps must NOT splice distant tokens
    # into a false gram: "alpha xxx beta" has no "alpha beta" bigram.
    df = spark.createDataFrame(
        [(1, "alpha xxx beta"), (2, "alpha beta xxx")],
        ["doc_id", "text"],
    )
    path = str(tmp_path / "gapidx")
    build_phrase_index(df, path, num_files=1)
    idx = load_phrase_index(spark, path)
    vocab = spark.createDataFrame([("alpha",), ("beta",)], ["token"])
    got = {
        (r["doc_id"], tuple(r["_toks"]))
        for r in corpus_grams_from_postings(
            idx, [2], with_doc=True, vocab=vocab
        ).collect()
    }
    assert got == {(2, ("alpha", "beta"))}


def test_grams_match_direct_ngrams(spark, corpus, index):
    # postings-reconstructed L-grams == n-grams computed from the text
    from wimbd_spark.functions.text import tokenize

    for L in (1, 3):
        direct = {
            tuple(r["g"])
            for r in corpus.filter(F.col("text").isNotNull())
            .select(
                F.explode(
                    F.filter(
                        F.transform(
                            F.sequence(
                                F.lit(1),
                                F.size(tokenize(F.col("text")))
                                - F.lit(L - 1),
                            ),
                            lambda i: F.slice(
                                tokenize(F.col("text")), i, L
                            ),
                        ),
                        lambda a: F.size(a) == L,
                    )
                ).alias("g")
            )
            .distinct()
            .collect()
        }
        got = {
            tuple(r["_toks"])
            for r in corpus_grams_from_postings(index, [L]).collect()
        }
        assert got == direct


# ------------------------------------------------ density-guard routing


def _dense_phrases():
    # 125 trigrams over a 5-token vocabulary: 375 slots / 5 tokens =
    # 75 slots/token >= DENSE_SLOTS_PER_TOKEN — the contamination shape
    voc = ["join", "scan", "hash", "row", "table"]
    return [f"{a} {b} {c}" for a in voc for b in voc for c in voc]


def test_dense_batch_routes_to_gram_join(index, monkeypatch):
    calls = []
    orig = index_mod._phrase_matches_gram_join

    def spy(idx, ptoks, slop=0):
        calls.append(len(ptoks))
        return orig(idx, ptoks, slop)

    monkeypatch.setattr(index_mod, "_phrase_matches_gram_join", spy)
    phrase_matches_batch(index, _dense_phrases(), fanout_budget=100)
    assert calls == [125]


def test_diverse_batch_stays_on_slot_join(index, monkeypatch):
    def boom(idx, ptoks):  # pragma: no cover
        raise AssertionError("diverse batch must not route to gram join")

    monkeypatch.setattr(index_mod, "_phrase_matches_gram_join", boom)
    out = phrase_matches_batch(
        index, ["table scan", "hash join", "row batch"]
    )
    out.collect()  # plan construction AND execution stay on slot path


def test_dense_routing_parity(index):
    phrases = _dense_phrases()
    slot = sorted(
        map(
            tuple,
            phrase_matches_batch(
                index, phrases, fanout_budget=None
            ).collect(),
        )
    )
    gram = sorted(
        map(
            tuple,
            phrase_matches_batch(
                index, phrases, fanout_budget=100
            ).collect(),
        )
    )
    assert slot == gram
    assert len(slot) > 0  # the fixture corpus matches some trigrams


def test_dense_slop_batch_routes_to_gram_join(index):
    # r8: dense slop>0 batches now ride the windowed-subsequence gram
    # join (no warning, no slot fan-out) and must agree with the
    # slot-join plan exactly
    phrases = _dense_phrases()
    out = phrase_matches_batch(index, phrases, slop=1, fanout_budget=100)
    ref = phrase_matches_batch(index, phrases, slop=1, fanout_budget=None)
    got = sorted(map(tuple, out.collect()))
    assert got == sorted(map(tuple, ref.collect()))
    assert len(got) > 0


def test_gram_join_slop_parity(index):
    phrases = _dense_phrases()[:30]
    for slop in (1, 2):
        slot = sorted(
            map(
                tuple,
                phrase_matches_batch(
                    index, phrases, slop=slop, fanout_budget=None
                ).collect(),
            )
        )
        gram = sorted(
            map(
                tuple,
                index_mod._phrase_matches_gram_join(
                    index, [p.split() for p in phrases], slop
                ).collect(),
            )
        )
        assert slot == gram, f"slop={slop}"
        assert len(slot) > 0


def test_dense_slop_combo_blowup_warns_but_answers(index):
    # trigrams at slop=40 enumerate C(42,2)=861 > MAX_SLOP_COMBINATIONS
    # per position — past the gram join's bounds, so the dense guard
    # warns and stays on the slot join (whose cost ignores slop)
    phrases = _dense_phrases()
    with pytest.warns(UserWarning, match="combo blow-up"):
        out = phrase_matches_batch(
            index, phrases, slop=40, fanout_budget=100
        )
    ref = phrase_matches_batch(index, phrases, slop=40, fanout_budget=None)
    assert sorted(map(tuple, out.collect())) == sorted(
        map(tuple, ref.collect())
    )


def test_slop_combo_budget_raises_on_direct_call(index):
    with pytest.raises(ValueError, match="slot-join"):
        corpus_grams_from_postings(index, [3], slop=40)


# ------------------------------------------------ DataFrame-native counts


def test_phrase_df_counts_match_list_api(spark, index):
    phrases = _dense_phrases() + ["zzz missing gram"]
    lst = {
        r["phrase"]: r["count"]
        for r in count_documents_for_each_phrase_indexed(
            index, phrases, slop=0
        ).collect()
    }
    pdf = spark.createDataFrame([(p,) for p in phrases], ["phrase"])
    got = {
        r["phrase"]: r["count"]
        for r in count_documents_for_each_phrase_df(index, pdf).collect()
    }
    assert got == lst
    assert got["zzz missing gram"] == 0


# ------------------------------------------------ the sweep itself


def test_sweep_matches_legacy_batched_path(spark, corpus, index):
    ev = _eval_grams(corpus.limit(40), n=4)
    fast = contamination_rate_indexed(index, ev, "phrase").collect()[0]
    # force the legacy slot-join path via slop>0? No — compare against
    # the collected-list path by calling with an explicit analyzer
    # (slop=0, analyzer set → fallback branch)
    legacy = contamination_rate_indexed(
        index, ev, "phrase", analyzer=lambda s: s.split()
    ).collect()[0]
    assert fast["contaminated"] == legacy["contaminated"]
    assert fast["total"] == legacy["total"]
    assert fast["rate"] == pytest.approx(legacy["rate"])
    assert fast["total"] > 0


def test_sweep_collects_no_phrases(spark, corpus, index, monkeypatch):
    # The r4 scale-killer: every eval phrase pulled to the driver.
    # The r5 contract: the only collected state is the distinct phrase
    # LENGTHS. Count every row that crosses DataFrame.collect().
    from pyspark.sql import DataFrame

    ev = _eval_grams(corpus, n=4)
    n_phrases = ev.count()
    assert n_phrases > 100  # the guard must be meaningful

    collected = []
    orig = DataFrame.collect

    def counting(self):
        rows = orig(self)
        collected.append(len(rows))
        return rows

    monkeypatch.setattr(DataFrame, "collect", counting)
    out = contamination_rate_indexed(index, ev, "phrase")
    row = orig(out)[0]
    assert row["total"] == n_phrases
    # lengths-only: one tiny collect, nowhere near the phrase count
    assert sum(collected) <= 8, collected


def test_slop_sweep_matches_slot_join_path(spark, corpus, index):
    # r8 (VERDICT item 3): slop>0 sweeps ride the distributed
    # windowed-subsequence gram join; the collected slot-join path
    # (forced via analyzer=) is the established oracle-gated twin
    ev = _eval_grams(corpus.limit(40), n=4)
    for slop in (1, 2):
        fast = contamination_rate_indexed(
            index, ev, "phrase", slop=slop
        ).collect()[0]
        legacy = contamination_rate_indexed(
            index, ev, "phrase", slop=slop, analyzer=lambda s: s.split()
        ).collect()[0]
        assert fast["contaminated"] == legacy["contaminated"], slop
        assert fast["total"] == legacy["total"], slop
    # slop can only widen the hit set
    base = contamination_rate_indexed(index, ev, "phrase").collect()[0]
    wide = contamination_rate_indexed(
        index, ev, "phrase", slop=2
    ).collect()[0]
    assert wide["contaminated"] >= base["contaminated"]
    assert base["contaminated"] > 0


def test_slop_sweep_collects_no_phrases(spark, corpus, index, monkeypatch):
    # the r8 contract extends the r5 one to slop>0: the only collected
    # state is the distinct phrase LENGTHS
    from pyspark.sql import DataFrame

    ev = _eval_grams(corpus, n=4)
    n_phrases = ev.count()
    assert n_phrases > 100

    collected = []
    orig = DataFrame.collect

    def counting(self):
        rows = orig(self)
        collected.append(len(rows))
        return rows

    monkeypatch.setattr(DataFrame, "collect", counting)
    out = contamination_rate_indexed(index, ev, "phrase", slop=1)
    row = orig(out)[0]
    assert row["total"] == n_phrases
    assert sum(collected) <= 8, collected


def test_slop_sweep_combo_blowup_falls_back_correctly(spark, corpus, index):
    # a slop × length combination past MAX_SLOP_COMBINATIONS routes
    # every phrase through the bounded slot-join batch — same answers
    ev = _eval_grams(corpus.limit(6), n=4)
    fast = contamination_rate_indexed(
        index, ev, "phrase", slop=40
    ).collect()[0]
    legacy = contamination_rate_indexed(
        index, ev, "phrase", slop=40, analyzer=lambda s: s.split()
    ).collect()[0]
    assert fast["contaminated"] == legacy["contaminated"]
    assert fast["total"] == legacy["total"]


def test_sweep_plan_has_no_slot_fanout_and_no_corpus_scan(
    spark, corpus, index, monkeypatch
):
    # structurally: the sweep must not call phrase_matches_batch, and
    # its plan must read only the postings parquet
    def boom(*a, **k):  # pragma: no cover
        raise AssertionError("sweep must not use the slot join")

    monkeypatch.setattr(index_mod, "phrase_matches_batch", boom)
    ev = _eval_grams(corpus, n=4)
    out = contamination_rate_indexed(index, ev, "phrase")
    out.collect()
    # r8: the slop>0 sweep holds the same structural contract
    out = contamination_rate_indexed(index, ev, "phrase", slop=1)
    out.collect()


def test_sweep_empty_and_degenerate_inputs(spark, index):
    ev = spark.createDataFrame(
        [(None,), ("   ",)], schema="phrase string"
    )
    row = contamination_rate_indexed(index, ev, "phrase").collect()[0]
    # rate is NULL (undefined 0/0), not 0.0 — 0.0 would read "clean"
    assert (row["contaminated"], row["total"], row["rate"]) == (0, 0, None)


def test_sweep_mixed_lengths(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "b c"), (3, "d e f")], ["doc_id", "text"]
    )
    path = str(tmp_path / "mixidx")
    build_phrase_index(df, path, num_files=1)
    idx = load_phrase_index(spark, path)
    ev = spark.createDataFrame(
        [("b c",), ("a b c",), ("e",), ("c d e",), ("x y",)], ["phrase"]
    )
    row = contamination_rate_indexed(idx, ev, "phrase").collect()[0]
    # hits: "b c" (docs 1,2), "a b c" (doc 1), "e" (doc 3); misses:
    # "c d e" (spans docs), "x y"
    assert (row["contaminated"], row["total"]) == (3, 5)


def test_incomplete_lengths_fails_loudly(spark, index):
    """VERDICT r15 item 8: a lying ``lengths=`` list must kill the
    job with a message naming the missing length, not silently
    zero-count / drop the undeclared phrases."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PySparkRuntimeError, SparkRuntimeException

    from wimbd_spark.index import (
        contaminated_examples,
        count_documents_for_each_phrase_df,
    )

    errs = (Py4JJavaError, PySparkRuntimeError, SparkRuntimeException)
    ev = spark.createDataFrame(
        [("b c",), ("a b c",)], ["phrase"]
    )  # lengths 2 AND 3; declare only 2
    with pytest.raises(errs, match="token-length 3"):
        count_documents_for_each_phrase_df(
            index, ev, lengths=[2]
        ).collect()
    with pytest.raises(errs, match="token-length 3"):
        contamination_rate_indexed(
            index, ev, "phrase", lengths=[2]
        ).collect()
    with pytest.raises(errs, match="token-length 3"):
        contaminated_examples(index, ev, lengths=[2]).collect()
    # truthful lists still answer (and match the probe path)
    want = {
        (r["phrase"], r["count"])
        for r in count_documents_for_each_phrase_df(index, ev).collect()
    }
    got = {
        (r["phrase"], r["count"])
        for r in count_documents_for_each_phrase_df(
            index, ev, lengths=[2, 3]
        ).collect()
    }
    assert got == want


# ------------------------------------------------ overlong phrases


def test_sweep_overlong_phrases_use_slot_path(spark, tmp_path):
    # a >32-token phrase must bypass gram reconstruction (whose window
    # frame scales with max L) and still count correctly
    from wimbd_spark.index import GRAM_JOIN_MAX_PHRASE_TOKENS

    long_text = " ".join(f"w{i}" for i in range(40))
    df = spark.createDataFrame(
        [(1, long_text), (2, "a b c")], ["doc_id", "text"]
    )
    path = str(tmp_path / "longidx")
    build_phrase_index(df, path, num_files=1)
    idx = load_phrase_index(spark, path)
    long_phrase = " ".join(
        f"w{i}" for i in range(GRAM_JOIN_MAX_PHRASE_TOKENS + 3)
    )
    ev = spark.createDataFrame(
        [(long_phrase,), ("a b",), ("w0 w2",)], ["phrase"]
    )
    row = contamination_rate_indexed(idx, ev, "phrase").collect()[0]
    # hits: the 35-token prefix (doc 1) and "a b" (doc 2); "w0 w2" not
    # contiguous
    assert (row["contaminated"], row["total"]) == (2, 3)

    counts = {
        r["phrase"]: r["count"]
        for r in count_documents_for_each_phrase_df(idx, ev).collect()
    }
    assert counts == {long_phrase: 1, "a b": 1, "w0 w2": 0}


def test_overlong_with_custom_tokenizer_raises(spark, tmp_path):
    from pyspark.sql import functions as SF

    long_text = " ".join(f"w{i}" for i in range(40))
    df = spark.createDataFrame([(1, long_text)], ["doc_id", "text"])
    path = str(tmp_path / "longidx2")
    build_phrase_index(df, path, num_files=1)
    idx = load_phrase_index(spark, path)
    ev = spark.createDataFrame([(long_text,)], ["phrase"])

    def custom_tok(c):
        return SF.split(SF.lower(c), " ")

    with pytest.raises(ValueError, match="custom tokenizer"):
        contamination_rate_indexed(
            idx, ev, "phrase", tokenizer=custom_tok
        ).collect()
    with pytest.raises(ValueError, match="custom"):
        count_documents_for_each_phrase_df(
            idx, ev, tokenizer=custom_tok
        )


# ------------------------------------------------ audit examples


def test_contaminated_examples_match_retrieval_api(spark, index):
    from wimbd_spark.index import contaminated_examples

    phrases = ["table scan", "join", "zzz nothing here"]
    pdf = spark.createDataFrame([(p,) for p in phrases], ["phrase"])
    got = contaminated_examples(index, pdf, k=3).collect()
    by_phrase = {}
    for r in got:
        by_phrase.setdefault(r["phrase"], []).append((r["rank"], r["doc_id"]))
    assert "zzz nothing here" not in by_phrase  # no-match → no rows
    for p in ["table scan", "join"]:
        # ranks are 1..k, doc_ids ascending (deterministic)
        ranked = sorted(by_phrase[p])
        assert [r for r, _ in ranked] == list(range(1, len(ranked) + 1))
        ids = [d for _, d in ranked]
        assert ids == sorted(ids)
        # the examples are the k SMALLEST matching doc ids per the
        # full matcher
        full = sorted(
            r["doc_id"]
            for r in phrase_matches_batch(index, [p], fanout_budget=None)
            .select("doc_id")
            .distinct()
            .collect()
        )
        assert ids == full[: len(ids)]
        assert len(ids) == min(3, len(full))


# ------------------------------------------------ index-free token-aligned scan


def test_scan_token_aligned_agrees_with_indexed(spark, corpus, index):
    from wimbd_spark.operators.dedup import (
        contamination_rate_ngrams,
        contamination_report,
    )

    ev = _eval_grams(corpus, n=4)
    scan = contamination_rate_ngrams(ev, corpus, "phrase").collect()[0]
    idxd = contamination_rate_indexed(index, ev, "phrase").collect()[0]
    assert (scan["contaminated"], scan["total"]) == (
        idxd["contaminated"],
        idxd["total"],
    )
    # contamination_report routes token_aligned scans here
    routed = contamination_report(
        ev, "phrase", corpus=corpus, token_aligned=True
    ).collect()[0]
    assert routed["contaminated"] == scan["contaminated"]


def test_scan_token_aligned_overlong_phrase(spark):
    from wimbd_spark.index import GRAM_JOIN_MAX_PHRASE_TOKENS
    from wimbd_spark.operators.dedup import contamination_rate_ngrams

    L = GRAM_JOIN_MAX_PHRASE_TOKENS + 4
    long_seq = " ".join(f"w{i}" for i in range(L))
    corpus = spark.createDataFrame(
        [(1, f"pre {long_seq} post"), (2, "a b c")], ["doc_id", "text"]
    )
    ev = spark.createDataFrame(
        [(long_seq,), ("a b",), ("w0 w2",), (f"x {long_seq}",)],
        ["phrase"],
    )
    row = contamination_rate_ngrams(ev, corpus, "phrase").collect()[0]
    # hits: the long phrase (aligned in doc 1) and "a b"; "w0 w2" not
    # contiguous; "x <long>" absent
    assert (row["contaminated"], row["total"]) == (2, 4)


def test_scan_path_slop_matches_indexed(spark, corpus, index):
    # r8: the index-free token-aligned scan supports slop via the same
    # anchored-subsequence enumeration, map-side over token arrays
    from wimbd_spark.operators.dedup import contamination_rate_ngrams

    ev = _eval_grams(corpus.limit(40), n=4)
    for slop in (1, 2):
        scan = contamination_rate_ngrams(
            ev, corpus, "phrase", slop=slop
        ).collect()[0]
        idx = contamination_rate_indexed(
            index, ev, "phrase", slop=slop
        ).collect()[0]
        assert (scan["contaminated"], scan["total"]) == (
            idx["contaminated"],
            idx["total"],
        ), slop


def _rate_pair(df):
    row = df.collect()[0]
    return row["contaminated"], row["total"]


def test_scan_rate_overlong_slop_agrees_with_decontaminator(spark):
    # a 34-token phrase with slop=1 (overlong, so contiguous contains
    # cannot take it): the rate counts through the decontaminator's
    # planner, so the two agree phrase by phrase
    from wimbd_spark.operators.dedup import (
        contamination_rate_ngrams,
        contamination_report,
        decontaminate_by_ngrams,
    )
    from wimbd_spark.session import local_frame

    long_seq = " ".join(f"w{i}" for i in range(34))
    docs = local_frame(
        spark,
        [(1, f"pre {long_seq} post"), (2, "alpha x beta")],
        "doc_id long, text string",
    )
    phrases = [
        long_seq,                               # contiguous hit
        " ".join(f"w{i}" for i in range(34) if i != 5),  # gap of one
        f"x {long_seq}",                        # absent
        "alpha beta",                           # slop-1 hit
        "beta alpha",                           # out of order
    ]
    got = {}
    for p in phrases:
        ev = local_frame(spark, [(p,)], "phrase string")
        flagged = any(
            r["contaminated"]
            for r in decontaminate_by_ngrams(
                docs, ev, mode="flag", slop=1
            ).collect()
        )
        rate = _rate_pair(
            contamination_rate_ngrams(ev, docs, "phrase", slop=1)
        )
        assert rate == (int(flagged), 1), p
        got[p] = flagged
    assert got == {
        phrases[0]: True,
        phrases[1]: True,
        phrases[2]: False,
        phrases[3]: True,
        phrases[4]: False,
    }
    ev = local_frame(spark, [(p,) for p in phrases], "phrase string")
    assert _rate_pair(
        contamination_report(
            ev, "phrase", corpus=docs, slop=1, token_aligned=True
        )
    ) == (3, 5)


def test_scan_rate_wide_slop_agrees_with_indexed(spark, corpus, tmp_path):
    # slop=40 over 3-grams: C(42, 2) = 861 combinations break the
    # map-side budget, so every phrase takes the scan hatch (the index
    # side takes its slot-join batch)
    from wimbd_spark.index import MAX_SLOP_COMBINATIONS
    from wimbd_spark.operators.dedup import (
        SCAN_SLOP_MAX_PHRASES,
        contamination_rate_ngrams,
    )
    from wimbd_spark.session import local_frame

    small = corpus.filter(F.col("doc_id") < 12)
    path = str(tmp_path / "wideslop")
    build_phrase_index(small, path, num_files=1)
    idx = load_phrase_index(spark, path)
    toks = [
        r["text"].split()
        for r in corpus.filter(F.col("doc_id").between(12, 14)).collect()
    ]
    phrases = sorted(
        {" ".join(t[i:i + 3]) for t in toks for i in range(len(t) - 2)}
        | {f"{t[i]} {t[i + 9]} {t[i + 30]}" for t in toks
           for i in range(len(t) - 30)}
        | {f"{t[i]} zzq {t[i + 1]}" for t in toks for i in range(8)}
    )
    assert math.comb(3 + 40 - 1, 2) > MAX_SLOP_COMBINATIONS
    assert len(phrases) <= SCAN_SLOP_MAX_PHRASES
    ev = local_frame(spark, [(p,) for p in phrases], "phrase string")
    scan = _rate_pair(contamination_rate_ngrams(ev, small, "phrase", slop=40))
    idxd = _rate_pair(contamination_rate_indexed(idx, ev, "phrase", slop=40))
    assert scan == idxd
    assert 0 < scan[0] < scan[1] == len(phrases)


def test_scan_rate_raises_past_scan_budget(spark, corpus):
    # the one refusal left: more than SCAN_SLOP_MAX_PHRASES phrases
    # routed to the scan predicate (an expression-tree bound)
    from wimbd_spark.operators.dedup import (
        SCAN_SLOP_MAX_PHRASES,
        contamination_rate_ngrams,
    )
    from wimbd_spark.session import local_frame

    ev = local_frame(
        spark,
        [(f"a{i} b{i} c{i}",) for i in range(SCAN_SLOP_MAX_PHRASES + 1)],
        "phrase string",
    )
    with pytest.raises(ValueError, match="expression budget"):
        contamination_rate_ngrams(ev, corpus, "phrase", slop=40)


@pytest.mark.parametrize("hatch", [False, True])
def test_scan_rate_build_jobs_are_the_planners(spark, hatch):
    """Building the index-free rate runs only the shared planner's
    driver jobs: _phrase_route's length collect, plus the scan-hatch
    phrase collect when an overlong phrase meets slop>0 — the jobs
    building decontaminate_by_ngrams runs on the same input."""
    import uuid

    from wimbd_spark.operators.dedup import (
        _phrase_route,
        contamination_rate_ngrams,
        decontaminate_by_ngrams,
        eval_gram_table,
    )
    from wimbd_spark.session import local_frame

    long_seq = " ".join(f"w{i}" for i in range(34))
    docs = local_frame(
        spark, [(1, f"pre {long_seq} post"), (2, "a b c")],
        "doc_id long, text string",
    )
    ev = local_frame(
        spark, [("a b",), ("b c",), (long_seq,)], "phrase string"
    )
    slop = 1 if hatch else 0
    sc = spark.sparkContext

    def jobs(build):
        group = f"rate-build-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            build()
        finally:
            sc._jsc.clearJobGroup()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    route = jobs(
        lambda: _phrase_route(eval_gram_table(ev), "gram", slop, None)
    )
    scan = jobs(
        lambda: eval_gram_table(ev)
        .filter(F.col("_L") > 32)
        .select("_toks")
        .collect()
    )
    rate = jobs(
        lambda: contamination_rate_ngrams(ev, docs, "phrase", slop=slop)
    )
    decon = jobs(
        lambda: decontaminate_by_ngrams(docs, ev, slop=slop, method="gram")
    )
    assert route >= 1
    assert rate == decon == route + (scan if hatch else 0)


def test_phrase_df_counts_slop_matches_list_api(spark, index):
    phrases = _dense_phrases()[:25] + ["zzz missing gram"]
    for slop in (1,):
        lst = {
            r["phrase"]: r["count"]
            for r in count_documents_for_each_phrase_indexed(
                index, phrases, slop=slop
            ).collect()
        }
        pdf = spark.createDataFrame([(p,) for p in phrases], ["phrase"])
        got = {
            r["phrase"]: r["count"]
            for r in count_documents_for_each_phrase_df(
                index, pdf, slop=slop
            ).collect()
        }
        assert got == lst
        assert got["zzz missing gram"] == 0
        assert max(got.values()) > 0


def test_router_scan_slop(spark, corpus):
    # the contamination router accepts slop on the token-aligned scan
    # path now; substring scan still rejects it
    from wimbd_spark.operators.dedup import contamination_report

    ev = _eval_grams(corpus.limit(10), n=4)
    out = contamination_report(
        ev, "phrase", corpus=corpus, slop=1, token_aligned=True
    ).collect()[0]
    assert out["total"] > 0
    with pytest.raises(ValueError, match="substring"):
        contamination_report(ev, "phrase", corpus=corpus, slop=1)


def test_contaminated_examples_slop(spark, tmp_path):
    from wimbd_spark.index import contaminated_examples

    df = spark.createDataFrame(
        [(1, "quick brown fox"), (2, "quick red brown"), (3, "brown quick")],
        ["doc_id", "text"],
    )
    path = str(tmp_path / "exsidx")
    build_phrase_index(df, path, num_files=1)
    idx = load_phrase_index(spark, path)
    ev = spark.createDataFrame([("quick brown",)], ["phrase"])
    base = {
        (r["phrase"], r["doc_id"])
        for r in contaminated_examples(idx, ev).collect()
    }
    assert base == {("quick brown", 1)}
    slop1 = {
        (r["phrase"], r["doc_id"])
        for r in contaminated_examples(idx, ev, slop=1).collect()
    }
    assert slop1 == {("quick brown", 1), ("quick brown", 2)}


# ------------------------------------------------ match_keys bounding


@pytest.mark.parametrize("slop", [0, 1])
@pytest.mark.parametrize("with_doc", [True, False])
def test_match_keys_equals_full_reconstruction_filtered(
    spark, index, slop, with_doc
):
    # match_keys= semi-joins the raw candidate stream BEFORE the dedup
    # exchange (r15 finding 13). The result set must equal the full
    # reconstruction filtered to the same keys — including a key that
    # matches nothing (bounded, never inventing rows).
    keys = spark.createDataFrame(
        [
            (2, ["table", "scan"]),
            (2, ["query", "plan"]),
            (3, ["no", "such", "gram"]),
        ],
        schema="_L int, _toks array<string>",
    )
    full = corpus_grams_from_postings(
        index, [2, 3], with_doc=with_doc, slop=slop
    ).join(keys, ["_L", "_toks"], "left_semi")
    bounded = corpus_grams_from_postings(
        index, [2, 3], with_doc=with_doc, slop=slop, match_keys=keys
    )

    def rows(df):
        if with_doc:
            return sorted(
                (r["doc_id"], r["_L"], tuple(r["_toks"]))
                for r in df.collect()
            )
        return sorted(
            (r["_L"], tuple(r["_toks"])) for r in df.collect()
        )

    got = rows(bounded)
    assert got == rows(full)
    assert len(got) > 0  # the fixture corpus matches some keys
    assert all(toks != ("no", "such", "gram") for *_, toks in got)
