"""As-of/interval joins, winnowing fingerprints, Bloom decontamination."""

import hashlib
import re

import pytest
from pyspark.sql import functions as F

from wimbd_spark.operators.asof import asof_join, interval_join
from wimbd_spark.operators.bloom import (
    bloom_build,
    bloom_contains,
    bloom_decontaminate,
)
from wimbd_spark.operators.winnow import (
    winnow_fingerprints,
    winnow_overlap,
    winnow_select,
)


# ------------------------------------------------------------- as-of


def _ev(spark, rows):
    df = spark.createDataFrame(
        rows, ["event_id", "user_id", "kind", "ts_s"]
    )
    return df.withColumn("ts", F.timestamp_seconds(F.col("ts_s"))).drop(
        "ts_s"
    )


def test_asof_basic_and_ties(spark):
    left = _ev(spark, [(100, 1, "p", 50), (101, 1, "p", 10), (102, 2, "p", 50)])
    right = _ev(
        spark,
        [
            (1, 1, "c", 20),
            (2, 1, "c", 40),
            (3, 1, "c", 40),  # tie at ts=40 -> greatest event_id wins
            (4, 3, "c", 5),
        ],
    )
    out = asof_join(
        left, right, on="user_id", tiebreak="event_id",
        right_cols=["event_id"],
    )
    got = {r.event_id: r.r_event_id for r in out.collect()}
    assert got == {100: 3, 101: None, 102: None}


def test_asof_string_tiebreak_native_order(spark):
    """r9 ADVICE regression: the tiebreak used to be cast to long, so
    a STRING id column became NULL silently and equal-ts ties went
    nondeterministic. The tiebreak now orders on its native type."""
    left = _ev(spark, [(100, 1, "p", 50)])
    right = spark.createDataFrame(
        [("a", 1, 40), ("b", 1, 40), ("c", 1, 10)],
        ["sid", "user_id", "ts_s"],
    ).withColumn("ts", F.timestamp_seconds(F.col("ts_s"))).drop("ts_s")
    out = asof_join(
        left, right, on="user_id", tiebreak="sid", right_cols=["sid"]
    ).collect()
    assert out[0].r_sid == "b"  # greatest string id wins the tie


def test_asof_unorderable_tiebreak_raises(spark):
    left = _ev(spark, [(100, 1, "p", 50)])
    right = spark.createDataFrame(
        [({"k": 1}, 1, 40)], "m map<string,int>, user_id long, ts_s long"
    ).withColumn("ts", F.timestamp_seconds(F.col("ts_s"))).drop("ts_s")
    with pytest.raises(TypeError, match="unorderable"):
        asof_join(left, right, on="user_id", tiebreak="m",
                  right_cols=["m"])


def test_asof_inclusive_vs_strict(spark):
    left = _ev(spark, [(100, 1, "p", 40)])
    right = _ev(spark, [(1, 1, "c", 40), (2, 1, "c", 30)])
    inc = asof_join(left, right, on="user_id", tiebreak="event_id",
                    right_cols=["event_id"]).collect()[0]
    assert inc.r_event_id == 1  # equal ts matches when inclusive
    st = asof_join(left, right, on="user_id", tiebreak="event_id",
                   right_cols=["event_id"], strict=True).collect()[0]
    assert st.r_event_id == 2


def test_asof_tolerance(spark):
    left = _ev(spark, [(100, 1, "p", 1000)])
    right = _ev(spark, [(1, 1, "c", 10)])
    out = asof_join(left, right, on="user_id", tiebreak="event_id",
                    right_cols=["event_id"], tolerance_s=60).collect()[0]
    assert out.r_event_id is None  # match older than tolerance dropped
    out2 = asof_join(left, right, on="user_id", tiebreak="event_id",
                     right_cols=["event_id"], tolerance_s=1000).collect()[0]
    assert out2.r_event_id == 1


def test_interval_join_bounds(spark):
    left = _ev(spark, [(100, 1, "p", 100)])
    right = _ev(
        spark,
        [(1, 1, "c", 40), (2, 1, "c", 41), (3, 1, "c", 100), (4, 1, "c", 101)],
    )
    out = interval_join(
        left, right, on="user_id", lower_s=-60, upper_s=0
    )
    got = sorted(r.r_event_id for r in out.collect())
    assert got == [1, 2, 3]  # 40 == lower bound (inclusive); 101 after


def test_interval_join_vs_bruteforce(spark, tables):
    ev = tables["events"].where(F.col("event_id") < 400)
    a = ev.where(F.col("event_type") == "purchase")
    b = ev.where(F.col("event_type") == "click")
    fast = interval_join(a, b, on="user_id", lower_s=-7200, upper_s=3600)
    slow = (
        a.alias("l")
        .join(
            b.alias("r"),
            (F.col("l.user_id") == F.col("r.user_id"))
            & (
                F.unix_micros(F.col("r.ts")).between(
                    F.unix_micros(F.col("l.ts")) - 7200 * 1_000_000,
                    F.unix_micros(F.col("l.ts")) + 3600 * 1_000_000,
                )
            ),
        )
        .select(
            F.col("l.event_id").alias("lid"),
            F.col("r.event_id").alias("rid"),
        )
    )
    got = {(r.event_id, r.r_event_id) for r in fast.collect()}
    exp = {(r.lid, r.rid) for r in slow.collect()}
    assert got == exp


# --------------------------------------------------------- winnowing


def _py_tokens(text):
    # tokenize splits on Java's \s: ASCII whitespace only
    return [t for t in re.split(r"[ \t\n\x0b\f\r]+", text) if t] if text else []


def _py_hash32(s):
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def _py_winnow(text, k=3, w=4):
    toks = _py_tokens(text)
    if len(toks) < k:
        return set()
    hs = [
        _py_hash32(" ".join(toks[i : i + k]))
        for i in range(len(toks) - k + 1)
    ]
    sel = set()
    for j in range(len(hs) - w + 1):
        m = min(hs[j : j + w])
        pos = max(i for i in range(j, j + w) if hs[i] == m)
        sel.add((pos + 1, m))
    return sel


_WINNOW_KW = [(3, 4), (2, 7), (1, 2)]


@pytest.mark.parametrize(
    "text",
    [
        "a b c d e f g h i j k l",
        "x x x x x x x x",  # all-equal hashes: rightmost-tie path
        "one two three",  # exactly k tokens -> 1 hash < w -> empty
        "",
        None,
        "a b",
        "x x x x x x x x x x",
        "  padded   whitespace    run   ok   end  x ",
        "tab\tand\nnewline \r\n runs",
    ],
)
def test_winnow_matches_reference_impl(spark, text):
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    for k, w in _WINNOW_KW:
        got = sorted(
            (r.pos, r.fp)
            for r in winnow_fingerprints(df, k=k, w=w).collect()
        )
        assert got == sorted(_py_winnow(text, k, w)), (k, w)


@pytest.mark.parametrize("k,w", _WINNOW_KW)
def test_winnow_matches_reference_impl_on_corpus(documents, k, w):
    got = sorted(
        (r.doc_id, r.pos, r.fp)
        for r in winnow_fingerprints(documents, k=k, w=w).collect()
    )
    exp = sorted(
        (r.doc_id, pos, fp)
        for r in documents.select("doc_id", "text").collect()
        for pos, fp in _py_winnow(r.text, k, w)
    )
    assert got == exp


def test_winnow_shared_substring_guarantee(spark):
    # any shared run of >= w + k - 1 tokens must share a fingerprint
    base = "alpha beta gamma delta epsilon zeta".split()
    a = "p q r s " + " ".join(base)
    b = " ".join(base) + " t u v w"
    df = spark.createDataFrame([(1, a), (2, b)], ["doc_id", "text"])
    rows = winnow_fingerprints(df, k=3, w=4).collect()
    fa = {r.fp for r in rows if r.doc_id == 1}
    fb = {r.fp for r in rows if r.doc_id == 2}
    assert fa & fb


def test_winnow_select_null_text(spark):
    df = spark.createDataFrame([(1, None)], "doc_id: long, text: string")
    out = df.select(winnow_select("text").alias("s")).collect()[0]["s"]
    assert out in ([], None)


def test_winnow_overlap_counts(spark, documents):
    row = winnow_overlap(documents, "src0", "src1").collect()[0]
    assert row.n_shared <= min(row.n_fp_a, row.n_fp_b)
    union = row.n_fp_a + row.n_fp_b - row.n_shared
    assert row.jaccard == pytest.approx(row.n_shared / union, abs=1e-6)


# ------------------------------------------------------------- bloom


def test_bloom_membership_no_false_negatives(spark):
    grams = spark.createDataFrame(
        [("alpha beta",), ("gamma delta",)], ["phrase"]
    )
    bm = bloom_build(grams, m_bits=1 << 10, n_hashes=3)
    df = spark.createDataFrame(
        [("alpha beta",), ("gamma delta",), ("zzz qqq",)], ["g"]
    )
    got = {
        r.g: r.hit
        for r in df.select(
            "g",
            bloom_contains(F.col("g"), bm, 1 << 10, 3).alias("hit"),
        ).collect()
    }
    assert got["alpha beta"] and got["gamma delta"]  # never miss members


def test_bloom_decontaminate_superset_of_exact(spark, documents):
    from wimbd_spark.functions.text import ngram_strings, tokenize
    from wimbd_spark.operators.dedup import decontaminate_by_ngrams

    ev = (
        documents.filter(F.col("source") == "src0")
        .select(
            F.explode(
                ngram_strings(tokenize(F.col("text")), 4)
            ).alias("phrase")
        )
        .distinct()
    )
    train = documents.filter(F.col("source") != "src0")
    bloom_kept = {
        r.doc_id
        for r in bloom_decontaminate(
            train, ev, n=4, m_bits=1 << 18
        ).select("doc_id").collect()
    }
    exact_kept = {
        r.doc_id
        for r in decontaminate_by_ngrams(train, ev)
        .select("doc_id")
        .collect()
    }
    # bloom drops are a superset of exact drops (FPs only drop more)
    assert bloom_kept <= exact_kept


def test_bloom_build_rejects_bad_m():
    with pytest.raises(ValueError):
        bloom_build(None, m_bits=1001)


def test_asof_directions_match_pandas_merge_asof(spark):
    """backward / forward / nearest (± strict, ± tolerance) agree with
    pandas.merge_asof on randomized per-key series (right timestamps
    unique per key so value-tiebreak vs pandas' positional tiebreak
    cannot diverge)."""
    import random

    import pandas as pd

    rng = random.Random(11)
    lrows, rrows = [], []
    rid = 0
    for u in range(6):
        for i in range(12):
            lrows.append((1000 + u * 100 + i, u, "p", rng.randint(0, 500)))
        for t in rng.sample(range(0, 500), 15):  # unique ts per key
            rrows.append((rid, u, "c", t))
            rid += 1
    left, right = _ev(spark, lrows), _ev(spark, rrows)

    lp = pd.DataFrame(
        [(e, u, t) for e, u, _, t in lrows],
        columns=["event_id", "user_id", "ts_s"],
    ).sort_values(["ts_s", "event_id"])
    rp = pd.DataFrame(
        [(e, u, t) for e, u, _, t in rrows],
        columns=["r_event_id", "user_id", "r_ts_s"],
    ).sort_values(["r_ts_s", "r_event_id"])

    for direction in ("backward", "forward", "nearest"):
        for strict in (False, True):
            if direction == "nearest" and strict:
                with pytest.raises(ValueError):
                    asof_join(left, right, on="user_id",
                              direction="nearest", strict=True)
                continue
            for tol in (None, 60):
                got = {
                    r.event_id: r.r_event_id
                    for r in asof_join(
                        left, right, on="user_id",
                        right_cols=["event_id"],
                        tiebreak="event_id", strict=strict,
                        tolerance_s=tol, direction=direction,
                    ).select(
                        "event_id",
                        F.col("r_event_id").alias("r_event_id"),
                    ).collect()
                }
                want_df = pd.merge_asof(
                    lp, rp, left_on="ts_s", right_on="r_ts_s",
                    by="user_id", direction=direction,
                    allow_exact_matches=not strict,
                    tolerance=tol,
                )
                want = {
                    int(r.event_id): (
                        None if pd.isna(r.r_event_id)
                        else int(r.r_event_id)
                    )
                    for r in want_df.itertuples()
                }
                assert got == want, (direction, strict, tol)


def test_shared_span_coverage_hand_math(spark):
    """Two docs share the substring 'p q r s t u' (>= w+k-1 = 6 tokens
    -> guaranteed shared fingerprint); a third shares nothing."""
    from wimbd_spark.operators.winnow import shared_span_coverage

    rows = [
        (1, "p q r s t u alpha beta gamma delta"),
        (2, "zeta p q r s t u omega"),
        (3, "entirely different words in here now"),
        (4, None),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r.doc_id: r for r in shared_span_coverage(df).collect()}
    assert set(got) == {1, 2, 3}  # null text excluded
    assert got[1].covered_tokens > 0 and got[2].covered_tokens > 0
    assert got[3].covered_tokens == 0 and got[3].coverage == 0.0
    for d in (1, 2):
        r = got[d]
        assert 0 < r.coverage <= 1.0
        assert r.covered_tokens <= r.n_tokens
        # winnow spans sit inside the doc: covered <= shared run + slack
        assert r.n_shared_fp >= 1
    # coverage is a LOWER bound: doc1 shares 6 of 10 tokens
    assert got[1].covered_tokens <= 6 + 2  # k-1 tail slack


def test_shared_spans_and_removal(spark):
    """Enforcement half of the Lee-et-al audit: remove_shared_spans
    excises winnow-witnessed cross-doc intervals; keep='first' leaves
    the min-doc_id copy intact; untouched docs pass byte-identical;
    re-auditing the keep='none' output shows coverage collapses."""
    from wimbd_spark.operators.winnow import (
        remove_shared_spans,
        shared_span_coverage,
        shared_spans,
    )

    rows = [
        (1, "p q r s t u alpha beta gamma delta"),
        (2, "zeta p q r s t u omega"),
        (3, "entirely different words in here now"),
        (4, None),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    spans = {
        (r.doc_id, r.start_pos, r.end_pos)
        for r in shared_spans(df).collect()
    }
    assert spans and all(d in (1, 2) for d, _, _ in spans)
    # keep='first': doc 1 (min id) is exempt per shared fingerprint
    spans_kf = shared_spans(df, keep="first").collect()
    assert {r.doc_id for r in spans_kf} == {2}

    out = {
        r.doc_id: r.text
        for r in remove_shared_spans(df, keep="none").collect()
    }
    assert set(out) == {1, 2, 3, 4}
    assert out[3] == rows[2][1]  # untouched doc: byte-identical
    assert out[4] is None
    # the shared run is gone from BOTH docs under keep='none'
    for d in (1, 2):
        assert "q r s" not in out[d]
    # keep='first': doc 1 keeps its copy, doc 2 loses it
    out_kf = {
        r.doc_id: r.text
        for r in remove_shared_spans(df, keep="first").collect()
    }
    assert "p q r s t u" in out_kf[1]
    assert "q r s" not in out_kf[2]

    # re-audit: coverage of the keep='none' output collapses
    before = sum(
        r.covered_tokens for r in shared_span_coverage(df).collect()
    )
    after = sum(
        r.covered_tokens
        for r in shared_span_coverage(
            spark.createDataFrame(
                [(k, v) for k, v in out.items()], ["doc_id", "text"]
            )
        ).collect()
    )
    assert before > 0 and after == 0

    with __import__("pytest").raises(ValueError):
        shared_spans(df, keep="last")


def test_shared_spans_min_docs_threshold(spark):
    """min_docs raises the document-frequency bar: a span shared by 2
    docs survives min_docs=3; a span shared by 3 docs does not."""
    from wimbd_spark.operators.winnow import (
        remove_shared_spans,
        shared_spans,
    )

    rows = [
        (1, "p q r s t u one two three"),       # run A in docs 1,2
        (2, "zero p q r s t u four"),
        (3, "m n o v w x five six seven"),      # run B in docs 3,4,5
        (4, "eight m n o v w x nine"),
        (5, "m n o v w x ten eleven twelve"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    docs2 = {r.doc_id for r in shared_spans(df, min_docs=2).collect()}
    assert docs2 == {1, 2, 3, 4, 5}
    docs3 = {r.doc_id for r in shared_spans(df, min_docs=3).collect()}
    assert docs3 == {3, 4, 5}  # the 2-doc run A is below the bar
    out = {
        r.doc_id: r.text
        for r in remove_shared_spans(df, min_docs=3).collect()
    }
    assert "p q r s t u" in out[1]  # below bar -> untouched
    assert "n o v" not in out[3]    # above bar -> excised
    import pytest as _pytest

    with _pytest.raises(ValueError, match="min_docs"):
        shared_spans(df, min_docs=1)


def test_shared_span_examples_triage_view(spark):
    from wimbd_spark.operators.winnow import shared_span_examples

    rows = [
        (1, "p q r s t u one two three"),
        (2, "zero p q r s t u four"),
        (3, "m n o v w x five six seven"),
        (4, "eight m n o v w x nine"),
        (5, "m n o v w x ten eleven twelve"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = shared_span_examples(df, k=10).collect()
    assert got, "shared runs must surface"
    # most-shared first: the 3-doc run B outranks the 2-doc run A
    assert got[0].n_docs == 3
    # snippet is a real witnessed 3-gram from the min (doc, pos) copy
    run_b_tokens = set("m n o v w x".split())
    assert set(got[0].snippet.split()) <= run_b_tokens
    assert got[0].example_doc == 3
    # min_docs bar prunes the 2-doc run
    only3 = shared_span_examples(df, k=10, min_docs=3).collect()
    assert all(r.n_docs >= 3 for r in only3)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        shared_span_examples(df, k=0)


def test_remove_spans_by_fingerprint_batch_parity(spark):
    """Scrubbing against boilerplate_fingerprints of the SAME corpus
    (min_docs=2) reproduces remove_shared_spans(keep='none') row for
    row — the static-blocklist form is the same marking rule with the
    multi-doc decision precomputed."""
    from wimbd_spark.operators.winnow import (
        boilerplate_fingerprints,
        remove_shared_spans,
        remove_spans_by_fingerprint,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "source", "text")
    fps = boilerplate_fingerprints(docs)
    got = {
        r.doc_id: r.text
        for r in remove_spans_by_fingerprint(docs, fps).collect()
    }
    want = {
        r.doc_id: r.text
        for r in remove_shared_spans(docs, keep="none").collect()
    }
    assert got == want
    # iterable-of-ints form agrees with the DataFrame form
    fp_list = [r.fp for r in fps.collect()]
    got2 = {
        r.doc_id: r.text
        for r in remove_spans_by_fingerprint(docs, fp_list).collect()
    }
    assert got2 == want
    # column order and non-text columns pass through
    out = remove_spans_by_fingerprint(docs, fps)
    assert out.columns == ["doc_id", "source", "text"]


def test_remove_spans_by_fingerprint_streaming_gate(spark, tmp_path):
    """The scrub is STATELESS: replayed as micro-batches against a
    static fp table it emits exactly the batch output (no state store,
    no watermark)."""
    import json as _json
    import os as _os

    from wimbd_spark.operators.winnow import (
        boilerplate_fingerprints,
        remove_spans_by_fingerprint,
    )

    rows = [
        (1, "p q r s t u alpha beta gamma delta"),
        (2, "zeta p q r s t u omega"),
        (3, "entirely different words in here now"),
    ]
    ref = spark.createDataFrame(rows, ["doc_id", "text"])
    fps = boilerplate_fingerprints(ref)

    d = str(tmp_path / "scrub_in")
    _os.makedirs(d, exist_ok=True)
    for name, batch in (("b0.json", rows[:2]), ("b1.json", rows[2:])):
        with open(_os.path.join(d, name), "w") as f:
            for doc_id, text in batch:
                f.write(_json.dumps({"doc_id": doc_id, "text": text}) + "\n")
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(d)
    )
    out = remove_spans_by_fingerprint(stream, fps)
    q = (
        out.writeStream.format("memory")
        .queryName("scrub_stream")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    got = {
        r.doc_id: r.text
        for r in spark.sql("select * from scrub_stream").collect()
    }
    q.stop()
    want = {
        r.doc_id: r.text
        for r in remove_spans_by_fingerprint(ref, fps).collect()
    }
    assert got == want
    assert "q r s" not in got[1] and got[3] == rows[2][1]


def test_remove_spans_by_fingerprint_distinct_before_cap(
    spark, monkeypatch
):
    """The MAX_SCRUB_FINGERPRINTS cap must count DISTINCT
    fingerprints (r11 ADVICE): with duplicate fp rows a bare
    limit(cap+1) could truncate distinct values while the post-dedup
    size check still passes — a silently incomplete blocklist. Over
    the cap must RAISE; duplicates within the cap must scrub exactly
    like the deduplicated list."""
    import wimbd_spark.operators.winnow as w

    docs = spark.createDataFrame(
        [(1, "some text here")], ["doc_id", "text"]
    )
    monkeypatch.setattr(w, "MAX_SCRUB_FINGERPRINTS", 2)
    # 3 distinct fps hidden behind 7 rows: must raise, not truncate
    dup = spark.createDataFrame(
        [(10,), (10,), (10,), (11,), (11,), (12,), (12,)], ["fp"]
    )
    with pytest.raises(ValueError, match="MAX_SCRUB_FINGERPRINTS"):
        w.remove_spans_by_fingerprint(docs, dup)
    # 2 distinct behind 4 rows: within cap, equals the deduped form
    ok = spark.createDataFrame([(10,), (10,), (11,), (11,)], ["fp"])
    got = w.remove_spans_by_fingerprint(docs, ok).collect()
    want = w.remove_spans_by_fingerprint(docs, [10, 11]).collect()
    assert got == want
