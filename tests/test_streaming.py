"""Structured Streaming tests: file-source micro-batches through
windowed aggs, session windows, and custom state — results cross-checked
against the batch twins in operators.windows.
"""

import datetime as dt
import json
import os

import pytest
from pyspark.sql import functions as F


def _write_batch(path, rows, name):
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, name), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def _ev(event_id, minute, user_id, event_type="click", second=0):
    return {
        "event_id": event_id,
        "ts": f"2024-01-01T00:{minute:02d}:{second:02d}.000Z",
        "user_id": user_id,
        "event_type": event_type,
        "value": 1.0,
        "props": "{}",
    }


@pytest.fixture()
def stream_dir(tmp_path):
    d = str(tmp_path / "events_in")
    _write_batch(
        d,
        [
            _ev(1, 0, 1),
            _ev(2, 10, 1, "view"),
            _ev(3, 45, 1),
            _ev(4, 50, 2),
        ],
        "batch-0.json",
    )
    return d


def _run_to_memory(df, name, output_mode):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .start()
    )
    q.processAllAvailable()
    return q


def test_tumbling_stream_matches_batch(spark, stream_dir):
    from wimbd_spark.streaming import read_event_stream, tumbling_counts_stream

    ev = read_event_stream(spark, stream_dir)
    assert ev.isStreaming
    q = _run_to_memory(
        tumbling_counts_stream(ev, duration="30 minutes"),
        "tumble_test",
        "update",
    )
    try:
        got = {
            (r["window_start_s"], r["event_type"]): r["n_events"]
            for r in spark.sql("SELECT * FROM tumble_test").collect()
        }
        base = int(
            dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp()
        )
        assert got[(base, "click")] == 1
        assert got[(base, "view")] == 1
        assert got[(base + 1800, "click")] == 2
    finally:
        q.stop()


def test_incremental_microbatches(spark, stream_dir):
    from wimbd_spark.streaming import read_event_stream, tumbling_counts_stream

    ev = read_event_stream(spark, stream_dir, max_files_per_trigger=1)
    q = _run_to_memory(
        tumbling_counts_stream(ev, duration="30 minutes", keys=()),
        "incr_test",
        "update",
    )
    try:
        first = {
            r["window_start_s"]: r["n_events"]
            for r in spark.sql("SELECT * FROM incr_test").collect()
        }
        # second micro-batch arrives: one more event in the first window
        _write_batch(stream_dir, [_ev(5, 5, 3)], "batch-1.json")
        q.processAllAvailable()
        latest = {}
        for r in spark.sql("SELECT * FROM incr_test").collect():
            latest[r["window_start_s"]] = max(
                latest.get(r["window_start_s"], 0), r["n_events"]
            )
        base = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp())
        assert first[base] == 2
        assert latest[base] == 3  # updated count after late file
    finally:
        q.stop()


def test_session_window_stream(spark, stream_dir):
    from wimbd_spark.streaming import read_event_stream, session_window_stream

    ev = read_event_stream(spark, stream_dir)
    # session windows support append (watermark-gated) or complete, not
    # update; complete shows the merged sessions immediately
    q = _run_to_memory(
        session_window_stream(ev, gap="30 minutes"), "sess_test", "complete"
    )
    try:
        rows = spark.sql("SELECT * FROM sess_test").collect()
        by_user = {}
        for r in rows:
            by_user.setdefault(r["user_id"], []).append(r)
        # user 1: events at 0,10 (one session) and 45 (another)
        assert sorted(len(s) for s in by_user.values()) == [1, 2]
        sess_u1 = sorted(by_user[1], key=lambda r: r["session_start_s"])
        assert sess_u1[0]["n_events"] == 2
        assert sess_u1[1]["n_events"] == 1
    finally:
        q.stop()


def test_watermark_drops_late_events(spark, tmp_path):
    """Append mode + tight watermark: an event arriving after the
    watermark passed its window is DROPPED (bounded state guarantee)."""
    from wimbd_spark.streaming import read_event_stream, tumbling_counts_stream

    d = str(tmp_path / "wm_events")
    _write_batch(d, [_ev(1, 5, 1)], "b0.json")  # window [00:00, 00:30)
    ev = read_event_stream(spark, d, max_files_per_trigger=1)
    q = _run_to_memory(
        tumbling_counts_stream(
            ev, duration="30 minutes", watermark="0 seconds", keys=()
        ),
        "wm_test",
        "append",
    )
    try:
        # advance event time well past the first window...
        _write_batch(d, [{**_ev(2, 0, 1), "ts": "2024-01-01T02:00:00.000Z"}], "b1.json")
        q.processAllAvailable()
        # ...then a LATE arrival for the first window + a fresh event
        _write_batch(
            d,
            [
                _ev(3, 10, 1),  # late: watermark is already 02:00
                {**_ev(4, 0, 1), "ts": "2024-01-01T03:00:00.000Z"},
            ],
            "b2.json",
        )
        q.processAllAvailable()
        _write_batch(
            d, [{**_ev(5, 0, 1), "ts": "2024-01-01T04:00:00.000Z"}], "b3.json"
        )
        q.processAllAvailable()
        got = {
            r["window_start_s"]: r["n_events"]
            for r in spark.sql("SELECT * FROM wm_test").collect()
        }
        base = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp())
        # first window emitted with ONE event — the late event_id=3 was
        # dropped, not merged
        assert got[base] == 1
    finally:
        q.stop()


def test_stateful_user_counts(spark, stream_dir):
    from wimbd_spark.streaming import read_event_stream, stateful_user_counts

    ev = read_event_stream(spark, stream_dir, max_files_per_trigger=1)
    q = _run_to_memory(stateful_user_counts(ev), "state_test", "update")
    try:
        _write_batch(stream_dir, [_ev(6, 55, 1)], "batch-2.json")
        q.processAllAvailable()
        totals = {}
        for r in spark.sql("SELECT * FROM state_test").collect():
            totals[r["user_id"]] = max(
                totals.get(r["user_id"], 0), r["total_events"]
            )
        assert totals[1] == 4  # 3 initial + 1 late, accumulated in state
        assert totals[2] == 1
    finally:
        q.stop()


# ---- dedupe/decontaminate on ingest ----

def _doc(doc_id, text, minute=0, source="s0"):
    return {
        "doc_id": doc_id,
        "ts": f"2024-01-01T00:{minute:02d}:00.000Z",
        "text": text,
        "source": source,
    }


def test_streaming_dedup_exact_across_microbatches(spark, tmp_path):
    from wimbd_spark.streaming import read_doc_stream, streaming_dedup_exact

    d = str(tmp_path / "docs_in")
    _write_batch(d, [_doc(1, "alpha"), _doc(2, "beta"), _doc(3, "alpha")], "b0.json")
    stream = read_doc_stream(spark, d)
    out = streaming_dedup_exact(stream).select("doc_id", "text")
    q = _run_to_memory(out, "dedup_stream", "append")
    # second micro-batch: one new text, one dup of an earlier batch
    _write_batch(d, [_doc(4, "gamma"), _doc(5, "beta")], "b1.json")
    q.processAllAvailable()
    rows = spark.sql("select * from dedup_stream").collect()
    q.stop()
    texts = sorted(r["text"] for r in rows)
    assert texts == ["alpha", "beta", "gamma"]  # dups 3 & 5 dropped
    # batch twin agrees on the surviving text set
    from wimbd_spark.operators.dedup import dedup_keep_first

    batch = spark.createDataFrame(
        [(i, t) for i, t in [(1, "alpha"), (2, "beta"), (3, "alpha"),
                             (4, "gamma"), (5, "beta")]],
        ["doc_id", "text"],
    )
    assert sorted(
        r["text"] for r in dedup_keep_first(batch).collect()
    ) == texts


def test_streaming_dedup_within_watermark(spark, tmp_path):
    from wimbd_spark.streaming import read_doc_stream, streaming_dedup_exact

    d = str(tmp_path / "docs_wm")
    _write_batch(d, [_doc(1, "alpha", 0), _doc(2, "alpha", 1)], "b0.json")
    stream = read_doc_stream(spark, d)
    out = streaming_dedup_exact(stream, ts_col="ts", watermark="10 minutes")
    q = _run_to_memory(out.select("doc_id"), "dedup_wm", "append")
    rows = spark.sql("select * from dedup_wm").collect()
    q.stop()
    assert [r["doc_id"] for r in rows] == [1]  # dup inside horizon dropped


def test_streaming_decontaminate(spark, tmp_path):
    from wimbd_spark.streaming import read_doc_stream, streaming_decontaminate

    d = str(tmp_path / "docs_dc")
    _write_batch(
        d, [_doc(1, "keep me"), _doc(2, "eval leak"), _doc(3, "also kept")],
        "b0.json",
    )
    evalset = spark.createDataFrame([("eval leak",)], ["text"])
    out = streaming_decontaminate(read_doc_stream(spark, d), evalset)
    q = _run_to_memory(out.select("doc_id"), "decon_stream", "append")
    rows = spark.sql("select * from decon_stream").collect()
    q.stop()
    assert sorted(r["doc_id"] for r in rows) == [1, 3]


def test_streaming_quality_gate(spark, tmp_path):
    from wimbd_spark.streaming import read_doc_stream, streaming_quality_gate

    d = str(tmp_path / "docs_qg")
    good = " ".join(f"the item{i} of value{i}" for i in range(30))
    _write_batch(
        d, [_doc(1, good), _doc(2, "too short"), _doc(3, good + " indeed")],
        "b0.json",
    )
    out = streaming_quality_gate(read_doc_stream(spark, d))
    q = _run_to_memory(out.select("doc_id"), "qg_stream", "append")
    rows = spark.sql("select * from qg_stream").collect()
    q.stop()
    assert sorted(r["doc_id"] for r in rows) == [1, 3]
    # batch twin agrees row-for-row
    from wimbd_spark.operators.textqc import gopher_quality_filter

    batch = spark.createDataFrame(
        [(1, good), (2, "too short"), (3, good + " indeed")],
        ["doc_id", "text"],
    )
    assert sorted(
        r["doc_id"]
        for r in gopher_quality_filter(batch).filter("keep").collect()
    ) == [1, 3]


def test_streaming_phrase_index_matches_batch(spark, tmp_path):
    from wimbd_spark.index import (
        count_documents_for_each_phrase_indexed,
        load_phrase_index,
        streaming_phrase_index,
    )
    from wimbd_spark.search import count_documents_for_each_phrase
    from wimbd_spark.streaming import read_doc_stream

    d = str(tmp_path / "docs_idx")
    idx_path = str(tmp_path / "postings")
    ckpt = str(tmp_path / "ckpt")
    _write_batch(
        d,
        [_doc(1, "the quick brown fox"), _doc(2, "lazy dog sleeps")],
        "b0.json",
    )
    q = streaming_phrase_index(
        read_doc_stream(spark, d), idx_path, ckpt
    )
    q.processAllAvailable()
    # second micro-batch appends postings incrementally
    _write_batch(d, [_doc(3, "quick brown dog runs")], "b1.json")
    q.processAllAvailable()
    q.stop()

    idx = load_phrase_index(spark, idx_path)
    phrases = ["quick brown", "dog", "the quick brown fox"]
    got = {
        r["phrase"]: r["count"]
        for r in count_documents_for_each_phrase_indexed(
            idx, phrases
        ).collect()
    }
    # batch twin over the full corpus agrees
    batch = spark.createDataFrame(
        [
            (1, "the quick brown fox"),
            (2, "lazy dog sleeps"),
            (3, "quick brown dog runs"),
        ],
        ["doc_id", "text"],
    )
    expect = {
        r["phrase"]: r["count"]
        for r in count_documents_for_each_phrase(batch, phrases).collect()
    }
    assert got == expect == {
        "quick brown": 2,
        "dog": 2,
        "the quick brown fox": 1,
    }


def test_streaming_index_compaction(spark, tmp_path):
    from wimbd_spark.index import (
        compact_phrase_index,
        count_documents_for_each_phrase_indexed,
        load_phrase_index,
        needs_compaction,
        streaming_phrase_index,
    )
    from wimbd_spark.streaming import read_doc_stream

    d = str(tmp_path / "docs_cmp")
    idx_path = str(tmp_path / "postings")
    fresh = str(tmp_path / "postings_gen2")
    ckpt = str(tmp_path / "ckpt")
    _write_batch(d, [_doc(1, "the quick brown fox")], "b0.json")
    q = streaming_phrase_index(
        read_doc_stream(spark, d), idx_path, ckpt, num_files=4
    )
    q.processAllAvailable()
    for i in range(2, 6):  # 4 more micro-batches → 5 generations
        _write_batch(d, [_doc(i, f"quick dog number {i}")], f"b{i}.json")
        q.processAllAvailable()
    q.stop()

    # growth trips the documented trigger
    assert needs_compaction(spark, idx_path, num_files=4, factor=1)
    compact_phrase_index(spark, idx_path, fresh, num_files=4)

    phrases = ["quick", "the quick brown fox", "dog"]
    before = {
        r["phrase"]: r["count"]
        for r in count_documents_for_each_phrase_indexed(
            load_phrase_index(spark, idx_path), phrases
        ).collect()
    }
    after = {
        r["phrase"]: r["count"]
        for r in count_documents_for_each_phrase_indexed(
            load_phrase_index(spark, fresh), phrases
        ).collect()
    }
    # identical answers; file count back to the single-generation layout
    assert after == before
    assert before["quick"] == 5 and before["dog"] == 4
    n_files = len(spark.read.parquet(fresh).inputFiles())
    assert n_files <= 4
    assert not needs_compaction(spark, fresh, num_files=4, factor=1)
    # compaction never clobbers an existing generation by default
    import pytest as _pytest

    with _pytest.raises(Exception):
        compact_phrase_index(spark, idx_path, fresh, num_files=4)


def test_streaming_neardup_filter_matches_batch_candidates(
    spark, tmp_path
):
    # the stateless LSH gate drops exactly the stream docs the batch
    # pipeline would pair with the reference corpus
    from wimbd_spark.operators.neardup import lsh_candidate_pairs
    from wimbd_spark.streaming.dedup import (
        read_doc_stream,
        reference_band_table,
        streaming_neardup_filter,
    )

    ref_rows = [
        (100, "the quick brown fox jumps over the lazy dog today ok"),
        (101, "completely unrelated reference document text body here"),
    ]
    stream_rows = [
        (1, "the quick brown fox jumps over the lazy dog today ok"),
        (2, "the quick brown fox jumps over the lazy dog today no"),
        (3, "nothing like anything in the reference corpus at all"),
        (4, None),
    ]
    reference = spark.createDataFrame(ref_rows, ["doc_id", "text"])
    bands = reference_band_table(reference)

    d = str(tmp_path / "docs_nd")
    _write_batch(
        d,
        [_doc(i, t) for i, t in stream_rows],
        "b0.json",
    )
    out_rows = []
    q = (
        streaming_neardup_filter(read_doc_stream(spark, d), bands)
        .writeStream.foreachBatch(
            lambda df, _e: out_rows.extend(
                r["doc_id"] for r in df.collect()
            )
        )
        .start()
    )
    q.processAllAvailable()
    q.stop()

    # batch twin: which stream docs pair with the reference?
    both = reference.union(
        spark.createDataFrame(stream_rows, ["doc_id", "text"])
    )
    pairs = lsh_candidate_pairs(both).collect()
    dropped = {
        i
        for r in pairs
        for i in (r["id_a"], r["id_b"])
        if i < 100
        and (r["id_a"] >= 100 or r["id_b"] >= 100)
    }
    expect_kept = sorted(
        i for i, t in stream_rows if i not in dropped
    )
    assert sorted(out_rows) == expect_kept
    assert 1 in dropped  # the exact copy is definitely gated
    assert 3 in expect_kept and 4 in expect_kept


def test_streaming_contamination_hits(spark, tmp_path):
    from wimbd_spark.streaming import (
        eval_gram_table,
        read_doc_stream,
        streaming_contamination_hits,
    )

    d = str(tmp_path / "docs_ch")
    _write_batch(
        d,
        [
            _doc(1, "the quick brown fox"),
            _doc(2, "nothing to see"),
            _doc(3, "quick brown and turtle too"),
        ],
        "b0.json",
    )
    ev = spark.createDataFrame(
        [("quick brown",), ("turtle",), (None,)], ["phrase"]
    )
    grams = eval_gram_table(ev)
    out = streaming_contamination_hits(read_doc_stream(spark, d), grams)
    q = _run_to_memory(out.select("doc_id", "phrase"), "ch_stream", "append")
    # second micro-batch exercises the stateless per-batch join
    _write_batch(d, [_doc(4, "a turtle arrives")], "b1.json")
    q.processAllAvailable()
    rows = spark.sql("select * from ch_stream").collect()
    q.stop()
    hits = sorted((r["doc_id"], r["phrase"]) for r in rows)
    assert hits == [
        (1, "quick brown"),
        (3, "quick brown"),
        (3, "turtle"),
        (4, "turtle"),
    ]


def test_streaming_decontaminate_by_ngrams(spark, tmp_path):
    from wimbd_spark.streaming import (
        read_doc_stream,
        streaming_decontaminate_by_ngrams,
    )

    d = str(tmp_path / "docs_dcn")
    outp = str(tmp_path / "dcn_out")
    ckpt = str(tmp_path / "dcn_ckpt")
    _write_batch(
        d,
        [
            _doc(1, "the quick brown fox"),
            _doc(2, "nothing to see"),
            _doc(3, "short"),
        ],
        "b0.json",
    )
    ev = spark.createDataFrame([("quick brown",)], ["phrase"])
    q = streaming_decontaminate_by_ngrams(
        read_doc_stream(spark, d), ev, outp, ckpt
    )
    q.processAllAvailable()
    _write_batch(d, [_doc(4, "quick brown again"), _doc(5, "fine")], "b1.json")
    q.processAllAvailable()
    q.stop()
    got = sorted(
        r["doc_id"] for r in spark.read.parquet(outp).collect()
    )
    assert got == [2, 3, 5]
    # batch twin agrees row-for-row
    from wimbd_spark.operators.dedup import decontaminate_by_ngrams

    batch = spark.createDataFrame(
        [
            (1, "the quick brown fox"),
            (2, "nothing to see"),
            (3, "short"),
            (4, "quick brown again"),
            (5, "fine"),
        ],
        ["doc_id", "text"],
    )
    assert sorted(
        r["doc_id"] for r in decontaminate_by_ngrams(batch, ev).collect()
    ) == got


def test_streaming_contamination_hits_overlong_phrase(spark, tmp_path):
    from wimbd_spark.index import GRAM_JOIN_MAX_PHRASE_TOKENS
    from wimbd_spark.streaming import (
        eval_gram_table,
        read_doc_stream,
        streaming_contamination_hits,
    )

    L = GRAM_JOIN_MAX_PHRASE_TOKENS + 3
    long_seq = " ".join(f"w{i}" for i in range(L))
    d = str(tmp_path / "docs_chl")
    _write_batch(
        d,
        [
            _doc(1, f"pre {long_seq} post"),
            _doc(2, "short stuff only"),
            _doc(3, "quick brown here"),
        ],
        "b0.json",
    )
    ev = spark.createDataFrame(
        [(long_seq,), ("quick brown",)], ["phrase"]
    )
    grams = eval_gram_table(ev)
    out = streaming_contamination_hits(read_doc_stream(spark, d), grams)
    q = _run_to_memory(out.select("doc_id", "phrase"), "chl_stream", "append")
    rows = spark.sql("select * from chl_stream").collect()
    q.stop()
    assert sorted((r["doc_id"], r["phrase"]) for r in rows) == [
        (1, long_seq),
        (3, "quick brown"),
    ]


def test_streaming_perplexity_gate_matches_batch(spark, tmp_path):
    from wimbd_spark.operators.lm import perplexity_filter, unigram_lm
    from wimbd_spark.streaming import (
        lm_map_table,
        read_doc_stream,
        streaming_perplexity_gate,
    )

    rows = [(i, "the cat sat on the mat again") for i in range(6)] + [
        (99, "xq zv jk wp qm nb vc"),
        (100, ""),  # zero tokens: dropped (no evidence of language)
    ]
    corpus = spark.createDataFrame(rows, ["doc_id", "text"])
    lm = unigram_lm(corpus)
    lm_map = lm_map_table(lm)

    d = str(tmp_path / "docs_ppl")
    _write_batch(d, [_doc(i, t) for i, t in rows], "b0.json")
    out = streaming_perplexity_gate(
        read_doc_stream(spark, d), lm_map, max_ppl=20.0
    )
    q = _run_to_memory(out.select("doc_id"), "ppl_stream", "append")
    got = sorted(
        r["doc_id"] for r in spark.sql("select * from ppl_stream").collect()
    )
    q.stop()
    assert got == list(range(6))
    # batch twin (explode+join+groupBy shape) agrees row-for-row
    batch = sorted(
        r["doc_id"]
        for r in perplexity_filter(corpus, max_ppl=20.0, lm=lm).collect()
    )
    assert got == batch
    with pytest.raises(ValueError):
        streaming_perplexity_gate(corpus, lm_map, max_ppl=0)


def test_streaming_bigram_perplexity_gate_matches_batch(spark, tmp_path):
    """The interpolated-bigram gate (r13 VERDICT item 2) agrees with
    lm.bigram_perplexity_filter row-for-row on a real stream: seen
    bigrams score low, gibberish (unseen tokens + bigrams) scores
    high, zero-token docs are dropped."""
    from wimbd_spark.operators.lm import (
        bigram_lm,
        bigram_perplexity_filter,
        unigram_lm,
    )
    from wimbd_spark.streaming import (
        bigram_map_table,
        read_doc_stream,
        streaming_bigram_perplexity_gate,
    )

    rows = [(i, "the cat sat on the mat again") for i in range(6)] + [
        (50, "the mat sat"),  # seen tokens, one unseen bigram (backoff)
        (99, "xq zv jk wp qm nb vc"),  # fully unseen
        (100, ""),  # zero tokens: dropped (no evidence of language)
    ]
    corpus = spark.createDataFrame(rows, ["doc_id", "text"])
    train = corpus.filter("doc_id < 50")
    uni, bi = unigram_lm(train), bigram_lm(train)
    lm_map = bigram_map_table(uni, bi)

    d = str(tmp_path / "docs_bppl")
    _write_batch(d, [_doc(i, t) for i, t in rows], "b0.json")
    out = streaming_bigram_perplexity_gate(
        read_doc_stream(spark, d), lm_map, max_ppl=20.0, lam=0.7
    )
    q = _run_to_memory(out.select("doc_id"), "bppl_stream", "append")
    got = sorted(
        r["doc_id"] for r in spark.sql("select * from bppl_stream").collect()
    )
    q.stop()
    assert got == list(range(6)) + [50]
    batch = sorted(
        r["doc_id"]
        for r in bigram_perplexity_filter(
            corpus, max_ppl=20.0, uni=uni, bi=bi, lam=0.7
        ).collect()
    )
    assert got == batch
    with pytest.raises(ValueError):
        streaming_bigram_perplexity_gate(corpus, lm_map, max_ppl=0)
    with pytest.raises(ValueError, match="lam"):
        streaming_bigram_perplexity_gate(corpus, lm_map, max_ppl=5.0, lam=1.0)


def test_streaming_url_filter_matches_batch(spark, tmp_path):
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from wimbd_spark.operators.urlfilter import filter_by_domain_blocklist
    from wimbd_spark.streaming import (
        blocked_domain_table,
        read_doc_stream,
        streaming_url_filter,
    )

    rows = [
        (1, "https://ads.example.com/x"),
        (2, "https://example.com/y"),
        (3, "https://example.com.evil.org/z"),
        (4, "https://keep.org/ok"),
        (5, "not a url"),
    ]
    blocked = spark.createDataFrame([("example.com",)], ["domain"])
    bmap = blocked_domain_table(blocked)

    d = str(tmp_path / "docs_url")
    _write_batch(
        d,
        [{"doc_id": i, "url": u} for i, u in rows],
        "b0.json",
    )
    schema = StructType(
        [StructField("doc_id", LongType()), StructField("url", StringType())]
    )
    out = streaming_url_filter(
        read_doc_stream(spark, d, schema=schema), bmap
    )
    q = _run_to_memory(out.select("doc_id"), "url_stream", "append")
    got = sorted(
        r["doc_id"] for r in spark.sql("select * from url_stream").collect()
    )
    q.stop()
    assert got == [3, 4, 5]
    batch = sorted(
        r["doc_id"]
        for r in filter_by_domain_blocklist(
            spark.createDataFrame(rows, ["doc_id", "url"]), blocked
        ).collect()
    )
    assert got == batch


def test_streaming_semantic_filter_matches_batch(spark, tmp_path):
    """The stateless semantic gate drops exactly the stream rows whose
    embedding has an in-cluster reference neighbor at cosine >= tau —
    batch-twin = the same exists-test computed with plain joins."""
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    from wimbd_spark.operators.similarity import build_ivf_index
    from wimbd_spark.streaming.dedup import (
        semantic_reference_table,
        streaming_semantic_filter,
    )

    ref_rows = [
        (100, [1.0, 0.0, 0.0, 0.0]),
        (101, [0.0, 1.0, 0.0, 0.0]),
        (102, [0.0, 0.0, 1.0, 0.0]),
    ]
    reference = spark.createDataFrame(
        ref_rows, "vec_id long, embedding array<double>"
    )
    idx = str(tmp_path / "semidx")
    build_ivf_index(reference, idx, n_centroids=3)

    stream_rows = [
        (1, [0.99, 0.14, 0.0, 0.0]),   # ~ref 100 → dropped
        (2, [0.0, 0.97, 0.24, 0.0]),   # ~ref 101 → dropped
        (3, [0.5, 0.5, 0.5, 0.5]),     # cos 0.5 to every ref → kept
        (4, [0.0, 0.0, 0.0, 1.0]),     # orthogonal to all → kept
    ]
    d = str(tmp_path / "vecs_sem")
    _write_batch(
        d,
        [{"vec_id": i, "embedding": v} for i, v in stream_rows],
        "b0.json",
    )
    schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(DoubleType())),
        ]
    )
    stream = spark.readStream.schema(schema).json(d)
    ref_table = semantic_reference_table(spark, idx)
    out_rows = []
    q = (
        streaming_semantic_filter(
            stream, idx, threshold=0.9, reference=ref_table
        )
        .writeStream.foreachBatch(
            lambda df, _e: out_rows.extend(
                r["vec_id"] for r in df.collect()
            )
        )
        .start()
    )
    q.processAllAvailable()
    q.stop()
    assert sorted(out_rows) == [3, 4]

    # batch twin: IDENTICAL call on a batch DataFrame
    batch = spark.createDataFrame(
        stream_rows, "vec_id long, embedding array<double>"
    )
    kept = streaming_semantic_filter(batch, idx, threshold=0.9)
    assert sorted(r["vec_id"] for r in kept.collect()) == sorted(out_rows)
    # and the brute-force spec: drop iff an in-cluster ref neighbor >= tau
    import numpy as np

    refs = {i: np.array(v) / np.linalg.norm(v) for i, v in ref_rows}
    expect_kept = []
    for i, v in stream_rows:
        u = np.array(v) / np.linalg.norm(v)
        # nearest centroid = nearest ref (3 centroids = 3 singleton clusters)
        nearest = max(refs, key=lambda r: (u @ refs[r], -r))
        if u @ refs[nearest] < 0.9:
            expect_kept.append(i)
    assert sorted(out_rows) == sorted(expect_kept)


def test_streaming_semantic_filter_empty_index(spark, tmp_path):
    from wimbd_spark.operators.similarity import build_ivf_index
    from wimbd_spark.streaming.dedup import streaming_semantic_filter

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    idx = str(tmp_path / "semempty")
    build_ivf_index(empty, idx, n_centroids=2)
    batch = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    kept = streaming_semantic_filter(batch, idx, threshold=0.5)
    assert [r["vec_id"] for r in kept.collect()] == [1]


def test_streaming_funnel_matches_batch(spark, tmp_path):
    from wimbd_spark.operators.funnel import quality_funnel
    from wimbd_spark.streaming import (
        read_doc_stream,
        streaming_dedup_exact,
        streaming_funnel_counts,
        streaming_funnel_gate,
    )

    docs = [
        _doc(1, "the of and to in is it for on the"),
        _doc(2, "the of and to in is it for on the"),   # dup of 1
        _doc(3, "el la de que en un es los el la"),     # es
        _doc(4, "tiny"),                                # too short
        _doc(5, None),                                  # null text
        _doc(7, "the and of it is on for to the in"),   # distinct en
    ]
    d = str(tmp_path / "docs_in")
    _write_batch(d, docs[:3], "b0.json")
    _write_batch(d, docs[3:], "b1.json")

    counts = streaming_funnel_counts(
        read_doc_stream(spark, d), min_tokens=5, max_tokens=100
    )
    q1 = _run_to_memory(counts, "funnel_counts", "complete")
    gate = streaming_funnel_gate(
        read_doc_stream(spark, d), min_tokens=5, max_tokens=100
    )
    deduped = streaming_dedup_exact(gate).select("doc_id")
    q2 = _run_to_memory(deduped, "funnel_s4", "append")
    try:
        row = spark.sql("SELECT * FROM funnel_counts").collect()[-1]
        s4 = spark.sql("SELECT count(*) AS c FROM funnel_s4").collect()[0]["c"]
        batch_docs = spark.createDataFrame(
            [(x["doc_id"], x["text"]) for x in docs],
            "doc_id long, text string",
        )
        batch = {
            r["stage_name"]: r["survivors"]
            for r in quality_funnel(
                batch_docs, min_tokens=5, max_tokens=100
            ).collect()
        }
        assert (row["s0"], row["s1"], row["s2"], row["s3"]) == (
            batch["ingest"],
            batch["nonempty"],
            batch["token_length"],
            batch["langid"],
        )
        assert s4 == batch["dedup_exact"]
    finally:
        q1.stop()
        q2.stop()


def test_streaming_dsir_gate_matches_batch(spark, tmp_path):
    from wimbd_spark.operators.dsir import (
        dsir_log_weights,
        fit_log_ratio,
        hashed_feature_counts,
    )
    from wimbd_spark.streaming import (
        dsir_map_table,
        read_doc_stream,
        streaming_dsir_gate,
    )

    pool_rows = [
        (1, "alpha beta alpha gamma"),
        (2, "xray yankee zulu xray zulu"),
        (3, None),
        (4, "alpha alpha beta beta gamma"),
    ]
    pool = spark.createDataFrame(pool_rows, "doc_id long, text string")
    target = spark.createDataFrame(
        [(100, "alpha beta gamma alpha beta")], "doc_id long, text string"
    )
    B = 128
    ratio = fit_log_ratio(
        hashed_feature_counts(target, B), hashed_feature_counts(pool, B), B
    )
    dmap = dsir_map_table(ratio)

    # batch-twin agreement: same rows pass the gate as score >= thr
    # (threshold = the second-highest batch weight, so the expected
    # survivor set is non-empty and non-total by construction)
    batch_w = {
        r["doc_id"]: r["log_weight"]
        for r in dsir_log_weights(pool, target, B).collect()
    }
    thr = sorted(batch_w.values(), reverse=True)[1]
    expect = sorted(d for d, w in batch_w.items() if w >= thr)
    assert 0 < len(expect) < len(batch_w)
    got = sorted(
        r["doc_id"]
        for r in streaming_dsir_gate(pool, dmap, thr, buckets=B).collect()
    )
    assert got == expect

    # real micro-batch run
    d = str(tmp_path / "dsir_in")
    _write_batch(d, [_doc(i, t) for i, t in pool_rows[:2]], "b0.json")
    _write_batch(d, [_doc(i, t) for i, t in pool_rows[2:]], "b1.json")
    out = streaming_dsir_gate(
        read_doc_stream(spark, d), dmap, thr, buckets=B
    ).select("doc_id")
    q = _run_to_memory(out, "dsir_gate", "append")
    try:
        rows = sorted(
            r["doc_id"] for r in spark.sql("select * from dsir_gate").collect()
        )
        assert rows == expect
    finally:
        q.stop()


def test_streaming_funnel_by_matches_batch(spark, tmp_path):
    # r8 (VERDICT r7 item 7): the grouped streaming funnel must agree
    # per group with the batch quality_funnel_by stages 0-3
    from wimbd_spark.operators.funnel import quality_funnel_by
    from wimbd_spark.streaming import (
        read_doc_stream,
        streaming_funnel_counts_by,
    )

    docs = [
        _doc(1, "the of and to in is it for on the", source="sA"),
        _doc(2, "the of and to in is it for on the", source="sA"),
        _doc(3, "el la de que en un es los el la", source="sB"),
        _doc(4, "tiny", source="sB"),
        _doc(5, None, source="sB"),
        _doc(7, "the and of it is on for to the in", source="sC"),
    ]
    d = str(tmp_path / "docs_in")
    _write_batch(d, docs[:3], "b0.json")
    _write_batch(d, docs[3:], "b1.json")

    counts = streaming_funnel_counts_by(
        read_doc_stream(spark, d), min_tokens=5, max_tokens=100
    )
    q = _run_to_memory(counts, "funnel_counts_by", "complete")
    try:
        got = {
            r["source"]: (r["s0"], r["s1"], r["s2"], r["s3"])
            for r in spark.sql("SELECT * FROM funnel_counts_by").collect()
        }
        batch_docs = spark.createDataFrame(
            [(x["doc_id"], x["text"], x["source"]) for x in docs],
            "doc_id long, text string, source string",
        )
        batch = {}
        for r in quality_funnel_by(
            batch_docs, group_col="source", min_tokens=5, max_tokens=100
        ).collect():
            batch.setdefault(r["source"], {})[r["stage_name"]] = r[
                "survivors"
            ]
        expect = {
            src: (
                b["ingest"],
                b["nonempty"],
                b["token_length"],
                b["langid"],
            )
            for src, b in batch.items()
        }
        assert got == expect
        assert set(got) == {"sA", "sB", "sC"}
    finally:
        q.stop()


def test_streaming_contamination_hits_slop(spark, tmp_path):
    # r8: the audit stream honors slop — windowed matches surface
    from wimbd_spark.streaming import (
        eval_gram_table,
        read_doc_stream,
        streaming_contamination_hits,
    )

    d = str(tmp_path / "docs_chs")
    _write_batch(
        d,
        [
            _doc(1, "quick brown fox"),        # contiguous
            _doc(2, "quick red brown fox"),    # 1 intervening token
            _doc(3, "quick red blue brown"),   # 2 intervening
            _doc(4, "brown then quick"),       # wrong order
        ],
        "b0.json",
    )
    ev = spark.createDataFrame([("quick brown",)], ["phrase"])
    grams = eval_gram_table(ev)
    out = streaming_contamination_hits(
        read_doc_stream(spark, d), grams, slop=1
    )
    q = _run_to_memory(
        out.select("doc_id", "phrase").dropDuplicates(),
        "chs_stream",
        "append",
    )
    try:
        rows = spark.sql("select * from chs_stream").collect()
        hits = sorted({(r["doc_id"], r["phrase"]) for r in rows})
        assert hits == [(1, "quick brown"), (2, "quick brown")]
    finally:
        q.stop()


def test_streaming_nb_gate_matches_batch(spark, tmp_path):
    from wimbd_spark.operators.classifier import fit_nb_classifier, nb_score
    from wimbd_spark.streaming import (
        nb_map_table,
        read_doc_stream,
        streaming_nb_gate,
    )

    pool_rows = [
        (1, "good clean prose good"),
        (2, "spam junk spam junk spam"),
        (3, None),
        (4, "good spam clean junk"),
    ]
    pool = spark.createDataFrame(pool_rows, "doc_id long, text string")
    pos = spark.createDataFrame(
        [(100, "good clean prose clean good")], "doc_id long, text string"
    )
    model = fit_nb_classifier(pos, pool, min_count=1)
    nmap = nb_map_table(model)

    batch_s = {
        r["doc_id"]: r["score"] for r in nb_score(pool, model).collect()
    }
    thr = sorted(batch_s.values(), reverse=True)[1]
    expect = sorted(d for d, s in batch_s.items() if s >= thr)
    assert 0 < len(expect) < len(batch_s)
    got = sorted(
        r["doc_id"] for r in streaming_nb_gate(pool, nmap, thr).collect()
    )
    assert got == expect

    # real micro-batch run
    d = str(tmp_path / "nb_in")
    _write_batch(d, [_doc(i, t) for i, t in pool_rows[:2]], "b0.json")
    _write_batch(d, [_doc(i, t) for i, t in pool_rows[2:]], "b1.json")
    out = streaming_nb_gate(read_doc_stream(spark, d), nmap, thr).select(
        "doc_id"
    )
    q = _run_to_memory(out, "nb_gate", "append")
    try:
        rows = sorted(
            r["doc_id"] for r in spark.sql("select * from nb_gate").collect()
        )
        assert rows == expect
    finally:
        q.stop()


def test_streaming_url_dedup_normalized_key(spark, tmp_path):
    """URL-level stream dedup keys on the NORMALIZED form: messy
    variants of one page collapse across micro-batches; batch twin
    (dedup_keep_first key=url_normalize) agrees on survivors."""
    import json as _json
    import os as _os

    from wimbd_spark.streaming import read_doc_stream, streaming_url_dedup

    def _u(doc_id, url, minute=0):
        return {
            "doc_id": doc_id,
            "ts": f"2024-01-01T00:{minute:02d}:00.000Z",
            "text": "x",
            "source": "s0",
            "url": url,
        }

    d = str(tmp_path / "url_in")
    _write_batch(
        d,
        [
            _u(1, "https://h.com/p"),
            _u(2, "https://h.com/p?utm_source=a"),  # dup of 1
            _u(3, "https://h.com/q"),
        ],
        "b0.json",
    )
    stream = (
        spark.readStream.schema(
            "doc_id long, ts string, text string, source string, url string"
        )
        .option("maxFilesPerTrigger", 1)
        .json(d)
    )
    out = streaming_url_dedup(stream).select("doc_id")
    q = _run_to_memory(out, "url_dedup_stream", "append")
    _write_batch(
        d,
        [
            _u(4, "HTTPS://H.COM:443/p#top"),  # dup of 1, later batch
            _u(5, "https://h.com/r/"),
        ],
        "b1.json",
    )
    q.processAllAvailable()
    got = sorted(
        r["doc_id"] for r in spark.sql("select * from url_dedup_stream").collect()
    )
    q.stop()
    assert got == [1, 3, 5]

    from pyspark.sql import functions as F

    from wimbd_spark.functions.text import url_normalize
    from wimbd_spark.operators.dedup import dedup_keep_first

    batch = spark.createDataFrame(
        [
            (1, "https://h.com/p"),
            (2, "https://h.com/p?utm_source=a"),
            (3, "https://h.com/q"),
            (4, "HTTPS://H.COM:443/p#top"),
            (5, "https://h.com/r/"),
        ],
        ["doc_id", "url"],
    ).withColumn("text", F.lit("x"))
    want = sorted(
        r["doc_id"]
        for r in dedup_keep_first(
            batch, key=url_normalize(F.col("url"))
        ).collect()
    )
    assert got == want


def test_streaming_url_dedup_null_urls_pass_through(spark, tmp_path):
    """Documents with no URL must NOT be deduped against each other:
    md5(url_normalize(NULL))=NULL and dropDuplicates groups NULL keys,
    which would keep one URL-less doc per horizon (r10 ADVICE). The
    NULL branch bypasses the stateful operator entirely."""
    from wimbd_spark.streaming import streaming_url_dedup

    def _u(doc_id, url, minute=0):
        return {
            "doc_id": doc_id,
            "ts": f"2024-01-01T00:{minute:02d}:00.000Z",
            "text": "x",
            "source": "s0",
            "url": url,
        }

    d = str(tmp_path / "url_null_in")
    _write_batch(
        d,
        [_u(1, "https://h.com/p"), _u(2, None), _u(3, None)],
        "b0.json",
    )
    stream = (
        spark.readStream.schema(
            "doc_id long, ts string, text string, source string, url string"
        )
        .option("maxFilesPerTrigger", 1)
        .json(d)
    )
    out = streaming_url_dedup(stream).select("doc_id")
    q = _run_to_memory(out, "url_dedup_null_stream", "append")
    _write_batch(d, [_u(4, None), _u(5, "https://h.com/p")], "b1.json")
    q.processAllAvailable()
    got = sorted(
        r["doc_id"]
        for r in spark.sql("select * from url_dedup_null_stream").collect()
    )
    q.stop()
    assert got == [1, 2, 3, 4]


def test_streaming_contamination_hits_ac_parity(spark, tmp_path):
    """method='ac' on the hits audit stream is row-MULTISET-identical
    to the gram explode-join, including multiple occurrences of one
    phrase in one doc and overlapping occurrences."""
    from wimbd_spark.streaming import (
        eval_gram_table,
        read_doc_stream,
        streaming_contamination_hits,
    )

    d1 = str(tmp_path / "docs_ch_ac")
    d2 = str(tmp_path / "docs_ch_gram")
    batch = [
        _doc(1, "the quick brown fox quick brown again"),  # 2 occurrences
        _doc(2, "nothing to see"),
        _doc(3, "a a a"),  # overlapping "a a" occurrences
        _doc(4, None),
    ]
    _write_batch(d1, batch, "b0.json")
    _write_batch(d2, batch, "b0.json")
    ev = spark.createDataFrame(
        [("quick brown",), ("a a",), ("turtle",)], ["phrase"]
    )
    grams = eval_gram_table(ev)

    got = {}
    for name, src, method in (
        ("ac", d1, "ac"),
        ("gram", d2, "gram"),
    ):
        out = streaming_contamination_hits(
            read_doc_stream(spark, src), grams, method=method
        ).select("doc_id", "phrase")
        q = _run_to_memory(out, f"ch_{name}_parity", "append")
        q.processAllAvailable()
        got[name] = sorted(
            (r["doc_id"], r["phrase"])
            for r in spark.sql(f"select * from ch_{name}_parity").collect()
        )
        q.stop()
    assert got["ac"] == got["gram"]
    # the multiset shape itself: 2 quick-brown rows, 2 overlapping a-a
    assert got["ac"].count((1, "quick brown")) == 2
    assert got["ac"].count((3, "a a")) == 2

    import pytest as _pytest

    with _pytest.raises(ValueError, match="method"):
        streaming_contamination_hits(
            read_doc_stream(spark, d1), grams, method="aho"
        )
    with _pytest.raises(ValueError, match="slop"):
        streaming_contamination_hits(
            read_doc_stream(spark, d1), grams, slop=1, method="ac"
        )



def _decon_docs(spark):
    """Static docs for the batch/stream contamination agreement: NULL
    text and a duplicated doc_id (the second copy of 6 is the
    contaminated one) ride along with one hit per eval set below."""
    from wimbd_spark.index import GRAM_JOIN_MAX_PHRASE_TOKENS
    from wimbd_spark.session import local_frame

    long_seq = " ".join(
        f"w{i}" for i in range(GRAM_JOIN_MAX_PHRASE_TOKENS + 3)
    )
    rows = [
        (1, "the quick brown fox jumps"),
        (2, "alpha x beta gamma"),
        (3, "one two x three four"),
        (4, f"pre {long_seq} post"),
        (5, None),
        (6, "nothing to see here"),
        (6, "alpha beta gamma delta"),
        (7, "t3 t4 t5 t6 end"),
    ]
    return local_frame(spark, rows, "doc_id long, text string"), long_seq


# (phrases, slop, AC route expected, flagged ids); the "ac" set spans
# 4 short lengths and 40 phrases so method="auto" picks the automaton
_DECON_CASES = {
    "gram": (["quick brown", "alpha beta", "not present"], 0, False, {1, 6}),
    "ac": (
        [
            " ".join(f"t{j}" for j in range(i, i + L))
            for L in (2, 3, 4, 5)
            for i in range(10, 20)
        ]
        + ["t3 t4"],
        0,
        True,
        {7},
    ),
    "overlong": (None, 0, False, {1, 4}),
    "slop_hatch": (["alpha beta", "one two three four"], 1, False, {2, 3, 6}),
}


@pytest.mark.parametrize("case", sorted(_DECON_CASES))
def test_contamination_hits_agree_with_batch_flags(spark, monkeypatch, case):
    """streaming_contamination_hits and decontaminate_by_ngrams share
    one phrase-hit planner, so on the same static frame the docs the
    audit stream reports are exactly the ids the batch operator flags
    — on the gram route, the auto-picked AC route, the overlong
    contains join and the slop scan hatch."""
    import wimbd_spark.index as idx
    from wimbd_spark.operators.dedup import (
        _phrase_route,
        decontaminate_by_ngrams,
    )
    from wimbd_spark.session import local_frame
    from wimbd_spark.streaming import (
        eval_gram_table,
        streaming_contamination_hits,
    )

    docs, long_seq = _decon_docs(spark)
    phrases, slop, want_ac, want = _DECON_CASES[case]
    if phrases is None:
        phrases = [long_seq, "quick brown"]
    if case == "slop_hatch":
        # slop=1 costs: L=2 → 2, L=4 → 4; budget 3 → L=4 via the scan
        monkeypatch.setattr(idx, "MAX_SLOP_COMBINATIONS", 3)
    ev = local_frame(spark, [(p,) for p in phrases], "phrase string")
    grams = eval_gram_table(ev)
    _, ac_phrases = _phrase_route(grams, "auto", slop, None)
    assert (ac_phrases is not None) == want_ac

    flagged = {
        r["doc_id"]
        for r in decontaminate_by_ngrams(
            docs, ev, mode="flag", slop=slop
        ).collect()
        if r["contaminated"]
    }
    hit_ids = {
        r["doc_id"]
        for r in streaming_contamination_hits(docs, grams, slop=slop)
        .select("doc_id")
        .distinct()
        .collect()
    }
    assert flagged == hit_ids == want


@pytest.mark.parametrize("method", ["auto", "ac"])
def test_contamination_hits_setup_jobs_match_batch(spark, method):
    """Building the audit stream runs exactly the driver jobs that
    building the batch decontaminator runs on the same eval set and
    method: both plan through one route (one bounded phrase collect
    for "ac"; one per-length aggregate for a gram-routed "auto" set,
    whose lengths are not collected a second time)."""
    import uuid

    from wimbd_spark.operators.dedup import decontaminate_by_ngrams
    from wimbd_spark.session import local_frame
    from wimbd_spark.streaming import (
        eval_gram_table,
        streaming_contamination_hits,
    )

    docs, _ = _decon_docs(spark)
    # one length, under 32 phrases: method="auto" stays on grams
    ev = local_frame(
        spark,
        [("quick brown",), ("alpha beta",), ("lazy dog",)],
        "phrase string",
    )
    sc = spark.sparkContext

    def jobs(build):
        group = f"decon-setup-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            build()
        finally:
            sc._jsc.clearJobGroup()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    batch = jobs(
        lambda: decontaminate_by_ngrams(docs, ev, method=method)
    )
    stream = jobs(
        lambda: streaming_contamination_hits(
            docs, eval_gram_table(ev), method=method
        )
    )
    assert batch >= 1
    assert stream == batch

def test_streaming_ivf_ingest_delta_lifecycle(spark, tmp_path):
    """Vector-side streaming ingest: micro-batches land in the delta
    tier (exactly-once epoch dirs), queries see base ∪ delta at once
    (plain and PQ paths), absorb folds the delta into a fresh
    partition-pruned generation with identical answers, and recluster
    consumes the delta too."""
    import pytest
    from pyspark.sql import functions as F

    from wimbd_spark.operators.similarity import (
        absorb_ivf_delta,
        build_ivf_index,
        cosine_topk_ivf_indexed,
        cosine_topk_ivf_pq_indexed,
        ivf_list_sizes,
        recluster_ivf_index,
    )
    from wimbd_spark.streaming.vectors import (
        read_vector_stream,
        streaming_ivf_ingest,
    )

    base_rows = []
    for c, axis in enumerate(
        [[1, 0, 0, 0], [0, 1, 0, 0], [0, 0, 1, 0], [0, 0, 0, 1]]
    ):
        for i in range(10):
            v = [float(x) for x in axis]
            v[(c + 1) % 4] += 0.02 * i
            base_rows.append((c * 100 + i, v))
    base = spark.createDataFrame(
        base_rows, "vec_id long, embedding array<double>"
    )
    path = str(tmp_path / "ivfstream")
    build_ivf_index(base, path, n_centroids=4, pq_m=2, pq_codes=4)

    # two micro-batches; vec 9000 is nearly identical to base vec 0
    b1 = spark.createDataFrame(
        [(9000, [1.0, 0.001, 0.0, 0.0]), (9001, [0.0, 1.0, 0.001, 0.0])],
        "vec_id long, embedding array<double>",
    )
    b2 = spark.createDataFrame(
        [(9002, [0.0, 0.0, 1.0, 0.001])],
        "vec_id long, embedding array<double>",
    )
    feed = str(tmp_path / "vecfeed")
    b1.coalesce(1).write.mode("append").parquet(feed)
    b2.coalesce(1).write.mode("append").parquet(feed)

    stream = read_vector_stream(spark, feed, max_files_per_trigger=1)
    q = streaming_ivf_ingest(
        stream, path, checkpoint=str(tmp_path / "ckpt")
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    sizes = ivf_list_sizes(spark, path).collect()
    assert sum(r["size"] for r in sizes) == 43  # 40 base + 3 delta

    queries = base.filter(F.col("vec_id") == 0)
    got = cosine_topk_ivf_indexed(
        spark, path, queries, k=1, n_probe=4
    ).collect()
    assert got[0]["neighbor_id"] == 9000  # delta row won the top rank

    pq_ids = {
        r["neighbor_id"]
        for r in cosine_topk_ivf_pq_indexed(
            spark, path, queries, k=43, n_probe=4
        ).collect()
    }
    assert {9000, 9001, 9002} <= pq_ids  # delta rows carry PQ codes

    fresh = str(tmp_path / "ivfabsorbed")
    absorb_ivf_delta(spark, path, fresh)
    import os

    assert not os.path.exists(f"{fresh}/delta")
    same = cosine_topk_ivf_indexed(
        spark, fresh, queries, k=5, n_probe=4
    ).collect()
    orig = cosine_topk_ivf_indexed(
        spark, path, queries, k=5, n_probe=4
    ).collect()
    assert sorted(map(tuple, same)) == sorted(map(tuple, orig))

    gen2 = str(tmp_path / "ivfgen2s")
    recluster_ivf_index(spark, path, gen2, n_centroids=4)
    assert (
        sum(r["size"] for r in ivf_list_sizes(spark, gen2).collect()) == 43
    )

    with pytest.raises(ValueError, match="nothing to absorb"):
        absorb_ivf_delta(spark, fresh, str(tmp_path / "nope2"))


def test_streaming_ivf_ingest_epoch_redelivery(spark, tmp_path):
    """At-least-once redelivery of a micro-batch epoch rewrites the
    same delta/batch=<epoch> directory instead of duplicating vectors
    (the exactly-once epoch-sink contract)."""
    from pyspark.sql import functions as F

    from wimbd_spark.operators.similarity import (
        _assign_rows,
        _centroid_literal,
        build_ivf_index,
        ivf_list_sizes,
    )

    base = spark.createDataFrame(
        [(i, [1.0, 0.1 * i, 0.0, 0.0]) for i in range(8)],
        "vec_id long, embedding array<double>",
    )
    path = str(tmp_path / "ivfredo")
    build_ivf_index(base, path, n_centroids=2)
    cents = spark.read.parquet(f"{path}/centroids").collect()
    cent_arr = _centroid_literal(
        [{"centroid_id": r["centroid_id"], "_cent": r["v"]} for r in cents]
    )
    newv = spark.createDataFrame(
        [(100, [0.5, 0.5, 0.0, 0.0]), (101, [0.1, 0.9, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    # replay epoch 7 twice — the foreachBatch body's write mode
    for _ in range(2):
        _assign_rows(newv, cent_arr, None, "vec_id", "embedding").write.mode(
            "overwrite"
        ).parquet(f"{path}/delta/batch=7")
    total = sum(r["size"] for r in ivf_list_sizes(spark, path).collect())
    assert total == 10  # 8 base + 2 delta, NOT 12


def test_session_window_append_emits_finalized(spark, tmp_path):
    """Production session shape (SCALE.md): append mode + watermark —
    a session is emitted exactly once, after the watermark passes its
    end, and its state is dropped; still-open sessions stay unemitted."""
    from wimbd_spark.streaming import read_event_stream, session_window_stream

    d = str(tmp_path / "sess_append")
    _write_batch(d, [_ev(1, 0, 1), _ev(2, 10, 1)], "b0.json")
    ev = read_event_stream(spark, d, max_files_per_trigger=1)
    q = _run_to_memory(
        session_window_stream(ev, gap="30 minutes", watermark="0 seconds"),
        "sess_append_t",
        "append",
    )
    try:
        q.processAllAvailable()
        # nothing finalized yet: watermark sits at 00:10, session open
        assert spark.sql("SELECT * FROM sess_append_t").count() == 0
        # push event time far past the session end → finalize + emit
        _write_batch(
            d,
            [{**_ev(3, 0, 2), "ts": "2024-01-01T05:00:00.000Z"}],
            "b1.json",
        )
        q.processAllAvailable()
        rows = {
            r["user_id"]: r
            for r in spark.sql("SELECT * FROM sess_append_t").collect()
        }
        assert rows[1]["n_events"] == 2  # the closed 2-event session
        assert 2 not in rows  # user 2's session is still open
    finally:
        q.stop()


def test_streaming_contamination_hits_slop_hatch(spark, tmp_path, monkeypatch):
    """Over-budget slop no longer raises in the audit stream: the
    over-budget length routes through the scan predicate at stream
    setup and the hit set matches the all-gram route under the
    default budget (r12 VERDICT #5). Scan-routed phrases emit one
    row per (doc, phrase) — dropDuplicates both sides for the
    comparison."""
    import wimbd_spark.index as idx
    from wimbd_spark.streaming import (
        eval_gram_table,
        read_doc_stream,
        streaming_contamination_hits,
    )

    d = str(tmp_path / "docs_hatch")
    _write_batch(
        d,
        [
            _doc(1, "alpha beta gamma delta"),
            _doc(2, "alpha x beta gamma"),
            _doc(3, "one two x three four"),
            _doc(4, "beta alpha delta"),
        ],
        "b0.json",
    )
    ev = spark.createDataFrame(
        [("alpha beta",), ("one two three four",)], ["phrase"]
    )
    grams = eval_gram_table(ev)

    def run(name):
        out = streaming_contamination_hits(
            read_doc_stream(spark, d), grams, slop=1
        )
        q = _run_to_memory(
            out.select("doc_id", "phrase").dropDuplicates(), name, "append"
        )
        try:
            q.processAllAvailable()
            return sorted(
                {(r["doc_id"], r["phrase"])
                 for r in spark.sql(f"select * from {name}").collect()}
            )
        finally:
            q.stop()

    want = run("hatch_all_gram")
    # slop=1 costs: L=2 → 2, L=4 → 4; budget 3 → L=4 via the scan hatch
    monkeypatch.setattr(idx, "MAX_SLOP_COMBINATIONS", 3)
    got = run("hatch_mixed")
    assert got == want
    assert want == [
        (1, "alpha beta"),
        (2, "alpha beta"),
        (3, "one two three four"),
    ]


def test_streaming_ivf_ingest_reset_checkpoint_guard(spark, tmp_path):
    """Epoch ids are checkpoint-scoped (r12 ADVICE): delta batches
    land under delta/run=<ckpt-digest>/, a restart with the SAME
    checkpoint resumes cleanly, and a RESET checkpoint (run dir holds
    data, no offset log) refuses to start instead of silently
    overwriting batch=0. A legacy flat delta layout also refuses."""
    import glob
    import shutil

    import pytest

    from wimbd_spark.operators.similarity import (
        build_ivf_index,
        ivf_list_sizes,
    )
    from wimbd_spark.streaming.vectors import (
        read_vector_stream,
        streaming_ivf_ingest,
    )

    base = spark.createDataFrame(
        [(i, [1.0, 0.1 * i, 0.0, 0.0]) for i in range(8)],
        "vec_id long, embedding array<double>",
    )
    path = str(tmp_path / "ivfguard")
    build_ivf_index(base, path, n_centroids=2)
    feed = str(tmp_path / "guardfeed")
    ckpt = str(tmp_path / "guardckpt")
    spark.createDataFrame(
        [(100, [0.5, 0.5, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    ).coalesce(1).write.mode("append").parquet(feed)
    q = streaming_ivf_ingest(
        read_vector_stream(spark, feed, max_files_per_trigger=1),
        path, checkpoint=ckpt,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # run-namespaced layout, readable through _read_lists
    runs = glob.glob(f"{path}/delta/run=*/batch=*")
    assert runs, "delta batches must land under delta/run=<id>/"
    assert sum(
        r["size"] for r in ivf_list_sizes(spark, path).collect()
    ) == 9
    # same checkpoint, more data: resumes (offset log present)
    spark.createDataFrame(
        [(101, [0.0, 1.0, 0.1, 0.0])],
        "vec_id long, embedding array<double>",
    ).coalesce(1).write.mode("append").parquet(feed)
    q = streaming_ivf_ingest(
        read_vector_stream(spark, feed, max_files_per_trigger=1),
        path, checkpoint=ckpt,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert sum(
        r["size"] for r in ivf_list_sizes(spark, path).collect()
    ) == 10
    # reset checkpoint + existing run dir: refuse, data intact
    shutil.rmtree(ckpt)
    with pytest.raises(ValueError, match="no offset log"):
        streaming_ivf_ingest(
            read_vector_stream(spark, feed), path, checkpoint=ckpt
        )
    assert sum(
        r["size"] for r in ivf_list_sizes(spark, path).collect()
    ) == 10
    # a DIFFERENT checkpoint is a different run namespace: starts fine
    q = streaming_ivf_ingest(
        read_vector_stream(spark, feed, max_files_per_trigger=1),
        path, checkpoint=str(tmp_path / "guardckpt2"),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert len(glob.glob(f"{path}/delta/run=*")) == 2
    # legacy flat layout refuses before any write
    path2 = str(tmp_path / "ivfguard2")
    build_ivf_index(base, path2, n_centroids=2)
    spark.createDataFrame(
        [(200, [0.5, 0.5, 0.0, 0.0], 0)],
        "id long, uvec array<double>, centroid int",
    ).write.parquet(f"{path2}/delta/batch=0")
    with pytest.raises(ValueError, match="legacy flat delta"):
        streaming_ivf_ingest(
            read_vector_stream(spark, feed), path2,
            checkpoint=str(tmp_path / "guardckpt3"),
        )


def test_stateful_user_counts_timeout_expires_state(spark, tmp_path):
    """timeout_ms bounds the state store: a key's state expires after
    the processing-time horizon (its hasTimedOut callback emits the
    final total and removes it) and a later event for the same key
    starts the count over — the unbounded-key safety the NoTimeout
    form lacks. ProcessingTimeTimeout keeps the engine scheduling
    state-cleanup triggers forever, so processAllAvailable never
    settles for this query shape — the test polls the memory sink
    with a deadline instead (the production pattern is a real trigger
    interval, not processAllAvailable)."""
    import time

    from wimbd_spark.streaming import read_event_stream, stateful_user_counts

    def _poll(predicate, deadline_s=60):
        t0 = time.time()
        while time.time() - t0 < deadline_s:
            rows = spark.sql("select * from ttl_state").collect()
            if predicate(rows):
                return rows
            time.sleep(0.5)
        raise AssertionError(
            f"condition not reached in {deadline_s}s: "
            f"{spark.sql('select * from ttl_state').collect()}"
        )

    d = str(tmp_path / "ttl_events")
    _write_batch(d, [_ev(1, 0, 1), _ev(2, 5, 1)], "b0.json")
    # NOT _run_to_memory: its processAllAvailable never returns under
    # ProcessingTimeTimeout (see docstring)
    q = (
        stateful_user_counts(
            read_event_stream(spark, d, max_files_per_trigger=1),
            timeout_ms=2000,
        )
        .writeStream.format("memory")
        .queryName("ttl_state")
        .outputMode("update")
        .start()
    )
    try:
        # both events counted
        _poll(
            lambda rows: any(
                r["user_id"] == 1 and r["total_events"] == 2 for r in rows
            )
        )
        # horizon passes with no new data: the cleanup trigger fires
        # hasTimedOut, which re-emits the final total (a second
        # total=2 row in the update log) and removes the state
        _poll(
            lambda rows: sum(
                1
                for r in rows
                if r["user_id"] == 1 and r["total_events"] == 2
            )
            >= 2
        )
        # a later event restarts the count at 1 — never 3
        _write_batch(d, [_ev(3, 60, 1)], "b1.json")
        rows = _poll(
            lambda rows: any(
                r["user_id"] == 1 and r["total_events"] == 1 for r in rows
            )
        )
        assert not any(
            r["user_id"] == 1 and r["total_events"] == 3 for r in rows
        )
    finally:
        q.stop()


def test_streaming_ivf_dedup_ingest_gate(spark, tmp_path):
    """Dedup-on-ingest: a micro-batch vector that ε-matches the base
    index, an EARLIER batch's survivor, or a smaller-id batch-mate is
    dropped; genuinely new vectors land in the delta tier. Earlier
    epochs gate later ones because the lists listing re-resolves per
    batch."""
    from wimbd_spark.operators.similarity import (
        build_ivf_index,
        ivf_list_sizes,
    )
    from wimbd_spark.streaming.vectors import (
        read_vector_stream,
        streaming_ivf_dedup_ingest,
    )

    base_rows = []
    for c in range(4):
        for i in range(6):
            v = [0.05] * 4
            v[c] = 1.0
            v[(c + 1) % 4] += 0.2 * i
            base_rows.append((c * 100 + i, v))
    base = spark.createDataFrame(
        base_rows, "vec_id long, embedding array<double>"
    )
    path = str(tmp_path / "dedupingest")
    build_ivf_index(base, path, n_centroids=4)

    feed = str(tmp_path / "ddfeed")
    # b0: 9000 ≈ base vec 0 (ε-dup of base → dropped); 9001 and 9002
    # are near-identical batch-mates (keep-min-id → 9002 dropped);
    # 9003 genuinely new
    b0 = spark.createDataFrame(
        [
            (9000, [1.0, 0.05, 0.05, 0.0501]),
            (9001, [0.5, 0.5, 0.5, 0.5]),
            (9002, [0.5001, 0.5, 0.5, 0.5]),
            (9003, [-1.0, 0.05, 0.05, 0.05]),
        ],
        "vec_id long, embedding array<double>",
    )
    # b1: 9100 ≈ b0 survivor 9001 (dropped via the delta); 9101 new
    b1 = spark.createDataFrame(
        [
            (9100, [0.5, 0.5001, 0.5, 0.5]),
            (9101, [0.05, -1.0, 0.05, 0.05]),
        ],
        "vec_id long, embedding array<double>",
    )
    b0.coalesce(1).write.mode("append").parquet(feed)
    b1.coalesce(1).write.mode("append").parquet(feed)
    q = streaming_ivf_dedup_ingest(
        read_vector_stream(spark, feed, max_files_per_trigger=1),
        path,
        checkpoint=str(tmp_path / "ddckpt"),
        threshold=0.999,
        n_probe=4,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    from wimbd_spark.operators.similarity import _read_lists

    ids = {
        r["id"]
        for r in _read_lists(spark, path, columns=["id"]).collect()
    }
    assert 9001 in ids and 9003 in ids and 9101 in ids
    assert 9000 not in ids and 9002 not in ids and 9100 not in ids
    assert sum(
        r["size"] for r in ivf_list_sizes(spark, path).collect()
    ) == 24 + 3


def test_streaming_bigram_gate_nul_bearing_tokens(spark):
    """ADVICE r14: tokenize splits on \\s+ and \\x00 is NOT whitespace,
    so dirty web text can carry NUL inside tokens. The old
    concat(prev, NUL, token) fold collided ("a\\x00b","c") with
    ("a","b\\x00c") — duplicate map keys THROW at build time under the
    default mapKeyDedupPolicy=EXCEPTION, and near-misses looked up the
    wrong pml. The struct-keyed fold must build cleanly and agree with
    the batch scorer row-for-row on exactly that corpus."""
    from wimbd_spark.operators.lm import (
        bigram_lm,
        bigram_perplexity_filter,
        unigram_lm,
    )
    from wimbd_spark.streaming import (
        bigram_map_table,
        streaming_bigram_perplexity_gate,
    )

    rows = [
        (1, "a\x00b c"),
        (2, "a b\x00c"),
        (3, "a\x00b c a b\x00c"),
        (4, "zz qq ww"),  # unseen filler so the gate has something to drop
    ]
    corpus = spark.createDataFrame(rows, ["doc_id", "text"])
    train = corpus.filter("doc_id <= 3")
    uni, bi = unigram_lm(train), bigram_lm(train)
    # the fold itself is the old failure point (duplicate-key throw)
    lm_map = bigram_map_table(uni, bi)
    got = sorted(
        r["doc_id"]
        for r in streaming_bigram_perplexity_gate(
            corpus, lm_map, max_ppl=10.0, lam=0.7
        ).collect()
    )
    batch = sorted(
        r["doc_id"]
        for r in bigram_perplexity_filter(
            corpus, max_ppl=10.0, uni=uni, bi=bi, lam=0.7
        ).collect()
    )
    assert got == batch
    assert 4 not in got and got  # gate kept seen docs, dropped gibberish
