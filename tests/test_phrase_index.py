"""Posting-list phrase index: exact parity with the scan-path search
surface, plus the plan guarantee that makes it an index — query time
never scans the corpus."""

import pytest
from pyspark.sql import functions as F

from wimbd_spark.index import (
    build_phrase_index,
    count_documents_containing_phrases_indexed,
    count_documents_for_each_phrase_indexed,
    count_total_occurrences_of_unigrams_indexed,
    get_documents_containing_phrases_indexed,
    load_phrase_index,
    phrase_matching_docs,
)
from wimbd_spark.search import (
    count_documents_containing_phrases,
    count_documents_for_each_phrase,
    count_total_occurrences_of_unigrams,
    get_documents_containing_phrases,
)


@pytest.fixture(scope="module")
def corpus(documents):
    return documents.select("doc_id", "text", "lang")


@pytest.fixture(scope="module")
def index(spark, corpus, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("phraseidx") / "postings")
    build_phrase_index(corpus, path, num_files=4)
    return load_phrase_index(spark, path)


PHRASES = [
    "table scan",
    "join",
    "query plan",
    "scan the big",
    "zzznotatoken alsomissing",  # absent tokens → empty postings → 0
]


def test_counts_match_scan_path(corpus, index):
    for p in PHRASES:
        scan = count_documents_containing_phrases(corpus, [p])
        idx = count_documents_containing_phrases_indexed(index, [p])
        assert idx == scan, p


def test_or_and_combinations_match(corpus, index):
    two = ["table scan", "query plan"]
    assert count_documents_containing_phrases_indexed(
        index, two
    ) == count_documents_containing_phrases(corpus, two)
    assert count_documents_containing_phrases_indexed(
        index, two, all_phrases=True
    ) == count_documents_containing_phrases(corpus, two, all_phrases=True)


def test_slop_matches_scan_path(corpus, index):
    for slop in (1, 2):
        scan = count_documents_containing_phrases(
            corpus, ["scan big"], slop=slop
        )
        idx = count_documents_containing_phrases_indexed(
            index, ["scan big"], slop=slop
        )
        assert idx == scan, slop
    # sanity: slop widens the hit set for this phrase pair
    assert count_documents_containing_phrases_indexed(
        index, ["scan big"], slop=2
    ) >= count_documents_containing_phrases_indexed(index, ["scan big"])


def test_retrieval_matches_scan_path(corpus, index):
    scan_ids = {
        r["doc_id"]
        for r in get_documents_containing_phrases(
            corpus, ["table scan"], num_documents=None
        ).collect()
    }
    idx_ids = {
        r["doc_id"]
        for r in get_documents_containing_phrases_indexed(
            corpus, index, ["table scan"], num_documents=None
        ).collect()
    }
    assert idx_ids == scan_ids and len(idx_ids) > 0


def test_per_phrase_counts_match(corpus, index):
    scan = {
        r["phrase"]: r["count"]
        for r in count_documents_for_each_phrase(corpus, PHRASES).collect()
    }
    idx = {
        r["phrase"]: r["count"]
        for r in count_documents_for_each_phrase_indexed(
            index, PHRASES
        ).collect()
    }
    assert idx == scan


def test_unigram_ttf_matches(corpus, index):
    terms = ["join", "scan", "zzznotaterm"]
    scan = {
        r["unigram"]: r["count"]
        for r in count_total_occurrences_of_unigrams(corpus, terms).collect()
    }
    idx = {
        r["unigram"]: r["count"]
        for r in count_total_occurrences_of_unigrams_indexed(
            index, terms
        ).collect()
    }
    assert idx == scan
    assert idx["zzznotaterm"] == 0


def test_indexed_path_never_scans_corpus(index):
    from wimbd_spark.plans import explain_str

    q = phrase_matching_docs(index, "table scan")
    plan = explain_str(q)
    # only the postings parquet appears; the documents table is absent
    assert "documents.parquet" not in plan
    assert "postings" in plan
    # the token equality predicate reaches the postings scan
    assert "PushedFilters: [" in plan and "token" in plan


def test_duplicate_token_phrase(spark, tmp_path):
    # phrase with a repeated token exercises the greedy chain joining
    # the same posting side twice
    df = spark.createDataFrame(
        [
            (1, "the cat the hat"),
            (2, "the cat sat"),
            (3, "cat the cat the"),
        ],
        ["doc_id", "text"],
    )
    path = str(tmp_path / "dupidx")
    build_phrase_index(df, path, num_files=1)
    idx = load_phrase_index(spark, path)
    got = {
        r["doc_id"]
        for r in phrase_matching_docs(idx, "the cat the").collect()
    }
    scan = {
        r["doc_id"]
        for r in get_documents_containing_phrases(
            df, ["the cat the"], num_documents=None
        ).collect()
    }
    # doc 3 "cat the cat the" contains the phrase at positions 1-3
    assert got == scan == {1, 3}


_VOCAB = [
    "join", "hash", "row", "batch", "scan", "customer", "column",
    "filter", "small", "slow", "merge", "order", "vector", "table",
]


def _batch_phrases():
    # 100+ phrases: unigrams, bigram cross-product, trigrams, absent
    out = list(_VOCAB)
    out += [f"{a} {b}" for a in _VOCAB[:10] for b in _VOCAB[:10] if a != b]
    out += ["zzz missing phrase", "table scan merge"]
    return out


def test_batched_counts_match_scan_path(spark, corpus, index):
    phrases = _batch_phrases()
    assert len(phrases) >= 100
    scan = {
        r["phrase"]: r["count"]
        for r in count_documents_for_each_phrase(corpus, phrases).collect()
    }
    idx = {
        r["phrase"]: r["count"]
        for r in count_documents_for_each_phrase_indexed(
            index, phrases
        ).collect()
    }
    assert idx == scan
    assert idx["zzz missing phrase"] == 0


def test_and_group_counts_match_scan_path(corpus, index):
    # list-of-lists phrases are AND-groups: a doc counts only when it
    # matches every member — batched path parity with the scan path
    groups = [["table scan", "join"], ["query plan"], ["join", "zzzqq"]]
    scan = {
        r["phrase"]: r["count"]
        for r in count_documents_for_each_phrase(corpus, groups).collect()
    }
    idx = {
        r["phrase"]: r["count"]
        for r in count_documents_for_each_phrase_indexed(
            index, groups
        ).collect()
    }
    assert idx == scan
    assert idx["table scan AND join"] > 0
    assert idx["join AND zzzqq"] == 0


def test_batch_pushdown_reaches_postings_scan(index):
    from wimbd_spark.plans import explain_str

    from wimbd_spark.index import phrase_matches_batch

    plan = explain_str(phrase_matches_batch(index, _batch_phrases()))
    # the union-of-query-tokens In() predicate reaches the parquet scan
    assert "PushedFilters: [" in plan and "token" in plan
    assert "documents.parquet" not in plan


def test_batch_plan_constant_in_phrase_count(index):
    # The msearch-batching guarantee: a 100-phrase batch compiles to
    # the SAME plan shape as a 3-phrase batch — no per-phrase joins,
    # no union trees (the old implementation had O(P) of both).
    few = count_documents_for_each_phrase_indexed(index, _batch_phrases()[:3])
    many = count_documents_for_each_phrase_indexed(index, _batch_phrases())

    def shape(df):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        return (plan.count("Join"), plan.count("Union"))

    assert shape(few) == shape(many)
    joins, unions = shape(many)
    assert joins <= 4 and unions == 0


def test_batch_job_count_constant(spark, index):
    # O(1) Spark jobs for a 100-phrase batch (vs the old O(P) driver
    # loop): job count for 100 phrases ≈ job count for 3.
    sc = spark.sparkContext

    def jobs_for(phrases, group):
        sc.setJobGroup(group, group)
        try:
            count_documents_for_each_phrase_indexed(index, phrases).collect()
        finally:
            sc.setJobGroup(None, None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    few = jobs_for(_batch_phrases()[:3], "pb_few")
    many = jobs_for(_batch_phrases(), "pb_many")
    # AQE re-optimization may add a bounded number of jobs, never O(P)
    assert many <= few + 2


def test_filters_parity_with_scan_path(corpus, index):
    # the c4 subset-filter generalization: attribute filters compose
    # with indexed hits via an id-probe semi-join
    scan = count_documents_containing_phrases(
        corpus, ["join"], filters={"lang": "en"}
    )
    idx = count_documents_containing_phrases_indexed(
        index, ["join"], df=corpus, filters={"lang": "en"}
    )
    assert idx == scan
    scan_ids = {
        r["doc_id"]
        for r in get_documents_containing_phrases(
            corpus, ["join"], num_documents=None, filters={"lang": "en"}
        ).collect()
    }
    idx_ids = {
        r["doc_id"]
        for r in get_documents_containing_phrases_indexed(
            corpus, index, ["join"], num_documents=None,
            filters={"lang": "en"},
        ).collect()
    }
    assert idx_ids == scan_ids
    with pytest.raises(ValueError, match="corpus df"):
        count_documents_containing_phrases_indexed(
            index, ["join"], filters={"lang": "en"}
        )


def test_duplicate_postings_tolerated_and_compacted(spark, tmp_path):
    # A re-delivered doc in an uncompacted streaming index yields
    # duplicate (token, doc_id) posting rows. Queries must not crash
    # (DUPLICATED_MAP_KEY) and must answer as if deduped; compaction
    # must fold the duplicates (incl. positions) permanently.
    from wimbd_spark.index import (
        compact_phrase_index,
        count_total_occurrences_of_unigrams_indexed,
        load_phrase_index,
    )

    df = spark.createDataFrame(
        [(1, "the cat sat"), (2, "a cat ran")], ["doc_id", "text"]
    )
    p1 = str(tmp_path / "gen" / "batch=0")
    p2 = str(tmp_path / "gen" / "batch=1")
    build_phrase_index(df, p1, num_files=1)
    build_phrase_index(df, p2, num_files=1)  # same docs re-delivered
    idx = load_phrase_index(spark, str(tmp_path / "gen"))
    got = {
        r["doc_id"]
        for r in phrase_matching_docs(idx, "the cat").collect()
    }
    assert got == {1}
    fresh = str(tmp_path / "gen2")
    compact_phrase_index(spark, str(tmp_path / "gen"), fresh, num_files=1)
    cidx = load_phrase_index(spark, fresh)
    ttf = {
        r["unigram"]: r["count"]
        for r in count_total_occurrences_of_unigrams_indexed(
            cidx, ["cat", "the"]
        ).collect()
    }
    # duplicates folded, not double-counted
    assert ttf == {"cat": 2, "the": 1}
    assert {
        r["doc_id"]
        for r in phrase_matching_docs(cidx, "the cat").collect()
    } == {1}


def test_custom_analyzer_parity(spark, tmp_path):
    # ES analyzer-parity rule: build the index with the UAX-29
    # tokenizer and analyze query phrases the same way — punctuated
    # phrases then match, which the whitespace default cannot do
    # (the documented contract divergence in search.analyze_phrase)
    from wimbd_spark.functions.text import _uax29_words, tokenize_words

    df = spark.createDataFrame(
        [
            (1, "the U.S. army, ready"),
            (2, "no match here"),
        ],
        ["doc_id", "text"],
    )
    path = str(tmp_path / "uaxidx")
    build_phrase_index(df, path, num_files=1, tokenizer=tokenize_words)
    idx = load_phrase_index(spark, path)
    # "U.S. army" → UAX tokens ["U.S", ".", "army"]; same analysis on
    # both sides makes the punctuated phrase match doc 1
    got = {
        r["doc_id"]
        for r in phrase_matching_docs(
            idx, "U.S. army", analyzer=_uax29_words
        ).collect()
    }
    assert got == {1}
    # whitespace-analyzed query against the UAX index: "U.S." is one
    # whitespace token but never a UAX index token → no match — the
    # exact mismatch the analyzer parameter exists to prevent
    assert phrase_matching_docs(idx, "U.S. army").count() == 0
    # batched counts honor the analyzer too
    counts = {
        r["phrase"]: r["count"]
        for r in count_documents_for_each_phrase_indexed(
            idx, ["U.S. army", "army , ready"], analyzer=_uax29_words
        ).collect()
    }
    assert counts == {"U.S. army": 1, "army , ready": 1}


def test_bucketed_table_variant(spark, corpus, tmp_path):
    # as_table registers a bucketed catalog table over the same data;
    # query functions work identically against spark.table(...)
    path = str(tmp_path / "bucketed_postings")
    build_phrase_index(
        corpus, path, num_files=4, as_table="postings_bucketed"
    )
    try:
        idx = spark.table("postings_bucketed")
        scan = count_documents_containing_phrases(corpus, ["table scan"])
        assert (
            count_documents_containing_phrases_indexed(idx, ["table scan"])
            == scan
        )
        # bucket spec recorded in the catalog
        desc = spark.sql(
            "DESCRIBE TABLE EXTENDED postings_bucketed"
        ).collect()
        info = {r["col_name"]: r["data_type"] for r in desc}
        assert info.get("Num Buckets") == "4"
        assert "token" in info.get("Bucket Columns", "")
    finally:
        spark.sql("DROP TABLE IF EXISTS postings_bucketed")


def _parquet_files(path):
    import glob

    return glob.glob(f"{path}/*.parquet")


def test_default_layout_is_data_sized(spark, corpus, tmp_path):
    """num_files=None writes as many files as the data needs (one for
    a tiny corpus); an explicit count is honoured; both answer the same
    phrase counts and contamination rate."""
    from wimbd_spark.index import compact_phrase_index
    from wimbd_spark.operators.bm25 import build_doclen_stats
    from wimbd_spark.operators.dedup import contamination_rate_indexed

    sized, fixed = str(tmp_path / "sized"), str(tmp_path / "fixed")
    build_phrase_index(corpus, sized)
    build_phrase_index(corpus, fixed, num_files=32)
    assert len(_parquet_files(sized)) == 1
    # a fixed count writes one file per non-empty hash partition
    assert len(_parquet_files(fixed)) > 1
    doclens = build_doclen_stats(spark, sized)
    assert len(_parquet_files(doclens)) == 1
    compact_phrase_index(spark, fixed, str(tmp_path / "compact"))
    assert len(_parquet_files(str(tmp_path / "compact"))) == 1

    a, b = load_phrase_index(spark, sized), load_phrase_index(spark, fixed)
    assert sorted(a.collect()) == sorted(b.collect())
    assert sorted(
        count_documents_for_each_phrase_indexed(a, PHRASES).collect()
    ) == sorted(count_documents_for_each_phrase_indexed(b, PHRASES).collect())
    # reversed leading bigrams: some occur in the corpus, some do not
    ev = corpus.select(
        F.array_join(
            F.reverse(F.slice(F.split(F.col("text"), " "), 1, 2)), " "
        ).alias("phrase")
    )
    assert contamination_rate_indexed(
        a, ev, "phrase"
    ).collect() == contamination_rate_indexed(b, ev, "phrase").collect()


def test_explicit_num_files_honoured(corpus, tmp_path):
    path = str(tmp_path / "two")
    build_phrase_index(corpus, path, num_files=2)
    assert len(_parquet_files(path)) == 2
