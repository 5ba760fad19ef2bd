"""Physical-plan property tests — the 100 TB guarantees.

These pin the *plan shape*, not results: column pruning reaches the
parquet scan, filters push down, and operators don't add unexpected
shuffles. A regression here is a 100× cost at scale even when results
stay correct.
"""

import re

import pytest
from pyspark.sql import functions as F

from wimbd_spark.plans import (
    assert_column_pruning,
    explain_str,
    has_pushed_filters,
    shuffle_count,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def raw_docs(spark):
    # no rebalance: pruning assertions need the bare scan
    return spark.read.parquet(f"{SF}/documents.parquet")


def test_topk_prunes_to_text_only(raw_docs):
    from wimbd_spark.operators.topk import topk_ngrams

    assert_column_pruning(topk_ngrams(raw_docs, 3, 20), {"text"})


def test_corpus_stats_prunes(raw_docs):
    from wimbd_spark.operators.stats import corpus_stats

    assert_column_pruning(corpus_stats(raw_docs), {"text"})


def test_keycount_prunes_and_pushes(raw_docs):
    from wimbd_spark.operators.keycount import key_count

    q = key_count(raw_docs, "lang")
    assert_column_pruning(q, {"lang"})
    assert has_pushed_filters(q)  # isNotNull reaches the scan


def test_id_lookup_pushes_filter(raw_docs):
    from wimbd_spark.operators.keycount import id_lookup

    q = id_lookup(raw_docs, [1, 2, 3]).select("doc_id")
    assert has_pushed_filters(q)
    assert_column_pruning(q, {"doc_id"})


def test_ngram_counts_single_shuffle(raw_docs):
    from wimbd_spark.operators.topk import ngram_counts

    # explode → partial agg → ONE exchange → final agg
    assert shuffle_count(ngram_counts(raw_docs, 3)) == 1


def test_count_sequences_zero_shuffle(raw_docs):
    from wimbd_spark.operators.count import count_sequences

    # conditional aggregates over one scan: single-stage final agg only
    # (global agg exchanges a single row; no data-volume shuffle)
    assert shuffle_count(count_sequences(raw_docs, ["a b"])) <= 1


def test_broadcast_join_in_decontaminate(spark, raw_docs):
    from wimbd_spark.operators.dedup import decontaminate

    block = raw_docs.filter("doc_id < 10")
    plan = explain_str(decontaminate(raw_docs, block))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_minhash_signatures_no_shuffle(raw_docs):
    from wimbd_spark.operators.neardup import minhash_signatures

    assert shuffle_count(minhash_signatures(raw_docs)) == 0


def test_ann_broadcast_no_corpus_shuffle(spark, tables):
    from wimbd_spark.operators.similarity import cosine_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = cosine_topk(emb, emb.filter("vec_id < 3"), k=3)
    plan = explain_str(q)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_whole_stage_codegen_in_hot_path(raw_docs):
    from wimbd_spark.operators.topk import ngram_counts

    # '*(n)' node prefixes in the executed plan mark whole-stage-codegen
    # stages (AQE hides them pre-execution)
    q = ngram_counts(raw_docs, 3)
    q.collect()
    final = q._jdf.queryExecution().executedPlan().toString()
    assert "*(" in final


def test_extreme_docs_no_global_window(raw_docs):
    from wimbd_spark.operators.stats import extreme_token_docs

    # scalar-agg + broadcast filter, never an unpartitioned Window
    # (which ships the whole corpus to one task — 100×-fatal)
    plan = explain_str(extreme_token_docs(raw_docs))
    assert "Window" not in plan
    assert "BroadcastExchange" in plan or "BroadcastHashJoin" in plan


def test_extract_pii_single_scan(raw_docs):
    from wimbd_spark.operators.pii import extract_pii

    # all PII kinds extracted in one projection: exactly one FileScan,
    # not one scan per kind unioned
    plan = explain_str(extract_pii(raw_docs))
    # formatted explain prints each scan once in the tree and once in the
    # numbered details — count the per-node Location lines instead
    assert plan.count("Location: InMemoryFileIndex") == 1


def test_lsh_buckets_single_exchange_no_join(raw_docs):
    from wimbd_spark.operators.neardup import (
        _pairs_from_sigs,
        _shingle_table,
        _minhash_from_hashes,
    )

    sh = _shingle_table(raw_docs, "doc_id", "text", 3)
    sigs = sh.select(F.col("doc_id"), *_minhash_from_hashes(F.col("hs"), 4))
    pairs = _pairs_from_sigs(sigs, "doc_id", 4, 2, max_bucket_size=64)
    plan = explain_str(pairs)
    # bucket pairs come from one groupBy+explode, not a bucket self-join:
    # exchanges = shingle groupBy + bucket groupBy + final distinct
    assert plan.count("Join") == 0
    assert shuffle_count(pairs) <= 3


def test_ngram_jaccard_no_array_shuffle(raw_docs):
    from wimbd_spark.operators.neardup import ngram_jaccard_pairs

    plan = explain_str(ngram_jaccard_pairs(raw_docs, threshold=0.2))
    # intersections are join-row counts; the collected shingle arrays
    # (collect_set) must never be a join/shuffle payload
    assert "array_intersect" not in plan and "array_union" not in plan


def test_contamination_prefilter_corpus_never_shuffles(spark, raw_docs):
    from wimbd_spark.operators.dedup import _anchored_hits
    from wimbd_spark.functions.text import tokenize

    phrases = spark.createDataFrame(
        [("alpha beta gamma",), ("one two three four",)], ["_p"]
    ).withColumn("_toks", tokenize(F.col("_p")))
    hits = _anchored_hits(raw_docs, phrases, "text")
    plan = explain_str(hits)
    # every join against the corpus broadcasts the small side; corpus
    # rows cross no hash-partitioning exchange (only the tiny distinct
    # phrase agg shuffles, plus AQE's final-stage bookkeeping)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_cosine_pairs_lsh_joins_on_bucket(spark):
    from wimbd_spark.operators.similarity import cosine_pairs_lsh

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = explain_str(cosine_pairs_lsh(emb, threshold=0.4, nbits=4))
    # candidate join keyed on bucket id — never a cross/nested-loop join
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_mixture_sample_zero_shuffle(raw_docs):
    from wimbd_spark.operators.keycount import mixture_sample

    q = mixture_sample(raw_docs, {"src0": 0.5, "src1": 2.5})
    assert shuffle_count(q) == 0  # pure projection + explode


def test_pack_documents_window_is_partitioned(raw_docs):
    import re

    from wimbd_spark.operators.packing import pack_documents

    q = pack_documents(raw_docs, budget_tokens=512)
    # the cumulative sum must run per-group — an unpartitioned global
    # window would ship the whole corpus to one task (100×-fatal).
    # Check the optimized plan: every windowspecdefinition must lead
    # with the source partition column.
    plan = q._jdf.queryExecution().optimizedPlan().toString()
    specs = re.findall(r"windowspecdefinition\((\w+)", plan)
    assert specs and all(s.startswith("source") for s in specs)


@pytest.mark.parametrize("op", ["batch", "stream"])
def test_decontaminate_by_ngrams_broadcasts_eval_no_bnlj(spark, raw_docs, op):
    # both operators plan the gram route through dedup._phrase_hits;
    # the batch side reads its hit ids off the same inner join the
    # stream emits (auto would take the automaton for two phrases)
    from wimbd_spark.operators.dedup import decontaminate_by_ngrams
    from wimbd_spark.streaming import (
        eval_gram_table,
        streaming_contamination_hits,
    )

    ev = spark.createDataFrame(
        [("alpha beta",), ("gamma delta e",)], ["phrase"]
    )
    if op == "batch":
        q = decontaminate_by_ngrams(raw_docs, ev, method="gram")
    else:
        q = streaming_contamination_hits(
            raw_docs, eval_gram_table(ev), method="gram"
        )
    plan = explain_str(q)
    # eval grams must reach the train side as a broadcast hash join —
    # never a nested-loop contains scan, never a sort-merge of the
    # full-width train rows against grams
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_contamination_sweep_no_positions_fanout(spark, tmp_path, raw_docs):
    # The r4 failure shape was a postings×slot join exploding BEFORE
    # any aggregation. The r5 sweep must contain no join against a
    # slot table at all — its only joins are the vocab semi-join and
    # the final gram semi/left join.
    from wimbd_spark.index import build_phrase_index, load_phrase_index, corpus_grams_from_postings

    path = str(tmp_path / "planidx")
    build_phrase_index(raw_docs.limit(50), path, num_files=1)
    idx = load_phrase_index(spark, path)
    ev = spark.createDataFrame([("alpha beta",)], ["phrase"])
    vocab = spark.createDataFrame([("alpha",), ("beta",)], ["token"])
    plan = explain_str(corpus_grams_from_postings(idx, [2], vocab=vocab))
    assert "slot" not in plan  # no slot table anywhere in the tree
    # exactly ONE window (the position-ordered reassembly), partitioned
    # by doc_id — an unpartitioned window would be corpus-fatal
    import re

    opt = None
    specs = re.findall(r"windowspecdefinition\((\w+)", plan)
    assert specs and all(s.startswith("doc_id") for s in specs)
    # r8: the slop>0 reconstruction holds the same contract — no slot
    # table, doc_id-partitioned window, and no Python boundary (the
    # combo enumeration is pure Column expressions)
    plan1 = explain_str(
        corpus_grams_from_postings(idx, [2], vocab=vocab, slop=1)
    )
    assert "slot" not in plan1
    specs1 = re.findall(r"windowspecdefinition\((\w+)", plan1)
    assert specs1 and all(s.startswith("doc_id") for s in specs1)
    assert "pythonUDF" not in plan1 and "MapInPandas" not in plan1


def test_phrase_df_counts_corpus_never_scanned(spark, tmp_path, raw_docs):
    from wimbd_spark.index import (
        build_phrase_index,
        count_documents_for_each_phrase_df,
        load_phrase_index,
    )

    path = str(tmp_path / "dfcidx")
    build_phrase_index(raw_docs.limit(50), path, num_files=1)
    idx = load_phrase_index(spark, path)
    ev = spark.createDataFrame([("alpha beta",)], ["phrase"])
    plan = explain_str(count_documents_for_each_phrase_df(idx, ev))
    assert "documents.parquet" not in plan
    assert "dfcidx" in plan


def test_fuzzy_decontaminate_broadcasts_eval(spark, raw_docs):
    from wimbd_spark.operators.neardup import fuzzy_decontaminate

    ev = spark.createDataFrame(
        [(1, "alpha beta gamma delta")], ["doc_id", "text"]
    )
    plan = explain_str(fuzzy_decontaminate(raw_docs, ev, threshold=0.5))
    # the exploded eval shingles must reach the train side as a
    # broadcast hash join — never a cartesian/nested-loop pairing
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_lm_score_prunes_and_broadcasts_unseen(spark, raw_docs):
    from wimbd_spark.operators.lm import lm_score, unigram_lm

    lm = unigram_lm(raw_docs)
    out = lm_score(raw_docs.select("doc_id", "text"), lm, broadcast_lm=True)
    plan = explain_str(out)
    # broadcast_lm=True: the vocab join is map-side; the one-row
    # unseen fallback is likewise broadcast — scoring never shuffles
    # the corpus except the per-doc aggregation
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_domain_blocklist_corpus_never_shuffles_for_match(spark, raw_docs):
    from wimbd_spark.operators.urlfilter import filter_by_domain_blocklist

    docs = raw_docs.select(
        "doc_id", F.concat(F.lit("https://h"), "doc_id", F.lit(".com/x")).alias("url")
    )
    blocked = spark.createDataFrame([("h1.com",)], ["domain"])
    plan = explain_str(
        filter_by_domain_blocklist(docs, blocked, mode="flag")
    )
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_tfidf_single_corpus_aggregation(spark, raw_docs):
    from wimbd_spark.operators.textqc import tfidf_top_terms

    plan = explain_str(tfidf_top_terms(raw_docs, k=3))
    # r6: document frequency rides a window over the tf table — no
    # self-join, and NO persist (the r5 cache leaked blocks across
    # repeated calls; ADVICE r5). N is a 1-row broadcast.
    assert "InMemoryTableScan" not in plan
    assert "InMemoryRelation" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row N join
    # tf is built ONCE: exactly one exchange keyed on (id, term)
    assert plan.count("hashpartitioning(doc_id") <= 2  # tf build + rank window


def test_normalize_distribution_no_global_window(spark, raw_docs):
    """r6: the total is a one-row broadcast join, not an
    empty-partition window (which funnels the whole relation into ONE
    task — a wall for vocab-sized distributions); the groupBy-built
    input's exchange is reused across both plan branches."""
    from wimbd_spark.operators.keycount import normalize_distribution

    counts = (
        raw_docs.groupBy(F.length("text").alias("len"))
        .agg(F.count(F.lit(1)).alias("count"))
    )
    q = normalize_distribution(counts)
    plan = explain_str(q)
    assert "Window" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row total join
    # the counts aggregation is computed once: AQE converts the second
    # branch's identical exchange to a ReusedExchange at runtime
    q.collect()
    final = q._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in final


def test_jpeg_decode_check_prunes_to_doc_id(spark):
    """The image fixtures derive from doc_id alone — the text column
    must never reach the parquet scan (payload synthesis is inside the
    mapInPandas; a text read would ship the whole corpus to Python)."""
    import __spark_entry__ as entry

    df = entry.q_jpeg_decode_check(spark, SF)
    assert_column_pruning(df, {"doc_id"})
    assert has_pushed_filters(df)  # doc_id % 10 = 0 reaches the scan


def test_unique_ngrams_hll_no_gram_repartition(spark):
    """The HLL-only bench query's 100 TB contract: the gram stream is
    aggregated map-side into per-partition sketches — the only
    exchange is the single-partition final merge, never a
    hashpartitioning on the gram key (that exchange is exactly what
    the exact countDistinct twin pays)."""
    import __spark_entry__ as entry

    plan = explain_str(
        entry.bench_only_queries()["bench_unique_ngrams_hll"](spark, SF)
    )
    # no GRAM-key exchange: the only shuffles allowed are the
    # load-time rebalance of an input past route's spread gate
    # (doc_id-hashed; sf0.001 is under the gate, so absent here) and
    # the SinglePartition sketch merge
    import re as _re

    keyed = _re.findall(r"hashpartitioning\((\w+)", plan)
    assert all(k == "doc_id" for k in keyed), keyed


def test_dsir_single_doc_shuffle_no_join_back(spark, raw_docs):
    from wimbd_spark.operators.dsir import dsir_log_weights

    q = dsir_log_weights(
        raw_docs, raw_docs.filter(F.col("source") == "src0"), buckets=256
    )
    plan = explain_str(q)
    # ratio model rides a broadcast; scoring is ONE groupBy(doc_id) —
    # featureless docs come from explode_outer, not a corpus-wide
    # join-back (the left join would show as a doc_id-keyed SMJ/BHJ)
    assert "BroadcastHashJoin" in plan
    import re as _re

    doc_exchanges = _re.findall(r"hashpartitioning\(doc_id", plan)
    assert len(doc_exchanges) == 1, plan[:2000]
    assert "SortMergeJoin [doc_id" not in plan


def test_dsir_prunes_to_id_and_text(raw_docs):
    from wimbd_spark.operators.dsir import dsir_log_weights
    from wimbd_spark.plans.inspect import scanned_columns

    q = dsir_log_weights(
        raw_docs, raw_docs.filter(F.col("source") == "src0"), buckets=256
    )
    assert scanned_columns(q) <= {"doc_id", "text", "source"}


def test_funnel_survivor_only_dedup_shuffle(raw_docs):
    from wimbd_spark.operators.funnel import quality_funnel

    q = quality_funnel(raw_docs)
    plan = explain_str(q)
    import re as _re

    # exactly one data-volume exchange: the dedup window's md5 key
    # (the survivors-only branch); everything else is single-row aggs
    assert len(_re.findall(r"hashpartitioning\(", plan)) == 1
    assert shuffle_count(q) <= 3


def test_heavyhitters_recount_is_broadcast_and_summary_bounded(raw_docs):
    from wimbd_spark.operators.heavyhitters import topk_ngrams_2pass

    q = topk_ngrams_2pass(raw_docs, n=2, k=10, capacity=1000)
    plan = explain_str(q)
    assert "BroadcastHashJoin" in plan
    # the ONLY gram-keyed exchange is over the Misra-Gries summaries
    # (mapInPandas output), never the exploded gram stream: the explode
    # feeding a hashpartitioning(ngram) exchange would put ArrowEval
    # below Generate+Exchange — pin the summary agg instead
    assert "ArrowEvalPython" in plan or "MapInPandas" in plan


def test_unimax_single_corpus_aggregation(raw_docs):
    from wimbd_spark.operators.mixture import unimax_allocation

    q = unimax_allocation(raw_docs, budget_tokens=1000)
    plan = explain_str(q)
    # ONE groupBy(source) over the corpus (scalar context rides the
    # single-partition window, not agg+crossJoin fan-out); everything
    # after is one-row-per-source arithmetic
    import re as _re

    exch = _re.findall(r"^\(\d+\) Exchange\s*\nInput[^\n]*\nArguments: (\S+)",
                       plan, _re.MULTILINE)
    assert sum(a.startswith("hashpartitioning(source") for a in exch) == 1, exch


def test_bm25_indexed_never_scans_corpus(spark, tmp_path, raw_docs):
    from wimbd_spark.index import build_phrase_index
    from wimbd_spark.operators.bm25 import bm25_topk_indexed, build_doclen_stats

    path = str(tmp_path / "bm25idx")
    build_phrase_index(raw_docs.limit(50), path, num_files=1)
    build_doclen_stats(spark, path)
    plan = explain_str(bm25_topk_indexed(spark, path, "alpha beta"))
    # postings + _doclens sidecar only — the corpus is never read
    assert "documents.parquet" not in plan
    assert "bm25idx" in plan
    # token-equality pushdown on the postings scan
    assert "token" in plan


def test_bm25_scan_two_projected_scans(raw_docs):
    from wimbd_spark.operators.bm25 import bm25_topk

    plan = explain_str(bm25_topk(raw_docs, "alpha beta", k=5))
    # exactly two scans: the stats pass prunes to text only, the
    # scoring pass to (doc_id, text)
    assert plan.count("ReadSchema") == 2
    assert "ReadSchema: struct<text:string>" in plan
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan
    assert "TakeOrderedAndProject" in plan


def test_nb_score_single_doc_shuffle(spark, raw_docs):
    from wimbd_spark.operators.classifier import fit_nb_classifier, nb_score

    pos = raw_docs.filter(F.col("source") == "src0")
    model = fit_nb_classifier(pos, raw_docs, min_count=1)
    # model is materialized (persisted) by fit; scoring itself is
    # explode -> BROADCAST model join -> one groupBy(id): the corpus
    # side shuffles once, the model side never does
    plan = explain_str(nb_score(raw_docs, model))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" not in plan


def test_rrf_fuse_no_corpus_touch(spark):
    from wimbd_spark.operators.fusion import rrf_fuse

    a = spark.createDataFrame([(1, 1), (2, 2)], "doc_id long, rank int")
    b = spark.createDataFrame([(2, 1), (3, 2)], "doc_id long, rank int")
    plan = explain_str(rrf_fuse([a, b], k=2))
    assert "FileScan" not in plan  # pure fusion over the given lists


def test_gram_primitives_single_tokenize_in_plan(raw_docs):
    """Regression guard for the O(n²) lambda-capture hazard (r8,
    SCALE.md document-length section): the tokenize subtree must
    appear ONCE in the optimized plan of each sliding-window
    primitive — a per-element lambda referencing the raw expression
    re-embeds it, which shows up as multiple split() occurrences."""
    from wimbd_spark.functions.text import char_ngrams, ngram_strings, tokenize
    from wimbd_spark.operators.winnow import winnow_select

    def occurrences(col, needle="split("):
        df = raw_docs.select(col.alias("_x"))
        return (
            df._jdf.queryExecution().optimizedPlan().toString().count(needle)
        )

    assert occurrences(ngram_strings(tokenize(F.col("text")), 3)) == 1
    assert occurrences(winnow_select(F.col("text"))) == 1
    # char_ngrams splits to chars once (its own single split)
    assert occurrences(char_ngrams(F.col("text"), 5)) == 1


def test_bm25_batch_single_corpus_scan_pair(raw_docs):
    from wimbd_spark.operators.bm25 import bm25_topk_batch

    plan = explain_str(
        bm25_topk_batch(raw_docs, ["alpha beta", "gamma", "delta e f"], k=3)
    )
    # the msearch point: ONE scan pair (stats + scoring) regardless of
    # the number of queries — not one pair per query
    assert plan.count("ReadSchema") == 2


def test_bm25_batch_indexed_plan_constant_in_queries(spark, tmp_path, raw_docs):
    from wimbd_spark.operators.bm25 import (
        bm25_topk_batch_indexed,
        build_doclen_stats,
    )
    from wimbd_spark.index import build_phrase_index

    idx = str(tmp_path / "cqidx")
    build_phrase_index(raw_docs.limit(50), idx, num_files=1)
    build_doclen_stats(spark, idx)
    p3 = explain_str(bm25_topk_batch_indexed(spark, idx, ["a b", "c", "d e"]))
    p1 = explain_str(bm25_topk_batch_indexed(spark, idx, ["a b"]))
    # the (query, term) pairs are DATA, not plan: same node count at
    # any batch size (the phrase_matches_batch property)
    assert p3.count("(") == p1.count("(")
    assert "documents.parquet" not in p3


def test_pmi_joins_are_equi_joins_totals_broadcast(spark, raw_docs):
    """top_pmi_bigrams: the unigram joins must be EQUI joins
    (broadcast-hash or sort-merge — never a cartesian product), the
    two corpus totals ride one-row broadcast crossJoins (the dsir
    totals pattern — BNLJ over exactly one row), and the tail is
    TakeOrderedAndProject, not a global sort."""
    from wimbd_spark.operators.topk import top_pmi_bigrams

    q = top_pmi_bigrams(raw_docs, k=5)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan
    equi = plan.count("BroadcastHashJoin") + plan.count("SortMergeJoin")
    assert equi >= 2, plan  # the w1/w2 vocabulary joins
    # BNLJ appearances are only the two one-row totals crossJoins
    assert plan.count("BroadcastNestedLoopJoin") <= 2, plan


def test_asof_nearest_single_exchange(spark):
    """Every asof direction is ONE key shuffle; nearest's two frames
    (last-preceding + first-following) share the same sorted partition
    and compile into a single Window operator — no second exchange."""
    from wimbd_spark.operators.asof import asof_join
    from wimbd_spark.session import load_tables

    t = load_tables(spark, SF, names=["events"], register_views=False)
    ev = t["events"]
    p = ev.where(F.col("event_type") == "purchase")
    c = ev.where(F.col("event_type") == "click")
    for d in ("backward", "forward", "nearest"):
        q = asof_join(p, c, on="user_id", tiebreak="event_id",
                      right_cols=["event_id"], direction=d)
        plan = q._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange hashpartitioning") == 1, (d, plan)
        assert plan.count("Window") == 1, (d, plan)


def test_filtered_ann_pushes_predicate(spark, tables):
    """cosine_topk(filters=) is a PRE-filter: the label predicate must
    reach the embeddings parquet scan (PushedFilters), not discard
    scored rows post-hoc."""
    from wimbd_spark.operators.similarity import cosine_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 3)
    q = cosine_topk(emb, queries, k=3, filters={"label": 2})
    assert has_pushed_filters(q)
    plan = q._jdf.queryExecution().executedPlan().toString()
    # the equality literal itself sits in a scan-adjacent filter
    assert "label" in plan


def test_despan_surgery_single_fp_aggregation(raw_docs):
    """remove_shared_spans: exactly one fp-keyed aggregation decides
    multi-doc-ness — the marking side never shuffles document rows."""
    from wimbd_spark.operators.winnow import shared_spans

    q = shared_spans(raw_docs.select("doc_id", "text"))
    plan = q._jdf.queryExecution().executedPlan().toString()
    # fp selection is map-side: no Python stage anywhere in the span
    # table's plan (surgery joins happen in remove_shared_spans)
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan


def test_c4_span_dedup_partial_agg_not_window(raw_docs):
    """Survivor election must be a partial-aggregated groupBy on the
    span hash, never a Window over it (no map-side combine → a
    million-occurrence boilerplate span single-tasks)."""
    from wimbd_spark.operators.textqc import c4_span_dedup

    q = c4_span_dedup(raw_docs.select("doc_id", "text"))
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    # partial + final HashAggregate pair on the hash key
    assert plan.count("HashAggregate") >= 2


def test_knn_join_is_fully_distributed(spark, tmp_path):
    """The bulk corpus-as-queries path never materializes candidates
    on the driver: the plan holds no LocalTableScan (a collected
    candidate list would re-enter as one, as it does by design in
    the interactive rerank='collect' path), carries the Arrow
    local-prune stage (MapInPandas), and the final rank arrives via
    a Window — one centroid join + one query_id exchange."""
    from wimbd_spark.operators.similarity import build_ivf_index, knn_join

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    path = str(tmp_path / "knnplan")
    build_ivf_index(emb, path, n_centroids=8)
    out = knn_join(spark, path, emb, k=2, n_probe=2, local_prune=True)
    plan = explain_str(out)
    assert "LocalTableScan" not in plan and "ExistingRDD" not in plan
    assert "MapInPandas" in plan
    assert "Window" in plan
    # prune off: still no driver materialization
    plan2 = explain_str(
        knn_join(spark, path, emb, k=2, n_probe=2, local_prune=False)
    )
    assert "LocalTableScan" not in plan2 and "ExistingRDD" not in plan2
    assert "MapInPandas" not in plan2
    # local_prune='auto' (the default) routes on the deployment: the
    # test session master is local[*], where SCALE.md r13 measured the
    # Arrow hop as a pure cost (+6 s/sf1) — so auto must skip it here
    plan3 = explain_str(knn_join(spark, path, emb, k=2, n_probe=2))
    assert "MapInPandas" not in plan3
    assert "LocalTableScan" not in plan3 and "ExistingRDD" not in plan3
    with pytest.raises(ValueError, match="local_prune"):
        knn_join(spark, path, emb, k=2, local_prune="yes")


@pytest.fixture(scope="module")
def emb_ivf_pq_index(spark, tmp_path_factory):
    from wimbd_spark.operators.similarity import build_ivf_index

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    path = str(tmp_path_factory.mktemp("rankplan") / "idx")
    build_ivf_index(emb, path, n_centroids=8, pq_m=8, pq_codes=16)
    return emb, path


@pytest.mark.parametrize(
    "route",
    [
        "cosine_topk_ivf",
        "cosine_topk_lsh",
        "cosine_topk_ivf_indexed",
        "cosine_topk_ivf_pq_indexed",
        "cosine_topk",
        "knn_join",
    ],
)
def test_topk_rank_single_query_exchange(spark, emb_ivf_pq_index, route):
    """The rank tail (dense_rank → cut → dedupe) shuffles candidates
    once, on query_id: the dedupe after the cut reuses that
    partitioning. A dedupe before the window adds a second full
    shuffle keyed (query_id, neighbor_id). cosine_topk and knn_join
    keep their one exchange. Read from the executed (AQE final) plan."""
    from wimbd_spark.operators import similarity as sim

    emb, path = emb_ivf_pq_index
    q = emb.filter(F.col("vec_id") < 3)
    df = {
        "cosine_topk_ivf": lambda: sim.cosine_topk_ivf(
            emb, q, k=2, n_centroids=8, n_probe=2
        ),
        "cosine_topk_lsh": lambda: sim.cosine_topk_lsh(emb, q, k=2),
        "cosine_topk_ivf_indexed": lambda: sim.cosine_topk_ivf_indexed(
            spark, path, q, k=2, n_probe=2
        ),
        "cosine_topk_ivf_pq_indexed": lambda: (
            sim.cosine_topk_ivf_pq_indexed(spark, path, q, k=2, n_probe=2)
        ),
        "cosine_topk": lambda: sim.cosine_topk(emb, q, k=2),
        "knn_join": lambda: sim.knn_join(spark, path, emb, k=2, n_probe=2),
    }[route]()
    df.collect()
    final = _physical(df).split("== Initial Plan ==")[0]
    keys = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", final)
    assert len(keys) == 1, keys
    assert re.fullmatch(r"query_id#\d+L?, \d+", keys[0]), keys


def test_pq_rerank_join_no_candidate_collect(spark, tmp_path):
    """rerank='join' keeps stage-1 candidates a DataFrame: no
    LocalTableScan in the plan, whereas the default collect path
    re-enters its driver-bounded candidate list as one (the
    documented small-side contract)."""
    from wimbd_spark.operators.similarity import (
        build_ivf_index,
        cosine_topk_ivf_pq_rerank,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    path = str(tmp_path / "rrplan")
    build_ivf_index(emb, path, n_centroids=8, pq_m=8, pq_codes=16)
    q = emb.filter(F.col("vec_id") < 3)
    joined = cosine_topk_ivf_pq_rerank(
        spark, path, q, k=2, n_probe=2, rerank="join"
    )
    pj = explain_str(joined)
    assert "LocalTableScan" not in pj and "ExistingRDD" not in pj
    collected = cosine_topk_ivf_pq_rerank(
        spark, path, q, k=2, n_probe=2, rerank="collect"
    )
    pc = explain_str(collected)
    # positive control: the collect path's driver-materialized
    # candidate list re-enters the plan as a local relation
    assert "LocalTableScan" in pc or "ExistingRDD" in pc


def test_knn_join_pq_codes_only_stage1_no_driver_candidates(
    spark, tmp_path
):
    """knn_join_pq's plan: no driver candidate materialization
    (LocalTableScan/ExistingRDD absent) and the stage-1 lists read
    never touches the full-precision uvec column — only the rerank's
    second lists scan does (codes-only IO is the whole point)."""
    import re

    from wimbd_spark.operators.similarity import (
        build_ivf_index,
        knn_join_pq,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    path = str(tmp_path / "kjpqplan")
    build_ivf_index(emb, path, n_centroids=8, pq_m=8, pq_codes=16)
    plan = explain_str(knn_join_pq(spark, path, emb, k=2, n_probe=2))
    assert "LocalTableScan" not in plan and "ExistingRDD" not in plan
    assert "MapInPandas" in plan
    # exactly one lists scan reads uvec (the rerank); the stage-1
    # scan reads codes+rn2 only
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    lists_scans = [sc for sc in schemas if "codes" in sc or "uvec" in sc]
    with_uvec = [sc for sc in lists_scans if "uvec" in sc]
    codes_only = [
        sc for sc in lists_scans if "codes" in sc and "uvec" not in sc
    ]
    assert len(with_uvec) == 1, lists_scans
    assert codes_only, lists_scans


def test_bulk_threshold_forms_no_window_no_driver_state(spark, tmp_path):
    """cosine_pairs_ivf and semantic_duplicates_ivf never rank: no
    Window anywhere in their plans (the >=t filter before their only
    shuffle is what makes them ~2.5x cheaper than ranked kNN at equal
    probes — SCALE.md r13), and like knn_join they materialize
    nothing on the driver."""
    from wimbd_spark.operators.similarity import (
        build_ivf_index,
        cosine_pairs_ivf,
        semantic_duplicates_ivf,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    path = str(tmp_path / "thrplan")
    build_ivf_index(emb, path, n_centroids=8)
    for df in (
        cosine_pairs_ivf(spark, path, emb, 0.9, n_probe=2),
        semantic_duplicates_ivf(spark, path, emb, 0.9, n_probe=2),
    ):
        plan = explain_str(df)
        assert "Window" not in plan
        assert "LocalTableScan" not in plan and "ExistingRDD" not in plan


def test_per_token_paths_have_no_lambda(raw_docs):
    """A lambda higher-order function is interpreted once per array
    element inside the compiled stage (SCALE.md, Python boundary):
    the tokenize → unigram → term-count path must use built-in array
    functions only."""
    from wimbd_spark.functions.text import ngram_strings, tokenize
    from wimbd_spark.search import count_total_occurrences_of_unigrams

    def analyzed(df):
        return df._jdf.queryExecution().analyzed().toString()

    toks = tokenize(F.col("text"))
    for df in (
        raw_docs.select(toks),
        raw_docs.select(ngram_strings(toks, 1)),
        count_total_occurrences_of_unigrams(raw_docs, ["the", "a", "of"]),
    ):
        assert "lambdafunction" not in analyzed(df)
    # negative control: the window form (n ≥ 2) still carries lambdas
    assert "lambdafunction" in analyzed(raw_docs.select(ngram_strings(toks, 2)))


def _physical(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_winnow_pick_reads_scalars(raw_docs):
    """The per-window pick is unrolled over w (element_at, least, a
    CASE chain): no window array is built per window."""
    from wimbd_spark.operators.winnow import winnow_fingerprints

    plan = _physical(winnow_fingerprints(raw_docs))
    assert "element_at(" in plan and "least(" in plan
    assert "reverse(" not in plan and "array_position(" not in plan


def test_winnow_and_shingle_tables_run_no_python(raw_docs):
    from wimbd_spark.operators.neardup import _shingle_table
    from wimbd_spark.operators.winnow import winnow_fingerprints

    for df in (
        winnow_fingerprints(raw_docs),
        _shingle_table(raw_docs, "doc_id", "text", 3),
    ):
        plan = _physical(df)
        for node in ("MapInArrow", "MapInPandas", "EvalPython", "PythonUDF"):
            assert node not in plan, node
