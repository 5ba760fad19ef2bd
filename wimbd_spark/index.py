"""Posting-list phrase index — the interactive-latency search fast path.

The reference's interactive tier answers phrase queries from an
Elasticsearch inverted index (postings + positions; the match_phrase
DSL in wimbd/es/__init__.py:89-128 runs against it). The engine's scan
path (search.py) is correct but pays a full corpus scan per query;
this module is SURVEY §4 tactic (b): materialize the inverted index as
a parquet derived table once, then answer phrase count/retrieval
queries from postings only — the corpus is never scanned at query
time.

Layout: one row per (token, doc_id) with the token's 0-based positions
in that document. Files are hash-distributed on token and sorted by
token within each file, so a token-equality query prunes to one file
(hash) and few row groups (min/max stats) — the parquet analogue of a
posting list seek. On a cluster, register the same data as a bucketed
table (bucketBy(token)) to additionally get shuffle-free token joins.

Query semantics exactly match the scan path (build_phrase_predicate
with token_aligned=True): phrase tokens must appear in order within a
window of len(phrase)+slop tokens. The positional check is the
classic postings-intersection algorithm: for each candidate start
position of the first token, greedily chain each next token's smallest
position greater than the previous — a monotone assignment exists iff
greedy finds one. All pure Column expressions over the joined position
arrays; tiny per-doc arrays, no UDF.

Scale: the index build is one posexplode + one groupBy(token, doc_id)
shuffle — the same cost class as a single n-gram count. Query-time
joins touch only the postings of the query's tokens (pushed-down
token filter), mirroring ES: a phrase with a rare token reads a tiny
slice of the index regardless of corpus size.
"""

from __future__ import annotations

import math
import warnings
from collections import Counter
from itertools import combinations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from wimbd_spark.functions.text import tokenize
from wimbd_spark.search import analyze_phrase
from wimbd_spark.session import local_frame, parquet_plan, read_parquet

#: Bucket count of the ``as_table`` catalog variant when num_files is
#: None.
DEFAULT_INDEX_BUCKETS = 32


def build_phrase_index(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_files: int | None = None,
    mode: str = "overwrite",
    as_table: str | None = None,
    tokenizer=None,
) -> None:
    """Materialize the posting-list index parquet at ``path``.

    Schema: (token string, doc_id <as in corpus>, positions array<int>).
    Documents with NULL text contribute nothing (scan-path parity:
    every phrase predicate is False on NULL text). ``id_col`` must be
    a real identifier column — indexing the text itself as the id
    would collapse duplicate documents and store full texts as keys,
    so it is rejected (synthesize a row id first, e.g.
    ``monotonically_increasing_id``, as the CLI does).

    ``tokenizer`` (Column → array<string> Column) selects the document
    analyzer; default is the engine's whitespace ``tokenize``. ES's
    analyzer-parity rule applies: query phrases MUST be analyzed the
    same way, so pass the matching ``analyzer=`` to the query
    functions (e.g. ``tokenize_words`` here with
    ``functions.text._uax29_words`` there; the defaults pair
    ``tokenize`` with ``str.split``).

    ``num_files``: None (default) sizes the output from the data —
    see ``_token_layout``; an int writes exactly that many
    token-hashed files.

    ``as_table`` additionally registers the postings as a BUCKETED
    catalog table (bucketBy token, external data at ``path``): on a
    cluster, joins and aggregations keyed on token then read
    pre-partitioned buckets with no exchange, and bucket pruning
    serves token-equality lookups. Its bucket count is ``num_files``,
    or DEFAULT_INDEX_BUCKETS when that is None: a bucket spec is part
    of the table's contract, so it is never data-sized. The plain-path
    variant keeps the same physical layout (hash-distributed + sorted
    on token) without needing a metastore.
    """
    if id_col == text_col:
        raise ValueError(
            "build_phrase_index: id_col must not be the text column "
            "(duplicate docs would collapse to one id and postings "
            "would carry full texts); add a row-id column first"
        )
    tok = tokenizer if tokenizer is not None else tokenize
    posts = (
        df.filter(F.col(text_col).isNotNull())
        .select(
            F.col(id_col).alias("doc_id"),
            F.posexplode(tok(F.col(text_col))).alias("pos", "token"),
        )
        .groupBy("token", "doc_id")
        .agg(F.sort_array(F.collect_list("pos")).alias("positions"))
    )
    if as_table:
        n_buckets = num_files or DEFAULT_INDEX_BUCKETS
        (
            posts.repartition(n_buckets, "token")
            .write.bucketBy(n_buckets, "token")
            .sortBy("token", "doc_id")
            .option("path", path)
            .mode(mode)
            .saveAsTable(as_table)
        )
        return
    _token_layout(posts, num_files).write.mode(mode).parquet(path)


def _token_layout(posts: DataFrame, num_files: int | None) -> DataFrame:
    """Postings hash-distributed on token and token-sorted within each
    file, so a token lookup prunes to few files and row groups.

    ``num_files=None`` repartitions on token with no count: the
    shuffle has spark.sql.shuffle.partitions partitions and AQE
    coalesces them to its advisory size, so a small index is written
    as one file and a large one as at most that many. A fixed count
    writes one file per non-empty hash partition however little data
    each holds, and each file costs a write task and a read split. An
    int keeps that fixed count."""
    parts = (
        posts.repartition("token")
        if num_files is None
        else posts.repartition(num_files, "token")
    )
    return parts.sortWithinPartitions("token", "doc_id")


def load_phrase_index(spark: SparkSession, path: str) -> DataFrame:
    # memoized lazy plan (never results) — see session.parquet_plan
    return parquet_plan(spark, path)


def streaming_phrase_index(
    docs_stream: DataFrame,
    path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_files: int = 4,
):
    """Maintain the posting-list index incrementally over a document
    STREAM: each micro-batch's postings are appended (append-only
    corpus semantics — new doc_ids only, the file-stream contract).

    Query-time behavior is unchanged: readers glob every parquet file,
    so results always cover all ingested batches. Each batch adds
    ``num_files`` files, which degrades token pruning over time — run
    ``compact_phrase_index`` into a FRESH path when
    ``needs_compaction`` fires (postings-only re-layout, no corpus
    re-scan) and repoint readers; never rebuild into this path (mixing
    flat files with the stream's ``batch=`` subdirectories makes
    partition discovery fail). Returns the StreamingQuery.

    Exactly-once: foreachBatch is at-least-once, so each batch writes
    to its own ``batch=<epoch>`` subdirectory with overwrite — a
    retried micro-batch replaces its previous (possibly partial)
    output instead of appending duplicate postings. Readers see
    ``batch`` as a partition column; the query functions ignore it.
    """

    def _append(batch_df: DataFrame, epoch: int) -> None:
        build_phrase_index(
            batch_df,
            f"{path}/batch={epoch}",
            id_col=id_col,
            text_col=text_col,
            num_files=num_files,
            mode="overwrite",
        )

    return (
        docs_stream.writeStream.foreachBatch(_append)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .start()
    )


#: needs_compaction() default: compact once the file count exceeds this
#: multiple of the target num_files. Each streamed micro-batch adds
#: num_files files, so 4 ≈ "compact every ~4 batches of growth" —
#: early enough that token pruning (one file per token hash) never
#: degrades past a handful of files per token.
DEFAULT_COMPACTION_FACTOR = 4


def needs_compaction(
    spark: SparkSession,
    path: str,
    num_files: int = 32,
    factor: int = DEFAULT_COMPACTION_FACTOR,
) -> bool:
    """True when the index at ``path`` has accumulated more than
    ``factor × num_files`` parquet files — the documented trigger for
    compact_phrase_index (call between micro-batches or from a
    maintenance cron; file listing only, no data read)."""
    return len(read_parquet(spark, path).inputFiles()) > factor * num_files


def compact_phrase_index(
    spark: SparkSession,
    path: str,
    fresh_path: str,
    num_files: int | None = None,
    mode: str = "error",
) -> None:
    """Compact a streaming-appended postings index into ``fresh_path``
    with the canonical single-generation layout (token-hashed,
    token-sorted files, data-sized unless ``num_files`` is given; see
    ``_token_layout``) — restoring the file-pruning
    behavior that per-batch appends erode (each micro-batch adds its
    own ``num_files`` files, so a token lookup degrades from 1 file to
    1-per-batch; see streaming_phrase_index).

    One shuffle, postings-only — the corpus is NOT re-scanned or
    re-tokenized. Postings are re-aggregated on (token, doc_id), so
    compaction is also idempotent against duplicate postings should a
    doc ever be re-ingested (for well-formed append-only streams the
    merge is a no-op). The ``batch=`` partition column is dropped.

    Always compact into a FRESH path and repoint readers afterwards —
    rebuilding in place would mix generations (and flat files with
    ``batch=`` subdirectories, breaking partition discovery). ``mode``
    defaults to ``error`` so an existing fresh_path is never silently
    clobbered. The running stream keeps appending to ``path``
    untouched; batches ingested after the compaction cut simply remain
    in ``path`` for the next compaction cycle.
    """
    posts = (
        read_parquet(spark, path)
        .select("token", "doc_id", "positions")
        .groupBy("token", "doc_id")
        .agg(
            # distinct: duplicate postings from a re-delivered doc
            # carry the SAME positions; merging without dedup would
            # double every occurrence in ttf sums forever after
            F.array_sort(
                F.array_distinct(F.flatten(F.collect_list("positions")))
            ).alias("positions")
        )
    )
    _token_layout(posts, num_files).write.mode(mode).parquet(fresh_path)
    # if the source index carried a BM25 _doclens sidecar, rebuild it
    # for the compacted generation — appends are exactly when the
    # sidecar goes stale (operators/bm25.build_doclen_stats docstring)
    from wimbd_spark.operators.bm25 import _doclens_path, build_doclen_stats

    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(_doclens_path(path))
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(hpath):
        build_doclen_stats(spark, fresh_path)


def _greedy_window_cond_map(pm: Column, L: Column, slop: int) -> Column:
    """EXISTS q1 ∈ pm[0]: chaining qi = min{p ∈ pm[i] : p > q(i-1)}
    reaches q(L-1) with q(L-1) − q1 ≤ L + slop − 1 — the scan path's
    window matcher, evaluated over a per-(phrase, doc) MAP of
    slot → positions so ONE expression serves phrases of any length
    (the chain runs via ``aggregate`` over sequence(1, L-1) instead of
    per-phrase unrolled joins)."""

    if slop == 0:
        # Contiguous match (the common case) via an INTERSECT CHAIN
        # instead of the greedy per-start scan: S_i = positions of
        # token i that terminate a contiguous run from token 0, i.e.
        # S_i = (S_{i-1} + 1) ∩ P_i; match iff S_{L-1} is non-empty.
        # array_intersect/transform are native collection expressions —
        # one pass per slot, no per-candidate-start inner loop
        # (measured ~2× on the 122-phrase batch vs the greedy form).
        chain = F.aggregate(
            F.sequence(F.lit(1), L - F.lit(1)),
            F.element_at(pm, F.lit(0)),
            lambda acc, i: F.array_intersect(
                F.transform(acc, lambda p: p + 1), F.element_at(pm, i)
            ),
        )
        return F.when(L == F.lit(1), F.lit(True)).otherwise(
            F.size(chain) > 0
        )

    def attempt(q1: Column) -> Column:
        q = F.aggregate(
            F.sequence(F.lit(1), L - F.lit(1)),
            q1,
            lambda acc, i: F.array_min(
                F.filter(F.element_at(pm, i), lambda p: p > acc)
            ),
        )
        return q.isNotNull() & ((q - q1) <= (L + F.lit(slop) - F.lit(1)))

    # CASE WHEN evaluates lazily, so sequence(1, 0) (which Spark would
    # render as a DESCENDING [1, 0]) is never built for unigram phrases
    return F.when(L == F.lit(1), F.lit(True)).otherwise(
        F.exists(F.element_at(pm, F.lit(0)), attempt)
    )


#: Budget for the per-position subsequence enumeration of the slop>0
#: gram reconstruction: Σ_L C(L+slop−1, L−1) literal index combos, each
#: a cheap array probe evaluated map-side per (pruned) corpus position.
#: n-gram-shaped eval sweeps stay tiny (L=4 slop=1 → 4; L=13 slop=3 →
#: 455); past this the multiplier itself is the cost and the slot-join
#: plan (cost L × postings, independent of slop) is the right shape.
MAX_SLOP_COMBINATIONS = 512


def _slop_combos(L: int, slop: int) -> list[tuple[int, ...]]:
    """All 1-based index tuples (c0=1 < c1 < … < c(L-1) ≤ L+slop) into
    a position-ordered lookahead — every way L in-order tokens can sit
    inside a window of L+slop token positions, anchored at the window
    start. Anchoring loses nothing: each occurrence is enumerated at
    the lookahead that starts at its own first matched position."""
    return [(1, *rest) for rest in combinations(range(2, L + slop + 1), L - 1)]


def slop_combination_count(lengths: list[int], slop: int) -> int:
    """Per-position combo count the slop>0 gram plan would evaluate."""
    return sum(math.comb(L + slop - 1, L - 1) for L in set(lengths))


def corpus_grams_from_postings(
    index: DataFrame,
    lengths: list[int],
    with_doc: bool = False,
    vocab: DataFrame | None = None,
    slop: int = 0,
    match_keys: DataFrame | None = None,
) -> DataFrame:
    """Distinct token L-gram keys of the INDEXED corpus for every L in
    ``lengths``, reconstructed from postings alone (positions →
    position-ordered token stream → sliding windows) — the corpus text
    is never read. Output: (_L int, _toks array<string>), plus
    ``doc_id`` when ``with_doc`` (then distinct per document).

    ``slop=0`` (default): contiguous L-grams. ``slop>0``: every ordered
    L-token subsequence whose original positions span ≤ L+slop−1 —
    exactly the windowed match_phrase semantics of the query tier
    (_greedy_window_cond_map; reference wimbd/es/__init__.py:120-153),
    so ``phrase ∈ result set`` ⇔ the phrase slop-matches the document.
    Each corpus position enumerates the C(L+slop−1, L−1) anchored index
    combinations into its lookahead (all-Column array probes, no UDF);
    the per-position multiplier is guarded by MAX_SLOP_COMBINATIONS —
    callers with long-phrase × large-slop workloads belong on the
    slot-join plan (phrase_matches_batch), whose cost doesn't grow
    with slop.

    ``vocab`` (a DataFrame with a ``token`` column) prunes the postings
    scan to the query vocabulary before reconstruction: a gram can only
    match a query gram if EVERY token in it is a query token, so
    non-vocab postings are irrelevant (slop included: skipped window
    positions may hold any token, matched ones must be vocab). Pruning
    leaves gaps in the position stream, so each candidate additionally
    checks original-position span (contiguity when slop=0) — without
    pruning positions are dense and the check is trivially true. A
    lookahead of L+slop PRUNED entries suffices: every matched entry
    lies within L+slop original positions of the anchor, and at most
    L+slop pruned entries fit in that span.

    Plan shape (the 100 TB contract): one semi-join postings⋈vocab
    (AQE broadcasts small vocabularies), ONE window shuffle on doc_id
    to reassemble token order, map-side slicing for all requested Ls at
    once, one distinct. Work is linear in (pruned) corpus token count ×
    len(lengths) (× combo count when slop>0); plan size is constant in
    the number of query phrases — this is what makes eval-scale
    contamination sweeps viable where the postings×slot fan-out
    (phrase_matches_batch's slot join) is quadratic in
    shared-vocabulary batches.
    """
    Ls = sorted({int(L) for L in lengths if int(L) >= 1})
    if not Ls:
        raise ValueError("lengths must contain at least one L >= 1")
    if slop < 0:
        raise ValueError("slop must be >= 0")
    if slop and (n := slop_combination_count(Ls, slop)) > MAX_SLOP_COMBINATIONS:
        raise ValueError(
            f"slop={slop} over lengths {Ls} enumerates {n:,} per-position"
            f" combinations (> {MAX_SLOP_COMBINATIONS}); this workload"
            " belongs on the slot-join plan — use phrase_matches_batch,"
            " whose cost does not grow with slop"
        )
    max_l = Ls[-1]
    tokpos = index.select(
        "doc_id", "token", F.explode("positions").alias("_pos")
    )
    if vocab is not None:
        tokpos = tokpos.join(
            vocab.select("token").distinct(), "token", "left_semi"
        )
    # NOTE (r16, measured negative): rewriting this lookahead as
    # lead(k) columns over one window spec — primitive columns, no
    # per-row array — was uniformly SLOWER (each distinct lead offset
    # gets its own OffsetWindowFunctionFrame, so 2·(max_l+slop−1)
    # frame processors replace one collect_list frame; at the
    # mixed-length tokens_slop1 shape, 3 s → 19 s). The collect_list
    # window below stands as the measured-best plan. It also beat a
    # per-document numpy enumeration (applyInPandas), whose candidate
    # stream had to cross the Arrow boundary before the match_keys
    # semi-join could prune it: 5x slower at sf1
    # (contamination_slop1_indexed 4.2 s → 20.4 s).
    w = (
        Window.partitionBy("doc_id")
        .orderBy("_pos")
        .rowsBetween(Window.currentRow, max_l + slop - 1)
    )
    ahead = F.collect_list(F.struct(F.col("_pos"), F.col("token"))).over(w)
    # The candidate-gram expressions are generated as ONE SQL string
    # parsed in a single round trip: building them through the Column
    # DSL cost hundreds of py4j calls per (L, combo) — measured ~0.9 s
    # of driver time per slop=1 sweep (r15). The parsed tree is the
    # same Catalyst expression the DSL produced (element_at /
    # GetStructField / CaseWhen / named_struct / transform∘slice).
    first_pos = "element_at(_ahead, 1)._pos"

    def gram(L: int) -> str:
        ok = (
            f"size(_ahead) >= {L} AND"
            f" element_at(_ahead, {L})._pos - {first_pos} = {L - 1}"
        )
        toks = f"transform(slice(_ahead, 1, {L}), s -> s.token)"
        return (
            f"CASE WHEN {ok}"
            f" THEN named_struct('_L', {L}, '_toks', {toks}) END"
        )

    def gram_combo(L: int, combo: tuple[int, ...]) -> str:
        ok = (
            f"size(_ahead) >= {combo[-1]} AND"
            f" element_at(_ahead, {combo[-1]})._pos - {first_pos}"
            f" <= {L + slop - 1}"
        )
        toks = ", ".join(f"element_at(_ahead, {i}).token" for i in combo)
        return (
            f"CASE WHEN {ok}"
            f" THEN named_struct('_L', {L}, '_toks', array({toks})) END"
        )

    if slop == 0:
        gram_cols = [gram(L) for L in Ls]
    else:
        gram_cols = [
            gram_combo(L, c) for L in Ls for c in _slop_combos(L, slop)
        ]
    out = (
        tokpos.withColumn("_ahead", ahead)
        .selectExpr(
            "doc_id",
            "explode(filter(array("
            + ", ".join(gram_cols)
            + "), s -> s IS NOT NULL)) AS _g",
        )
        .select("doc_id", F.col("_g._L").alias("_L"), F.col("_g._toks").alias("_toks"))
    )
    if match_keys is not None:
        # Semi-join the RAW candidate stream against the query keys
        # BEFORE deduplication (guide §3: pre-filter the big side) —
        # the dedup exchange is then bounded by the candidates that
        # can actually match instead of the corpus gram set (the
        # planner broadcasts small key sets; measured −0.5 s per
        # contamination sweep at sf0.1, and at scale the corpus-wide
        # gram distinct is the operator's largest shuffle). The output
        # then only contains grams ∈ match_keys: callers must use it
        # solely for membership/joins against exactly that key set.
        out = out.join(
            match_keys.select("_L", "_toks"), ["_L", "_toks"], "left_semi"
        )
    if with_doc:
        return out.dropDuplicates(["doc_id", "_L", "_toks"])
    return out.select("_L", "_toks").distinct()


def _phrase_matches_gram_join(
    index: DataFrame, ptoks: list[list[str]], slop: int = 0
) -> DataFrame:
    """(pid, doc_id) for phrase batches via the distributed gram join —
    the dense-batch escape hatch from phrase_matches_batch's slot plan.
    Corpus L-gram keys (pruned to the query vocabulary; windowed
    subsequences when slop>0) are reconstructed once and hash-joined
    against the broadcast (pid, L, toks) query table on the token-array
    key, so fan-out is bounded by the corpus's distinct per-doc gram
    count (× the slop combo multiplier) — never postings × slots.
    """
    spark = index.sparkSession
    lengths = sorted({len(t) for t in ptoks})
    qdf = local_frame(
        spark,
        [(pid, len(t), t) for pid, t in enumerate(ptoks)],
        schema="pid int, _L int, _toks array<string>",
    )
    vocab = local_frame(
        spark,
        [(t,) for t in sorted({tok for p in ptoks for tok in p})],
        schema="token string",
    )
    cg = corpus_grams_from_postings(
        index, lengths, with_doc=True, vocab=vocab, slop=slop,
        match_keys=qdf,
    )
    return cg.join(F.broadcast(qdf), ["_L", "_toks"]).select("pid", "doc_id")


#: Density-guard knobs for phrase_matches_batch. A batch is "dense"
#: when many phrase slots share few distinct tokens (the contamination
#: shape: thousands of n-grams over a small shared vocabulary); the
#: slot-join fan-out is then Σ_token postings(token) × slots(token),
#: quadratic where ES-shaped diverse batches stay linear. Ratio 32 ≫
#: any real msearch batch (500 diverse phrases ≈ 1.5 slots/token, a
#: 100-phrase cross-product batch ≈ 12) and ≪ the failure case (12k
#: 4-grams / 31 tokens ≈ 1,600 slots/token) — batches below it skip
#: the estimate entirely, so normal calls never pay the extra job.
DENSE_SLOTS_PER_TOKEN = 32.0
#: Estimated slot-join output rows above which a dense slop=0 batch is
#: routed to the gram-join plan (~20M rows ≈ a few seconds of groupBy;
#: the r4 failure case estimated ~240M).
FANOUT_BUDGET = 20_000_000

#: Longest phrase (in tokens) the gram-join plan accepts. Gram
#: reconstruction materializes a max(L)-row lookahead per posting
#: position, so cost scales with L × corpus tokens — linear and fine
#: for n-gram-shaped eval sets (n ≤ 13 in wimbd/Dolma-style sweeps),
#: ruinous for document-length "phrases". Phrases longer than this
#: stay on (or fall back to) the slot-join plan, whose cost is
#: L × postings(query tokens) — the right shape for long phrases.
GRAM_JOIN_MAX_PHRASE_TOKENS = 32


def phrase_matches_batch(
    index: DataFrame,
    phrases: list[str],
    slop: int = 0,
    analyzer=None,
    fanout_budget: int | None = FANOUT_BUDGET,
) -> DataFrame:
    """(pid, doc_id) for every phrase (``pid`` = position in
    ``phrases``) and every matching document — ONE job regardless of
    batch size, the DataFrame analogue of the reference's 500-phrase
    msearch batching (wimbd/es/__init__.py:269-345, batch_size=:287).

    Physical shape, independent of len(phrases):
    1. postings filtered ONCE to the union of all query tokens (an
       ``isin`` predicate pushed to the parquet scan);
    2. one broadcast join against the tiny (token, pid, slot, L) query
       table fans each posting out to the phrase slots that need it;
    3. one groupBy (pid, doc_id) gathers slot → positions as a map;
    4. every phrase's greedy-window condition evaluates as a single
       column expression over that map (_greedy_window_cond_map).
    A 500-phrase contamination sweep is therefore the same 2-shuffle
    plan as a 2-phrase lookup — no per-phrase plan nodes, no union
    trees, no driver loop.

    ``analyzer`` (str → list[str]) must mirror the tokenizer the index
    was BUILT with (ES analyzer parity); the default pairs with
    ``build_phrase_index``'s default — pass
    ``functions.text._uax29_words`` for an index built with
    ``tokenize_words``.

    DENSITY GUARD: the slot join emits |postings(token)| ×
    |slots(token)| rows per token — linear for diverse batches,
    quadratic when many phrases share a small vocabulary. When the
    batch looks dense (slots/token ≥ DENSE_SLOTS_PER_TOKEN), one cheap
    per-token postings count over the pruned index estimates the
    fan-out; estimates above ``fanout_budget`` route the batch to the
    distributed gram-join plan (_phrase_matches_gram_join — same
    (pid, doc_id) contract; slop>0 handled via windowed-subsequence
    keys) and warn only when that plan's own bounds are exceeded
    (phrase length > GRAM_JOIN_MAX_PHRASE_TOKENS, or a slop × length
    combination past MAX_SLOP_COMBINATIONS). ``fanout_budget=None``
    disables the guard.
    """
    if not phrases:
        raise ValueError("phrases must be non-empty")
    analyze = analyzer if analyzer is not None else analyze_phrase
    spark = index.sparkSession
    rows: list[tuple[int, int, str, int]] = []
    tokens: set[str] = set()
    ptoks_list: list[list[str]] = []
    for pid, phrase in enumerate(phrases):
        ptoks = analyze(phrase)
        if not ptoks:
            raise ValueError("phrase must be non-empty")
        ptoks_list.append(ptoks)
        for slot, t in enumerate(ptoks):
            rows.append((pid, slot, t, len(ptoks)))
            tokens.add(t)
    posts = index
    # the isin prefilter is what reaches the parquet scan (row-group
    # pruning on the token-sorted files); past ~10k distinct tokens the
    # predicate stops paying and the broadcast join alone filters
    pruned = len(tokens) <= 10_000
    if pruned:
        posts = posts.filter(F.col("token").isin(sorted(tokens)))
    if (
        fanout_budget is not None
        and len(rows) / max(len(tokens), 1) >= DENSE_SLOTS_PER_TOKEN
    ):
        if not pruned:
            # vocabulary too large to pre-count cheaply; a dense batch
            # at this size can only be the contamination shape
            est = fanout_budget + 1
        else:
            slot_counts = Counter(t for (_, _, t, _) in rows)
            pcounts = {
                r["token"]: r["n"]
                for r in posts.groupBy("token")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }
            est = sum(
                pcounts.get(t, 0) * c for t, c in slot_counts.items()
            )
        if est > fanout_budget:
            max_l = max(len(p) for p in ptoks_list)
            lens = sorted({len(p) for p in ptoks_list})
            if max_l <= GRAM_JOIN_MAX_PHRASE_TOKENS and (
                slop == 0
                or slop_combination_count(lens, slop)
                <= MAX_SLOP_COMBINATIONS
            ):
                return _phrase_matches_gram_join(index, ptoks_list, slop)
            warnings.warn(
                f"phrase_matches_batch: dense batch (est. slot-join "
                f"fan-out ~{est:,} rows) with "
                f"{f'slop={slop} combo blow-up' if slop else f'max phrase length {max_l}'}"
                " exceeds the gram-join fast path's bounds; expect a "
                "heavy shuffle",
                stacklevel=2,
            )
    qdf = local_frame(
        spark,
        rows, schema="pid int, slot int, token string, L int"
    )
    per = (
        posts.join(F.broadcast(qdf), "token")
        .groupBy("pid", "doc_id")
        .agg(
            # array_distinct: a duplicate (token, doc_id) posting row
            # (a re-delivered doc in an uncompacted streaming index)
            # would duplicate a slot key and crash map_from_entries
            # with DUPLICATED_MAP_KEY; exact duplicates fold for free.
            # CONFLICTING duplicates (same doc re-ingested with
            # different text) are a corrupt index and still raise.
            F.map_from_entries(
                F.array_distinct(
                    F.collect_list(
                        F.struct(F.col("slot"), F.col("positions"))
                    )
                )
            ).alias("_pm"),
            F.first("L").alias("_L"),
        )
        # all L slots present (slots are distinct per pid, so map size
        # counts matched slots), then the positional window check
        .filter(F.size("_pm") == F.col("_L"))
        .filter(_greedy_window_cond_map(F.col("_pm"), F.col("_L"), slop))
    )
    return per.select("pid", "doc_id")


def phrase_matching_docs(
    index: DataFrame, phrase: str, slop: int = 0, analyzer=None
) -> DataFrame:
    """Distinct doc_ids whose text matches the phrase (token-aligned,
    windowed slop) — computed from postings only."""
    return phrase_matches_batch(index, [phrase], slop, analyzer).select(
        "doc_id"
    )


def _docs_for_query(
    index: DataFrame,
    phrases: list[str],
    all_phrases: bool,
    slop: int,
    analyzer=None,
) -> DataFrame:
    if not phrases:
        raise ValueError("phrases must be non-empty")
    m = phrase_matches_batch(index, phrases, slop, analyzer)
    if all_phrases and len(phrases) > 1:
        # AND = docs matching every pid; duplicate phrases get distinct
        # pids that match identical doc sets, so the count still reaches
        # len(phrases) exactly on full matches
        return (
            m.groupBy("doc_id")
            .agg(F.countDistinct("pid").alias("_np"))
            .filter(F.col("_np") == len(phrases))
            .select("doc_id")
        )
    return m.select("doc_id").distinct()


def count_documents_containing_phrases_indexed(
    index: DataFrame,
    phrases: list[str],
    all_phrases: bool = False,
    slop: int = 0,
    df: DataFrame | None = None,
    filters: dict[str, str] | None = None,
    id_col: str = "doc_id",
    analyzer=None,
) -> int:
    """≙ search.count_documents_containing_phrases, corpus never
    scanned with a phrase predicate. Attribute ``filters`` (the c4
    subset-filter generalization) need document attributes, which the
    postings don't carry — pass the corpus ``df`` and the hit ids are
    semi-joined against the filtered corpus (an id-probe join, still
    no corpus phrase scan)."""
    hits = _docs_for_query(index, phrases, all_phrases, slop, analyzer)
    if filters:
        if df is None:
            raise ValueError(
                "filters need the corpus df for document attributes"
            )
        from wimbd_spark.search import apply_filters

        return apply_filters(df, filters).join(
            hits.withColumnRenamed("doc_id", id_col), id_col, "left_semi"
        ).count()
    return hits.count()


def get_documents_containing_phrases_indexed(
    df: DataFrame,
    index: DataFrame,
    phrases: list[str],
    num_documents: int | None = 10,
    all_phrases: bool = False,
    slop: int = 0,
    sort_field: str | None = None,
    id_col: str = "doc_id",
    filters: dict[str, str] | None = None,
    analyzer=None,
) -> DataFrame:
    """≙ search.get_documents_containing_phrases: the index finds the
    hit ids, then ONE semi-join retrieves the documents — the corpus
    is probed by id, not scanned with a phrase predicate."""
    from wimbd_spark.search import apply_filters

    hits = _docs_for_query(index, phrases, all_phrases, slop, analyzer)
    out = apply_filters(df, filters).join(
        hits.withColumnRenamed("doc_id", id_col), id_col, "left_semi"
    )
    if sort_field:
        out = out.orderBy(F.col(sort_field).asc())
    if num_documents is not None:
        out = out.limit(num_documents)
    return out


def count_documents_for_each_phrase_indexed(
    index: DataFrame,
    phrases: list[str] | list[list[str]],
    slop: int = 0,
    analyzer=None,
) -> DataFrame:
    """≙ search.count_documents_for_each_phrase → (phrase, count),
    ALL phrases answered in one batched pass over the postings
    (phrase_matches_batch); AND-groups require a doc to match every
    member phrase. Zero-hit phrases report 0, like ES msearch. The
    plan size is constant in the number of phrases — the reference's
    batch_size=500 workloads (wimbd/es/__init__.py:269-345) compile to
    the same 3-shuffle job as a 2-phrase call."""
    groups = [p if isinstance(p, list) else [p] for p in phrases]
    names = [" AND ".join(g) for g in groups]
    flat: list[str] = []
    pid_gid: list[tuple[int, int]] = []
    for gid, g in enumerate(groups):
        if not g:
            raise ValueError("phrase group must be non-empty")
        for ph in g:
            pid_gid.append((len(flat), gid))
            flat.append(ph)
    spark = index.sparkSession
    m = phrase_matches_batch(index, flat, slop, analyzer)
    gmeta = local_frame(
        spark,
        [(gid, len(g), names[gid]) for gid, g in enumerate(groups)],
        schema="gid int, nm int, phrase string",
    )
    if all(len(g) == 1 for g in groups):
        # singleton groups (the msearch-batch shape): pid == gid and
        # phrase_matches_batch already emits one row per (pid,
        # doc_id) — its final aggregation is keyed on exactly that —
        # so per-phrase counts are ONE groupBy; the general path's
        # countDistinct + membership joins are pure overhead (r15)
        counts = m.groupBy(F.col("pid").alias("gid")).agg(
            F.count(F.lit(1)).alias("count")
        )
    else:
        pid2gid = local_frame(
            spark,
            pid_gid, schema="pid int, gid int"
        )
        counts = (
            m.join(F.broadcast(pid2gid), "pid")
            .groupBy("gid", "doc_id")
            .agg(F.countDistinct("pid").alias("_np"))
            .join(F.broadcast(gmeta.select("gid", "nm")), "gid")
            .filter(F.col("_np") == F.col("nm"))
            .groupBy("gid")
            .agg(F.count(F.lit(1)).alias("count"))
        )
    return (
        gmeta.select("gid", "phrase")
        .join(counts, "gid", "left")
        .select("phrase", F.coalesce("count", F.lit(0)).alias("count"))
        # the result is one row per phrase — sort it in ONE partition
        # instead of paying a range exchange (+ its boundary-sampling
        # pass) on a ≤batch-size result (r15)
        .coalesce(1)
        .orderBy("phrase")
    )


def assert_declared_lengths(
    df: DataFrame, all_lengths: list[int], l_col: str = "_L"
) -> DataFrame:
    """Loud-failure guard for the caller-asserted ``lengths=``
    contract (VERDICT r15): ``lengths`` declares the COMPLETE set of
    distinct phrase token-lengths, and the r15 form made a lying
    caller silently zero-count (or drop) phrases of the missing
    lengths. This check rides the EXISTING jobs as a per-distinct-
    phrase filter branch — no extra action, no probe job on the hot
    path: honest callers never evaluate the error side; a phrase of an
    undeclared length kills the job with a message naming the length.
    Lengths < 1 (empty tokenizations) pass through — both the probe
    path and the declared path ignore them identically."""
    declared = ", ".join(str(int(L)) for L in all_lengths)
    cond = (
        f"{l_col} < 1 OR {l_col} IN ({declared})"
        if all_lengths
        else f"{l_col} < 1"
    )
    return df.filter(
        F.expr(
            f"assert_true({cond}, concat("
            f"'lengths={sorted(int(L) for L in all_lengths)} omits"
            " phrase token-length ',"
            f" CAST({l_col} AS STRING),"
            " ' present in the phrase set — pass the complete"
            " length set (or lengths=None to derive it)'"
            ")) IS NULL"
        )
    )


def count_documents_for_each_phrase_df(
    index: DataFrame,
    phrases_df: DataFrame,
    phrase_col: str = "phrase",
    tokenizer=None,
    slop: int = 0,
    lengths: list[int] | None = None,
) -> DataFrame:
    """(phrase, count) for EVERY distinct phrase in a phrase DATAFRAME
    — the eval-scale twin of count_documents_for_each_phrase_indexed.
    The phrase set stays distributed end-to-end (no driver list, no
    per-phrase plan nodes), so this serves the reference's
    contamination workloads (wimbd/es/corpus_contamination.py:28-58 —
    one ES count per eval row, 10⁵–10⁶ rows in real sweeps) at any
    eval-set size. Token-aligned semantics, single phrases only;
    ``slop>0`` counts windowed matches via the anchored-subsequence
    gram keys (a slop × length combination past MAX_SLOP_COMBINATIONS
    routes every phrase through the bounded slot-join batch, like the
    contamination sweep).

    Plan: distinct phrases tokenized JVM-side (``tokenizer`` must
    mirror the index's build tokenizer; default pairs with the
    default) → corpus (slop-)gram keys reconstructed from
    vocabulary-pruned postings (corpus_grams_from_postings) → one hash
    join on the (L, token-array) key → groupBy(phrase) count. Zero-hit
    phrases report 0. The only driver-collected state is the set of
    distinct phrase LENGTHS (a handful of ints) — and ``lengths``
    skips even that probe job when the caller knows the COMPLETE
    length set (an n-gram eval set has exactly one). The claim is
    VERIFIED in-flow: a phrase whose token length is missing from the
    list fails the job loudly (an assert_true branch riding the
    existing pass — no extra job) instead of silently zero-counting.
    """
    tok = tokenizer if tokenizer is not None else tokenize
    _base = phrases_df.select(F.col(phrase_col).alias("phrase")).filter(
        F.col("phrase").isNotNull() & (F.trim(F.col("phrase")) != "")
    )
    # evp feeds several plan subtrees (hit join, zero-restore join,
    # match-keys prune, vocabulary prune) whose differing column
    # pruning defeats exchange reuse — persist the distinct phrase
    # table once so the eval pipeline executes once (r15). The result
    # is lazy, so the cache can't be released in-call; scoped_persist
    # bounds the session-wide accumulation (see session.py — the
    # CacheManager never reclaims Dataset persists on its own).
    from pyspark import StorageLevel

    from wimbd_spark.session import scoped_persist

    evp = scoped_persist(
        _base.distinct()
        .withColumn("_toks", tok(F.col("phrase")))
        .withColumn("_L", F.size("_toks")),
        StorageLevel.MEMORY_AND_DISK,
    )
    all_lengths = (
        sorted(L for L in set(lengths) if L >= 1)
        if lengths is not None
        else sorted(
            r["_L"]
            for r in evp.filter(F.col("_L") >= 1)
            .select("_L")
            .distinct()
            .collect()
        )
    )
    if lengths is not None:
        evp = assert_declared_lengths(evp, all_lengths)
    cap = GRAM_JOIN_MAX_PHRASE_TOKENS
    lengths = [L for L in all_lengths if L <= cap]
    if slop and lengths and (
        slop_combination_count(lengths, slop) > MAX_SLOP_COMBINATIONS
    ):
        # over-budget windowed batch: every phrase rides the bounded
        # slot-join collect below (cap=0 makes them all "overlong")
        cap = 0
        lengths = []
    if not lengths:
        out_short = evp.filter(F.col("_L") <= cap).select(
            "phrase", F.lit(0).cast("long").alias("count")
        )
    else:
        evs = evp.filter(F.col("_L") <= cap)
        # vocabulary prune from the CACHED in-cap phrase table —
        # tokens of matching grams ⊆ tokens of in-cap phrases, and
        # reading _toks from the persisted evp costs no extra
        # tokenize/scan (see contamination_rate_indexed)
        vocab = evs.select(F.explode(F.col("_toks")).alias("token"))
        cg = corpus_grams_from_postings(
            index, lengths, with_doc=True, vocab=vocab, slop=slop,
            match_keys=evs,
        )
        hits = (
            evs.join(cg, ["_L", "_toks"])
            # cg is distinct per (doc_id, gram): rows per phrase = docs
            .groupBy("phrase")
            .agg(F.count(F.lit(1)).alias("_n"))
        )
        out_short = (
            evs.select("phrase")
            .join(hits, "phrase", "left")
            .select(
                "phrase",
                F.coalesce("_n", F.lit(0)).cast("long").alias("count"),
            )
        )
    if not all_lengths or all_lengths[-1] <= cap:
        return out_short
    # overlong phrases: the slot-join path (L × postings cost beats the
    # gram plan's L × corpus); bounded driver collect, see
    # operators.dedup.MAX_OVERLONG_PHRASES for the rationale
    if tokenizer is not None:
        raise ValueError(
            f"phrases longer than {cap} tokens fall back to the "
            "slot-join path, which tokenizes driver-side with the "
            "DEFAULT analyzer — incompatible with a custom "
            "tokenizer=; use count_documents_for_each_phrase_indexed "
            "with a matching analyzer for the overlong subset"
        )
    from wimbd_spark.operators.dedup import MAX_OVERLONG_PHRASES

    longs = evp.filter(F.col("_L") > cap).select("phrase")
    long_list = [
        r[0] for r in longs.limit(MAX_OVERLONG_PHRASES + 1).collect()
    ]
    if len(long_list) > MAX_OVERLONG_PHRASES:
        raise ValueError(
            f"more than {MAX_OVERLONG_PHRASES:,} phrases exceed "
            f"{cap} tokens — chunk the overlong subset through "
            "count_documents_for_each_phrase_indexed"
        )
    out_long = count_documents_for_each_phrase_indexed(
        index, sorted(long_list), slop=slop
    ).select("phrase", F.col("count").cast("long").alias("count"))
    return out_short.unionByName(out_long)


def contaminated_examples(
    index: DataFrame,
    phrases_df: DataFrame,
    k: int = 3,
    phrase_col: str = "phrase",
    tokenizer=None,
    slop: int = 0,
    lengths: list[int] | None = None,
) -> DataFrame:
    """(phrase, doc_id, rank) — up to ``k`` example documents per
    distinct eval phrase, the audit companion to the contamination
    sweep ("show me WHERE each leaked phrase appears"). The reference
    reaches the same answer per phrase via ES hit lists
    (wimbd/es/__init__.py get_documents_containing_phrases); here the
    whole eval set is answered in one job with the phrase set kept as
    a DataFrame.

    Ranks are deterministic (ascending doc_id per phrase). Plan: the
    gram-join match table (vocabulary-pruned corpus gram
    reconstruction), then ONE window partitioned by phrase — bounded
    output k rows/phrase, never a per-phrase query loop. Phrases with
    no matches emit no rows (join the phrase table back if you need
    explicit empties). ``slop>0`` audits windowed matches via the
    anchored-subsequence keys (combo-budget-guarded in the gram
    reconstruction). ≤ GRAM_JOIN_MAX_PHRASE_TOKENS tokens per phrase
    (longer phrases: route through
    get_documents_containing_phrases_indexed per phrase).
    ``lengths`` (the complete distinct token-length set of the
    phrases, when the caller knows it) skips the lengths-probe job —
    see count_documents_for_each_phrase_df.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    tok = tokenizer if tokenizer is not None else tokenize
    _base = phrases_df.select(F.col(phrase_col).alias("phrase")).filter(
        F.col("phrase").isNotNull() & (F.trim(F.col("phrase")) != "")
    )
    # persisted for the same multi-subtree reuse reason as
    # count_documents_for_each_phrase_df (lazy result — released by
    # the scoped_persist FIFO, see session.py)
    from pyspark import StorageLevel

    from wimbd_spark.session import scoped_persist

    evp = scoped_persist(
        _base.distinct()
        .withColumn("_toks", tok(F.col("phrase")))
        .withColumn("_L", F.size("_toks"))
        .filter(
            (F.col("_L") >= 1)
            & (F.col("_L") <= GRAM_JOIN_MAX_PHRASE_TOKENS)
        ),
        StorageLevel.MEMORY_AND_DISK,
    )
    if lengths is not None:
        lengths = sorted(
            L
            for L in set(lengths)
            if 1 <= L <= GRAM_JOIN_MAX_PHRASE_TOKENS
        )
        # loud-failure contract — see assert_declared_lengths (evp is
        # already capped to [1, GRAM_JOIN_MAX_PHRASE_TOKENS], so the
        # in-cap declared list is the right completeness reference)
        evp = assert_declared_lengths(evp, lengths)
    else:
        lengths = sorted(
            r["_L"] for r in evp.select("_L").distinct().collect()
        )
    if not lengths:
        spark = index.sparkSession
        return local_frame(
            spark,
            [], schema="phrase string, doc_id long, rank int"
        )
    # vocabulary prune from the CACHED valid-length phrase table —
    # tokens of matching grams ⊆ tokens of these phrases, read from
    # the persisted evp (see contamination_rate_indexed)
    vocab = evp.select(F.explode(F.col("_toks")).alias("token"))
    cg = corpus_grams_from_postings(
        index, lengths, with_doc=True, vocab=vocab, slop=slop,
        match_keys=evp,
    )
    w = (
        Window.partitionBy("phrase")
        .orderBy(F.col("doc_id").asc())
    )
    return (
        evp.join(cg, ["_L", "_toks"])
        .select("phrase", "doc_id")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def count_total_occurrences_of_unigrams_indexed(
    index: DataFrame,
    unigrams: list[str],
) -> DataFrame:
    """≙ search.count_total_occurrences_of_unigrams: ttf = Σ
    size(positions) over the term's postings; absent terms report 0."""
    if not unigrams:
        raise ValueError("unigrams must be non-empty")
    got = (
        index.filter(F.col("token").isin(unigrams))
        .groupBy("token")
        .agg(F.sum(F.size("positions")).alias("count"))
    )
    spark = index.sparkSession
    wanted = local_frame(spark, [(u,) for u in unigrams], "unigram string")
    return (
        wanted.join(
            got.withColumnRenamed("token", "unigram"), "unigram", "left"
        )
        .select("unigram", F.coalesce("count", F.lit(0)).alias("count"))
        .orderBy("unigram")
    )
