"""Exact dedup / decontamination / overlap — the hash-join family.

Parity targets (file:line relative to /root/reference, all under
wimbd/text_and_url_overlaps/ unless noted):
- J1 overlap        helper_scripts/merge_and_get_overlap.sh:3;
                    helper_scripts/run_combinations.py:17-45
- J2 decontaminate  decontaminate.py:10-22; deduplicate_by_hash.py:40-47
- J3 keep-first     deduplicate.py:10-22; deduplicate_by_hash.py:48-62
- J4 example lookup helper_scripts/get_examples.py:8-33
- A11 dup stats     helper_scripts/get_duplicate_counts.py:9-28

Spark-first notes:
- The reference's sorted-merge shell pipelines become sort-merge /
  broadcast joins picked by Catalyst+AQE; blocklists that fit in memory
  are broadcast explicitly.
- Keep-first in the reference depends on process scheduling order
  (deduplicate_by_hash.py:50-62 shared seen-array); we pin a
  deterministic order column instead (SURVEY.md §7.4(5)).
- Multi-dataset overlap: ONE groupBy(hash).collect_set(dataset) pass
  replaces the reference's powerset of pairwise merges
  (run_combinations.py) — O(N) instead of O(2^N) scans.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from wimbd_spark.functions.text import doc_hash
from wimbd_spark.session import local_frame, plan_size_bytes


def _null_safe_partition(key: Column) -> list[Column]:
    """Window partition spec that never collapses NULL keys.

    ``Window.partitionBy(key)`` groups every NULL-key row together
    (SQL GROUP BY semantics), so URL-keyed dedup would silently drop
    all but one document lacking a URL. A doc with no key carries no
    evidence of duplication — it must be kept unconditionally. We add
    a tiebreaker column that is a constant for real keys and a
    per-row-unique id for NULL keys, so each NULL-key row is its own
    size-1 partition (row_number()==1 → kept / not flagged). Single
    pass, no union branch, type-agnostic (no key cast).
    """
    return [
        key,
        F.when(key.isNull(), F.monotonically_increasing_id()).otherwise(
            F.lit(0).cast("long")
        ),
    ]


def dedup_keep_first(
    df: DataFrame,
    text_col: str = "text",
    order_cols: tuple[str, ...] = ("doc_id",),
    key: Column | None = None,
) -> DataFrame:
    """Drop exact-duplicate texts, keeping the first occurrence in
    (order_cols) order. Deterministic replacement for the reference's
    scheduling-order "first" (deduplicate_by_hash.py:48-62).

    ``key`` overrides the duplicate key (default md5(text)) — e.g.
    ``url_normalize(F.col("url"))`` for URL-level dedup (the C4
    convention), or any other canonical-form Column. Rows whose key is
    NULL (e.g. no URL) are kept unconditionally — NULL is "unknown",
    not a duplicate group.
    """
    w = Window.partitionBy(
        *_null_safe_partition(
            key if key is not None else doc_hash(F.col(text_col))
        )
    ).orderBy(*[F.col(c).asc() for c in order_cols])
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def mark_duplicates(
    df: DataFrame,
    text_col: str = "text",
    order_cols: tuple[str, ...] = ("doc_id",),
    flag_col: str = "duplicate",
    key: Column | None = None,
) -> DataFrame:
    """Attribute mode: keep every row, flag non-first duplicates.

    Parity: deduplicate_by_hash.py:22,46 emits `{id, source,
    contaminated}` attributes instead of dropping rows. ``key``
    overrides the duplicate key like ``dedup_keep_first``; NULL-key
    rows are never flagged as duplicates.
    """
    w = Window.partitionBy(
        *_null_safe_partition(
            key if key is not None else doc_hash(F.col(text_col))
        )
    ).orderBy(*[F.col(c).asc() for c in order_cols])
    return df.withColumn(flag_col, F.row_number().over(w) > 1)


def decontaminate(
    train: DataFrame,
    blocklist: DataFrame,
    text_col: str = "text",
    blocklist_col: str | None = None,
    broadcast_blocklist: bool = True,
) -> DataFrame:
    """Remove every train doc whose md5(text) appears in the blocklist.

    ``blocklist`` is either a corpus (hash derived from its text_col)
    or a hash list (pass blocklist_col). Eval sets are small → default
    broadcast anti-join, no shuffle of the 100 TB side.

    Parity: decontaminate.py:10-22.
    """
    if blocklist_col is None:
        keys = blocklist.select(doc_hash(F.col(text_col)).alias("_h")).distinct()
    else:
        keys = blocklist.select(F.col(blocklist_col).alias("_h")).distinct()
    if broadcast_blocklist:
        keys = F.broadcast(keys)
    return train.join(
        keys, on=doc_hash(F.col(text_col)) == keys["_h"], how="left_anti"
    )


def overlap(
    a: DataFrame,
    b: DataFrame,
    text_col: str = "text",
) -> DataFrame:
    """Distinct text-hash intersection of two corpora → (hash).

    Parity: merge_and_get_overlap.sh:3 (`sort -m | uniq -c | awk $1>1`
    over distinct hash lists) ≙ set intersection.
    """
    ha = a.select(doc_hash(F.col(text_col)).alias("hash"))
    hb = b.select(doc_hash(F.col(text_col)).alias("hash"))
    return ha.intersect(hb)


def multi_overlap(
    df: DataFrame,
    dataset_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """All-subsets overlap in ONE pass: for each text hash, the sorted
    set of datasets containing it → (hash, datasets, n_datasets).

    Downstream, any subset S's overlap size = count of rows whose
    `datasets` ⊇ S — replaces run_combinations.py:17-45's powerset of
    pairwise sort-merges.
    """
    return (
        df.select(
            doc_hash(F.col(text_col)).alias("hash"),
            F.col(dataset_col).alias("_ds"),
        )
        .groupBy("hash")
        .agg(F.sort_array(F.collect_set("_ds")).alias("datasets"))
        .withColumn("n_datasets", F.size("datasets"))
    )


def duplicate_stats(
    df: DataFrame,
    group_col: str | None = None,
    text_col: str = "text",
) -> DataFrame:
    """Duplicate summary per dataset: duplicates (Σ count where
    count>1), uniq_duplicates, total, uniq_total.

    Parity: get_duplicate_counts.py:9-28.
    """
    keys = [group_col] if group_col else []
    counts = (
        df.select(*keys, doc_hash(F.col(text_col)).alias("_h"))
        .groupBy(*keys, "_h")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    gb = counts.groupBy(*keys) if keys else counts.groupBy()
    return gb.agg(
        F.sum(F.when(F.col("_c") > 1, F.col("_c")).otherwise(0)).alias(
            "duplicates"
        ),
        F.count(F.when(F.col("_c") > 1, 1)).alias("uniq_duplicates"),
        F.sum("_c").alias("total"),
        F.count(F.lit(1)).alias("uniq_total"),
    )


def find_examples(
    df: DataFrame,
    wanted_hashes: DataFrame | list[str],
    k: int,
    text_col: str = "text",
    order_cols: tuple[str, ...] = ("doc_id",),
) -> DataFrame:
    """First k docs (in deterministic order) whose text hash is in the
    wanted set. Parity: get_examples.py:8-33.
    """
    if isinstance(wanted_hashes, list):
        wanted = local_frame(
            df.sparkSession, [(h,) for h in wanted_hashes], "_h string"
        )
    else:
        wanted = wanted_hashes.toDF("_h")
    return (
        df.join(
            F.broadcast(wanted.distinct()),
            on=doc_hash(F.col(text_col)) == F.col("_h"),
            how="left_semi",
        )
        .orderBy(*[F.col(c).asc() for c in order_cols])
        .limit(k)
    )


def repeated_spans(
    df: DataFrame,
    k: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 2,
    tokenizer=None,
) -> DataFrame:
    """ExactSubstr-style repeated-region detection (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better" —
    public): every maximal token span covered by some ``k``-token
    sequence occurring ≥ ``min_count`` times in the corpus →
    (doc_id, start_pos, end_pos), token positions 0-based inclusive.
    The paper builds a suffix array; the Spark-first equivalent marks
    every occurrence of every repeated k-gram and merges overlapping
    k-windows per document — the same covered set for repeated runs
    of length ≥ k, with no global index structure.

    Plan shape: map-side k-gram hashing (md5 of the joined gram — no
    token arrays ever shuffle), ONE groupBy(hash) count with map-side
    combine, a semi-join back onto the narrow (doc_id, pos, hash)
    stream, and one groupBy(doc) whose per-doc sorted start list folds
    into maximal intervals with a collection expression. Cost class:
    one n-gram count plus one narrow shuffle; per-doc state is
    bounded by the doc's own length.
    """
    from wimbd_spark.functions.text import tokenize

    if k < 1:
        raise ValueError("k must be >= 1")
    tok = tokenizer if tokenizer is not None else tokenize
    from wimbd_spark.functions.text import let

    # token array let-bound: each window start slices a bound value
    # (functions.text.let — the O(n²) re-evaluation hazard)
    gram_hashes = let(
        tok(F.col(text_col)),
        lambda t: F.transform(
            F.filter(
                F.transform(
                    F.sequence(
                        F.lit(1),
                        F.greatest(F.size(t) - F.lit(k - 1), F.lit(1)),
                    ),
                    lambda i: F.slice(t, i, k),
                ),
                lambda a: F.size(a) == k,
            ),
            lambda a: F.md5(F.array_join(a, " ")),
        ),
    )
    from pyspark import StorageLevel

    from wimbd_spark.session import scoped_persist

    # the (id, pos, gram-hash) stream feeds BOTH the repeat count and
    # the semi-join back; unpersisted, the corpus is scanned and the
    # O(n·k) slice+md5 gram pass runs twice. Disk-backed (gram-stream
    # sized).
    grams = scoped_persist(
        df.filter(F.col(text_col).isNotNull())
        .select(
            F.col(id_col),
            F.posexplode(gram_hashes).alias("pos", "_gh"),
        ),
        StorageLevel.MEMORY_AND_DISK,
    )
    rep = (
        grams.groupBy("_gh")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") >= min_count)
        .select("_gh")
    )
    starts = grams.join(rep, "_gh", "left_semi").select(id_col, "pos")
    first = F.element_at(F.col("_arr"), 1)
    rest = F.slice(
        F.col("_arr"), 2, F.greatest(F.size("_arr") - 1, F.lit(0))
    )
    init = F.array(
        F.struct(first.alias("s"), (first + F.lit(k - 1)).alias("e"))
    )

    def merge(acc, p):
        last = F.element_at(acc, -1)
        extended = F.concat(
            F.slice(acc, 1, F.size(acc) - 1),
            F.array(
                F.struct(
                    last["s"].alias("s"),
                    F.greatest(last["e"], p + F.lit(k - 1)).alias("e"),
                )
            ),
        )
        appended = F.concat(
            acc,
            F.array(
                F.struct(p.alias("s"), (p + F.lit(k - 1)).alias("e"))
            ),
        )
        # merge only on OVERLAP (start inside the covered region);
        # adjacent-but-disjoint repeats stay separate spans
        return F.when(p <= last["e"], extended).otherwise(appended)

    return (
        starts.groupBy(id_col)
        .agg(F.array_sort(F.collect_list("pos")).alias("_arr"))
        .select(
            F.col(id_col),
            F.explode(F.aggregate(rest, init, merge)).alias("_sp"),
        )
        .select(
            F.col(id_col),
            F.col("_sp.s").alias("start_pos"),
            F.col("_sp.e").alias("end_pos"),
        )
    )


def remove_repeated_spans(
    df: DataFrame,
    k: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 2,
    tokenizer=None,
    spans: DataFrame | None = None,
) -> DataFrame:
    """Excise every repeated span (repeated_spans) from the corpus:
    tokens at covered positions are dropped and the text rebuilt from
    the survivors — the enforcement half of ExactSubstr dedup (ALL
    copies removed, like the paper's released tool; keep-one
    semantics would need a global tiebreak). Docs with no repeated
    spans pass through untouched; pass a precomputed ``spans`` to
    audit first and enforce after without recomputing. One id-probe
    join of the span table against the corpus, then a map-side token
    filter. NOTE: rebuilt text joins surviving tokens with single
    spaces (the engine's canonical whitespace form).
    """
    from wimbd_spark.functions.text import tokenize

    tok = tokenizer if tokenizer is not None else tokenize
    if spans is None:
        spans = repeated_spans(
            df, k, text_col, id_col, min_count, tokenizer
        )
    per_doc = spans.groupBy(id_col).agg(
        F.collect_list(
            F.struct(F.col("start_pos"), F.col("end_pos"))
        ).alias("_spans")
    )
    out = df.join(per_doc, id_col, "left")
    kept = F.filter(
        tok(F.col(text_col)),
        lambda x, i: ~F.exists(
            F.col("_spans"),
            lambda s: (i >= s["start_pos"]) & (i <= s["end_pos"]),
        ),
    )
    return out.withColumn(
        text_col,
        F.when(
            F.col("_spans").isNull() | F.col(text_col).isNull(),
            F.col(text_col),
        ).otherwise(F.array_join(kept, " ")),
    ).drop("_spans")


def dedup_paragraphs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n\n",
    order_cols: tuple[str, ...] = ("doc_id",),
) -> DataFrame:
    """CORPUS-level paragraph dedup (the Dolma-style stage between
    exact-doc and near-dup): split every doc on ``sep``, keep only the
    FIRST occurrence of each distinct paragraph across the whole
    corpus (deterministic (order_cols, position) order), reassemble
    each doc from its surviving paragraphs in original order. Docs
    whose paragraphs all lose are dropped; whitespace-only paragraphs
    are dropped unconditionally (they would otherwise all collapse
    onto one corpus-wide survivor). Non-text columns pass through.

    The reference dedups whole documents by hash
    (deduplicate_by_hash.py:48-62); paragraph granularity is what
    modern training pipelines actually run, and it reuses the same
    keep-first construction at exploded granularity.

    Plan shape: one map-side posexplode, ONE window shuffle keyed on
    md5(paragraph) (the same cost class as doc-level keep-first), one
    groupBy(id) to reassemble, one id-probe join to restore the other
    columns. No driver state, no UDFs; ties are broken by
    (order_cols, position) so the output is partition-layout
    independent.
    """
    import re as _re

    others = [c for c in df.columns if c != text_col]
    paras = (
        df.filter(F.col(text_col).isNotNull())
        .select(
            *[F.col(c) for c in others],
            # split takes a REGEX; quote the literal separator
            F.posexplode(
                F.split(F.col(text_col), _re.escape(sep))
            ).alias("_pos", "_par"),
        )
        .filter(F.trim(F.col("_par")) != "")
    )
    w = Window.partitionBy(doc_hash(F.col("_par"))).orderBy(
        *[F.col(c).asc() for c in order_cols], F.col("_pos").asc()
    )
    keep = (
        paras.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
    )
    rebuilt = keep.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("_pos"), F.col("_par")))
                ),
                lambda s: s["_par"],
            ),
            sep,
        ).alias(text_col)
    )
    return df.drop(text_col).join(rebuilt, id_col, "inner")


def _contains_hits(corpus, phrases, text_col):
    """Distinct phrases substring-contained in ≥1 corpus doc — direct
    broadcast nested-loop (O(|corpus| × |phrases|) contains checks)."""
    return (
        corpus.join(
            F.broadcast(phrases),
            on=F.col(text_col).contains(F.col("_p")),
            how="inner",
        )
        .select("_p")
        .distinct()
    )


def _anchored_hits(corpus, phrases_tok, text_col):
    """Distinct hit phrases via the rare-token prefilter (SURVEY §7 J6).

    Semantics-preserving: if a phrase (with its whitespace separators)
    is a substring of a doc, every INTERIOR token of the phrase is
    whitespace-delimited inside the doc, so it appears verbatim in the
    doc's whitespace token set. Hash-joining exploded corpus tokens
    against one chosen interior token per phrase therefore has perfect
    recall; `contains` verifies the candidates. The anchor is the
    RAREST interior token by corpus document frequency (ties broken by
    token string), so candidate volume is the minimum the token-level
    signal allows — a length heuristic picks stopword-adjacent anchors
    and floods the verify join.

    Plan shape at 100 TB: three linear corpus scans, ZERO corpus
    shuffles — scan 1 counts document frequency for interior tokens
    only (broadcast semi-join before the agg, so the DF table is
    eval-vocabulary-sized); scan 2 emits (md5, token) pairs into a
    broadcast hash join with the per-phrase rare anchors; scan 3
    verifies candidates with `contains`. The verify join carries no
    broadcast hint: AQE converts it to broadcast when the candidate
    set is small (the common case with rare anchors) and falls back to
    a shuffle join when an adversarial eval set makes it large —
    never an OOM, and only candidates ever shuffle with it.

    ``phrases_tok``: (_p, _toks) rows with size(_toks) >= 3.
    """
    from wimbd_spark.functions.text import tokenize

    interior = phrases_tok.select(
        "_p",
        F.explode(
            F.slice(F.col("_toks"), 2, F.size("_toks") - 2)
        ).alias("_tok"),
    ).distinct()
    doc_toks = corpus.select(
        doc_hash(F.col(text_col)).alias("_k"),
        F.explode(F.array_distinct(tokenize(F.col(text_col)))).alias("_tok"),
    )
    tok_df = (
        doc_toks.join(
            F.broadcast(interior.select("_tok").distinct()), "_tok"
        )
        .groupBy("_tok")
        .agg(F.count(F.lit(1)).alias("_df"))
    )
    # rarest interior token per phrase; a phrase whose interior tokens
    # all have DF=0 cannot be contained anywhere → correctly drops out
    anchors = (
        interior.join(F.broadcast(tok_df), "_tok")
        .groupBy("_p")
        .agg(F.min(F.struct(F.col("_df"), F.col("_tok"))).alias("_m"))
        .select("_p", F.col("_m._tok").alias("_anchor"))
    )
    cand = doc_toks.join(
        F.broadcast(anchors),
        on=F.col("_tok") == F.col("_anchor"),
        how="inner",
    ).select("_k", "_p")  # unique already: 1 anchor/phrase, distinct toks
    return (
        corpus.select(F.col(text_col), doc_hash(F.col(text_col)).alias("_k"))
        .join(cand, on="_k", how="inner")  # no hint: AQE sizes it
        .filter(F.col(text_col).contains(F.col("_p")))
        .select("_p")
        .distinct()
    )


def _rate_row(spark, n_hit: int, n_tot: int) -> DataFrame:
    """(contaminated, total, rate) single-row result. An empty eval
    set has an UNDEFINED rate (0/0) — NULL, not 0.0: emitting 0.0
    would falsely read as "checked and clean" (degenerate-corpus
    parity with the SQL oracle, where 0/0 division yields NULL)."""
    return local_frame(
        spark,
        [(n_hit, n_tot, float(n_hit) / n_tot if n_tot else None)],
        "contaminated long, total long, rate double",
    )


def contamination_rate(
    eval_df: DataFrame,
    corpus: DataFrame,
    phrase_col: str,
    text_col: str = "text",
    prefilter: bool | None = None,
    prefilter_threshold: int = 64,
    bnlj_budget: float = 5e11,
) -> DataFrame:
    """Fraction of eval rows whose phrase appears (substring) in ≥1
    corpus doc → single row (contaminated, total, rate).

    Parity: wimbd/es/corpus_contamination.py:28-58 (per-row phrase
    count > 0, then mean). Two physical strategies, same answer:

    - direct: broadcast the phrases into the corpus scan, nested-loop
      `contains`. Work ~ corpus_bytes × n_phrases char ops — unbeatable
      on small corpora (one scan, zero joins), catastrophic at 100 TB.
    - prefilter: rare-interior-token candidate join (_anchored_hits),
      ~3 linear corpus scans regardless of phrase count. Phrases too
      short to carry an interior token always take the direct path.

    ``prefilter=None`` picks by the cost model: direct while
    corpus_bytes × n_phrases ≤ ``bnlj_budget`` (Catalyst's static size
    estimate; ~1e10 contains-char-ops/s on 32 cores ⇒ 5e11 ≈ under a
    minute of scan work) or when n_phrases < ``prefilter_threshold``,
    else prefilter.
    """
    from wimbd_spark.functions.text import tokenize

    phrases = eval_df.select(F.col(phrase_col).alias("_p")).distinct()
    n_tot = phrases.count()
    if prefilter is None:
        sz = plan_size_bytes(corpus)  # unknown counts as large
        prefilter = n_tot >= prefilter_threshold and (
            sz is None or sz * n_tot > bnlj_budget
        )
    if not prefilter:
        hits = _contains_hits(corpus, phrases, text_col)
    else:
        pt = phrases.withColumn("_toks", tokenize(F.col("_p")))
        anchorable = pt.filter(F.size("_toks") >= 3)
        rest = pt.filter(
            F.col("_toks").isNull() | (F.size("_toks") < 3)
        ).drop("_toks")
        hits = _anchored_hits(corpus, anchorable, text_col).union(
            _contains_hits(corpus, rest, text_col)
        ).distinct()
    n_hit = hits.count()
    return _rate_row(eval_df.sparkSession, n_hit, n_tot)


def _text_grams(
    df: DataFrame,
    lengths: list[int],
    text_col: str = "text",
    tokenizer=None,
    slop: int = 0,
) -> DataFrame:
    """Explode every token L-gram KEY of each row's text, for every L
    in ``lengths``, in ONE map-side pass (no shuffle, no UDF): output
    = input columns (minus text) + (_L int, _toks array<string>).
    ``slop=0``: contiguous L-grams. ``slop>0``: every anchored ordered
    L-token subsequence within a window of L+slop tokens — the same
    enumeration as index.corpus_grams_from_postings (one literal combo
    set per L, C(L+slop−1, L−1) combos, budget-guarded there by the
    callers), over dense token arrays so no span check is needed
    beyond the window bound. A multi-combo anchor can emit duplicate
    keys — callers wanting set semantics (contamination) already
    ``distinct``. Rows with NULL text contribute nothing. Sub-window
    texts contribute no partial grams."""
    from wimbd_spark.functions.text import tokenize
    from wimbd_spark.index import _slop_combos

    tok = tokenizer if tokenizer is not None else tokenize
    from wimbd_spark.functions.text import let

    def windows(t: Column, L: int) -> Column:
        # greatest(…, 1): sequence(1, 0) would render DESCENDING
        # [1, 0]; the lone undersized candidate it forces instead is
        # dropped by the size filter
        return F.filter(
            F.transform(
                F.sequence(
                    F.lit(1),
                    F.greatest(F.size(t) - F.lit(L - 1), F.lit(1)),
                ),
                lambda i: F.struct(
                    F.lit(L).alias("_L"),
                    F.slice(t, i, L).alias("_toks"),
                ),
            ),
            lambda s: F.size(s["_toks"]) == L,
        )

    def windows_combo(t: Column, L: int, combo: tuple[int, ...]) -> Column:
        # anchored subsequence: token positions i, i+combo[1]-1, …
        # (combo is 1-based with combo[0] == 1); F.get is the
        # bounds-safe accessor, the when() guard keeps only anchors
        # whose furthest offset stays inside the array
        last = combo[-1]
        return F.filter(
            F.transform(
                F.sequence(
                    F.lit(1),
                    F.greatest(F.size(t) - F.lit(last - 1), F.lit(1)),
                ),
                lambda i: F.when(
                    i + F.lit(last - 1) <= F.size(t),
                    F.struct(
                        F.lit(L).alias("_L"),
                        F.array(
                            *[
                                F.get(t, i + F.lit(c - 2))
                                for c in combo
                            ]
                        ).alias("_toks"),
                    ),
                ),
            ),
            lambda s: s.isNotNull(),
        )

    Ls = sorted({int(L) for L in lengths if int(L) >= 1})
    if not Ls:
        raise ValueError("lengths must contain at least one L >= 1")
    if slop < 0:
        raise ValueError("slop must be >= 0")
    # token array let-bound once for the whole multi-L / multi-combo
    # window expression (functions.text.let — O(n²) hazard otherwise)
    if slop:
        allw = let(
            tok(F.col(text_col)),
            lambda t: F.concat(
                *[
                    windows_combo(t, L, c)
                    for L in Ls
                    for c in _slop_combos(L, slop)
                ]
            ),
        )
    else:
        allw = let(
            tok(F.col(text_col)),
            lambda t: (
                windows(t, Ls[0])
                if len(Ls) == 1
                else F.concat(*[windows(t, L) for L in Ls])
            ),
        )
    keep = [c for c in df.columns if c != text_col]
    return df.select(*keep, F.explode(allw).alias("_g")).select(
        *keep,
        F.col("_g._L").alias("_L"),
        F.col("_g._toks").alias("_toks"),
    )


def _normalized_tokens_text(text: Column, tokenizer=None) -> Column:
    """' ' + tokens joined by single spaces + ' ' — the normalization
    under which token-aligned phrase containment is EXACTLY substring
    containment (every token boundary becomes one space, including the
    edges), valid for any tokenizer whose tokens contain no spaces.
    Lets arbitrarily LONG phrases match with one `contains` per
    (doc, phrase) instead of a length-L gram materialization."""
    from wimbd_spark.functions.text import tokenize

    tok = tokenizer if tokenizer is not None else tokenize
    return F.concat(F.lit(" "), F.array_join(tok(text), " "), F.lit(" "))


# Aho-Corasick routing bounds for decontaminate_by_ngrams: below MIN
# the compiled gram join beats the Python automaton walk (measured
# crossover ~tens of phrases, SCALE.md); above MAX the per-TASK trie
# cost dominates — every concurrent partition task builds its own
# automaton (measured: 20k 4-gram phrases ≈ 0.7 s build / ~300k
# states ≈ 100 MB; 100k ≈ 6.6 s / 1.5M states) and executor memory is
# the binding constraint at cluster scale. Beyond MAX, route back to
# the distributed gram join, which never materializes the phrase set
# in one process.
_AC_DECON_MIN_PHRASES = 32
_AC_DECON_MAX_PHRASES = 20_000
# auto routes to AC only where the gram path's cost MULTIPLIERS bite
# (single-length sets are flat in P on the gram join — measured):
# >= MIN_LENGTHS distinct short lengths (map-side explode emits one
# gram per token per length) or > MAX_OVERLONG overlong phrases (each
# adds a per-doc contains to the broadcast nested loop).
_AC_DECON_MIN_LENGTHS = 4
_AC_DECON_MAX_OVERLONG = 32


def _ac_decon_route(per_len: dict[int, int]) -> bool:
    """True iff ``method="auto"`` decontamination should take the
    Aho-Corasick route for an eval set with ``per_len`` = {phrase
    length in tokens: distinct phrases of that length}: the phrase
    count is inside [_AC_DECON_MIN_PHRASES, _AC_DECON_MAX_PHRASES]
    AND a gram-path cost multiplier bites (see the constants above).
    The one rule for the batch and streaming decontaminators."""
    from wimbd_spark.index import GRAM_JOIN_MAX_PHRASE_TOKENS as cap

    n = sum(per_len.values())
    n_short_lengths = sum(1 for L in per_len if L <= cap)
    n_over = sum(c for L, c in per_len.items() if L > cap)
    return _AC_DECON_MIN_PHRASES <= n <= _AC_DECON_MAX_PHRASES and (
        n_short_lengths >= _AC_DECON_MIN_LENGTHS
        or n_over > _AC_DECON_MAX_OVERLONG
    )


#: Expression-tree budget for the scan-predicate slop fallback: each
#: phrase becomes one windowed-subsequence predicate in a single
#: projection, so the count bounds codegen size, not data volume.
SCAN_SLOP_MAX_PHRASES = 512


def _slop_budget_split(
    lengths: list[int], slop: int, budget: int
) -> tuple[list[int], list[int]]:
    """(gram_lengths, scan_lengths): greedily keep the cheapest
    phrase lengths on the gram-explode plan while the summed
    per-position combination count C(L+slop-1, L-1) stays within
    ``budget``; the rest route to the scan-predicate fallback
    (_scan_slop_matches). Cheapest-first maximizes how much of the
    eval suite keeps the explode plan's constant-per-position cost;
    deterministic in (lengths, slop, budget)."""
    import math

    gram: list[int] = []
    scan: list[int] = []
    used = 0
    for L in sorted(
        set(lengths),
        key=lambda x: (math.comb(x + slop - 1, x - 1), x),
    ):
        c = math.comb(L + slop - 1, L - 1)
        if used + c <= budget:
            gram.append(L)
            used += c
        else:
            scan.append(L)
    return sorted(gram), sorted(scan)


def _scan_slop_matches(
    docs: DataFrame,
    phrases: list[str],
    text_col: str,
    tokenizer,
    slop: int,
) -> DataFrame:
    """(docs columns minus text ..., phrase): one row per (doc,
    matching phrase), matched by the SEARCH tier's windowed scan
    predicate (search._phrase_window_match — phrase tokens in order
    within a len+slop window, pure SQL aggregate, no UDF). The slop
    escape hatch (r12 VERDICT #5): phrase lengths whose combination
    count breaks the gram plan's map-side budget — where the explode
    multiplier IS the cost — fall back to scanning the corpus once
    with one predicate per routed phrase: cost corpus_tokens ×
    Σ(L+slop) per doc, independent of the combination count, and no
    explode. Existence semantics (one row per doc-phrase pair), the
    same convention the overlong-contains path already uses. The
    phrase list is driver-side by construction (SCAN_SLOP_MAX_PHRASES
    caps the expression tree)."""
    from wimbd_spark.functions.text import tokenize
    from wimbd_spark.search import _phrase_window_match

    tokf = tokenizer if tokenizer is not None else tokenize
    keep = [c for c in docs.columns if c != text_col]
    staged = docs.select(*keep, tokf(F.col(text_col)).alias("_sst"))
    matched = F.filter(
        F.array(
            *[
                F.struct(
                    F.lit(p).alias("phrase"),
                    _phrase_window_match(
                        F.col("_sst"), p, slop
                    ).alias("_m"),
                )
                for p in phrases
            ]
        ),
        lambda m: m["_m"],
    )
    return staged.select(
        *keep, F.explode(matched).alias("_hit")
    ).select(*keep, F.col("_hit")["phrase"].alias("phrase"))


def eval_gram_table(
    eval_df: DataFrame,
    phrase_col: str = "phrase",
    tokenizer=None,
) -> DataFrame:
    """Distinct (_L, _toks) token-grams of an eval-phrase set — the
    blocklist side of every token-phrase hit plan (_phrase_route +
    _gram_phrase_hits): decontaminate_by_ngrams builds it per call,
    the streaming contamination gate takes it materialized once per
    eval snapshot. NULL/blank phrases contribute nothing."""
    from wimbd_spark.functions.text import tokenize

    tok = tokenizer if tokenizer is not None else tokenize
    return (
        eval_df.select(F.col(phrase_col).alias("_p"))
        .filter(F.col("_p").isNotNull() & (F.trim(F.col("_p")) != ""))
        .select(tok(F.col("_p")).alias("_toks"))
        .filter(F.size("_toks") >= 1)
        .withColumn("_L", F.size("_toks"))
        .select("_L", "_toks")
        .distinct()
    )


def _phrase_route(
    evg: DataFrame, method: str, slop: int, tokenizer
) -> tuple[list[int], list[str] | None]:
    """Plan-time half of a token-phrase hit: validate ``method``, run
    the route's driver collects over the eval grams ``evg``
    (eval_gram_table) and return (sorted distinct phrase lengths, AC
    phrase list or None). The phrase list is set exactly when the hit
    plan is the Aho-Corasick pass; otherwise the lengths drive
    _gram_phrase_hits. Empty lengths = nothing to match — each caller
    keeps its own empty-set contract.

    Collects: ``"ac"`` = ONE bounded collect yields the budget check,
    the lengths and the patterns; ``"auto"`` = one per-length
    aggregate decides the route (_ac_decon_route) WITHOUT collecting
    phrases (the set may be gram-route huge), plus the phrase collect
    only when it picks AC; ``"gram"`` or an AC-ineligible call
    (slop>0 or a custom tokenizer) = one distinct-length collect."""
    if method not in ("auto", "ac", "gram"):
        raise ValueError(
            f"unknown method {method!r}: expected 'auto', 'ac' or "
            "'gram'"
        )
    ac_eligible = slop == 0 and tokenizer is None
    if method == "ac" and not ac_eligible:
        raise ValueError(
            "method='ac' needs slop=0 and the default tokenizer "
            "(the automaton matches on canonical whitespace "
            "tokenization)"
        )
    if method == "ac":
        rows = (
            evg.select("_toks").limit(_AC_DECON_MAX_PHRASES + 1).collect()
        )
        if len(rows) > _AC_DECON_MAX_PHRASES:
            raise ValueError(
                f"method='ac' got more than {_AC_DECON_MAX_PHRASES} "
                f"distinct phrases; the automaton budget is "
                f"[1, {_AC_DECON_MAX_PHRASES}] — use method='gram' "
                "beyond it (the gram join never materializes the "
                "phrase set in one process)"
            )
        return (
            sorted({len(r["_toks"]) for r in rows}),
            [" ".join(r["_toks"]) for r in rows],
        )
    if method == "auto" and ac_eligible:
        per_len = {
            r["_L"]: r["_n"]
            for r in evg.groupBy("_L")
            .agg(F.count(F.lit(1)).alias("_n"))
            .collect()
        }
        if not _ac_decon_route(per_len):
            return sorted(per_len), None
        return sorted(per_len), [
            " ".join(r["_toks"]) for r in evg.select("_toks").collect()
        ]
    return sorted(r["_L"] for r in evg.select("_L").distinct().collect()), None


def _gram_phrase_hits(
    docs: DataFrame,
    evg: DataFrame,
    lengths: list[int],
    text_col: str,
    tokenizer,
    slop: int,
    broadcast_eval: bool = True,
) -> DataFrame:
    """(docs columns minus text ..., phrase): the gram-route hit plan
    for the non-empty eval-gram ``lengths`` from _phrase_route.

    - Lengths up to GRAM_JOIN_MAX_PHRASE_TOKENS: map-side gram explode
      (_text_grams — no shuffle, no UDF) inner-joined on the distinct
      eval grams (broadcast unless ``broadcast_eval=False``) — one row
      per matching gram position; ``slop>0`` uses the anchored-
      subsequence keys and may emit several rows per window hit.
    - Longer phrases skip the explode (whose map-side output scales
      with max L × corpus tokens): token-aligned containment IS
      substring containment on space-normalized text
      (_normalized_tokens_text), one broadcast nested-loop predicate
      per (doc, overlong phrase) — one row per (doc, phrase).
    - The slop escape hatch (r12 VERDICT #5): with ``slop>0``, lengths
      whose windowed-subsequence enumeration breaks
      index.MAX_SLOP_COMBINATIONS (cheapest lengths keep the gram plan,
      _slop_budget_split), plus any overlong phrase (contains is
      contiguous-only), route through the search tier's windowed scan
      predicate (_scan_slop_matches) — one row per (doc, phrase). Only
      a routed-phrase COUNT above SCAN_SLOP_MAX_PHRASES (an
      expression-tree bound) raises.
    """
    from wimbd_spark.index import (
        GRAM_JOIN_MAX_PHRASE_TOKENS,
        MAX_SLOP_COMBINATIONS,
    )

    cap = GRAM_JOIN_MAX_PHRASE_TOKENS
    short_lengths = [L for L in lengths if L <= cap]
    scan_lengths: list[int] = []
    if slop:
        short_lengths, scan_lengths = _slop_budget_split(
            short_lengths, slop, MAX_SLOP_COMBINATIONS
        )
        scan_lengths = scan_lengths + [L for L in lengths if L > cap]
    parts = []
    if scan_lengths:
        sphr = [
            " ".join(r["_toks"])
            for r in evg.filter(F.col("_L").isin(scan_lengths))
            .select("_toks")
            .collect()
        ]
        if len(sphr) > SCAN_SLOP_MAX_PHRASES:
            raise ValueError(
                f"slop={slop} routes {len(sphr)} phrases (lengths "
                f"{scan_lengths}) to the scan predicate — over the "
                f"{SCAN_SLOP_MAX_PHRASES}-phrase expression budget; "
                "match via the indexed matcher "
                "(index.phrase_matches_batch) instead"
            )
        parts.append(
            _scan_slop_matches(docs, sphr, text_col, tokenizer, slop)
        )
    if short_lengths:
        evs = evg.filter(F.col("_L") <= cap)
        if broadcast_eval:
            evs = F.broadcast(evs)
        parts.append(
            _text_grams(docs, short_lengths, text_col, tokenizer, slop=slop)
            .join(evs, ["_L", "_toks"], "inner")
            .withColumn("phrase", F.array_join(F.col("_toks"), " "))
            .drop("_L", "_toks")
        )
    if lengths[-1] > cap and not slop:
        # the padded pattern is built once per phrase on the eval side,
        # not once per (doc, phrase) pair inside the nested loop
        evl = evg.filter(F.col("_L") > cap).select(
            F.array_join(F.col("_toks"), " ").alias("phrase")
        ).withColumn("_np", F.concat(F.lit(" "), "phrase", F.lit(" ")))
        keep = [c for c in docs.columns if c != text_col]
        norm = docs.select(
            *keep,
            _normalized_tokens_text(F.col(text_col), tokenizer).alias(
                "_nt"
            ),
        )
        parts.append(
            norm.join(
                F.broadcast(evl),
                on=F.col("_nt").contains(F.col("_np")),
                how="inner",
            ).drop("_nt", "_np")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def decontaminate_by_ngrams(
    train: DataFrame,
    eval_df: DataFrame,
    phrase_col: str = "phrase",
    text_col: str = "text",
    id_col: str = "doc_id",
    mode: str = "drop",
    flag_col: str = "contaminated",
    tokenizer=None,
    broadcast_eval: bool = True,
    slop: int = 0,
    method: str = "auto",
) -> DataFrame:
    """Remove (``mode='drop'``) or flag (``mode='flag'``) every train
    doc whose token stream CONTAINS any eval phrase (token-aligned;
    ``slop>0`` widens containment to in-order-within-a-window of
    L+slop tokens via the anchored-subsequence gram keys, r8) —
    n-gram decontamination, the drop-side twin of the
    contamination sweep. The reference's decontaminate removes exact
    text-hash matches (decontaminate.py:10-22) and its contamination
    report counts per-phrase ES hits (corpus_contamination.py:28-58);
    this operator closes the loop: the docs the sweep would count are
    the docs this removes.

    Planning is shared with streaming_contamination_hits:
    _phrase_route validates ``method`` and picks the route,
    _gram_phrase_hits builds the gram-route hit plan (short-gram
    join, overlong ``contains``, slop scan hatch — see there).
    ``method``: ``"gram"`` = the gram hit plan; ``"ac"`` = one
    Aho-Corasick pass
    (operators.multipattern.matching_doc_ids_ac — per-doc cost
    independent of the phrase count AND the length mix, phrases
    collected to the driver and compiled into a per-task automaton;
    slop=0 and the default tokenizer only, raises otherwise);
    ``"auto"`` (default) routes to the automaton exactly where the
    gram path's cost multipliers bite — the map-side explode emits one
    gram per (token, DISTINCT PHRASE LENGTH) and each overlong phrase
    (> GRAM_JOIN_MAX_PHRASE_TOKENS) adds a per-doc `contains` to a
    broadcast nested loop, so a single-length set is flat in the
    phrase count and stays on grams (measured sf0.1, P=12.5k single
    length: gram 1.35 s ≈ AC 1.2 s), while ≥ _AC_DECON_MIN_LENGTHS
    distinct short lengths or > _AC_DECON_MAX_OVERLONG overlong
    phrases route to AC (measured sf0.1, P=10k over 8 lengths: gram
    3.1–3.7 s vs AC 1.0–2.4 s). Both paths are row-identical
    (parity-pinned); auto additionally requires
    [_AC_DECON_MIN_PHRASES, _AC_DECON_MAX_PHRASES] distinct phrases
    (below, automaton build cost isn't worth it; above, the per-task
    trie memory is).

    100 TB plan shape: eval phrases → distinct (L, token-array) grams
    (broadcast by default — eval sets are small; pass
    ``broadcast_eval=False`` for corpus-scale phrase sets and AQE
    sizes the join); train docs → map-side gram explode carrying ONLY
    ``id_col`` (one pass, no shuffle of full rows); join + distinct
    gives contaminated ids; one id-probe anti/left join restores full
    rows. The train side is scanned twice but never shuffled at full
    width; the gram explode is the same cost class as an n-gram count.
    Phrases longer than GRAM_JOIN_MAX_PHRASE_TOKENS match via
    normalized-text `contains`, and ``slop>0`` lengths past
    index.MAX_SLOP_COMBINATIONS via the windowed scan predicate, so
    any phrase length and slop plans without raising (only a
    scan-routed phrase COUNT above SCAN_SLOP_MAX_PHRASES does).
    """
    if mode not in ("drop", "flag"):
        raise ValueError(f"mode must be 'drop' or 'flag', got {mode!r}")
    evg = eval_gram_table(eval_df, phrase_col, tokenizer)
    lengths, ac_phrases = _phrase_route(evg, method, slop, tokenizer)
    if not lengths:
        # nothing to match (empty/blank eval set)
        if mode == "drop":
            return train
        return train.withColumn(flag_col, F.lit(False))
    docs = train.select(id_col, text_col)
    if ac_phrases is not None:
        from wimbd_spark.operators.multipattern import matching_doc_ids_ac

        hits = matching_doc_ids_ac(
            docs, ac_phrases, id_col=id_col, text_col=text_col
        )
    else:
        hits = _gram_phrase_hits(
            docs, evg, lengths, text_col, tokenizer, slop, broadcast_eval
        ).select(id_col)
    # distinct: with duplicate ids in train, a bare left join in flag
    # mode would fan out rows (and break the row-identical parity
    # between the AC and gram routes, r11 ADVICE)
    hits = hits.distinct()
    if mode == "drop":
        return train.join(hits, id_col, "left_anti")
    return (
        train.join(
            hits.withColumn("_hit", F.lit(True)), id_col, "left"
        )
        .withColumn(flag_col, F.coalesce(F.col("_hit"), F.lit(False)))
        .drop("_hit")
    )


def contamination_report(
    eval_df: DataFrame,
    phrase_col: str,
    corpus: DataFrame | None = None,
    index: DataFrame | None = None,
    slop: int = 0,
    text_col: str = "text",
    analyzer=None,
    tokenizer=None,
    prefilter: bool | None = None,
    token_aligned: bool = False,
) -> DataFrame:
    """ONE contamination entry point → (contaminated, total, rate).

    Routes by available inputs, mirroring how contamination_rate
    already cost-models direct vs prefilter internally:

    - ``index`` given, default analyzer → the distributed gram
      semi-join (contamination_rate_indexed fast path — eval set stays
      a DataFrame, corpus never scanned; slop>0 included via
      windowed-subsequence gram keys).
    - ``index`` given, driver-side ``analyzer`` (or a slop × length
      combination past index.MAX_SLOP_COMBINATIONS) → the batched
      slot-join fallback inside contamination_rate_indexed
      (phrase_matches_batch; collects the phrase list — interactive
      batches only).
    - no index, ``token_aligned=True`` → index-free token-aligned
      scan (contamination_rate_ngrams — same answers as the indexed
      path, corpus gram-exploded instead of postings-reconstructed;
      slop>0 included since r8 via the same anchored-subsequence
      enumeration, map-side over the token arrays).
    - no index, default → substring scan over ``corpus``
      (contamination_rate; its own cost model picks broadcast
      nested-loop vs the rare-anchor prefilter, steered by
      ``prefilter``). slop has no substring meaning — rejected on
      that path rather than silently ignored.

    Parity: the reference's single contamination workflow
    (wimbd/es/corpus_contamination.py:28-58) always runs against ES;
    this engine adds the index-free routes for corpora that were
    never indexed.
    """
    if index is not None:
        return contamination_rate_indexed(
            index,
            eval_df,
            phrase_col,
            slop=slop,
            analyzer=analyzer,
            tokenizer=tokenizer,
        )
    if corpus is None:
        raise ValueError("contamination_report needs corpus= or index=")
    if token_aligned:
        return contamination_rate_ngrams(
            eval_df, corpus, phrase_col, text_col=text_col,
            tokenizer=tokenizer, slop=slop,
        )
    if slop:
        raise ValueError(
            "slop (token-window matching) has no substring-scan "
            "meaning — pass token_aligned=True for the index-free "
            "windowed scan, or an index= for the postings sweep"
        )
    return contamination_rate(
        eval_df, corpus, phrase_col, text_col=text_col, prefilter=prefilter
    )


def contamination_rate_ngrams(
    eval_df: DataFrame,
    corpus: DataFrame,
    phrase_col: str,
    text_col: str = "text",
    tokenizer=None,
    slop: int = 0,
) -> DataFrame:
    """TOKEN-ALIGNED contamination WITHOUT an index: fraction of
    distinct eval phrases whose token sequence appears in ≥1 corpus
    doc (contiguously when ``slop=0``; in order within a window of
    L+slop tokens when ``slop>0``) → (contaminated, total, rate).
    Same semantics as contamination_rate_indexed at every slop (they
    agree row-for-row); use this when no posting index exists. The
    substring-semantics cousin is contamination_rate.

    Plan: eval phrases stay a DataFrame; corpus docs gram-explode
    map-side for the eval set's distinct lengths (_text_grams — the
    slop>0 form enumerates the anchored subsequence combos, budgeted
    by index.MAX_SLOP_COMBINATIONS) into a distinct (L, gram) table,
    one left join + ONE aggregation yields both counts. Phrases longer
    than GRAM_JOIN_MAX_PHRASE_TOKENS match via normalized-text
    `contains` (token-aligned containment == substring containment on
    space-normalized text) — contiguous-only, so overlong + slop>0 is
    rejected (route that shape through the indexed sweep). Fully
    distributed at any phrase length, no driver collect beyond the
    distinct-length set.
    """
    from wimbd_spark.functions.text import tokenize
    from wimbd_spark.index import (
        GRAM_JOIN_MAX_PHRASE_TOKENS,
        MAX_SLOP_COMBINATIONS,
        slop_combination_count,
    )

    spark = eval_df.sparkSession
    tok = tokenizer if tokenizer is not None else tokenize
    evp = (
        eval_df.select(F.col(phrase_col).alias("_p"))
        .filter(F.col("_p").isNotNull() & (F.trim(F.col("_p")) != ""))
        .distinct()
        .withColumn("_toks", tok(F.col("_p")))
        .withColumn("_L", F.size("_toks"))
    )
    lengths = sorted(
        r["_L"]
        for r in evp.filter(F.col("_L") >= 1)
        .select("_L")
        .distinct()
        .collect()
    )
    cap = GRAM_JOIN_MAX_PHRASE_TOKENS
    short_lengths = [L for L in lengths if L <= cap]
    if slop and short_lengths and (
        slop_combination_count(short_lengths, slop)
        > MAX_SLOP_COMBINATIONS
    ):
        raise ValueError(
            f"slop={slop} over phrase lengths {short_lengths} exceeds "
            f"the {MAX_SLOP_COMBINATIONS}-combination map-side budget; "
            "this shape belongs on the indexed sweep "
            "(contamination_rate_indexed routes it through the "
            "bounded slot-join batch)"
        )
    if slop and lengths and lengths[-1] > cap:
        raise ValueError(
            f"phrases longer than {cap} tokens match via normalized-"
            "text contains, which is contiguous-only — incompatible "
            "with slop>0; use contamination_rate_indexed for "
            "overlong windowed phrases"
        )
    if short_lengths:
        cg = (
            _text_grams(
                corpus.select(text_col),
                short_lengths,
                text_col,
                tokenizer,
                slop=slop,
            )
            .select("_L", "_toks")
            .distinct()
        )
        row = (
            evp.join(
                cg.withColumn("_hit", F.lit(1)), ["_L", "_toks"], "left"
            )
            .agg(
                F.count("_hit").alias("_c"), F.count(F.lit(1)).alias("_t")
            )
            .collect()[0]
        )
        n_hit, n_tot = row["_c"], row["_t"]
    else:
        n_hit, n_tot = 0, evp.count()
    if lengths and lengths[-1] > cap:
        evl = evp.filter(F.col("_L") > cap).select(
            "_p",
            F.concat(
                F.lit(" "), F.array_join(F.col("_toks"), " "), F.lit(" ")
            ).alias("_np"),
        )
        norm = corpus.select(
            _normalized_tokens_text(F.col(text_col), tokenizer).alias(
                "_nt"
            )
        )
        n_hit += (
            norm.join(
                F.broadcast(evl),
                on=F.col("_nt").contains(F.col("_np")),
                how="inner",
            )
            .select("_p")  # count distinct phrase STRINGS, like the
            .distinct()    # short path and the indexed twin
            .count()
        )
    return _rate_row(spark, n_hit, n_tot)


#: Overlong phrases (> GRAM_JOIN_MAX_PHRASE_TOKENS tokens) fall back
#: to the slot-join path, which needs the phrase strings driver-side;
#: this bounds that collect. Realistic n-gram eval sets have none.
MAX_OVERLONG_PHRASES = 10_000


def _overlong_phrase_hits(index, evp, cap: int, slop: int = 0) -> int:
    """Distinct overlong eval phrases matching ≥1 doc, via the
    slot-join path — the right plan for long phrases (cost
    L × postings(query tokens), where gram reconstruction would pay
    L × corpus tokens). Bounded driver collect: a sweep whose phrases
    are mostly document-length is not an n-gram sweep — chunk it
    through phrase_matches_batch directly."""
    longs = evp.filter(F.col("_L") > cap).select("_p")
    long_list = [
        r[0] for r in longs.limit(MAX_OVERLONG_PHRASES + 1).collect()
    ]
    if not long_list:
        return 0
    if len(long_list) > MAX_OVERLONG_PHRASES:
        raise ValueError(
            f"more than {MAX_OVERLONG_PHRASES:,} eval phrases exceed "
            f"{cap} tokens; the slot-join fallback collects them "
            "driver-side — chunk the overlong subset through "
            "phrase_matches_batch, or shorten the phrases"
        )
    from wimbd_spark.index import phrase_matches_batch

    m = phrase_matches_batch(
        index, sorted(long_list), slop, None, fanout_budget=None
    )
    return m.select("pid").distinct().count()


def contamination_rate_indexed(
    index: DataFrame,
    eval_df: DataFrame,
    phrase_col: str,
    slop: int = 0,
    analyzer=None,
    tokenizer=None,
    lengths: list[int] | None = None,
) -> DataFrame:
    """Token-aligned contamination from the POSTING INDEX: fraction of
    distinct eval phrases matching ≥1 corpus doc → single row
    (contaminated, total, rate).

    This is the reference's actual contamination semantics — ES
    match_phrase counts per eval row (wimbd/es/corpus_contamination.py:
    28-58, batched 500/msearch via es/__init__.py:269-345; slop
    windows: es/__init__.py:120-153) — with the eval set kept as a
    DATAFRAME end-to-end. A phrase matches a document iff its token
    sequence appears in order within a window of L+slop tokens —
    membership of the phrase key in the document's slop-gram key set
    (contiguous L-grams when slop=0) — so the sweep compiles to the
    distributed plan

        distinct eval phrases ⟕semi distinct corpus (slop-)gram keys

    with corpus gram keys reconstructed from the postings pruned to
    the eval vocabulary (index.corpus_grams_from_postings) — the
    corpus is never scanned, no phrase list is collected to the
    driver, and no postings×slot fan-out occurs. Plan size is constant
    in phrase count; the only driver-collected state is the set of
    distinct phrase LENGTHS (a handful of ints). Counts (`total`,
    hits) come from distributed aggregations, like the scan twin.
    slop>0 multiplies the map-side reconstruction by the
    C(L+slop−1, L−1) per-position combination count — bounded by
    index.MAX_SLOP_COMBINATIONS, past which the sweep falls back to
    the collected slot-join batch below.

    ``tokenizer`` (Column → array<string>) must mirror the tokenizer
    the index was built with (defaults pair). A driver-side
    ``analyzer`` with no Column equivalent falls back to the batched
    slot-join path (index.phrase_matches_batch), which collects the
    phrase list — interactive-batch territory, not eval-scale.

    ``lengths``: the COMPLETE set of distinct token lengths of the
    eval phrases, when the caller knows it (an n-gram eval set has
    exactly one). Skips the lengths-probe job — otherwise a full
    pass over the eval pipeline runs just to learn which L-gram
    reconstructions to build (measured ~1-1.5 s per sweep, r15).
    The completeness claim is VERIFIED in-flow (no extra job): a
    phrase of an undeclared length fails the sweep loudly instead of
    silently dropping from matching (index.assert_declared_lengths).

    The substring-semantics scan twin is `contamination_rate` (use it
    when no index exists or substring matching is wanted).
    """
    from wimbd_spark.functions.text import tokenize
    from wimbd_spark.index import (
        MAX_SLOP_COMBINATIONS,
        slop_combination_count,
    )

    spark = eval_df.sparkSession
    _base = eval_df.select(F.col(phrase_col).alias("_p")).filter(
        F.col("_p").isNotNull() & (F.trim(F.col("_p")) != "")
    )
    phrases = _base.distinct()
    if analyzer is None:
        from wimbd_spark.index import (
            GRAM_JOIN_MAX_PHRASE_TOKENS,
            corpus_grams_from_postings,
        )

        tok = tokenizer if tokenizer is not None else tokenize
        # The distinct tokenized phrase table is referenced by THREE
        # plan subtrees (the hit join, the match-keys prune, the
        # vocabulary prune) whose differing column pruning defeats
        # exchange reuse — without a persist the eval pipeline (scan +
        # explode + distinct) executes once per subtree (r15). One
        # bounded persist (distinct phrases only) collapses them; it
        # is released before returning (the rate row is collected
        # eagerly below).
        from pyspark import StorageLevel

        evp = (
            phrases.withColumn("_toks", tok(F.col("_p")))
            .withColumn("_L", F.size("_toks"))
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        if lengths is not None:
            all_lengths = sorted(L for L in set(lengths) if L >= 1)
            # loud-failure contract — see index.assert_declared_lengths
            from wimbd_spark.index import assert_declared_lengths

            evp_checked = assert_declared_lengths(evp, all_lengths)
        else:
            all_lengths = sorted(
                r["_L"]
                for r in evp.filter(F.col("_L") >= 1)
                .select("_L")
                .distinct()
                .collect()
            )
            evp_checked = evp
        cap = GRAM_JOIN_MAX_PHRASE_TOKENS
        lengths = [L for L in all_lengths if L <= cap]
        if slop and lengths and (
            slop_combination_count(lengths, slop) > MAX_SLOP_COMBINATIONS
        ):
            # long-phrase × large-slop sweeps would pay a combinatorial
            # map-side multiplier; cap=0 routes EVERY phrase through
            # the bounded slot-join batch below (collected, the
            # msearch-client shape — the honest plan for this shape,
            # its cost doesn't grow with slop)
            cap = 0
            lengths = []
        try:
            if not lengths:
                n_hit, n_tot = 0, evp_checked.count()
            else:
                evs = evp_checked.filter(F.col("_L") <= cap)
                # vocabulary prune from the CACHED in-cap phrase
                # table: tokens of matching grams ⊆ tokens of in-cap
                # phrases, so the prune stays correct, and reading
                # _toks from the persisted evp costs no extra
                # tokenize/scan (overlong-phrase tokens are not
                # needed — their matching runs on the slot-join
                # fallback below)
                vocab = evs.select(
                    F.explode(F.col("_toks")).alias("token")
                )
                cg = corpus_grams_from_postings(
                    index, lengths, vocab=vocab, slop=slop,
                    match_keys=evs,
                )
                # cg is distinct on the gram key → left join is 1:≤1,
                # so ONE aggregation job yields both counts; overlong
                # phrases stay in the total (no cg row of their
                # length can match)
                row = (
                    evp_checked.join(
                        cg.withColumn("_hit", F.lit(1)),
                        ["_L", "_toks"],
                        "left",
                    )
                    .agg(
                        F.count("_hit").alias("_c"),
                        F.count(F.lit(1)).alias("_t"),
                    )
                    .collect()[0]
                )
                n_hit, n_tot = row["_c"], row["_t"]
            if all_lengths and all_lengths[-1] > cap:
                if tokenizer is not None:
                    raise ValueError(
                        f"phrases longer than {cap} tokens fall back "
                        "to the slot-join path, which tokenizes "
                        "driver-side with the DEFAULT analyzer — "
                        "incompatible with a custom tokenizer=; chunk "
                        "long phrases through phrase_matches_batch "
                        "with a matching analyzer instead"
                    )
                n_hit += _overlong_phrase_hits(
                    index, evp_checked, cap, slop
                )
        finally:
            evp.unpersist()
        return _rate_row(spark, n_hit, n_tot)
    # custom analyzer: the batched slot-join fallback. The phrase list
    # is collected (the reference's msearch client shape); acceptable
    # for interactive batches, not for eval-scale sweeps.
    phrase_list = sorted(r[0] for r in phrases.collect())
    n_tot = len(phrase_list)
    if not n_tot:
        return _rate_row(spark, 0, 0)
    from wimbd_spark.index import phrase_matches_batch

    m = phrase_matches_batch(index, phrase_list, slop, analyzer)
    n_hit = m.select("pid").distinct().count()
    return _rate_row(spark, n_hit, n_tot)
