"""Top-k / bottom-k / unique n-gram operators.

Parity targets (file:line relative to /root/reference):
- topk   src/cmd/topk.rs:106-343  (counting-Bloom approx top-k)
- botk   src/cmd/botk.rs:103-359  (two-pass inverse-count bottom-k)
- unique src/cmd/unique.rs:65-161 (Bloom nonzero-cell distinct count)

Spark-first design: the reference's sketches exist only to bound a
single machine's memory. A distributed hash aggregation with partial
(map-side) combine + shuffle + TakeOrderedAndProject computes the EXACT
answer with bounded memory per task and no custom code, at any scale:

    explode(ngrams) → groupBy(ngram).count() → orderBy().limit(k)

`orderBy(...).limit(k)` compiles to TakeOrderedAndProject — each task
keeps a k-row heap and the driver merges heaps, which is exactly the
reference's per-worker top-k + channel merge (src/cmd/topk.rs:244-287),
minus the approximation error. An approximate path (count-min /
HLL-style) is still exposed for memory-constrained interactive use.

Tie-break: (count, ngram) so results are deterministic — the reference
leaves ties in hash order.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from wimbd_spark.functions.text import ngram_strings, tokenize


def ngram_counts(
    df: DataFrame,
    n: int,
    text_col: str = "text",
    tokens: Column | None = None,
    threshold: int | None = None,
) -> DataFrame:
    """Exact n-gram frequency table: (ngram string, count).

    ``threshold`` reproduces the reference's `--threshold` prefilter
    (src/cmd/topk.rs:226-235) as a HAVING — an optimization, not a
    correctness requirement here.
    """
    toks = tokens if tokens is not None else tokenize(F.col(text_col))
    out = (
        df.select(F.explode(ngram_strings(toks, n)).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("count"))
    )
    if threshold is not None:
        out = out.filter(F.col("count") >= threshold)
    return out


def _ranked(counts: DataFrame, k: int, ascending: bool) -> DataFrame:
    order = [
        F.col("count").asc() if ascending else F.col("count").desc(),
        F.col("ngram").asc(),
    ]
    # orderBy+limit => TakeOrderedAndProject (bounded driver memory, k<=10k
    # per the reference's production runs, runs/run_analysis.sh:15-23).
    top = counts.orderBy(*order).limit(k)
    return top.withColumn(
        "rank", F.row_number().over(Window.orderBy(*order))
    )


def topk_ngrams(
    df: DataFrame,
    n: int,
    k: int,
    text_col: str = "text",
    threshold: int | None = None,
) -> DataFrame:
    """Top-k most frequent n-grams → (ngram, count, rank).

    Exact where the reference (src/cmd/topk.rs) is approximate
    ("count ≤ true count"); SURVEY.md §7.4(3) makes the oracle, not the
    reference binary, the correctness target.
    """
    return _ranked(ngram_counts(df, n, text_col, threshold=threshold), k, False)


def botk_ngrams(df: DataFrame, n: int, k: int, text_col: str = "text") -> DataFrame:
    """Bottom-k least frequent n-grams → (ngram, count, rank).

    The reference needs two passes with inverted u32 counters
    (src/cmd/botk.rs:169-302) purely as a memory trick; a distributed
    exact agg + ascending TakeOrdered replaces both passes.
    """
    return _ranked(ngram_counts(df, n, text_col), k, True)


def unique_ngrams(
    df: DataFrame,
    n: int,
    text_col: str = "text",
    approx: bool = False,
    rsd: float = 0.05,
) -> DataFrame:
    """Distinct n-gram count → single row (unique_count).

    approx=True uses HyperLogLog++ (`approx_count_distinct`) — the
    honest version of the reference's Bloom nonzero-cell estimate
    (src/cmd/unique.rs:65-161); default is exact.
    """
    toks = tokenize(F.col(text_col))
    exploded = df.select(F.explode(ngram_strings(toks, n)).alias("ngram"))
    agg = (
        F.approx_count_distinct("ngram", rsd) if approx else F.countDistinct("ngram")
    )
    return exploded.agg(agg.alias("unique_count"))


def ngram_count_spectrum(
    df: DataFrame, n: int, text_col: str = "text"
) -> DataFrame:
    """Frequency-of-frequencies ("count spectrum"): for each
    occurrence count c, how many DISTINCT n-grams occur exactly c
    times → (occurrences, n_ngrams), the classic corpus-statistics
    view (Good-Turing's N_c table; the shape behind every Zipf plot).
    The reference's summary analyses report totals and top-k heads
    (src/cmd/stats.rs, topk.rs); the spectrum is the whole
    distribution in one bounded table.

    100 TB plan: the gram-count aggregation is the SAME single shuffle
    every topk/botk query pays; the second groupBy runs over the
    count column of that table and its output is at most
    max-count rows (real corpora: a few thousand — Zipf tails make
    counts sparse), with map-side partial aggregation on both stages.
    """
    return (
        ngram_counts(df, n, text_col)
        .groupBy(F.col("count").alias("occurrences"))
        .agg(F.count(F.lit(1)).alias("n_ngrams"))
    )


def top_pmi_bigrams(
    df: DataFrame,
    k: int = 20,
    min_count: int = 5,
    text_col: str = "text",
    rank_by: str = "pmi",
) -> DataFrame:
    """Top-k bigram collocations by pointwise mutual information →
    (w1, w2, pair_count, pmi, npmi, rank). PMI = ln(p(w1 w2)/
    (p(w1)p(w2))) with p() over the corpus bigram/unigram totals
    (Church & Hanks 1990) — "which word pairs co-occur far more than
    chance", the collocation analysis a corpus-exploration toolkit
    pairs with top-k n-grams. ``min_count`` drops rare pairs (PMI's
    classic low-frequency instability); NPMI = pmi / -ln(p(w1 w2))
    (Bouma 2009) additionally normalizes toward [-1, 1], correcting
    raw PMI's over-weighting of rare pairs — ``rank_by="npmi"``
    orders by it (a pair seen exactly once with singleton words maxes
    raw PMI but not NPMI). The -1 floor is universal; the +1 ceiling
    assumes one probability space, and this function keeps the pmi
    column's convention (unigram p over tokens, pair p over bigram
    slots), under which very frequent pairs can exceed it slightly.

    Determinism: pmi/npmi are each rounded once to 6 dp from the raw
    ratio (the engine's decimal convention) and the rank is computed
    ON the rounded value; ties break (score desc, w1, w2).

    100 TB plan: one bigram agg + one unigram agg (the two standard
    gram shuffles); unigram counts join the bigram table keyed on the
    gram words — two shuffled equi-joins on word keys (no broadcast
    assumption: the unigram table is corpus-vocabulary-sized); totals
    are one-row broadcasts; final selection is TakeOrderedAndProject.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    if rank_by not in ("pmi", "npmi"):
        raise ValueError(
            f"rank_by must be 'pmi' or 'npmi', got {rank_by!r}"
        )
    from wimbd_spark import route
    from wimbd_spark.session import scoped_persist

    toks = tokenize(F.col(text_col))
    uni = (
        df.select(F.explode(toks).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wc"))
    )
    bi_all = ngram_counts(df, 2, text_col)
    # Persisted past route's pmi_persist gate; else each of the count
    # tables' five consumers re-runs the corpus scan (SCALE.md).
    if route.choose(df.sparkSession, "pmi_persist", df) == "large":
        uni = scoped_persist(uni)
        bi_all = scoped_persist(bi_all)
    bi = bi_all.filter(F.col("count") >= F.lit(min_count))
    n_uni = F.broadcast(uni.agg(F.sum("wc").alias("_tu")))
    n_bi = F.broadcast(bi_all.agg(F.sum("count").alias("_tb")))
    parts = F.split(F.col("ngram"), " ", 2)
    pairs = bi.select(
        parts.getItem(0).alias("w1"),
        parts.getItem(1).alias("w2"),
        F.col("count").alias("pair_count"),
    )
    w1c = uni.select(F.col("w").alias("w1"), F.col("wc").alias("c1"))
    w2c = uni.select(F.col("w").alias("w2"), F.col("wc").alias("c2"))
    scored = (
        pairs.join(w1c, "w1")
        .join(w2c, "w2")
        .crossJoin(n_uni)
        .crossJoin(n_bi)
        .select(
            "w1",
            "w2",
            "pair_count",
            F.log(
                (F.col("pair_count").cast("double") / F.col("_tb"))
                / (
                    (F.col("c1").cast("double") / F.col("_tu"))
                    * (F.col("c2").cast("double") / F.col("_tu"))
                )
            ).alias("_raw_pmi"),
            (-F.log(
                F.col("pair_count").cast("double") / F.col("_tb")
            )).alias("_h"),
        )
        .select(
            "w1",
            "w2",
            "pair_count",
            F.round(F.col("_raw_pmi"), 6).alias("pmi"),
            F.when(
                F.col("_h") > 0,
                F.round(F.col("_raw_pmi") / F.col("_h"), 6),
            ).alias("npmi"),
        )
    )
    order = [
        F.col(rank_by).desc(),
        F.col("w1").asc(),
        F.col("w2").asc(),
    ]
    top = scored.orderBy(*order).limit(k)
    return top.withColumn(
        "rank", F.row_number().over(Window.orderBy(*order))
    )


def topk_ngrams_by(
    df: DataFrame,
    n: int,
    k: int,
    by: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-group top-k n-grams → (by, ngram, count, rank) — "what does
    each subset talk about", the per-corpus view of `wimbd topk` (the
    reference runs its CLI once per dataset and diffs by hand;
    SURVEY §2.3's key-count family keyed on (group, gram) gives every
    subset's head in ONE job). Ties (count desc, ngram asc).

    100 TB plan: one (group, gram)-keyed aggregation (map-side partial
    combine) — the same shuffle class as global topk with a wider key —
    then a rank window PARTITIONED BY group whose input was pre-pruned
    map-side: a per-partition mapInPandas keeps only each partition's
    per-group top-k rows before the window shuffle (the heavy-hitters
    pre-prune pattern, similarity._quota_preprune class), so the
    window reads ≤ partitions × groups × k rows, never the gram table.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    counts = (
        df.select(
            F.col(by),
            F.explode(ngram_strings(tokenize(F.col(text_col)), n)).alias(
                "ngram"
            ),
        )
        .groupBy(by, "ngram")
        .agg(F.count(F.lit(1)).alias("count"))
    )

    def preprune(batches):
        import pandas as pd

        best = None
        for pdf in batches:
            cur = pd.concat([best, pdf]) if best is not None else pdf
            cur = cur.sort_values(
                ["count", "ngram"],
                ascending=[False, True],
                kind="mergesort",
            )
            best = cur.groupby(by, sort=False).head(k)
        if best is not None and len(best):
            yield best

    pruned = counts.mapInPandas(preprune, counts.schema)
    w = Window.partitionBy(by).orderBy(
        F.col("count").desc(), F.col("ngram").asc()
    )
    return (
        pruned.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def zipf_fit(
    df: DataFrame,
    n: int = 1,
    top: int = 200,
    text_col: str = "text",
) -> DataFrame:
    """Zipf power-law fit over the n-gram frequency head → one row
    (slope, intercept, n_points): OLS of ln(count) on ln(rank) for the
    ``top`` most frequent n-grams (ties rank (count desc, ngram) so
    the fit is deterministic). A natural-language corpus sits near
    slope ≈ −1 (Zipf 1949); strong deviations flag synthetic, heavily
    boilerplated, or truncated-vocabulary data — the one-number
    summary next to the full `ngram_count_spectrum` table.

    Plan: the standard gram aggregation + TakeOrderedAndProject(top),
    then regr_slope/intercept over ≤ top rows (bounded, one partition
    is fine). Values rounded once to 6 dp (the decimal convention).
    """
    if top < 2:
        raise ValueError("top must be >= 2")
    order = [F.col("count").desc(), F.col("ngram").asc()]
    head = ngram_counts(df, n, text_col).orderBy(*order).limit(top)
    ranked = head.withColumn(
        "rank", F.row_number().over(Window.orderBy(*order))
    )
    x = F.log(F.col("rank").cast("double"))
    y = F.log(F.col("count").cast("double"))
    return (
        ranked.select(y.alias("__y"), x.alias("__x"))
        .agg(
            F.round(F.expr("regr_slope(__y, __x)"), 6).alias("slope"),
            F.round(
                F.expr("regr_intercept(__y, __x)"), 6
            ).alias("intercept"),
            F.count(F.lit(1)).cast("long").alias("n_points"),
        )
    )
