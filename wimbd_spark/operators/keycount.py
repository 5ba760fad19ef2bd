"""The key-count analysis family.

Parity: the whole wimbd/*/map_count.py + reduce_count.py substrate —
every analysis is `project a key per document → count per key`
(e.g. wimbd/url_counts/reduce_count.py:8-15). The GNU-parallel mapper
fan-out + single-reducer pipe becomes map tasks + shuffle to parallel
reducers; partial aggregation is automatic.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType
from pyspark.sql.window import Window

from wimbd_spark.session import local_frame


def key_count(
    df: DataFrame,
    key: Column | str,
    key_name: str = "key",
    explode: bool = False,
) -> DataFrame:
    """Universal key-count: (key, count) sorted by count desc, key asc.

    ``explode=True`` for array-valued keys (e.g. tokens per doc —
    wimbd/url_per_tok_counts/map_count.py:18-22).
    """
    k = F.col(key) if isinstance(key, str) else key
    if explode:
        k = F.explode(k)
    return (
        df.select(k.alias(key_name))
        .filter(F.col(key_name).isNotNull())
        .groupBy(key_name)
        .agg(F.count(F.lit(1)).alias("count"))
        .orderBy(F.col("count").desc(), F.col(key_name).asc())
    )


def sample_by_hash(
    df: DataFrame,
    key: Column | str,
    fraction: float,
    denom: int = 1_000_000,
) -> DataFrame:
    """Deterministic Bernoulli-style sample: keep rows where
    hash32(key) mod denom < fraction·denom.

    The reference samples with `random() < fraction`
    (wimbd/random_sample/map_count.py:10-14); a hash-gate gives the
    same marginal rate but is reproducible across runs, engines, and
    retries — the property a 100 TB pipeline actually needs (and what
    makes the DuckDB oracle able to agree exactly). For true
    randomness use df.sample(fraction, seed).
    """
    from wimbd_spark.functions.text import hash32

    k = F.col(key) if isinstance(key, str) else key
    # round, not floor: int() floors float error downward (0.29 * 1e6
    # == 289999.99999..., flooring to 289999 — a rate undershoot an
    # exact-threshold oracle would flag)
    return df.filter(hash32(k) % denom < round(fraction * denom))


def mixture_sample(
    df: DataFrame,
    weights: dict[str, float],
    key: Column | str = "doc_id",
    group_col: str = "source",
    denom: int = 1_000_000,
    keep_unlisted: bool = False,
) -> DataFrame:
    """Source-mixture sampling (beyond-reference training-data op):
    per-group sampling rates in one pass, deterministic.

    ``weights[src] = w`` keeps/w-samples group ``src``:
    - w < 1: down-sample — keep rows where hash32(key) mod denom <
      w·denom (same gate as sample_by_hash, exact-oracle-able);
    - w ≥ 1: up-sample (epoch weighting) — emit ⌊w⌋ copies of every
      row plus one more for rows passing the fractional gate; copies
      carry ``mix_epoch`` (0-based) so downstream shuffling can
      interleave them.
    Groups absent from ``weights`` are dropped unless
    ``keep_unlisted`` (then kept at weight 1).

    Scale shape: pure per-row projection + explode — no shuffle, no
    driver state; the mixture is reproducible across runs, engines,
    partitionings, and retries (hash gates, not RNG). This is the
    standard "mix web/code/books at 60/30/10, repeat books 2.5×"
    pretraining step.
    """
    from wimbd_spark.functions.text import hash32

    if not weights:
        raise ValueError("weights must be non-empty")
    if any(w < 0 for w in weights.values()):
        raise ValueError("weights must be non-negative")
    k = F.col(key) if isinstance(key, str) else key
    g = F.col(group_col)
    gate = hash32(k) % denom

    def copies_for(w: float):
        whole = int(w)
        frac = w - whole
        # round, not floor — see sample_by_hash: int(0.29 * 1e6) is
        # 289999, a one-in-a-million undershoot of the nominal weight
        n = F.lit(whole) + F.when(
            gate < round(frac * denom), F.lit(1)
        ).otherwise(F.lit(0))
        return n

    n_copies = None
    for src, w in weights.items():
        c = copies_for(w)
        n_copies = (
            F.when(g == src, c)
            if n_copies is None
            else n_copies.when(g == src, c)
        )
    n_copies = n_copies.otherwise(
        F.lit(1) if keep_unlisted else F.lit(0)
    )
    return (
        df.withColumn("_n_copies", n_copies)
        .filter(F.col("_n_copies") > 0)
        .withColumn(
            "mix_epoch",
            F.explode(F.sequence(F.lit(0), F.col("_n_copies") - 1)),
        )
        .drop("_n_copies")
    )


def id_lookup(
    df: DataFrame, ids: list, id_col: str = "doc_id"
) -> DataFrame:
    """Random access by id list (≙ es.mget, wimbd/es/random_access.py:
    7-23). Small id lists fold into an `isin` scan predicate (pushed
    to parquet); large ones should broadcast-semi-join instead."""
    if len(ids) <= 1000:
        return df.filter(F.col(id_col).isin(ids))
    wanted = local_frame(
        df.sparkSession,
        [(i,) for i in ids],
        StructType([StructField(id_col, df.schema[id_col].dataType)]),
    )
    return df.join(F.broadcast(wanted.distinct()), id_col, "left_semi")


def normalize_distribution(counts: DataFrame, count_col: str = "count") -> DataFrame:
    """counts → probability distribution (count / Σcount).

    Parity: wimbd/sentence_lengths/summarize.py:30-40.
    The total is a scalar aggregate broadcast back as a one-row join —
    unlike a global window (which would funnel the whole relation into
    ONE partition), this stays fully parallel even when the
    distribution is vocab-sized rather than length-bucket-sized.
    ``counts``' lineage appears in both plan branches; when it ends in
    a shuffle (any groupBy-built distribution — every caller here)
    Spark reuses the exchange, so the input is computed once. For an
    exchange-free expensive input, persist it first.
    """
    total = F.broadcast(
        counts.agg(F.sum(count_col).alias("_total"))
    )
    return (
        counts.join(total)
        .withColumn("p", F.col(count_col) / F.col("_total"))
        .drop("_total")
    )


def stratified_sample(
    df: DataFrame,
    k: int,
    group_col: str = "source",
    key: Column | str = "doc_id",
    salt: str = "",
) -> DataFrame:
    """Deterministic stratified sample: exactly ``k`` rows per group
    (fewer when a group is smaller), chosen by md5-hash rank of
    ``key`` — the per-group exact-count companion to the rate-based
    `sample_by_hash`. The standard tool for building balanced eval /
    inspection sets from a skewed corpus: every run, engine, and
    retry picks the SAME rows, and changing ``salt`` draws an
    independent sample. Ties (hash collisions) break on the key
    value, so the output is unique even then.

    Plan shape: one hash projection + ONE window shuffle keyed on the
    group (the same cost class as any per-group top-k); no sort of
    the full corpus, no driver state.
    """
    from wimbd_spark.functions.text import hash32

    if k < 1:
        raise ValueError("k must be >= 1")
    kc = F.col(key) if isinstance(key, str) else key
    hk = hash32(
        F.concat(F.lit(salt), F.lit(":"), kc.cast("string"))
        if salt
        else kc.cast("string")
    )
    w = Window.partitionBy(group_col).orderBy(
        hk.asc(), kc.cast("string").asc()
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )
