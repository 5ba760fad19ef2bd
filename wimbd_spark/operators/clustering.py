"""Distributed Lloyd's k-means over an embedding column.

The similarity/IVF tier (operators/similarity.py) picks its centroids
by deterministic hash sample — cheap and good enough for routing, but
not a fitted clustering. This module runs real Lloyd iterations on
top of the same deterministic seeding, giving the data-curation jobs
that want *fitted* clusters (cluster-balanced sampling, SemDeDup-style
pruning, corpus cartography) a proper k-means while staying exactly
reproducible — every run, partition layout, and the DuckDB oracle
produce identical assignments. No reference equivalent (the reference
has no embedding operators at all).

Spark-first shape, per iteration:

* **assign** — centroids ride the plan as ONE literal
  array<struct<cid, v>> (same trick as the IVF tier); the argmin over
  squared L2 is a pure collection expression (`transform` +
  `array_min` struct ordering), map-only, zero shuffle, no UDF.
* **update** — `posexplode` the vector and aggregate per (cluster,
  dim): ONE shuffle of partial sums whose width is n_clusters x dim
  rows, independent of corpus size. Components are rounded to 9 dp
  and summed as DECIMAL, so the per-cluster mean is order-independent
  (bit-identical under any partitioning — and reproducible by the
  oracle, which mirrors the same decimal sum). Only the
  n_clusters x dim aggregate rows reach the driver.

Determinism contract (what makes the oracle exact):
seeds = the ``n_clusters`` rows with the smallest (hash32(id), id) —
cluster ids are the seed row ids; new centroid component =
float(decimal_sum) / count, a single IEEE division both engines
perform on identical inputs; empty clusters keep their previous
centroid; assignment ties break toward the smaller cluster id.
Cross-engine argmin agreement additionally needs a best-vs-second
distance margin (same guard as the IVF tier's
test_centroid_assignment_margin) — asserted for the registry
parameters in tests/test_clustering.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from wimbd_spark.operators.similarity import (
    _centroid_rows,
    _to_double,
)
from wimbd_spark.session import local_frame

SUM_SCALE = 9  # component rounding before the exact decimal sum


def l2sq(a: Column, b: Column) -> Column:
    """Squared L2 distance — left-to-right fold, no sqrt (monotone for
    argmin, one less op per comparison)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _cent_literal(cents: list[tuple[int, list[float]]]) -> Column:
    # one parser call for the whole centroid array — the per-centroid
    # struct/_lit_doubles DSL build cost ~0.4 s per call through py4j
    # (×3 per fit: seed assign + one per iteration; r15). Literal
    # types match the DSL form: SQL integer literals resolve int/bigint
    # by magnitude exactly like F.lit, doubles via repr round-trip.
    from wimbd_spark.operators.similarity import _d_sql

    return F.expr(
        "array("
        + ",".join(
            f"named_struct('cid', {int(cid)}, 'v', array("
            + ",".join(_d_sql(x) for x in v)
            + "))"
            for cid, v in cents
        )
        + ")"
    )


def _cluster_col(
    centroids: list[tuple[int, list[float]]], vec_col: str
) -> Column:
    """argmin-squared-L2 centroid id of ``vec_col`` (ties to the
    smaller cluster id) as a pure Column — shared by assignment and
    the fit loop so the update pass can attach the cluster WITHOUT
    re-joining the corpus against its own assignment (r15: the old
    join-back added one self-join per Lloyd iteration).

    The cast-to-double vector is BOUND once per row as a lambda
    variable: interpreted HOF lambdas re-evaluate captured subtrees
    per invocation, so the captured form re-ran the `_to_double`
    transform once PER CENTROID (k × dim casts per row — the same
    bug class as similarity._unit, r15). Same distances on the same
    values → bit-identical argmin. Deliberately NOT unrolled into a
    flat chain: each Lloyd iteration carries a different centroid
    literal, so every iteration would pay the measured multi-second
    janino compile of a k×dim expression (the sign_sketch lesson)."""
    scored_min = F.transform(
        F.array(_to_double(F.col(vec_col))),
        lambda vv: F.array_min(
            F.transform(
                _cent_literal(centroids),
                lambda c: F.struct(
                    l2sq(vv, c["v"]).alias("d"), c["cid"].alias("cid")
                ),
            )
        )["cid"],
    )
    return F.element_at(scored_min, F.lit(1))


def assign_clusters(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id_col, cluster): each vector's argmin-squared-L2 centroid,
    ties to the smaller cluster id. Map-only projection."""
    return df.select(
        F.col(id_col),
        _cluster_col(centroids, vec_col).alias("cluster"),
    )


def kmeans_fit(
    df: DataFrame,
    n_clusters: int = 8,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[tuple[int, list[float]]]:
    """``n_iter`` Lloyd iterations from the deterministic hash seeds;
    returns the fitted centroids as (cluster_id, vector) pairs.

    Each iteration runs one assign+update job (one bounded shuffle);
    the driver only ever holds n_clusters x dim aggregate cells.
    """
    if n_clusters < 1:
        raise ValueError("n_clusters must be >= 1")
    if n_iter < 0:
        raise ValueError("n_iter must be >= 0")
    from pyspark import StorageLevel

    # The fit runs 1 + n_iter inherently sequential jobs (seed pick,
    # then one assign+update per Lloyd round) over the SAME projected
    # input — persist the parsed (id, double-vector) projection once
    # so every job after the first reads decoded vectors from cache
    # instead of re-scanning and re-parsing the source (r15).
    # _to_double on the cached double arrays is a no-op cast, so all
    # downstream values are unchanged. Released before returning (all
    # actions here are eager collects).
    proj = df.select(
        F.col(id_col), _to_double(F.col(vec_col)).alias(vec_col)
    ).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        seeds = _centroid_rows(proj, id_col, vec_col, n_clusters)
        cents = [(r["centroid_id"], list(r["_cent"])) for r in seeds]
        if not cents:
            return []
        # Per-dimension aggregate COLUMNS instead of the former
        # posexplode: the explode materialized N×dim records into a
        # hash aggregate keyed on (cluster, pos) — measured ~0.65 s
        # per iteration at sf0.1 vs 0.15 s for the bare assign scan
        # (r15). One groupBy(cluster) with dim sum/count accumulators
        # computes the identical cells: the same per-element
        # round→decimal(20,9)→sum (exact, order-independent), and the
        # same per-position row count (rows with size > p — exactly
        # the rows posexplode emitted for pos p, NULL elements
        # included). Expressions parse as one SQL string (py4j).
        dim = max(len(old) for _, old in cents)
        # ALL 2×dim accumulators ride one parsed struct expression —
        # 2×dim separate F.expr calls cost ~1 s of py4j at dim 64
        # Each s{p} accumulator is guarded by the same size(_v) > p
        # predicate as its n{p} twin: an UNguarded element_at(_v, p+1)
        # crashes under ANSI mode (Spark 4 default) on any vector
        # shorter than the widest seed centroid
        # (INVALID_ARRAY_INDEX_IN_ELEMENT_AT; ADVICE r15), where the
        # old posexplode path simply averaged ragged input. sum()
        # ignores the guard's NULLs, so uniform-width corpora (every
        # oracle-checked one) produce bit-identical cells, and ragged
        # ones average exactly the rows posexplode emitted for pos p.
        cells_expr = F.expr(
            "struct("
            + ", ".join(
                f"sum(CASE WHEN size(_v) > {p} THEN"
                f" CAST(round(element_at(_v, {p + 1}),"
                f" {SUM_SCALE}) AS DECIMAL(20,9)) END) AS s{p}"
                for p in range(dim)
            )
            + ", "
            + ", ".join(
                f"sum(CASE WHEN size(_v) > {p} THEN 1 ELSE 0 END)"
                f" AS n{p}"
                for p in range(dim)
            )
            + ")"
        ).alias("_c")
        for _ in range(n_iter):
            # cluster attached as a map-only expression — no join of
            # the corpus against its own assignment (r15); the
            # iteration is scan → assign → partial-agg → k-row shuffle
            comp = (
                proj.select(
                    _cluster_col(cents, vec_col).alias("cluster"),
                    _to_double(F.col(vec_col)).alias("_v"),
                )
                .groupBy("cluster")
                .agg(cells_expr)
                .collect()
            )
            by_cid: dict[int, dict[int, float]] = {}
            for r in comp:
                cells = by_cid.setdefault(r["cluster"], {})
                c = r["_c"]
                for p in range(dim):
                    if c[f"n{p}"]:
                        cells[p] = float(c[f"s{p}"]) / c[f"n{p}"]
            cents = [
                (
                    cid,
                    [by_cid[cid][p] for p in range(len(old))]
                    if cid in by_cid
                    else old,  # empty cluster keeps its centroid
                )
                for cid, old in cents
            ]
    finally:
        proj.unpersist()
    return cents


def kmeans(
    df: DataFrame,
    n_clusters: int = 8,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Fit + final assignment: (id_col, cluster), cluster = the seed
    row id of the fitted centroid. Integer-only output (float-free,
    so oracle hashing is exact)."""
    cents = kmeans_fit(df, n_clusters, n_iter, id_col, vec_col)
    if not cents:
        return df.select(
            F.col(id_col), F.lit(None).cast("long").alias("cluster")
        ).where(F.lit(False))
    return assign_clusters(df, cents, id_col, vec_col)


def l2sq_nano(a: Column, b: Column) -> Column:
    """Squared L2 distance in integer NANO units: each per-dimension
    term (x-y)^2 * 1e9 is rounded to the nearest integer and summed as
    BIGINT. Every term is a product/difference of bit-identical
    doubles (no libm), so both engines round the SAME double to the
    SAME integer, and the integer sum is exact and order-independent —
    unlike a float fold, whose summation order/algorithm differs
    across engines and whose 6dp-rounded total sat on rounding-grid
    midpoints (the r8/r9 driver-red mechanism). The only residual
    hazard is a term landing EXACTLY on x.5 nano, audited at every
    oracle-checked SF by tests/test_clustering.py."""
    return F.aggregate(
        F.zip_with(
            a,
            b,
            lambda x, y: F.round((x - y) * (x - y) * F.lit(1e9), 0)
            .cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def kmeans_cluster_stats(
    df: DataFrame,
    n_clusters: int = 8,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(cluster, n_members, inertia_nano): size and within-cluster sum
    of squared distances per fitted cluster, in integer nano units
    (see ``l2sq_nano`` — exact, order-independent, float-free output
    so oracle hashing is exact)."""
    cents = kmeans_fit(df, n_clusters, n_iter, id_col, vec_col)
    if not cents:
        return local_frame(
            df.sparkSession,
            [],
            "cluster long, n_members long, inertia_nano long",
        )
    v = _to_double(F.col(vec_col))
    scored = F.transform(
        _cent_literal(cents),
        lambda c: F.struct(
            l2sq(v, c["v"]).alias("d"),
            c["cid"].alias("cid"),
            l2sq_nano(v, c["v"]).alias("dn"),
        ),
    )
    best = F.array_min(scored)
    return (
        df.select(
            best["cid"].alias("cluster"),
            best["dn"].alias("dn"),
        )
        .groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum("dn").alias("inertia_nano"),
        )
    )
