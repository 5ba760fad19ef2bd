"""Similarity search over embedding columns (array<float>).

Beyond-reference: approximate-nearest-neighbor for training-data
curation (near-dup by embedding, retrieval audits).

Two paths:
- cosine_topk: exact brute force — broadcast the (small) query set
  against the corpus scan, rank per query. The baseline and the
  correctness oracle.
- cosine_topk_lsh: random-hyperplane LSH — corpus and queries bucketed
  by sign-bit sketch; candidates only within matching buckets (with
  multiprobe on 1-bit flips). The 100 TB path: the corpus side is a
  narrow (id, bucket, vec) table that can be written bucketed/sorted,
  so a query probes O(corpus/2^bits) rows.

Every top-k entry point is a candidate generator (crossJoin, centroid
probe, sign-sketch bucket, indexed lists, PQ ADC) feeding one shared
rank tail, ``_rank_topk``: self filter, tie rule and cut live there.

All dot products run in DOUBLE — no UDF, no shuffle for scoring (the
only shuffle is the top-k rank). The generic form is zip_with +
aggregate; NOTE ArrayAggregate/ZipWith are CodegenFallback (evaluated
interpreted, per row, per element — they do NOT participate in
whole-stage codegen), so the hot scored-stream projections route
through ``dot_attrs``: the same left-to-right fold UNROLLED into a
flat codegen'd arithmetic chain for known widths (r15: 4.5x faster
compute on 2M pairs x dim 64, bit-identical by construction).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType
from pyspark.sql.window import Window

from wimbd_spark.functions.text import hash32
from wimbd_spark.session import (
    local_frame,
    parquet_plan,
    plan_size_bytes,
    read_parquet,
)


def _to_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def _d_sql(x) -> str:
    """SQL double literal for one Python float — repr() is the
    shortest round-trip decimal, so the JVM parses back the exact
    same 64-bit value (bit-identical, incl. subnormals and ±0.0)."""
    import math

    x = float(x)
    if math.isnan(x):
        return "CAST('NaN' AS DOUBLE)"
    if math.isinf(x):
        return "CAST('%sInfinity' AS DOUBLE)" % ("" if x > 0 else "-")
    return repr(x) + "D"


def _lit_doubles(values) -> Column:
    """array<double> literal built in ONE parser call (F.expr) —
    value-identical to ``F.array(*[F.lit(float(x)) for x in values])``
    but without the per-element py4j round trip (~0.5-1 ms each;
    the per-element form cost 1.4-2.1 s PER QUERY at PQ codebook
    widths m=8 × n_codes=16 × d=8, measured r15)."""
    return F.expr("array(" + ",".join(_d_sql(x) for x in values) + ")")


def _lit_double_matrix(rows) -> Column:
    """array<array<double>> literal in one parser call (see
    ``_lit_doubles``)."""
    return F.expr(
        "array("
        + ",".join(
            "array(" + ",".join(_d_sql(x) for x in r) + ")" for r in rows
        )
        + ")"
    )


def _lit_double_cube(books) -> Column:
    """array<array<array<double>>> literal (all PQ subspace codebooks
    as ONE plan node) in one parser call (see ``_lit_doubles``)."""
    return F.expr(
        "array("
        + ",".join(
            "array("
            + ",".join(
                "array(" + ",".join(_d_sql(x) for x in cv) + ")"
                for cv in book
            )
            + ")"
            for book in books
        )
        + ")"
    )


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


#: Array widths whose dot products ``dot_attrs`` unrolls into a flat
#: codegen'd arithmetic chain (every other width — and NULL — takes
#: the generic fold branch of the same expression, so results are
#: identical for ALL inputs). 64 is this repo's canonical embedding
#: width (testdata + examples). Operator builds that LEARN the corpus
#: width (centroid seed collects, dim probes) register it via
#: ``register_dot_width``, so the unroll applies at production
#: embedding dims (256-1024) without configuration (VERDICT r15
#: item 2).
_DOT_UNROLL_DIMS: tuple[int, ...] = (64,)

#: Widest chain ``register_dot_width`` accepts: janino compilation of
#: a flat arithmetic chain is linear-ish in width but the constant is
#: real (the r15 sign_sketch unroll paid 6.5 s at 6×64=384 terms —
#: though dominated by per-build constant churn, which dot chains,
#: being constant-free, compile once per width per session and then
#: hit the codegen cache). 1024 covers every production embedding
#: family; past it the interpreted fold's per-element cost is
#: amortized enough that the compile gamble stops being obviously
#: right — measure before raising.
_DOT_UNROLL_MAX_DIM = 1024
#: How many distinct learned widths may be live at once — each one
#: adds a CASE branch to every subsequent dot_attrs expression, so
#: the set must stay small (real deployments have 1-2 widths).
_DOT_UNROLL_MAX_WIDTHS = 8
#: insertion-ordered learned widths (dict-as-ordered-set)
_DOT_UNROLL_LEARNED: dict[int, None] = {}


def register_dot_width(d) -> bool:
    """Teach ``dot_attrs`` the corpus's embedding width, learned at
    operator-build time (centroid collects / dim probes call this).
    Only ever changes SPEED: listed widths take the unrolled branch,
    everything else keeps the bit-identical generic fold. Returns
    whether the width is (now) covered. Oldest learned width is
    evicted past _DOT_UNROLL_MAX_WIDTHS; out-of-range widths are
    ignored (the fold handles them)."""
    try:
        d = int(d)
    except (TypeError, ValueError):
        return False
    if d < 1 or d > _DOT_UNROLL_MAX_DIM:
        return False
    if d in _DOT_UNROLL_DIMS:
        return True
    if d not in _DOT_UNROLL_LEARNED:
        while len(_DOT_UNROLL_LEARNED) >= _DOT_UNROLL_MAX_WIDTHS:
            _DOT_UNROLL_LEARNED.pop(next(iter(_DOT_UNROLL_LEARNED)))
        _DOT_UNROLL_LEARNED[d] = None
    return True


def _dot_unroll_dims() -> tuple[int, ...]:
    """Built-in widths first, then learned widths (insertion order);
    deduplicated."""
    return tuple(dict.fromkeys((*_DOT_UNROLL_DIMS, *_DOT_UNROLL_LEARNED)))


def _bt(name: str) -> str:
    """Backtick-quote a column name for embedding in a SQL string."""
    return "`" + name.replace("`", "``") + "`"


def _fold_dot_sql(a_sql: str, b_sql: str) -> str:
    """SQL text of the generic fold — parses to the exact expression
    tree ``dot`` builds (zip_with product + left-to-right aggregate)."""
    return (
        f"aggregate(zip_with({a_sql}, {b_sql}, (x, y) -> x * y), "
        "0D, (acc, x) -> acc + x)"
    )


def _unrolled_dot_sql(a_sql: str, b_sql: str, d: int) -> str:
    """``0D + a[0]*b[0] + ... + a[d-1]*b[d-1]`` — SQL ``+`` is
    left-associative, so this is ((0+p0)+p1)+...: the SAME additions
    in the SAME order as the fold (the leading 0D keeps even the
    ±0.0 first-term edge identical), hence bit-identical doubles."""
    terms = " + ".join(
        f"{a_sql}[{i}]*{b_sql}[{i}]" for i in range(d)
    )
    return f"0D + {terms}"


def dot_attrs(a_name: str, b_name: str) -> Column:
    """``dot(F.col(a_name), F.col(b_name))``, value-identical for all
    inputs, with the fold UNROLLED into a flat whole-stage-codegen'd
    arithmetic chain for the widths in ``_DOT_UNROLL_DIMS``.

    ArrayAggregate/ZipWith are CodegenFallback — interpreted per row,
    with a zipped array allocated per pair — measured 4.5x slower
    than the unrolled chain on a 2M-pair x dim-64 stream (r15). The
    per-row ``size()`` guard routes every non-listed width (and NULL,
    and length-mismatched pairs) to the generic fold branch, so the
    result is bit-identical to ``dot`` by construction; the guard also
    keeps the unrolled element accesses in bounds under ANSI mode.
    Built as ONE parsed SQL string (no per-element py4j round trips).
    Unrolled widths = ``_DOT_UNROLL_DIMS`` plus any widths learned
    from the data by operator builds (``register_dot_width``)."""
    a, b = _bt(a_name), _bt(b_name)
    fold = _fold_dot_sql(a, b)
    dims = _dot_unroll_dims()
    branches = " ".join(
        f"WHEN size({a}) = {d} AND size({b}) = {d} "
        f"THEN {_unrolled_dot_sql(a, b, d)}"
        for d in dims
    )
    return F.expr(f"CASE {branches} ELSE {fold} END")


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x)
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def _unit(vec: Column) -> Column:
    """Vector scaled to unit norm — paid once per ROW so every pair
    comparison is a single dot product instead of dot + two norms
    (3× less interpreted higher-order-function work on the O(n²) or
    candidate stage).

    The norm is BOUND as a single-element-array lambda variable
    instead of captured in the division lambda: interpreted HOF
    lambdas re-evaluate captured subtrees on EVERY invocation, so the
    captured form recomputed the whole norm fold (itself O(dim), plus
    its cast-to-double transform input) once per element — O(dim²)
    per row, measured 25x slower at dim 64 (r15). A lambda VARIABLE
    is a plain slot read. Same divisions on the same values in the
    same order → bit-identical results."""
    n = norm(vec)
    return F.element_at(
        F.transform(
            F.array(n), lambda nv: F.transform(vec, lambda x: x / nv)
        ),
        F.lit(1),
    )


def _unit_vecs(
    df: DataFrame, id_col: str, vec_col: str, id_as: str = "query_id",
    vec_as: str = "_qv",
) -> DataFrame:
    """(``id_col`` AS ``id_as``, unit vector AS ``vec_as``): the one
    normalization every scorer runs before its dot products."""
    return df.select(
        F.col(id_col).alias(id_as),
        _unit(_to_double(F.col(vec_col))).alias(vec_as),
    )


def _empty_topk(
    queries: DataFrame, qid: str, corpus: DataFrame | None = None,
    cid: str | None = None, keep: str = "",
) -> DataFrame:
    """The typed empty result of a top-k operator (empty corpus or
    index): (query_id, neighbor_id, *keep, rank long), ids typed like
    ``queries[qid]`` and ``corpus[cid]`` (the query type when no
    corpus is given); ``keep`` is the DDL of the kept columns."""
    qt = queries.schema[qid].dataType.simpleString()
    nt = qt if corpus is None else corpus.schema[cid].dataType.simpleString()
    return local_frame(
        queries.sparkSession,
        [],
        f"query_id {qt}, neighbor_id {nt}, "
        + (f"{keep}, " if keep else "") + "rank long",
    )


def _rank_topk(
    scored: DataFrame,
    k: int,
    exclude_self: bool,
    score: str = "cosine",
    keep=(),
    prune: bool = False,
) -> DataFrame:
    """The one rank tail of every vector top-k operator: candidate
    rows (query_id, neighbor_id, ``score``, *keep) → (query_id,
    neighbor_id, *keep, rank long), the ``k`` best neighbors per query
    by (``score`` DESC, neighbor_id ASC) with ranks 1..k contiguous.
    The entry points only generate candidates (crossJoin, centroid
    probe, sign-sketch bucket, indexed lists, PQ ADC); the self filter,
    the tie rule and the cut live here.

    The rank is ``dense_rank`` → ``rank <= k`` → ``dropDuplicates(
    query_id, neighbor_id)``. A pair scored twice — a vector sitting in
    both the base lists and the unabsorbed delta, or a repeated query
    row — carries bitwise-equal scores (same unit vectors, same
    expression), so every copy gets the rank the deduplicated pair
    would get and one copy survives the dedupe. The dedupe runs on the
    ≤ |queries|·k survivors and its clustering is already satisfied by
    the window's hashpartitioning(query_id): one exchange in all
    (plan-pinned), where a dedupe before the window shuffles every
    candidate pair a second time.

    Precondition: ``neighbor_id`` names one vector — apart from the
    same vector in base and delta. A corpus that repeats an id with a
    DIFFERENT vector gives undefined rows.

    ``prune=True`` (the bulk tier) puts an exact Arrow pre-prune
    between the self filter and the window: each batch keeps its own
    top ``k`` per query under the same tie rule (stable mergesort), so
    the rank shuffle carries ≤ batch-local |queries|·k rows. A global
    top-k row is top-k in every subset it appears in; each batch drops
    its duplicate pairs first, so a copy never takes a second slot.
    collect_list-style aggregation cannot express this (partial
    aggregation concatenates, it never truncates)."""
    if exclude_self:
        scored = scored.filter(F.col("query_id") != F.col("neighbor_id"))
    if prune:

        def _batch_topk(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                yield (
                    pdf.drop_duplicates(["query_id", "neighbor_id"])
                    .sort_values(
                        [score, "neighbor_id"],
                        ascending=[False, True],
                        kind="mergesort",
                    )
                    .groupby("query_id", sort=False)
                    .head(k)
                )

        scored = scored.mapInPandas(_batch_topk, scored.schema)
    w = Window.partitionBy("query_id").orderBy(
        F.col(score).desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.dense_rank().over(w))
        .filter(F.col("rank") <= k)
        .dropDuplicates(["query_id", "neighbor_id"])
        .select(
            "query_id",
            "neighbor_id",
            *keep,
            F.col("rank").cast("long").alias("rank"),
        )
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
    exclude_self: bool = True,
    filters=None,
) -> DataFrame:
    """Exact top-k cosine neighbors per query →
    (query_id, neighbor_id, rank).

    queries is broadcast (small); scoring is a map-side projection over
    the corpus; the per-query top-k is ``_rank_topk``.

    ``filters`` = attribute filter on CORPUS columns (the vector-DB
    "filtered ANN" pattern): either an equality dict routed through
    search.apply_filters, or a boolean Column — the bm25_topk
    convention — so sparse and dense filtering compose identically
    (CLI --filter passes F.expr to both). Applied BEFORE scoring — a
    pre-filter, so the result is the exact top-k AMONG matching
    vectors (never fewer than k when k matches exist), and the
    predicate reaches the parquet scan (PushedFilters) instead of
    discarding scored rows.
    """
    from wimbd_spark.search import apply_filters

    q = F.broadcast(_unit_vecs(queries, query_id_col or id_col, vec_col))
    if filters is None or isinstance(filters, dict):
        filtered = apply_filters(corpus, filters)
    else:
        filtered = corpus.filter(filters)
    c = _unit_vecs(filtered, id_col, vec_col, "neighbor_id", "_cv")
    scored = q.crossJoin(c).select(
        "query_id",
        "neighbor_id",
        dot_attrs("_qv", "_cv").alias("cosine"),
    )
    return _rank_topk(scored, k, exclude_self)


def _hyperplane(plane: int, dim: int) -> list[float]:
    """Deterministic pseudo-random hyperplane component in [-1, 1):
    derived from md5 so tests / remote executors agree with no RNG
    state. (Python-side constant folding — becomes a literal array.)
    """
    import hashlib

    out = []
    for d in range(dim):
        h = int(
            hashlib.md5(f"plane:{plane}:{d}".encode()).hexdigest()[:8], 16
        )
        out.append(h / float(2**31) - 1.0)
    return out


def sign_sketch(vec_name: str, planes: list[list[float]]) -> Column:
    """LSH bucket id: bit_p = sign(vec · plane_p), over the array
    column named ``vec_name``. Same expression tree as the r14
    ``F.when(dot(vec, arr) > 0, 2**p)`` loop (fold dots against the
    literal planes, int bit literals, NULL→0 bits, one final cast to
    long), emitted as ONE parsed SQL string.

    Deliberately NOT unrolled like ``dot_attrs``: an n_planes × dim
    unrolled bit sum was measured at 6.5 s of janino compilation plus
    ~0.7 s of per-build Catalyst analysis at 6×64 (r15) — a fixed
    driver tax on EVERY query build that swamps the per-row win at
    any realistic sketch width; the fold branches compile to tiny
    CodegenFallback stubs instead."""
    if not planes:
        return F.lit(0).cast("long")
    v = _bt(vec_name)
    bits = []
    for p, plane in enumerate(planes):
        arr = "array(" + ",".join(_d_sql(x) for x in plane) + ")"
        bits.append(
            f"(CASE WHEN ({_fold_dot_sql(v, arr)}) > 0D "
            f"THEN {2 ** p} ELSE 0 END)"
        )
    return F.expr(f"CAST({' + '.join(bits)} AS BIGINT)")


def _sketch_probes(nbits: int, multiprobe: bool) -> Column:
    """The buckets a row with home bucket ``_b0`` probes: its own, and
    with ``multiprobe`` every 1-bit flip of it (pairwise distinct)."""
    flips = range(nbits) if multiprobe else ()
    return F.array(
        F.col("_b0"),
        *[F.col("_b0").bitwiseXOR(F.lit(2**p)).cast("long") for p in flips],
    )


def _centroid_rows(
    corpus: DataFrame, id_col: str, vec_col: str, n_centroids: int
) -> list:
    """``n_centroids`` deterministic (centroid_id, vector) samples: the
    rows with the smallest (hash32(id), id) — a total order, so the
    pick is identical across partition layouts and cluster sizes (a
    bare .limit() is layout-dependent). orderBy+limit compiles to
    TakeOrderedAndProject: per-partition top-k then a driver merge of
    n_centroids rows — no full sort, no extra count() pass."""
    from wimbd_spark.functions.text import hash32

    rows = (
        corpus.select(
            F.col(id_col).alias("centroid_id"),
            _to_double(F.col(vec_col)).alias("_cent"),
            hash32(F.col(id_col)).alias("_hk"),
        )
        .orderBy("_hk", "centroid_id")
        .limit(n_centroids)
        .collect()
    )
    # operator builds that collect seed vectors KNOW the corpus's
    # embedding width — teach dot_attrs so later scoring stages take
    # the unrolled codegen branch at that width (speed only, results
    # bit-identical either way)
    for r in rows:
        if r["_cent"] is not None:
            register_dot_width(len(r["_cent"]))
            break
    return rows


def _centroid_literal(cents: list) -> Column:
    """Literal array<struct<cid, v>> from collected centroid rows —
    folds into the plan as a constant, so centroid assignment
    downstream is a map-only projection (zero shuffle); this
    literal-array form is right up to a few thousand centroids — past
    that, ship the centroids as a broadcast table instead."""
    return F.array(
        *[
            F.struct(
                F.lit(r["centroid_id"]).alias("cid"),
                _lit_doubles(r["_cent"]).alias("v"),
            )
            for r in cents
        ]
    )


def _deterministic_centroids(
    corpus: DataFrame, id_col: str, vec_col: str, n_centroids: int
) -> Column:
    cents = _centroid_rows(corpus, id_col, vec_col, n_centroids)
    if not cents:
        # F.array() of zero elements is untyped and downstream slices
        # would yield NULLs — signal the caller to produce its typed
        # empty result (an empty corpus has no duplicates / neighbors;
        # raising here crashed whole-pipeline runs on degenerate
        # shards, VERDICT r6 item 5)
        return None
    return _centroid_literal(cents)


def _nearest_centroids(vec: Column, cent_arr: Column, n: int) -> Column:
    """Top-``n`` centroids by cosine (ties → smallest cid), as an array
    of struct<neg, cid> — pure collection expressions, no UDF.

    The query vector and its norm are BOUND once per row as lambda
    variables instead of captured inside the per-centroid lambda:
    interpreted HOF lambdas re-evaluate captured subtrees on every
    invocation, so the captured form recomputed ``norm(vec)`` (an
    O(dim) fold) and the ``vec`` subtree itself once PER CENTROID —
    O(n_centroids × dim) redundant work per row on every IVF
    assignment/probe path (same bug class as ``_unit``, r15). Same
    arithmetic on the same values in the same order → bit-identical:
    cosine(vec, c.v) ≡ dot(p.v, c.v) / (p.nv * norm(c.v)) with
    p.v = vec, p.nv = norm(vec)."""
    pair = F.array(F.struct(vec.alias("v"), norm(vec).alias("nv")))
    scored_sorted = F.transform(
        pair,
        lambda p: F.slice(
            F.array_sort(
                F.transform(
                    cent_arr,
                    lambda c: F.struct(
                        (
                            -(dot(p["v"], c["v"]) / (p["nv"] * norm(c["v"])))
                        ).alias("neg"),
                        c["cid"].alias("cid"),
                    ),
                )
            ),
            1,
            n,
        ),
    )
    return F.element_at(scored_sorted, F.lit(1))


def _probe_lists(cent_arr: Column, n, vec: str = "_qv") -> Column:
    """One row per probed list: the ids of the ``n`` nearest centroids
    to the unit-vector column ``vec``, exploded."""
    return F.explode(
        F.transform(
            _nearest_centroids(F.col(vec), cent_arr, n), lambda c: c["cid"]
        )
    )


def _index_centroids(spark, path: str):
    """(rows, literal array) of an index's centroid table; the literal
    is None when the table is empty."""
    cents = parquet_plan(spark, f"{path}/centroids").collect()
    if not cents:
        return cents, None
    return cents, _centroid_literal(
        [{"centroid_id": r["centroid_id"], "_cent": r["v"]} for r in cents]
    )


def cosine_topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    n_probe: int = 4,
    exclude_self: bool = True,
) -> DataFrame:
    """IVF-style approximate top-k: corpus vectors are assigned to
    their nearest centroid (the inverted-file "list"); each query
    probes only its ``n_probe`` nearest centroids' lists.

    Centroids are deterministic samples of the corpus itself (hash-
    gated — reproducible, no k-means iterations; one refinement pass
    can be added identically on both the build and query side). The
    corpus-side assignment is a map-only projection, so at scale the
    lists can be written as a `centroid`-partitioned table and a query
    batch touches ~n_probe/n_centroids of the data.
    """
    cent_arr = _deterministic_centroids(corpus, id_col, vec_col, n_centroids)
    if cent_arr is None:  # empty corpus → no neighbors for any query
        return _empty_topk(queries, id_col, corpus, id_col)
    # unit vectors: centroid assignment via cosine() is scale-invariant,
    # and the pairwise score below reduces to a single dot product
    c = _unit_vecs(corpus, id_col, vec_col, "neighbor_id", "_cv").withColumn(
        "centroid", _nearest_centroids(F.col("_cv"), cent_arr, 1)[0]["cid"]
    )
    q = _unit_vecs(queries, id_col, vec_col).withColumn(
        "centroid", _probe_lists(cent_arr, n_probe)
    )
    scored = (
        F.broadcast(q)
        .join(c, "centroid")
        .select(
            "query_id",
            "neighbor_id",
            dot_attrs("_qv", "_cv").alias("cosine"),
        )
    )
    return _rank_topk(scored, k, exclude_self)


def auto_ncentroids(n_rows: int, target_cluster: int = 4096) -> int:
    """Cluster-count sizing for semantic_dedup: the within-cluster
    verification join costs Σ cluster² ≈ n·target_cluster when clusters
    hold ~target_cluster vectors, i.e. linear in n — the same sizing
    argument as auto_nbits. Capped at 4096 because the centroids fold
    into the plan as a literal array (see _deterministic_centroids);
    beyond that, move the assignment to a broadcast-table join."""
    import math

    return max(1, min(4096, math.ceil(n_rows / max(1, target_cluster))))


def semantic_duplicates(
    df: DataFrame,
    threshold: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int | None = 16,
) -> DataFrame:
    """SemDeDup-style embedding dedup (Abbas et al. 2023, public):
    cluster every vector to its nearest deterministic centroid, then
    within each cluster flag ``id_b`` a duplicate when a cluster-mate
    ``id_a < id_b`` has cosine ≥ ``threshold``. Returns the rows to
    DROP → (``id_col``, centroid, dup_of) where dup_of is the smallest
    such cluster-mate (the audit trail: who shadowed me).

    Semantics are the one-pass greedy rule (drop x iff a smaller-id
    ε-neighbor exists IN ITS CLUSTER, independent of that neighbor's
    own fate) — deterministic, order-free, and expressible as a single
    self-join, unlike transitive-closure dedup (use neardup's
    resolve_components for that). Like SemDeDup, near-dup pairs split
    across cluster boundaries are missed by design — that locality is
    exactly what makes the cost n·cluster instead of n².

    Scale shape: centroid pick is one TakeOrdered (n_centroids rows);
    assignment is a map-only projection against the literal centroid
    array (zero shuffle); the only shuffle is the self-join keyed on
    the (narrow, int) centroid id, Σ cluster² rows ≈ n·target_cluster
    with ``n_centroids=None`` (auto_ncentroids sizing — costs one
    count()). Skewed clusters fall to AQE skew-join handling.
    """
    if n_centroids is None:
        n_centroids = auto_ncentroids(df.count())
    cent_arr = _deterministic_centroids(df, id_col, vec_col, n_centroids)
    if cent_arr is None:  # empty corpus → nothing to drop
        idt = df.schema[id_col].dataType.simpleString()
        return local_frame(
            df.sparkSession,
            [], f"`{id_col}` {idt}, centroid {idt}, dup_of {idt}"
        )
    assigned = _unit_vecs(df, id_col, vec_col, "_id", "_v").withColumn(
        "centroid", _nearest_centroids(F.col("_v"), cent_arr, 1)[0]["cid"]
    )
    a = assigned.select(
        F.col("_id").alias("_id_a"), F.col("_v").alias("_va"), "centroid"
    )
    b = assigned.select(
        F.col("_id").alias("_id_b"), F.col("_v").alias("_vb"), "centroid"
    )
    return (
        a.join(b, "centroid")
        .filter(F.col("_id_a") < F.col("_id_b"))
        .filter(dot_attrs("_va", "_vb") >= threshold)
        .groupBy(F.col("_id_b").alias(id_col), "centroid")
        .agg(F.min("_id_a").alias("dup_of"))
    )


def drop_semantic_duplicates(
    df: DataFrame,
    threshold: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int | None = 16,
) -> DataFrame:
    """Surviving rows (all original columns) after SemDeDup-style
    pruning — one broadcast-able anti-join against the (small) drop
    set. The complement of semantic_duplicates by construction."""
    drops = semantic_duplicates(
        df, threshold, id_col, vec_col, n_centroids
    ).select(id_col)
    return df.join(drops, id_col, "left_anti")


def _quota_preprune(per_cluster: int):
    """Per-input-partition prune for cluster_balanced_sample: keep the
    ``per_cluster`` smallest (_h, id) rows per centroid seen in THIS
    partition. The global per-centroid smallest-k is a subset of the
    union of per-partition smallest-k (the heavy-hitters pre-prune
    pattern), so the downstream window sees <= input_partitions ×
    n_centroids × per_cluster rows instead of the corpus. State is
    bounded (n_centroids × per_cluster narrow rows) across Arrow
    batches; ordering parity with the JVM window holds because _h is
    int64 and string-id ties compare identically (UTF-8 byte order ==
    code-point order)."""

    def run(batches):
        import pandas as pd

        cols = None
        best = None
        for pdf in batches:
            if cols is None:
                cols = list(pdf.columns)  # (id, centroid_id, _h)
            cur = pd.concat([best, pdf]) if best is not None else pdf
            cur = cur.sort_values([cols[2], cols[0]], kind="mergesort")
            best = cur.groupby(cols[1], sort=False).head(per_cluster)
        if best is not None and len(best):
            yield best

    return run


def cluster_balanced_sample(
    df: DataFrame,
    per_cluster: int,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Diversity-preserving sample → (id_col, centroid_id): assign
    every vector to its nearest deterministic centroid (same hash-gated
    pick + argmax-cosine assignment as the IVF tier), then keep the
    ``per_cluster`` rows with the smallest (hash32(id), id) per
    cluster. Uniform random sampling over-represents dense regions of
    embedding space; quota-per-cluster keeps the tails — the standard
    diversity step in embedding-curated pipelines (same family as
    SemDeDup's cluster stage).

    Scale shape: centroid assignment is a map-only projection against
    a folded literal (zero shuffle). Quota selection is a map-side
    pre-prune (each input partition keeps its own per-centroid
    smallest ``per_cluster`` (hash, id) rows — _quota_preprune,
    VERDICT r7 item 5) followed by the centroid-keyed window, so the
    window's shuffle carries <= input_partitions × n_centroids ×
    per_cluster narrow rows — never the corpus — and a low
    ``n_centroids`` no longer bounds the heavy stage's parallelism
    (the prune runs at input parallelism; only the bounded residue
    funnels through n_centroids window partitions). Deterministic at
    any layout.
    """
    if per_cluster <= 0:
        raise ValueError(f"per_cluster must be positive, got {per_cluster}")
    cent_arr = _deterministic_centroids(df, id_col, vec_col, n_centroids)
    if cent_arr is None:  # empty corpus → typed empty result
        return df.select(
            F.col(id_col),
            F.lit(None).cast("long").alias("centroid_id"),
        ).limit(0)
    assigned = df.select(
        F.col(id_col),
        _nearest_centroids(_to_double(F.col(vec_col)), cent_arr, 1)[0][
            "cid"
        ].alias("centroid_id"),
        hash32(F.col(id_col)).alias("_h"),
    )
    pruned = assigned.mapInPandas(
        _quota_preprune(per_cluster), schema=assigned.schema
    )
    w = Window.partitionBy("centroid_id").orderBy(
        F.col("_h").asc(), F.col(id_col).asc()
    )
    return (
        pruned.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= per_cluster)
        .select(id_col, "centroid_id")
    )


def cosine_pairs(
    df: DataFrame,
    threshold: float = 0.45,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """EXACT embedding-cosine near-dup pairs: every (id_a < id_b) pair
    with cosine ≥ ``threshold``. O(n²) dot products — the correctness
    oracle / small-collection path; at corpus scale use
    cosine_pairs_lsh, which replaces the cross join with a bucketed
    self-join."""
    a = _unit_vecs(df, id_col, vec_col, "id_a", "_va")
    b = _unit_vecs(df, id_col, vec_col, "id_b", "_vb")
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", dot_attrs("_va", "_vb"))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def _infer_dim(df: DataFrame, vec_col: str) -> int:
    """Embedding dimensionality from the first row (one cheap driver
    read). Hyperplanes MUST match the vector length: zip_with
    NULL-pads a mismatch, every sign test goes NULL→0, and all
    vectors silently collapse into bucket 0 — a full cross join."""
    row = df.select(F.size(F.col(vec_col)).alias("_d")).first()
    if row is None or row["_d"] is None or row["_d"] <= 0:
        raise ValueError(
            f"cannot infer embedding dim from empty {vec_col!r}; "
            "pass dim= explicitly"
        )
    # the probe just learned the corpus width — teach dot_attrs
    # (speed only; see register_dot_width)
    register_dot_width(int(row["_d"]))
    return int(row["_d"])


def auto_nbits(n_rows: int, target_bucket: int = 256, max_bits: int = 24) -> int:
    """Sketch-width sizing rule (sf1 rehearsal finding, SCALE.md): with
    FIXED nbits, bucket population grows linearly in n and candidate
    volume grows n²/2^nbits — quadratic in the limit. Sizing buckets to
    hold ~``target_bucket`` vectors keeps candidate volume ≈
    n·target_bucket (linear): nbits = ⌈log2(n / target_bucket)⌉.
    Hyperplanes are md5-derived, so any nbits stays deterministic.
    """
    import math

    return max(1, min(max_bits, math.ceil(math.log2(max(2.0, n_rows / target_bucket)))))


def _lsh_clean_probe(base: DataFrame, dim: int) -> tuple[bool, int]:
    """ONE map-only aggregation returning (clean, exact row count) —
    the count rides the same job so the block gate can resolve the
    byte-estimate's ambiguity for free (and the scan warms the
    persisted base either path uses)."""
    row = base.select(
        _gemm_dirty_expr(F.col("_v"), dim).alias("_d")
    ).agg(
        F.max("_d").alias("_d"), F.count(F.lit(1)).alias("_n")
    ).collect()[0]
    return (not row["_d"], int(row["_n"]))


def _lsh_block_pairs(
    df: DataFrame,
    base: DataFrame,
    threshold: float,
    id_col: str,
    nbits: int,
    dim: int,
    multiprobe: bool,
    force: bool = False,
    n_rows: int | None = None,
) -> DataFrame | None:
    """Block-matrix verification for cosine_pairs_lsh: per LSH bucket,
    score (home rows × probe rows) in vectorized numpy instead of
    per-candidate codegen'd dots, emitting exactly the classic join's
    (id_a < id_b, cosine ≥ τ) survivors.

    Parity (same argument as _ivf_block_topk, pinned in tests):
    - cosines accumulate dimension-sequentially (``S += Q[:,p]·L[:,p]``)
      — the same IEEE multiplies and left-associated adds as
      dot_attrs' unrolled chain, bit-identical doubles;
    - the candidate structure is reproduced exactly: a pair meets only
      where the HOME bucket of `a` equals one of `b`'s probes, each
      probe value is pairwise-distinct per row, and `id_a < id_b`
      keeps one orientation — at most one cell per pair, no dedup;
    - eligibility: a job-free volume estimate (below the GEMM
      crossover the classic codegen'd join wins — sf0.1 stays on it),
      then ONE map-only clean probe; NULL/NaN/ragged vectors route
      the call back to the classic stream whose fold semantics numpy
      does not replicate. Rows whose bucket is NULL (NULL vector)
      never join in the classic plan and are filtered here.

    Scale shape: the probe side is salted by hash(id) and the home
    side replicated per salt (only when 2^nbits < 2·parallelism —
    auto-sized sketches grow buckets with n, so real corpora get
    salt 1), so one cogroup task holds one (bucket, salt) block.
    """
    import numpy as np
    import pandas as pd

    n_probes = (nbits + 1) if multiprobe else 1

    def _vol(n: int) -> int:
        return n * n_probes * (n >> nbits)

    if not force and n_rows is not None:
        # exact size known (auto-nbits already paid the count job)
        if _vol(n_rows) < _GEMM_MIN_BLOCK_VOLUME:
            return None
    elif not force:
        # job-free byte gate, as a LOWER bound only: parquet compresses
        # double arrays up to ~8×, so est_rows under-counts by up to
        # ~8× and the quadratic volume by up to ~64×. Below MIN/64 the
        # true volume cannot reach the crossover — classic, no job.
        # Above it, ONE map-only probe job (which doubles as the clean
        # check and warms the persisted base) resolves the exact count.
        # An unknown size counts as small: classic, no job.
        sz = plan_size_bytes(df)
        if sz is None or _vol(sz // max(1, 8 * dim)) < (
            _GEMM_MIN_BLOCK_VOLUME // 64
        ):
            return None
    clean, n_exact = _lsh_clean_probe(base, dim)
    if not clean:
        return None
    if not force and n_rows is None and _vol(n_exact) < (
        _GEMM_MIN_BLOCK_VOLUME
    ):
        return None
    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism or 1
    n_salt = max(1, min(_GEMM_MAX_SALT, -(-2 * par // (1 << nbits))))
    live = base.filter(F.col("_b0").isNotNull())
    home = live.select(
        "_id", "_v", F.col("_b0").alias("bucket")
    ).withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1)))
    )
    # fresh aliases (_idb/_vb): both cogroup sides derive from the
    # same `live` plan, and attributes sharing the left side's exprIds
    # are deduplicated out of the right side's schema — the Python
    # function would receive only (bucket, _salt)
    probe = live.select(
        F.col("_id").alias("_idb"),
        F.col("_v").alias("_vb"),
        F.explode(_sketch_probes(nbits, multiprobe)).alias("bucket"),
    ).withColumn(
        "_salt", F.pmod(F.xxhash64("_idb"), F.lit(n_salt)).cast("int")
    )
    idt = df.schema[id_col].dataType.simpleString()
    out_schema = f"id_a {idt}, id_b {idt}, cosine double"
    thr = float(threshold)
    ndim = int(dim)

    def _block(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "id_a": pd.Series(dtype="object"),
                "id_b": pd.Series(dtype="object"),
                "cosine": pd.Series(dtype="float64"),
            }
        )
        if len(left) == 0 or len(right) == 0:
            return empty
        aids = left["_id"].to_numpy()
        bids = right["_idb"].to_numpy()
        Q = np.stack(left["_v"].to_numpy())
        L = np.stack(right["_vb"].to_numpy())
        m, n = len(aids), len(bids)
        slab = max(1, _GEMM_SLAB_CELLS // max(1, n))
        sel_a, sel_b, sel_c = [], [], []
        S = np.empty((min(slab, m), n))
        T = np.empty_like(S)
        for s0 in range(0, m, slab):
            s1 = min(s0 + slab, m)
            r = s1 - s0
            Sv, Tv = S[:r], T[:r]
            Sv.fill(0.0)
            Qs = Q[s0:s1]
            # dimension-sequential accumulation == the JVM fold's
            # left-associated adds — bit-identical doubles
            for p in range(ndim):
                np.multiply(Qs[:, p : p + 1], L[None, :, p], out=Tv)
                np.add(Sv, Tv, out=Sv)
            mask = (Sv >= thr) & (
                aids[s0:s1, None] < bids[None, :]
            )
            ia, ib = np.nonzero(mask)
            if ia.size == 0:
                continue
            sel_a.append(aids[s0 + ia])
            sel_b.append(bids[ib])
            sel_c.append(Sv[ia, ib])
        if not sel_a:
            return empty
        return pd.DataFrame(
            {
                "id_a": np.concatenate(sel_a),
                "id_b": np.concatenate(sel_b),
                "cosine": np.concatenate(sel_c),
            }
        )

    return (
        home.groupby("bucket", "_salt")
        .cogroup(probe.groupby("bucket", "_salt"))
        .applyInPandas(_block, out_schema)
    )


def cosine_pairs_lsh(
    df: DataFrame,
    threshold: float = 0.45,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nbits: int | None = 6,
    dim: int | None = 64,
    multiprobe: bool = True,
    block_gemm: bool | str = "auto",
) -> DataFrame:
    """Approximate embedding near-dup pairs at scale: candidates share
    a sign-sketch bucket (plus 1-bit-flip probes), exact cosine
    verifies. The self-join keys on bucket id, so cost is
    sum(bucket²) ≈ n²/2^nbits instead of n²; recall is the standard
    hyperplane-LSH bound (rises with multiprobe and falls with angle),
    measured against cosine_pairs in tests.

    ``nbits=None`` sizes the sketch from the collection via
    ``auto_nbits`` (costs one count() job) — use it whenever the
    collection size isn't known at call time; a fixed nbits is only
    right when you've sized it yourself. ``dim=None`` infers the
    hyperplane dimensionality from the first row (one driver read);
    an explicit dim that mismatches the vectors silently collapses
    every row into bucket 0 (see _infer_dim).

    ``block_gemm`` (default "auto") routes large clean collections
    through the block-matrix verifier (_lsh_block_pairs): candidate
    volume is ~n²·probes/2^nbits dots, and past the GEMM crossover
    scoring each bucket as one vectorized numpy block beats
    per-candidate codegen'd dots. Output rows and cosine doubles are
    BIT-IDENTICAL (parity-pinned); dirty collections (NULL/NaN
    elements, ragged widths) keep the classic join. True forces the
    block path (raises if the clean probe fails), False pins classic.
    """
    if block_gemm not in (True, False, "auto"):
        raise ValueError(
            f"block_gemm must be True, False or 'auto', got "
            f"{block_gemm!r}"
        )
    if dim is None:
        dim = _infer_dim(df, vec_col)
    n_rows = None
    if nbits is None:
        n_rows = df.count()
        nbits = auto_nbits(n_rows)
    planes = [_hyperplane(p, dim) for p in range(nbits)]
    from wimbd_spark.session import scoped_persist

    # the (id, unit vector, home bucket) projection feeds BOTH sides
    # of either verification path — persisted, the scan + unit
    # normalization + sign sketch run once instead of twice
    base = scoped_persist(
        _unit_vecs(df, id_col, vec_col, "_id", "_v").withColumn(
            "_b0", sign_sketch("_v", planes)
        )
    )
    if block_gemm in (True, "auto"):
        out = _lsh_block_pairs(
            df, base, threshold, id_col, nbits, dim, multiprobe,
            force=block_gemm is True, n_rows=n_rows,
        )
        if out is not None:
            return out
        if block_gemm is True:
            raise ValueError(
                "block_gemm=True needs uniform-width vectors with no "
                "NULL/NaN element — the clean probe failed; use "
                "block_gemm='auto' (or False) to route dirty "
                "collections down the classic join"
            )
    exp = base.select(
        "_id",
        "_v",
        F.col("_b0"),
        F.explode(_sketch_probes(nbits, multiprobe)).alias("bucket"),
    )
    # a-side keeps its home bucket only, b-side probes: a pair meets
    # exactly where a's home bucket equals one of b's probes, and since
    # b's probe values are pairwise distinct that's AT MOST ONE join
    # row per pair — no dedup needed, so no shuffle ever carries the
    # vector arrays (the candidate join broadcasts/shuffles on the
    # narrow bucket key and the ≥τ filter runs in the same stage)
    a = exp.filter(F.col("bucket") == F.col("_b0")).select(
        F.col("_id").alias("id_a"), F.col("_v").alias("_va"), "bucket"
    )
    b = exp.select(
        F.col("_id").alias("id_b"), F.col("_v").alias("_vb"), "bucket"
    )
    return (
        a.join(b, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", dot_attrs("_va", "_vb"))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def cosine_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nbits: int | None = 6,
    dim: int | None = 64,
    multiprobe: bool = True,
    exclude_self: bool = True,
) -> DataFrame:
    """Approximate top-k: candidates share a sign-sketch bucket (or a
    1-bit flip with multiprobe), then exact cosine rank within
    candidates. Recall rises with multiprobe; cost drops ~2^nbits.
    ``nbits=None`` → auto_nbits(corpus size); ``dim=None`` → inferred
    from the first corpus row (mismatched explicit dim degenerates
    every bucket to 0, see _infer_dim)."""
    if dim is None:
        dim = _infer_dim(corpus, vec_col)
    if nbits is None:
        nbits = auto_nbits(corpus.count())
    planes = [_hyperplane(p, dim) for p in range(nbits)]
    c = _unit_vecs(corpus, id_col, vec_col, "neighbor_id", "_cv").withColumn(
        "bucket", sign_sketch("_cv", planes)
    )
    q = (
        _unit_vecs(queries, id_col, vec_col)
        .withColumn("_b0", sign_sketch("_qv", planes))
        .withColumn("bucket", F.explode(_sketch_probes(nbits, multiprobe)))
        .drop("_b0")
    )
    scored = (
        F.broadcast(q)
        .join(c, "bucket")
        .select(
            "query_id",
            "neighbor_id",
            dot_attrs("_qv", "_cv").alias("cosine"),
        )
    )
    return _rank_topk(scored, k, exclude_self)


# ---------------------------------------------------------- IVF index
# The build-once/query-many form of cosine_topk_ivf: inverted lists
# materialized as a centroid-PARTITIONED parquet table, so a query
# batch reads only its probed partitions (static partition pruning —
# `.explain` shows PartitionFilters) instead of scanning the corpus.
# At 100 TB this is the difference between touching ~n_probe/n_centroids
# of the data and touching all of it; the phrase index (index.py) is
# the text-side analogue of the same build/query split.


def build_ivf_index(
    df: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    mode: str = "overwrite",
    pq_m: int | None = None,
    pq_codes: int = 16,
    pq_iters: int = 0,
) -> None:
    """Materialize the IVF index at ``path``:

    - ``path``/centroids — (centroid_id, v): the deterministic centroid
      sample (same hash-gated rule as cosine_topk_ivf, so the indexed
      and unindexed paths return IDENTICAL rows for the same params);
    - ``path``/lists — (id, uvec) partitioned by ``centroid``: every
      corpus vector, unit-normalized at build time (queries then score
      with a single dot product), in its nearest-centroid list.

    ``pq_m`` additionally stores PRODUCT-QUANTIZED columns in the
    lists — ``codes`` (the vector's pq_m PQ codes, encoded on the RAW
    vector like cosine_topk_pq) and ``rn2`` (reconstruction norm²) —
    plus the codebooks at ``path``/pq_codebooks (s, j, cv). The
    compressed query path (cosine_topk_ivf_pq_indexed) then reads
    ONLY (id, codes, rn2) from the probed partitions: the full
    IVF-PQ read recipe, ~n_probe/n_centroids of the rows × m bytes
    per row instead of dim floats.

    Assignment is a map-only projection against the literal centroid
    array — the only cluster work is the partitioned write.
    """
    cents = _centroid_rows(df, id_col, vec_col, n_centroids)
    spark = df.sparkSession
    if not cents:
        # empty corpus → a valid, empty index (degenerate shards must
        # build, not crash — the r6 item 5 rule)
        id_t = df.schema[id_col].dataType.simpleString()
        local_frame(spark, [], f"centroid_id {id_t}, v array<double>") \
            .write.mode(mode).parquet(f"{path}/centroids")
        local_frame(
            spark,
            [], f"id {id_t}, uvec array<double>, centroid {id_t}"
        ).write.mode(mode).partitionBy("centroid").parquet(f"{path}/lists")
        if pq_m is not None:
            local_frame(
                spark,
                [], "s int, j int, cv array<double>"
            ).write.mode(mode).parquet(f"{path}/pq_codebooks")
        return
    cent_arr = _centroid_literal(cents)
    cb = (
        pq_codebooks(df, pq_m, pq_codes, id_col, vec_col, iters=pq_iters)
        if pq_m is not None
        else None
    )
    pq_cols = (
        [pq_encode_col(_to_double(F.col(vec_col)), cb).alias("codes")]
        if cb is not None
        else []
    )
    assigned = df.select(
        F.col(id_col).alias("id"),
        _unit(_to_double(F.col(vec_col))).alias("uvec"),
        *pq_cols,
    ).withColumn(
        "centroid", _nearest_centroids(F.col("uvec"), cent_arr, 1)[0]["cid"]
    )
    if cb is not None:
        assigned = assigned.withColumn(
            "rn2", _pq_recon_norm2(F.col("codes"), cb)
        )
        local_frame(
            spark,
            [
                (s, j, cv)
                for s, book in enumerate(cb)
                for j, cv in enumerate(book)
            ],
            "s int, j int, cv array<double>",
        ).write.mode(mode).parquet(f"{path}/pq_codebooks")
    # the centroids file stores integral ids as bigint
    id_t = df.schema[id_col].dataType
    cid_t = "bigint" if isinstance(id_t, IntegralType) else id_t.simpleString()
    local_frame(
        spark,
        [(r["centroid_id"], list(r["_cent"])) for r in cents],
        f"centroid_id {cid_t}, v array<double>",
    ).write.mode(mode).parquet(f"{path}/centroids")
    assigned.write.mode(mode).partitionBy("centroid").parquet(
        f"{path}/lists"
    )


def cosine_topk_ivf_indexed(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 3,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
    candidates: DataFrame | None = None,
    k_fill: bool = False,
) -> DataFrame:
    """Top-k cosine neighbors answered FROM the materialized IVF index
    — row-identical to cosine_topk_ivf(corpus, queries, ...) with the
    build-time n_centroids, but the corpus is never scanned: the probed
    centroid ids are resolved driver-side from the (tiny) centroid
    table and pushed into the lists scan as a static partition filter,
    so only ~n_probe/n_centroids of the index is read.

    ``candidates`` = optional one-column id allowlist (filtered ANN on
    an index that carries no metadata — the same candidates= semi-join
    convention as bm25_topk_indexed): probed list entries are LEFT
    SEMI joined against it before scoring. Filtering happens INSIDE
    the probed partitions, so ranks are the top-k among allowed ids
    within the probe set — fewer than k rows can come back when the
    allowed ids live outside the probed centroids. ``k_fill=True``
    adds the vector-DB fill behavior: queries that came back with
    fewer than k neighbors are re-probed at doubled n_probe until they
    have k or EVERY list has been probed (so a short result then means
    the allowlist itself has fewer than k members — exact, not an
    artifact of probing). Escalation is per-starved-query: satisfied
    queries keep their original-probe ranks, the loop is bounded by
    log2(n_centroids) rounds, and results accumulate driver-side
    (≤ |queries|·k rows by the small-side contract — so the k_fill
    return is a materialized DataFrame, and no round recomputes a
    prior round's plan). Geometric doubling keeps total re-scored
    work within ~2× the final round's."""
    cents, cent_arr = _index_centroids(spark, path)
    if not cents:
        return _empty_topk(queries, id_col)
    allow = (
        candidates.toDF("id").distinct() if candidates is not None else None
    )

    def run(qdf: DataFrame, np_: int) -> DataFrame:
        q = _unit_vecs(qdf, id_col, vec_col).withColumn(
            "centroid", _probe_lists(cent_arr, np_)
        )
        # static partition pruning: the probed id set is bounded by
        # |queries|·n_probe (queries are the small side by contract),
        # so collecting it costs one tiny job and turns the lists read
        # into a PartitionFilters-pruned scan — no dynamic pruning
        # needed
        probed = sorted(
            {
                r["centroid"]
                for r in q.select("centroid").distinct().collect()
            }
        )
        lists = _read_lists(spark, path, probed=probed)
        if allow is not None:
            lists = lists.join(F.broadcast(allow), "id", "left_semi")
        scored = (
            F.broadcast(q)
            .join(lists, "centroid")
            .select(
                "query_id",
                F.col("id").alias("neighbor_id"),
                dot_attrs("_qv", "uvec").alias("cosine"),
            )
        )
        return _rank_topk(scored, k, exclude_self)

    out = run(queries, n_probe)
    if not k_fill:
        return out
    # results are bounded at |queries|·k rows by the small-side
    # contract, so accumulate them DRIVER-SIDE: each escalation round
    # re-runs only its starved queries, nothing recomputes through a
    # growing lineage, and the groupBy-count probe per round is free
    # (len() on collected rows). The k_fill return is therefore
    # materialized, not lazy.
    n_cent = len(cents)
    cur = min(n_probe, n_cent)
    rows: dict = {}
    for r in out.collect():
        rows.setdefault(r["query_id"], []).append(r)
    all_ids = [
        r["query_id"]
        for r in queries.select(F.col(id_col).alias("query_id"))
        .distinct()
        .collect()
    ]
    while cur < n_cent:
        starved = [
            qid for qid in all_ids if len(rows.get(qid, [])) < k
        ]
        if not starved:
            break
        cur = min(cur * 2, n_cent)
        redo = run(queries.filter(F.col(id_col).isin(starved)), cur)
        fresh: dict = {}
        for r in redo.collect():
            fresh.setdefault(r["query_id"], []).append(r)
        rows.update(fresh)
    flat = [r for rs in rows.values() for r in rs]
    return local_frame(spark, flat, out.schema)


def cosine_topk_ivf_pq_indexed(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 3,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
    _with_centroid: bool = False,
) -> DataFrame:
    """Top-k neighbors from the materialized IVF index using its
    STORED PQ codes → (query_id, neighbor_id, approx_cosine, rank) —
    the full IVF-PQ read path: the probed centroid ids prune the lists
    scan to ~n_probe/n_centroids of the partitions (static partition
    filter, like cosine_topk_ivf_indexed) AND column pruning keeps the
    full-precision ``uvec`` out of the read entirely — the scan
    touches only (id, codes, rn2), i.e. m small ints + one double per
    candidate instead of dim floats (plan-pinned in tests). Scoring is
    the asymmetric lookup-table form of cosine_topk_pq against the
    persisted codebooks; identical to running cosine_topk_pq over the
    probed lists with the build-time codebooks. Requires an index
    built with ``pq_m`` (raises otherwise).
    """
    # The two metadata reads are independent collect jobs the driver
    # used to run back-to-back; overlapping them from a 2-thread pool
    # (guide §2.6 — actions are only sequential because driver code
    # calls them sequentially) halves the interactive path's fixed
    # metadata latency. Both tables are ≤ a few thousand rows by
    # construction.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_cb = pool.submit(
            lambda: parquet_plan(spark, f"{path}/pq_codebooks").collect()
        )
        f_ct = pool.submit(_index_centroids, spark, path)
        try:
            cb_rows = f_cb.result()
        except Exception as exc:
            f_ct.cancel()
            raise ValueError(
                f"index at {path} has no pq_codebooks — rebuild with "
                "build_ivf_index(..., pq_m=)"
            ) from exc
        cents, cent_arr = f_ct.result()
    keep = ["approx_cosine"] + (["centroid"] if _with_centroid else [])
    if not cents:
        # empty index (never reads the partitioned lists: an empty
        # partitionBy write leaves no partition dirs to infer from)
        return _empty_topk(
            queries, id_col,
            keep="approx_cosine double"
            + (", centroid bigint" if _with_centroid else ""),
        )
    if not cb_rows:
        raise ValueError(
            f"index at {path} has empty pq_codebooks for a non-empty "
            "corpus — rebuild with build_ivf_index(..., pq_m=)"
        )
    cb = _codebooks_of(cb_rows)
    d = len(cb[0][0])
    qv = _unit(_to_double(F.col(vec_col)))
    # wide codebooks ride one broadcast row instead of plan literals
    # (r14: 65k-literal trees cost ~100 s of analysis/codegen per
    # stage — see _cb_expr)
    n_codes = len(cb[0])
    wide_cb = len(cb) * n_codes * d > _CB_LITERAL_MAX_DOUBLES

    # zero-norm (all-zero / empty) query vectors have no direction —
    # cosine is undefined, and unguarded they CRASH either strategy
    # (ANSI DIVIDE_BY_ZERO in the JVM literal path's _unit,
    # ZeroDivisionError in the wide path's driver loop). Skip them
    # like NULL vectors so both strategies agree: no rows emitted.
    base = queries.filter(
        F.col(vec_col).isNotNull()
        & F.exists(F.col(vec_col), lambda x: x != F.lit(0.0))
    )
    if wide_cb:
        # Wide codebooks (m*n_codes*d literal doubles past the plan
        # budget): the expression form is pathological BOTH ways —
        # literals poison every stage's analysis/codegen (~100 s at
        # 32x256x8, r14), and a column-borne codebook is re-evaluated
        # per lambda ITERATION inside the qtable transform (no CSE in
        # interpreted higher-order lambdas; measured 857 CPU-s for 16
        # query rows). This path is INTERACTIVE (small query side by
        # contract — it already collects the probed-centroid set), so
        # compute the ADC table per query on the driver with the SAME
        # fold order as `dot` (bit-identical doubles) and ship it as
        # broadcast DATA.
        import math

        # bounded collect: limit(N+1) caps driver memory even when the
        # caller mistakenly hands the corpus as the query side; the
        # raise routes them to the bulk path instead of a silent OOM
        probe = base.select(id_col, vec_col).limit(
            _ADC_WIDE_MAX_QUERIES + 1
        ).collect()
        if len(probe) > _ADC_WIDE_MAX_QUERIES:
            raise ValueError(
                f"cosine_topk_ivf_pq_indexed: wide-codebook ADC builds "
                f"per-query lookup tables on the driver and is "
                f"INTERACTIVE-only (> {_ADC_WIDE_MAX_QUERIES} query "
                f"rows found). For bulk corpus-as-queries kNN use "
                f"knn_join_pq, which computes the ADC tables "
                f"distributed (recon strategy) with zero driver "
                f"candidate state."
            )
        qt_rows = []
        for r in probe:
            v = [float(x) for x in r[vec_col]]
            nrm = 0.0
            for x in v:
                nrm = nrm + x * x
            nrm = math.sqrt(nrm)
            # all-zero queries are filtered upstream (see `base`), but
            # sub-normal components can still underflow x*x to 0.0
            # (x=1e-200 passes the exists filter, x*x == 0.0): emit
            # NaN table entries like the JVM path's float division
            # does instead of crashing the job with ZeroDivisionError
            if nrm == 0.0:
                u = [float("nan")] * len(v)
            else:
                u = [x / nrm for x in v]
            flat = []
            for s in range(len(cb)):
                for book_cv in cb[s]:
                    acc = 0.0
                    for kk in range(d):
                        acc = acc + u[s * d + kk] * float(book_cv[kk])
                    flat.append(acc)
            qt_rows.append((r[id_col], flat))
        qid_t = queries.schema[id_col].dataType.simpleString()
        qt_df = local_frame(
            spark,
            qt_rows, f"query_id {qid_t}, _qt array<double>"
        )
        q = (
            _unit_vecs(base, id_col, vec_col)
            .withColumn("centroid", _probe_lists(cent_arr, n_probe))
            .drop("_qv")
            .join(F.broadcast(qt_df), "query_id")
        )
    else:
        q = (
            base.select(
                F.col(id_col).alias("query_id"),
                # FLAT m*n_codes layout: the per-pair lookup is then a
                # scalar element_at — element_at on the nested form
                # copies the whole n_codes subspace row per term per
                # pair
                F.flatten(_qtables_nested(qv, cb, d)).alias("_qt"),
                qv.alias("_qv"),
            )
            .withColumn("centroid", _probe_lists(cent_arr, n_probe))
            .drop("_qv")
        )
    probed = sorted(
        {r["centroid"] for r in q.select("centroid").distinct().collect()}
    )
    lists = _read_lists(
        spark, path, probed=probed,
        columns=["centroid", "id", "codes", "rn2"],
    )
    sdot = F.lit(0.0)
    for s in range(len(cb)):
        sdot = sdot + F.element_at(
            F.col("_qt"),
            F.lit(s * n_codes)
            + F.element_at(F.col("codes"), s + 1)
            + 1,
        )
    scored = (
        F.broadcast(q)
        .join(lists, "centroid")
        .select(
            "query_id",
            F.col("id").alias("neighbor_id"),
            F.round(sdot / F.sqrt(F.col("rn2")), 6).alias(
                "approx_cosine"
            ),
            "centroid",
        )
    )
    return _rank_topk(scored, k, exclude_self, "approx_cosine", keep)


def cosine_topk_ivf_pq_rerank(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 3,
    n_candidates: int | None = None,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
    rerank: str = "collect",
) -> DataFrame:
    """IVF-PQ candidate generation + EXACT cosine re-rank →
    (query_id, neighbor_id, rank) — the standard two-stage ANN recipe
    (Jégou et al. 2011 §V; the FAISS `index.refine` pattern): PQ's
    table-lookup scores are cheap but lossy, so they SELECT
    ``n_candidates`` per query (default 10·k) from the probed lists,
    and the final order comes from exact cosine over the candidates'
    FULL-PRECISION vectors. Recall then tracks the IVF probe bound,
    not PQ distortion (measured in SCALE.md: registry-parameter PQ
    alone 0.106 recall@10; re-ranked, it recovers the 0.456 of its
    probed lists).

    Two-stage read, both pruned: stage 1 is `cosine_topk_ivf_pq_indexed`
    (partition-pruned, codes-only). Stage 2 re-reads ONLY the candidate
    rows' ``uvec``. Two stage-2 strategies, picked by ``rerank``:

    - ``"collect"`` (default): the candidate (id, centroid) pairs are
      bounded driver metadata (≤ |queries|·n_candidates rows, the
      phrase-list convention), so the re-rank scan carries BOTH a
      centroid partition filter and an id pushdown, and each side of
      the final join is a broadcast. The right call for interactive /
      eval-batch query sets.
    - ``"join"``: candidates NEVER touch the driver — they stay a
      DataFrame and the id pushdown is the candidate join itself
      (lists ⋈ candidates on id; AQE broadcasts the candidate side
      when it is small). No static centroid pruning — deriving the
      probed set without a collect would recompute stage 1 — so the
      lists read is a full (columns-pruned) scan filtered by the
      join. The right call when |queries|·n_candidates outgrows
      driver memory: the corpus-as-queries regime (bulk semantic
      dedup; see `knn_join` for the one-stage exact-scored form).
    """
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    if n_candidates is None:
        n_candidates = max(10 * k, 50)
    if n_candidates < k:
        raise ValueError("n_candidates must be >= k")
    if rerank not in ("collect", "join"):
        raise ValueError(
            f"rerank must be 'collect' or 'join', got {rerank!r}"
        )
    cand = cosine_topk_ivf_pq_indexed(
        spark,
        path,
        queries,
        k=n_candidates,
        n_probe=n_probe,
        id_col=id_col,
        vec_col=vec_col,
        exclude_self=exclude_self,
        _with_centroid=True,
    ).select("query_id", "neighbor_id", "centroid")
    q = _unit_vecs(
        queries.filter(F.col(vec_col).isNotNull()), id_col, vec_col
    )
    if rerank == "join":
        vecs = _read_lists(spark, path, columns=["id", "uvec"])
        cand = cand.select("query_id", "neighbor_id")
    else:
        pairs = cand.collect()  # bounded: <= |queries| * n_candidates
        if not pairs:
            return _empty_topk(queries, id_col)
        ids = sorted({r["neighbor_id"] for r in pairs})
        cents = sorted({r["centroid"] for r in pairs})
        vecs = (
            _read_lists(spark, path, probed=cents)  # partition pruning
            .filter(F.col("id").isin(ids))  # row-group pruning
        )
        cand = F.broadcast(
            local_frame(
                spark,
                [(r["query_id"], r["neighbor_id"]) for r in pairs],
                cand.select("query_id", "neighbor_id").schema,
            )
        )
    # uvec is unit-normalized at build time → dot IS the exact cosine
    scored = (
        cand.join(
            vecs.select(F.col("id").alias("neighbor_id"), "uvec"),
            "neighbor_id",
        )
        .join(F.broadcast(q), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            dot_attrs("_qv", "uvec").alias("cosine"),
        )
    )
    return _rank_topk(scored, k, exclude_self)


def _ivf_scored_stream(
    spark, path: str, queries: DataFrame, n_probe, id_col: str,
    vec_col: str, _cent_arr=None, _n_cents: int | None = None,
) -> DataFrame | None:
    """The shared distributed candidate stream of the bulk tier:
    (query_id, neighbor_id, cosine) for every query row against its
    ``n_probe`` nearest inverted lists — map-side probe explode
    against the broadcast centroid literal, ONE shuffle join with the
    lists on ``centroid``, exact dot on the stored unit vectors. A
    pair may appear twice when a vector sits in base AND the
    unabsorbed delta (bitwise-equal cosine — ``_rank_topk`` and the
    threshold forms collapse it without a corpus-scale
    dropDuplicates). None when
    the index has an empty centroid table. Driver footprint:
    the centroid table only (≤ n_centroids rows by construction).
    Callers that hold a frozen centroid literal (the streaming gates)
    pass ``_cent_arr``/``_n_cents`` to skip the per-call read."""
    if _cent_arr is not None:
        cent_arr, n_cents = _cent_arr, _n_cents
    else:
        cents, cent_arr = _index_centroids(spark, path)
        if not cents:
            return None
        n_cents = len(cents)
    if n_probe == "all":
        n_probe = n_cents
    q = _unit_vecs(
        queries.filter(F.col(vec_col).isNotNull()), id_col, vec_col
    ).withColumn("centroid", _probe_lists(cent_arr, n_probe))
    lists = _read_lists(spark, path, columns=["centroid", "id", "uvec"])
    return q.join(lists, "centroid").select(
        "query_id",
        F.col("id").alias("neighbor_id"),
        dot_attrs("_qv", "uvec").alias("cosine"),
    )


#: Target rows per GEMM slab — bounds the (slab × list-block) score
#: matrix a block task holds (~4M cells ≈ 32 MB of doubles + one temp).
_GEMM_SLAB_CELLS = 4_000_000

#: Upper bound on the list-side salt: each salt step replicates the
#: query side once, so the probe-exploded query shuffle grows linearly
#: in it. 16× replication of (id, unit-vec) rows is the most the
#: parallelism win has ever justified locally (the value only changes
#: SPEED, never results).
_GEMM_MAX_SALT = 16


#: Estimated scored-row volume (|queries|·n_probe·avg_list, with the
#: bulk tier's corpus-as-queries shape assumed) below which "auto"
#: keeps the classic row stream: the block path's fixed costs (one
#: clean-probe job, Python worker spin-up, two cogroup exchanges)
#: measured ~0.5 s locally, which ~16M codegen'd row-dots also cost —
#: the crossover. Only ever changes SPEED.
_GEMM_MIN_BLOCK_VOLUME = 16_000_000


def _dir_bytes(spark, p: str) -> int:
    """Total bytes under a path — driver-side filesystem metadata, no
    Spark job (the job-free size signal the GEMM auto-gate needs)."""
    try:
        jvm = spark._jvm
        hp = jvm.org.apache.hadoop.fs.Path(p)
        fs = hp.getFileSystem(spark._jsc.hadoopConfiguration())
        return int(fs.getContentSummary(hp).getLength())
    except Exception:
        return 0


def _gemm_dirty_expr(unit_col, dim: int):
    """1 when a vector is off-``dim`` or carries a NULL/NaN element.
    NULL elements make the JVM fold return NULL and NaN sorts LARGEST
    under Spark orderings but LAST under numpy's — both diverge from
    the numpy block prune, so dirty corpora keep the classic
    row-stream (bit-exact legacy) instead."""
    return F.when(F.size(unit_col) != dim, F.lit(1)).otherwise(
        F.when(
            F.exists(unit_col, lambda x: x.isNull() | F.isnan(x)),
            F.lit(1),
        ).otherwise(F.lit(0))
    )


def _gemm_clean_probe(
    q_side: DataFrame, q_col, l_side: DataFrame, l_col, dim: int
) -> bool:
    """ONE map-only aggregation over both sides deciding GEMM
    eligibility (see _gemm_dirty_expr)."""
    dirty = (
        q_side.select(_gemm_dirty_expr(q_col, dim).alias("_d"))
        .unionAll(l_side.select(_gemm_dirty_expr(l_col, dim).alias("_d")))
        .agg(F.max("_d").alias("_d"))
        .collect()
    )
    return not dirty or not dirty[0]["_d"]


def _ivf_block_topk(
    spark,
    path: str,
    queries: DataFrame,
    k: int,
    n_probe,
    id_col: str,
    vec_col: str,
    exclude_self: bool,
    min_cosine: float | None,
    cent_arr,
    n_cents: int,
    dim: int,
    force: bool = False,
) -> DataFrame | None:
    """Block-matrix scored-and-pruned candidate stream for the bulk
    top-k tier: (query_id, neighbor_id, cosine), at most ``k`` rows
    per (query, centroid-block) — the exact local prune computed with
    vectorized numpy instead of 10⁸ row-at-a-time codegen'd dots.

    Why this is safe (the parity argument, pinned in tests):
    - cosines are BIT-IDENTICAL to the classic stream: the block dot
      accumulates dimension-by-dimension (``S += Q[:,p]·L[:,p]``),
      which performs the same IEEE multiplies and left-associated
      adds in the same order as dot_attrs' ``0D + a0*b0 + a1*b1…``
      chain (numpy ufuncs never fuse into FMA);
    - the per-block top-k keeps every row the global rank ≤ k window
      could keep (a global top-k row is top-k within every subset it
      appears in, same (cosine DESC, neighbor_id ASC) order — the
      ``_rank_topk`` pre-prune argument), so the rank tail's output
      is row-identical;
    - eligibility is decided job-free first (a lists-bytes volume
      estimate — below the measured crossover the classic stream's
      codegen'd dots beat the block path's fixed costs) and then by
      ONE fused map-only probe job (_gemm_clean_probe): NULL/NaN
      elements or off-``dim`` vectors route the whole call to the
      classic stream, whose fold semantics (NULL dot, Spark NaN
      ordering) the numpy path does not replicate.

    Scale shape: the list side is salted into ``P`` hash sub-lists
    (deterministic pmod of the stored id — retry-safe) and the
    probe-exploded query side is replicated per salt, so one cogroup
    task holds (queries probing centroid c) × (sub-list of c) — the
    block-matrix join. P is derived from the session parallelism and
    capped (_GEMM_MAX_SALT): clusters with real centroid counts get
    P=1 (no replication); the pathological few-lists case (this
    repo's 8-centroid fixture index) gets its parallelism back.
    Nothing touches the driver beyond the centroid table and the two
    probe flags.
    """
    import numpy as np
    import pandas as pd

    if n_probe == "all":
        n_probe = n_cents
    if not force:
        # job-free size gate: estimate the scored-row volume the block
        # path would vectorize from the lists' on-disk bytes (doubles
        # barely compress, so bytes/(8·dim) ≈ rows; the bulk tier's
        # contract is corpus-scale query sides, so |queries| ≈ |lists|)
        # — below the crossover the classic stream's codegen'd dots
        # beat the block path's fixed costs, and the clean-probe job
        # never runs
        n_est = max(
            _dir_bytes(spark, f"{path}/lists"),
            0,
        ) // max(1, 8 * dim)
        if n_est * n_probe * (n_est // max(1, n_cents)) < (
            _GEMM_MIN_BLOCK_VOLUME
        ):
            return None
    q_base = _unit_vecs(
        queries.filter(F.col(vec_col).isNotNull()), id_col, vec_col
    )
    lists = _read_lists(spark, path, columns=["centroid", "id", "uvec"])
    if not _gemm_clean_probe(
        q_base, F.col("_qv"), lists, F.col("uvec"), dim
    ):
        return None
    par = spark.sparkContext.defaultParallelism or 1
    n_salt = max(1, min(_GEMM_MAX_SALT, -(-2 * par // max(1, n_cents))))
    q = q_base.withColumn(
        "centroid", _probe_lists(cent_arr, n_probe)
    ).withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1)))
    )
    ll = lists.withColumn(
        "_salt", F.pmod(F.xxhash64("id"), F.lit(n_salt)).cast("int")
    )
    qt = queries.schema[id_col].dataType.simpleString()
    nt = lists.schema["id"].dataType.simpleString()
    out_schema = f"query_id {qt}, neighbor_id {nt}, cosine double"
    kk = int(k)
    excl_self = bool(exclude_self)
    min_cos = None if min_cosine is None else float(min_cosine)
    ndim = int(dim)

    def _block(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if len(left) == 0 or len(right) == 0:
            return pd.DataFrame(
                {
                    "query_id": pd.Series(dtype="int64"),
                    "neighbor_id": pd.Series(dtype="int64"),
                    "cosine": pd.Series(dtype="float64"),
                }
            )
        # a vector sitting in base AND an unabsorbed delta of the SAME
        # list lands twice in one block with bitwise-equal uvec — keep
        # one so a duplicate never occupies two of the k slots
        right = right.drop_duplicates(subset=["id"])
        qids = left["query_id"].to_numpy()
        nids = right["id"].to_numpy()
        Q = np.stack(left["_qv"].to_numpy())
        L = np.stack(right["uvec"].to_numpy())
        m, n = len(qids), len(nids)
        slab = max(1, _GEMM_SLAB_CELLS // max(1, n))
        sel_q, sel_n, sel_c = [], [], []
        S = np.empty((min(slab, m), n))
        T = np.empty_like(S)
        for s0 in range(0, m, slab):
            s1 = min(s0 + slab, m)
            r = s1 - s0
            Sv, Tv = S[:r], T[:r]
            Sv.fill(0.0)
            Qs = Q[s0:s1]
            # dimension-sequential accumulation == the JVM fold's
            # left-associated adds — bit-identical doubles
            for p in range(ndim):
                np.multiply(Qs[:, p : p + 1], L[None, :, p], out=Tv)
                np.add(Sv, Tv, out=Sv)
            excl = np.zeros((r, n), dtype=bool)
            if excl_self:
                excl |= qids[s0:s1, None] == nids[None, :]
            if min_cos is not None:
                excl |= ~(Sv >= min_cos)
            W = np.where(excl, -np.inf, Sv)
            if kk < n:
                part = np.argpartition(-W, kk - 1, axis=1)[:, :kk]
                kthv = W[np.arange(r)[:, None], part].min(axis=1)
            else:
                kthv = W.min(axis=1)
            cand = (W >= kthv[:, None]) & ~excl
            for i in range(r):
                idx = np.nonzero(cand[i])[0]
                if idx.size == 0:
                    continue
                if idx.size > kk:
                    order = np.lexsort((nids[idx], -Sv[i, idx]))
                    idx = idx[order[:kk]]
                sel_q.append(np.full(idx.size, qids[s0 + i]))
                sel_n.append(nids[idx])
                sel_c.append(Sv[i, idx])
        if not sel_q:
            return pd.DataFrame(
                {
                    "query_id": pd.Series(dtype=qids.dtype),
                    "neighbor_id": pd.Series(dtype=nids.dtype),
                    "cosine": pd.Series(dtype="float64"),
                }
            )
        return pd.DataFrame(
            {
                "query_id": np.concatenate(sel_q),
                "neighbor_id": np.concatenate(sel_n),
                "cosine": np.concatenate(sel_c),
            }
        )

    return (
        q.groupby("centroid", "_salt")
        .cogroup(ll.groupby("centroid", "_salt"))
        .applyInPandas(_block, out_schema)
    )


def cosine_pairs_ivf(
    spark,
    path: str,
    queries: DataFrame,
    threshold: float,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ALL (id_a < id_b, cosine) pairs at cosine ≥ ``threshold``
    between ``queries`` and the indexed corpus — the THRESHOLD form
    of `knn_join` for near-dup mining: no top-k, so there is no rank
    window at all. The threshold filters the scored stream before its
    ONLY shuffle (the canonical-pair distinct over the ≥-threshold
    survivors — tiny at any real bar), making this the cheapest bulk
    shape in the ANN tier: probe explode → centroid join → filter →
    distinct. Self-pairs drop via the strict a < b canonicalization.
    Pass the indexed corpus itself as ``queries`` for self-join
    near-dup mining (`cosine_pairs_lsh`'s role, served by the
    persisted index instead of an in-plan LSH)."""
    scored = _ivf_scored_stream(
        spark, path, queries, n_probe, id_col, vec_col
    )
    if scored is None:
        qt = queries.schema[id_col].dataType.simpleString()
        return local_frame(
            spark,
            [], f"id_a {qt}, id_b {qt}, cosine double"
        )
    return (
        scored.filter(F.col("query_id") < F.col("neighbor_id"))
        .filter(F.col("cosine") >= F.lit(threshold))
        .select(
            F.col("query_id").alias("id_a"),
            F.col("neighbor_id").alias("id_b"),
            "cosine",
        )
        .dropDuplicates(["id_a", "id_b"])
    )


def semantic_duplicates_ivf(
    spark,
    path: str,
    queries: DataFrame,
    threshold: float = 0.7,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Bulk SemDeDup via the persisted IVF index: the rows to DROP →
    (``id_col``, dup_of), where a vector is a duplicate iff a
    SMALLER-id ε-neighbor (cosine ≥ threshold) exists in its
    ``n_probe`` probed lists, and dup_of is the smallest such
    neighbor (the audit trail — `semantic_duplicates`' contract with
    "cluster-mate" generalized to "probed-list mate"; n_probe=1 over
    the index's own assignment IS the cluster-local rule).

    This is the corpus-as-queries workload the interactive tier
    cannot serve (r12 VERDICT): pass the indexed corpus itself as
    ``queries``. Plan: the shared scored stream filtered to
    smaller-id candidates ≥ threshold, then ONE groupBy(query) min —
    a partial-aggregating shuffle of only the ≥-threshold survivors;
    no window, no driver state, and base∪delta double-scored pairs
    collapse in the min. Drop the duplicates with one anti-join:
    ``corpus.join(drops, id_col, "left_anti")``."""
    scored = _ivf_scored_stream(
        spark, path, queries, n_probe, id_col, vec_col
    )
    if scored is None:
        qt = queries.schema[id_col].dataType.simpleString()
        return local_frame(
            spark,
            [], f"`{id_col}` {qt}, dup_of {qt}"
        )
    return (
        scored.filter(F.col("neighbor_id") < F.col("query_id"))
        .filter(F.col("cosine") >= F.lit(threshold))
        .groupBy(F.col("query_id").alias(id_col))
        .agg(F.min("neighbor_id").alias("dup_of"))
    )


def _is_local_master(spark) -> bool:
    """True when the session runs single-JVM (master ``local`` /
    ``local[N]`` / ``local[*]`` / ``local-cluster[...]`` all share one
    box): every "shuffle" is a same-machine disk/memory exchange, so
    volume-reduction hops that only pay across a network (knn_join's
    Arrow local prune — SCALE.md r13 measured it at +6 s/sf1 locally)
    should route themselves off."""
    try:
        master = spark.sparkContext.master or ""
    except Exception:  # session without a live context: assume cluster
        return False
    return master.startswith("local")


def knn_join(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 2,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
    min_cosine: float | None = None,
    local_prune: bool | str = "auto",
    block_gemm: bool | str = "auto",
) -> DataFrame:
    """Bulk k-NN JOIN against a persisted IVF index: every row of
    ``queries`` — which may be the ENTIRE corpus — gets its top-``k``
    exact-cosine neighbors from its ``n_probe`` nearest inverted
    lists. (query_id, neighbor_id, rank), fully distributed: unlike
    the interactive `cosine_topk_ivf_indexed` (broadcast query side,
    driver-collected probe set, driver-accumulated k_fill rounds —
    all bounded by the small-query-side contract), NOTHING here
    touches the driver except the centroid table (≤ n_centroids rows
    by construction). This is the corpus-as-queries path: SemDeDup /
    dataset-distillation over the full corpus via the index instead
    of per-cluster self-joins.

    Plan shape (the 100 TB audit):
    - queries explode to n_probe rows each (map-side; centroid argmax
      against the broadcast centroid literal), then ONE shuffle join
      with the lists on ``centroid``. No static partition pruning —
      a corpus-sized query set probes every list anyway, and deriving
      the probed set would cost a full extra pass over the queries;
      hot centroids are skew-join territory, which AQE splits.
    - ``local_prune`` cuts the top-k shuffle from
      |queries|·n_probe·avg_list_size scored rows to ≤ batch-local
      |queries|·k with ``_rank_topk``'s exact Arrow pre-prune
      IMMEDIATELY after the join — the one justified Python hop in
      the ANN tier. It only PAYS when the rank shuffle it shrinks
      crosses a network (SCALE.md r13: +6 s at sf1 on one box, where
      "shuffle" is a local disk/memory exchange), so the default is
      ``"auto"``: prune on a cluster master, skip it when the session
      master is ``local[*]`` (single-JVM — exactly the deployment
      where the measured cost lives). Pass True/False to pin either
      plan; results are row-identical (parity-pinned) because the
      prune is exact.
    - one final shuffle on query_id for the exact global rank
      (``_rank_topk``, which also collapses a pair scored twice from
      base and delta).

    ``min_cosine`` filters scored pairs before BOTH shuffles — for
    near-dup mining (pairs above a bar) it does most of the volume
    reduction. ``n_probe="all"`` probes every list, making the result
    EXACT brute-force top-k (the oracle form).

    ``block_gemm`` (default "auto") routes clean corpora — uniform
    vector width, no NULL/NaN elements, verified by one fused
    map-only probe job — through the block-matrix scorer
    (_ivf_block_topk): the |queries|·n_probe·avg_list row-at-a-time
    dot stage becomes per-(centroid, sub-list) vectorized numpy
    blocks with an exact in-block top-k, so the rank window only
    ever sees ≤ |queries|·n_probe·salt·k rows. Cosines are
    bit-identical (same IEEE ops in the same order — see the helper's
    parity argument) and the output is row-identical (parity-pinned);
    dirty corpora fall back to the classic row stream, whose NULL/NaN
    semantics numpy does not replicate. True forces it (raises on the
    probe instead of falling back), False pins the classic plan.
    """
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    if local_prune == "auto":
        local_prune = not _is_local_master(spark)
    elif not isinstance(local_prune, bool):
        raise ValueError(
            f"local_prune must be True, False or 'auto', got "
            f"{local_prune!r}"
        )
    if block_gemm not in (True, False, "auto"):
        raise ValueError(
            f"block_gemm must be True, False or 'auto', got "
            f"{block_gemm!r}"
        )
    cents, cent_arr = _index_centroids(spark, path)
    if not cents:  # empty centroid table
        return _empty_topk(queries, id_col)
    n_cents = len(cents)
    scored = None
    if block_gemm in (True, "auto"):
        scored = _ivf_block_topk(
            spark, path, queries, k, n_probe, id_col, vec_col,
            exclude_self, min_cosine, cent_arr, n_cents,
            dim=len(cents[0]["v"]), force=block_gemm is True,
        )
        if scored is None and block_gemm is True:
            raise ValueError(
                "block_gemm=True needs uniform-width vectors with no "
                "NULL/NaN element on both sides — the clean probe "
                "failed; use block_gemm='auto' (or False) to route "
                "dirty corpora down the classic row stream"
            )
    if scored is not None:
        # the block prune already applied exclude_self / min_cosine
        # and keeps ≤ k rows per (query, centroid-block); the rank tail
        # runs the exact global rank over the pruned survivors
        local_prune = False
    else:
        scored = _ivf_scored_stream(
            spark, path, queries, n_probe, id_col, vec_col,
            _cent_arr=cent_arr, _n_cents=n_cents,
        )
        if min_cosine is not None:
            scored = scored.filter(F.col("cosine") >= F.lit(min_cosine))
    return _rank_topk(scored, k, exclude_self, prune=local_prune)


def knn_join_pq(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 2,
    n_candidates: int | None = None,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
    adc: str = "auto",
) -> DataFrame:
    """Bulk two-stage k-NN join — `cosine_topk_ivf_pq_rerank`'s
    semantics (PQ codes select ``n_candidates`` per query, exact
    cosine over their full-precision vectors decides the final
    top-k) at `knn_join`'s scale contract: queries may be the ENTIRE
    corpus, and nothing but the centroid/codebook tables (both ≤
    a few thousand rows by construction) ever touches the driver.

    Why this exists next to `knn_join`: the exact bulk path reads
    every probed list's full ``uvec`` (8·dim bytes/row — at 768-dim
    that is the dominant IO at 100 TB). Stage 1 here reads ONLY
    (id, codes, rn2) — m bytes + a double per candidate, a ~50-100×
    scan reduction — and stage 2 re-reads ``uvec`` for just the
    surviving ``n_candidates`` per query via the candidate join (id
    pushdown by join, the rerank="join" strategy; AQE broadcasts the
    candidate side when it is small).

    Plan shape: stage 1 = per-query ADC lookup tables (m·n_codes
    dots against the broadcast codebook literal, computed map-side —
    carrying the table through the ONE centroid shuffle join costs
    ~m·n_codes doubles per probe row but makes per-pair scoring m
    lookups instead of dim multiplies), then ``_rank_topk`` with its
    Arrow pre-prune cuts to n_candidates. Stage 2 = candidates ⋈
    lists(uvec) ⋈ queries, exact dot, ``_rank_topk`` again. Same
    rounding (6 dp) and tie-break as the interactive PQ path, so the
    candidate set is IDENTICAL to cosine_topk_ivf_pq_rerank's at equal
    parameters (parity-pinned).
    """
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    if n_candidates is None:
        n_candidates = max(10 * k, 50)
    if n_candidates < k:
        raise ValueError("n_candidates must be >= k")
    cents, cent_arr = _index_centroids(spark, path)
    if not cents:
        # empty index: a PQ build over an empty corpus writes an empty
        # pq_codebooks sidecar, indistinguishable from "no sidecar" —
        # the empty-result contract must win over the missing-PQ raise
        # (degenerate-corpus rule, r6 VERDICT item 5)
        return _empty_topk(queries, id_col)
    cb = _load_codebooks(spark, path)
    if cb is None:
        raise ValueError(
            f"index at {path} has no pq_codebooks — rebuild with "
            "build_ivf_index(..., pq_m=) or use knn_join (exact)"
        )
    if n_probe == "all":
        n_probe = len(cents)
    d = len(cb[0][0])
    qv = _unit(_to_double(F.col(vec_col)))

    n_codes = len(cb[0])
    if adc == "auto":
        # The per-query ADC table is m x n_codes doubles CARRIED
        # THROUGH the centroid shuffle join and materialized per
        # JOINED ROW — at 8-bit codebooks (32 x 256 = 64 KB/row) that
        # multiplies the join's row-buffer traffic by the candidate
        # count and dominated a measured r14 rehearsal (SCALE.md).
        # "recon" ships the dim-double query vector instead and
        # evaluates each table entry lazily per pair (bit-identical
        # arithmetic: the same dot over the same operands); choose it
        # whenever the table (m·n_codes doubles) is wider than the
        # vector (m·d doubles), i.e. n_codes > d.
        adc = "recon" if n_codes > d else "table"
    if adc not in ("table", "recon"):
        raise ValueError(
            f"adc must be 'table', 'recon' or 'auto', got {adc!r}"
        )

    cb_prep, cb_entry, cb_drop = _cb_expr(spark, cb)

    def qtable_for(s: int) -> Column:
        # iterate code INDICES so both codebook strategies share one
        # form; dot operands/order identical to the literal transform.
        # References the ALIASED _qv column — a captured unit(...)
        # expression re-evaluates per lambda iteration (O(dim²·codes)
        # per row, measured r14)
        return F.transform(
            F.sequence(F.lit(0), F.lit(n_codes - 1)),
            lambda j: dot(
                F.slice(F.col("_qv"), s * d + 1, d), cb_entry(s, j)
            ),
        )

    stage1_cols = (
        # FLAT m*n_codes layout — scalar element_at per pair (the
        # nested form copies a subspace row per term per pair)
        [
            F.flatten(
                F.array(*[qtable_for(s) for s in range(len(cb))])
            ).alias("_qt")
        ]
        if adc == "table"
        else [F.col("_qv").alias("_q")]
    )
    q_base = (
        (
            cb_prep(queries.filter(F.col(vec_col).isNotNull()))
            if adc == "table"
            else queries.filter(F.col(vec_col).isNotNull())
        )
        .select(
            F.col(id_col).alias("query_id"),
            qv.alias("_qv"),
            *(cb_drop if adc == "table" else []),
        )
        .select("query_id", *stage1_cols, "_qv")
        .withColumn("centroid", _probe_lists(cent_arr, n_probe))
        .drop("_qv")  # codes-only stage: never shuffle a second copy
    )
    lists = _read_lists(
        spark, path, columns=["centroid", "id", "codes", "rn2"]
    )
    sdot = F.lit(0.0)
    for s in range(len(cb)):
        if adc == "table":
            sdot = sdot + F.element_at(
                F.col("_qt"),
                F.lit(s * n_codes)
                + F.element_at(F.col("codes"), s + 1)
                + 1,
            )
        else:
            # the SAME dot the table entry holds, evaluated lazily:
            # dot(q_subvector, codebook[s][code]) — operands and
            # order identical, so results are bit-equal to "table"
            sdot = sdot + dot(
                F.slice(F.col("_q"), s * d + 1, d),
                cb_entry(s, F.element_at(F.col("codes"), s + 1)),
            )
    joined = q_base.join(lists, "centroid")
    if adc == "recon" and cb_drop:
        # attach the broadcast codebook row AFTER the shuffle join:
        # the one-row nested-loop broadcast fuses into the projection
        # stage below, so no shuffle ever carries the codebook column
        # (attaching it to q OOMed — it became per-joined-row data)
        joined = cb_prep(joined)
    scored = joined.select(
        "query_id",
        F.col("id").alias("neighbor_id"),
        # same 6-dp rounding as the interactive PQ path — the
        # candidate sets must be identical at equal parameters
        F.round(sdot / F.sqrt(F.col("rn2")), 6).alias("approx_cosine"),
    )
    cand = _rank_topk(
        scored, n_candidates, exclude_self, "approx_cosine", prune=True
    )
    vecs = _read_lists(spark, path, columns=["id", "uvec"]).select(
        F.col("id").alias("neighbor_id"), "uvec"
    )
    q2 = _unit_vecs(
        queries.filter(F.col(vec_col).isNotNull()), id_col, vec_col
    )
    rescored = (
        cand.join(vecs, "neighbor_id")
        .join(q2, "query_id")
        .select(
            "query_id",
            "neighbor_id",
            dot_attrs("_qv", "uvec").alias("cosine"),
        )
    )
    return _rank_topk(rescored, k, exclude_self)


def _hadoop_exists(spark, p: str) -> bool:
    jvm = spark._jvm
    hp = jvm.org.apache.hadoop.fs.Path(p)
    fs = hp.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs.exists(hp)


def _load_codebooks(spark, path: str):
    """The index's persisted PQ codebooks as the nested-list form
    pq_encode_col expects, or None when the index carries no PQ
    sidecar."""
    if not _hadoop_exists(spark, f"{path}/pq_codebooks"):
        return None
    rows = parquet_plan(spark, f"{path}/pq_codebooks").collect()
    return _codebooks_of(rows) if rows else None


def _codebooks_of(rows) -> list:
    """Collected (s, j, cv) codebook rows → ``cb[s][j]`` vectors."""
    by_s: dict = {}
    for r in rows:
        by_s.setdefault(r["s"], {})[r["j"]] = list(r["cv"])
    return [[by_s[s][j] for j in sorted(by_s[s])] for s in sorted(by_s)]


def _assign_rows(
    df: DataFrame, cent_arr: Column, cb, id_col: str, vec_col: str
) -> DataFrame:
    """(id, uvec, centroid[, codes, rn2]) assignment projection against
    the literal centroid array — map-only, shared by batch append and
    streaming delta ingest."""
    out = _unit_vecs(df, id_col, vec_col, "id", "uvec").withColumn(
        "centroid", _nearest_centroids(F.col("uvec"), cent_arr, 1)[0]["cid"]
    )
    if cb is not None:
        out = out.withColumn(
            "codes", pq_encode_col(F.col("uvec"), cb)
        ).withColumn("rn2", _pq_recon_norm2(F.col("codes"), cb))
    return out


def _read_lists(
    spark, path: str, probed=None, columns=None
) -> DataFrame:
    """Every vector the index at ``path`` holds: the centroid-
    partitioned base lists UNION the streaming ``delta`` tier (see
    streaming_ivf_ingest) when present. ``probed`` prunes base
    partitions statically; the delta gets only a row filter on its
    centroid COLUMN — correct, but unpruned, which is the documented
    reason the delta must stay small relative to base (absorb or
    recluster folds it in)."""
    from pyspark.errors import AnalysisException

    base = parquet_plan(spark, f"{path}/lists")
    frames = [base]
    if _hadoop_exists(spark, f"{path}/delta"):
        try:
            frames.append(
                # drop ignores absent columns, so both the flat
                # batch=<epoch> layout and the run-namespaced
                # run=<ckpt-id>/batch=<epoch> layout read cleanly
                parquet_plan(spark, f"{path}/delta").drop("batch", "run")
            )
        except AnalysisException:
            # delta dir exists but holds no readable data (failed
            # first epoch write, manual cleanup) — same as no delta
            pass
    out = None
    for fr in frames:
        if probed is not None:
            fr = fr.filter(F.col("centroid").isin(probed))
        if columns is not None:
            fr = fr.select(*columns)
        out = fr if out is None else out.unionByName(fr)
    return out


def append_to_ivf_index(
    df: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incrementally add vectors to an EXISTING IVF index: assign each
    new row against the index's STORED centroids (never recomputed —
    queries stay consistent with every earlier list) and append to the
    centroid-partitioned lists. If the index carries PQ codebooks the
    appended rows are PQ-encoded against them too, so the compressed
    query paths keep seeing every vector. The vector-side analogue of
    streaming_phrase_index's incremental maintenance; for HIGH-
    FREQUENCY micro-batch ingest use streaming_ivf_ingest instead (a
    partitioned append touches every assigned partition dir per call —
    fine occasionally, small-file churn when streamed).

    Drift caveat, by design: centroids are frozen at build time, so if
    the appended data's distribution shifts far from the original
    corpus its clusters grow unbalanced and probe recall degrades —
    the standard IVF tradeoff. recluster_ivf_index rebuilds a fresh
    generation when the corpus has grown or shifted materially;
    `needs_recluster` is the trigger and `ivf_list_sizes` the audit.
    """
    spark = df.sparkSession
    cents = parquet_plan(spark, f"{path}/centroids").collect()
    if not cents:
        raise ValueError(
            f"append_to_ivf_index: no centroids at {path!r} — the index "
            "was built from an empty corpus; rebuild with build_ivf_index"
        )
    cent_arr = _centroid_literal(
        [{"centroid_id": r["centroid_id"], "_cent": r["v"]} for r in cents]
    )
    cb = _load_codebooks(spark, path)
    _assign_rows(df, cent_arr, cb, id_col, vec_col).write.mode(
        "append"
    ).partitionBy("centroid").parquet(f"{path}/lists")


#: needs_absorb() default: fold the delta once it exceeds this
#: fraction of the index — delta reads are row-filtered, not
#: partition-pruned, so query cost grows with delta share.
DEFAULT_ABSORB_FRACTION = 0.10


def needs_absorb(
    spark, path: str, max_fraction: float = DEFAULT_ABSORB_FRACTION
) -> bool:
    """True when the streaming delta tier holds more than
    ``max_fraction`` of the index's vectors — the documented trigger
    for absorb_ivf_delta (the delta is unioned into every query with
    only a row-level centroid filter, so its share is pure query-cost
    overhead). Row counts only — no vector data read. False when no
    delta exists."""
    from pyspark.errors import AnalysisException

    if not _hadoop_exists(spark, f"{path}/delta"):
        return False
    try:
        n_delta = read_parquet(spark, f"{path}/delta").count()
    except AnalysisException:
        # delta dir exists but holds no readable data (failed first
        # epoch write, manual cleanup) — nothing to absorb
        return False
    if n_delta == 0:
        return False
    n_base = parquet_plan(spark, f"{path}/lists").count()
    return n_delta > max_fraction * (n_base + n_delta)


def absorb_ivf_delta(
    spark, path: str, fresh_path: str, mode: str = "error"
) -> None:
    """Fold the streaming ``delta`` tier into the centroid-partitioned
    base, writing the merged single-tier index at ``fresh_path``
    (centroids + codebooks copied verbatim — assignments don't change,
    so queries against the fresh generation return identical rows with
    full partition pruning restored). Same fresh-path + repoint
    contract as compact_phrase_index: never rewrite in place. The
    running ingest stream keeps writing delta batches under ``path``
    untouched; epochs ingested after the absorb cut simply ride until
    the next cycle."""
    if not _hadoop_exists(spark, f"{path}/delta"):
        raise ValueError(f"no delta tier at {path!r} — nothing to absorb")
    read_parquet(spark, f"{path}/centroids").write.mode(mode).parquet(
        f"{fresh_path}/centroids"
    )
    if _hadoop_exists(spark, f"{path}/pq_codebooks"):
        read_parquet(spark, f"{path}/pq_codebooks").write.mode(
            mode
        ).parquet(f"{fresh_path}/pq_codebooks")
    _read_lists(spark, path).write.mode(mode).partitionBy(
        "centroid"
    ).parquet(f"{fresh_path}/lists")


def ivf_list_sizes(spark, path: str) -> DataFrame:
    """(centroid, size) per inverted list — the skew audit for an IVF
    index (append drift, degenerate clusters), delta tier included.
    One metadata-cheap groupBy over the lists' partition column (plus
    the delta's centroid column when a stream is feeding the index)."""
    return (
        _read_lists(spark, path, columns=["centroid"])
        .groupBy("centroid")
        .agg(F.count(F.lit(1)).alias("size"))
        .orderBy(F.col("size").desc(), "centroid")
    )


#: needs_recluster() default: recluster once the LARGEST inverted list
#: exceeds this multiple of the mean list size. 4× means a single
#: probe of the fat list costs what 4 average probes should — recall
#: per probe has degraded materially, and at fixed n_probe the fat
#: list dominates query latency (list scan cost is linear in size).
DEFAULT_RECLUSTER_SKEW = 4.0

#: needs_recluster() floor: indexes under this many total vectors
#: never trigger (tiny lists are noisily skewed; a rewrite buys
#: nothing).
MIN_RECLUSTER_ROWS = 1024


def skew_triggered(
    sizes: list[int],
    n_centroids: int,
    skew_factor: float = DEFAULT_RECLUSTER_SKEW,
    min_rows: int = MIN_RECLUSTER_ROWS,
) -> bool:
    """The pure drift rule behind needs_recluster, for callers that
    already hold the list sizes (e.g. the ivf-maintain CLI audits and
    decides from ONE scan)."""
    if not sizes:
        return False
    total = sum(sizes)
    if total < min_rows:
        return False
    mean = total / max(n_centroids, 1)
    return max(sizes) > skew_factor * mean


def needs_recluster(
    spark,
    path: str,
    skew_factor: float = DEFAULT_RECLUSTER_SKEW,
    min_rows: int = MIN_RECLUSTER_ROWS,
) -> bool:
    """True when the IVF index at ``path`` has drifted: the largest
    inverted list exceeds ``skew_factor`` × the mean list size (mean
    taken over the BUILT centroid count, so emptied-out lists count as
    drift too). The documented trigger for recluster_ivf_index — the
    vector-side twin of index.needs_compaction (call between append
    batches or from a maintenance cron). Cost: one groupBy over the
    lists' centroid partition column plus a centroid count — no vector
    data is read. Indexes under ``min_rows`` total vectors never
    trigger (tiny lists are noisily skewed and a rewrite buys
    nothing)."""
    sizes = [r["size"] for r in ivf_list_sizes(spark, path).collect()]
    if not sizes or sum(sizes) < min_rows:
        return False  # short-circuit before the centroids read
    n_cent = read_parquet(spark, f"{path}/centroids").count()
    return skew_triggered(sizes, n_cent, skew_factor, min_rows)


def maintain_ivf_index(
    spark,
    path: str,
    fresh_path: str,
    skew_factor: float = DEFAULT_RECLUSTER_SKEW,
    absorb_fraction: float = DEFAULT_ABSORB_FRACTION,
    n_centroids: int | None = None,
) -> str:
    """The maintenance-cron body: check both triggers and perform the
    strongest indicated action, writing any new generation at
    ``fresh_path``. Returns what happened:

    - ``"reclustered"`` — skew tripped needs_recluster: k-means re-fit
      rewrite (consumes any delta as a side effect);
    - ``"absorbed"`` — delta share tripped needs_absorb only:
      fold the delta into a fresh single-tier generation;
    - ``"ok"`` — neither trigger fired; NOTHING was written and the
      caller must NOT repoint readers to ``fresh_path``.

    Recluster wins when both fire — it is the superset action. One
    decision pass: one lists scan (delta included via _read_lists),
    one delta-only count, one centroids count — both verdicts derive
    from those three numbers, nothing is re-scanned. (The ivf-maintain
    CLI verb reports the same trigger verdicts but only acts under
    explicit --absorb-to / --recluster-to — operators choose when
    generations swap.)"""
    from pyspark.errors import AnalysisException

    sizes = [r["size"] for r in ivf_list_sizes(spark, path).collect()]
    n_cent = read_parquet(spark, f"{path}/centroids").count()
    if skew_triggered(sizes, n_cent, skew_factor=skew_factor):
        recluster_ivf_index(
            spark, path, fresh_path, n_centroids=n_centroids
        )
        return "reclustered"
    n_delta = 0
    if _hadoop_exists(spark, f"{path}/delta"):
        try:
            n_delta = read_parquet(spark, f"{path}/delta").count()
        except AnalysisException:
            n_delta = 0
    if n_delta > absorb_fraction * sum(sizes):
        absorb_ivf_delta(spark, path, fresh_path)
        return "absorbed"
    return "ok"


def recluster_ivf_index(
    spark,
    path: str,
    fresh_path: str,
    n_centroids: int | None = None,
    n_iter: int = 2,
    mode: str = "error",
) -> None:
    """Rebuild a drifted IVF index into ``fresh_path`` with Lloyd-
    refined centroids: re-fit (clustering.kmeans_fit — ``n_iter``
    assign+update rounds from the deterministic hash seeds, one
    bounded shuffle each) over the CURRENT lists, re-assign every
    vector, and rewrite centroids + centroid-partitioned lists. If the
    source index carries PQ sidecars (``pq_codebooks`` + codes/rn2
    list columns), the codebooks are re-fit over the current vectors
    at the same (m, n_codes) and the codes re-encoded — append drift
    is exactly when frozen codebooks go stale too.

    Like compact_phrase_index, ALWAYS rewrites into a FRESH path and
    the caller repoints readers afterwards: rebuilding in place would
    have Spark overwrite the very partitions it is reading. The corpus
    is never re-scanned — the lists' stored unit vectors ARE the data
    (PQ re-encoding on unit vectors is cosine-equivalent: queries
    score dot(q, recon)/sqrt(rn2), norm-invariant).

    Centroids from kmeans are means, not corpus rows, so the rebuilt
    index serves the INDEXED query paths (cosine_topk_ivf_indexed /
    _pq_indexed / _pq_rerank, which read centroids from the index);
    row-parity with the UNINDEXED cosine_topk_ivf(corpus, …) — whose
    contract is the deterministic-sample rule — no longer applies.
    With ``n_probe = n_centroids`` both generations still return
    identical rows (every list is scanned; pinned in
    tests/test_similarity.py).

    ``n_centroids`` defaults to auto_ncentroids(current row count) —
    reclustering after heavy appends also RESIZES the index, which a
    centroid-preserving rebalance cannot.
    """
    from pyspark.errors import AnalysisException

    try:
        # _read_lists: the streaming delta tier is consumed by the
        # rebuild too — recluster doubles as the absorb
        lists = _read_lists(spark, path)
        n_rows = lists.count()
    except AnalysisException:
        # an empty-built index writes a schemaless lists dir — same
        # degenerate case as zero rows
        n_rows = 0
    if n_rows == 0:
        raise ValueError(
            f"recluster_ivf_index: no vectors at {path!r}/lists — "
            "rebuild from the corpus with build_ivf_index instead"
        )
    k = n_centroids if n_centroids is not None else auto_ncentroids(n_rows)
    from wimbd_spark.operators.clustering import kmeans_fit

    corpus = lists.select("id", "uvec")
    fitted = kmeans_fit(
        corpus, n_clusters=k, n_iter=n_iter, id_col="id", vec_col="uvec"
    )
    cent_arr = _centroid_literal(
        [{"centroid_id": cid, "_cent": v} for cid, v in fitted]
    )
    cb = None
    # _load_codebooks (not a raw read) so an existing-but-EMPTY
    # pq_codebooks dir means "no PQ sidecar" here exactly as it does
    # on the query path (r12 ADVICE: agg(max)+1 on an empty frame
    # raised TypeError where _load_codebooks returns None)
    old_cb = _load_codebooks(spark, path)
    if old_cb is not None:
        m = len(old_cb)
        n_codes = len(old_cb[0])
        cb = pq_codebooks(
            corpus, m=m, n_codes=n_codes, id_col="id", vec_col="uvec"
        )
        local_frame(
            spark,
            [
                (s, j, cv)
                for s, book in enumerate(cb)
                for j, cv in enumerate(book)
            ],
            "s int, j int, cv array<double>",
        ).write.mode(mode).parquet(f"{fresh_path}/pq_codebooks")
    assigned = corpus.withColumn(
        "centroid", _nearest_centroids(F.col("uvec"), cent_arr, 1)[0]["cid"]
    )
    if cb is not None:
        assigned = assigned.withColumn(
            "codes", pq_encode_col(F.col("uvec"), cb)
        ).withColumn("rn2", _pq_recon_norm2(F.col("codes"), cb))
    local_frame(
        spark,
        [(cid, list(v)) for cid, v in fitted], "centroid_id int, v array<double>"
    ).write.mode(mode).parquet(f"{fresh_path}/centroids")
    assigned.write.mode(mode).partitionBy("centroid").parquet(
        f"{fresh_path}/lists"
    )


# ------------------------------------------------------------ product
# quantization (IVF-PQ family; Jégou, Douze, Schmid 2011 — public)


def pq_codebooks(
    corpus: DataFrame,
    m: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 0,
) -> list | None:
    """``m`` per-subspace codebooks, each with ``n_codes`` entries,
    sampled DETERMINISTICALLY from the corpus: the same smallest-
    (hash32(id), id) rows as the IVF centroid pick, sliced into
    subvectors — codebook[s][j] = sample_j's s-th subvector. No Lloyd
    iterations, so the pick is reproducible across engines and cluster
    layouts (DuckDB mirrors it exactly — the same trade the IVF tier
    makes; refinement passes can be layered on identically at build
    and query time). Returns None on an empty corpus.

    Codebook size is m × n_codes × (dim/m) = n_codes × dim floats —
    literal-foldable at any realistic setting (256 codes × 1024 dims
    = 256k literals would be the ceiling; ship as a broadcast table
    past that, like the centroid rule).
    """
    if m < 1 or n_codes < 1:
        raise ValueError("m and n_codes must be >= 1")
    rows = _centroid_rows(corpus, id_col, vec_col, n_codes)
    if not rows:
        return None
    dim = len(rows[0]["_cent"])
    if dim % m:
        raise ValueError(
            f"embedding dim {dim} is not divisible by m={m} subspaces"
        )
    d = dim // m
    cb = [
        [[float(x) for x in r["_cent"][s * d : (s + 1) * d]] for r in rows]
        for s in range(m)
    ]
    for _ in range(iters):
        cb = _pq_lloyd_step(corpus, cb, vec_col)
    return cb


def _pq_lloyd_step(corpus: DataFrame, cb: list, vec_col: str) -> list:
    """One distributed Lloyd iteration over every subspace at once:
    encode with the current codebooks (map-only), explode (subspace,
    code, dim, value) and average per cell — ONE groupBy shuffle whose
    row count equals the corpus element count, aggregating down to
    m × n_codes × (dim/m) means (collected, bounded). Cells with no
    members keep their previous entry. Means are rounded to 6 dp so
    the collected codebook is stable against partition-order float
    summation; ``iters>0`` trades the bit-exact cross-engine oracle
    property of the raw sample pick for recall — the registry oracle
    stays on iters=0.
    """
    m, d = len(cb), len(cb[0][0])
    vec = _to_double(F.col(vec_col))
    enc = corpus.filter(F.col(vec_col).isNotNull()).select(
        vec.alias("_v"), pq_encode_col(vec, cb).alias("_codes")
    )
    cells = (
        enc.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(s).alias("s"),
                            F.element_at(F.col("_codes"), s + 1).alias(
                                "j"
                            ),
                            F.slice(F.col("_v"), s * d + 1, d).alias(
                                "sub"
                            ),
                        )
                        for s in range(m)
                    ]
                )
            ).alias("_c")
        )
        .select("_c.s", "_c.j", F.posexplode("_c.sub").alias("dim", "x"))
        .groupBy("s", "j", "dim")
        .agg(F.round(F.avg("x"), 6).alias("mean"))
        .collect()
    )
    new = [[list(cv) for cv in book] for book in cb]
    by_cell: dict = {}
    for r in cells:
        by_cell.setdefault((r["s"], r["j"]), {})[r["dim"]] = r["mean"]
    for (s, j), dims in by_cell.items():
        new[s][j] = [float(dims[i]) for i in range(d)]
    return new


def _qtables_nested(qv: Column, cb: list, d: int) -> Column:
    """Per-subspace ADC lookup tables (array<array<double>>):
    qtable[s][j] = dot(q subvector s, cb[s][j]) — one transform over a
    single codebook-cube literal instead of m unrolled per-subspace
    trees (the unrolled form cost ~1.4 s of py4j round trips per query
    at m=8 × n_codes=16, r15). Values and fold order identical.

    ``qv`` is BOUND once per row as a lambda variable: callers pass
    the unit-normalize subtree directly, and a captured subtree
    re-evaluates per lambda invocation — m × n_codes unit-normalize
    folds per query row otherwise (the `_unit` bug class, r15)."""
    cb_all = _lit_double_cube(cb)
    return F.element_at(
        F.transform(
            F.array(qv),
            lambda q: F.transform(
                F.sequence(F.lit(0), F.lit(len(cb) - 1)),
                lambda s: F.transform(
                    F.element_at(cb_all, s + 1),
                    lambda cv: dot(F.slice(q, s * F.lit(d) + 1, d), cv),
                ),
            ),
        ),
        F.lit(1),
    )


def _cb_literal(book: list) -> Column:
    """One subspace codebook as a literal array<array<double>> — a
    single plan node, so downstream argmin/dot run as ONE transform
    over it (index-aware lambda) instead of n_codes unrolled
    expression trees. The unrolled form compiled ~6 s of fixed plan
    overhead at m=8, n_codes=16 (measured r8); this form is
    corpus-size-bound instead."""
    return _lit_double_matrix(book)


#: Above this many total codebook doubles, the literal form's plan
#: tree itself becomes the bottleneck (r14 rehearsal: m=32 ×
#: n_codes=256 × d=8 = 65k literals cost ~100 s of analysis/codegen
#: PER STAGE and poisoned every downstream job) — ship the codebooks
#: as DATA instead: one broadcast row, element_at lookups.
_CB_LITERAL_MAX_DOUBLES = 4096

#: cosine_topk_ivf_pq_indexed's wide-codebook strategy builds the ADC
#: lookup tables on the DRIVER (the interactive contract — it already
#: collects the probed-centroid set), so the query side must stay
#: small: above this many query rows the collect would silently OOM
#: the driver, and the bulk corpus-as-queries shape belongs in
#: `knn_join_pq` (recon ADC, zero driver candidate state) — raise
#: loudly instead.
_ADC_WIDE_MAX_QUERIES = 10_000


def _cb_expr(spark, cb: list):
    """Strategy shim for referencing the PQ codebooks in expressions:
    returns ``(prep, entry_for, cleanup)`` where ``prep(df)`` attaches
    whatever the strategy needs to ``df``, ``entry_for(s, code)`` is
    the d-double codeword Column for 0-based ``code`` (a Column) in
    subspace ``s``, and ``cleanup`` names columns to drop afterwards.

    Small codebooks stay plan literals (zero join, measured cheaper
    at m=8/n_codes=16). Wide ones ride ONE broadcast row as a FLAT
    array<double>: the plan stays O(m) nodes regardless of n_codes,
    and each lookup is a d-element slice — NOT element_at on a nested
    array, which copies the whole 2048-double subspace array per
    evaluated pair (measured r14: that copy capped bulk scoring at
    ~14k pairs/s; the flat slice removes it)."""
    n_codes, d = len(cb[0]), len(cb[0][0])
    total = sum(len(book) * len(book[0]) for book in cb)
    if total <= _CB_LITERAL_MAX_DOUBLES:
        return (
            (lambda df: df),
            (
                lambda s, code: F.element_at(
                    _cb_literal(cb[s]), code + 1
                )
            ),
            [],
        )
    flat = [
        float(x) for book in cb for cv in book for x in cv
    ]
    cb_df = local_frame(spark, [(flat,)], "_cbflat array<double>")

    def entry_for(s: int, code: Column) -> Column:
        return F.slice(
            F.col("_cbflat"),
            (F.lit(s * n_codes) + code) * F.lit(d) + F.lit(1),
            d,
        )

    return (
        lambda df: df.crossJoin(F.broadcast(cb_df)),
        entry_for,
        ["_cbflat"],
    )


def pq_encode_col(vec: Column, codebooks: list) -> Column:
    """PQ code array for a vector Column: code[s] = argmin_j of the
    squared L2 distance between the s-th subvector and codebook[s][j]
    (ties → smallest j). Pure collection expressions — the codebook
    folds into the plan as literals; encoding is map-only."""
    m = len(codebooks)
    d = len(codebooks[0][0])
    # all subspaces in ONE transform over a single codebook-cube
    # literal: the previous per-subspace unrolling rebuilt the same
    # lambda tree m times through py4j (~0.5 s per call at m=8, r15);
    # per-element values and tie-breaks are identical.
    cb_all = _lit_double_cube(codebooks)

    def code_for(s: Column) -> Column:
        sub = F.slice(vec, s * F.lit(d) + 1, d)
        scored = F.transform(
            F.element_at(cb_all, s + 1),
            lambda cv, j: F.struct(
                F.aggregate(
                    F.zip_with(
                        sub, cv, lambda x, y: (x - y) * (x - y)
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ).alias("dist"),
                j.alias("j"),
            ),
        )
        return F.array_sort(scored)[0]["j"]

    return F.transform(F.sequence(F.lit(0), F.lit(m - 1)), code_for)


def _pq_recon_norm2(codes: Column, codebooks: list) -> Column:
    """|x̂|² of the PQ reconstruction — decomposes as Σ_s |cb[s][code_s]|²
    (subspaces are orthogonal coordinate blocks)."""
    norms = _lit_double_matrix(
        [
            [float(sum(x * x for x in cv)) for cv in book]
            for book in codebooks
        ]
    )
    # one aggregate over the subspace indexes — same left-to-right
    # fold order as the unrolled "+" chain (bit-identical doubles)
    return F.aggregate(
        F.sequence(F.lit(0), F.lit(len(codebooks) - 1)),
        F.lit(0.0),
        lambda acc, s: acc
        + F.element_at(
            F.element_at(norms, s + 1), F.element_at(codes, s + 1) + 1
        ),
    )


def cosine_topk_pq(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 3,
    m: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
    exclude_self: bool = True,
    iters: int = 0,
) -> DataFrame:
    """Approximate top-k cosine neighbors via PRODUCT QUANTIZATION →
    (query_id, neighbor_id, approx_cosine, rank). The billion-vector
    memory recipe (IVF-PQ's PQ half): each corpus vector is stored as
    ``m`` small codes (m bytes at n_codes ≤ 256) instead of dim
    floats, and scoring is asymmetric — the query stays exact, the
    corpus side is its reconstruction:

        cos(q, x̂) = Σ_s qtableₛ[codeₛ] / (|q| · |x̂|)

    with qtableₛ[j] = q_subₛ · cb[s][j] (m × n_codes dot products per
    QUERY, built as literal lookup arrays) and |x̂|² = Σ_s |cb[s][codeₛ]|²
    (a per-corpus-row lookup). The corpus scan touches ONLY (id,
    codes, recon-norm) — at 100 TB that is a ~dim×4/m-fold read
    reduction, and the codes column can be persisted alongside the IVF
    partitioning for the full IVF-PQ read path. approx_cosine is
    rounded to 6 dp and ranked on the rounded value by
    ``_rank_topk`` (deterministic cross-engine ordering).

    Exactness: results are approximate in RECALL (the reconstruction
    reorders near-ties); the exact twin is cosine_topk. Oracle
    strategy mirrors the IVF tier: the deterministic codebook makes
    the whole pipeline reproducible in SQL, so correctness is gated
    bit-for-bit on the approximate semantics itself, not on a recall
    bound.
    """
    cb = pq_codebooks(corpus, m, n_codes, id_col, vec_col, iters=iters)
    if cb is None:
        return _empty_topk(
            queries, query_id_col or id_col, corpus, id_col,
            keep="approx_cosine double",
        )
    d = len(cb[0][0])
    qid = query_id_col or id_col
    enc = corpus.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("neighbor_id"),
        pq_encode_col(_to_double(F.col(vec_col)), cb).alias("_codes"),
    )
    enc = enc.withColumn("_rn2", _pq_recon_norm2(F.col("_codes"), cb))

    qv = _unit(_to_double(F.col(vec_col)))
    qtables = _qtables_nested(qv, cb, d)
    q = F.broadcast(
        queries.filter(F.col(vec_col).isNotNull()).select(
            F.col(qid).alias("query_id"), qtables.alias("_qt")
        )
    )
    sdot = F.lit(0.0)
    for s in range(len(cb)):
        sdot = sdot + F.element_at(
            F.element_at(F.col("_qt"), s + 1),
            F.element_at(F.col("_codes"), s + 1) + 1,
        )
    scored = q.crossJoin(enc).select(
        "query_id",
        "neighbor_id",
        F.round(sdot / F.sqrt(F.col("_rn2")), 6).alias("approx_cosine"),
    )
    return _rank_topk(
        scored, k, exclude_self, "approx_cosine", ("approx_cosine",)
    )
