"""Unpartitioned-window plan lint over the ENTIRE query registry.

A ``Window`` with no ``partitionBy`` moves every input row to ONE
partition — fine when the input is already bounded (the engine's two
sanctioned shapes: rank over a post-``limit`` top-k of ≤k rows, and
rank over a per-group ``Aggregate`` whose group count is small), fatal
when it sneaks in front of corpus-scale data. The driver bench tail
prints the same ``WindowExec: No Partition Defined`` warning for both
cases, so by r8/r9 the 9 benign sites could only be told apart by
hand-auditing (VERDICT r8 item 7 / r9 item 5). This test is that audit,
mechanized: walk every registry query's OPTIMIZED logical plan; for
each Window node with an empty partition spec, require a boundedness
witness — a ``GlobalLimit``/``LocalLimit`` or an ``Aggregate`` —
somewhere below it in the same subtree. A future unpartitioned window
slapped directly on a scan/join output fails loudly with the query
name and the offending subtree.

The same walk also fails any query whose plan reads an RDD with a
PythonRDD in its lineage — a frame built from a Python list, which
re-pickles its rows in a Python worker on every execution (driver-side
rows go through ``session.local_frame``).

The walk is plan-only (no job runs for the lint itself; queries whose
CONSTRUCTION runs bounded prep jobs — index builds, model fits — run
them exactly as the driver does).
"""

import pytest

SF = "/root/testdata/sf0.001"


def _children(jnode):
    seq = jnode.children()
    return [seq.apply(i) for i in range(seq.size())]


def _iter_nodes(jnode):
    stack = [jnode]
    while stack:
        n = stack.pop()
        yield n
        stack.extend(_children(n))


def _bounded_below(jnode) -> bool:
    """True iff some descendant is a row-count-bounding operator."""
    for n in _iter_nodes(jnode):
        if n is jnode:
            continue
        cls = n.getClass().getSimpleName()
        if cls in ("GlobalLimit", "LocalLimit", "Aggregate"):
            return True
    return False


def _lint_plan(name: str, df) -> list[str]:
    plan = df._jdf.queryExecution().optimizedPlan()
    bad = []
    for n in _iter_nodes(plan):
        if n.getClass().getSimpleName() != "Window":
            continue
        if n.partitionSpec().size() > 0:
            continue
        if not _bounded_below(n):
            bad.append(
                f"{name}: unbounded no-partition Window\n{n.toString()}"
            )
    return bad


def _iter_with_inner(jnode):
    """Every node, descending into inner plans too (a persisted
    subtree's cached physical plan, subqueries)."""
    stack = [jnode]
    while stack:
        n = stack.pop()
        yield n
        stack.extend(_children(n))
        inner = n.innerChildren()
        stack.extend(inner.apply(i) for i in range(inner.size()))


def _lint_python_rdd(name: str, df) -> list[str]:
    """A list-built frame (``spark.createDataFrame(<list>)``) is an RDD
    whose lineage holds a PythonRDD: every execution starts a Python
    worker to re-pickle its rows. Driver-side rows must go through
    ``session.local_frame`` instead."""
    plan = df._jdf.queryExecution().optimizedPlan()
    bad = []
    for n in _iter_with_inner(plan):
        if n.getClass().getSimpleName() not in ("LogicalRDD", "RDDScanExec"):
            continue
        lineage = n.rdd().toDebugString()
        if "PythonRDD" in lineage:
            bad.append(f"{name}: Python-built RDD in the plan\n{lineage}")
    return bad


def test_registry_has_no_unbounded_global_windows(spark):
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    import __spark_entry__ as entry

    offenders: list[str] = []
    checked = 0
    windows_seen = 0
    qs = dict(entry.queries())
    qs.update(entry.bench_only_queries())
    for name, fn in qs.items():
        df = fn(spark, SF)
        plan = df._jdf.queryExecution().optimizedPlan()
        for n in _iter_nodes(plan):
            if n.getClass().getSimpleName() == "Window":
                windows_seen += 1
        offenders.extend(_lint_plan(name, df))
        offenders.extend(_lint_python_rdd(name, df))
        checked += 1
    assert checked >= 50
    # the lint must actually be exercising Window sites, not
    # vacuously passing because optimization rewrote them all away
    assert windows_seen >= 5, windows_seen
    assert not offenders, "\n\n".join(offenders)


def test_lint_catches_a_planted_unbounded_window(spark):
    """Negative control: the lint must flag a global rank over an
    unbounded scan (else the registry assertion proves nothing)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    w = Window.orderBy(F.col("n_chars").desc())
    df = docs.withColumn("r", F.row_number().over(w))
    assert _lint_plan("planted", df)


def test_lint_accepts_post_limit_rank(spark):
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    top = docs.orderBy(F.col("n_chars").desc()).limit(5)
    w = Window.orderBy(F.col("n_chars").desc())
    df = top.withColumn("r", F.row_number().over(w))
    assert not _lint_plan("post_limit", df)


def test_lint_catches_a_list_built_frame(spark):
    """Negative control for the PythonRDD lint, and its pass case."""
    from wimbd_spark.session import local_frame

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    listed = spark.createDataFrame([(1,), (2,)], "doc_id long")
    assert _lint_python_rdd("planted", docs.join(listed, "doc_id"))
    cached = listed.persist()
    try:
        assert _lint_python_rdd("planted_cached", docs.join(cached, "doc_id"))
    finally:
        cached.unpersist()
    arrow = local_frame(spark, [(1,), (2,)], "doc_id long")
    assert not _lint_python_rdd("arrow", docs.join(arrow, "doc_id"))
