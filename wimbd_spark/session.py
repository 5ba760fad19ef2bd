"""SparkSession factory + catalog helpers.

Parity: wimbd/es/__init__.py:20-86 (`es_init` session setup, `get_indices`
listing) — our "cluster connection" is a SparkSession and our "indices"
are catalog tables/views.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

#: The tables spread on load, with their hash key: interpreted text and
#: vector work, where one core per small file serializes the query.
#: Codegen'd relational tables cost more spread than not (SCALE.md,
#: Round 15 (optimization) item 3).
REBALANCE_KEYS = {"documents": "doc_id", "embeddings": "vec_id"}


def get_spark(
    app_name: str = "wimbd-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for corpus analytics.

    Scale-minded defaults:
    - AQE on (runtime shuffle-partition coalescing, skew-join splitting,
      broadcast conversion) — replaces the reference's hand-tuned worker
      counts (src/cmd/util.rs:127-134).
    - Arrow enabled for the pandas_udf slow path.
    - PySpark call-site capture off
      (``spark.python.sql.dataFrameDebugging.enabled=false``). When on,
      every DataFrame/Column API call costs ~8 py4j round trips and a
      Python stack walk to record where it was made; the only thing
      lost is that Python call-site fragment in analysis-error
      messages. Turn it back on with ``extra_conf``. It is a static
      conf, read once per process by PySpark on first use: it takes
      effect only in the conf of the session that is built, not on a
      running one.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = SparkSession.builder.appName(app_name).master(
        master or f"local[{cpus}]"
    )
    conf = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.shuffle.partitions": str(
            shuffle_partitions if shuffle_partitions is not None else int(cpus)
        ),
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.python.sql.dataFrameDebugging.enabled": "false",
        # Generated-code cache (static conf, default 100 entries):
        # an analytics session runs MANY distinct query shapes (the
        # ES-parity usage: one long-lived session, ad-hoc queries),
        # each producing several codegen units — at >100 live units
        # the LRU thrashes and every re-run pays full janino
        # compilation again. Sized to hold a working set of ~hundreds
        # of query shapes; cost is class metadata (MBs). Same effect
        # on any cluster (driver and executors each hold this cache).
        "spark.sql.codegen.cache.maxEntries": "4096",
        # pandas-written parquet uses TIMESTAMP(NANOS); read as long and
        # rebuild timestamps in load_tables (Spark has no ns timestamps).
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.sql.session.timeZone": "UTC",
        # local-mode quality of life; harmless on a cluster
        "spark.ui.enabled": "false",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    }
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def rebalance_small_input(df: DataFrame, key: str | None = None) -> DataFrame:
    """Spread a table read in fewer partitions than cores across them
    when route's ``spread`` gate says large, so CPU-bound text work does
    not run on one core; at real scale this is a no-op. ``key``: hash
    on this column, not round-robin (a keyless ``repartition`` sorts
    its input first; SCALE.md, Round 15 (optimization) item 3)."""
    from wimbd_spark import route

    target = df.sparkSession.sparkContext.defaultParallelism
    if (
        df.rdd.getNumPartitions() >= target
        or route.choose(df.sparkSession, "spread", df) == "small"
    ):
        return df
    return df.repartition(target, key) if key else df.repartition(target)


#: Footer key under which Spark stores the exact Spark schema of every
#: parquet file it writes.
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"

#: Arrow types whose Spark type inference is known to return exactly
#: (by ``str`` of the Arrow type). Timestamps are left out: inference
#: reads pandas-written ones as ``timestamp_ntz``, Arrow says
#: ``timestamp``. Unsigned ints, binary, decimals and dates are left
#: out because nothing here needs them.
_SPARK_OF_ARROW = {
    "int8": T.ByteType(),
    "int16": T.ShortType(),
    "int32": T.IntegerType(),
    "int64": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "string": T.StringType(),
    "bool": T.BooleanType(),
}

#: Parquet summary files. When one is present Spark reads its schema
#: from it rather than from a data file.
_SUMMARY_FILES = ("_metadata", "_common_metadata")


def read_parquet(spark: SparkSession, *paths: str) -> DataFrame:
    """``spark.read.parquet(*paths)`` without a schema-inference job.

    Spark infers a parquet schema with a Spark job (``parallelize`` +
    ``mapPartitions``, one task) that reads one footer, the first data
    file in path order (``mergeSchema`` is off). This reads that same
    footer on the driver and hands the schema to the reader, so
    opening a local table or index runs no job. The schema is the
    footer's Spark schema when Spark wrote the file, else its Arrow
    schema when every type is in ``_SPARK_OF_ARROW`` (lists and
    structs of them too). Spark makes a given file schema nullable,
    as inference does, so a non-null footer field reads nullable.

    Anything the footer cannot prove falls back to plain inference:
    non-local or glob paths, summary files, nested partition
    directories, a partition column that is also a data column, other
    types, an unreadable file, ``spark.sql.parquet.mergeSchema`` on."""
    schema = _footer_schema(spark, paths)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(*paths)


def _footer_schema(spark: SparkSession, paths):
    """The schema inference would give ``paths``, from one footer read
    on the driver, or None when it cannot be proven here."""
    import json

    import pyarrow.parquet as pq

    try:
        found = _schema_footer_file(paths)
        if found is None:
            return None
        footer, part_cols = found
        if spark.conf.get("spark.sql.parquet.mergeSchema") != "false":
            return None
        with pq.ParquetFile(footer) as pf:
            spark_json = (pf.metadata.metadata or {}).get(_SPARK_SCHEMA_KEY)
            if spark_json is not None:
                schema = T.StructType.fromJson(json.loads(spark_json))
            else:
                schema = _spark_type_of_arrow(pf.schema_arrow)
    except Exception:
        return None
    if not schema.fields or {f.name.lower() for f in schema} & part_cols:
        return None
    return schema


def _spark_hidden(name: str) -> bool:
    """Spark's file-listing filter: names it skips as not data."""
    return (
        (name.startswith("_") and "=" not in name)
        or name.startswith(".")
        or name.endswith("._COPYING_")
    )


def _schema_footer_file(paths) -> tuple[str, set[str]] | None:
    """The data file whose footer Spark's inference reads for
    ``paths`` (the first in path order; Spark sorts its leaf files)
    and the lower-cased partition column names, or None when Spark's
    choice is not certain: a non-local or glob path, a summary file, a
    directory nested past one ``col=value`` level, files beside
    partition directories, or no data file."""
    files: list[str] = []
    part_cols: set[str] = set()
    for path in paths:
        if "://" in path or path.startswith("file:") or any(
            c in path for c in "*?[]{}"
        ):
            return None
        if os.path.isfile(path):
            files.append(os.path.abspath(path))
            continue
        if len(paths) > 1:
            return None
        top: list[str] = []
        for e in list(os.scandir(path)):
            if e.name in _SUMMARY_FILES:
                return None
            if _spark_hidden(e.name):
                continue
            if not e.is_dir():
                top.append(os.path.abspath(e.path))
                continue
            col, eq, _ = e.name.partition("=")
            if not eq:
                return None
            part_cols.add(col.lower())
            for g in list(os.scandir(e.path)):
                if g.name in _SUMMARY_FILES:
                    return None
                if _spark_hidden(g.name):
                    continue
                if g.is_dir():
                    return None
                files.append(os.path.abspath(g.path))
        if top and part_cols:
            return None
        files += top
    return (min(files), part_cols) if files else None


def _spark_type_of_arrow(t):
    """The Spark type of Arrow type ``t`` (a schema reads as a
    struct); KeyError for a type outside ``_SPARK_OF_ARROW``."""
    import pyarrow as pa
    import pyarrow.types as pat

    if isinstance(t, pa.Schema) or pat.is_struct(t):
        return T.StructType(
            [T.StructField(f.name, _spark_type_of_arrow(f.type)) for f in t]
        )
    if pat.is_list(t):
        return T.ArrayType(_spark_type_of_arrow(t.value_type))
    return _SPARK_OF_ARROW[str(t)]


#: Per-process memo of lazily-planned parquet reads (the PLAN, never
#: results). A miss goes through ``read_parquet``, which runs no Spark
#: job for a local path, so it costs the footer read on the driver
#: (~0.02-0.04 s of CPU for a sf0.001 table) plus the reader's file
#: listing and plan analysis; a hit costs neither. Index-backed
#: operators issue 2-4 such reads per query. The DataFrame is
#: immutable and unexecuted — every action still computes from the
#: files. The key carries the Spark applicationId (a new session never
#: reuses a dead session's plan) and a freshness stamp of the path
#: plus its children TWO levels deep (mtime+size), which catches every
#: write pattern Spark producers have: new/removed part files change
#: the directory, partition-dir writes change that child's listing,
#: and a same-epoch rewrite INSIDE a partition dir changes the
#: grandchild entries (ADVICE r15). Deeper partition trees are not
#: memoized (a bounded stamp cannot prove their freshness). Only
#: local paths are memoized; other filesystems read fresh every call.
_PARQUET_PLAN_MEMO: dict = {}


def parquet_plan(spark: SparkSession, path: str) -> DataFrame:
    import os

    try:
        st = os.stat(path)
        entries = []
        deep_dirs = False
        for e in sorted(os.scandir(path), key=lambda e: e.name):
            est = e.stat()
            entries.append((e.name, est.st_mtime_ns, est.st_size))
            if e.is_dir():
                # partitioned layout: a same-epoch rewrite INSIDE a
                # partition dir can leave the parent mtimes unchanged
                # (ADVICE r15) — stamp one level of grandchildren too,
                # and refuse to memoize past that depth (nested
                # partition trees read fresh every call).
                for g in sorted(os.scandir(e.path), key=lambda g: g.name):
                    gst = g.stat()
                    entries.append(
                        (e.name + "/" + g.name, gst.st_mtime_ns, gst.st_size)
                    )
                    if g.is_dir():
                        deep_dirs = True
        if deep_dirs:
            return read_parquet(spark, path)
        stamp = (st.st_mtime_ns, st.st_size, tuple(entries))
    except OSError:
        return read_parquet(spark, path)
    key = (spark.sparkContext.applicationId, path)
    hit = _PARQUET_PLAN_MEMO.get(key)
    if hit is not None and hit[0] == stamp:
        return hit[1]
    df = read_parquet(spark, path)
    # One entry per (app, path): a rewrite REPLACES the stale plan
    # instead of accumulating one memo entry per historical stamp.
    _PARQUET_PLAN_MEMO[key] = (stamp, df)
    return df


#: Dataset-level ``persist()`` entries live in the JVM CacheManager
#: until an EXPLICIT ``unpersist()`` — the ContextCleaner never
#: reclaims them (it cleans unreferenced RDDs; the CacheManager holds
#: each InMemoryRelation strongly, which in turn pins the cached RDD).
#: Operators that return a LAZY plan reading a persisted intermediate
#: therefore can't release it in-call, and across a long session those
#: entries accumulate: every later query's planner compares its plan
#: tree against every live cache entry, and the stale blocks squat in
#: the block manager (measured r15: ~+8 s over a 102-query bench run,
#: with plan-heavy phrase/AC queries reading +0.3-1.2 s each).
#: ``scoped_persist`` bounds the leak: persists are registered FIFO
#: and the oldest is released once more than _SCOPED_PERSIST_CAP are
#: live. The cap (4) exceeds the largest number of concurrently-needed
#: persists in any single operator (3, neardup_components), so the
#: CURRENT query's caches always survive its own execution; entries
#: from PREVIOUS queries are evicted as new ones register. Re-running
#: an old lazy result after its cache was evicted recomputes the
#: subtree — correct, just no longer cache-accelerated.
_SCOPED_PERSIST_CAP = 4
_SCOPED_PERSISTS: list = []
# The registry is a module global shared by all driver threads;
# unsynchronized list mutation is racy and concurrent queries could
# evict each other's live entries mid-build (ADVICE r15). A lock makes
# the mutation safe; eviction of a *sibling thread's* entry remains
# possible by design (results stay correct via recompute) — callers
# running concurrent queries should size _SCOPED_PERSIST_CAP to the
# sum of their concurrent needs.
_SCOPED_PERSISTS_LOCK = threading.Lock()


def scoped_persist(df: DataFrame, level=None) -> DataFrame:
    df = df.persist() if level is None else df.persist(level)
    evicted: list = []
    with _SCOPED_PERSISTS_LOCK:
        _SCOPED_PERSISTS.append(df)
        while len(_SCOPED_PERSISTS) > _SCOPED_PERSIST_CAP:
            evicted.append(_SCOPED_PERSISTS.pop(0))
    for old in evicted:
        try:
            old.unpersist()
        except Exception:
            # a stopped/replaced SparkContext can no longer unpersist —
            # dropping the reference is all that's left to do
            pass
    return df


#: Estimates at or past this are not sizes: Long.MaxValue, or an
#: overflowing product, for a plan the optimizer cannot size (an
#: RDD-backed relation, a cross product of estimates).
_UNKNOWN_SIZE_BYTES = (2**63 - 1) // 2


def plan_size_bytes(df: DataFrame) -> int | None:
    """Optimizer size estimate of a DataFrame — driver-side plan
    statistics, NO Spark job (file-size-derived for parquet-backed
    plans). The one job-free size signal for cost gates. None if the
    probe failed or the estimate is no size; route.GATES says what
    that means per gate."""
    try:
        sz = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:
        return None
    return sz if sz < _UNKNOWN_SIZE_BYTES else None


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """A DataFrame over driver-side ``rows`` (tuples or ``Row``s, in
    ``schema`` field order), built as a ``pyarrow.Table`` so the JVM
    reads it as a local relation.

    Use this, not ``spark.createDataFrame(<list>, ...)``, for every
    frame built from Python values. On PySpark 4.1 a list-built frame
    is an RDD whose lineage holds a PythonRDD: every execution of any
    plan that reads it starts a Python-worker map to re-pickle the
    rows (~0.4 s of worker CPU plus short-lived JVM threads per call,
    even for one row, on 4 cores at ``local[2]``). An Arrow-built frame
    runs no Python worker, and the optimizer knows its size.

    ``schema`` is a StructType or a DDL string (``"a long, b string"``);
    names, types and nullability come out exactly as given. Naive
    ``datetime`` values are read as UTC."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType, _parse_datatype_string

    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    if not isinstance(schema, StructType):
        raise TypeError(f"local_frame needs a struct schema, got {schema!r}")
    arrow_schema = to_arrow_schema(schema)
    rows = list(rows)
    cols = list(zip(*rows)) if rows else [()] * len(schema.fields)
    table = pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(cols, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)


def release_scoped_persists() -> int:
    """Unpersist EVERY live scoped persist and empty the registry;
    returns how many were released.

    The FIFO cap bounds the leak, but bounded is not free: stale
    cached tables from completed queries keep occupying executor
    storage memory (the unified memory manager protects cached blocks
    down to spark.memory.storageFraction, so concurrent execution
    spills instead of evicting them) — measured r15: with 4 stale
    entries live, unrelated queries ran 3-5x slower and recovered the
    moment the entries were dropped. Call this at natural QUERY
    BOUNDARIES (a new top-level query can never reuse a previous
    query's intra-query caches — every plan is rebuilt from the
    files): the entry registry wraps every declared query with it.
    Lazy results returned by earlier operator calls stay CORRECT
    afterwards — they simply recompute when re-executed."""
    with _SCOPED_PERSISTS_LOCK:
        drained, _SCOPED_PERSISTS[:] = _SCOPED_PERSISTS[:], []
    n = 0
    for old in drained:
        try:
            old.unpersist()
            n += 1
        except Exception:
            pass
    return n


def load_tables(
    spark: SparkSession,
    sf_dir: str,
    names: list[str] | None = None,
    register_views: bool = True,
) -> dict[str, DataFrame]:
    """Load the driver's parquet tables from ``sf_dir``; optionally
    register them as temp views so ``spark.sql`` works on them.
    """
    # Defensive: callers may pass a session built elsewhere (the
    # driver's) without our builder conf; nanos parquet reads fail
    # without this and it is runtime-settable.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    out: dict[str, DataFrame] = {}
    for name in names or TABLE_NAMES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if not os.path.exists(path):
            continue
        df = read_parquet(spark, path)
        if name in REBALANCE_KEYS:
            df = rebalance_small_input(df, key=REBALANCE_KEYS[name])
        if name == "events":
            # Normalize the TIMESTAMP(NANOS) column to a microsecond
            # TIMESTAMP (ltz) whose epoch equals the file's wall-clock
            # value, independent of Spark version and session timezone:
            # - pyspark ≤4.0 + nanosAsLong: read as raw nanos BIGINT
            # - pyspark ≥4.1: read natively as TIMESTAMP_NTZ (micros)
            # DuckDB keeps ns precision, so oracle-checked queries must
            # not emit raw ts values — emit date_trunc'ed buckets or
            # epoch seconds instead.
            from pyspark.sql import functions as F

            ts_t = dict(df.dtypes).get("ts")
            if ts_t == "bigint":
                df = df.withColumn(
                    "ts", F.timestamp_micros((F.col("ts") / 1000).cast("long"))
                )
            elif ts_t == "timestamp_ntz":
                # Interpret the naive wall time AS UTC so the epoch
                # matches the bigint path REGARDLESS of session
                # timezone: rebuild the epoch from tz-free wall-clock
                # components (unix_date + hour/minute + fractional
                # SECOND). No NTZ→LTZ coercion is involved anywhere,
                # so there is no session-tz dependence and no DST-gap
                # edge (a from_utc_timestamp round trip shifts by an
                # hour for wall times inside the session timezone's
                # DST transitions; this construct is verified
                # identical across UTC/LA/Tokyo sessions including
                # the 2026-03-08 02:30 nonexistent-time case).
                ts = F.col("ts")
                us = (
                    F.unix_date(ts.cast("date")).cast("long")
                    * 86_400_000_000
                    + F.hour(ts).cast("long") * 3_600_000_000
                    + F.minute(ts).cast("long") * 60_000_000
                    + (F.date_part(F.lit("SECOND"), ts) * 1_000_000)
                    .cast("long")
                )
                df = df.withColumn("ts", F.timestamp_micros(us))
        if register_views:
            df.createOrReplaceTempView(name)
        out[name] = df
    return out


def union_tables(spark: SparkSession, pattern: str) -> DataFrame:
    """UNION ALL view over catalog tables matching a glob pattern
    (≙ E8 multi-index queries like `re_laion2b-en-*`,
    wimbd/es/README.md). Schemas are aligned by name (missing columns
    null-filled) so heterogeneous shards union cleanly."""
    import fnmatch

    names = [
        t.name
        for t in spark.catalog.listTables()
        if fnmatch.fnmatch(t.name, pattern)
    ]
    if not names:
        raise ValueError(f"no tables match {pattern!r}")
    dfs = [spark.table(n) for n in names]
    out = dfs[0]
    for df in dfs[1:]:
        out = out.unionByName(df, allowMissingColumns=True)
    return out


def table_summary(spark: SparkSession) -> list[dict]:
    """List catalog tables with row counts + schemas.

    Parity: wimbd/es/__init__.py:55-86 (`get_indices`).
    """
    rows = []
    for t in spark.catalog.listTables():
        df = spark.table(t.name)
        rows.append(
            {
                "name": t.name,
                "count": df.count(),
                "columns": {f.name: f.dataType.simpleString() for f in df.schema},
            }
        )
    return rows
