"""BM25 ranked retrieval — ES relevance scoring over scan or postings.

The reference's interactive tier runs on Elasticsearch, whose default
similarity is BM25 (Lucene `BM25Similarity`); wimbd's ES wrapper
(wimbd/es/__init__.py:89-153) exposes phrase *counting/retrieval* but
any ES user also gets ranked `match` queries for free. This module
closes that parity gap: deterministic BM25 top-k over a document
DataFrame (scan path) or over the engine's posting-list index
(`wimbd_spark.index`, the ES-index analogue) — same scores, same rows.

Formula (Lucene/ES BM25, k1=1.2 b=0.75):

    idf(t)   = ln(1 + (N - df_t + 0.5) / (df_t + 0.5))
    score(d) = Σ_t idf(t) · tf_td / (tf_td + k1·(1 - b + b·dl_d/avgdl))

with Lucene field semantics for the corpus stats: N counts documents
with at least one token, avgdl = Σ dl / N over those documents.

Determinism recipe (house pattern, see operators/dsir.py): each term's
contribution is rounded ONCE to 6 dp and cast DECIMAL(12,6) before the
per-document sum, so accumulation is order-independent and the result
hashes identically cross-engine. idf itself is rounded to 6 dp first
(one rounding per TERM, not per row), keeping the float-boundary
exposure negligible.

Spark-first, 100 TB posture:
- scan path is MAP-ONLY + TakeOrderedAndProject: per-term tf columns
  are pure Column expressions over the token array (no explode, no
  per-doc shuffle); corpus stats are ONE aggregation broadcast back as
  a one-row crossJoin (the dsir totals pattern). Two projected scans
  total — the funnel-report cost class.
- indexed path touches only the query terms' postings (pushed-down
  token filter on the token-sorted parquet); document lengths come
  from a `_doclens` sidecar inside the index directory (underscore
  prefix = hidden to the postings reader, the `_spark_metadata`
  convention), built once per index. Per-query work is
  O(Σ df_t postings) + one doc-keyed aggregation over matching docs —
  corpus-size-independent, mirroring an ES query.
"""

from __future__ import annotations

from os.path import isdir as _os_isdir

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from wimbd_spark.functions.text import term_count, tokenize
from wimbd_spark.session import local_frame, parquet_plan

DEFAULT_K1 = 1.2
DEFAULT_B = 0.75
_SCALE = 6  # decimal places kept per term contribution

_DOCLENS_DIR = "_doclens"
_MANIFEST_FILE = "_SOURCE_MANIFEST"


def analyze_query(query: str) -> list[str]:
    """Query analyzer matching the canonical corpus tokenizer
    (whitespace split, drop empties), deduplicated order-preserving.
    BM25 scores each distinct term once (ES `match` over a bag of
    unique terms; duplicate query terms change boosts, which this
    engine does not model)."""
    seen: dict[str, None] = {}
    for t in query.split():
        if t:
            seen.setdefault(t)
    return list(seen)


def _idf6(df_col, n_col):
    """round6(ln(1 + (N - df + 0.5)/(df + 0.5))) — one rounding per
    term so cross-engine libm ulp noise cannot reach row-level sums."""
    return F.round(
        F.log(
            F.lit(1.0)
            + (n_col - df_col + F.lit(0.5)) / (df_col + F.lit(0.5))
        ),
        _SCALE,
    )


def _contrib_sql(i: int, k1: float, b: float) -> str:
    """SQL text of the per-(doc, term) contribution for term slot ``i``
    over the tf{i}/df{i}/dl/n_docs/sum_dl columns — the same operation
    tree `_contribution(_idf6(...))` builds through the Column DSL
    (parenthesization and literal types preserved; floats rendered via
    repr + D suffix round-trip exactly), emitted as a string so a
    whole score expression parses in ONE round trip instead of
    hundreds of py4j calls per term (r15). No user text is embedded —
    only generated column names."""
    avgdl = "(CAST(sum_dl AS DOUBLE) / n_docs)"
    idf6 = (
        f"round(ln(1.0D + ((n_docs - df{i}) + 0.5D)"
        f" / (df{i} + 0.5D)), {_SCALE})"
    )
    ratio = (
        f"(tf{i} / (tf{i} + ({k1!r}D * ((1.0D - {b!r}D)"
        f" + (({b!r}D * dl) / {avgdl})))))"
    )
    return (
        f"CASE WHEN tf{i} > 0 THEN CAST(round({idf6} * {ratio},"
        f" {_SCALE}) AS DECIMAL(12,6))"
        f" ELSE CAST(0 AS DECIMAL(12,6)) END"
    )


def _contribution(tf_col, dl_col, idf6_col, avgdl_col, k1: float, b: float):
    """Per-(doc, term) BM25 contribution, rounded once and cast
    DECIMAL(12,6) — the order-independent accumulation unit. The
    expression shape (parenthesization, operand order) is mirrored
    verbatim by the SQL oracles; identical IEEE ops on identical
    inputs give identical doubles in both engines."""
    ratio = tf_col / (
        tf_col
        + F.lit(k1)
        * (F.lit(1.0) - F.lit(b) + F.lit(b) * dl_col / avgdl_col)
    )
    return F.round(idf6_col * ratio, _SCALE).cast("decimal(12,6)")


def bm25_topk(
    df: DataFrame,
    query: str,
    k: int = 10,
    *,
    k1: float = DEFAULT_K1,
    b: float = DEFAULT_B,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokenizer=None,
    exclude_id=None,
    filters=None,
) -> DataFrame:
    """Scan-path BM25 top-k → (id_col, score double, rank int).

    Ties broken by ascending id (deterministic). Only documents
    containing at least one query term are candidates; `k` rows or
    fewer come back. `tokenizer` (Column → array<string>) overrides
    the canonical whitespace `tokenize` — use the same analyzer the
    comparison index was built with. ``exclude_id`` drops that
    document from the CANDIDATES (before ranking) — the
    more_like_this convention of not returning the anchor.
    Corpus stats (N, avgdl, df) still include it, matching ES, where
    the index stats don't change because one query excludes a doc.

    ``filters`` (boolean Column over the corpus columns, e.g.
    ``F.col("source") == "src0"``) restricts CANDIDATES exactly like
    an ES ``bool.filter`` clause: non-scoring, evaluated in the same
    corpus scan (one extra projected column, no second pass), and —
    matching ES — corpus statistics stay index-wide (the reference's
    wrapper composes relevance with subset/date filters this way,
    wimbd/es/__init__.py:170-181). NULL filter values drop the row
    (SQL predicate semantics).
    """
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    terms = analyze_query(query)
    if not terms:
        raise ValueError("query analyzed to zero terms")
    tok = tokenizer if tokenizer is not None else tokenize

    tf_cols = [f"tf{i}" for i in range(len(terms))]
    # tokenize once; the follow-up projection derives dl + per-term tf
    # from the array (CollapseProject only inlines the array expression
    # if it judges that cheap — the split stays single-evaluation)
    keep = [] if filters is None else [
        F.coalesce(filters, F.lit(False)).alias("__keep")
    ]
    toked = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col), tok(F.col(text_col)).alias("toks"), *keep
    )
    base = toked.select(
        id_col,
        F.size("toks").alias("dl"),
        *[term_count("toks", t).alias(c) for t, c in zip(terms, tf_cols)],
        *([F.col("__keep")] if filters is not None else []),
    )

    # ONE corpus aggregation → one-row broadcast (dsir totals pattern).
    # Lucene field stats: N counts docs with ≥1 token; avgdl over those.
    stats = base.agg(
        F.coalesce(
            F.sum(F.when(F.col("dl") > 0, 1).otherwise(0)), F.lit(0)
        ).alias("n_docs"),
        F.coalesce(F.sum("dl"), F.lit(0)).alias("sum_dl"),
        *[
            F.coalesce(
                F.sum(F.when(F.col(c) > 0, 1).otherwise(0)), F.lit(0)
            ).alias(f"df{i}")
            for i, c in enumerate(tf_cols)
        ],
    )

    # One parsed SQL string instead of per-term Column-DSL trees —
    # ~0.3 s less py4j chatter per query build (see _contrib_sql).
    k1, b = float(k1), float(b)
    score = F.expr(
        " + ".join(_contrib_sql(i, k1, b) for i in range(len(terms)))
    )

    any_tf = F.col(tf_cols[0]) > 0
    for c in tf_cols[1:]:
        any_tf = any_tf | (F.col(c) > 0)
    if exclude_id is not None:
        any_tf = any_tf & (F.col(id_col) != F.lit(exclude_id))
    if filters is not None:
        any_tf = any_tf & F.col("__keep")
    scored = (
        base.filter(any_tf)
        .crossJoin(F.broadcast(stats))
        .select(id_col, score.cast("double").alias("score"))
    )
    return _ranked_topk(scored, k, id_col)


def _ranked_topk(scored: DataFrame, k: int, id_col: str) -> DataFrame:
    """orderBy(score desc, id).limit(k) — compiles to
    TakeOrderedAndProject — then rank the ≤k survivors (the window
    runs on k rows, not the corpus)."""
    top = scored.orderBy(F.col("score").desc(), F.col(id_col).asc()).limit(k)
    w = Window.orderBy(F.col("score").desc(), F.col(id_col).asc())
    return top.withColumn("rank", F.row_number().over(w).cast("int"))


def build_doclen_stats(
    spark: SparkSession, index_path: str, num_files: int | None = None
) -> str:
    """Materialize the per-document length table for a posting-list
    index at `<index_path>/_doclens` (doc_id, dl) and return that path.

    dl is recovered from the index itself — Σ size(positions) over the
    document's postings — so no corpus access is needed. One full-index
    aggregation, the same cost class as the index build; run it once at
    build time (build-once/query-many, like the index). The underscore
    prefix keeps the sidecar invisible to `load_phrase_index` readers
    (Spark's hidden-file convention, as with `_spark_metadata`).

    Maintenance: `build_phrase_index(mode='overwrite')` wipes the index
    directory including this sidecar (it is lazily rebuilt on the next
    ranked query). APPEND-mode maintenance (streaming_phrase_index)
    adds documents the sidecar does not know about; the sidecar
    records a manifest of the index data files it was built from, and
    `_load_doclens` rebuilds automatically when the index's file set
    no longer matches — so appended documents can never silently
    vanish from ranked results (the pre-r10 failure mode: the
    postings-doclens inner join dropped them)."""
    from wimbd_spark.index import load_phrase_index

    out = _doclens_path(index_path)
    # snapshot the data-file set BEFORE the aggregation scan: an
    # append racing the build leaves the manifest stale, which errs
    # toward an unnecessary rebuild, never toward a silent drop
    manifest = _index_data_manifest(spark, index_path)
    doclens = (
        load_phrase_index(spark, index_path)
        .groupBy("doc_id")
        .agg(F.sum(F.size("positions")).alias("dl"))
    )
    # None: data-sized, as for the postings (index._token_layout)
    (
        doclens.repartition("doc_id")
        if num_files is None
        else doclens.repartition(num_files)
    ).write.mode("overwrite").parquet(out)
    _write_small_file(
        spark, out.rstrip("/") + "/" + _MANIFEST_FILE, manifest
    )
    return out


def _index_data_manifest(spark: SparkSession, index_path: str) -> str:
    """Canonical JSON of the index's data files: sorted (relative
    path, byte length) pairs, hidden files/dirs (`_`/`.` prefixed —
    the `_doclens` sidecar itself, `_spark_metadata`, ...) excluded.
    Pure filesystem-metadata listing — the same listing any parquet
    scan of the index performs, so this is cheap at any index size
    and works on every Hadoop-supported filesystem. Local paths list
    through os.walk (byte-identical manifest, no per-file py4j round
    trip — the Hadoop RemoteIterator walk cost ~0.15 s per probe on a
    32-file index, r15); any other scheme takes the Hadoop walk."""
    import json as _json

    local = index_path
    if local.startswith("file:"):
        local = local[len("file:"):]
    if "://" not in local and _os_isdir(local):
        import os as _os2

        entries = []
        for dirpath, dirnames, filenames in _os2.walk(local):
            dirnames[:] = [
                d for d in dirnames if not d.startswith(("_", "."))
            ]
            for fn in filenames:
                if fn.startswith(("_", ".")):
                    continue
                full = _os2.path.join(dirpath, fn)
                rel = _os2.path.relpath(full, local).replace(
                    _os2.sep, "/"
                )
                entries.append([rel, _os2.path.getsize(full)])
        entries.sort()
        return _json.dumps(entries, separators=(",", ":"))

    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(index_path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    root = fs.getFileStatus(hpath).getPath().toString()
    it = fs.listFiles(hpath, True)
    entries = []
    while it.hasNext():
        st = it.next()
        rel = st.getPath().toString()[len(root):].lstrip("/")
        if any(s.startswith(("_", ".")) for s in rel.split("/")):
            continue
        entries.append([rel, st.getLen()])
    entries.sort()
    return _json.dumps(entries, separators=(",", ":"))


def _write_small_file(spark: SparkSession, path: str, text: str) -> None:
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    out = fs.create(hpath, True)
    try:
        out.write(bytearray(text.encode("utf-8")))
    finally:
        out.close()


def _read_small_file(spark: SparkSession, path: str) -> str | None:
    """Contents of a small text file via the Hadoop FS API, or None if
    absent/unreadable (treated as stale by the caller)."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    try:
        if not fs.exists(hpath):
            return None
        stream = fs.open(hpath)
        try:
            # py4j passes bytearray by value, so read JVM-side and
            # return the bytes (commons-io ships with Hadoop)
            data = jvm.org.apache.commons.io.IOUtils.toByteArray(
                stream
            )
            return bytes(data).decode("utf-8")
        finally:
            stream.close()
    except Exception:
        return None


def _doclens_path(index_path: str) -> str:
    return index_path.rstrip("/") + "/" + _DOCLENS_DIR


def _load_doclens(spark: SparkSession, index_path: str) -> DataFrame:
    """Read the `_doclens` sidecar, building it on first use if the
    index predates it (Hadoop-FS existence probe — works for any
    supported filesystem, not just local paths; cf. the ann CLI's
    probe, ADVICE r7) and REBUILDING it if the index's data-file set
    no longer matches the manifest the sidecar was built from (r9
    ADVICE: documents appended after the sidecar was built used to be
    inner-joined away, silently vanishing from ranked results — the
    worst failure mode; a stale manifest now costs one sidecar
    rebuild instead). The staleness probe is a filesystem-metadata
    listing only — no data is scanned unless a rebuild is needed."""
    path = _doclens_path(index_path)
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(hpath):
        build_doclen_stats(spark, index_path)
    else:
        recorded = _read_small_file(
            spark, path.rstrip("/") + "/" + _MANIFEST_FILE
        )
        if recorded != _index_data_manifest(spark, index_path):
            build_doclen_stats(spark, index_path)
    return parquet_plan(spark, path)


def bm25_topk_indexed(
    spark: SparkSession,
    index_path: str,
    query: str,
    k: int = 10,
    *,
    k1: float = DEFAULT_K1,
    b: float = DEFAULT_B,
    filters=None,
    candidates: DataFrame | None = None,
    exclude_id=None,
) -> DataFrame:
    """Postings-path BM25 top-k → (doc_id, score double, rank int);
    row-identical to `bm25_topk` on the corpus the index was built
    from (same stats semantics, same rounding — pinned by tests).

    Reads ONLY the query terms' postings (token-equality pushdown on
    the token-sorted index files) plus the `_doclens` sidecar; the
    corpus is never scanned. Per-term df and the corpus N/avgdl are
    two tiny aggregations crossJoined back as one-row broadcasts; the
    scoring aggregation shuffles only documents that matched ≥1 term,
    keyed on doc_id — query cost tracks Σ df_t, not corpus size.

    ES ``bool.filter`` composition (non-scoring; index-wide stats,
    matching ES and the scan path's ``filters=``), two forms:

    * ``filters`` — boolean Column over ``doc_id``: applied to the
      postings scan itself, so it reaches the parquet reader as a
      pushed filter (`PushedFilters` — plan-pinned by test) and prunes
      row groups by doc_id min/max stats before any join. This is the
      ES date-math/id-range filter analogue for id schemes that encode
      the partition key (date-prefixed ids, shard ranges).
    * ``candidates`` — a DataFrame with a ``doc_id`` column (e.g. a
      metadata table filtered on source/date): LEFT SEMI broadcast
      join on the postings, the ES terms-lookup filter analogue. Use
      this when the filter needs columns the index doesn't carry.

    Both restrict candidates only; N/avgdl/df stay index-wide.
    """
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    terms = analyze_query(query)
    if not terms:
        raise ValueError("query analyzed to zero terms")
    from wimbd_spark.index import load_phrase_index

    posts = (
        load_phrase_index(spark, index_path)
        .filter(F.col("token").isin(terms))
        .select("token", "doc_id", F.size("positions").alias("tf"))
    )
    # per-term df BEFORE any candidate restriction — ES keeps idf
    # index-wide under bool.filter, and the scan path's stats pass
    # does the same (filters only gate candidacy there too)
    dfs = posts.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    if exclude_id is not None:
        # candidate exclusion only (the more_like_this anchor
        # convention, matching the scan path): stats keep the doc
        posts = posts.filter(F.col("doc_id") != F.lit(exclude_id))
    if filters is not None:
        # on the scan side of the join → parquet PushedFilters on the
        # postings files (doc_id min/max row-group pruning)
        posts = posts.filter(filters)
    if candidates is not None:
        posts = posts.join(
            F.broadcast(candidates.select("doc_id").distinct()),
            "doc_id",
            "left_semi",
        )
    doclens = _load_doclens(spark, index_path)

    # every doclens row has dl ≥ 1 by construction → N = count(*)
    stats = doclens.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.coalesce(F.sum("dl"), F.lit(0)).alias("sum_dl"),
    )

    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs")
    scored = (
        posts.join(F.broadcast(dfs), "token")
        .join(doclens, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            _contribution(
                F.col("tf"),
                F.col("dl"),
                _idf6(F.col("df"), F.col("n_docs")),
                avgdl,
                k1,
                b,
            ).alias("contrib"),
        )
        .groupBy("doc_id")
        .agg(F.sum("contrib").cast("double").alias("score"))
    )
    return _ranked_topk(scored, k, "doc_id")


def more_like_this(
    df: DataFrame,
    anchor_id,
    k: int = 10,
    *,
    n_terms: int = 5,
    k1: float = DEFAULT_K1,
    b: float = DEFAULT_B,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """ES more_like_this: top-``k`` documents similar to the anchor
    document → (id_col, score double, rank int), anchor excluded.

    Follows the ES MLT recipe (select the input doc's most
    distinctive terms, form a query, rank by relevance): the anchor's
    top-``n_terms`` smooth-TF-IDF terms (operators.textqc.
    tfidf_top_terms — deterministic, ties by term) become a BM25
    query over the same corpus. The reference's ES tier carries this
    API implicitly like ranked match queries.

    The term extraction collects ≤ ``n_terms`` rows to the driver
    (bounded metadata, the phrase-list convention) because BM25 needs
    the terms as plan literals; the TF-IDF pass and the BM25 ranking
    are each one corpus-scale job.
    """
    from wimbd_spark.operators.textqc import tfidf_top_terms

    if n_terms < 1:
        raise ValueError(f"n_terms must be >= 1, got {n_terms}")
    terms = [
        r.term
        for r in tfidf_top_terms(
            df, k=n_terms, id_col=id_col, text_col=text_col
        )
        .filter(F.col(id_col) == F.lit(anchor_id))
        .orderBy("rank")
        .collect()
    ]
    if not terms:
        # ES semantics: MLT on a missing/empty document has no query
        # terms and returns zero hits — typed empty, not an error
        id_type = dict(df.dtypes)[id_col]
        return local_frame(
            df.sparkSession, [], f"{id_col} {id_type}, score double, rank int"
        )
    return bm25_topk(
        df,
        " ".join(terms),
        k=k,
        k1=k1,
        b=b,
        id_col=id_col,
        text_col=text_col,
        exclude_id=anchor_id,
    )


def more_like_this_indexed(
    spark: SparkSession,
    index_path: str,
    anchor_id,
    k: int = 10,
    *,
    n_terms: int = 5,
    k1: float = DEFAULT_K1,
    b: float = DEFAULT_B,
) -> DataFrame:
    """ES more_like_this answered ENTIRELY from the posting-list index
    (+ `_doclens`) — row-identical to `more_like_this` on the corpus
    the index was built from; the corpus is never scanned. This is how
    ES itself serves MLT: term vectors come from the index.

    Term selection mirrors `textqc.tfidf_top_terms` exactly, but from
    postings: the anchor's tf is size(positions) of its own postings
    (doc_id pushdown — one seek-sized read), df is the posting count
    per token restricted to the anchor's tokens (token-equality
    pushdown; the anchor's distinct tokens are bounded driver metadata,
    the phrase-list convention), N is the doclens row count, and the
    smooth tfidf ln((1+N)/(1+df)) + 1 with (tfidf desc, term asc) ties
    is evaluated JVM-side — the same F.log the scan path uses, so the
    selected terms are identical doubles. The ranking stage is
    `bm25_topk_indexed(exclude_id=anchor)`: per-query cost tracks the
    anchor's posting sizes + Σ df of its top terms, never corpus size.
    """
    from wimbd_spark.index import load_phrase_index

    if n_terms < 1:
        raise ValueError(f"n_terms must be >= 1, got {n_terms}")
    posts = load_phrase_index(spark, index_path)
    anchor_tf = posts.filter(
        F.col("doc_id") == F.lit(anchor_id)
    ).select("token", F.size("positions").alias("tf"))
    tokens = sorted({r["token"] for r in anchor_tf.collect()})
    if not tokens:
        # missing/empty anchor: zero query terms -> zero hits (ES)
        id_type = posts.schema["doc_id"].dataType.simpleString()
        return local_frame(
            spark, [], f"doc_id {id_type}, score double, rank int"
        )
    dfs = (
        posts.filter(F.col("token").isin(tokens))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    n_docs = _load_doclens(spark, index_path).count()
    sel = (
        anchor_tf.join(F.broadcast(dfs), "token")
        .select(
            "token",
            (
                F.col("tf")
                * (
                    F.log(
                        (F.lit(1) + F.lit(n_docs))
                        / (F.lit(1) + F.col("df"))
                    )
                    + F.lit(1.0)
                )
            ).alias("tfidf"),
        )
        .orderBy(F.desc("tfidf"), F.asc("token"))
        .limit(n_terms)
        .collect()
    )
    terms = [r["token"] for r in sel]
    return bm25_topk_indexed(
        spark,
        index_path,
        " ".join(terms),
        k=k,
        k1=k1,
        b=b,
        exclude_id=anchor_id,
    )


def bm25_topk_batch(
    df: DataFrame,
    queries: list[str],
    k: int = 10,
    *,
    k1: float = DEFAULT_K1,
    b: float = DEFAULT_B,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokenizer=None,
    filters=None,
) -> DataFrame:
    """Ranked msearch: BM25 top-k for EVERY query in ONE corpus pass →
    (query string, id_col, score double, rank int).

    Per-query rows are identical to ``bm25_topk`` on the same corpus
    (pinned by test). The ES parity point is the batch shape: where a
    client loops `search` requests, this computes the UNION of all
    queries' term tf columns in one projection, all corpus stats in
    ONE aggregation, then explodes one (query, score) struct array per
    matching document — so a 100-query batch costs one corpus scan +
    one rank shuffle of candidate (query, id, score) rows instead of
    100 scans. Rank = per-query window over candidates only.

    ``filters`` (boolean Column over corpus columns) applies the same
    ES bool.filter semantics as ``bm25_topk``: one shared non-scoring
    candidate gate for every query in the batch (an msearch where each
    request carries the same filter clause); stats stay index-wide.
    """
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    if not queries:
        raise ValueError("queries must be non-empty")
    per_q = [analyze_query(q) for q in queries]
    if any(not t for t in per_q):
        raise ValueError("every query must analyze to >= 1 term")
    all_terms = sorted({t for ts in per_q for t in ts})
    t_idx = {t: i for i, t in enumerate(all_terms)}
    tok = tokenizer if tokenizer is not None else tokenize

    tf_cols = [f"tf{i}" for i in range(len(all_terms))]
    keep = [] if filters is None else [
        F.coalesce(filters, F.lit(False)).alias("__keep")
    ]
    toked = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col), tok(F.col(text_col)).alias("toks"), *keep
    )

    base = toked.select(
        id_col,
        F.size("toks").alias("dl"),
        *[term_count("toks", t).alias(c) for t, c in zip(all_terms, tf_cols)],
        *([F.col("__keep")] if filters is not None else []),
    )
    stats = base.agg(
        F.coalesce(
            F.sum(F.when(F.col("dl") > 0, 1).otherwise(0)), F.lit(0)
        ).alias("n_docs"),
        F.coalesce(F.sum("dl"), F.lit(0)).alias("sum_dl"),
        *[
            F.coalesce(
                F.sum(F.when(F.col(c) > 0, 1).otherwise(0)), F.lit(0)
            ).alias(f"df{i}")
            for i, c in enumerate(tf_cols)
        ],
    )

    # Per-query score/candidate expressions parse as ONE SQL string
    # each (see _contrib_sql) — the term loop through the Column DSL
    # cost hundreds of py4j calls per batch query (r15). The query
    # STRING itself stays a DSL literal (never embedded in SQL text).
    k1, b = float(k1), float(b)

    def q_struct(q_str: str, terms: list[str]):
        slots = [t_idx[t] for t in terms]
        any_tf = F.expr(
            " OR ".join(f"tf{i} > 0" for i in slots)
        )
        contribs = F.expr(
            " + ".join(_contrib_sql(i, k1, b) for i in slots)
        )
        if filters is not None:
            any_tf = any_tf & F.col("__keep")
        return F.when(
            any_tf,
            F.struct(
                F.lit(q_str).alias("query"),
                contribs.cast("double").alias("score"),
            ),
        )

    hits = (
        base.crossJoin(F.broadcast(stats))
        .select(
            id_col,
            F.explode(
                F.filter(
                    F.array(
                        *[q_struct(queries[j], per_q[j]) for j in range(len(queries))]
                    ),
                    lambda s: s.isNotNull(),
                )
            ).alias("_h"),
        )
        .select("_h.query", id_col, "_h.score")
    )
    w = Window.partitionBy("query").orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    return (
        hits.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .orderBy("query", "rank")
    )


def bm25_topk_batch_indexed(
    spark: SparkSession,
    index_path: str,
    queries: list[str],
    k: int = 10,
    *,
    k1: float = DEFAULT_K1,
    b: float = DEFAULT_B,
    filters=None,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Ranked msearch from postings: BM25 top-k for EVERY query →
    (query, doc_id, score double, rank int), per-query rows identical
    to ``bm25_topk_indexed`` (pinned by test). ``filters`` (doc_id
    predicate, pushed into the postings scan) and ``candidates``
    (doc-id DataFrame, broadcast LEFT SEMI) compose exactly as on
    ``bm25_topk_indexed``: one shared non-scoring gate for the whole
    batch, stats index-wide.

    The eval-scale batch shape: the (query, term) pairs become a
    broadcast MAPPING TABLE, so the plan is the same handful of joins
    at ANY query count (pinned constant-in-Q, the phrase_matches_batch
    property) — where the scan batch's per-term tf columns grow the
    plan linearly. Reads only the union of all queries' postings plus
    the `_doclens` sidecar; work is O(Σ df over distinct query terms)
    + one (query, doc) aggregation over matches.
    """
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    if not queries:
        raise ValueError("queries must be non-empty")
    per_q = {q: analyze_query(q) for q in queries}
    if any(not t for t in per_q.values()):
        raise ValueError("every query must analyze to >= 1 term")
    all_terms = sorted({t for ts in per_q.values() for t in ts})
    qmap = local_frame(
        spark,
        [(q, t) for q, ts in per_q.items() for t in ts],
        "query string, token string",
    )
    from wimbd_spark.index import load_phrase_index

    posts = (
        load_phrase_index(spark, index_path)
        .filter(F.col("token").isin(all_terms))
        .select("token", "doc_id", F.size("positions").alias("tf"))
    )
    doclens = _load_doclens(spark, index_path)
    stats = doclens.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.coalesce(F.sum("dl"), F.lit(0)).alias("sum_dl"),
    )
    # index-wide df BEFORE any candidate restriction (ES bool.filter)
    dfs = posts.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    if filters is not None:
        posts = posts.filter(filters)
    if candidates is not None:
        posts = posts.join(
            F.broadcast(candidates.select("doc_id").distinct()),
            "doc_id",
            "left_semi",
        )
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs")
    scored = (
        posts.join(F.broadcast(qmap), "token")
        .join(F.broadcast(dfs), "token")
        .join(doclens, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "query",
            "doc_id",
            _contribution(
                F.col("tf"),
                F.col("dl"),
                _idf6(F.col("df"), F.col("n_docs")),
                avgdl,
                k1,
                b,
            ).alias("contrib"),
        )
        .groupBy("query", "doc_id")
        .agg(F.sum("contrib").cast("double").alias("score"))
    )
    w = Window.partitionBy("query").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .orderBy("query", "rank")
    )
