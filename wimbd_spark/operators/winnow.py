"""Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
SIGMOD 2003 — the MOSS local fingerprinting algorithm).

Beyond-reference operator in the fingerprint/near-dup family
(reference has no positional fingerprinting; its nearest neighbor is
the whole-doc hash at helper_scripts/get_text_hashes.py:11-17, covered
by functions.text.doc_hash). Winnowing selects, from the sequence of
k-gram hashes of a document, the minimum hash of every w-hash window
(rightmost occurrence on ties). Guarantees: any shared substring of
length >= w + k - 1 tokens between two documents yields at least one
shared selected fingerprint, making the selected set a provable
overlap witness — the property MOSS uses for plagiarism detection and
data-pipeline users use for boilerplate/near-dup audit.

Plan shape (100 TB posture): fingerprint selection is a pure per-row
expression chain — tokenize -> gram hash array -> per-window min and
rightmost argmin, unrolled over w. ZERO shuffle to select; no Python
workers (hash32 = md5-slice, portable to the DuckDB oracle). Cost
O(grams * w) per document, map-side. The overlap aggregate shuffles
only DISTINCT (source, fingerprint) pairs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from wimbd_spark.functions.text import hash32, ngram_strings, tokenize


def winnow_select(text: Column | str, k: int = 3, w: int = 4) -> Column:
    """Selected fingerprints as array<struct<pos:int, fp:bigint>>.

    ``pos`` is the 1-based k-gram position; ``fp`` the 32-bit gram
    hash (hash32). Only full windows are considered: a document with
    fewer than w k-gram hashes (fewer than w + k - 1 tokens) selects
    nothing. Ties inside a window resolve to the RIGHTMOST minimal
    hash (the paper's rule), so consecutive windows sharing a minimum
    re-select the same position and dedupe away.
    """
    if k < 1 or w < 1:
        raise ValueError("k and w must be >= 1")
    c = F.col(text) if isinstance(text, str) else text
    hashes = F.transform(ngram_strings(tokenize(c), k), lambda g: hash32(g))
    empty = F.array().cast("array<struct<pos:int,fp:bigint>>")

    # hash array LET-BOUND (functions.text.let): inside `build`, ``h``
    # is a bound lambda variable, evaluated ONCE per row. Referencing
    # the raw `hashes` expression from the per-window lambda instead
    # re-embeds (and re-evaluates) the whole tokenize → ngram → md5
    # subtree at EVERY reference — measured O(windows·w) re-hashings
    # per document, minutes instead of seconds at sf0.1 (r8 finding).
    from wimbd_spark.functions.text import let

    def build(h: Column) -> Column:
        def pick(j: Column) -> Column:
            # rightmost position of the window min, unrolled over w:
            # least() of w scalar reads, then a CASE from j+w-1 down to
            # j+1, else j. No per-window array is built.
            if w == 1:
                return j
            at = [F.element_at(h, j + F.lit(i) if i else j) for i in range(w)]
            m = F.least(*at)
            pos = F.when(at[w - 1] == m, j + F.lit(w - 1))
            for i in range(w - 2, 0, -1):
                pos = pos.when(at[i] == m, j + F.lit(i))
            return pos.otherwise(j)

        # Dedupe on int positions (fp = h[pos]). Windows picking the
        # same position are consecutive (two windows picking p are
        # ≤ w−1 apart, and every window between them contains p and
        # must pick it too), so this equals an adjacent-run dedupe.
        # array_distinct on ints is a built-in hash-set pass; on the
        # (pos, fp) STRUCTS it has no hash-set fast path — O(n²)
        # pairwise compares, measured minutes-not-seconds on
        # 5000-token documents (r8).
        positions = F.array_distinct(
            F.transform(F.sequence(F.lit(1), F.size(h) - F.lit(w - 1)), pick)
        )
        return F.when(
            F.size(h) >= w,
            F.transform(
                positions,
                lambda p: F.struct(
                    p.cast("int").alias("pos"), F.element_at(h, p).alias("fp")
                ),
            ),
        ).otherwise(empty)

    return let(hashes, build)


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    w: int = 4,
) -> DataFrame:
    """One row per selected fingerprint: (id_col, pos, fp) — the
    winnow_select array exploded, map-side with no Python workers."""
    return df.select(
        F.col(id_col),
        F.explode(winnow_select(F.col(text_col), k=k, w=w)).alias("__s"),
    ).select(
        id_col,
        F.col("__s.pos").alias("pos"),
        F.col("__s.fp").alias("fp"),
    )


def winnow_overlap(
    df: DataFrame,
    source_a: str,
    source_b: str,
    text_col: str = "text",
    source_col: str = "source",
    k: int = 3,
    w: int = 4,
) -> DataFrame:
    """Corpus-level fingerprint overlap between two sources.

    Returns ONE row: (n_fp_a, n_fp_b, n_shared, jaccard) over the
    DISTINCT fingerprint sets of each source — the winnowing estimate
    of shared >= (w + k - 1)-token substrings. Shuffle carries only
    distinct (source, fp) pairs; one aggregation.
    """
    fps = (
        df.filter(F.col(source_col).isin(source_a, source_b))
        .select(
            F.col(source_col).alias("__src"),
            F.explode(winnow_select(F.col(text_col), k=k, w=w)).alias(
                "__s"
            ),
        )
        .select("__src", F.col("__s.fp").alias("fp"))
        .distinct()
    )
    per_fp = fps.groupBy("fp").agg(
        F.max((F.col("__src") == source_a).cast("int")).alias("in_a"),
        F.max((F.col("__src") == source_b).cast("int")).alias("in_b"),
    )
    n_union = F.count(F.lit(1))
    n_shared = F.coalesce(
        F.sum(F.col("in_a") * F.col("in_b")), F.lit(0)
    )
    return per_fp.agg(
        F.coalesce(F.sum("in_a"), F.lit(0)).cast("long").alias("n_fp_a"),
        F.coalesce(F.sum("in_b"), F.lit(0)).cast("long").alias("n_fp_b"),
        n_shared.cast("long").alias("n_shared"),
        F.when(
            n_union > 0,
            F.round(n_shared / n_union.cast("double"), 6),
        ).alias("jaccard"),
    )


def shared_span_coverage(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    w: int = 4,
) -> DataFrame:
    """Cross-document boilerplate audit → one row per document:
    (id_col, n_shared_fp, covered_tokens, n_tokens, coverage).

    The Lee et al. 2021 ("Deduplicating Training Data Makes Language
    Models Better") use case — how much of each document is text
    shared with OTHER documents — answered with winnowing witnesses
    instead of a suffix array: a selected fingerprint whose hash
    appears in >= 2 documents marks a k-token span of cross-document
    text; per document, ``covered_tokens`` is the union length of
    those spans. The winnowing guarantee makes this a sound LOWER
    BOUND on shared >= (w + k - 1)-token substrings (every such
    substring yields at least one shared selected fingerprint) — an
    audit/triage signal, not an exact shared-byte count.

    Plan: fingerprint selection map-side (zero shuffle); ONE
    fp-keyed aggregation finds multi-document hashes; ONE fp-keyed
    equi-join marks them; the interval union is a per-document window
    (lead over pos — partitioned, bounded by each doc's selected
    fingerprints, never the corpus). Docs with no shared spans keep a
    zero row (left join against the corpus id/token table).
    """
    # persist the tiny (id, pos, fp) table: it feeds BOTH the
    # multi-doc aggregation and the marking join — unpersisted, the
    # map-side winnow selection (per-window HOF mins over every
    # document) runs twice (r15). Released by the scoped_persist FIFO
    # (session.py) — the CacheManager never reclaims it on its own.
    from wimbd_spark.session import scoped_persist

    fps = scoped_persist(
        winnow_fingerprints(df, text_col, id_col, k=k, w=w)
    )
    multi = (
        fps.groupBy("fp")
        .agg(F.count_distinct(id_col).alias("__nd"))
        .filter(F.col("__nd") > 1)
        .select("fp")
    )
    sh = fps.join(multi, "fp")
    wlead = Window.partitionBy(id_col).orderBy("pos")
    cov = (
        sh.withColumn("__np", F.lead("pos").over(wlead))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_shared_fp"),
            F.sum(
                F.when(F.col("__np").isNull(), F.lit(k)).otherwise(
                    F.least(F.col("__np") - F.col("pos"), F.lit(k))
                )
            ).alias("covered_tokens"),
        )
    )
    base = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col),
        F.size(tokenize(F.col(text_col))).alias("n_tokens"),
    )
    return base.join(cov, id_col, "left").select(
        id_col,
        F.coalesce(F.col("n_shared_fp"), F.lit(0))
        .cast("long")
        .alias("n_shared_fp"),
        F.coalesce(F.col("covered_tokens"), F.lit(0))
        .cast("long")
        .alias("covered_tokens"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.when(
            F.col("n_tokens") > 0,
            F.round(
                F.coalesce(F.col("covered_tokens"), F.lit(0))
                / F.col("n_tokens").cast("double"),
                6,
            ),
        ).otherwise(F.lit(0.0)).alias("coverage"),
    )


def shared_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    w: int = 4,
    keep: str = "none",
    min_docs: int = 2,
) -> DataFrame:
    """Token intervals of winnow-witnessed CROSS-DOCUMENT text, per
    document → (id_col, start_pos, end_pos), 0-based inclusive,
    overlaps merged. The span table ``shared_span_coverage`` audits,
    materialized for enforcement.

    ``keep``: ``"none"`` marks every copy of a shared fingerprint for
    removal (the ExactSubstr-paper convention — all occurrences go);
    ``"first"`` exempts, per fingerprint, the document with the
    minimal ``id_col`` (keep-one: boilerplate survives exactly once in
    the corpus). Both are deterministic — no scheduling-order "first".

    ``min_docs`` (default 2 = any cross-document sharing) raises the
    document-frequency bar: only fingerprints appearing in >=
    ``min_docs`` DISTINCT documents are marked — the precision knob
    for true boilerplate (headers/footers in hundreds of docs) vs a
    quote two documents happen to share.

    Plan: map-side fingerprint selection (winnow_select, zero
    shuffle); ONE fp-keyed aggregation finds multi-document hashes
    (and, under keep="first", their min-id winner in the same pass);
    ONE fp equi-join marks occurrences; one per-doc groupBy folds
    sorted k-token windows into maximal intervals (the repeated_spans
    merge — per-doc state bounded by the doc's own fingerprints).
    """
    if keep not in ("none", "first"):
        raise ValueError(f"keep must be 'none' or 'first', got {keep!r}")
    if min_docs < 2:
        raise ValueError("min_docs must be >= 2 (cross-document)")
    # persisted for the same agg+join double-reference as
    # shared_span_coverage (r15)
    from wimbd_spark.session import scoped_persist

    fps = scoped_persist(
        winnow_fingerprints(df, text_col, id_col, k=k, w=w)
    )
    agg = fps.groupBy("fp").agg(
        F.count_distinct(id_col).alias("__nd"),
        F.min(id_col).alias("__keep_id"),
    )
    multi = agg.filter(F.col("__nd") >= min_docs).select(
        "fp", "__keep_id"
    )
    marked = fps.join(multi, "fp")
    if keep == "first":
        marked = marked.filter(F.col(id_col) != F.col("__keep_id"))
    # pos is the 1-based gram start; it covers tokens
    # [pos-1, pos+k-2] 0-based — fold sorted starts into maximal
    # intervals exactly like dedup.repeated_spans.
    starts = marked.select(
        F.col(id_col), (F.col("pos") - 1).alias("__p")
    )
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
        return F.when(p <= last["e"], extended).otherwise(appended)

    return (
        starts.groupBy(id_col)
        .agg(F.array_sort(F.collect_list("__p")).alias("_arr"))
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


def boilerplate_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    w: int = 4,
    min_docs: int = 2,
) -> DataFrame:
    """The corpus's cross-document fingerprint TABLE → (fp, n_docs):
    every winnow-selected hash appearing in >= ``min_docs`` distinct
    documents. Materialize once from a reference corpus, then scrub
    any batch OR stream against it with
    ``remove_spans_by_fingerprint`` — the static-blocklist half of
    boilerplate removal on ingest."""
    if min_docs < 2:
        raise ValueError("min_docs must be >= 2 (cross-document)")
    fps = winnow_fingerprints(df, text_col, id_col, k=k, w=w)
    return (
        fps.groupBy("fp")
        .agg(F.count_distinct(id_col).alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select("fp", F.col("n_docs").cast("long").alias("n_docs"))
    )


#: driver-side cap on the scrub fingerprint set: the set ships to every
#: Python worker inside the mapInPandas closure (a frozenset of longs,
#: ~50 B/entry), so 2^21 entries ≈ 100 MB — the same per-task memory
#: budget as the AC automaton cap.
MAX_SCRUB_FINGERPRINTS = 1 << 21


def remove_spans_by_fingerprint(
    docs: DataFrame,
    fps,
    text_col: str = "text",
    k: int = 3,
    w: int = 4,
) -> DataFrame:
    """Excise every winnow-selected span whose fingerprint is in a
    STATIC set — boilerplate scrub against a known blocklist
    (``boilerplate_fingerprints`` of a reference corpus). Works on
    batch AND STREAMING DataFrames: fingerprint selection is the same
    map-side winnow_select expression chain, the fp set is collected
    once at plan time and shipped in the task closure, and the
    surgery is a stateless mapInPandas — no state store, no
    watermark, composes anywhere in an ingest gate chain.

    Parity: on the corpus the fingerprints came from (min_docs=2),
    output text equals ``remove_shared_spans(keep='none')`` row for
    row (test-pinned) — this is the same marking rule with the fp->
    multi-doc decision PRECOMPUTED.

    ``fps``: a one-column DataFrame (fp [, ...]) or an iterable of
    ints; capped at MAX_SCRUB_FINGERPRINTS (per-task closure memory).
    """
    from pyspark.sql.types import StructType

    if hasattr(fps, "select"):
        # distinct BEFORE limit: with duplicate fp rows a bare limit
        # could truncate distinct fingerprints while the post-dedup
        # size check still passes — silently scrubbing with an
        # incomplete blocklist (r11 ADVICE)
        rows = fps.select(fps.columns[0]).distinct().limit(
            MAX_SCRUB_FINGERPRINTS + 1
        ).collect()
        fp_set = frozenset(int(r[0]) for r in rows)
    else:
        fp_set = frozenset(int(x) for x in fps)
    if len(fp_set) > MAX_SCRUB_FINGERPRINTS:
        raise ValueError(
            f"fingerprint set exceeds MAX_SCRUB_FINGERPRINTS "
            f"({MAX_SCRUB_FINGERPRINTS}) — scrub per-partition via the "
            "batch remove_shared_spans instead of a shipped closure"
        )

    others = [c for c in docs.columns if c != text_col]
    prepared = docs.select(
        *others,
        F.col(text_col),
        tokenize(F.col(text_col)).alias("__toks"),
        winnow_select(F.col(text_col), k=k, w=w).alias("__sel"),
    )
    out_schema = StructType(
        [f for f in docs.schema.fields]
    )

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            texts = []
            for i in range(len(pdf)):
                toks = pdf["__toks"].iloc[i]
                sel = pdf["__sel"].iloc[i]
                text = pdf[text_col].iloc[i]
                if text is None or sel is None or len(sel) == 0:
                    texts.append(text)
                    continue
                starts = sorted(
                    int(s["pos"]) - 1
                    for s in sel
                    if int(s["fp"]) in fp_set
                )
                if not starts:
                    texts.append(text)
                    continue
                drop = []
                for p in starts:
                    if drop and p <= drop[-1][1]:
                        drop[-1] = (
                            drop[-1][0],
                            max(drop[-1][1], p + k - 1),
                        )
                    else:
                        drop.append((p, p + k - 1))
                kept = [
                    t
                    for j, t in enumerate(toks)
                    if not any(s <= j <= e for s, e in drop)
                ]
                texts.append(" ".join(kept))
            data = {c: pdf[c] for c in others}
            data[text_col] = texts
            yield pd.DataFrame(data)[
                [f.name for f in out_schema.fields]
            ]

    return prepared.mapInPandas(gen, out_schema)


def shared_span_examples(
    df: DataFrame,
    k: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
    kgram: int = 3,
    w: int = 4,
    min_docs: int = 2,
) -> DataFrame:
    """WHAT is the boilerplate: the top-``k`` shared fingerprints by
    document frequency → (fp, n_docs, example_doc, snippet), where
    ``snippet`` is the witnessed ``kgram``-token span from the
    fingerprint's first occurrence (min (doc, pos) — deterministic).
    The triage view to run BEFORE remove_shared_spans: inspect what a
    given ``min_docs`` bar would excise, then enforce.

    Plan: fingerprint selection map-side; ONE fp aggregation carrying
    (count_distinct doc, min (doc, pos)) — no per-occurrence rows
    survive the shuffle; TakeOrdered(k); one id-probe join of the k
    winners back to the corpus for the snippet slice. Ties break
    (n_docs desc, fp asc).
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    if min_docs < 2:
        raise ValueError("min_docs must be >= 2 (cross-document)")
    fps = winnow_fingerprints(df, text_col, id_col, k=kgram, w=w)
    top = (
        fps.groupBy("fp")
        .agg(
            F.count_distinct(id_col).alias("n_docs"),
            F.min(
                F.struct(F.col(id_col).alias("d"), F.col("pos").alias("p"))
            ).alias("__first"),
        )
        .filter(F.col("n_docs") >= min_docs)
        .orderBy(F.col("n_docs").desc(), F.col("fp").asc())
        .limit(k)
        .select(
            "fp",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("__first.d").alias("example_doc"),
            F.col("__first.p").alias("__pos"),
        )
    )
    docs = df.select(
        F.col(id_col).alias("example_doc"),
        tokenize(F.col(text_col)).alias("__toks"),
    )
    return (
        top.join(docs, "example_doc")
        .select(
            "fp",
            "n_docs",
            "example_doc",
            F.array_join(
                F.slice(F.col("__toks"), F.col("__pos"), kgram), " "
            ).alias("snippet"),
        )
        .orderBy(F.col("n_docs").desc(), F.col("fp").asc())
    )


def remove_shared_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    w: int = 4,
    keep: str = "none",
    min_docs: int = 2,
) -> DataFrame:
    """Excise winnow-witnessed cross-document spans from every (or,
    with keep="first", every non-first) document — the ENFORCEMENT
    half of ``shared_span_coverage`` (Lee et al. 2021 remove repeated
    training text; the reference only drops whole duplicate docs,
    deduplicate_by_hash.py:40-62 — span-level surgery is the
    beyond-reference tier). Tokens at marked positions are dropped and
    the text rebuilt from survivors joined with single spaces (the
    engine's canonical whitespace form, same contract as
    dedup.remove_repeated_spans, whose surgery this reuses verbatim);
    docs with no shared spans pass through byte-identical.

    Soundness note: winnowing witnesses are a LOWER bound on shared
    >=(w+k-1)-token substrings, so removal is conservative — short
    shared snippets below the guarantee length may survive, and
    excision can splice previously-distant tokens into new adjacent
    grams. Re-audit the output with shared_span_coverage when
    enforcing to a budget.
    """
    from wimbd_spark.operators.dedup import remove_repeated_spans

    spans = shared_spans(
        df, id_col, text_col, k=k, w=w, keep=keep, min_docs=min_docs
    )
    return remove_repeated_spans(
        df, k=k, text_col=text_col, id_col=id_col, spans=spans
    )
