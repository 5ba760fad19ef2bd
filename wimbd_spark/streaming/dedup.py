"""Streaming twins of the dedup family: dedupe-on-ingest and
decontaminate-on-ingest for document streams.

The reference runs dedup/decontamination as batch jobs over finished
corpora (wimbd/es/decontamination.py); a training-data pipeline at
100 TB wants the same semantics applied while data ARRIVES. These reuse
the exact expressions of operators.dedup (doc_hash = md5 of text), so a
batch backfill and the streaming path agree row-for-row.

State/scale notes:
- exact dedup keys state on the 32-hex md5 — one state row per distinct
  document ever seen; with an event-time column + watermark,
  `dropDuplicatesWithinWatermark` bounds that state to the watermark
  horizon (the right call when duplicates cluster in time, e.g. crawl
  re-fetches).
- decontamination is a stream-static broadcast anti-join: the eval-set
  hash list broadcasts once per micro-batch plan, the stream never
  shuffles.
- n-gram contamination hits are planned by operators.dedup, the one
  token-phrase planner (_phrase_route + _phrase_hits) that
  decontaminate_by_ngrams and the search tails also use; its eval
  side, eval_gram_table, is re-exported from wimbd_spark.streaming.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from wimbd_spark.functions.text import doc_hash
from wimbd_spark.session import read_parquet

DOC_STREAM_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("text", StringType()),
        StructField("source", StringType()),
    ]
)


def read_doc_stream(
    spark: SparkSession,
    path: str,
    fmt: str = "json",
    schema: StructType = DOC_STREAM_SCHEMA,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source document stream (each new file = one micro-batch of
    crawled/ingested docs)."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.format(fmt).load(path)


def streaming_dedup_exact(
    docs: DataFrame,
    text_col: str = "text",
    ts_col: str | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Keep the first-arriving copy of each distinct text.

    Without ``ts_col`` the dedup state grows with distinct documents
    (exact global dedup — fine when the distinct count fits the state
    store, e.g. hash-only rows). With ``ts_col``, state is bounded to
    the watermark horizon via dropDuplicatesWithinWatermark.
    """
    out = docs.withColumn("hash", doc_hash(F.col(text_col)))
    if ts_col is not None:
        return out.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
            ["hash"]
        )
    return out.dropDuplicates(["hash"])


def streaming_url_dedup(
    docs: DataFrame,
    url_col: str = "url",
    ts_col: str | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """Keep the first-arriving document per NORMALIZED URL (the C4
    URL-dedup convention as a stream gate): the canonical form comes
    from ``functions.text.url_normalize`` — a stateless codegen'd
    scalar — so the only stateful piece is the same
    dropDuplicates(WithinWatermark) machinery as
    ``streaming_dedup_exact``, keyed on md5(normalized url). State is
    bounded by the watermark horizon when ``ts_col`` is given.

    Rows with a NULL url pass through un-deduped: dropDuplicates
    groups all NULL keys together, which would silently keep only one
    URL-less document per horizon. A missing URL is "unknown", not a
    duplicate group, so the stream is split on ``url_col IS NULL`` and
    the NULL branch unioned back stateless (deterministic across
    micro-batches — no per-row synthetic keys in the state store)."""
    from wimbd_spark.functions.text import url_normalize

    no_url = docs.filter(F.col(url_col).isNull())
    out = docs.filter(F.col(url_col).isNotNull()).withColumn(
        "__ukey", F.md5(url_normalize(F.col(url_col)))
    )
    if ts_col is not None:
        deduped = (
            out.withWatermark(ts_col, watermark)
            .dropDuplicatesWithinWatermark(["__ukey"])
            .drop("__ukey")
        )
    else:
        deduped = out.dropDuplicates(["__ukey"]).drop("__ukey")
    return deduped.unionByName(no_url)


def streaming_decontaminate(
    docs: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    eval_text_col: str = "text",
) -> DataFrame:
    """Drop stream docs whose exact text appears in a STATIC eval set
    (stream-static left-anti join on md5, eval side broadcast)."""
    bl = F.broadcast(
        eval_df.select(doc_hash(F.col(eval_text_col)).alias("hash")).distinct()
    )
    return (
        docs.withColumn("hash", doc_hash(F.col(text_col)))
        .join(bl, "hash", "left_anti")
        .drop("hash")
    )


def reference_band_table(
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """Distinct LSH band hashes of a STATIC reference corpus →
    (band, bh) — the blocklist side of streaming_neardup_filter.
    Materialize it once (parquet) per reference snapshot; its size is
    ≤ bands × corpus rows and usually far less after distinct."""
    from wimbd_spark.operators.neardup import (
        _banded_buckets,
        minhash_signatures,
    )

    sigs = minhash_signatures(
        corpus, id_col, text_col, num_hashes, shingle_n
    )
    return (
        _banded_buckets(sigs, id_col, num_hashes, bands)
        .select("band", "bh")
        .distinct()
    )


def streaming_neardup_filter(
    docs: DataFrame,
    reference_bands: DataFrame,
    text_col: str = "text",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """NEAR-dup gate on ingest: drop stream docs sharing ≥1 MinHash-LSH
    band with a static reference corpus (reference_band_table, built
    with the SAME num_hashes/bands/shingle_n — band hashes only align
    between identical configurations).

    The streaming twin of lsh_candidate_pairs' candidate test, with
    batch semantics: a doc is dropped exactly when the batch pipeline
    would have emitted a candidate pair against the reference. MinHash
    signatures and band hashes are pure per-row expressions (stateless,
    stream-safe), and the gate is ``bands`` stream-static LEFT joins on
    narrow band-hash keys with the broadcast reference — one join per
    band rather than an explode + per-doc aggregation, because
    streaming aggregation would drag in a state store; this stays
    STATELESS (no watermark) and composes before the stateful
    exact-dedup stage. Like any LSH test it is probabilistic: tune
    num_hashes/bands for the similarity-threshold curve, and audit the
    reference side's bucket skew with lsh_bucket_sizes before trusting
    a new corpus.
    """
    from wimbd_spark.functions.text import hash32
    from wimbd_spark.operators.neardup import minhash_signature

    if num_hashes % bands != 0:
        raise ValueError("num_hashes must be a multiple of bands")
    rows_per_band = num_hashes // bands
    sigs = minhash_signature(F.col(text_col), num_hashes, shingle_n)
    cur = docs.select("*", *sigs)
    band_hash_cols = []
    for b in range(bands):
        bh = hash32(
            F.concat_ws(
                ":",
                *[
                    F.col(f"mh{b * rows_per_band + r}").cast("string")
                    for r in range(rows_per_band)
                ],
            )
        )
        band_hash_cols.append(bh.alias(f"_bh{b}"))
    cur = cur.select("*", *band_hash_cols)
    for b in range(bands):
        ref_b = F.broadcast(
            reference_bands.filter(F.col("band") == b)
            .select(F.col("bh").alias(f"_bh{b}"))
            .distinct()
            .withColumn(f"_hit{b}", F.lit(1))
        )
        cur = cur.join(ref_b, f"_bh{b}", "left")
    no_hit = None
    for b in range(bands):
        c = F.col(f"_hit{b}").isNull()
        no_hit = c if no_hit is None else (no_hit & c)
    return cur.filter(no_hit).select(*docs.columns)


def streaming_contamination_hits(
    docs: DataFrame,
    eval_grams: DataFrame,
    text_col: str = "text",
    tokenizer=None,
    slop: int = 0,
    method: str = "auto",
) -> DataFrame:
    """STATELESS contamination AUDIT stream: one output row per
    (stream doc, matching eval phrase) — the doc's columns (minus
    text) plus ``phrase``. The streaming twin of the contamination
    sweep's hit set, shaped for alerting/routing rather than dropping
    (dropping needs doc-level re-aggregation, which in a stream means
    a state store — use streaming_decontaminate_by_ngrams for exact
    enforcement via foreachBatch).

    ``eval_grams`` is the static eval side (eval_gram_table). Route
    and plan are decontaminate_by_ngrams' own (operators.dedup
    _phrase_route + _phrase_hits, same ``method``/``slop``/
    ``tokenizer`` contract): the route's driver collects run once at
    STREAM SETUP; each micro-batch then runs either the Aho-Corasick
    occurrence-counting pass (multipattern.phrase_hits_ac) or the
    gram plan — map-side explode inner-joined on the broadcast grams,
    overlong ``contains``, slop scan hatch. A set the rule sends to
    the scan runs on the gram plan here, which keeps occurrence rows.
    No watermark, no state store: composes anywhere in a stateless
    gate chain. Both routes give the same row MULTISET: one row per
    occurrence of a phrase
    within GRAM_JOIN_MAX_PHRASE_TOKENS (overlaps included; ``slop>0``
    keys may emit several rows per window hit), ONE row per (doc,
    phrase) for overlong and scan-routed phrases. Raises on an empty
    eval set.
    """
    from wimbd_spark.operators.dedup import (
        _check_method,
        _phrase_hits,
        _phrase_route,
    )

    _check_method(method, ("auto", "ac", "gram"))
    plan = _phrase_route(eval_grams, method, slop, tokenizer)
    if not plan.lengths:
        raise ValueError("eval_grams is empty — nothing to match")
    return _phrase_hits(docs, plan, text_col, "occurrence")


def streaming_decontaminate_by_ngrams(
    docs: DataFrame,
    eval_df: DataFrame,
    path: str,
    checkpoint: str,
    phrase_col: str = "phrase",
    text_col: str = "text",
    id_col: str = "doc_id",
    tokenizer=None,
    slop: int = 0,
    method: str = "auto",
):
    """EXACT n-gram decontamination on ingest: each micro-batch runs
    the batch operator (decontaminate_by_ngrams — doc-level semantics,
    drop any doc containing any eval phrase; ``slop>0`` widens to the
    windowed match, r8; ``method`` routes big slop=0 phrase sets to
    the Aho-Corasick pass exactly like batch) and appends survivors as
    parquet under ``path``. Doc-level dropping needs a per-doc
    aggregation over exploded grams, which pure streaming can only do
    with a state store; foreachBatch gets batch semantics per
    micro-batch with ZERO streaming state instead — the standard
    pattern for gate-then-sink stages (same exactly-once shape as
    streaming_phrase_index: each batch overwrites its own
    ``batch=<epoch>`` subdirectory, so at-least-once redelivery never
    duplicates survivors). Returns the StreamingQuery.
    """
    from wimbd_spark.operators.dedup import decontaminate_by_ngrams

    def _gate(batch_df: DataFrame, epoch: int) -> None:
        out = decontaminate_by_ngrams(
            batch_df,
            eval_df,
            phrase_col=phrase_col,
            text_col=text_col,
            id_col=id_col,
            tokenizer=tokenizer,
            slop=slop,
            method=method,
        )
        out.write.mode("overwrite").parquet(f"{path}/batch={epoch}")

    return (
        docs.writeStream.foreachBatch(_gate)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .start()
    )


def streaming_quality_gate(
    docs: DataFrame,
    text_col: str = "text",
    **thresholds,
) -> DataFrame:
    """Gopher-gate-on-ingest: keep stream docs passing every quality
    rule (textqc.gopher_quality_filter semantics, identical
    expressions — a batch backfill agrees row-for-row). Surviving rows
    by definition fired no rule, so no reasons column is emitted —
    route the stream through gopher_quality_filter directly to inspect
    rejected documents' drop_reasons.

    The gate is a pure per-row projection (STATELESS — no watermark,
    no state store), so it composes freely before the stateful dedup/
    decontamination stages; run it first to keep junk out of the dedup
    state.
    """
    from wimbd_spark.operators.textqc import gopher_quality_filter

    return (
        gopher_quality_filter(
            docs, text_col=text_col, keep_reasons=False, **thresholds
        )
        .filter(F.col("keep"))
        .drop("keep")
    )


def lm_map_table(lm: DataFrame) -> DataFrame:
    """Fold a (token, logp) unigram model (lm.unigram_lm) into ONE row
    (vocab: map<string,double>, unseen: double) — the static side of
    streaming_perplexity_gate. The fold runs once per model snapshot;
    materialize it (parquet) alongside the model. Bounds: the map lives
    in a single JVM row (~2 GB hard cap), and — the binding one —
    Spark's map lookup scans the keys linearly, so every token costs
    O(|model|): 0.62 / 14.4 / 54.7 s at 31 / 1,031 / 4,031 keys
    against 0.3-0.4 s for explode + broadcast join on sf0.1 (SCALE.md,
    "One-row map lookups"). Keep the gate to small models."""
    return (
        lm.filter(F.col("token").isNotNull())
        .groupBy()
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("token", "logp"))
            ).alias("vocab")
        )
        .crossJoin(
            lm.filter(F.col("token").isNull()).select(
                F.col("logp").alias("unseen")
            )
        )
    )


def streaming_perplexity_gate(
    docs: DataFrame,
    lm_map: DataFrame,
    max_ppl: float,
    text_col: str = "text",
    tokenizer=None,
) -> DataFrame:
    """CCNet-style perplexity-gate-on-ingest: keep stream docs whose
    perplexity under a STATIC pre-trained unigram LM is ≤ ``max_ppl``.

    ``lm_map`` is the one-row fold from `lm_map_table`. The score is a
    pure per-row expression — F.aggregate over the token array with a
    broadcast map lookup — so the gate is STATELESS (no watermark, no
    state store, no streaming aggregation), unlike the batch
    `lm_score`'s explode + join + groupBy shape, which would need a
    stateful aggregation on a stream. Batch rows through the same
    function agree with lm_score + threshold row-for-row (tested).
    Zero-token docs score no evidence and are DROPPED (matching
    perplexity_filter). 2^(avg bits) is compared in log space to
    avoid overflow on adversarially long unseen streams.
    """
    from wimbd_spark.functions.text import tokenize

    if max_ppl <= 0:
        raise ValueError("max_ppl must be > 0")
    tok = tokenizer if tokenizer is not None else tokenize
    import math

    toks = tok(F.col(text_col))
    bits_sum = F.aggregate(
        toks,
        F.lit(0.0),
        lambda acc, t: acc
        - F.coalesce(
            F.element_at(F.col("vocab"), t), F.col("unseen")
        ),
    )
    n = F.size(toks)
    # ppl <= max_ppl  <=>  sum_bits <= n * log2(max_ppl)
    keep = (n > 0) & (
        bits_sum <= n.cast("double") * F.lit(math.log2(max_ppl))
    )
    return (
        docs.join(F.broadcast(lm_map))
        .filter(keep)
        .drop("vocab", "unseen")
    )


def _bigram_key(prev, token):
    """Struct key for the folded bigram map. An earlier revision used
    concat(prev, NUL, token) on the claim that NUL never appears in a
    whitespace-tokenized token — false: ``tokenize`` splits on \\s+ and
    \\x00 is NOT whitespace, so dirty web text (the stated CCNet use
    case) can carry NUL inside tokens, colliding concat keys (wrong pml
    lookups) and making duplicate map keys THROW at build time under
    the default spark.sql.mapKeyDedupPolicy=EXCEPTION. A struct key is
    injective for arbitrary token bytes and matches the batch path's
    (prev, token) join equality exactly. Field names must agree between
    build and lookup — element_at type-checks them."""
    return F.struct(prev.alias("p"), token.alias("t"))


def bigram_map_table(uni: DataFrame, bi: DataFrame) -> DataFrame:
    """Fold an interpolated bigram LM (lm.unigram_lm + lm.bigram_lm)
    into ONE row (vocab: map<string,double>, unseen: double,
    bivocab: map<struct<p,t>,double>) — the static side of
    streaming_bigram_perplexity_gate. ``bivocab`` keys are
    (prev, token) STRUCTS (injective for arbitrary token content —
    see `_bigram_key`); values are the ML conditional pml. Same bounds
    as lm_map_table: one JVM row, and a linear key scan per lookup —
    O(|vocab| + |bivocab|) per token, so observed-bigram tables past a
    few thousand entries belong in the batch join path."""
    bifold = (
        bi.groupBy()
        .agg(
            F.map_from_entries(
                F.collect_list(
                    F.struct(
                        _bigram_key(
                            F.col("prev"), F.col("token")
                        ).alias("k"),
                        F.col("pml").alias("v"),
                    )
                )
            ).alias("bivocab")
        )
    )
    return lm_map_table(uni).crossJoin(bifold)


def streaming_bigram_perplexity_gate(
    docs: DataFrame,
    lm_map: DataFrame,
    max_ppl: float,
    lam: float = 0.7,
    text_col: str = "text",
    tokenizer=None,
) -> DataFrame:
    """CCNet-fidelity perplexity-gate-on-ingest: keep stream docs whose
    INTERPOLATED-BIGRAM perplexity under a static pre-trained model is
    ≤ ``max_ppl`` — the streaming twin of lm.bigram_perplexity_filter
    (p = lam·pml(t|prev) + (1−lam)·p_uni(t); first token pure unigram).

    ``lm_map`` is the one-row fold from `bigram_map_table`. Like
    streaming_perplexity_gate the score is a pure per-row expression —
    a transform over the token array with broadcast map lookups — so
    the gate is STATELESS (no watermark, no state store). Batch rows
    through the same function agree with bigram_score + threshold
    row-for-row (tested). Zero-token docs are DROPPED (no evidence of
    language), and the threshold is compared in log space (sum of bits
    vs n·log2(max_ppl)) to avoid 2^x overflow on adversarial streams.
    """
    from wimbd_spark.functions.text import tokenize

    if max_ppl <= 0:
        raise ValueError("max_ppl must be > 0")
    if not (0.0 <= lam < 1.0):
        raise ValueError(
            f"lam must be in [0, 1): lam={lam} (1 zeroes unseen-bigram "
            f"mass -> infinite bits)"
        )
    tok = tokenizer if tokenizer is not None else tokenize
    import math

    gated = docs.join(F.broadcast(lm_map)).withColumn(
        "_toks", tok(F.col(text_col))
    )

    # element_at is 1-based and i is 0-based, so index i IS the
    # previous token; ANSI element_at rejects index 0, and a CASE does
    # not guarantee its untaken branch is never evaluated under
    # codegen, so the index is clamped total (greatest(i, 1)) and the
    # CASE discards the clamped lookup's value at i = 0.
    def _bits(t, i):
        p_uni = F.pow(
            F.lit(2.0),
            F.coalesce(F.element_at(F.col("vocab"), t), F.col("unseen")),
        )
        prev = F.element_at(F.col("_toks"), F.greatest(i, F.lit(1)))
        pml = F.coalesce(
            F.element_at(F.col("bivocab"), _bigram_key(prev, t)),
            F.lit(0.0),
        )
        p = F.when(i == F.lit(0), p_uni).otherwise(
            F.lit(lam) * pml + F.lit(1.0 - lam) * p_uni
        )
        return -F.log2(p)

    bits_sum = F.aggregate(
        F.transform(F.col("_toks"), _bits),
        F.lit(0.0),
        lambda acc, b: acc + b,
    )
    n = F.size(F.col("_toks"))
    keep = (n > 0) & (
        bits_sum <= n.cast("double") * F.lit(math.log2(max_ppl))
    )
    return gated.filter(keep).drop("_toks", "vocab", "unseen", "bivocab")


def blocked_domain_table(blocklist: DataFrame, domain_col: str = "domain") -> DataFrame:
    """Fold a domain blocklist into ONE row (blocked:
    map<string,boolean>) — the static side of streaming_url_filter.
    Same bounds as lm_map_table: one JVM row, and a linear key scan per
    probe — O(|blocklist|) per URL, so UT1-scale lists of millions of
    domains belong in the batch join (filter_by_domain_blocklist).
    Entries are lowercased to match the lowercased host probe in
    streaming_url_filter."""
    return (
        blocklist.select(F.lower(F.col(domain_col)).alias("_d"))
        .distinct()
        .groupBy()
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct(F.col("_d"), F.lit(True)))
            ).alias("blocked")
        )
    )


def streaming_url_filter(
    docs: DataFrame,
    blocked_map: DataFrame,
    url_col: str = "url",
) -> DataFrame:
    """Blocklist-gate-on-ingest: drop stream docs whose URL host is a
    blocked domain or any subdomain of one (UT1 convention —
    urlfilter.filter_by_domain_blocklist semantics). STATELESS: the
    host's dot-suffix chain probes a broadcast one-row domain map
    (`blocked_domain_table`) inside a per-row expression — no explode,
    no join-back, no state. Docs with no parseable host pass (same as
    the batch operator)."""
    from wimbd_spark.functions.text import url_host
    from wimbd_spark.operators.urlfilter import host_suffixes

    hit = F.exists(
        host_suffixes(F.lower(url_host(F.col(url_col)))),
        lambda s: F.coalesce(
            F.element_at(F.col("blocked"), s), F.lit(False)
        ),
    )
    return (
        docs.join(F.broadcast(blocked_map))
        .filter(~F.coalesce(hit, F.lit(False)))
        .drop("blocked")
    )


def semantic_reference_table(spark: SparkSession, index_path: str) -> DataFrame:
    """Static side of the streaming semantic gate: the persisted IVF
    index's lists (similarity.build_ivf_index) folded to ONE row per
    centroid — (centroid, uvecs: array of unit vectors). Materialize
    once per index snapshot; at most n_centroids rows, so the
    stream-static join below broadcasts under any sane threshold.
    Per-row width is the whole cluster's vectors (~target_cluster ×
    dim doubles) — size n_centroids so clusters stay broadcast-able,
    exactly the auto_ncentroids rule."""
    return (
        read_parquet(spark, f"{index_path}/lists")
        .groupBy("centroid")
        .agg(F.collect_list("uvec").alias("uvecs"))
    )


def streaming_semantic_filter(
    vecs: DataFrame,
    index_path: str,
    threshold: float = 0.7,
    vec_col: str = "embedding",
    reference: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup-on-ingest: drop stream rows whose embedding has cosine
    ≥ ``threshold`` with ANY vector of the persisted IVF index
    (similarity.build_ivf_index) in the row's nearest-centroid cluster
    — the streaming twin of semantic_duplicates against a static
    reference corpus. Probabilistic exactly like the batch operator: a
    near-dup split across a cluster boundary is missed by design (that
    locality is what makes this a single stateless pass).

    Plan shape: unit-normalize + nearest-centroid assignment are pure
    per-row expressions against the literal centroid array (from the
    index's tiny centroids table — stateless, stream-safe); the gate
    is ONE stream-static LEFT equi-join on the centroid id. The static
    side (``reference``, default ``semantic_reference_table`` over the
    same index) carries one row per centroid, so the join NEVER
    duplicates stream rows, and the ≥τ test is a collection `exists`
    over the cluster's vectors in the same stage. No state store, no
    watermark; composes before the stateful exact-dedup stage.
    """
    from wimbd_spark.operators.similarity import (
        _centroid_literal,
        _nearest_centroids,
        _to_double,
        _unit,
        dot,
    )

    spark = vecs.sparkSession
    cents = read_parquet(spark, f"{index_path}/centroids").collect()
    if not cents:
        return vecs  # empty index: nothing to collide with
    cent_arr = _centroid_literal(
        [{"centroid_id": r["centroid_id"], "_cent": r["v"]} for r in cents]
    )
    if reference is None:
        reference = semantic_reference_table(spark, index_path)
    ref = reference.select(
        F.col("centroid").alias("_ref_cent"), F.col("uvecs").alias("_uvecs")
    )
    cur = vecs.withColumn(
        "_uv", _unit(_to_double(F.col(vec_col)))
    ).withColumn(
        "_cent", _nearest_centroids(F.col("_uv"), cent_arr, 1)[0]["cid"]
    )
    joined = cur.join(
        ref, cur["_cent"] == ref["_ref_cent"], "left"
    )
    uv = joined["_uv"]
    hit = F.exists(
        F.coalesce(
            joined["_uvecs"],
            F.array().cast("array<array<double>>"),
        ),
        lambda rv: dot(uv, rv) >= F.lit(float(threshold)),
    )
    return joined.filter(~hit).select(*vecs.columns)


def streaming_funnel_gate(
    docs: DataFrame,
    min_tokens: int = 5,
    max_tokens: int = 5000,
    lang: str = "en",
    text_col: str = "text",
) -> DataFrame:
    """Stage-3 survivors of the cleaning funnel, on ingest: nonempty →
    token-length → langid filters as ONE stateless per-row predicate
    (operators/funnel.py stage_flags, so the gate can never drift from
    the batch report). Append-mode safe, no state store; compose with
    ``streaming_dedup_exact`` for the funnel's stage-4 dedup."""
    from wimbd_spark.operators.funnel import stage_flags

    _, _, f3 = stage_flags(F.col(text_col), min_tokens, max_tokens, lang)
    return docs.filter(f3)


def streaming_funnel_counts(
    docs: DataFrame,
    min_tokens: int = 5,
    max_tokens: int = 5000,
    lang: str = "en",
    text_col: str = "text",
) -> DataFrame:
    """Cumulative stage-0..3 survivor counts over the whole stream —
    one row (s0, s1, s2, s3) that updates every micro-batch (run with
    outputMode "complete"). Stage 4 needs dedup STATE, which streaming
    aggregation can't nest — count the output of streaming_funnel_gate
    ∘ streaming_dedup_exact instead (batch-twin agreement pinned in
    tests)."""
    from wimbd_spark.operators.funnel import stage_flags

    f1, f2, f3 = stage_flags(F.col(text_col), min_tokens, max_tokens, lang)
    return docs.select(
        f1.alias("_f1"), f2.alias("_f2"), f3.alias("_f3")
    ).agg(
        F.count(F.lit(1)).alias("s0"),
        F.coalesce(F.sum(F.col("_f1").cast("long")), F.lit(0)).alias("s1"),
        F.coalesce(F.sum(F.col("_f2").cast("long")), F.lit(0)).alias("s2"),
        F.coalesce(F.sum(F.col("_f3").cast("long")), F.lit(0)).alias("s3"),
    )


def streaming_funnel_counts_by(
    docs: DataFrame,
    group_col: str = "source",
    min_tokens: int = 5,
    max_tokens: int = 5000,
    lang: str = "en",
    text_col: str = "text",
) -> DataFrame:
    """Per-group cumulative stage-0..3 survivor counts over the whole
    stream — one row (group, s0, s1, s2, s3) per group, updating every
    micro-batch (run with outputMode "complete"); the grouped twin of
    :func:`streaming_funnel_counts` and the streaming counterpart of
    the batch ``quality_funnel_by`` stages 0-3 (agreement pinned in
    tests). Gate flags come from the shared ``stage_flags`` so the
    three tiers can never drift. State is one row per group (the
    complete-mode aggregation), nothing per-document; stage 4 needs
    dedup STATE — compose streaming_funnel_gate ∘
    streaming_dedup_exact and count per group, as the global form
    documents."""
    from wimbd_spark.operators.funnel import stage_flags

    f1, f2, f3 = stage_flags(F.col(text_col), min_tokens, max_tokens, lang)
    return (
        docs.select(
            F.col(group_col),
            f1.alias("_f1"),
            f2.alias("_f2"),
            f3.alias("_f3"),
        )
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("s0"),
            F.coalesce(F.sum(F.col("_f1").cast("long")), F.lit(0)).alias(
                "s1"
            ),
            F.coalesce(F.sum(F.col("_f2").cast("long")), F.lit(0)).alias(
                "s2"
            ),
            F.coalesce(F.sum(F.col("_f3").cast("long")), F.lit(0)).alias(
                "s3"
            ),
        )
    )


def dsir_map_table(ratio: DataFrame) -> DataFrame:
    """Fold a (bucket, log_ratio) DSIR model (operators.dsir.
    fit_log_ratio) into ONE row (ratios: map<bigint,decimal>) — the
    static side of streaming_dsir_gate. At most ``buckets`` entries
    (default 8192): inside the one-row bound, but each lookup scans the
    keys linearly (see lm_map_table), so a token costs O(buckets) —
    the dense bucket ids could index an array instead. Materialize it
    alongside the model snapshot."""
    return ratio.groupBy().agg(
        F.map_from_entries(
            F.collect_list(F.struct("bucket", "log_ratio"))
        ).alias("ratios")
    )


def streaming_dsir_gate(
    docs: DataFrame,
    dsir_map: DataFrame,
    min_log_weight: float,
    text_col: str = "text",
    buckets: int | None = None,
) -> DataFrame:
    """DSIR-selection-on-ingest: keep stream docs whose log importance
    weight under STATIC target/raw models (operators.dsir) is
    ≥ ``min_log_weight``.

    The weight is a pure per-row expression — F.aggregate over the
    doc's hashed feature grams with a broadcast map lookup — so the
    gate is STATELESS, unlike the batch scorer's explode + groupBy
    shape (a stateful aggregation on a stream). The accumulator stays
    DECIMAL at every step, so the per-row sum is exactly the batch
    operator's order-independent decimal sum: batch rows through this
    gate agree with dsir_log_weights ≥ threshold row-for-row (tested).
    ``buckets`` must match the fit (defaults to operators.dsir.
    DEFAULT_BUCKETS). Featureless docs score 0.0, same as batch.
    """
    from wimbd_spark.functions.text import hash32
    from wimbd_spark.operators.dsir import DEFAULT_BUCKETS, _feature_grams

    b = DEFAULT_BUCKETS if buckets is None else buckets
    if b <= 0:
        raise ValueError(f"buckets must be positive, got {b}")
    grams = _feature_grams(text_col)
    zero = F.lit(0).cast("decimal(24,6)")
    weight = F.aggregate(
        grams,
        zero,
        lambda acc, g: (
            acc
            + F.coalesce(
                F.element_at(
                    F.col("ratios"), F.pmod(hash32(g), F.lit(b))
                ),
                F.lit(0).cast("decimal(12,6)"),
            )
        ).cast("decimal(24,6)"),
    )
    keep = weight.cast("double") >= F.lit(float(min_log_weight))
    return docs.join(F.broadcast(dsir_map)).filter(keep).drop("ratios")


def nb_map_table(model: DataFrame) -> DataFrame:
    """Fold a (token, weight) NB classifier model (operators.
    classifier.fit_nb_classifier) into ONE row (nb_weights:
    map<string,decimal>) — the static side of streaming_nb_gate. At
    most max_vocab entries (default 8192): inside the one-row bound,
    but each lookup scans the keys linearly (see lm_map_table), so a
    token costs O(max_vocab). Materialize it alongside the model
    snapshot."""
    return model.groupBy().agg(
        F.map_from_entries(
            F.collect_list(F.struct("token", "weight"))
        ).alias("nb_weights")
    )


def streaming_nb_gate(
    docs: DataFrame,
    nb_map: DataFrame,
    min_score: float,
    text_col: str = "text",
) -> DataFrame:
    """NB-quality-filter-on-ingest: keep stream docs whose classifier
    score under a STATIC model (operators.classifier) is ≥
    ``min_score``.

    The score is a pure per-row expression — F.aggregate over the
    doc's lowercased tokens with a broadcast map lookup — so the gate
    is STATELESS, unlike the batch scorer's explode + groupBy shape (a
    stateful aggregation on a stream). The accumulator stays DECIMAL
    at every step, so the per-row sum is exactly the batch operator's
    order-independent decimal sum: batch rows through this gate agree
    with nb_score ≥ threshold row-for-row (tested). Featureless docs
    score 0.0, same as batch.
    """
    from wimbd_spark.operators.classifier import _class_tokens

    zero = F.lit(0).cast("decimal(24,6)")
    score = F.aggregate(
        _class_tokens(text_col),
        zero,
        lambda acc, tkn: (
            acc
            + F.coalesce(
                F.element_at(F.col("nb_weights"), tkn),
                F.lit(0).cast("decimal(12,6)"),
            )
        ).cast("decimal(24,6)"),
    )
    # NULL text → NULL token array → NULL aggregate; batch scores such
    # docs 0.0 (explode_outer), so coalesce before the threshold
    keep = F.coalesce(score.cast("double"), F.lit(0.0)) >= F.lit(
        float(min_score)
    )
    return docs.join(F.broadcast(nb_map)).filter(keep).drop("nb_weights")
