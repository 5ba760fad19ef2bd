"""Streaming vector ingest for the IVF index — the delta tier.

Beyond-reference (the wimbd reference has no vector surface at all):
this is the LSM-shaped maintenance story for a stream-fed ANN index,
mirroring the text side's streaming_phrase_index + compact cycle:

    build_ivf_index(corpus, path)             # base generation
    streaming_ivf_ingest(stream, path, ckpt)  # delta/run=<id>/batch=<e>
    ... queries see base ∪ delta transparently (_read_lists) ...
    absorb_ivf_delta(path, fresh)             # fold delta into base
    needs_recluster(path) → recluster_ivf_index(path, fresh)
                                              # re-fit + absorb in one

Each micro-batch assigns its vectors against the index's STORED
centroids (and PQ-encodes against the stored codebooks when present)
then OVERWRITES its own ``delta/run=<ckpt-id>/batch=<epoch>``
directory — the exactly-once epoch-sink pattern shared with the other
foreachBatch gates: at-least-once redelivery of an epoch rewrites the
same directory instead of duplicating vectors. Epoch ids are
CHECKPOINT-scoped, so the run dir is namespaced by a sha1 digest of
the checkpoint path (two streams with different checkpoints never
collide) and ingest REFUSES to start when its run dir holds data but
the checkpoint has no offset log — a deleted/reset checkpoint
restarts epochs at 0, and overwriting batch=0 would silently destroy
previously ingested vectors (r12 ADVICE).

Why a delta tier instead of appending to the partitioned lists: a
centroid-partitioned append touches (and creates a small file in)
every assigned partition per micro-batch — at one batch per minute
and 4096 lists that is millions of tiny files a week. The delta tier
costs one directory per epoch, and queries pay only a row-level
centroid filter on the (small, recently-ingested) delta until the
next absorb/recluster folds it into partition-pruned base lists.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from wimbd_spark.session import read_parquet

VECTOR_SCHEMA = StructType(
    [
        StructField("vec_id", LongType()),
        StructField("embedding", ArrayType(DoubleType())),
    ]
)


def read_vector_stream(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema: StructType = VECTOR_SCHEMA,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source vector stream (each new file = a micro-batch of
    embeddings). Kafka sources drop in with the same downstream plan."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.format(fmt).load(path)


def _delta_run_dir(spark, path: str, checkpoint: str) -> str:
    """Checkpoint-scoped delta run dir + the two start-time guards
    shared by the vector ingest gates: refuse a legacy flat
    ``delta/batch=*`` layout (mixed layouts break partition
    discovery) and refuse a RESET checkpoint over an existing run dir
    (epoch ids restart at 0 — overwriting batch=0 would silently
    destroy previously ingested vectors, r12 ADVICE)."""
    import hashlib

    from wimbd_spark.operators.similarity import _hadoop_exists

    run_id = hashlib.sha1(
        checkpoint.rstrip("/").encode("utf-8")
    ).hexdigest()[:12]
    run_dir = f"{path}/delta/run={run_id}"
    if _hadoop_exists(spark, f"{path}/delta/batch=0"):
        raise ValueError(
            f"legacy flat delta layout at {path!r}/delta — "
            "absorb_ivf_delta it into a fresh generation before "
            "starting a run-namespaced stream (mixed delta layouts "
            "break partition discovery)"
        )
    if _hadoop_exists(spark, run_dir) and not _hadoop_exists(
        spark, f"{checkpoint}/offsets"
    ):
        raise ValueError(
            f"{run_dir!r} already holds delta batches but checkpoint "
            f"{checkpoint!r} has no offset log — a reset checkpoint "
            "restarts epochs at 0 and would silently overwrite "
            "previously ingested vectors. Absorb the existing delta "
            "(absorb_ivf_delta) or resume with the original "
            "checkpoint."
        )
    return run_dir


def streaming_ivf_ingest(
    vectors: DataFrame,
    path: str,
    checkpoint: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Ingest a vector stream into the IVF index at ``path``: per
    micro-batch, assign against the stored centroids (+ PQ-encode
    against the stored codebooks when the index has them) and write
    the assignment to ``path``/delta/run=<ckpt-id>/batch=<epoch>
    (overwrite — exactly-once under redelivery; the run dir is a sha1
    digest of ``checkpoint``, so epoch ids only ever overwrite data
    written under the SAME offset log). Refuses to start when the run
    dir holds batches but ``checkpoint`` has no offset log (reset
    checkpoint ⇒ epochs restart at 0 ⇒ batch=0 would be silently
    destroyed), and when a legacy flat ``delta/batch=*`` layout is
    present (absorb it first — mixed layouts break partition
    discovery). Centroids/codebooks are loaded
    ONCE at stream start and reused every batch (frozen by the append
    contract, so reloading per batch would buy nothing and cost a
    driver read each trigger). Returns the StreamingQuery.

    Queries pick the delta up immediately (_read_lists unions it);
    run absorb_ivf_delta / recluster_ivf_index between batches or from
    a maintenance cron to fold it into partition-pruned base lists —
    needs_recluster sees delta rows too, so a drifting stream trips
    the re-fit trigger without any extra accounting.
    """
    from wimbd_spark.operators.similarity import (
        _assign_rows,
        _centroid_literal,
        _load_codebooks,
    )

    spark = vectors.sparkSession
    run_dir = _delta_run_dir(spark, path, checkpoint)
    cents = read_parquet(spark, f"{path}/centroids").collect()
    if not cents:
        raise ValueError(
            f"streaming_ivf_ingest: no centroids at {path!r} — build "
            "the base generation with build_ivf_index first"
        )
    cent_arr = _centroid_literal(
        [{"centroid_id": r["centroid_id"], "_cent": r["v"]} for r in cents]
    )
    cb = _load_codebooks(spark, path)

    def _ingest(batch_df: DataFrame, epoch: int) -> None:
        _assign_rows(batch_df, cent_arr, cb, id_col, vec_col).write.mode(
            "overwrite"
        ).parquet(f"{run_dir}/batch={epoch}")

    return (
        vectors.writeStream.foreachBatch(_ingest)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .start()
    )


def streaming_ivf_dedup_ingest(
    vectors: DataFrame,
    path: str,
    checkpoint: str,
    threshold: float = 0.99,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Dedup-on-ingest: `streaming_ivf_ingest` with an ε-gate — each
    micro-batch drops vectors that are semantic duplicates (cosine ≥
    ``threshold``) of anything ALREADY IN the index (base ∪ delta as
    of the batch) or of a smaller-id batch-mate, then ingests only the
    survivors into the delta tier. The production vector-pipeline
    front door: the index never accumulates ε-duplicates, so no
    offline semantic-dedup pass over the delta is needed later.

    Plan per micro-batch (batches are small by construction):
    - within-batch: exact `cosine_pairs` keep-min-id (all-pairs over
      the batch only — never the index);
    - vs-index: the batch probes its ``n_probe`` nearest lists
      (shared `_ivf_scored_stream`; the lists LISTING re-resolves
      every epoch, so earlier epochs' survivors gate later ones) and
      drops on any ≥-threshold neighbor with a DIFFERENT id;
    - survivors assign + write to delta/run=<ckpt-id>/batch=<epoch>
      (overwrite — exactly-once under redelivery; the same-id
      exclusion is what makes redelivery idempotent: a replayed
      batch's own earlier write never ε-matches it OUT, and two batch
      survivors are never ε-close by the within-batch gate).

    Same frozen-centroid/codebook and run-dir contracts as
    `streaming_ivf_ingest`. Returns the StreamingQuery.
    """
    from wimbd_spark.operators.similarity import (
        _assign_rows,
        _centroid_literal,
        _ivf_scored_stream,
        _load_codebooks,
        cosine_pairs,
    )

    spark = vectors.sparkSession
    run_dir = _delta_run_dir(spark, path, checkpoint)
    cents = read_parquet(spark, f"{path}/centroids").collect()
    if not cents:
        raise ValueError(
            f"streaming_ivf_dedup_ingest: no centroids at {path!r} — "
            "build the base generation with build_ivf_index first"
        )
    cent_arr = _centroid_literal(
        [{"centroid_id": r["centroid_id"], "_cent": r["v"]} for r in cents]
    )
    n_cents = len(cents)
    cb = _load_codebooks(spark, path)

    def _gate(batch_df: DataFrame, epoch: int) -> None:
        surv = batch_df.filter(F.col(vec_col).isNotNull())
        drops_b = (
            cosine_pairs(
                surv, threshold=threshold, id_col=id_col, vec_col=vec_col
            )
            .select(F.col("id_b").alias(id_col))
            .distinct()
        )
        surv = surv.join(drops_b, id_col, "left_anti")
        scored = _ivf_scored_stream(
            spark, path, surv, n_probe, id_col, vec_col,
            _cent_arr=cent_arr, _n_cents=n_cents,
        )
        drops_i = (
            scored.filter(F.col("neighbor_id") != F.col("query_id"))
            .filter(F.col("cosine") >= F.lit(threshold))
            .select(F.col("query_id").alias(id_col))
            .distinct()
        )
        surv = surv.join(drops_i, id_col, "left_anti")
        _assign_rows(surv, cent_arr, cb, id_col, vec_col).write.mode(
            "overwrite"
        ).parquet(f"{run_dir}/batch={epoch}")

    return (
        vectors.writeStream.foreachBatch(_gate)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .start()
    )
