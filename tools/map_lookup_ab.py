#!/usr/bin/env python
"""A/B of a static-model token lookup: one-row map vs broadcast join.

The streaming gates fold their model into one map row
(``streaming/dedup.py``: ``lm_map_table``, ``bigram_map_table``,
``nb_map_table``, ``dsir_map_table``, ``blocked_domain_table``) and
look every token up with ``element_at`` inside an ``aggregate``
lambda. Spark's map lookup scans the map's keys linearly, so that
form costs O(|model|) per token. This script times it against the
batch shape (explode tokens, broadcast-join the model, groupBy
doc_id) at several model sizes.

The model is the corpus's 31 most frequent tokens plus ``pad`` keys
that never match, so every size sees the same hits and only the map
grows. ``documents`` is cached; each form is written to the noop
sink once to warm up, then ``reps`` times; the row prints the median
wall seconds of each.

Usage: python tools/map_lookup_ab.py [sf_dir] [pads] [reps]
  e.g. python tools/map_lookup_ab.py /root/testdata/sf0.1 0,1000,4000 3
"""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
PADS = [int(x) for x in (sys.argv[2] if len(sys.argv) > 2 else "0,1000,4000").split(",")]
REPS = int(sys.argv[3]) if len(sys.argv) > 3 else 3


def main():
    from pyspark.sql import functions as F

    from wimbd_spark import get_spark
    from wimbd_spark.functions.text import tokenize
    from wimbd_spark.session import local_frame

    spark = get_spark(app_name="map-ab", master="local[2]", shuffle_partitions=2)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    ).cache()
    n_docs = docs.count()
    top = [
        r["t"]
        for r in docs.select(F.explode(tokenize(F.col("text"))).alias("t"))
        .groupBy("t").count().orderBy(F.desc("count"), "t").limit(31).collect()
    ]

    def timed(df) -> float:
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    print(f"# sf_dir={SF_DIR} docs={n_docs} reps={REPS} master=local[2]")
    print("| model keys | map + element_at s | explode + broadcast join s |")
    print("|---|---|---|")
    for pad in PADS:
        keys = [f"\u0001pad{i}" for i in range(pad)] + top
        model = local_frame(
            spark,
            [(t, float(i % 7)) for i, t in enumerate(keys)],
            "t string, w double",
        )
        vocab = model.agg(
            F.map_from_entries(F.collect_list(F.struct("t", "w"))).alias("vocab")
        )
        map_form = docs.join(F.broadcast(vocab)).select(
            "doc_id",
            F.aggregate(
                tokenize(F.col("text")),
                F.lit(0.0),
                lambda acc, t: acc
                + F.coalesce(F.element_at(F.col("vocab"), t), F.lit(0.0)),
            ).alias("s"),
        )
        join_form = (
            docs.select("doc_id", F.explode(tokenize(F.col("text"))).alias("t"))
            .join(F.broadcast(model), "t", "left")
            .groupBy("doc_id")
            .agg(F.sum(F.coalesce(F.col("w"), F.lit(0.0))).alias("s"))
        )
        cols = []
        for df in (map_form, join_form):
            timed(df)
            cols.append(statistics.median(timed(df) for _ in range(REPS)))
        print(f"| {len(keys)} | {cols[0]:.2f} | {cols[1]:.2f} |", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
