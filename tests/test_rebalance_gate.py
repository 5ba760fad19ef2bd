"""The load-time spread (route's ``spread`` gate): small fixtures are
not spread, and the spread branch returns the unspread rows. Every
fixture is under the gate, so the spread is forced through the session
conf (``spark.wimbd.route.spread``); tests/test_route.py flips the plan
both ways and checks the unknown-size policy."""

import pytest
from pyspark.sql import functions as F

import wimbd_spark.session as session
from wimbd_spark import route
from wimbd_spark.plans import explain_str

from conftest import SF_DIR as SF, forced_route


def _load_documents(spark):
    return session.load_tables(
        spark, SF, names=["documents"], register_views=False
    )["documents"]


def _spread(df) -> bool:
    plan = explain_str(df)
    return "REPARTITION_BY_NUM" in plan and "hashpartitioning(doc_id" in plan


def test_small_documents_are_not_spread(spark):
    docs = _load_documents(spark)
    assert docs.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism
    assert session.plan_size_bytes(docs) < route.GATES["spread"].threshold
    assert "REPARTITION_BY_NUM" not in explain_str(docs)


@pytest.fixture(scope="module")
def raw_docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


@pytest.mark.parametrize(
    "op", ["minhash_dedup_pairs", "winnow_fingerprints", "topk_ngrams"]
)
def test_spread_and_unspread_give_the_same_rows(spark, raw_docs, op):
    from wimbd_spark.operators.neardup import minhash_dedup_pairs
    from wimbd_spark.operators.topk import topk_ngrams
    from wimbd_spark.operators.winnow import winnow_fingerprints

    plain = session.rebalance_small_input(raw_docs, key="doc_id")
    with forced_route(spark, "large", "spread"):
        spread = session.rebalance_small_input(raw_docs, key="doc_id")
    assert _spread(spread) and plain is raw_docs

    def with_neardups(df):
        # mutated copies give the LSH path true positives to find
        docs = df.select("doc_id", "text")
        return docs.unionAll(
            docs.select(
                (F.col("doc_id") + 1000000).alias("doc_id"),
                F.regexp_replace("text", r"^\S+\s*", "").alias("text"),
            )
        )

    run = {
        "minhash_dedup_pairs": lambda df: minhash_dedup_pairs(
            with_neardups(df), num_hashes=4, bands=2, threshold=0.5
        ),
        "winnow_fingerprints": lambda df: winnow_fingerprints(df),
        "topk_ngrams": lambda df: topk_ngrams(df, 3, 20),
    }[op]
    want = sorted(tuple(r) for r in run(plain).collect())
    assert want
    assert sorted(tuple(r) for r in run(spread).collect()) == want
