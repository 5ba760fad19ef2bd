"""session.plan_size_bytes, the one job-free size probe, and the policy
each cost gate applies when the size is unknown."""

import pytest

from wimbd_spark.session import plan_size_bytes


@pytest.fixture(scope="module")
def rdd_docs(spark, documents):
    """A plan the optimizer cannot size: an RDD-backed relation reports
    Long.MaxValue bytes."""
    return spark.createDataFrame(documents.rdd, documents.schema)


def test_file_plan_has_a_size(documents):
    sz = plan_size_bytes(documents)
    assert sz is not None and 0 < sz < 2**40


def test_unsizable_plans_are_unknown(documents, rdd_docs):
    assert plan_size_bytes(rdd_docs) is None
    # a cross product of estimates overflows past Long.MaxValue/2
    d = documents
    big = d.crossJoin(d).crossJoin(d).crossJoin(d)
    assert plan_size_bytes(big) is None


def test_pmi_persist_gate_treats_unknown_as_small(rdd_docs, monkeypatch):
    import wimbd_spark.session as session
    from wimbd_spark.operators.topk import top_pmi_bigrams

    calls = []
    real = session.scoped_persist

    def spy(*a, **k):
        calls.append(1)
        return real(*a, **k)

    monkeypatch.setattr(session, "scoped_persist", spy)
    top_pmi_bigrams(rdd_docs, k=3)
    assert not calls, "unknown size must not persist the count tables"
    # a size past the threshold persists both tables
    monkeypatch.setattr(session, "plan_size_bytes", lambda df: 1 << 40)
    top_pmi_bigrams(rdd_docs, k=3)
    assert len(calls) == 2


def test_lsh_block_gate_treats_unknown_as_small(rdd_docs, monkeypatch):
    import wimbd_spark.operators.similarity as sim

    def no_probe(*a, **k):
        raise AssertionError("unknown size must not run the clean probe")

    monkeypatch.setattr(sim, "_lsh_clean_probe", no_probe)
    out = sim._lsh_block_pairs(
        rdd_docs, None, 0.5, "doc_id", nbits=1, dim=1, multiprobe=False
    )
    assert out is None


def test_contamination_prefilter_treats_unknown_as_large(
    spark, documents, rdd_docs, monkeypatch
):
    import wimbd_spark.operators.dedup as dd

    calls = []
    real = dd._anchored_hits

    def spy(*a, **k):
        calls.append(1)
        return real(*a, **k)

    monkeypatch.setattr(dd, "_anchored_hits", spy)
    evalset = spark.createDataFrame(
        [(f"zz{i} yy{i} xx{i}",) for i in range(3)], "phrase string"
    )
    row = dd.contamination_rate(
        evalset, rdd_docs, "phrase", prefilter_threshold=2
    ).collect()[0]
    assert calls, "unknown corpus size must take the prefilter"
    assert (row["contaminated"], row["total"]) == (0, 3)
    # a sized corpus under the budget stays on the direct path
    calls.clear()
    dd.contamination_rate(
        evalset, documents, "phrase", prefilter_threshold=2
    ).collect()
    assert not calls
