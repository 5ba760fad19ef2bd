"""session.plan_size_bytes, the one job-free size probe, and the policy
of a gate outside wimbd_spark.route when the size is unknown (the
router's gates: tests/test_route.py)."""

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


def test_lsh_block_gate_treats_unknown_as_small(rdd_docs, monkeypatch):
    import wimbd_spark.operators.similarity as sim

    def no_probe(*a, **k):
        raise AssertionError("unknown size must not run the clean probe")

    monkeypatch.setattr(sim, "_lsh_clean_probe", no_probe)
    out = sim._lsh_block_pairs(
        rdd_docs, None, 0.5, "doc_id", nbits=1, dim=1, multiprobe=False
    )
    assert out is None

