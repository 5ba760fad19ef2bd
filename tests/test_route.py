"""The one cost router (``wimbd_spark.route``): each gate's unknown-size
policy, the session-conf override that flips each gate's physical plan
both ways with no job at construction, and the decision record."""

import re
import uuid

import pytest

from wimbd_spark import route
from wimbd_spark.plans import explain_str
from wimbd_spark.session import (
    load_tables,
    local_frame,
    plan_size_bytes,
    rebalance_small_input,
    release_scoped_persists,
)

from conftest import SF_DIR, forced_route

#: the route each gate takes for an input the optimizer cannot size
UNKNOWN = {"spread": "large", "pmi_persist": "small", "prefilter": "large"}

#: as many phrases as the prefilter's floor, so its scan work is sized
PHRASES = [
    (f"zz{i} yy{i} xx{i}",) for i in range(route.PREFILTER_MIN_PHRASES)
]


def _load(spark, docs=None):
    return load_tables(
        spark, SF_DIR, names=["documents"], register_views=False
    )["documents"]


@pytest.fixture(scope="module")
def docs(spark):
    return _load(spark)


@pytest.fixture(scope="module")
def rdd_docs(spark, docs):
    """A plan the optimizer cannot size (an RDD-backed relation)."""
    return spark.createDataFrame(docs.rdd, docs.schema)


@pytest.fixture(scope="module")
def evalset(spark):
    return local_frame(spark, PHRASES, "phrase string")


def _spread(spark, df):
    return rebalance_small_input(df, key="doc_id")


def _pmi(spark, df):
    from wimbd_spark.operators.topk import top_pmi_bigrams

    return top_pmi_bigrams(df, k=3)


def _prefilter(spark, df):
    from wimbd_spark.operators.dedup import contamination_rate

    ev = local_frame(spark, PHRASES, "phrase string")
    return contamination_rate(ev, df, "phrase")


#: gate -> (the query that asks it, the plan its large route has)
QUERY = {
    "spread": (
        _load,
        lambda plan: "REPARTITION_BY_NUM" in plan
        and "hashpartitioning(doc_id" in plan,
    ),
    "pmi_persist": (_pmi, lambda plan: "InMemoryRelation" in plan),
    "prefilter": (
        _prefilter,
        lambda plan: re.search(r"Right keys \[1\]: \[_anchor#", plan),
    ),
}


def _jobs_while(spark, build):
    sc = spark.sparkContext
    group = f"route-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = build()
    finally:
        sc._jsc.clearJobGroup()
    return out, sc.statusTracker().getJobIdsForGroup(group)


@pytest.mark.parametrize("gate", sorted(UNKNOWN))
def test_unknown_input_takes_the_gate_policy(spark, rdd_docs, gate):
    assert route.GATES[gate].unknown == UNKNOWN[gate]
    assert route.choose(spark, gate, None) == UNKNOWN[gate]
    assert route.choose(spark, gate, lambda: None) == UNKNOWN[gate]
    # the operator behind the gate asks it about the unsizable plan
    run = {"spread": _spread, "pmi_persist": _pmi, "prefilter": _prefilter}
    with route.recording() as rec:
        run[gate](spark, rdd_docs)
    assert rec == [(gate, None, route.GATES[gate].threshold, UNKNOWN[gate])]
    release_scoped_persists()


@pytest.mark.parametrize("gate", sorted(QUERY))
def test_override_flips_the_plan(spark, docs, gate):
    build, is_large = QUERY[gate]
    for choice in ("small", "large"):
        with forced_route(spark, choice, gate):
            df, jobs = _jobs_while(spark, lambda: build(spark, docs))
        assert jobs == [], (gate, choice)
        assert bool(is_large(explain_str(df))) == (choice == "large"), choice
    release_scoped_persists()


def test_per_gate_key_beats_the_global_key(spark):
    with forced_route(spark, "large"):
        assert route.choose(spark, "pmi_persist", 0) == "large"
        with forced_route(spark, "small", "pmi_persist"):
            assert route.choose(spark, "pmi_persist", 1 << 40) == "small"
            assert route.choose(spark, "spread", 0) == "large"
        with forced_route(spark, "auto", "pmi_persist"):
            assert route.choose(spark, "pmi_persist", 0) == "small"
    for gate in (None, "spread"):
        with forced_route(spark, "big", gate):
            with pytest.raises(ValueError, match="expected auto, small"):
                route.choose(spark, "spread", 0)


def test_each_choice_is_recorded(spark, docs, evalset):
    from wimbd_spark.operators.dedup import contamination_rate
    from wimbd_spark.operators.topk import top_pmi_bigrams

    size, n = plan_size_bytes(docs), len(PHRASES)
    with route.recording() as rec:
        _load(spark)
        top_pmi_bigrams(docs, k=3)
        contamination_rate(evalset, docs, "phrase")
    assert rec == [
        ("spread", size, 128 << 10, "small"),
        ("pmi_persist", size, 2 << 20, "small"),
        ("prefilter", size * n, 5e11, "small"),
    ]
    # a forced route records its choice and probes nothing: no count()
    with route.recording() as rec:
        with forced_route(spark, "large", "prefilter"):
            _, jobs = _jobs_while(
                spark, lambda: contamination_rate(evalset, docs, "phrase")
            )
    assert rec == [("prefilter", None, 5e11, "large")] and jobs == []
    # with no context open nothing is kept
    route.choose(spark, "spread", 0)
    assert rec == [("prefilter", None, 5e11, "large")]
    assert route._RECORD.get() is None
