"""The event-log fold: unit checks on a hand-written log, and one tiny
traced run whose per-query rows must reconcile with wall time."""

import json
import os

import eventlog
import gen
from run import MIN_PASSES, Bench
from workloads import Workload


def _write_log(path, events):
    with open(path, "w") as f:
        for ev in events:
            f.write(json.dumps(ev) + "\n")


def test_union_length_clips_and_merges():
    ivs = [(1.0, 3.0), (2.0, 4.0), (6.0, 7.0), (9.0, 12.0)]
    assert eventlog.union_length(ivs, 0.0, 10.0) == 3.0 + 1.0 + 1.0
    assert eventlog.union_length(ivs, 2.5, 6.5) == 1.5 + 0.5
    assert eventlog.union_length([], 0.0, 1.0) == 0.0


def test_fold_attributes_jobs_stages_and_tasks_to_groups(tmp_path):
    g = eventlog.group_id(0, "q", "execute")
    py_scope = json.dumps({"id": "1", "name": "ArrowEvalPython"})
    task = {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": 5,
        "Task Metrics": {
            "Executor Run Time": 200,
            "Executor CPU Time": 150_000_000,
            "JVM GC Time": 10,
            "Disk Bytes Spilled": 0,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 2_000_000},
            "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": 1_000_000},
        },
    }
    _write_log(
        tmp_path / "log",
        [
            {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1000,
             "Properties": {"spark.jobGroup.id": g}},
            {"Event": "SparkListenerStageSubmitted", "Properties": {"spark.jobGroup.id": g},
             "Stage Info": {"Stage ID": 5, "RDD Info": [{"Scope": py_scope}]}},
            task,
            task,
            {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1500},
            # an ungrouped job (set-up) is ignored
            {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 1600},
            {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 1700},
        ],
    )
    groups = eventlog.fold_groups(str(tmp_path / "log"))
    assert set(groups) == {g}
    r = groups[g]
    assert (r["jobs"], r["stages"], r["tasks"]) == (1, 1, 2)
    assert r["run_s"] == r["python_s"] == 0.4
    assert abs(r["cpu_s"] - 0.3) < 1e-9
    assert r["shuffle_write_mb"] == 4.0 and r["shuffle_read_mb"] == 2.0
    assert r["intervals"] == [(1.0, 1.5)]

    rows = eventlog.layer_rows(
        [{"pass": 0, "query": "q", "t0": 0.9, "t1": 1.6, "latency_s": 0.7}], groups
    )
    assert rows[0]["execute_jobs"] == 1
    assert abs(rows[0]["driver_gap_s"] - 0.2) < 1e-9
    assert rows[0]["outside_s"] == 0.0


TINY = Workload(
    name="tiny",
    corpus=gen.CorpusSpec(n_docs=200),
    queries={
        "corpus_stats": "operators.stats",
        "lang_counts": "operators.keycount",
        "dedup_exact_keepfirst": "operators.dedup",
        "lsh_neardup_pairs": "operators.neardup",
        "contamination_rate_indexed": "index",
    },
    builds=("contam",),
    nominal_pass_s=1.0,
)


def test_tiny_traced_run_reconciles(tmp_path, monkeypatch):
    from conftest import REPO_ROOT

    for var in ("TMPDIR", "SPARK_LOCAL_DIRS", "PYSPARK_PYTHON", "PYTHONPATH"):
        monkeypatch.setenv(var, os.environ.get(var, ""))
    bench = Bench(REPO_ROOT, TINY, seed=1, seconds=0, trace=True, out_dir=str(tmp_path))
    try:
        result = bench.run()
    finally:
        bench.stop()
    assert result["correct"], result["_problems"]
    ops = [*TINY.queries, "build:contam"]
    assert result["attempted"] == MIN_PASSES * len(ops)
    detail = json.load(open(bench.detail_path))
    rows = detail["rows"]
    assert sorted({r["query"] for r in rows}) == sorted(ops)
    assert len(rows) == result["attempted"]
    for r in rows:
        if r["query"] == "build:contam":
            assert r["build_jobs"] >= 1
            assert r["build_s"] == r["latency_s"]
        else:
            assert r["execute_jobs"] >= 1
            assert abs(r["construct_s"] + r["execute_s"] - r["latency_s"]) < 1e-9
        assert r["driver_gap_s"] >= 0
    assert detail["reconcile"]["ok"], detail["reconcile"]
    assert result["metrics"]["execute.tasks"] > 0
    assert result["metrics"]["index.build_s.contam"] > 0
    assert result["metrics"]["index.mb.contam"] > 0
