#!/usr/bin/env python
"""Isolated per-query profiling: warm best-of-N with construction
(driver-side plan building + any collect jobs inside the query
function) and execution (noop sink) timed separately.

For the best rep it also prints the py4j commands the Python driver
sent while constructing the query, and the Spark jobs run during
construction and during execution (each phase runs under its own job
group, counted with the status tracker).

Usage: python tools/profile_query.py <query> [query ...]
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), N_REPS (3).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
N_REPS = int(os.environ.get("N_REPS", "3"))

#: py4j commands sent by this process since ``count_py4j_commands``
#: was first called.
_PY4J_SENT = [0]


def count_py4j_commands() -> list[int]:
    """Count every py4j command the Python driver sends from now on;
    returns the one-element counter."""
    from py4j.java_gateway import GatewayClient

    if not getattr(GatewayClient.send_command, "_counted", False):
        real = GatewayClient.send_command

        def counted(self, *args, **kwargs):
            _PY4J_SENT[0] += 1
            return real(self, *args, **kwargs)

        counted._counted = True
        GatewayClient.send_command = counted
    return _PY4J_SENT


def profile_once(spark, query, sf_dir: str, group: str) -> dict:
    """Construct and execute ``query(spark, sf_dir)`` once: wall
    seconds, py4j commands and Spark jobs of each phase."""
    sc = spark.sparkContext
    sent = count_py4j_commands()
    sc.setJobGroup(f"{group}:construct", f"{group}:construct")
    n0 = sent[0]
    t0 = time.perf_counter()
    df = query(spark, sf_dir)
    t1 = time.perf_counter()
    n1 = sent[0]
    sc.setJobGroup(f"{group}:execute", f"{group}:execute")
    df.write.format("noop").mode("overwrite").save()
    t2 = time.perf_counter()
    sc._jsc.clearJobGroup()
    tracker = sc.statusTracker()
    return {
        "total_s": t2 - t0,
        "construct_s": t1 - t0,
        "execute_s": t2 - t1,
        "construct_py4j": n1 - n0,
        "construct_jobs": len(tracker.getJobIdsForGroup(f"{group}:construct")),
        "execute_jobs": len(tracker.getJobIdsForGroup(f"{group}:execute")),
    }


def main() -> None:
    import __spark_entry__ as entrymod
    from wimbd_spark.session import get_spark

    spark = get_spark(app_name="profile-query")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    if hasattr(entrymod, "bench_only_queries"):
        qs.update(entrymod.bench_only_queries())
    if hasattr(entrymod, "prepare_benchmark"):
        entrymod.prepare_benchmark(spark, SF_DIR)

    names = sys.argv[1:]
    # one warmup pass at the smallest SF, mirroring bench.py
    for name in names:
        try:
            qs[name](spark, "/root/testdata/sf0.001").write.format(
                "noop"
            ).mode("overwrite").save()
        except Exception:
            pass

    for name in names:
        best = min(
            (
                profile_once(spark, qs[name], SF_DIR, f"profile:{name}:{rep}")
                for rep in range(N_REPS)
            ),
            key=lambda p: p["total_s"],
        )
        print(
            f"{name}: total={best['total_s']:.3f}s "
            f"construct={best['construct_s']:.3f}s "
            f"exec={best['execute_s']:.3f}s "
            f"construct_py4j={best['construct_py4j']} "
            f"construct_jobs={best['construct_jobs']} "
            f"exec_jobs={best['execute_jobs']}"
        )
    spark.stop()


if __name__ == "__main__":
    main()
