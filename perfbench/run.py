#!/usr/bin/env python3
"""Benchmark the driver contract (``__spark_entry__``) on seeded inputs.

Run from the repository root:

    python3 perfbench/run.py --workload wimbd_scan --seed 1 --seconds 20 --trace 0

One process, one client, closed loop: the next operation starts only
after the previous one finished, on ``local[N]`` with N = min(CORES, cores).
A run

1. writes the workload's corpus from ``--seed`` (``gen.py``);
2. starts a session and loads the tables SETUP_REPS times, stopping the
   previous session each time, and reports the median CPU time the
   program spent on it as ``setup_s``;
3. builds the workload's indexes and runs every query once, untimed,
   collecting the query rows; DuckDB computes the oracles in a thread
   during the first session start (``oracle.py``);
4. times whole passes over the workload's operations: enough passes to
   last ``--seconds`` at the workload's nominal pass time, and at least
   MIN_PASSES. The pass count depends only on ``--seconds``, so every
   run of a workload pools the same number of samples. A pass first
   rewrites the workload's indexes (timed as build), then runs its
   queries, each timed as construct (the call into the query function,
   including the driver jobs the package runs while building the plan)
   plus execute (the noop-sink action). Each operation and each pass
   also records the CPU time the program spent on it (``cpu.py``);
5. compares the collected rows with the oracles, outside the timed
   region.

With ``--trace 1`` the session writes Spark's event log, each timed
phase runs under its own job group, and the log is folded into one row
per timed operation (``eventlog.py``); the result then carries
the per-layer metrics instead of the end-to-end ones. The last stdout
line is the JSON result; the per-run detail goes to
``.perfbench/<workload>-seed<seed>-c<cores>-trace<t>.json``. The exit
code is 1 when any result is wrong, 2 when the program is missing.
"""

from __future__ import annotations

import argparse
import glob
import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import threading
import time

import cpu
import eventlog
import gen
from workloads import WORKLOADS

SETUP_REPS = 5
MIN_PASSES = 4
#: Spark task slots. Fewer than the 4 cores of the reference box leave
#: room for the driver, the Python workers and DuckDB, so runs contend
#: less with themselves.
CORES = 2
TAIL_BEYOND = 10
#: The indexes a workload can rewrite, as ``__spark_entry__`` names
#: them (its directories are ``$TMPDIR/wimbd_<name>_index_<tag>``), with
#: the filter that selects the documents each is built over.
INDEX_DOCS = {"contam": "source != 'src0'"}

UNITS = {
    "setup_s": "s",
    "cpu_s": "s",
    "op_cpu_p50_s": "s",
    "disk_mb": "MB",
    "session.get_spark_s": "s",
    "session.load_tables_s": "s",
    "session.persists": "count",
    "construct.s": "s",
    "construct.jobs": "count",
    "execute.s": "s",
    "execute.jobs": "count",
    "execute.stages": "count",
    "execute.tasks": "count",
    "driver.gap_s": "s",
    "executor.run_s": "s",
    "executor.cpu_s": "s",
    "executor.gc_s": "s",
    "executor.python_s": "s",
    "shuffle.write_mb": "MB",
    "shuffle.read_mb": "MB",
    "spill.mb": "MB",
    "index.build_s.contam": "s",
    "index.mb.contam": "MB",
    "jvm.peak_rss_mb": "MB",
    "trace.cpu_s": "s",
    "trace.wall_s": "s",
    "trace.latency_p50_s": "s",
    "trace.latency_tail_s": "s",
    "trace.reconcile_err": "ratio",
}


def tail_latency(samples: list[float], beyond: int = TAIL_BEYOND):
    """The highest percentile with at least ``beyond`` samples above it:
    returns (value, percentile, sample count), with value and percentile
    None when there are too few samples for one."""
    xs = sorted(samples)
    if len(xs) <= beyond:
        return None, None, len(xs)
    i = len(xs) - beyond - 1
    return xs[i], 100.0 * (i + 1) / len(xs), len(xs)


def percentiles(samples: list[float]) -> dict:
    """Median and tail (``tail_latency``) of one kind of sample."""
    tail, pct, n = tail_latency(samples)
    return {"p50": statistics.median(samples) if samples else None,
            "tail": tail, "tail_percentile": pct, "samples": n}


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


def build_index(spark, data_dir: str, name: str) -> None:
    """Rewrite index ``name`` at the path the declared queries read it
    from; their plan memo sees the new files and reloads them."""
    import __spark_entry__ as entrymod
    from wimbd_spark.index import build_phrase_index

    docs = entrymod._docs(spark, data_dir).filter(INDEX_DOCS[name])
    build_phrase_index(docs, entrymod._index_path(data_dir, name))


def jvm_peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise ValueError(f"no VmHWM for pid {pid}")


class Bench:
    def __init__(self, root: str, workload, seed: int, seconds: float, trace: bool,
                 out_dir: str | None = None):
        self.root = root
        self.w = workload
        self.seed = seed
        self.passes = max(MIN_PASSES, math.ceil(seconds / workload.nominal_pass_s))
        self.trace = trace
        self.cores = min(CORES, len(os.sched_getaffinity(0)))
        tag = f"{workload.name}-seed{seed}-c{self.cores}-trace{int(trace)}"
        out_dir = out_dir or os.path.join(root, ".perfbench")
        self.detail_path = os.path.join(out_dir, f"{tag}.json")
        self.run_dir = os.path.join(out_dir, "work", tag)
        self.data_dir = os.path.join(self.run_dir, "data")
        self.tmp_dir = os.path.join(self.run_dir, "tmp")
        self.event_dir = os.path.join(self.run_dir, "events")
        self.spark = None
        self.jvm = None
        self.cpu = cpu.ProgramCpu(os.getpid())

    # ------------------------------------------------------------ set-up
    def prepare_dirs(self) -> None:
        shutil.rmtree(self.run_dir, ignore_errors=True)
        for d in (self.data_dir, self.tmp_dir, self.event_dir):
            os.makedirs(d)
        # everything the program and its workers write stays in the run dir
        os.environ["TMPDIR"] = self.tmp_dir
        tempfile.tempdir = None  # re-read TMPDIR on next use
        os.environ["SPARK_LOCAL_DIRS"] = self.tmp_dir
        os.environ["PYSPARK_PYTHON"] = sys.executable
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (self.root, os.environ.get("PYTHONPATH")) if p
        )
        # every JVM the run starts, the spark-submit launcher included
        os.environ["JAVA_TOOL_OPTIONS"] = (
            f"-Djava.io.tmpdir={self.tmp_dir} -XX:-UsePerfData"
        )

    def session_conf(self) -> dict[str, str]:
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "2g",
            "spark.sql.warehouse.dir": os.path.join(self.tmp_dir, "warehouse"),
        }
        if self.trace:
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = self.event_dir
            # one plain JSON-lines file per application, whatever the
            # Spark version's defaults
            conf["spark.eventLog.rolling.enabled"] = "false"
            conf["spark.eventLog.compress"] = "false"
        return conf

    def setup_once(self) -> tuple[float, float, float]:
        """Start a session and load the tables: wall seconds of each,
        and the program's CPU seconds for both."""
        from wimbd_spark.session import get_spark, load_tables

        if self.spark is not None:
            self.spark.stop()
        c0 = self.cpu()
        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name=f"perfbench-{self.w.name}",
            master=f"local[{self.cores}]",
            shuffle_partitions=self.cores,
            extra_conf=self.session_conf(),
        )
        t1 = time.perf_counter()
        load_tables(self.spark, self.data_dir, names=["documents"], register_views=False)
        t2 = time.perf_counter()
        c = self.cpu() - c0
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.jvm is None:
            from pyspark import SparkContext

            self.jvm = SparkContext._gateway.proc
            self.cpu.jvm = self.jvm.pid
        return t1 - t0, t2 - t1, c

    # --------------------------------------------------------- the loop
    def set_group(self, pass_no: int, query: str, phase: str) -> None:
        if self.trace:
            gid = eventlog.group_id(pass_no, query, phase)
            self.spark.sparkContext.setJobGroup(gid, gid)

    def warm_up(self, qs) -> tuple[dict, dict, dict]:
        """Build each index and run each query once, collecting the
        query rows for the oracle gate."""
        from wimbd_spark.session import release_scoped_persists

        results, errors, times = {}, {}, {}
        for name in self.w.builds:
            t0 = time.perf_counter()
            try:
                build_index(self.spark, self.data_dir, name)
            except Exception as exc:  # a failing build is a measured outcome
                errors[f"build:{name}"] = f"{type(exc).__name__}: {exc}"[:500]
            times[f"build:{name}"] = time.perf_counter() - t0
        for name in self.w.queries:
            t0 = time.perf_counter()
            try:
                df = qs[name](self.spark, self.data_dir)
                results[name] = (df.columns, [tuple(r) for r in df.collect()])
            except Exception as exc:  # a failing query is a measured outcome
                errors[name] = f"{type(exc).__name__}: {exc}"[:500]
            release_scoped_persists()
            times[name] = time.perf_counter() - t0
        return results, errors, times

    def timed_loop(self, qs) -> tuple[list[dict], list[dict], dict]:
        from wimbd_spark.session import release_scoped_persists

        execs, passes, errors = [], [], {}
        for pass_no in range(self.passes):
            p0, pc0 = time.perf_counter(), self.cpu()
            for name in self.w.builds:
                ex = {"pass": pass_no, "query": f"build:{name}", "module": "index"}
                try:
                    self.set_group(pass_no, ex["query"], "build")
                    ca = self.cpu()
                    ex["t0"], a = time.time(), time.perf_counter()
                    build_index(self.spark, self.data_dir, name)
                    b = time.perf_counter()
                    ex["t1"] = time.time()
                    ex |= {"build_s": b - a, "construct_s": 0.0, "execute_s": 0.0,
                           "latency_s": b - a, "program_cpu_s": self.cpu() - ca}
                except Exception as exc:  # a failing build is a measured outcome
                    errors.setdefault(ex["query"], f"{type(exc).__name__}: {exc}"[:500])
                    ex["error"] = True
                ex["persists"] = release_scoped_persists()
                execs.append(ex)
            for name, module in self.w.queries.items():
                ex = {"pass": pass_no, "query": name, "module": module}
                try:
                    self.set_group(pass_no, name, "construct")
                    ca = self.cpu()
                    ex["t0"], a = time.time(), time.perf_counter()
                    df = qs[name](self.spark, self.data_dir)
                    b = time.perf_counter()
                    self.set_group(pass_no, name, "execute")
                    df.write.format("noop").mode("overwrite").save()
                    c = time.perf_counter()
                    ex["t1"] = time.time()
                    ex |= {"construct_s": b - a, "execute_s": c - b, "latency_s": c - a,
                           "program_cpu_s": self.cpu() - ca}
                except Exception as exc:  # a failing query is a measured outcome
                    errors.setdefault(name, f"{type(exc).__name__}: {exc}"[:500])
                    ex["error"] = True
                ex["persists"] = release_scoped_persists()
                execs.append(ex)
            passes.append({"pass": pass_no, "wall_s": time.perf_counter() - p0,
                           "cpu_s": self.cpu() - pc0})
        if self.trace:
            self.spark.sparkContext.setJobGroup("", "")
        return execs, passes, errors

    # --------------------------------------------------------------- run
    def run(self) -> dict:
        self.prepare_dirs()
        inputs = gen.generate(self.w.corpus, self.seed, self.data_dir)

        import __spark_entry__ as entrymod
        import oracle

        qs = entrymod.queries()
        oracles = entrymod.oracle_sql()

        # The DuckDB oracles depend only on the inputs: they run beside
        # the first session start, which launches the JVM and is never
        # the median set-up, and are joined before the other starts.
        expected = {}
        oracle_thread = threading.Thread(
            target=lambda: expected.update(
                oracle.oracle_rows(
                    {q: oracles[q] for q in self.w.queries if q in oracles},
                    self.data_dir,
                    self.cores,
                    self.tmp_dir,
                )
            )
        )
        oracle_thread.start()
        try:
            setups = [self.setup_once()]
        finally:
            oracle_thread.join()
        setups += [self.setup_once() for _ in range(SETUP_REPS - 1)]

        t0 = time.perf_counter()
        results, warm_errors, warm_times = self.warm_up(qs)
        warmup_s = time.perf_counter() - t0

        execs, passes, loop_errors = self.timed_loop(qs)
        app_id = self.spark.sparkContext.applicationId
        peak_rss = jvm_peak_rss_mb(self.jvm.pid)
        self.stop()

        mismatches = {}
        for name, got in results.items():
            want = expected.get(name, "no oracle_sql() entry")
            why = want if isinstance(want, str) else oracle.mismatch(*got, *want)
            if why:
                mismatches[name] = why
        bad = set(mismatches) | set(warm_errors) | set(loop_errors)
        good = [e for e in execs if "error" not in e]
        op_cpu = percentiles([e["program_cpu_s"] for e in good])
        index_bytes = {
            name: sum(map(dir_bytes, glob.glob(f"{self.tmp_dir}/wimbd_{name}_index_*")))
            for name in INDEX_DOCS
        }
        metrics = {
            "setup_s": statistics.median(c for _, _, c in setups),
            "cpu_s": statistics.median(p["cpu_s"] for p in passes),
            "op_cpu_p50_s": op_cpu["p50"],
            "disk_mb": (inputs["documents_bytes"] + sum(index_bytes.values())) / 1e6,
        }
        detail = {
            "workload": self.w.name,
            "seed": self.seed,
            "cores": self.cores,
            "trace": self.trace,
            "loop": "closed, 1 client",
            "inputs": inputs,
            "setups_s": setups,
            "warmup_s": warmup_s,
            "warmup_by_query_s": warm_times,
            "op_cpu_s": op_cpu,
            # wall-clock figures: reported, not bounded (see README.md)
            "wall_s": statistics.median(p["wall_s"] for p in passes),
            "latency_s": percentiles([e["latency_s"] for e in good]),
            "passes": passes,
            "index_bytes": index_bytes,
            "errors": warm_errors | loop_errors,
            "mismatches": mismatches,
            "jvm_peak_rss_mb": peak_rss,
        }
        if self.trace:
            rows = eventlog.layer_rows(
                [e for e in execs if "error" not in e],
                eventlog.fold_groups(
                    glob.glob(os.path.join(self.event_dir, f"{app_id}*"))[0]
                ),
            )
            metrics, detail["reconcile"] = self.layer_metrics(
                rows, passes, setups, index_bytes, peak_rss
            )
            detail["rows"] = rows
            detail["by_module"] = by_module(rows)
        else:
            detail["executions"] = execs
        detail["metrics"] = metrics
        with open(self.detail_path, "w") as f:
            json.dump(detail, f, indent=1)
        shutil.rmtree(self.run_dir, ignore_errors=True)
        return {
            "correct": not bad,
            "attempted": len(execs),
            "failed": sum(1 for e in execs if e["query"] in bad),
            "metrics": metrics,
            "_problems": detail["errors"] | mismatches,
        }

    @staticmethod
    def layer_metrics(rows, passes, setups, index_bytes, peak_rss):
        def per_pass(key, query=None):
            return sum(
                r.get(key, 0) for r in rows if query in (None, r["query"])
            ) / len(passes)

        # The parts must add up to measured wall time: query latencies
        # (construct + execute) against each pass's wall clock, and job
        # time against each query's own window.
        pass_err = max(
            abs(sum(r["latency_s"] for r in rows if r["pass"] == p["pass"]) - p["wall_s"])
            / p["wall_s"]
            for p in passes
        )
        job_err = max((r["outside_s"] / r["latency_s"] for r in rows), default=0.0)
        latency = percentiles([r["latency_s"] for r in rows])
        metrics = {
            "session.get_spark_s": statistics.median(a for a, _, _ in setups),
            "session.load_tables_s": statistics.median(b for _, b, _ in setups),
            "session.persists": per_pass("persists"),
            "construct.s": per_pass("construct_s"),
            "construct.jobs": per_pass("construct_jobs"),
            "execute.s": per_pass("execute_s"),
            "execute.jobs": per_pass("execute_jobs"),
            "execute.stages": per_pass("execute_stages"),
            "execute.tasks": per_pass("execute_tasks"),
            "driver.gap_s": per_pass("driver_gap_s"),
            "executor.run_s": per_pass("run_s"),
            "executor.cpu_s": per_pass("cpu_s"),
            "executor.gc_s": per_pass("gc_s"),
            "executor.python_s": per_pass("python_s"),
            "shuffle.write_mb": per_pass("shuffle_write_mb"),
            "shuffle.read_mb": per_pass("shuffle_read_mb"),
            "spill.mb": per_pass("spill_mb"),
            "index.build_s.contam": per_pass("build_s", "build:contam"),
            "index.mb.contam": index_bytes["contam"] / 1e6,
            "jvm.peak_rss_mb": peak_rss,
            "trace.cpu_s": statistics.median(p["cpu_s"] for p in passes),
            "trace.wall_s": statistics.median(p["wall_s"] for p in passes),
            "trace.latency_p50_s": latency["p50"],
            "trace.latency_tail_s": latency["tail"],
            "trace.reconcile_err": max(pass_err, job_err),
        }
        reconcile = {"pass_err": pass_err, "job_err": job_err,
                     "ok": pass_err <= 0.1 and job_err <= 0.1}
        return metrics, reconcile

    def stop(self) -> None:
        """Stop the session, then the gateway JVM, and wait for it."""
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        if self.jvm is not None:
            from pyspark import SparkContext

            SparkContext._gateway = None
            SparkContext._jvm = None
            self.jvm.stdin.close()  # the gateway exits on stdin EOF
            try:
                self.jvm.wait(timeout=60)
            except Exception:
                self.jvm.kill()
                self.jvm.wait()
            self.jvm = None


def by_module(rows: list[dict]) -> dict[str, dict]:
    """Per-layer sums over the timed executions, by module tag."""
    out: dict[str, dict] = {}
    for r in rows:
        m = out.setdefault(r["module"], {"executions": 0})
        m["executions"] += 1
        for k in ("latency_s", "construct_s", "execute_s", "construct_jobs",
                  "execute_jobs", "driver_gap_s", "run_s", "python_s", "program_cpu_s"):
            m[k] = m.get(k, 0) + r.get(k, 0)
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not (
        os.path.isfile(os.path.join(root, "__spark_entry__.py"))
        and os.path.isdir(os.path.join(root, "wimbd_spark"))
    ):
        print(
            "perfbench: run from the repository root; "
            "__spark_entry__.py and wimbd_spark/ not found",
            file=sys.stderr,
        )
        return 2
    sys.path.insert(0, root)

    bench = Bench(root, WORKLOADS[args.workload], args.seed, args.seconds, bool(args.trace))
    try:
        result = bench.run()
    finally:
        bench.stop()
    for name, why in sorted(result.pop("_problems").items()):
        print(f"perfbench: FAIL {name}: {why}", file=sys.stderr)
    for name, value in result["metrics"].items():
        print(f"perfbench: {name} = {value} {UNITS[name]}", file=sys.stderr)
    result["metrics"] = {
        k: {"value": v, "unit": UNITS[k]} for k, v in result["metrics"].items()
    }
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
