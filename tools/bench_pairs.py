#!/usr/bin/env python3
"""Paired benchmark runs: a base revision against the working tree.

Run from anywhere inside the repository:

    python3 tools/bench_pairs.py --base HEAD~1 --workload wimbd_scan --pairs 10 --seed 401

The base revision is exported with ``git archive`` into a fresh
temporary directory (the committed files only, as a clean checkout
would have them); the change side is the repository's working tree.
Each pair runs ``BENCHMARK.json``'s command once on each side with the
pair's seed (S0, S0+1, ...), ``--seconds`` set to the file's
``run_seconds`` and tracing off. The side that runs first alternates
from pair to pair, so drift on the host falls on both sides alike.

For every end-to-end metric in ``BENCHMARK.json`` the report gives each
side's median and quartiles, the pairs each side won (ties count for
neither), and whether a gain may be claimed: the change wins at least
nine tenths of the pairs and the medians differ by more than the
distance between the base's quartiles. It also checks each metric
against its ``bound`` in ``BENCHMARK.json`` (a fraction of the base's
median): "regression" when the change's median is worse than the
base's by more than the bound, else "unresolved" when the base's IQR is
wider than the bound (unless every change run beats every base run),
else "within bound". The last stdout line is a JSON summary holding
every run's metrics. The exit code is 1 when any run
exits non-zero or reports a wrong result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

WIN_SHARE = 0.9


def repo_root() -> str:
    out = subprocess.run(
        ["git", "rev-parse", "--show-toplevel"],
        check=True, capture_output=True, text=True,
    )
    return out.stdout.strip()


def export_rev(root: str, rev: str, dest: str) -> None:
    """Write the files of commit ``rev`` into ``dest``."""
    archive = subprocess.Popen(
        ["git", "-C", root, "archive", "--format=tar", rev],
        stdout=subprocess.PIPE,
    )
    subprocess.run(["tar", "-x", "-C", dest], stdin=archive.stdout, check=True)
    archive.stdout.close()
    if archive.wait() != 0:
        raise SystemExit(f"bench_pairs: git archive {rev} failed")


def run_once(cwd: str, command: list[str], workload: str, seed: int,
             seconds: float) -> dict:
    """One benchmark run; returns its result line plus the exit code."""
    argv = command + ["--workload", workload, "--seed", str(seed),
                      "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.run(argv, cwd=cwd, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        result = {"correct": False, "metrics": {}}
        sys.stderr.write(proc.stderr[-2000:])
    result["returncode"] = proc.returncode
    return result


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def compare(base: list[float], change: list[float], better: str,
            bound: float) -> dict:
    """Medians, quartiles, wins, the claim rule and the bound verdict
    for one metric."""
    sign = 1 if better == "lower" else -1
    change_wins = sum(sign * (b - c) > 0 for b, c in zip(base, change))
    base_wins = sum(sign * (c - b) > 0 for b, c in zip(base, change))
    bq, cq = quartiles(base), quartiles(change)
    gap = sign * (bq[1] - cq[1])
    base_iqr = bq[2] - bq[0]
    limit = bound * abs(bq[1])
    if sign > 0:
        every_run_better = max(change) < min(base)
    else:
        every_run_better = min(change) > max(base)
    if -gap > limit:
        verdict = "regression"
    elif base_iqr > limit and not every_run_better:
        verdict = "unresolved"
    else:
        verdict = "within bound"
    return {
        "base": {"median": bq[1], "q1": bq[0], "q3": bq[2]},
        "change": {"median": cq[1], "q1": cq[0], "q3": cq[2]},
        "change_wins": change_wins,
        "base_wins": base_wins,
        "pairs": len(base),
        "gap": gap,
        "base_iqr": base_iqr,
        "claim": change_wins >= WIN_SHARE * len(base) and gap > base_iqr,
        "bound": bound,
        "limit": limit,
        "verdict": verdict,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--base", required=True, help="base revision, e.g. HEAD~1")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seed", type=int, required=True, help="seed of the first pair")
    args = ap.parse_args(argv)
    if args.pairs < 2:
        ap.error("--pairs must be at least 2 (quartiles need two runs)")

    root = repo_root()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]
    if args.workload not in names:
        ap.error(f"--workload must be one of {names}")

    base_dir = tempfile.mkdtemp(prefix="bench_pairs_base_")
    runs: dict[str, list[dict]] = {"base": [], "change": []}
    try:
        export_rev(root, args.base, base_dir)
        sides = {"base": base_dir, "change": root}
        for i in range(args.pairs):
            seed = args.seed + i
            order = ("base", "change") if i % 2 == 0 else ("change", "base")
            for side in order:
                r = run_once(sides[side], spec["command"], args.workload,
                             seed, spec["run_seconds"])
                r["seed"] = seed
                runs[side].append(r)
                cpu = r["metrics"].get("cpu_s", {}).get("value")
                print(f"pair {i + 1}/{args.pairs} seed {seed} {side}: "
                      f"correct={r.get('correct')} failed={r.get('failed')} "
                      f"cpu_s={cpu}", file=sys.stderr, flush=True)
    finally:
        shutil.rmtree(base_dir, ignore_errors=True)

    ok = all(r["returncode"] == 0 and r.get("correct") and not r.get("failed")
             for side in runs.values() for r in side)
    report = {}
    for m in spec["end_to_end"]:
        name = m["name"]
        base = [r["metrics"][name]["value"] for r in runs["base"] if name in r["metrics"]]
        change = [r["metrics"][name]["value"] for r in runs["change"] if name in r["metrics"]]
        if len(base) != args.pairs or len(change) != args.pairs:
            print(f"{name}: missing from some runs", flush=True)
            ok = False
            continue
        c = report[name] = compare(base, change, m["better"], m["bound"])
        print(
            f"{args.workload} {name} ({m['unit']}, {m['better']} is better): "
            f"base {c['base']['median']:.4g} [{c['base']['q1']:.4g}, {c['base']['q3']:.4g}] "
            f"-> change {c['change']['median']:.4g} "
            f"[{c['change']['q1']:.4g}, {c['change']['q3']:.4g}]; "
            f"change won {c['change_wins']}/{c['pairs']}, base won {c['base_wins']}; "
            f"gap {c['gap']:.4g} vs base IQR {c['base_iqr']:.4g}: "
            f"claim {'holds' if c['claim'] else 'does not hold'}; "
            f"bound {c['bound']:g} of base median = {c['limit']:.4g}: {c['verdict']}",
            flush=True,
        )
    print(json.dumps({"workload": args.workload, "base": args.base,
                      "seeds": [args.seed, args.seed + args.pairs - 1],
                      "ok": ok, "metrics": report,
                      "runs": {side: [{"seed": r["seed"], "correct": r.get("correct"),
                                       "failed": r.get("failed"),
                                       "metrics": {k: v["value"] for k, v in
                                                   r["metrics"].items()}}
                                      for r in rs]
                               for side, rs in runs.items()}}),
          flush=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
