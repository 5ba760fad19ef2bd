#!/usr/bin/env python
"""A/B of the token-phrase hit routes: predicate scan, Aho-Corasick
automaton and gram join, per phrase count and slop.

Every consumer of the one planner (``operators.dedup._phrase_route`` +
``_phrase_hits``) that the search tier and decontamination expose is
timed: the per-phrase count tail (``count``:
``search.count_documents_for_each_phrase``), retrieval of every hit
(``retr``: ``search.get_documents_containing_phrases`` with
``num_documents=None``, the plan ``count_documents_containing_phrases``
counts), top-10 retrieval (``top10``: the same with its default
``num_documents=10``, where a filter may stop early) and
``dedup.decontaminate_by_ngrams`` (``decon``: phrases from a
DataFrame, so the route's driver collects are in the time). Each runs
through its public ``method`` values; where the tree has the one route
rule (``dedup._route_rule``), the one route no public method forces is
added by replacing that rule (``route=gram`` for counts,
``route=scan`` for decontamination). Run on a tree without the rule,
only the public methods run, so the same command measures a parent
commit for comparison.

Phrases are random 2-4-token windows of the corpus, 30% of them with
a last token the corpus never has, drawn with a fixed seed.
``documents`` is cached and one untimed query warms the session up
before the first timed form. In each (phrase count, slop) cell every
form is written to the noop sink once to warm up, then ``reps`` times
with the forms' order alternating per rep (forward, then reversed), so
no form always runs after the same one. A row prints the median and
the range (min-max) of the wall seconds, and the median program CPU
seconds (``perfbench.cpu``: driver, JVM and Python workers, less JIT
threads). A form whose warm-up run takes longer than ``cap`` seconds
reports that run alone, marked ``*``, and is not run at the larger
phrase counts of the same slop (its cost grows with the phrase
count). ``ops`` (comma-separated, default all) picks the consumers.

Usage: python tools/phrase_route_ab.py sf_dir [reps] [cap] [ops]
  e.g. python tools/phrase_route_ab.py <sf0.1 tables dir> 5 10
"""

from __future__ import annotations

import os
import random
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

if len(sys.argv) < 2:
    sys.exit(__doc__)
SF_DIR = sys.argv[1]
REPS = int(sys.argv[2]) if len(sys.argv) > 2 else 3
CAP = float(sys.argv[3]) if len(sys.argv) > 3 else 30.0
OPS = sys.argv[4].split(",") if len(sys.argv) > 4 else None
COUNTS = (1, 3, 10, 30, 100, 300)
SLOPS = (0, 1)


def phrase_sample(docs, n: int, seed: int = 7) -> list[str]:
    from pyspark.sql import functions as F

    from wimbd_spark.functions.text import tokenize

    rng = random.Random(seed)
    toks = [
        r["t"]
        for r in docs.select(tokenize(F.col("text")).alias("t"))
        .filter(F.size("t") >= 4)
        .orderBy("doc_id")
        .limit(400)
        .collect()
    ]
    out: list[str] = []
    while len(out) < n:
        t = rng.choice(toks)
        L = rng.randint(2, 4)
        i = rng.randrange(len(t) - L + 1)
        w = list(t[i : i + L])
        if rng.random() < 0.3:
            w[-1] = f"zq{len(out)}x"  # never in the corpus
        out.append(" ".join(w))
    return out


def main():
    import wimbd_spark.operators.dedup as dd
    from perfbench.cpu import ProgramCpu
    from pyspark import SparkContext

    from wimbd_spark import get_spark
    from wimbd_spark.search import (
        count_documents_for_each_phrase,
        get_documents_containing_phrases,
    )
    from wimbd_spark.session import local_frame

    spark = get_spark(
        app_name="phrase-route-ab", master="local[2]", shuffle_partitions=2
    )
    cpu = ProgramCpu(os.getpid(), SparkContext._gateway.proc.pid)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    ).cache()
    n_docs = docs.count()
    pool = phrase_sample(docs, max(COUNTS))
    rule = getattr(dd, "_route_rule", None)

    def run(build, route=None) -> tuple[float, float]:
        """Wall and CPU seconds of one noop write of ``build()``, with
        the route rule replaced by ``route`` when it is forced."""
        if route is not None:
            dd._route_rule = lambda *a, r=route: r
        try:
            c0, t0 = cpu(), time.perf_counter()
            build().write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t0, cpu() - c0
        finally:
            if rule is not None:
                dd._route_rule = rule

    def forms(slop: int):
        """(op, label, build(phrases) -> DataFrame, forced route or
        None)."""
        def count(m):
            return lambda ps: count_documents_for_each_phrase(
                docs, ps, slop=slop, method=m
            )

        def retr(n):
            return lambda m: lambda ps: get_documents_containing_phrases(
                docs, ps, num_documents=n, slop=slop, method=m
            )

        def decon(m):
            return lambda ps: dd.decontaminate_by_ngrams(
                docs,
                local_frame(spark, [(p,) for p in ps], "phrase string"),
                slop=slop,
                method=m,
            )

        for op, build, methods, forced in (
            ("count", count, ("auto", "agg", "ac"), "gram"),
            ("retr", retr(None), ("auto", "pred", "ac"), None),
            ("top10", retr(10), ("auto", "pred", "ac"), None),
            ("decon", decon, ("auto", "gram", "ac"), "scan"),
        ):
            if OPS is not None and op not in OPS:
                continue
            for m in methods:
                if m != "ac" or slop == 0:
                    yield op, f"method={m}", build(m), None
            if rule is not None and forced is not None:
                yield op, f"route={forced}", build("auto"), forced

    print(
        f"# sf_dir={SF_DIR} docs={n_docs} reps={REPS} master=local[2] "
        f"rule={'yes' if rule else 'no'}"
    )
    print("| op | form | phrases | slop | wall s | wall range s | cpu s |")
    print("|---|---|---|---|---|---|---|")
    # untimed: the session's first query pays JVM warm-up
    _op, _label, build, route = next(forms(SLOPS[0]))
    run(lambda: build(pool[: COUNTS[0]]), route)
    for slop in SLOPS:
        over_cap: set[tuple[str, str]] = set()
        for p in COUNTS:
            ps = pool[:p]
            cell = [f for f in forms(slop) if f[:2] not in over_cap]
            times: dict[tuple[str, str], list[tuple[float, float]]] = {}
            for op, label, build, route in cell:
                first = run(lambda: build(ps), route)
                if first[0] > CAP:
                    times[op, label] = [first]
                    over_cap.add((op, label))
            timed = [f for f in cell if f[:2] not in over_cap]
            for rep in range(REPS):
                for op, label, build, route in (
                    timed if rep % 2 == 0 else timed[::-1]
                ):
                    times.setdefault((op, label), []).append(
                        run(lambda: build(ps), route)
                    )
            for op, label, _build, _route in cell:
                walls = [w for w, _ in times[op, label]]
                cpus = [c for _, c in times[op, label]]
                mark = "*" if (op, label) in over_cap else ""
                print(
                    f"| {op} | {label} | {p} | {slop} | "
                    f"{statistics.median(walls):.2f}{mark} | "
                    f"{min(walls):.2f}-{max(walls):.2f} | "
                    f"{statistics.median(cpus):.2f}{mark} |",
                    flush=True,
                )
    spark.stop()


if __name__ == "__main__":
    main()
