"""One cost router: each size gate picks its small- or large-input plan
(the same rows either way) with ``choose``, by its row in ``GATES``.
The session conf ``spark.wimbd.route`` (every gate) or
``spark.wimbd.route.<gate>`` (it wins) is ``auto`` (the default),
``small`` or ``large``; any other value raises."""

from __future__ import annotations

import operator
from contextlib import contextmanager
from contextvars import ContextVar
from typing import Callable, NamedTuple

from pyspark.sql import DataFrame

from wimbd_spark.session import plan_size_bytes


class Gate(NamedTuple):
    threshold: float
    unknown: str  # the choice for an unknown input
    section: str  # the SCALE.md section the threshold is measured in
    past: Callable = operator.ge  # (input, threshold) -> large


GATES = {
    # Per gate: its site, what its large route does, and its input.
    # session.rebalance_small_input: hash-spread a table read in fewer
    # partitions than cores. Its bytes.
    "spread": Gate(128 << 10, "large", "Input layer"),
    # topk.top_pmi_bigrams: persist the count tables. Corpus bytes.
    "pmi_persist": Gate(
        2 << 20, "small", "N-gram aggregation (topk/botk/unique/ttf)"
    ),
    # dedup.contamination_rate: the rare-anchor join, not the nested-loop
    # contains. scan_work's char-ops. Not fitted yet: at the ~7e8/s of a
    # 4-core box, 5e11 is ~11 minutes of direct scan.
    "prefilter": Gate(
        5e11, "large", "Contamination / decontamination substring checks",
        operator.gt,
    ),
}
#: Under this many distinct phrases the prefilter's three scans never pay.
PREFILTER_MIN_PHRASES = 64

_RECORD: ContextVar[list | None] = ContextVar("route_record", default=None)


def choose(spark, gate: str, size) -> str:
    """``"small"`` or ``"large"``. ``size`` is the gate's input: a number,
    None (unknown), a DataFrame (its plan size) or a zero-argument
    callable returning one, called only under ``auto``: a forced route
    probes nothing. Inside ``recording()`` the choice is kept."""
    keys = (f"spark.wimbd.route.{gate}", "spark.wimbd.route")
    conf = [spark.conf.get(k, None) for k in keys]
    for key, v in zip(keys, conf):
        if v not in (None, "auto", "small", "large"):
            raise ValueError(f"{key}={v!r}: expected auto, small or large")
    row, value, choice = GATES[gate], None, conf[0] or conf[1] or "auto"
    if choice == "auto":
        value = size() if callable(size) else size
        if isinstance(value, DataFrame):
            value = plan_size_bytes(value)
        if value is None:
            choice = row.unknown
        else:
            choice = "large" if row.past(value, row.threshold) else "small"
    if (record := _RECORD.get()) is not None:
        record.append((gate, value, row.threshold, choice))
    return choice


def scan_work(corpus: DataFrame, phrases: DataFrame) -> int | None:
    """The prefilter's input: corpus bytes x distinct phrases (None if
    unsizable), 0 under PREFILTER_MIN_PHRASES."""
    n = phrases.count()
    sz = plan_size_bytes(corpus) if n >= PREFILTER_MIN_PHRASES else 0
    return None if sz is None else sz * n


@contextmanager
def recording():
    """Yields the list of ``(gate, input, threshold, choice)`` that
    ``choose`` appends to until the block exits."""
    token = _RECORD.set([])
    try:
        yield _RECORD.get()
    finally:
        _RECORD.reset(token)
