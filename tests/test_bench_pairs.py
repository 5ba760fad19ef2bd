"""tools/bench_pairs.compare: the gain-claim rule and the bound verdict."""

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

from bench_pairs import compare  # noqa: E402

BASE = [10.0, 10.2, 9.8, 10.1, 9.9, 10.0, 10.3, 9.7, 10.0, 10.1]


def test_clear_gain_is_claimed_and_within_bound():
    c = compare(BASE, [x - 3.0 for x in BASE], "lower", 0.25)
    assert c["change_wins"] == 10 and c["claim"]
    assert c["verdict"] == "within bound"


def test_median_worse_than_bound_is_a_regression():
    c = compare(BASE, [x * 1.3 for x in BASE], "lower", 0.25)
    assert not c["claim"]
    assert c["verdict"] == "regression"
    # "higher is better" flips the direction
    assert compare(BASE, [x * 0.7 for x in BASE], "higher", 0.25)["verdict"] == "regression"


def test_spread_wider_than_bound_is_unresolved():
    wide = [1.0, 2.0, 1.0, 2.0, 1.5, 1.0, 2.0, 1.0, 2.0, 1.5]
    c = compare(wide, list(reversed(wide)), "lower", 0.25)
    assert c["base_iqr"] > c["limit"]
    assert c["verdict"] == "unresolved"
    # unless every change run beats every base run
    assert compare(wide, [0.5] * 10, "lower", 0.25)["verdict"] == "within bound"
