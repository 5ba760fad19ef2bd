"""Cost-router lint: the size gates moved onto ``wimbd_spark/route.py``
stay there.

- only route.py reads a ``spark.wimbd.*`` conf key (the route
  override), so no module grows a forcing knob of its own;
- only route.py defines the moved thresholds, under their old names or
  as a forcing parameter;
- the moved gates' sites hand their input to ``route.choose`` and never
  call ``plan_size_bytes`` themselves, so a forced route probes
  nothing.
"""

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(ROOT, "wimbd_spark")
ROUTER = os.path.join("wimbd_spark", "route.py")

#: the moved thresholds' module constants and forcing parameters
MOVED = frozenset(
    {
        "REBALANCE_MIN_BYTES",
        "PMI_PERSIST_MIN_BYTES",
        "PREFILTER_MIN_PHRASES",
        "BNLJ_BUDGET",
        "bnlj_budget",
        "prefilter_threshold",
    }
)

#: the functions whose gate route.choose decides
SITES = frozenset(
    {"rebalance_small_input", "top_pmi_bigrams", "contamination_rate"}
)


def _conf_key(node) -> bool:
    """A string literal (or an f-string's leading literal) naming a
    spark.wimbd.* conf key."""
    if isinstance(node, ast.JoinedStr) and node.values:
        node = node.values[0]
    return (
        isinstance(node, ast.Constant)
        and isinstance(node.value, str)
        and node.value.startswith("spark.wimbd")
    )


def _called_name(call: ast.Call) -> str | None:
    f = call.func
    return f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)


def _violations(source: str, path: str) -> list[str]:
    """One line per breach in ``source``, in source order; route.py
    itself may read the conf and define the thresholds."""
    if path == ROUTER:
        return []
    bad = []
    for node in ast.walk(ast.parse(source, path)):
        if isinstance(node, ast.Call):
            args = list(node.args) + [k.value for k in node.keywords]
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            # a key held in a name first, read through it later
            args = [node.value]
        else:
            args = []
        if any(_conf_key(a) for a in args):
            bad.append((node.lineno, "reads a spark.wimbd conf key"))
        names = []
        if isinstance(node, (ast.Assign, ast.AnnAssign, ast.AugAssign)):
            targets = getattr(node, "targets", None) or [node.target]
            names = [t.id for t in targets if isinstance(t, ast.Name)]
        elif isinstance(node, ast.arg):
            names = [node.arg]
        for name in names:
            if name in MOVED:
                bad.append((node.lineno, f"defines {name}"))
        if isinstance(node, ast.FunctionDef) and node.name in SITES:
            for sub in ast.walk(node):
                if (
                    isinstance(sub, ast.Call)
                    and _called_name(sub) == "plan_size_bytes"
                ):
                    bad.append(
                        (sub.lineno, f"{node.name} calls plan_size_bytes")
                    )
    return [f"{path}:{line}: {msg}" for line, msg in sorted(bad)]


def _package_sources():
    for root, _dirs, files in os.walk(PKG):
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(root, f)
                with open(p, encoding="utf-8") as fh:
                    yield os.path.relpath(p, ROOT), fh.read()


def test_size_gates_decide_only_in_route():
    bad = [
        v for path, src in _package_sources() for v in _violations(src, path)
    ]
    assert bad == [], "\n".join(bad)


def test_lint_catches_each_breach():
    src = (
        "def f(spark, gate):\n"
        "    a = spark.conf.get('spark.wimbd.route', None)\n"
        "    b = spark.conf.get(f'spark.wimbd.route.{gate}')\n"
        "    KEY = 'spark.wimbd.x'\n"
        "REBALANCE_MIN_BYTES = 1\n"
        "def contamination_rate(df, prefilter_threshold=64):\n"
        "    return (lambda: session.plan_size_bytes(df))()\n"
        "def top_pmi_bigrams(df):\n"
        "    return plan_size_bytes(df)\n"
        "def other(df):\n"
        "    return plan_size_bytes(df)\n"
    )
    got = [g.split(": ", 1)[1] for g in _violations(src, "m.py")]
    assert got == [
        "reads a spark.wimbd conf key",
        "reads a spark.wimbd conf key",
        "reads a spark.wimbd conf key",
        "defines REBALANCE_MIN_BYTES",
        "defines prefilter_threshold",
        "contamination_rate calls plan_size_bytes",
        "top_pmi_bigrams calls plan_size_bytes",
    ]
    assert _violations(src, ROUTER) == []
