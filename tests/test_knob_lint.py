"""Env-knob lint: the package reads no environment variable except the
deployment settings below.

An ``os.environ`` read is a hidden option: it changes what
a query costs (or returns) without showing up in any signature, test
or plan. A new one must come with the measurement that needs it, and
is added to ALLOWED here in the same change.
"""

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(ROOT, "wimbd_spark")

#: deployment settings read by ``session.get_spark``
ALLOWED = frozenset({"SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM"})

_ENV_ATTRS = ("environ", "environb", "getenv", "getenvb")


def _key_of(call):
    """The literal variable name a read uses, or None when it is not a
    string literal (``os.environ`` passed around whole, a computed
    key)."""
    if isinstance(call, ast.Call) and call.args:
        arg = call.args[0]
    elif isinstance(call, ast.Subscript):
        arg = call.slice
    else:
        return None
    if isinstance(arg, ast.Constant) and isinstance(arg.value, str):
        return arg.value
    return None


def _violations(source: str, path: str) -> list[str]:
    """One line per ``os.environ`` / ``os.getenv`` read (``.get``,
    ``[...]``, ``getenv(...)`` or the mapping itself, under any alias
    of ``os``) whose variable is not in ALLOWED, in source order; a
    ``from os import environ``-style import is one line too."""
    tree = ast.parse(source, path)
    parents = {
        child: node
        for node in ast.walk(tree)
        for child in ast.iter_child_nodes(node)
    }
    os_names = {
        a.asname or a.name
        for node in ast.walk(tree)
        if isinstance(node, ast.Import)
        for a in node.names
        if a.name == "os"
    }
    bad = []
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module == "os":
            for a in node.names:
                if a.name in _ENV_ATTRS:
                    bad.append((node.lineno, f"{path}:{node.lineno}: "
                                f"imports os.{a.name}"))
            continue
        if not (
            isinstance(node, ast.Attribute)
            and isinstance(node.value, ast.Name)
            and node.value.id in os_names
            and node.attr in _ENV_ATTRS
        ):
            continue
        parent = parents.get(node)
        if isinstance(parent, ast.Attribute):
            # os.environ.get(...): the call sits one level further up
            parent = parents.get(parent)
        key = _key_of(parent)
        if key not in ALLOWED:
            bad.append((node.lineno, f"{path}:{node.lineno}: reads "
                        f"{key or 'os.' + node.attr}"))
    return [msg for _, msg in sorted(bad)]


def _package_sources():
    for root, _dirs, files in os.walk(PKG):
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(root, f)
                with open(p, encoding="utf-8") as fh:
                    yield os.path.relpath(p, ROOT), fh.read()


def test_package_reads_only_allowed_env_vars():
    bad = [
        v for path, src in _package_sources() for v in _violations(src, path)
    ]
    assert bad == [], "\n".join(bad)


def test_lint_catches_each_read_form():
    src = (
        "import os\n"
        "a = os.environ.get('WIMBD_X', '1')\n"
        "b = os.environ['WIMBD_Y']\n"
        "c = os.getenv('WIMBD_Z')\n"
        "d = os.environ\n"
        "e = os.environ.get('SPARK_GRAFT_CPUS', '32')\n"
        "import os as _o\n"
        "f = _o.environ.get('WIMBD_W')\n"
        "from os import getenv\n"
    )
    got = _violations(src, "m.py")
    assert [g.split(": reads ")[1] for g in got[:-1]] == [
        "WIMBD_X",
        "WIMBD_Y",
        "WIMBD_Z",
        "os.environ",
        "WIMBD_W",
    ]
    assert got[-1] == "m.py:9: imports os.getenv"
