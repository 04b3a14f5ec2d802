"""One persistence lifecycle: every ``.persist(`` / ``.cache(`` call under
``warpdb_spark/`` either sits in ``warpdb_spark/persist.py`` (the keyed
slot helper, whose frames have a bounded lifetime) or is released by
the same function through ``<name>.unpersist()`` on the name the
persisted frame is bound to. A persist that is neither lives as long as
the session and accumulates one cached frame per input a long-lived
session sees."""

import ast
import os

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "warpdb_spark")
HELPER = os.path.join(PKG, "persist.py")


def _is_call_to(node, attr):
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == attr
    )


def _bound_name(fn, call):
    """The name a persisted frame is bound to: ``n = <...>.persist()``
    (the call is the assigned value) or ``n.persist()`` on a bare name."""
    for node in ast.walk(fn):
        if isinstance(node, ast.Assign) and node.value is call:
            if len(node.targets) == 1 and isinstance(node.targets[0], ast.Name):
                return node.targets[0].id
    if isinstance(call.func.value, ast.Name):
        return call.func.value.id
    return None


def _unpersisted_names(fn):
    return {
        node.func.value.id
        for node in ast.walk(fn)
        if _is_call_to(node, "unpersist") and isinstance(node.func.value, ast.Name)
    }


def lifecycle_violations(path):
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    rel = os.path.relpath(path, os.path.dirname(PKG))
    owner = {}  # persist call -> innermost enclosing function
    for fn in ast.walk(tree):
        if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            for node in ast.walk(fn):
                if _is_call_to(node, "persist") or _is_call_to(node, "cache"):
                    owner[node] = fn  # inner defs are walked later and win
    bad = []
    for node in ast.walk(tree):
        if not (_is_call_to(node, "persist") or _is_call_to(node, "cache")):
            continue
        fn = owner.get(node)
        name = _bound_name(fn, node) if fn is not None else None
        if name is None or name not in _unpersisted_names(fn):
            bad.append(f"{rel}:{node.lineno}")
    return bad


def _package_files():
    for root, _dirs, files in os.walk(PKG):
        for f in sorted(files):
            if f.endswith(".py"):
                yield os.path.join(root, f)


def test_every_persist_is_scoped_or_released():
    bad = [
        loc
        for path in _package_files()
        if path != HELPER
        for loc in lifecycle_violations(path)
    ]
    assert not bad, (
        "persist()/cache() with no bounded lifetime — route it through "
        f"warpdb_spark.persist.persist_scoped or unpersist it: {bad}"
    )


def test_lint_flags_a_leak_and_passes_a_pair(tmp_path):
    src = tmp_path / "m.py"
    src.write_text(
        "def leak(df):\n"
        "    x = df.persist()\n"
        "    return x.count()\n"
        "def pair(df):\n"
        "    x = df.select('a').persist()\n"
        "    n = x.count()\n"
        "    x.unpersist()\n"
        "    return n\n"
        "def other_name(df):\n"
        "    x = df.cache()\n"
        "    y = x\n"
        "    y.unpersist()\n"
    )
    assert [loc.rsplit(":", 1)[1] for loc in lifecycle_violations(str(src))] == ["2", "10"]
