"""Source fingerprints for driver-rotation change detection.

The r8 verdict's defect #3: ``build_driver_priority`` ordered green
re-checks by green AGE only, so an entry rewritten in round N could go
driver-unverified for many rounds while untouched old entries were
re-checked. The fix is a "changed-since-last-green" tier: at promotion
time (tools/update_rotation.py) every entry verified green by the
driver records a fingerprint of the source code it executed —
``entry_fingerprint`` below — and ``load_all()`` floats any entry whose
CURRENT fingerprint differs to the front of the green re-check queue.

The fingerprint is a sha256 over the sorted (module.qualname, source)
pairs of the entry callable plus every warpdb_spark-defined function or
class transitively reachable from it through global-name references
(including attributes pulled off warpdb_spark modules and closure
cells), PLUS every reachable plain-data module constant as a
(module, const:name, stable-repr) part — regex tables, thresholds,
pattern lists carry behavior exactly like code (r9 review finding) —
concatenated with the entry's oracle SQL. It is deterministic for a
given working tree: it depends only on source text resolved via
``inspect.getsource`` and insertion-/sort-stable value reprs, never on
runtime state, ids, or hash-randomized iteration order.

Over-approximation is deliberate and safe: the name-resolution walk may
pull in a helper the entry never calls at runtime (module-attribute
references are matched by co_names cross-product), and editing a widely
shared helper floats every dependent entry. Both merely schedule extra
driver re-checks — the failure mode of UNDER-approximation (a rewrite
shipping on stale driver evidence) is the one this module exists to
prevent.
"""

from __future__ import annotations

import functools
import hashlib
import importlib
import inspect
import re
import types

_PKG = "warpdb_spark"

# (module, qualname) -> source text; cleared never — source is fixed
# for the process lifetime (a live-edited module would need a restart
# to take effect anyway, since the code objects are already loaded).
_SOURCE_CACHE: dict[tuple[str, str], str] = {}


def _unwrap(obj):
    """Peel decorators (functools.wraps chains) and partials down to
    the underlying function/class."""
    seen = 0
    while seen < 32:
        seen += 1
        if isinstance(obj, functools.partial):
            obj = obj.func
            continue
        wrapped = getattr(obj, "__wrapped__", None)
        if wrapped is not None and wrapped is not obj:
            obj = wrapped
            continue
        if inspect.ismethod(obj):
            obj = obj.__func__
            continue
        break
    return obj


def _code_names(code: types.CodeType) -> set[str]:
    """All global/attribute names referenced by a code object and its
    nested code objects (comprehensions, inner defs)."""
    names: set[str] = set()
    stack = [code]
    while stack:
        c = stack.pop()
        names.update(c.co_names)
        for const in c.co_consts:
            if isinstance(const, types.CodeType):
                stack.append(const)
    return names


_DATA_TYPES = (str, bytes, int, float, bool, complex, type(None))


def _is_immutable_data(value, depth: int = 0) -> bool:
    """Scalars, re.Pattern, and tuples/frozensets thereof — values that
    CANNOT change after module import."""
    if depth > 6:
        return False
    if isinstance(value, (_DATA_TYPES, re.Pattern)):
        return True
    if isinstance(value, (tuple, frozenset)):
        return all(_is_immutable_data(v, depth + 1) for v in value)
    return False


# Mutable module globals that are RUNTIME STATE — mutated in place
# during query construction/execution — and must NEVER hash into a
# fingerprint (they drift within a process: the r9 isolated-test
# finding). Everything ELSE that is UPPERCASE-named plain data hashes,
# INCLUDING private _UPPER tables: the first fix excluded all private
# mutables, which silently un-hashed the behavior-bearing constant
# tables this codebase names _UPPER (_CMS_PROBES, _FUNC_ALIASES,
# _WINDOW_ONLY_FUNCS, stopword sets) — an edit to any of them changed
# entry OUTPUTS without floating the entry into the
# changed-since-green tier (r9 session-2 review finding). A new
# runtime-state global added without registering here flaps the
# contract test's construction-stability assertion — loud, not
# silent.
RUNTIME_STATE: frozenset = frozenset(
    {
        ("warpdb_spark.plans.builder", "_SQ_SEQ"),
        ("warpdb_spark.sources.readers", "_TABLE_CACHE"),
    }
)


def _is_static_const(module: str, name: str, value) -> bool:
    """Should a reachable module global be hashed as a constant?
    Registered runtime state: never. Immutable pure data: always.
    Mutable containers (list/dict/set): when UPPERCASE-named — the
    constant-table convention, public or private; lowercase mutable
    globals are runtime state by convention."""
    if (module, name) in RUNTIME_STATE:
        return False
    if _is_immutable_data(value):
        return True
    return name.lstrip("_").isupper()


def _stable_repr(value, depth: int = 0) -> str | None:
    """Deterministic repr for plain-data module constants, or None if
    the value is not plain data. Sets/frozensets sort by element repr
    (their iteration order is hash-randomized across processes); dicts
    keep insertion order (source order — stable for a fixed tree)."""
    if depth > 6:
        return "<deep>"
    if isinstance(value, _DATA_TYPES):
        return repr(value)
    if isinstance(value, re.Pattern):
        return f"re:{value.pattern!r}:{value.flags}"
    if isinstance(value, (list, tuple)):
        inner = [_stable_repr(v, depth + 1) for v in value]
        if any(i is None for i in inner):
            return None
        return f"[{','.join(inner)}]"
    if isinstance(value, (set, frozenset)):
        inner = [_stable_repr(v, depth + 1) for v in value]
        if any(i is None for i in inner):
            return None
        return f"{{{','.join(sorted(inner))}}}"
    if isinstance(value, dict):
        parts = []
        for k, v in value.items():
            rk, rv = _stable_repr(k, depth + 1), _stable_repr(v, depth + 1)
            if rk is None or rv is None:
                return None
            parts.append(f"{rk}:{rv}")
        return f"{{{','.join(parts)}}}"
    return None


def _referenced(fn) -> tuple[list, list]:
    """What a function's code can reach: (callables, constants).

    Callables: resolved global names, attributes of referenced
    warpdb_spark modules matching any co_name (a cross-product
    over-approximation — see module docstring), and closure-cell
    contents. Constants: plain-data globals (PII_PATTERNS, BM25 K1/B,
    threshold tables) as (module, name, stable_repr) triples — a
    behavior-bearing constant edit must float the entry exactly like a
    function edit (r9 review finding: the function-only walk was blind
    to them)."""
    out: list = []
    consts: list = []
    names = _code_names(fn.__code__)
    g = fn.__globals__
    fmod = getattr(fn, "__module__", "") or ""

    def visit(owner_mod: str, name: str, obj) -> None:
        r = (
            _stable_repr(obj)
            if not callable(obj) and _is_static_const(owner_mod, name, obj)
            else None
        )
        if r is not None:
            consts.append((owner_mod, name, r))
        else:
            out.append(obj)

    def cross_module(mod: types.ModuleType, depth: int = 0) -> None:
        """Cross a warpdb_spark module's attributes with the co_names
        (the over-approximation the module docstring describes). One
        submodule hop covers ``from pkg.sub import mod`` chains."""
        if mod.__name__.split(".")[0] != _PKG:
            return
        for attr in sorted(names):
            sub = getattr(mod, attr, None)
            if sub is None and hasattr(mod, "__path__"):
                # a package's submodule attribute only exists after the
                # submodule's FIRST import — resolving it lazily made
                # the fingerprint depend on whether an entry had been
                # constructed yet (r11 determinism finding). Import
                # proactively; a co_name that isn't a submodule is a
                # cheap cached ImportError.
                try:
                    sub = importlib.import_module(f"{mod.__name__}.{attr}")
                except ImportError:
                    sub = None
            if sub is None:
                continue
            if isinstance(sub, types.ModuleType):
                if depth < 2:
                    cross_module(sub, depth + 1)
            else:
                visit(mod.__name__, attr, sub)

    for name in sorted(names):
        obj = g.get(name)
        if obj is None:
            # Function-LOCAL imports (``from warpdb_spark.x import y``
            # inside the body) bind locals the globals walk never sees
            # — but the dotted module path sits in co_names (the
            # IMPORT_NAME argument). Resolve it and cross like a
            # global module (r11 finding: analytics_ext's similarity
            # entries dodged the changed-since-green tier through
            # exactly this pattern).
            if name.startswith(_PKG + "."):
                try:
                    cross_module(importlib.import_module(name))
                except ImportError:
                    pass
            continue
        if isinstance(obj, types.ModuleType):
            cross_module(obj)
        else:
            visit(fmod, name, obj)
    if fn.__closure__:
        for cell in fn.__closure__:
            try:
                out.append(cell.cell_contents)
            except ValueError:  # empty cell
                pass
    return out, consts


def _collect(entry) -> list[tuple[tuple[str, str], str]]:
    seen: set[tuple[str, str]] = set()
    parts: list[tuple[tuple[str, str], str]] = []

    def add_refs(fn) -> None:
        callables, consts = _referenced(fn)
        stack.extend(callables)
        for mod, name, r in consts:
            if mod.split(".")[0] != _PKG:
                continue
            ckey = (mod, f"const:{name}")
            if ckey not in seen:
                seen.add(ckey)
                parts.append((ckey, r))

    stack = [entry]
    while stack:
        obj = _unwrap(stack.pop())
        if not (inspect.isfunction(obj) or inspect.isclass(obj)):
            continue
        mod = getattr(obj, "__module__", "") or ""
        if mod.split(".")[0] != _PKG:
            continue
        key = (mod, getattr(obj, "__qualname__", obj.__name__))
        if key in seen:
            continue
        seen.add(key)
        src = _SOURCE_CACHE.get(key)
        if src is None:
            try:
                src = inspect.getsource(obj)
            except (OSError, TypeError):
                # builtins / dynamically exec'd code: hash the repr of
                # the code object's stable fields instead of skipping,
                # so a swap still changes the fingerprint
                code = getattr(obj, "__code__", None)
                src = repr((code.co_names, code.co_consts)) if code else ""
            _SOURCE_CACHE[key] = src
        parts.append((key, src))
        if inspect.isfunction(obj):
            add_refs(obj)
        else:  # class: walk its methods' references (their source text
            # is already inside the class source)
            for v in vars(obj).values():
                v = _unwrap(v)
                if isinstance(v, (staticmethod, classmethod)):
                    v = v.__func__
                if inspect.isfunction(v):
                    add_refs(v)
    return sorted(parts)


def entry_fingerprint(entry, oracle: str | None = None) -> str:
    """16-hex-char fingerprint of an inventory entry: its transitive
    warpdb_spark source closure plus its oracle SQL (an oracle edit
    must also trigger a driver re-check — the driver hashes Spark vs
    DuckDB, so either side changing invalidates the old green row)."""
    h = hashlib.sha256()
    for (mod, qn), src in _collect(entry):
        h.update(f"{mod}.{qn}\n".encode())
        h.update(src.encode())
        h.update(b"\x00")
    h.update((oracle or "").encode())
    return h.hexdigest()[:16]


def current_fingerprints(queries: dict, oracles: dict) -> dict[str, str]:
    """Fingerprint every inventory entry. Raises on any failure —
    fingerprinting is pure introspection over loaded modules; an error
    here means the walk itself is broken, and silently marking entries
    changed (or unchanged) would corrupt the rotation either way."""
    return {
        name: entry_fingerprint(fn, oracles.get(name))
        for name, fn in queries.items()
    }


def changed_since_green(queries: dict, oracles: dict,
                        recorded: dict[str, str]) -> set[str]:
    """Names whose current fingerprint differs from the one recorded at
    their last driver-green promotion. A green entry with NO recorded
    fingerprint counts as changed (the conservative default — this is
    exactly the r8 state of the 13 entries rewritten after their last
    driver check)."""
    current = current_fingerprints(queries, oracles)
    return {n for n, fp in current.items() if recorded.get(n) != fp}
