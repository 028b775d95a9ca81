"""Per-query code fingerprints for the driver re-pin policy.

The policy (r3 VERDICT item 5, mechanized per r7 VERDICT item 4): every
registry query whose code changed since its last driver-grade check must
re-enter the driver's 50-query CORRECTNESS window via
``__spark_entry__._FRONT_PINS``. Until r7 this was enforced by hand and
missed one query (``zorder_curve_rank_parts`` after a helper edit in
``operators/layout.py``). This module computes, for each registry query,
a content fingerprint of ALL code that can affect its result:

- the source of the registered spark callable (decorator lines included,
  so the oracle SQL in ``@register(...)`` is covered twice over),
- transitively, the source of every ``etl_sample_spark`` function/class
  it references (via co_names of its code object, nested code objects,
  and closure cells) — this is what catches the layout.py case: the
  query function itself was untouched but ``interleave_bits`` changed,
- module-level constants it references (by repr),
- whole-module source for attribute-style submodule references
  (``from ..operators import dedup; dedup.f(...)``),
- the oracle string.

Function-level closure is deliberately finer than the module-level
granularity sketched in the r7 verdict: it gives the same guarantee
(any reachable-code change dirties the fingerprint) without forcing a
40-query pin when one query in ``plans/llm.py`` changes — the 50-slot
window is a scarce resource the staleness rotation also needs.
"""

from __future__ import annotations

import hashlib
import inspect
import re
import types

_PKG = "etl_sample_spark"
_SIMPLE = (str, bytes, int, float, bool, complex, tuple, list, dict, set,
           frozenset, type(None))


def _code_names(code: types.CodeType) -> set[str]:
    names = set(code.co_names)
    for const in code.co_consts:
        if isinstance(const, types.CodeType):
            names |= _code_names(const)
    return names


def _local_imports(fn) -> list:
    """Objects brought in by import statements INSIDE a function body.

    Queries overwhelmingly use function-local imports
    (``from etl_sample_spark.operators.layout import interleave_bits``
    inside the def) — those never appear in ``__globals__``, so a
    co_names walk alone misses exactly the helper-edit case the policy
    exists for. AST-parse the source and resolve them."""
    import ast
    import importlib
    import textwrap

    try:
        src = textwrap.dedent(inspect.getsource(fn))
        tree = ast.parse(src)
    except (OSError, TypeError, SyntaxError):
        return []
    pkg = (getattr(fn, "__module__", "") or "").rpartition(".")[0]
    out = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.startswith(_PKG):
                    try:
                        out.append(importlib.import_module(alias.name))
                    except ImportError:
                        pass
        elif isinstance(node, ast.ImportFrom):
            mod_name = node.module or ""
            if node.level:
                base = pkg.rsplit(".", node.level - 1)[0] if node.level > 1 else pkg
                mod_name = f"{base}.{mod_name}" if mod_name else base
            if not mod_name.startswith(_PKG):
                continue
            try:
                mod = importlib.import_module(mod_name)
            except ImportError:
                continue
            for alias in node.names:
                out.append(getattr(mod, alias.name, mod))
    return out


def _safe_source(obj) -> str:
    try:
        return inspect.getsource(obj)
    except (OSError, TypeError):
        mod = getattr(obj, "__module__", "?")
        qn = getattr(obj, "__qualname__", getattr(obj, "__name__", "?"))
        return f"<nosource:{mod}.{qn}>"


def _contained_objects(val) -> list:
    """Modules/callables held INSIDE container constants (depth-bounded).

    A dispatch registry like ``_IMPLS = {"numpy": _decode_numpy, ...}``
    is a dict constant whose repr embeds function addresses. A walk that
    only scrubs or drops that repr, without pushing the values on the
    walk stack, leaves every reaching query's fingerprint unchanged by
    an edit to a registry-dispatched helper — exactly the helper-edit
    class this module exists to catch. So containers contribute their
    contained callables/modules to the closure."""
    out = []
    stack = [(val, 0)]
    while stack:
        v, depth = stack.pop()
        if depth > 4:
            continue
        if isinstance(v, dict):
            stack.extend((x, depth + 1) for x in v.keys())
            stack.extend((x, depth + 1) for x in v.values())
        elif isinstance(v, (tuple, list, set, frozenset)):
            stack.extend((x, depth + 1) for x in v)
        elif inspect.ismodule(v) or callable(v):
            out.append(v)
    return out


def query_fingerprint(spec) -> str:
    """sha256 over the sorted set of reachable-source parts + oracle."""
    parts = _fingerprint_parts(spec)
    return hashlib.sha256("\n".join(sorted(parts)).encode()).hexdigest()


def _fingerprint_parts(spec) -> set:
    parts: set[str] = {f"oracle::{spec.oracle}"}
    seen: set[tuple] = set()
    stack: list = [spec.spark]
    while stack:
        obj = stack.pop()
        if inspect.ismodule(obj):
            if obj.__name__.startswith(_PKG):
                key = ("module", obj.__name__)
                if key not in seen:
                    seen.add(key)
                    parts.add(f"mod:{obj.__name__}::{_safe_source(obj)}")
            continue
        mod = getattr(obj, "__module__", "") or ""
        if not mod.startswith(_PKG):
            continue
        key = (mod, getattr(obj, "__qualname__", repr(type(obj))))
        if key in seen:
            continue
        seen.add(key)
        parts.add(f"src:{key[0]}.{key[1]}::{_safe_source(obj)}")
        if inspect.isclass(obj):
            for m in vars(obj).values():
                if inspect.isfunction(m):
                    stack.append(m)
            continue
        code = getattr(obj, "__code__", None)
        g = getattr(obj, "__globals__", None)
        if code is None or g is None:
            continue
        stack.extend(_local_imports(obj))
        referenced = []
        for name in sorted(_code_names(code)):
            if name in g:
                referenced.append((name, g[name]))
        for cell in getattr(obj, "__closure__", None) or ():
            try:
                referenced.append(("<closure>", cell.cell_contents))
            except ValueError:
                pass
        for name, val in referenced:
            if inspect.ismodule(val) or callable(val):
                stack.append(val)
            elif isinstance(val, _SIMPLE):
                # dispatch registries and other containers may hold
                # callables — fingerprint those by SOURCE via the walk
                # stack, or a helper reached only through one is invisible
                stack.extend(_contained_objects(val))
                if isinstance(val, (set, frozenset)):
                    # set iteration order varies with hash randomization —
                    # canonicalize, or fingerprints flap run-to-run
                    r = "{" + ", ".join(sorted(repr(x) for x in val)) + "}"
                else:
                    r = repr(val)
                # default-object reprs embed addresses ("<... at 0xABC>")
                # that flap run-to-run. SCRUB the address instead of
                # dropping the whole constant (the pre-r13 drop also hid
                # the container's structure — e.g. a registry key
                # rename): "<function f at 0x7f..>" -> "<function f>".
                # A legitimate hex STRING constant ('0xff') still
                # dirties the fingerprint — the scrub matches only the
                # default-repr shape, not any '0x' substring (r8 ADVICE).
                r = re.sub(r" at 0x[0-9a-f]+(?=>)", "", r)
                parts.add(f"const:{mod}.{name}::{r}")
    return parts


def all_fingerprints() -> dict[str, str]:
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from etl_sample_spark.plans import REGISTRY

    return {name: query_fingerprint(spec) for name, spec in REGISTRY.items()}
