"""Per-query code fingerprints for the driver-window order.

The grading driver re-checks the first 50 entries of
``__spark_entry__.queries()`` each round, so a query whose code changed
since its last driver row must lead that list. ``tools/pin_manifest.json``
stores, per registry query, a fingerprint of ALL code that can affect
its result plus the round in which that fingerprint was first accepted;
``__spark_entry__._ordered()`` reads the stamps (never this module —
fingerprinting the registry takes seconds) and
``tools/update_pin_manifest.py`` refreshes them. A fingerprint covers:

- the registered spark callable (decorator lines included, so the
  oracle SQL in ``@register(...)`` is covered twice over),
- transitively, every ``etl_sample_spark`` function/class it references
  (via co_names of its code object, nested code objects, closure cells
  and function-local imports) — this is what catches a helper edit: the
  query function itself is untouched but ``interleave_bits`` changed,
- module-level constants it references (by repr),
- whole modules for attribute-style submodule references
  (``from ..operators import dedup; dedup.f(...)``),
- the oracle string.

The closure is walked per function rather than per module, so an edit
to one query in a 40-query plans module does not re-stamp its
neighbours and crowd the 50-slot window.

Code is hashed as parsed, not as text: each function, class or module
contributes ``ast.dump`` of its dedented source with every docstring
removed, so comment- and docstring-only edits leave every fingerprint
alone while any change to code or to a string constant moves it. A
source that does not parse on its own (a lambda's line) is hashed as
text. ``ast.dump`` output follows the interpreter's AST, so the manifest
is only comparable under the Python minor version that wrote it.
"""

from __future__ import annotations

import ast
import functools
import hashlib
import inspect
import re
import textwrap
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
    exists for. Resolve them from the parsed source."""
    import importlib

    tree = _tree(_safe_source(fn))
    if tree is None:
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


@functools.lru_cache(maxsize=None)
def _tree(src: str) -> ast.Module | None:
    """The dedented source parsed, docstrings removed (None: no parse).

    Treat the result as read-only: it is shared by every caller."""
    try:
        tree = ast.parse(textwrap.dedent(src))
    except SyntaxError:
        return None
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)):
            first = node.body[0] if node.body else None
            if (isinstance(first, ast.Expr) and isinstance(first.value, ast.Constant)
                    and isinstance(first.value.value, str)):
                node.body = node.body[1:]
    return tree


@functools.lru_cache(maxsize=None)
def _code_text(src: str) -> str:
    """What a source contributes to a fingerprint: its docstring-free
    ``ast.dump``, or the text itself when it does not parse alone."""
    tree = _tree(src)
    return src if tree is None else ast.dump(tree)


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
    """sha256 over the sorted set of reachable-code parts + oracle."""
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
                    parts.add(f"mod:{obj.__name__}::{_code_text(_safe_source(obj))}")
            continue
        mod = getattr(obj, "__module__", "") or ""
        if not mod.startswith(_PKG):
            continue
        key = (mod, getattr(obj, "__qualname__", repr(type(obj))))
        if key in seen:
            continue
        seen.add(key)
        parts.add(f"src:{key[0]}.{key[1]}::{_code_text(_safe_source(obj))}")
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
