"""The driver-window order follows the code (``tools/pin_manifest.json``).

The grading driver re-checks the first 50 ``queries()`` entries per
round. The manifest records, per registry query, a fingerprint of all
code that can affect its result (``tools/pinfp.py``) and the round that
fingerprint was first accepted in; ``__spark_entry__._ordered()`` leads
with every query stamped after its last driver row. These tests pin that
the manifest is current — the updater ran after the last edit, so every
edited query carries a fresh stamp — that the derived order is right,
and that the fingerprint moves with code but not with comments or
docstrings.

The escape the fingerprint closes: ``operators/layout.py`` once gained a
guard while ``zorder_curve_rank_parts`` (whose query function was
untouched — only the helper changed) was not re-checked. The
fingerprint walks the function-reference closure, so the helper edit
dirties the query.
"""

from __future__ import annotations

import json
import os
import sys
import textwrap
import types

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MANIFEST = os.path.join(ROOT, "tools", "pin_manifest.json")

sys.path.insert(0, ROOT)


def test_pin_manifest_is_current():
    from tools.pinfp import all_fingerprints

    if not os.path.exists(MANIFEST):
        pytest.fail("tools/pin_manifest.json missing — run `python tools/update_pin_manifest.py`")
    with open(MANIFEST) as f:
        recorded = json.load(f)
    current = all_fingerprints()

    assert sorted(recorded) == sorted(current), (
        f"manifest names differ from the registry: "
        f"{sorted(set(recorded) ^ set(current))} — run `python tools/update_pin_manifest.py`"
    )
    stale = sorted(n for n, fp in current.items() if recorded[n]["fp"] != fp)
    assert not stale, (
        f"code changed since the last manifest refresh: {stale} — run "
        "`python tools/update_pin_manifest.py` (it stamps them for the next driver round)"
    )
    assert all(isinstance(e["round"], int) and e["round"] >= 0 for e in recorded.values())


def test_rotation_orders_never_checked_then_stalest():
    """On the repo's own manifest and CORRECTNESS rows: the changed
    queries form the head of ``queries()``, and each group runs from the
    oldest driver row to the newest."""
    import __spark_entry__ as e

    ordered = e._ordered()
    assert sorted(ordered) == sorted(e.REGISTRY)
    last = e._last_checked_rounds()
    stamp = e._manifest_rounds()
    changed = [n for n in ordered if n not in stamp or stamp[n] > last.get(n, 0)]
    assert ordered[: len(changed)] == changed, "a changed query sits behind a clean one"
    for group in (ordered[: len(changed)], ordered[len(changed):]):
        rounds = [last.get(n, 0) for n in group]
        assert rounds == sorted(rounds), "rotation is not oldest-first"


def test_derived_order_puts_changed_first_then_stalest(monkeypatch):
    """The sort key, on a registry whose stamps and driver rows cover
    every case: stamped after the last row, missing from the manifest
    (a new registration), stamped at the very round it was checked, and
    clean but never checked. No cap applies: changed queries past the
    50-slot window wait their turn stalest-first."""
    import __spark_entry__ as e

    last = {"a": 17, "b": 3, "d": 5, "f": 2, "g": 3}
    stamp = {"a": 18, "b": 0, "d": 5, "e": 0, "f": 18, "g": 0}
    monkeypatch.setattr(e, "REGISTRY", dict.fromkeys("abcdefg"))
    monkeypatch.setattr(e, "_last_checked_rounds", lambda: last)
    monkeypatch.setattr(e, "_manifest_rounds", lambda: stamp)
    assert e._ordered() == ["c", "f", "a", "e", "b", "g", "d"]

    many = {f"q{i:03d}": None for i in range(80)}
    monkeypatch.setattr(e, "REGISTRY", many)
    monkeypatch.setattr(e, "_last_checked_rounds", lambda: {n: 80 - i for i, n in enumerate(many)})
    monkeypatch.setattr(e, "_manifest_rounds", lambda: dict.fromkeys(many, 99))
    assert e._ordered() == list(reversed(many))


_PROBE = '''
"""Probe module."""

SCALE = 3


def helper(x):
    """Scale x."""
    if x is None:
        raise ValueError("no x")
    return x * SCALE


class Box:
    """A box."""

    def get(self):
        """The value."""
        return helper(2)


def query(spark, sf_dir):
    """The query."""
    import etl_sample_spark._pin_probe as probe

    return probe.Box().get()
'''


def _probe_fingerprint(monkeypatch, tmp_path, source, tag):
    """Fingerprint of ``query`` in ``source``, loaded as a package module
    (the walk only follows ``etl_sample_spark`` code). The query imports
    its own module, so the whole module is hashed too."""
    import importlib.util

    from tools import pinfp

    path = tmp_path / f"probe_{tag}.py"
    path.write_text(textwrap.dedent(source))
    name = "etl_sample_spark._pin_probe"
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    monkeypatch.setitem(sys.modules, name, mod)
    spec.loader.exec_module(mod)
    return pinfp.query_fingerprint(types.SimpleNamespace(spark=mod.query, oracle="SELECT 1"))


def test_fingerprint_ignores_comments_and_docstrings(monkeypatch, tmp_path):
    """Fingerprints hash parsed code: a comment-only or docstring-only
    edit (to a function, a method, a class or the module) moves nothing,
    while a code edit — a changed operand order or a changed message
    string — moves the fingerprint of the query that reaches it."""
    base = _probe_fingerprint(monkeypatch, tmp_path, _PROBE, "base")
    commented = _PROBE.replace("SCALE = 3", "# the scale\n# (two lines)\nSCALE = 3  # fixed").replace(
        "return helper(2)", "return helper(2)  # constant"
    )
    docs = (
        _PROBE.replace("Scale x.", "Multiply x by SCALE.")
        .replace("A box.", "Holds nothing.")
        .replace("The value.", "Six.")
        .replace("The query.", "Probe query.")
        .replace("Probe module.", "Another probe module.")
    )
    for tag, edited in (("comment", commented), ("docstring", docs)):
        assert edited != _PROBE
        assert _probe_fingerprint(monkeypatch, tmp_path, edited, tag) == base, tag

    for tag, edited in (
        ("operands", _PROBE.replace("x * SCALE", "SCALE * x")),
        ("message", _PROBE.replace('"no x"', '"x is None"')),
    ):
        assert _probe_fingerprint(monkeypatch, tmp_path, edited, tag) != base, tag


def test_fingerprint_sees_through_dispatch_registries():
    """A helper referenced only through a container constant (a dispatch
    registry like ``_IMPLS = {"numpy": _decode_numpy}``) must still be
    fingerprinted by SOURCE: the container's repr embeds function
    addresses, so a walk that only scrubs or drops that repr would leave
    every reaching query's fingerprint unchanged by an edit to the
    helper — exactly the helper-edit class this policy exists to catch.
    Pin (a) that callables and modules inside nested dict/tuple/list/set
    constants are handed to the walk, and (b) that a real multimodal
    query's fingerprint covers its codec twins with no address-bearing
    (run-flapping) part."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import pinfp

    from etl_sample_spark.operators import multimodal as mm
    from etl_sample_spark.plans import REGISTRY

    registry = {
        "numpy": mm._decode_jpeg_numpy,
        "nested": (mm._png_raw_numpy, [frozenset({mm._decode_gif})]),
        "module": mm,
        "plain": ("pure", 3, 1.5, None),
    }
    found = pinfp._contained_objects(registry)
    for want in (mm._decode_jpeg_numpy, mm._png_raw_numpy, mm._decode_gif, mm):
        assert any(f is want for f in found), f"container walk lost {want!r}"
    assert all(callable(f) or f is mm for f in found), found

    parts = pinfp._fingerprint_parts(REGISTRY["multimodal_jpeg_decode"])
    prefixes = {p.split("::", 1)[0] for p in parts}
    for want in (
        "src:etl_sample_spark.operators.multimodal._decode_jpeg_numpy",
        "src:etl_sample_spark.operators.multimodal._png_raw_numpy",
    ):
        assert want in prefixes, f"fingerprint lost {want}"
    # the scrub must keep reprs stable: no raw addresses may survive
    flappy = [p for p in parts if " at 0x" in p]
    assert not flappy, f"address-bearing (run-flapping) parts: {flappy[:3]}"


def test_fingerprints_ignore_runtime_cache_state():
    """r13 test-order flake, pinned: fingerprints repr referenced
    container constants, so a runtime-MUTABLE module global reachable
    from a query function (the JPEG Huffman LUT cache, a module dict in
    its first form) made the fingerprint depend on what the process had
    already decoded — test_pin_manifest_is_current failed in the full
    suite (decoders run first) yet passed in isolation. The cache is
    now functools.lru_cache (runtime state invisible to the walk, body
    source still fingerprinted via __wrapped__). Assert both halves:
    the decorated twin's BODY stays covered, and decoding does not move
    any multimodal query's fingerprint."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import pinfp

    from etl_sample_spark.operators.multimodal import _decode_jpeg_numpy, encode_jpeg
    from etl_sample_spark.plans import REGISTRY

    spec = REGISTRY["multimodal_jpeg_decode"]
    parts = pinfp._fingerprint_parts(spec)
    lut_src = [p for p in parts if p.startswith("src:") and "_huff_lut16" in p]
    assert lut_src and any("lut_sym" in p for p in lut_src), (
        "decorated _huff_lut16 body no longer fingerprinted"
    )

    before = pinfp.query_fingerprint(spec)
    _decode_jpeg_numpy(encode_jpeg(8, 8, lambda x, y: (x * y) % 256, gray=True))
    _huff_cache_info = __import__(
        "etl_sample_spark.operators.multimodal", fromlist=["_huff_lut16"]
    )._huff_lut16.cache_info()
    assert _huff_cache_info.currsize > 0, "cache did not populate — vacuous test"
    assert pinfp.query_fingerprint(spec) == before
