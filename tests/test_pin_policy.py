"""Mechanical re-pin policy gate (r7 VERDICT item 4).

Every registry query whose reachable code changed since its last
driver-grade check must be in ``__spark_entry__._FRONT_PINS`` so it
re-enters the driver's 50-query CORRECTNESS window. The manifest
(``tools/pin_manifest.json``) records each query's code fingerprint at
the state the updater last accepted; the updater itself refuses to
accept a changed fingerprint for an unpinned query. This test asserts
the manifest is CURRENT — i.e. the updater ran after the last edit and
therefore enforced pinning — plus basic pin hygiene.

r7's escape this closes: ``operators/layout.py`` gained a guard but
``zorder_curve_rank_parts`` (whose query function was untouched — only
the helper changed) was not re-pinned. The fingerprint walks the
function-reference closure, so the helper edit dirties the query.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MANIFEST = os.path.join(ROOT, "tools", "pin_manifest.json")

sys.path.insert(0, ROOT)


def test_front_pins_exist_in_registry():
    from __spark_entry__ import _FRONT_PINS

    from etl_sample_spark.plans import REGISTRY

    missing = [n for n in _FRONT_PINS if n not in REGISTRY]
    assert not missing, f"_FRONT_PINS entries not in REGISTRY: {missing}"
    assert len(set(_FRONT_PINS)) == len(_FRONT_PINS), "duplicate pins"


def test_pin_manifest_is_current():
    from __spark_entry__ import _FRONT_PINS

    from tools.pinfp import all_fingerprints

    if not os.path.exists(MANIFEST):
        pytest.fail(
            "tools/pin_manifest.json missing — run "
            "`python tools/update_pin_manifest.py` (it refuses unpinned "
            "dirty queries, which is the enforcement)"
        )
    recorded = json.load(open(MANIFEST))
    current = all_fingerprints()

    stale_extra = sorted(set(recorded) - set(current))
    assert not stale_extra, f"manifest has entries for unknown queries: {stale_extra}"

    dirty_unpinned = sorted(
        n for n, fp in current.items()
        if recorded.get(n) != fp and n not in _FRONT_PINS
    )
    assert not dirty_unpinned, (
        "queries with changed (or new) code NOT re-pinned for the driver "
        f"window: {dirty_unpinned} — add to __spark_entry__._FRONT_PINS "
        "and run `python tools/update_pin_manifest.py`"
    )
    # pins themselves must also be manifest-current (updater ran last)
    dirty_pinned = sorted(
        n for n, fp in current.items()
        if recorded.get(n) != fp and n in _FRONT_PINS
    )
    assert not dirty_pinned, (
        f"pinned queries changed after the last manifest refresh: "
        f"{dirty_pinned} — run `python tools/update_pin_manifest.py`"
    )


def test_rotation_orders_never_checked_then_stalest():
    """The driver-window rotation contract: after the pins, every
    never-driver-checked query precedes every already-checked one, and
    checked queries are ordered by ascending last-checked round — so
    registry-wide driver evidence converges instead of stranding old
    rows (r7 VERDICT item 5)."""
    import __spark_entry__ as e

    ordered = e._ordered()
    last = e._last_checked_rounds()
    tail = [n for n in ordered if n not in e._FRONT_PINS]
    rounds = [last.get(n, 0) for n in tail]
    assert rounds == sorted(rounds), "rotation is not oldest-first"


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
