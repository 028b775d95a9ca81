"""Refresh tools/pin_manifest.json: a fingerprint and a round stamp per query.

Run ``python tools/update_pin_manifest.py`` after any engine edit
(``tests/test_pin_policy.py`` fails until the manifest is current). It
recomputes every registry query's fingerprint (``tools/pinfp.py``). A
changed or new fingerprint is stamped with the next driver round, one
past the newest ``CORRECTNESS_rN.json`` at the repo root; every other
entry keeps its stamp. ``__spark_entry__._ordered()`` leads the driver's
window with every query stamped after its last driver row, so the
queries an edit touched are re-checked without a hand-kept list.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
MANIFEST = os.path.join(HERE, "pin_manifest.json")

sys.path.insert(0, os.path.dirname(HERE))

from __spark_entry__ import _last_checked_rounds  # noqa: E402
from tools.pinfp import all_fingerprints  # noqa: E402


def write_manifest(manifest: dict[str, dict]) -> None:
    """One ``"name": {"fp": ..., "round": ...}`` line per query, sorted."""
    lines = [f"{json.dumps(n)}: {json.dumps(manifest[n], sort_keys=True)}" for n in sorted(manifest)]
    with open(MANIFEST, "w") as f:
        f.write("{\n" + ",\n".join(lines) + "\n}\n")


def main() -> int:
    current = all_fingerprints()
    old = {}
    if os.path.exists(MANIFEST):
        with open(MANIFEST) as f:
            old = json.load(f)
    next_round = 1 + max(_last_checked_rounds().values(), default=0)

    manifest, updated = {}, []
    for name, fp in current.items():
        entry = old.get(name)
        if entry is None or entry["fp"] != fp:
            entry = {"fp": fp, "round": next_round}
            updated.append(name)
        manifest[name] = entry
    write_manifest(manifest)
    print(f"wrote {MANIFEST}: {len(manifest)} queries, {len(updated)} updated (round {next_round})")
    for name in sorted(updated):
        print(f"  - {name}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
