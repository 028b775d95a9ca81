"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

All queries live in ``etl_sample_spark.plans`` (one module per SURVEY §2
operator family); this file is just the adapter.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from etl_sample_spark.plans import REGISTRY  # noqa: E402

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    TPC-H Q3-shaped: scan → filter → join → agg → sort → limit
    (SURVEY §7's minimum end-to-end slice).
    """
    return REGISTRY["q3_shipping_priority"].spark(spark, SMOKE_SF_DIR)


# The driver's CORRECTNESS run covers the first 50 queries() entries per
# round, so the order is derived, never hand-kept: first every query whose
# code changed since its last driver row (its round stamp in
# tools/pin_manifest.json, written by tools/update_pin_manifest.py, is newer
# than that row; a query missing from the manifest counts as changed), then
# the rest; within each group the oldest driver row first, ties in registry
# order. Changed queries beyond 50 wait stalest-first for the next round.


def _last_checked_rounds() -> dict[str, int]:
    """name -> latest round with a driver CORRECTNESS row (0 = never)."""
    import glob
    import json
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    last: dict[str, int] = {}
    for path in glob.glob(os.path.join(here, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as f:
                rows = json.load(f)
        except (OSError, ValueError):
            continue
        for name in rows:
            last[name] = max(last.get(name, 0), rnd)
    return last


def _manifest_rounds() -> dict[str, int]:
    """name -> round its current fingerprint was first accepted."""
    import json

    here = os.path.dirname(os.path.abspath(__file__))
    try:
        with open(os.path.join(here, "tools", "pin_manifest.json")) as f:
            return {name: e["round"] for name, e in json.load(f).items()}
    except (OSError, ValueError):
        return {}


def _ordered() -> list[str]:
    last = _last_checked_rounds()
    stamp = _manifest_rounds()
    index = {n: i for i, n in enumerate(REGISTRY)}

    def key(n: str) -> tuple[bool, int, int]:
        changed = n not in stamp or stamp[n] > last.get(n, 0)
        return (not changed, last.get(n, 0), index[n])

    return sorted(REGISTRY, key=key)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: REGISTRY[name].spark for name in _ordered()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI-SQL twin for every SQL-expressible query.

    Queries registered with ``oracle=None`` (LSH approximate search —
    genuinely non-SQL-expressible) are omitted → driver records the
    weaker rows-only check.
    """
    return {name: REGISTRY[name].oracle for name in _ordered() if REGISTRY[name].oracle is not None}
