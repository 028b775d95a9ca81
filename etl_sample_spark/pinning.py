"""Branch-sharing pins, decided ONCE (r16; r15 VERDICT items 1-2).

Spark re-executes a DataFrame's lineage once per downstream plan branch
(no automatic common-subtree materialization), so a query that fans a
bounded derived relation into several joins/aggregates re-scans its
source table — and re-runs every map in between — once per branch
(``tools/scan_audit.py`` makes the pattern mechanical to find; r15 fixed
the 25 worst shapes). Every such pin now routes through :func:`pin` so
the materialization strategy and its trade-offs are a SINGLE decision
instead of 25 scattered call sites:

* ``checkpoint`` (default): ``localCheckpoint`` — materializes the
  subtree as executor-local RDD blocks and cuts lineage there. The
  blocks are ContextCleaner-collected once the result DataFrame is
  garbage-collected, so a long many-query session does not accumulate
  them. The trade: lineage is TRUNCATED, so on a real cluster losing an
  executor mid-query fails the job (the app layer retries the whole
  query) instead of recomputing the lost blocks.
* ``persist``: ``persist(StorageLevel.MEMORY_AND_DISK)`` — the same
  branch-sharing with lineage KEPT: executor loss recomputes only the
  lost partitions, the cluster-resilient choice. The trade: Dataset
  caches are held by the session's CacheManager until an explicit
  unpersist/clearCache (they are NOT GC-collected), so a long-lived
  session accumulates every pinned relation; callers that loop over
  many queries in one session should ``spark.catalog.clearCache()``
  between queries, or prefer the default mode.
* ``reliable``: ``checkpoint()`` into ``sparkContext`` 's configured
  checkpoint directory (must be set): survives executor loss AND
  truncates lineage, at the price of one reliable-store write per pin —
  the belt-and-braces mode for long multi-stage cluster jobs.

Mode is selected by ``SPARK_GRAFT_PIN_MODE`` (default ``checkpoint``;
measured head-to-head in SCALE.md's r16 entry). ``SPARK_GRAFT_NO_PIN=1``
turns :func:`pin` into the identity: the registry-wide plan guards
(tests/test_plans.py) build every query with pins disabled, so a
row-UDF, corpus-global window, or accidental cartesian upstream of a pin
stays visible to them — r15's pinned subtrees were opaque ``LogicalRDD``
nodes the guards could not see inside (r15 VERDICT "what's wrong" #1).

Iterative lineage TRUNCATION (the large-star/small-star loop in
``operators/dedup.py::neardup_clusters`` and the parent-pointer closure
in ``plans/analytics.py``) does NOT route through here: there the
per-pass checkpoint is algorithmically load-bearing, not a
branch-sharing materialization choice. Each pass's plan is built on the
previous pass's output, so without the cut the lineage grows with
every pass (it doubles where a pass joins its state to itself, as the
closure does); and ``neardup_clusters`` reads its convergence count
from an ``Observation`` on that same eager checkpoint. It must not be
disabled by the guard bypass.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

_MODES = ("checkpoint", "persist", "reliable")


def pin(df: DataFrame, *, eager: bool = False) -> DataFrame:
    """Materialize a bounded, branch-shared derived relation once.

    Call this ONLY on relations that are (a) consumed by two or more
    downstream plan branches and (b) bounded well below their source
    (aggregates, distinct key sets, top-k, dimension-sized grids) — a
    pin materializes its input, so pinning anything corpus-sized trades
    a re-scan for a corpus-sized write to executor storage.

    Know the second cost (measured r16, SCALE.md): a checkpointed
    relation is a stats-OPAQUE LogicalRDD — Catalyst sees
    ``defaultSizeInBytes`` for it, so downstream joins against the pin
    lose their automatic broadcast eligibility and degrade to
    sort-merge. Pin relations the planner would not have broadcast
    anyway, or keep an explicit ``F.broadcast`` hint on pinned
    dimension/one-row frames whose broadcast the plan relies on
    (pinning the minhash LSH pair list cost 1.4× at sf0.1 through
    exactly this mechanism before r16 unpinned it).

    ``eager=True`` runs the materialization job immediately (useful when
    the caller's very next step is a multi-branch fan-out and deferred
    first-touch cost would land inside a timed region); the default
    defers it to the first action.
    """
    if os.environ.get("SPARK_GRAFT_NO_PIN") == "1":
        return df
    mode = os.environ.get("SPARK_GRAFT_PIN_MODE", "checkpoint")
    if mode == "persist":
        return df.persist(StorageLevel.MEMORY_AND_DISK)
    if mode == "reliable":
        return df.checkpoint(eager=eager)
    if mode != "checkpoint":
        raise ValueError(
            f"SPARK_GRAFT_PIN_MODE={mode!r} not in {_MODES}"
        )
    return df.localCheckpoint(eager=eager)
