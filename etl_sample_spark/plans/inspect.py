"""Plan inspection utilities: mechanical answers to "how many shuffles
does this query do?" — used by tests to pin shuffle budgets so a
refactor that adds an accidental Exchange fails loudly."""

from __future__ import annotations

import contextlib
import io
import re

from pyspark.sql import DataFrame


def executed_plan(df: DataFrame) -> str:
    """Final (post-AQE) physical plan; triggers execution."""
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def formatted_plan(df: DataFrame) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def count_exchanges(df: DataFrame) -> int:
    """Number of shuffle Exchanges in the executed plan (broadcast
    exchanges excluded — broadcasts are the cheap kind)."""
    plan = executed_plan(df)
    final = plan.split("== Initial Plan ==")[0]
    return len(re.findall(r"(?<!Broadcast)Exchange ", final))


def _walk_executed_nodes(node):
    """Yield every physical node in an executed plan tree, descending
    through the AQE wrappers (AdaptiveSparkPlanExec holds the final plan;
    each materialized QueryStageExec wraps its stage's subtree)."""
    yield node
    name = node.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec":
        yield from _walk_executed_nodes(node.executedPlan())
    elif name.endswith("QueryStageExec"):
        yield from _walk_executed_nodes(node.plan())
    children = node.children()
    for i in range(children.size()):
        yield from _walk_executed_nodes(children.apply(i))


def shuffle_bytes_written(df: DataFrame, execute: bool = True) -> int:
    """Total shuffle bytes WRITTEN by this DataFrame's own execution.

    Sums the ``shuffleBytesWritten`` SQLMetric over every node of the
    post-AQE executed plan. Write-side bytes are the right shuffle cost
    signal: every byte read was written exactly once, and the write
    metric is populated even when AQE coalesces the read side.

    Must run an action on THIS DataFrame (``collect``) — ``count()``
    builds a separate QueryExecution whose metrics don't flow back into
    ``df``'s plan. Pass ``execute=False`` only if the df was already
    collected.
    """
    if execute:
        df.collect()
    total = 0
    root = df._jdf.queryExecution().executedPlan()
    for node in _walk_executed_nodes(root):
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            if kv._1() == "shuffleBytesWritten":
                total += kv._2().value()
    return total
