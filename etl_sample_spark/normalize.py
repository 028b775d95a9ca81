"""Declarative document-normalization engine (the reference's core
capability, SURVEY §2.3-2.4 and §3.2-3.4).

The reference normalizes one JSON document at a time with ~45 imperative
try/except blocks (``Sample-Json-to-SQL-Full-Pipeline-EO-10-03-2019.py``,
e.g. bankpipe :33-147, creditpipe :154-366, jsonpipe :372-763). Here the
same semantics are a *spec*: each output table is declared as
(explode chain | struct flatten | root projection) + FK stamps + drops,
and ``normalize()`` compiles the spec into lazy DataFrame expressions
over the whole corpus at once.

Semantics preserved from the reference:
- missing-section tolerance: ``explode`` (not explode_outer) emits no
  rows for documents whose array is null/empty — the declarative
  equivalent of "except: table skipped" (:101-103,124-126 etc.);
  null struct fields propagate as null columns.
- FK stamping: parent fields are carried onto every child row
  (:47-49,95-96,114-117 etc.) — in corpus mode they are just columns
  that ride through the explode.
- nested explode with per-account key carry (:107-126,485-501): the
  two-level ``accounts[].transactions[]`` chain, with the parent
  account's id/mask stamped on each transaction.

Scale: a spec compiles to projections + generators only — no shuffle,
no Python. Normalizing 100 TB of documents is one map-only pass per
output table over one shared scan, which
``sources.documents.quarantine_corrupt`` sizes and caches for
``pipeline.run_batch_pipeline`` and
``streaming.ingest.foreach_batch_normalize``.
"""

from __future__ import annotations

import re
from collections.abc import Mapping
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

# `path[0].Field` spec syntax compiles to a null-safe try_element_at:
# under Spark 4's default ANSI mode a bare `arr[0]` THROWS
# INVALID_ARRAY_INDEX on an EMPTY (non-null) array — one document with
# "TU_FFR_Report": [] would crash the whole corpus pass, where the
# reference's try/except skipped the document (r11 review). The raw
# [n] syntax stays in the specs (schema navigation strips it); only
# the compiled expressions are rewritten.
_INDEX_RE = re.compile(r"((?:[A-Za-z_]\w*\.)*[A-Za-z_]\w*)\[(\d+)\]")

# Quoted SQL tokens the index rewrite must not touch — captured so
# re.split keeps them at odd indices. Covers every literal form Spark's
# default (non-ANSI-string) parser accepts (r12 ADVICE: the single-quote
# guard alone still rewrote `rlike "x[0]"` and `'\'x[0]'`):
# - single-quoted strings, with '' AND backslash escapes ('it''s', 'a\'b'),
# - double-quoted strings (Spark default) / quoted identifiers (under
#   spark.sql.ansi.doubleQuotedIdentifiers) — untouchable either way,
# - backtick-quoted identifiers, `` as the escaped backtick (a column
#   literally named `x[0]` must not become try_element_at).
_SQL_STRING_RE = re.compile(
    r"('(?:[^'\\]|\\.|'')*'"
    r'|"(?:[^"\\]|\\.)*"'
    r"|`(?:[^`]|``)*`)"
)


def _ansi_safe(expr: str) -> str:
    """Rewrite every `path[n]` into `try_element_at(path, n+1)` —
    OUTSIDE quoted tokens only: a pattern like `rlike 'x[0]'` (in any
    quote style, with any escape form) and a backtick-quoted column
    named `x[0]` must pass through untouched (r11+r12 ADVICE — the
    unguarded rewrite would corrupt them; no current spec hits it, but
    TableSpec accepts arbitrary SQL)."""
    parts = _SQL_STRING_RE.split(expr)
    return "".join(
        part
        if i % 2
        else _INDEX_RE.sub(
            lambda m: f"try_element_at({m.group(1)}, {int(m.group(2)) + 1})", part
        )
        for i, part in enumerate(parts)
    )


@dataclass(frozen=True)
class TableSpec:
    """One output table of a normalization spec.

    Exactly one of ``explode`` / ``flatten`` / ``root=True`` defines the
    row grain:

    - ``explode``: chain of (array_path, alias) pairs; the first path is
      relative to the document root, each subsequent path is relative to
      the previous alias (two entries = the reference's nested
      accounts→transactions explode). Output rows = elements of the last
      array; columns = that element's struct fields.
    - ``flatten``: dot-path to a struct; output is its fields (1 row/doc).
    - ``root``: output is the document's own top-level scalars.

    ``extra`` stamps additional columns (FKs, masks, fallbacks) as SQL
    expressions evaluated with the document root AND all explode aliases
    in scope. ``post`` rewrites *output* columns by expression (e.g. the
    reference's ``flags.astype(str)``). ``drop`` removes fields from the
    grain expansion. ``required`` is a boolean SQL expression; documents
    where it is not true contribute no rows (the reference's
    "section absent → table skipped" try/except semantics).
    """

    name: str
    explode: tuple[tuple[str, str], ...] = ()
    flatten: str | None = None
    root: bool = False
    drop: tuple[str, ...] = ()
    extra: Mapping[str, str] = field(default_factory=dict)
    post: Mapping[str, str] = field(default_factory=dict)
    required: str | None = None


def _struct_fields(schema: StructType, path: str) -> list[str]:
    """Field names of the struct at a dot-path within the schema."""
    cur = schema
    for part in path.split("."):
        part = part.split("[")[0]  # strip [0]-style indexing
        dt = cur[part].dataType
        # unwrap array element structs for explode targets
        while hasattr(dt, "elementType"):
            dt = dt.elementType
        cur = dt
    if not isinstance(cur, StructType):
        raise TypeError(f"path {path!r} is not a struct")
    return [f.name for f in cur.fields]


def compile_table(docs: DataFrame, spec: TableSpec) -> DataFrame:
    df = docs
    if spec.required:
        df = df.where(F.expr(_ansi_safe(spec.required)))

    grain_path = None
    for i, (path, alias) in enumerate(spec.explode):
        src = path if i == 0 else f"{spec.explode[i - 1][1]}.{path}"
        df = df.withColumn(alias, F.explode(F.expr(_ansi_safe(src))))
        grain_path = alias

    extra_cols = [F.expr(_ansi_safe(e)).alias(n) for n, e in spec.extra.items()]

    if spec.explode:
        fields = [f.name for f in df.schema[grain_path].dataType.fields]  # type: ignore[union-attr]
        body = [
            F.col(f"{grain_path}.{f}").alias(f)
            for f in fields
            if f not in spec.drop and f not in spec.extra
        ]
    elif spec.flatten:
        fields = _struct_fields(docs.schema, spec.flatten)
        flat = _ansi_safe(spec.flatten)
        body = [
            F.expr(f"{flat}.{f}").alias(f)
            for f in fields
            if f not in spec.drop and f not in spec.extra
        ]
        # mirror the reference's "section absent → table skipped"
        # (try_element_at on an empty indexed section gives null here,
        # so `[]` skips the table exactly like a missing struct)
        df = df.where(F.expr(flat).isNotNull())
    elif spec.root:
        body = [
            F.col(c)
            for c in docs.columns
            if c not in spec.drop and c not in spec.extra
        ]
    else:
        raise ValueError(f"table {spec.name!r}: need explode, flatten or root")

    out = df.select(*body, *extra_cols)
    for name, expr in spec.post.items():
        out = out.withColumn(name, F.expr(_ansi_safe(expr)))
    return out


def normalize(docs: DataFrame, specs: list[TableSpec]) -> dict[str, DataFrame]:
    """Compile every table of the spec against a document corpus.

    Returns lazy DataFrames — one Catalyst plan per output table, each
    reading only its own nested paths (column pruning reaches the JSON/
    parquet scan). To materialize many tables from one pass (SURVEY §4
    'multi-output single-pass'), normalize the ``clean`` frame of
    ``sources.documents.quarantine_corrupt``, which caches the scan
    for the length of its block."""
    return {spec.name: compile_table(docs, spec) for spec in specs}
