"""Vector math over array<float|double> columns, JVM-side.

Built on higher-order functions (``zip_with`` + ``aggregate``), so the
dot product runs on the JVM: no Python worker, no UDF serialization, no
Arrow round-trip, which is the difference between feasible and
infeasible at 100 TB. Both are CodegenFallback expressions, so they do
NOT run inside whole-stage codegen: the Project that evaluates them
carries no ``*(n)`` prefix in the executed plan, and each row's fold
goes through the interpreted lambda (pinned by
``tests/test_udfs.py::test_dot_runs_on_the_jvm_outside_whole_stage_codegen``).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _as_double(v: Column) -> Column:
    return v.cast("array<double>")


def dot(a: Column, b: Column) -> Column:
    """Dot product of two equal-length array columns (double precision)."""
    products = F.zip_with(_as_double(a), _as_double(b), lambda x, y: x * y)
    return F.aggregate(products, F.lit(0.0), lambda acc, x: acc + x)


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine_similarity(a: Column, b: Column) -> Column:
    """NULL for a zero-magnitude (or empty) vector: under default ANSI
    mode the bare division throws DIVIDE_BY_ZERO, so one all-zeros
    embedding row would abort a whole similarity job (r11 review);
    cosine is genuinely undefined there and null propagates correctly
    through top-k (descending sort puts nulls last)."""
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom != 0.0, dot(a, b) / denom)
