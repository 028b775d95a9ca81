"""The composed reference pipeline: one call replaces the reference's
whole driver script (``Sample-Json-to-SQL-Full-Pipeline-EO-10-03-2019
.py:769-816`` — list blobs → route by filename → parse → normalize →
append to SQL → archive).

Batch one-shot: ``run_batch_pipeline`` routes every ``*.json`` under a
directory to its form (same dispatch order as the reference :798-805),
parses with the form's explicit schema, quarantines malformed documents
instead of swallowing them, normalizes into the reference's exact star
schema, and appends to parquet and/or a JDBC database, counting each
table's rows during its write rather than in a job of its own. Continuous:
``streaming.ingest`` is the exactly-once replacement for the loop —
this module is the "run it once over a folder" entry a reference user
reaches for first.

Routing lists files driver-side (the reference does too); the listing
is a metadata operation, and each form's files are passed to ONE
multi-file ``spark.read.json`` so every form is a single distributed
scan — never a per-document loop.
"""

from __future__ import annotations

import glob
import os
import re

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from etl_sample_spark import schemas
from etl_sample_spark.forms import (
    action_form_specs,
    bank_form_specs,
    combined_form_specs,
    credit_form_specs,
)
from etl_sample_spark.normalize import normalize
from etl_sample_spark.sources.documents import ROUTE_PATTERNS, quarantine_corrupt, read_form

FORMS = {
    "bank_scrape": (schemas.BANK_SCRAPE_SCHEMA, bank_form_specs),
    "credit_report": (schemas.CREDIT_REPORT_SCHEMA, credit_form_specs),
    "action": (schemas.ACTION_SCHEMA, action_form_specs),
    "combined": (schemas.COMBINED_SCHEMA, combined_form_specs),
}


def route_files(in_dir: str, spark: SparkSession | None = None) -> dict[str, list[str]]:
    """Partition ``in_dir``'s JSON files by form, in the reference's
    dispatch order (first matching pattern wins; bare ``.json`` falls
    through to the combined/jsonpipe form).

    With a ``spark`` session the listing goes through the same
    scheme-aware probe the scans use (``_matched_paths``) — r11 review:
    the local ``glob.glob`` treats an ``s3a://``/``abfss://`` in_dir as
    a literal relative path, silently matching zero files and turning
    the whole batch run into a no-op."""
    if spark is not None:
        from etl_sample_spark.sources.documents import _matched_paths

        matched = _matched_paths(spark, os.path.join(in_dir, "*.json"))
        if matched is None:
            # _matched_paths distinguishes "listed, empty" ([]) from
            # "the probe CANNOT run here" (None — e.g. Spark Connect,
            # where the JVM filesystem isn't reachable). Collapsing None
            # to [] would silently process zero files — the exact
            # silent-no-op this router exists to prevent (r11 ADVICE).
            raise RuntimeError(
                f"cannot list {in_dir!r}: the Hadoop-FileSystem probe is "
                "unavailable in this session (Spark Connect / no JVM "
                "gateway). Run the batch pipeline on a classic session, "
                "or pass explicit file lists."
            )
        paths = sorted(matched)
    else:
        paths = sorted(glob.glob(os.path.join(in_dir, "*.json")))
    routed: dict[str, list[str]] = {name: [] for name, _ in ROUTE_PATTERNS}
    for path in paths:
        for name, pattern in ROUTE_PATTERNS:
            if re.search(pattern, path):
                routed[name].append(path)
                break
    return routed


def run_batch_pipeline(
    spark: SparkSession,
    in_dir: str,
    parquet_out: str | None = None,
    jdbc_url: str | None = None,
    db_schema: str = "sample_main",
    dead_letter_dir: str | None = None,
    jdbc_options: dict[str, str] | None = None,
) -> dict[str, int]:
    """Process every document currently in ``in_dir`` through the full
    reference pipeline; returns appended row counts per output table
    (plus ``__quarantined`` when a dead-letter dir is given).

    Sinks are additive: pass ``parquet_out`` for a parquet star schema
    (``<out>/<table>``), ``jdbc_url`` for the reference's database sink,
    or both (the same frames go to each). At least one is required: the
    counts are taken during the sink writes, so a call with no sink
    would have nothing to count. Malformed documents go to
    ``dead_letter_dir`` as raw text for replay — the reference's bare
    ``try/except`` made them vanish.

    Counts cost no extra job: every normalized table and every form's
    quarantine frame carries a ``df.observe`` row count that its first
    write fills in, so a call runs one job per table write and one per
    dead-letter write. A later write of the same observed frame (the
    JDBC leg after parquet) recomputes it from the raw-parse cache and
    leaves the first count in place.
    """
    from etl_sample_spark.sources.sinks import write_jdbc_tables

    if parquet_out is None and jdbc_url is None:
        raise ValueError("run_batch_pipeline needs a sink: pass parquet_out, jdbc_url or both")
    routed = route_files(in_dir, spark)
    counts: dict[str, int] = {}
    n_quarantined = 0
    for form, files in routed.items():
        if not files:
            continue
        schema, specs_fn = FORMS[form]
        raw = read_form(spark, files, schema, corrupt_col="_corrupt_record")
        clean, corrupt = quarantine_corrupt(raw)
        try:
            if dead_letter_dir is not None:
                corrupt, obs = _observe_rows(corrupt.withColumn("form", F.lit(form)))
                corrupt.write.mode("append").parquet(dead_letter_dir)
                n_quarantined += obs.get["rows"]
            tables, observations = {}, {}
            for name, table in normalize(clean, specs_fn()).items():
                tables[name], observations[name] = _observe_rows(table)
            if parquet_out is not None:
                for name, table in tables.items():
                    table.write.mode("append").parquet(os.path.join(parquet_out, name))
            if jdbc_url is not None:
                write_jdbc_tables(tables, jdbc_url, db_schema, options=jdbc_options)
            for name, obs in observations.items():
                counts[name] = counts.get(name, 0) + obs.get["rows"]
        finally:
            # quarantine_corrupt cached the raw parse: it shares the one
            # JSON scan across this form's writes, and Spark needs it to
            # query the corrupt column. Release it once they are done,
            # or the per-form corpora pin executor memory for the
            # session lifetime.
            raw.unpersist()
    if dead_letter_dir is not None:
        counts["__quarantined"] = n_quarantined
    return counts


def _observe_rows(df: DataFrame) -> tuple[DataFrame, Observation]:
    """``df`` with a row count that its first action fills in."""
    obs = Observation()
    return df.observe(obs, F.count(F.lit(1)).alias("rows")), obs
