"""JSON document corpus reader (SURVEY §2.1 S1-S3, §2.2 R1-R2).

The reference lists blobs, downloads each to local disk, then dispatches
per-file by filename-suffix regex
(``Sample-Json-to-SQL-Full-Pipeline-EO-10-03-2019.py:769-805``). Spark
reads object-store paths directly, so the whole loop collapses to one
(or four, one per form) schema'd multiLine JSON scans; per-file identity
survives as ``input_file_name()`` and the Salesforce-ID prefix is a
regex over it (the declarative form of ``str(json_file)[:-17]`` at :35
and ``[:-19]`` at :156).

Scale: a directory of millions of JSON documents becomes a partitioned
file scan — no driver-side listing loop, no local staging hop; schema
enforcement (PERMISSIVE) replaces per-document inference.
"""

from __future__ import annotations

import os
import re
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructType

# Route → filename regex, in the reference's dispatch order (:798-805).
ROUTE_PATTERNS = (
    ("bank_scrape", r"_bank_scrape\.json$"),
    ("credit_report", r"_credit_report\.json$"),
    ("action", r"_action\.json$"),
    ("combined", r"\.json$"),  # fallthrough: everything else → jsonpipe
)

_SF_ID_RE = r"([^/]+?)(?:_bank_scrape|_credit_report|_action)?\.json$"


def sf_id_column() -> Column:
    """Salesforce id = filename minus route suffix (R2, :35,:156).

    input_file_name() returns a percent-ENCODED URI, so a filename with
    a space would otherwise yield '001A%207xyz' (r11 review); try_url_-
    decode restores the raw name and null-falls-back to the undecoded
    match on a malformed %-sequence instead of throwing under ANSI.
    url_decode uses x-www-form-urlencoded semantics, so a literal '+'
    in a filename — which input_file_name leaves unencoded in the URI —
    would decode to a space and silently corrupt the id (r11 ADVICE);
    r12 pre-escapes '+' as '%2B' so the decode restores it verbatim
    while still decoding real %XX sequences in the same name."""
    raw = F.regexp_extract(F.input_file_name(), _SF_ID_RE, 1)
    esc = F.replace(raw, F.lit("+"), F.lit("%2B"))
    return F.coalesce(F.try_url_decode(esc), raw)


def route_column() -> Column:
    """4-way dispatch as a column (R1, :798-805) — useful when all forms
    land in one directory and downstream filters per route."""
    col = None
    fname = F.input_file_name()
    for name, pattern in ROUTE_PATTERNS[:-1]:
        branch = F.when(fname.rlike(pattern), F.lit(name))
        col = branch if col is None else col.when(fname.rlike(pattern), F.lit(name))
    return col.otherwise(F.lit(ROUTE_PATTERNS[-1][0])).alias("route")


# Scheme-qualified URI (s3a://, abfss://, hdfs://, gs://, file://...).
# Python's glob/os.path treat these as literal relative paths — probing
# them locally would silently report a NON-EMPTY remote directory as
# empty. S2 of the reference lists Azure blobs explicitly
# (Sample-Json-to-SQL-Full-Pipeline-EO-10-03-2019.py:769-793); Spark
# reads object stores directly, so the emptiness probe must go through
# the same Hadoop FileSystem the scan itself will use.
_URI_SCHEME_RE = re.compile(r"^[A-Za-z][A-Za-z0-9+.\-]*://")


def is_remote_uri(path: str) -> bool:
    """True for any scheme-qualified URI that must NOT be probed with
    local-filesystem calls (glob/os.path)."""
    return bool(_URI_SCHEME_RE.match(path))


def _matched_paths(spark: SparkSession, path: str | list[str]) -> list[str] | None:
    """Paths matched by ``path`` (literal, glob, or a list of either),
    empty list if none, ``None`` when the probe CANNOT run.

    Every path resolves through Hadoop's FileSystem when py4j is
    available — the identical resolution the parquet/JSON scan performs,
    so whatever connector serves the scan (s3a, abfss, gs, hdfs, file —
    and for SCHEMELESS paths, fs.defaultFS, which on a real cluster is
    usually NOT the driver's local disk) serves the probe, and Hadoop's
    glob grammar applies (including ``{a,b}`` braces, which Python's
    glob treats as literals — r11 review: both cases used to be probed
    locally and wrongly reported empty).

    Under Spark Connect the session has no ``_jvm``/``_jsc`` (py4j is
    classic-Spark only): remote URIs return ``None`` so the caller
    attempts the scan directly and maps Spark's own PATH_NOT_FOUND to
    the empty frame (r10 ADVICE); bare paths fall back to the local
    filesystem (best effort — correct wherever Connect's server shares
    the client's view of local files)."""
    if isinstance(path, (list, tuple)):
        out: list[str] = []
        for p in path:
            m = _matched_paths(spark, p)
            if m is None:
                return None
            out.extend(m)
        return out
    has_py4j = hasattr(spark, "_jvm") and spark._jvm is not None
    if has_py4j:
        jvm = spark._jvm
        hpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
        # globStatus handles literal paths too (None/[] when nothing
        # matches; a plain existing path returns its own status).
        matched = fs.globStatus(hpath)
        return [] if matched is None else [str(m.getPath()) for m in matched]
    if is_remote_uri(path):
        return None
    import glob as _glob

    if any(ch in path for ch in "*?[{"):
        return _glob.glob(path)
    return [path] if os.path.exists(path) else []


def _json_reader(reader, schema: StructType, corrupt_col: str | None):
    """``reader`` (``spark.read`` or ``spark.readStream``) set up for
    schema'd multiLine JSON, one document per file (S1), in PERMISSIVE
    mode. With ``corrupt_col`` the schema gains that string column and
    a malformed document surfaces as a row holding its raw text there
    (all other fields null) instead of an all-null row."""
    reader = reader.option("multiLine", "true").option("mode", "PERMISSIVE")
    if corrupt_col is not None:
        reader = reader.option("columnNameOfCorruptRecord", corrupt_col)
    return reader.schema(_scan_schema(schema, corrupt_col))


def _scan_schema(schema: StructType, corrupt_col: str | None) -> StructType:
    if corrupt_col is None:
        return schema
    return StructType(schema.fields[:]).add(corrupt_col, StringType())


def read_form(
    spark: SparkSession,
    path: str,
    schema: StructType,
    corrupt_col: str | None = None,
    allow_empty: bool = False,
) -> DataFrame:
    """Scan one document form: multiLine JSON (one document per file,
    S1) with an explicit schema — missing sections become nulls, which
    downstream specs treat as 'skip this table for this doc'. Every row
    carries its ``sf_id``.

    ``corrupt_col``: when set, malformed documents surface as rows whose
    ``corrupt_col`` holds the raw text (all other fields null) instead
    of being dropped — the principled version of the reference's bare
    ``try/except`` swallow (pipeline.py:12,29-30): failures are
    *quarantinable*, not silent. Split with ``quarantine_corrupt``.

    Shape invariant: the returned schema is a function of the FLAGS
    only, never of whether the path had data — an empty arrival dir
    yields a typed-empty frame with the same columns (incl.
    ``corrupt_col``/``source_file`` when enabled) the non-empty scan
    would produce, so downstream unions and ``quarantine_corrupt`` never
    hit data-dependent UNRESOLVED_COLUMN.
    """

    def _typed_empty() -> DataFrame:
        empty = spark.createDataFrame([], _scan_schema(schema, corrupt_col))
        if corrupt_col is not None:
            empty = empty.withColumn("source_file", F.lit(None).cast("string"))
        return empty.withColumn("sf_id", F.lit(None).cast("string"))

    probe_unavailable = False
    if allow_empty:
        # A glob matching zero files raises PATH_NOT_FOUND; an arrival
        # directory that's currently empty is a normal state for the
        # ingest loop, not an error — return an empty typed DataFrame.
        # (None = the probe cannot run here, e.g. Spark Connect with a
        # remote URI: attempt the scan and catch PATH_NOT_FOUND below.)
        matched = _matched_paths(spark, path)
        probe_unavailable = matched is None
        if matched == []:
            return _typed_empty()
    try:
        df = _json_reader(spark.read, schema, corrupt_col).json(path)
        if probe_unavailable:
            # Classic Spark resolves the path inside .json() above, but
            # Spark Connect builds a lazy proto plan and raises nothing
            # until the first server round-trip — touching df.schema
            # forces an AnalyzePlan RPC NOW, so a missing path lands in
            # this except block instead of escaping to the caller's
            # first action.
            df.schema
    except Exception as ex:
        # allow_empty covers the probe-to-scan race too (a concurrent
        # archiver can delete the matched file before the reader
        # resolves it — r11 review), not just the no-probe Connect case.
        if allow_empty and "PATH_NOT_FOUND" in str(ex):
            return _typed_empty()
        raise
    if corrupt_col is not None:
        # Stamped at scan time: input_file_name() is only defined while
        # the file scan runs — evaluated later over a cached relation
        # (as quarantine_corrupt does) it returns ''.
        df = df.withColumn("source_file", F.input_file_name())
    return df.withColumn("sf_id", sf_id_column())


def coalesce_by_bytes(df: DataFrame) -> DataFrame:
    """``df`` coalesced to one partition per
    ``spark.sql.files.maxPartitionBytes`` of input:
    ``max(1, ceil(input_bytes / maxPartitionBytes))`` partitions.

    Spark's file-split rule charges every file a 4 MB open cost and
    floors the partition count at the default parallelism, so even a
    few-KB document scan gets one partition per core or per file. Every
    table normalized out of the scan inherits that count through
    ``explode``, and each partition is one write task and one output
    file (one JDBC connection on a database sink) per table. Sized
    here, before ``quarantine_corrupt`` caches the scan, a small corpus
    writes one file per table while a large one keeps one partition per
    split's worth of bytes: coalesce never adds partitions.

    ``input_bytes`` sums the ``sizeInBytes`` of the plan's leaves. For a
    file scan that is the byte total of the listing the scan already
    did, so sizing costs no listing and no job; a ``foreachBatch``
    micro-batch's leaf carries its incremental plan's estimate. A leaf
    whose size Spark does not know (an RDD-backed frame reports
    ``spark.sql.defaultSizeInBytes``) leaves ``df`` unchanged, as does a
    session without a JVM plan handle (Spark Connect).
    """
    jdf = getattr(df, "_jdf", None)
    if jdf is None:
        return df
    conf = jdf.sparkSession().sessionState().conf()
    leaves = jdf.queryExecution().analyzed().collectLeaves()
    input_bytes = sum(leaves.apply(i).stats().sizeInBytes() for i in range(leaves.size()))
    if input_bytes >= conf.defaultSizeInBytes():
        return df
    return df.coalesce(max(1, -(-input_bytes // conf.filesMaxPartitionBytes())))


@contextmanager
def quarantine_corrupt(
    df: DataFrame, corrupt_col: str = "_corrupt_record"
) -> Iterator[tuple[DataFrame, DataFrame | None]]:
    """Size and cache a document frame for the length of a ``with``
    block, which gets ``(clean, corrupt)``: the one document intake of
    ``run_batch_pipeline`` and both ``foreachBatch`` fan-outs.

    - ``clean``: the well-formed rows, without ``corrupt_col`` and
      ``source_file``, ready for ``normalize()``.
    - ``corrupt``: the malformed rows with all their columns, for the
      caller to project into its dead-letter layout; ``None`` when
      ``df`` has no ``corrupt_col`` (then ``clean`` is the whole frame).

    The frame is coalesced by its bytes first (``coalesce_by_bytes``),
    so the cache and every write out of it run one task per
    ``maxPartitionBytes`` of input; ``source_file`` is stamped inside
    the scan, below the coalesce, so it stays exact. The cache shares
    one parse across all of the block's writes, and Spark needs it to
    query the corrupt column at all
    (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN). It is
    released when the block exits, also when the block raises, so no
    corpus stays pinned in executor memory for the session."""
    df = coalesce_by_bytes(df).cache()
    try:
        if corrupt_col not in df.columns:
            yield df, None
        else:
            clean = df.where(F.col(corrupt_col).isNull()).drop(corrupt_col, "source_file")
            yield clean, df.where(F.col(corrupt_col).isNotNull())
    finally:
        df.unpersist()
