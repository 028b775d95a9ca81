"""Routing (SURVEY §2.2 R1/R2): one mixed directory of all four document
forms must dispatch each file to the right pipeline, and the sf_id must
come out of the filename exactly as the reference slices it
(``Sample-Json-to-SQL-Full-Pipeline-EO-10-03-2019.py:35,156,798-805``)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_sample_spark import schemas
from etl_sample_spark.sources.documents import read_form, route_column, sf_id_column
from tests.fixtures import ACTION_DOCS, BANK_DOCS, COMBINED_DOCS, CREDIT_DOCS, write_docs


@pytest.fixture(scope="module")
def mixed_dir(tmp_path_factory):
    base = str(tmp_path_factory.mktemp("mixed"))
    for docs in (BANK_DOCS, CREDIT_DOCS, ACTION_DOCS, COMBINED_DOCS):
        write_docs(base, docs)
    return base


def test_route_column_dispatches_all_four_forms(spark, mixed_dir):
    # Text-mode scan is enough to route: routing reads only the filename.
    df = spark.read.text(f"{mixed_dir}/*.json").select(
        route_column(), sf_id_column().alias("sf_id")
    )
    routes = {r["sf_id"]: r["route"] for r in df.distinct().collect()}
    assert routes["ACCT001"] == "bank_scrape"
    assert routes["MEM001"] == "credit_report"
    assert routes["SF009"] == "action"
    assert routes["SF001"] == "combined"
    counts = {r["route"]: r["n"] for r in df.groupBy("route").agg(F.countDistinct("sf_id").alias("n")).collect()}
    assert counts == {
        "bank_scrape": len(BANK_DOCS),
        "credit_report": len(CREDIT_DOCS),
        "action": len(ACTION_DOCS),
        "combined": len(COMBINED_DOCS),
    }


def test_sf_id_strips_route_suffixes(spark, mixed_dir):
    df = read_form(spark, f"{mixed_dir}/*_bank_scrape.json", schemas.BANK_SCRAPE_SCHEMA)
    ids = sorted(r["sf_id"] for r in df.select("sf_id").collect())
    assert ids == ["ACCT001", "ACCT002", "ACCT003"]


def test_sf_id_decodes_uri_but_preserves_literal_plus(spark, tmp_path_factory):
    """input_file_name() returns a percent-ENCODED URI: a space in the
    filename must decode back ('%20' → ' '), but a literal '+' — which
    the URI leaves unencoded — must survive verbatim (r11 ADVICE:
    url_decode's form-urlencoded semantics would turn it into a space),
    including when the same name ALSO carries a real %XX sequence."""
    import json
    import os

    base = str(tmp_path_factory.mktemp("oddnames"))
    doc = json.dumps({"SalesforceID": "x"})
    names = ["with space_action.json", "a+b_action.json", "c+d e_action.json"]
    for n in names:
        with open(os.path.join(base, n), "w") as f:
            f.write(doc)
    ids = {
        r["sf_id"]
        for r in spark.read.text(f"{base}/*.json")
        .select(sf_id_column().alias("sf_id"))
        .collect()
    }
    assert ids == {"with space", "a+b", "c+d e"}


def test_route_files_raises_when_listing_probe_unavailable(monkeypatch):
    """route_files must not collapse 'the probe CANNOT run' (None, e.g.
    Spark Connect) into 'the directory is empty' ([]) — that is the
    silent-no-op batch run the router exists to prevent (r11 ADVICE)."""
    import etl_sample_spark.sources.documents as docs_mod
    from etl_sample_spark.pipeline import route_files

    monkeypatch.setattr(docs_mod, "_matched_paths", lambda s, g: None)
    with pytest.raises(RuntimeError, match="cannot list"):
        route_files("s3a://bucket/in", spark=object())


def test_per_form_glob_reads_only_its_route(spark, mixed_dir):
    credit = read_form(spark, f"{mixed_dir}/*_credit_report.json", schemas.CREDIT_REPORT_SCHEMA)
    assert credit.count() == len(CREDIT_DOCS)


def test_corrupt_documents_quarantined_not_dropped(spark, tmp_path_factory):
    """A malformed JSON document must neither kill the batch (the
    reference's failure mode without try/except) nor vanish silently
    (its failure mode WITH bare except) — it lands in a quarantine
    DataFrame with the source file for replay."""
    import os

    from etl_sample_spark.sources.documents import quarantine_corrupt

    base = str(tmp_path_factory.mktemp("corrupt"))
    write_docs(base, BANK_DOCS)
    with open(os.path.join(base, "BROKEN_bank_scrape.json"), "w") as f:
        f.write('{"name": "truncated", "accounts": [')

    df = read_form(
        spark, f"{base}/*_bank_scrape.json", schemas.BANK_SCRAPE_SCHEMA, corrupt_col="_corrupt_record"
    )
    with quarantine_corrupt(df) as (clean, quarantined):
        assert clean.count() == len(BANK_DOCS)
        assert "_corrupt_record" not in clean.columns
        assert "source_file" not in clean.columns
        bad = quarantined.collect()
    assert len(bad) == 1
    assert "BROKEN_bank_scrape.json" in bad[0]["source_file"]
    assert bad[0]["_corrupt_record"].startswith('{"name": "truncated"')


def test_coalesce_by_bytes_keeps_quarantine_file_names_exact(spark, tmp_path_factory):
    """Sizing the scan must not move ``input_file_name()`` off it: after
    the coalesce the quarantine's ``source_file`` and the clean rows'
    ``sf_id`` are those of the unsized scan, for names with a space and
    a literal '+' (the URI-decoding cases)."""
    import json
    import os

    from etl_sample_spark.sources.documents import coalesce_by_bytes, quarantine_corrupt

    base = str(tmp_path_factory.mktemp("sized names"))
    doc = json.dumps(BANK_DOCS["ACCT001_bank_scrape.json"])
    for name in ("with space_bank_scrape.json", "a+b_bank_scrape.json", "c+d e_bank_scrape.json"):
        with open(os.path.join(base, name), "w") as f:
            f.write(doc)
    for name in ("bad one_bank_scrape.json", "bad+two_bank_scrape.json"):
        with open(os.path.join(base, name), "w") as f:
            f.write('{"name": "truncated", "accounts": [')

    def scan():
        df = read_form(spark, f"{base}/*.json", schemas.BANK_SCRAPE_SCHEMA, corrupt_col="_corrupt_record")
        assert df.rdd.getNumPartitions() > 1
        return df

    def names(clean, quarantined):
        return (
            sorted(r["sf_id"] for r in clean.collect()),
            sorted(r["source_file"] for r in quarantined.collect()),
        )

    sized = scan()
    assert coalesce_by_bytes(sized).rdd.getNumPartitions() == 1
    with quarantine_corrupt(sized) as (clean, quarantined):
        ids, sources = names(clean, quarantined)
    assert ids == ["a+b", "c+d e", "with space"]
    assert len(sources) == 2 and all(s.endswith("_bank_scrape.json") for s in sources)
    # The unsized twin: the same split by hand over the scan as read.
    unsized = scan().cache()
    try:
        corrupt = F.col("_corrupt_record")
        assert (ids, sources) == names(unsized.where(corrupt.isNull()), unsized.where(corrupt.isNotNull()))
    finally:
        unsized.unpersist()


def test_quarantine_corrupt_releases_its_cache(spark, tmp_path_factory):
    """The block holds exactly one cached relation, the sized scan, and
    leaves none behind: not after a normal exit, and not after the
    block raises."""
    import os

    from etl_sample_spark.sources.documents import quarantine_corrupt

    base = str(tmp_path_factory.mktemp("cache release"))
    write_docs(base, BANK_DOCS)
    with open(os.path.join(base, "BROKEN_bank_scrape.json"), "w") as f:
        f.write('{"name": "truncated", "accounts": [')

    def persistent():
        return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    def scan():
        return read_form(spark, f"{base}/*.json", schemas.BANK_SCRAPE_SCHEMA, corrupt_col="_corrupt_record")

    before = persistent()
    with quarantine_corrupt(scan()) as (clean, corrupt):
        assert clean.count() == len(BANK_DOCS)
        assert corrupt.count() == 1
        assert persistent() == before + 1
    assert persistent() == before

    with pytest.raises(RuntimeError, match="inside the block"):
        with quarantine_corrupt(scan()) as (clean, _corrupt):
            clean.count()
            assert persistent() == before + 1
            raise RuntimeError("inside the block")
    assert persistent() == before


def test_coalesce_by_bytes_keeps_partitions_of_unknown_size(spark, mixed_dir):
    """Coalesce never adds partitions, and a frame whose size Spark does
    not know (an RDD-backed frame reports the default size) keeps its
    partition count; a small file scan collapses to one partition; a
    frame with no JVM plan handle (Spark Connect) passes through."""
    from etl_sample_spark.sources.documents import coalesce_by_bytes

    rdd_df = spark.createDataFrame(spark.sparkContext.parallelize([(i,) for i in range(8)], 4), "a int")
    assert coalesce_by_bytes(rdd_df).rdd.getNumPartitions() == 4
    scan = read_form(spark, f"{mixed_dir}/*.json", schemas.COMBINED_SCHEMA)
    assert scan.rdd.getNumPartitions() > 1
    assert coalesce_by_bytes(scan).rdd.getNumPartitions() == 1
    no_jvm = object()
    assert coalesce_by_bytes(no_jvm) is no_jvm


# ---- S2: scheme-qualified object-store URIs (SURVEY §2.1) ----------------
# The reference lists Azure blobs explicitly (pipeline.py:769-793); Spark
# reads object stores directly, but the ingest loop's emptiness probe must
# then resolve through Hadoop's FileSystem — local glob/os.path silently
# report a NON-EMPTY remote directory as empty.


def test_remote_uri_classification():
    from etl_sample_spark.sources.documents import is_remote_uri

    for uri in (
        "s3a://bucket/prefix/*.json",
        "abfss://container@acct.dfs.core.windows.net/dir",
        "gs://bucket/dir",
        "hdfs://nn:8020/data",
        "file:///tmp/x",
        "wasbs://c@a.blob.core.windows.net/d",
    ):
        assert is_remote_uri(uri), uri
    for path in ("/tmp/x", "relative/dir", "*.json", "C:/not-a-uri", "dir/*.json"):
        assert not is_remote_uri(path), path


def test_matched_paths_resolves_uri_through_hadoop_fs(spark, mixed_dir):
    """file:// is the one Hadoop-FS scheme testable without cloud creds;
    it exercises the identical Path.getFileSystem resolution s3a/abfss
    take, while the bare-path twin goes through local glob."""
    from etl_sample_spark.sources.documents import _matched_paths

    uri_glob = f"file://{mixed_dir}/*_bank_scrape.json"
    bare_glob = f"{mixed_dir}/*_bank_scrape.json"
    via_fs = _matched_paths(spark, uri_glob)
    via_local = _matched_paths(spark, bare_glob)
    assert len(via_fs) == len(via_local) > 0
    assert _matched_paths(spark, f"file://{mixed_dir}/*_no_such.json") == []


def test_read_form_accepts_file_scheme_uri(spark, mixed_dir, tmp_path):
    uri = f"file://{mixed_dir}/*_bank_scrape.json"
    df = read_form(spark, uri, schemas.BANK_SCRAPE_SCHEMA, allow_empty=True)
    bare = read_form(spark, f"{mixed_dir}/*_bank_scrape.json", schemas.BANK_SCRAPE_SCHEMA)
    assert df.count() == bare.count() > 0
    # empty ARRIVAL dir via URI: typed-empty, not PATH_NOT_FOUND — the
    # exact case the local probe got wrong for remote schemes
    empty = read_form(
        spark,
        f"file://{tmp_path}/*.json",
        schemas.BANK_SCRAPE_SCHEMA,
        allow_empty=True,
    )
    assert empty.count() == 0
    assert "sf_id" in empty.columns


def test_read_form_empty_shape_matches_nonempty(spark, mixed_dir, tmp_path):
    """Shape invariance (r11 review): the typed-empty frame must carry
    the SAME columns the non-empty scan would produce for the same
    flags — incl. corrupt_col and source_file — so unions and
    quarantine_corrupt never hit data-dependent UNRESOLVED_COLUMN."""
    nonempty = read_form(
        spark, f"{mixed_dir}/*_bank_scrape.json", schemas.BANK_SCRAPE_SCHEMA,
        corrupt_col="_corrupt_record", allow_empty=True,
    )
    empty = read_form(
        spark, f"{tmp_path}/nothing/*.json", schemas.BANK_SCRAPE_SCHEMA,
        corrupt_col="_corrupt_record", allow_empty=True,
    )
    assert empty.columns == nonempty.columns
    assert empty.count() == 0
    # the union a multi-day ingest loop performs must resolve
    assert nonempty.unionByName(empty).count() == nonempty.count()


def test_read_form_remote_uri_degrades_without_py4j(spark, mixed_dir, tmp_path, monkeypatch):
    """Spark Connect sessions have no _jvm/_jsc (r10 ADVICE): the probe
    must return None (not crash with AttributeError), and read_form must
    then attempt the scan — success for an existing path, typed-empty
    for PATH_NOT_FOUND under allow_empty."""
    import etl_sample_spark.sources.documents as docs_mod
    from etl_sample_spark.sources.documents import _matched_paths

    class _NoJvmSession:
        """Duck-typed Connect stand-in: everything forwards to the real
        session EXCEPT the py4j attributes, which don't exist."""

        def __init__(self, real):
            self._real = real

        def __getattr__(self, name):
            if name in ("_jvm", "_jsc"):
                raise AttributeError(name)
            return getattr(self._real, name)

    shim = _NoJvmSession(spark)
    assert _matched_paths(shim, f"file://{mixed_dir}/*_bank_scrape.json") is None

    # existing path: the attempted scan succeeds
    df = docs_mod.read_form(
        shim, f"file://{mixed_dir}/*_bank_scrape.json",
        schemas.BANK_SCRAPE_SCHEMA, allow_empty=True,
    )
    assert df.count() > 0
    # missing path: PATH_NOT_FOUND maps to the typed-empty frame
    empty = docs_mod.read_form(
        shim, f"file://{tmp_path}/nothing_here/*.json",
        schemas.BANK_SCRAPE_SCHEMA, allow_empty=True,
    )
    assert empty.count() == 0
    assert "sf_id" in empty.columns
