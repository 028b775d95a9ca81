"""Shared test fixtures: one SparkSession per test session and a DuckDB
connection with the testdata views pre-registered (mirroring the driver's
oracle setup). The cross-engine comparison lives in tools/driver_sim.py."""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# --- vendored-protobuf shim (env workaround, test-only) -------------------
# transformWithStateInPandas workers speak protobuf to the JVM; this
# container has no pip google.protobuf, but the google-cloud-sdk ships a
# modern vendored copy (6.32.0). Expose ONLY google/protobuf through a
# namespace-package shim (symlinking the whole appengine dir would shadow
# unrelated top-level modules), and export it via PYTHONPATH BEFORE the
# SparkContext starts so forked Python workers inherit it. The official
# TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK escape hatch covers the
# one-minor skew (pyspark gencode 6.33.0 vs vendored runtime 6.32.0-dev).
_PB_VENDOR = "/usr/lib/google-cloud-sdk/platform/google_appengine/google/protobuf"


def _enable_vendored_protobuf() -> None:
    try:
        import google.protobuf  # noqa: F401  (real install wins)

        return
    except ImportError:
        pass
    if not os.path.isdir(_PB_VENDOR):
        return
    import tempfile

    # A fresh mkdtemp per session (0700, unique) rather than a fixed
    # /tmp name: a predictable path could be pre-created by another
    # local user (code injection via sys.path) and races concurrent
    # pytest runs on the symlink creation.
    root = tempfile.mkdtemp(prefix="spark_graft_pbshim_")
    pkg = os.path.join(root, "google")
    link = os.path.join(pkg, "protobuf")
    os.makedirs(pkg)
    os.symlink(_PB_VENDOR, link)
    sys.path.insert(0, root)
    os.environ["PYTHONPATH"] = root + os.pathsep + os.environ.get("PYTHONPATH", "")
    os.environ["TEMPORARILY_DISABLE_PROTOBUF_VERSION_CHECK"] = "true"


_enable_vendored_protobuf()
# --------------------------------------------------------------------------

from etl_sample_spark import get_spark
from tools.driver_sim import duck_views

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    spark = get_spark("etl-sample-spark-tests")
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def duck():
    con = duck_views(duckdb.connect(), SF_DIR)
    yield con
    con.close()


def simple_plan(df) -> str:
    """df.explain() output (simple mode: each physical node appears
    exactly once — formatted mode prints tree + per-node detail,
    doubling substring counts)."""
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain()
    return buf.getvalue()
