"""Tests for the sparklda.io writer and the session sparklda.session builds."""

from __future__ import annotations

import os
from unittest import mock

import duckdb
import pytest

import sparklda.session as session_mod
from sparklda.io import write_parquet
from sparklda.session import get_spark


@pytest.fixture(scope="module")
def spark():
    s = get_spark("sparklda-io-tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s


def test_write_parquet_uses_zstd_and_roundtrips(spark, tmp_path):
    """Guide §6: parquet output must be zstd-compressed (smaller than snappy
    at similar read speed), and read back byte-identical."""
    out = str(tmp_path / "t.parquet")
    df = spark.range(0, 1000).selectExpr("id", "cast(id % 7 as string) AS k")
    write_parquet(df, out)

    con = duckdb.connect()
    codecs = {
        r[0]
        for r in con.execute(
            f"SELECT DISTINCT compression FROM parquet_metadata('{out}/*.parquet')"
        ).fetchall()
    }
    assert codecs == {"ZSTD"}, codecs

    back = sorted(tuple(r) for r in spark.read.parquet(out).collect())
    assert back == sorted(tuple(r) for r in df.collect())


def test_cpus_env_rejects_invalid():
    """A bad core count fails at session build, not later as an opaque
    master-URL error from the JVM."""
    for bad in ("0", "-4", "abc", ""):
        with mock.patch.dict(os.environ, {"SPARK_GRAFT_CPUS": bad}):
            with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
                session_mod.get_spark("never-built")


def test_shuffle_partitions_are_twice_the_cores(spark):
    """The master runs SPARK_GRAFT_CPUS task slots (default: the usable
    cores) and the shuffle width is twice that."""
    n = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
    assert spark.sparkContext.master == f"local[{n}]"
    assert spark.conf.get("spark.sql.shuffle.partitions") == str(2 * n)


def test_session_has_aqe_coalescing_on(spark):
    """The 2N shuffle width relies on AQE coalescing below it at runtime.
    get_spark does not set these, so they hold only through Spark's
    defaults; a Spark upgrade or a config file that turns them off fails
    here."""
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled") == "true"
