"""Star-table schemas come from the parquet footer, read on the driver.

``parquet.footer_schema`` picks the file Spark's own inference would
read and converts its footer with Spark's own code, so ``read_table``
plans exactly what ``spark.read.parquet`` would, without the
single-task inference job.  These tests pin the schema against
Spark's inference on every fixture table and on Spark- and
pyarrow-written directories, the zero-job read, the Spark-internal
entry points it calls, and the once-per-session runtime confs.
"""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from magshield_data_pipeline_spark.sources.parquet import (
    STAR_TABLES,
    footer_schema,
    read_table,
)
from tests.conftest import SF_SMALL


def _next_job(spark) -> int:
    return int(spark._jsc.sc().dagScheduler().nextJobId())


@pytest.mark.parametrize("name", STAR_TABLES)
def test_fixture_schema_matches_inference(spark, name):
    path = f"{SF_SMALL}/{name}.parquet"
    raw = spark.read.parquet(path).schema
    assert footer_schema(spark, path) == raw
    if name != "events":  # read_table normalizes events.ts
        assert read_table(spark, SF_SMALL, name).schema == raw


def test_spark_written_directory_matches_inference(spark, tmp_path):
    path = str(tmp_path / "multi.parquet")
    spark.sql(
        "SELECT id, CAST(id AS DECIMAL(12, 2)) AS amount, "
        "array(id, id + 1) AS ids, map('k', id) AS m, "
        "named_struct('a', id, 'b', CAST(id AS STRING)) AS s, "
        "CAST(id AS TIMESTAMP) AS ts FROM range(40)"
    ).repartition(4).write.parquet(path)
    names = os.listdir(path)
    assert "_SUCCESS" in names
    assert sum(n.startswith("part-") for n in names) == 4
    got = read_table(spark, str(tmp_path), "multi").schema
    assert got == spark.read.parquet(path).schema


def test_spark_written_timestamp_ntz_matches_inference(spark, tmp_path):
    path = str(tmp_path / "ntz.parquet")
    spark.sql(
        "SELECT id, TIMESTAMP_NTZ'2024-03-01 12:30:45' AS t FROM range(3)"
    ).coalesce(1).write.parquet(path)
    got = read_table(spark, str(tmp_path), "ntz").schema
    assert got == spark.read.parquet(path).schema
    assert got["t"].dataType.typeName() == "timestamp_ntz"


def test_pick_order_follows_inference(spark, tmp_path):
    # the part files disagree, so only the file inference reads gives
    # its schema: the first data file by path, and a summary file
    # before any data file
    d = tmp_path / "mixed"
    d.mkdir()
    pq.write_table(pa.table({"a": [1]}), d / "part-0.parquet")
    pq.write_table(pa.table({"a": [1], "b": ["x"]}), d / "part-1.parquet")
    pq.write_table(pa.table({"zz": [1.0]}), d / "_hidden.parquet")
    assert footer_schema(spark, str(d)).fieldNames() == ["a"]
    assert footer_schema(spark, str(d)) == spark.read.parquet(str(d)).schema
    pq.write_metadata(pa.schema([("a", pa.int64()), ("c", pa.string())]),
                      d / "_common_metadata")
    assert footer_schema(spark, str(d)).fieldNames() == ["a", "c"]
    assert footer_schema(spark, str(d)) == spark.read.parquet(str(d)).schema


def test_missing_and_corrupt_files_fail_at_read(spark, tmp_path):
    with pytest.raises(Exception, match="does not exist|FileNotFound"):
        footer_schema(spark, str(tmp_path / "absent.parquet"))
    bad = tmp_path / "bad.parquet"
    bad.write_bytes(b"not a parquet file")
    with pytest.raises(Exception, match="not a Parquet file"):
        read_table(spark, str(tmp_path), "bad")


def test_fresh_read_table_runs_no_job(spark, tmp_path):
    # the Spark-internal py4j entry points footer_schema calls: a Spark
    # upgrade that moves one fails here, not inside an export
    jvm = spark._jvm
    methods = {
        m.getName()
        for m in jvm.java.lang.Class.forName(
            "org.apache.spark.sql.execution.datasources.parquet."
            "ParquetFileFormat$").getMethods()
    }
    assert {"readParquetFootersInParallel", "readSchema"} <= methods
    assert {m.getName() for m in jvm.java.lang.Class.forName(
        "org.apache.spark.api.python.PythonUtils").getMethods()} >= {"toSeq"}

    shutil.copy(f"{SF_SMALL}/orders.parquet", tmp_path / "orders.parquet")
    before = _next_job(spark)
    df = read_table(spark, str(tmp_path), "orders")
    assert _next_job(spark) - before == 0
    assert df.schema == spark.read.parquet(str(tmp_path / "orders.parquet")).schema


def test_runtime_confs_set_once_per_session(spark):
    ansi = "spark.sql.ansi.enabled"
    s = spark.newSession()
    s.conf.set(ansi, "true")
    read_table(s, SF_SMALL, "region")
    assert s.conf.get(ansi) == "false"
    # set once: a caller who flips a conf afterwards owns the result
    s.conf.set(ansi, "true")
    read_table(s, SF_SMALL, "nation")
    assert s.conf.get(ansi) == "true"
