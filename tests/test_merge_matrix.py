"""MERGE matrix (r12 session 5): ``merge(matched_delete_where=...)``
— the Delta whenMatchedDelete clause.  A CDC-style batch (updates +
inserts + delete intents, op column) lands atomically in ONE commit
in both modes; unmatched delete intents are no-ops; predicate-only
metadata columns (op) are dropped after evaluation, not treated as
schema evolution; both CDC feeds emit the pure deletes; app-txn
replay stays a durable no-op.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from magshield_data_pipeline_spark.sources import snapshots as S
from tests.conftest import cdc_drain, cdc_reader


def _t(spark, tmp_path, name="t"):
    t = os.path.join(str(tmp_path), name)
    S.overwrite(spark.range(1, 50).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("val")),
        t, n_files=2)
    return t


def _feed(spark):
    return spark.createDataFrame(
        [(5, 555, "update"), (100, 1000, "insert"),
         (7, 0, "delete"), (999, 0, "delete")],
        "k long, val long, op string")


@pytest.mark.parametrize("mode", ["copy-on-write", "merge-on-read"])
def test_atomic_cdc_batch_apply(spark, tmp_path, mode):
    t = _t(spark, tmp_path, name=f"t_{mode[:3]}")
    v = S.merge(_feed(spark), t, key="k",
                matched_delete_where="op = 'delete'", mode=mode)
    assert v == 2  # ONE commit for updates+inserts+deletes
    r = S.read(spark, t)
    assert r.count() == 49
    assert r.filter("k = 5").collect()[0].val == 555
    assert r.filter("k = 7").count() == 0  # matched delete
    assert r.filter("k = 100").collect()[0].val == 1000
    assert r.filter("k = 999").count() == 0  # unmatched intent: no-op
    assert "op" not in r.columns  # predicate-only metadata dropped


@pytest.mark.parametrize("mode", ["copy-on-write", "merge-on-read"])
def test_cdc_feeds_classify_matrix(spark, tmp_path, mode):
    t = _t(spark, tmp_path, name=f"c_{mode[:3]}")
    S.merge(_feed(spark), t, key="k",
            matched_delete_where="op = 'delete'", mode=mode)
    feed = S.read_row_changes(spark, t, 1, 2)
    got = sorted((x._change_type, x.k) for x in feed.collect())
    assert got == [("delete", 7), ("insert", 100),
                   ("update_postimage", 5), ("update_preimage", 5)]
    reader, _ = cdc_reader(t)
    srows, _ = cdc_drain(reader, {"version": 1, "snap": 1})
    want = sorted(tuple(x) for x in feed.select(
        "k", "val", "_change_type", "_commit_version").collect())
    assert sorted(srows) == want


def test_all_delete_batch_and_replay(spark, tmp_path):
    t = _t(spark, tmp_path)
    only_dels = spark.createDataFrame([(5, 0, "delete"), (7, 0, "delete")],
                                      "k long, val long, op string")
    v = S.merge(only_dels, t, key="k",
                matched_delete_where="op = 'delete'",
                mode="merge-on-read", txn=("mm", 1))
    assert v == 2
    assert S.read(spark, t).count() == 47
    # replay: durable no-op
    assert S.merge(only_dels, t, key="k",
                   matched_delete_where="op = 'delete'",
                   mode="merge-on-read", txn=("mm", 1)) is None
    assert S.versions(t) == [1, 2]


def test_null_predicate_rows_are_upserts(spark, tmp_path):
    t = _t(spark, tmp_path)
    feed = spark.createDataFrame([(5, 555, None), (7, 0, "delete")],
                                 "k long, val long, op string")
    S.merge(feed, t, key="k", matched_delete_where="op = 'delete'")
    r = S.read(spark, t)
    assert r.filter("k = 5").collect()[0].val == 555  # null pred: upsert
    assert r.filter("k = 7").count() == 0


def test_matrix_with_composite_key(spark, tmp_path):
    t = os.path.join(str(tmp_path), "ck")
    S.overwrite(spark.range(0, 40).select(
        (F.col("id") % 8).alias("g"),
        (F.col("id") / F.lit(8)).cast("long").alias("s"),
        (F.col("id") * 3).alias("val")), t, n_files=2)
    feed = spark.createDataFrame(
        [(3, 2, 99, "u"), (3, 3, 0, "d")],
        "g long, s long, val long, op string")
    S.merge(feed, t, key=["g", "s"], matched_delete_where="op = 'd'",
            mode="merge-on-read")
    r = S.read(spark, t)
    assert r.filter("g=3 and s=2").collect()[0].val == 99
    assert r.filter("g=3 and s=3").count() == 0
    assert r.filter("g=3").count() == 4
    assert r.count() == 39


def test_reinsert_after_matrix_delete_survives(spark, tmp_path):
    t = _t(spark, tmp_path)
    S.merge(spark.createDataFrame([(7, 0, "delete")],
                                  "k long, val long, op string"),
            t, key="k", matched_delete_where="op = 'delete'",
            mode="merge-on-read")
    S.append(spark.createDataFrame([(7, 777)], "k long, val long"), t,
             n_files=1)
    # the re-insert carries a NEWER sequence number than the delete
    assert S.read(spark, t).filter("k = 7").collect()[0].val == 777
