"""Composite (multi-column) merge/delete keys (r12 session 5): the
natural-key contract — ``merge``/``delete``/``branch_merge``/
``branch_delete_rows`` accept a key column LIST; rows match when
every key column is equal; stats pruning and snapshot-isolation
validation intersect per-column bounding boxes; equality-delete
files record and anti-join the full column set; both CDC feeds
classify on the composite tuple; single-column keys stay
byte-compatible (manifests record the bare string).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from magshield_data_pipeline_spark.sources import snapshots as S
from tests.conftest import cdc_drain, cdc_reader


def _t(spark, tmp_path, name="ck"):
    t = os.path.join(str(tmp_path), name)
    rows = spark.range(0, 100).select(
        (F.col("id") % 10).alias("g"),
        (F.col("id") / F.lit(10)).cast("long").alias("s"),
        (F.col("id") * 7).alias("val"),
    )
    S.overwrite(rows, t, n_files=4)
    return t


def test_cow_merge_matches_on_all_columns(spark, tmp_path):
    t = _t(spark, tmp_path)
    S.merge(spark.createDataFrame([(3, 4, -1), (99, 0, -2)],
                                  "g long, s long, val long"),
            t, key=["g", "s"])
    r = S.read(spark, t)
    assert r.count() == 101
    assert r.filter("g=3 and s=4").collect()[0].val == -1
    # same g, different s: NOT matched (a single-column key would
    # have clobbered every s under g=3)
    assert r.filter("g=3 and s=5").collect()[0].val == 53 * 7
    m = S.read_manifest(t, 2)
    assert m["key"] == ["g", "s"]  # composite stored as list


def test_mor_delete_and_merge_composite(spark, tmp_path):
    t = _t(spark, tmp_path)
    S.delete(spark.createDataFrame([(5, 5)], "g long, s long"), t,
             key=["g", "s"], mode="merge-on-read")
    assert S.read(spark, t).filter("g=5 and s=5").count() == 0
    assert S.read(spark, t).count() == 99
    assert S.read(spark, t).filter("g=5").count() == 9
    S.merge(spark.createDataFrame([(7, 7, -7), (5, 5, 55)],
                                  "g long, s long, val long"),
            t, key=["g", "s"], mode="merge-on-read")
    r = S.read(spark, t)
    assert r.filter("g=7 and s=7").collect()[0].val == -7
    # re-insert of the deleted composite key survives (seq contract)
    assert r.filter("g=5 and s=5").collect()[0].val == 55
    assert r.count() == 100
    # purge materializes composite equality deletes
    S.purge_deletes(spark, t)
    assert S.read(spark, t).count() == 100
    assert S.read(spark, t).filter("g=5 and s=5").collect()[0].val == 55


def test_cdc_feeds_classify_on_composite_tuple(spark, tmp_path):
    t = _t(spark, tmp_path)
    S.merge(spark.createDataFrame([(3, 4, -1), (99, 0, -2)],
                                  "g long, s long, val long"),
            t, key=["g", "s"])
    S.delete(spark.createDataFrame([(5, 5)], "g long, s long"), t,
             key=["g", "s"], mode="merge-on-read")
    S.merge(spark.createDataFrame([(7, 7, -7)],
                                  "g long, s long, val long"),
            t, key=["g", "s"], mode="merge-on-read")
    feed = S.read_row_changes(spark, t, 1, 4)
    got = sorted((r._change_type, r.g, r.s) for r in feed.collect())
    assert got == [("delete", 5, 5), ("insert", 99, 0),
                   ("update_postimage", 3, 4),
                   ("update_postimage", 7, 7),
                   ("update_preimage", 3, 4),
                   ("update_preimage", 7, 7)]
    reader, _ = cdc_reader(t)
    srows, off = cdc_drain(reader, {"version": 1, "snap": 1})
    assert off == {"version": 4, "snap": 1}
    want = sorted(tuple(r) for r in feed.select(
        "g", "s", "val", "_change_type", "_commit_version").collect())
    assert sorted(srows) == want


def test_stats_pruning_intersects_per_column(spark, tmp_path):
    t = os.path.join(str(tmp_path), "pr")
    # files disjoint on g via range clustering
    rows = spark.range(0, 100).select(
        (F.col("id") % 10).alias("g"),
        (F.col("id") / F.lit(10)).cast("long").alias("s"),
        (F.col("id") * 7).alias("val"),
    )
    S.overwrite(rows, t, n_files=1)
    S.compact(spark, t, n_files=10, cluster_by=["g"])
    n_before = len(S.read_manifest(t, 2)["files"])
    S.merge(spark.createDataFrame([(3, 4, -1)],
                                  "g long, s long, val long"),
            t, key=["g", "s"])
    m = S.read_manifest(t, 3)
    carried = [e for e in m["files"] if e.get("seq", 0) < 3]
    # only the file(s) whose g-range covers 3 were rewritten
    assert len(carried) >= n_before - 2
    assert S.read(spark, t).filter("g=3 and s=4").collect()[0].val == -1
    assert S.read(spark, t).count() == 100


def test_snapshot_isolation_rebase_per_column_bounds(spark, tmp_path):
    t = _t(spark, tmp_path)
    S.compact(spark, t, n_files=10, cluster_by=["g"])

    def _race():
        # a concurrent append DISJOINT from the merge's (g,s) box
        S.append(spark.createDataFrame([(50, 50, 0)],
                                       "g long, s long, val long"),
                 t, n_files=1)

    v = S.merge(spark.createDataFrame([(3, 4, -1)],
                                      "g long, s long, val long"),
                t, key=["g", "s"], isolation="snapshot",
                race_inject=_race)
    assert v is not None
    r = S.read(spark, t)
    assert r.filter("g=3 and s=4").collect()[0].val == -1
    assert r.filter("g=50").count() == 1  # concurrent append survived


def test_single_column_manifests_stay_bare_strings(spark, tmp_path):
    t = _t(spark, tmp_path)
    S.merge(spark.createDataFrame([(3, 4, -1)],
                                  "g long, s long, val long"),
            t, key="g", mode="merge-on-read")
    m = S.read_manifest(t, 2)
    assert m["key"] == "g"
    assert m["delete_files"][0]["key"] == "g"
    # list-of-one normalizes to the same bare form
    S.delete(spark.createDataFrame([(9,)], "g long"), t, key=["g"],
             mode="merge-on-read")
    assert S.read_manifest(t, 3)["delete_files"][-1]["key"] == "g"


def test_key_spec_validation(spark, tmp_path):
    t = _t(spark, tmp_path)
    with pytest.raises(ValueError, match="distinct column"):
        S.merge(spark.createDataFrame([(1, 1, 1)],
                                      "g long, s long, val long"),
                t, key=["g", "g"])
    with pytest.raises(ValueError, match="distinct column"):
        S.delete(spark.createDataFrame([(1,)], "g long"), t, key=[])


def test_branch_composite_merge_and_delete(spark, tmp_path):
    t = _t(spark, tmp_path)
    S.create_branch(t, "audit")
    S.branch_merge(spark.createDataFrame([(3, 4, -1)],
                                         "g long, s long, val long"),
                   t, "audit", key=["g", "s"])
    S.branch_delete_rows(spark.createDataFrame([(5, 5)],
                                               "g long, s long"),
                         t, "audit", key=["g", "s"])
    br = S.read_branch(spark, t, "audit")
    assert br.filter("g=3 and s=4").collect()[0].val == -1
    assert br.filter("g=3 and s=5").collect()[0].val == 53 * 7
    assert br.filter("g=5 and s=5").count() == 0
    assert S.read(spark, t).count() == 100  # main untouched
    S.publish_branch(t, "audit")
    r = S.read(spark, t)
    assert r.filter("g=3 and s=4").collect()[0].val == -1
    assert r.filter("g=5 and s=5").count() == 0
