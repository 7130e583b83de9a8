"""Dynamic partition overwrite (snapshots.overwrite_partitions, r12):
exactly the partitions present in the source are replaced, everything
else carried by reference — the daily-reingest idiom as a ledger
commit."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from magshield_data_pipeline_spark.sources import snapshots as S


def _tbl(tmp_path, name):
    return str(tmp_path / name)


def _df(spark, n=400):
    return spark.range(0, n).select(
        F.col("id").alias("k"), (F.col("id") % 4).alias("p"),
        (F.col("id") * 10).alias("v"),
    )


@pytest.fixture()
def table(spark, tmp_path):
    t = _tbl(tmp_path, "t")
    S.overwrite(_df(spark), t, n_files=1, partition_by="p")
    S.set_partition_spec(t, "p")
    return t


def test_replaces_only_present_partitions(spark, table):
    repl = _df(spark).filter("p = 1 or p = 3").select(
        "k", "p", F.lit(-1).cast("long").alias("v"))
    v = S.overwrite_partitions(repl, table, n_files=1)
    m1 = S.read_manifest(table, 1)
    m = S.read_manifest(table, v)
    assert m["replaced_partitions"] == ["1", "3"]
    carried = {e["path"] for e in m["files"]} & {
        e["path"] for e in m1["files"]}
    assert carried == {e["path"] for e in m1["files"]
                       if e["partition"]["p"] in ("0", "2")}
    got = {r.k: r.v for r in S.read(spark, table).collect()}
    assert len(got) == 400
    for k in range(400):
        assert got[k] == (-1 if k % 4 in (1, 3) else k * 10)
    # time travel: old content intact
    assert all(r.v == r.k * 10
               for r in S.read(spark, table, 1).collect())


def test_cdc_is_per_partition_diff(spark, table):
    repl = _df(spark).filter("p = 2").select(
        "k", "p", F.lit(0).cast("long").alias("v"))
    v = S.overwrite_partitions(repl, table)
    cdc = S.read_row_changes(spark, table, v - 1, v)
    assert cdc.filter("_change_type = 'delete'").count() == 100
    assert cdc.filter("_change_type = 'insert'").count() == 100
    assert {r.p for r in cdc.collect()} == {2}


def test_identical_reingest_emits_no_cdc(spark, table):
    # re-landing the same day's data: multiset diff cancels
    v = S.overwrite_partitions(_df(spark).filter("p = 0"), table)
    assert S.read_row_changes(spark, table, v - 1, v).count() == 0


def test_partition_pruning_survives_overwrite(spark, table):
    S.overwrite_partitions(_df(spark).filter("p = 1"), table)
    rep: dict = {}
    S.read(spark, table, partitions={"p": ["0"]}, report=rep)
    assert rep["files_scanned"] < rep["files_total"]


def test_refusals(spark, tmp_path, table):
    # unpartitioned table
    t2 = _tbl(tmp_path, "t2")
    S.overwrite(_df(spark), t2, n_files=1)
    with pytest.raises(ValueError, match="no active partition spec"):
        S.overwrite_partitions(_df(spark).filter("p = 0"), t2)
    # empty source
    with pytest.raises(ValueError, match="no rows"):
        S.overwrite_partitions(_df(spark).filter("p = 99"), table)
    # pending deletes
    S.delete(spark.range(3).select(F.col("id").alias("k")), table,
             key="k", mode="merge-on-read")
    with pytest.raises(ValueError, match="pending delete"):
        S.overwrite_partitions(_df(spark).filter("p = 0"), table)


def test_constraints_validate_replacement(spark, table):
    S.add_constraint(spark, table, "v_nonneg", "v >= 0")
    bad = _df(spark).filter("p = 0").select(
        "k", "p", F.lit(-9).cast("long").alias("v"))
    with pytest.raises(ValueError, match="constraint"):
        S.overwrite_partitions(bad, table)


@pytest.mark.parametrize("maintain", ["purge_deletes", "optimize"])
def test_maintenance_rewrites_keep_the_partition_spec(spark, table, maintain):
    # a partitioned merge, then a maintenance rewrite: the rewritten
    # files must carry their partition value under the active spec, or
    # a later overwrite_partitions refuses the whole table
    S.merge(_df(spark).filter("k < 8").select(
        "k", "p", (F.col("v") + 1).alias("v")), table, key="k")
    if maintain == "purge_deletes":
        S.update_where(spark, table, "k = 6", {"v": "0"})
        v = S.purge_deletes(spark, table)
    else:
        v = S.optimize(spark, table, small_file_rows=1000)
    assert v is not None
    S.overwrite_partitions(_df(spark).filter("p = 1").select(
        "k", "p", F.lit(-1).cast("long").alias("v")), table, n_files=1)
    got = {r.k: r.v for r in S.read(spark, table).collect()}
    assert len(got) == 400
    for k in range(400):
        want = k * 10 + (1 if k < 8 else 0)
        if k == 6 and maintain == "purge_deletes":
            want = 0
        assert got[k] == (-1 if k % 4 == 1 else want)


def test_hidden_transform_partitions(spark, tmp_path):
    # bucket transform: the replaced set is computed over the DERIVED
    # value, never collected per-row
    t = _tbl(tmp_path, "bk")
    df = spark.range(0, 300).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    S.overwrite(df, t, n_files=1, partition_by=("bucket", "k", 4))
    S.set_partition_spec(t, ("bucket", "k", 4))
    repl = spark.range(0, 10).select(
        F.col("id").alias("k"), F.lit(-1).cast("long").alias("v"))
    v = S.overwrite_partitions(repl, t)
    m = S.read_manifest(t, v)
    # the buckets covering k 0..9 were replaced WHOLE: every other row
    # of those buckets is gone, other buckets untouched
    got = {r.k: r.v for r in S.read(spark, t).collect()}
    assert all(got[k] == -1 for k in range(10))
    replaced = set(m["replaced_partitions"])
    for k, val in got.items():
        if k >= 10:
            assert val == k * 2
    assert len(replaced) <= 4
