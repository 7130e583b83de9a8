"""Streaming CDC across schema-evolution history (r12 session 5):
the reader era-maps every file like the batch scan — renames undone
per file seq, initial defaults masking pre-add files and re-added
dropped names, era-mapped merge keys and equality-delete keys — so a
table with rename/default/drop HISTORY streams fine.  Only an
evolution commit NEWER than the stream's inferred schema fails (the
Delta-CDF restart contract), and a restarted reader then serves the
whole chain under the new schema.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from magshield_data_pipeline_spark.sources import snapshots as S
from tests.conftest import cdc_drain as _drain
from tests.conftest import cdc_reader as _reader


def _renamed_chain(spark, tmp_path, name="ren"):
    """v1 overwrite (k, val) -> v2 merge on k -> v3 rename val->score
    -> v4 append under the new name."""
    t = os.path.join(str(tmp_path), name)
    S.overwrite(spark.range(1, 50).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("val")),
        t, n_files=2)
    S.merge(spark.createDataFrame([(5, 999), (100, 1000)],
                                  "k long, val long"), t, key="k",
            n_files=1)
    S.rename_column(t, "val", "score")
    S.append(spark.createDataFrame([(200, 2000)], "k long, score long"),
             t, n_files=1)
    return t


def test_stream_over_rename_history_emits_current_names(spark, tmp_path):
    t = _renamed_chain(spark, tmp_path)
    reader, src = _reader(t)
    assert [f.name for f in src.schema().fields][:2] == ["k", "score"]
    rows, off = _drain(reader, {"version": 1, "snap": 1})
    rows = sorted(rows)
    assert off == {"version": 4, "snap": 1}
    # v2's update pair + insert materialize from pre-rename files
    # (stored name 'val') under the stream's current name
    assert (5, 50, "update_preimage", 2) in rows
    assert (5, 999, "update_postimage", 2) in rows
    assert (100, 1000, "insert", 2) in rows
    assert (200, 2000, "insert", 4) in rows
    assert len(rows) == 4  # v3 rename is metadata-only: zero rows


def test_bootstrap_snapshot_era_maps(spark, tmp_path):
    t = _renamed_chain(spark, tmp_path)
    reader, _ = _reader(t, initialSnapshot=True, startVersion=2)
    rows, off = _drain(reader, reader.initialOffset(),
                       {"version": 2, "snap": 1})
    rows = sorted(rows)
    got = {(r[0], r[1]) for r in rows}
    want = {(k, k * 10) for k in range(1, 50) if k != 5}
    want |= {(5, 999), (100, 1000)}
    assert got == want


def test_default_masks_pre_add_and_readded_files(spark, tmp_path):
    t = os.path.join(str(tmp_path), "defs")
    S.overwrite(spark.range(1, 4).select(
        F.col("id").alias("k"), (F.col("id") + 100).alias("w")),
        t, n_files=1)
    S.drop_column(t, "w")
    S.add_column(t, "w", "long")  # re-add: stale bytes must MASK null
    S.add_column(t, "grade", "long", default=7)
    S.append(spark.createDataFrame([(9, 99, 1)],
                                   "k long, w long, grade long"),
             t, n_files=1)
    reader, src = _reader(t, initialSnapshot=True, startVersion=5)
    assert [f.name for f in src.schema().fields][:3] == [
        "k", "w", "grade"]
    rows, _ = _drain(reader, reader.initialOffset())
    got = sorted(rows)
    # old files: w masked to None (not the stale 101..103), grade=7
    assert [(r[0], r[1], r[2]) for r in got] == [
        (1, None, 7), (2, None, 7), (3, None, 7), (9, 99, 1)]


def test_evolution_newer_than_schema_raises_for_restart(spark, tmp_path):
    t = os.path.join(str(tmp_path), "mid")
    S.overwrite(spark.range(1, 5).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("val")),
        t, n_files=1)
    S.append(spark.createDataFrame([(9, 90)], "k long, val long"), t,
             n_files=1)
    reader, _ = _reader(t)  # schema_v = 2
    S.rename_column(t, "val", "score")  # v3, mid-stream
    S.append(spark.createDataFrame([(10, 100)], "k long, score long"),
             t, n_files=1)
    off = {"version": 2, "snap": 1}
    rows, _ = _drain(reader, {"version": 1, "snap": 1}, off)  # v2 fine
    assert len(rows) == 1
    with pytest.raises(ValueError, match="restart the stream"):
        _drain(reader, off)
    # restart: a fresh reader (schema_v = 4) serves the WHOLE chain,
    # including pre-rename commits, under the new name
    reader2, src2 = _reader(t)
    assert "score" in [f.name for f in src2.schema().fields]
    rows2, off2 = _drain(reader2, off)
    assert sorted(rows2) == [(10, 100, "insert", 4)]
    assert off2 == {"version": 4, "snap": 1}
    replay, _ = _drain(reader2, {"version": 1, "snap": 1}, off)
    assert replay == [(9, 90, "insert", 2)]


def test_era_mapped_delete_key_after_purge_and_rename(spark, tmp_path):
    """Stream an OLD commit whose manifest still carries a pending
    equality delete recorded under a PRE-RENAME key name: v2 MOR
    delete (key 'k'), v3 purge, v4 rename k->kid.  The stream (schema
    kid) must apply v2's delete file through the era-mapped key."""
    t = os.path.join(str(tmp_path), "delkey")
    S.overwrite(spark.range(1, 10).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("val")),
        t, n_files=1)
    S.delete(spark.createDataFrame([(3,)], "k long"), t, key="k",
             mode="merge-on-read")
    S.purge_deletes(spark, t)
    S.rename_column(t, "k", "kid")
    reader, src = _reader(t, initialSnapshot=True, startVersion=2)
    assert [f.name for f in src.schema().fields][0] == "kid"
    rows, _ = _drain(reader, reader.initialOffset(),
                     {"version": 2, "snap": 1})
    got = {(r[0], r[1]) for r in rows}
    assert got == {(k, k * 10) for k in range(1, 10) if k != 3}
    # and the v2 delete commit itself streams as a pre-image
    changes, _ = _drain(reader, {"version": 1, "snap": 1},
                        {"version": 2, "snap": 1})
    assert changes == [(3, 30, "delete", 2)]


def test_dist_boundary_raises_for_restart(spark, tmp_path):
    t = os.path.join(str(tmp_path), "dmid")
    S.overwrite(spark.range(1, 5).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("val")),
        t, n_files=1)
    dist, _ = _reader(t)  # schema_v = 1
    S.rename_column(t, "val", "score")
    with pytest.raises(ValueError, match="restart the stream"):
        dist.partitions({"version": 1, "snap": 1},
                        {"version": 2, "snap": 1})


def test_era_feed_matches_batch_feed_per_window(spark, tmp_path):
    """Within each naming era the stream must equal the batch feed
    (which refuses spanning windows — the stream's era mapping makes
    the SPAN work, pinned against per-era batch windows)."""
    t = _renamed_chain(spark, tmp_path, name="parity")
    reader, _ = _reader(t)
    rows, _ = _drain(reader, {"version": 1, "snap": 1})
    got = sorted(rows)
    with pytest.raises(ValueError, match="split the window"):
        S.read_row_changes(spark, t, 1, 4)
    pre = S.read_row_changes(spark, t, 1, 2).withColumnRenamed(
        "val", "score")
    post = S.read_row_changes(spark, t, 3, 4)
    want = sorted(
        tuple(r) for r in pre.unionByName(post).select(
            "k", "score", "_change_type", "_commit_version").collect()
    )
    assert got == want
