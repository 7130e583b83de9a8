"""Segmented manifests (sources/snapshots.py:_dump_manifest): the
manifest-list tier — commit METADATA cost is O(delta + touched
segments), never O(table files).

Pins: appends re-reference the base's sealed segments and write only
their own entries; localized DML rewrites only segments containing
touched entries; reads / time travel / both CDC feeds are identical
across flat and segmented shapes; vacuum keeps segments shared with
retained versions alive (with an mtime grace for in-flight commits)
and reclaims dead ones; small tables keep the flat pre-r12 manifest
shape byte-compatibly.
"""

from __future__ import annotations

import glob
import os
import time

from pyspark.sql import functions as F

from magshield_data_pipeline_spark.sources import snapshots as S


def _wide(spark, tmp_path, n_files=100, rows=4000, name="seg",
          clustered=False):
    """A table whose file count exceeds SEG_INLINE_MAX.  With
    ``clustered`` the files carry DISJOINT k ranges (compact with
    cluster_by — one extra version) so DML localizes deterministically.
    """
    t = os.path.join(str(tmp_path), name)
    df = spark.range(rows).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v")
    )
    S.overwrite(df, t, n_files=n_files)
    if clustered:
        S.compact(spark, t, n_files=n_files, cluster_by=["k"])
    return t


def _segs(t):
    return sorted(os.path.basename(p) for p in
                  glob.glob(os.path.join(t, "_manifests", "seg-*.json")))


def _backdate_segs(t, seconds=4000):
    then = time.time() - seconds
    for p in glob.glob(os.path.join(t, "_manifests", "seg-*.json")):
        os.utime(p, (then, then))


def test_small_tables_stay_flat(spark, tmp_path):
    t = os.path.join(str(tmp_path), "flat")
    S.overwrite(spark.range(10).select(F.col("id").alias("k")), t,
                n_files=3)
    raw = S._raw_manifest(t, 1)
    assert "segments" not in raw and len(raw["files"]) == 3
    assert _segs(t) == []


def test_append_writes_only_its_delta(spark, tmp_path):
    t = _wide(spark, tmp_path)
    S.append(spark.range(4000, 4010).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v")), t,
        n_files=2)
    costs = {c["version"]: c for c in S.manifest_costs(t)}
    assert costs[1]["files_total"] >= 100
    assert costs[2]["segments_reused"] >= 1
    # the append wrote its 2 new entries plus at most the inline tail
    assert costs[2]["entries_written"] <= S.SEG_INLINE_MAX + 2
    assert costs[2]["entries_written"] < costs[2]["files_total"] / 2
    assert S.read(spark, t).count() == 4010
    assert S.read(spark, t, 1).count() == 4000  # time travel intact


def test_localized_delete_keeps_untouched_segments(spark, tmp_path):
    t = _wide(spark, tmp_path, n_files=200, clustered=True)
    v_base = S.versions(t)[-1]
    raw1 = S._raw_manifest(t, v_base)
    assert len(raw1.get("segments") or []) >= 2
    # delete keys from ONE file's range (files are range-disjoint)
    S.delete(spark.range(0, 3).select(F.col("id").alias("k")), t,
             key="k")
    raw2 = S._raw_manifest(t, v_base + 1)
    shared = set(raw1["segments"]) & set(raw2["segments"])
    assert shared, "a localized delete must reuse untouched segments"
    assert S.read(spark, t).count() == 3997
    got = sorted(r.k for r in S.read(spark, t).select("k").collect())
    assert got == list(range(3, 4000))


def test_reads_and_cdc_identical_across_shapes(spark, tmp_path):
    t = _wide(spark, tmp_path, n_files=80, rows=1000)
    S.merge(spark.createDataFrame(
        [(5, 999), (2000, 0)], "k long, v long"), t, key="k")
    feed = S.read_row_changes(spark, t, 1, 2)
    by_type = {r["_change_type"]: r["n"] for r in
               feed.groupBy("_change_type").agg(
                   F.count("*").alias("n")).collect()}
    assert by_type == {"update_preimage": 1, "update_postimage": 1,
                       "insert": 1}
    assert S.read(spark, t).filter("k = 5").collect()[0].v == 999


def test_vacuum_keeps_shared_reclaims_dead(spark, tmp_path):
    t = _wide(spark, tmp_path)
    S.append(spark.range(4000, 4002).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v")), t,
        n_files=1)
    shared = set(S._raw_manifest(t, 1)["segments"]) & set(
        S._raw_manifest(t, 2)["segments"])
    assert shared
    S.compact(spark, t, n_files=2)  # v3: drops every old file
    _backdate_segs(t)
    S.vacuum(t, keep_versions=2)  # keeps v2, v3; drops v1
    # v2's segments (shared with v1) survive; reads stay whole
    assert S.read(spark, t, 2).count() == 4002
    assert S.read(spark, t, 3).count() == 4002
    _backdate_segs(t)
    S.vacuum(t, keep_versions=1)  # keeps only compacted v3 (flat)
    assert _segs(t) == []  # every segment is now unreferenced: gone
    assert S.read(spark, t).count() == 4002


def test_vacuum_grace_protects_fresh_segments(spark, tmp_path):
    t = _wide(spark, tmp_path)
    S.compact(spark, t, n_files=2)
    # segments are unreferenced by the kept version but FRESH: the
    # 300 s grace window must keep them (in-flight-commit safety)
    S.vacuum(t, keep_versions=1)
    assert _segs(t) != []
    _backdate_segs(t)
    S.vacuum(t, keep_versions=1)
    assert _segs(t) == []


def test_streaming_cdc_over_segmented_table(spark, tmp_path):
    from tests.conftest import cdc_drain, cdc_reader

    t = _wide(spark, tmp_path, n_files=80, rows=1000)
    S.append(spark.range(1000, 1005).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v")), t,
        n_files=1)
    reader, _ = cdc_reader(t, startVersion=1)
    rows, off = cdc_drain(reader, reader.initialOffset())
    assert off == {"version": 2, "snap": 1}
    assert sorted(r[0] for r in rows) == [1000, 1001, 1002, 1003, 1004]
    assert {r[-2] for r in rows} == {"insert"}


def test_rollback_and_costs_over_segments(spark, tmp_path):
    t = _wide(spark, tmp_path)
    S.append(spark.range(4000, 4004).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v")), t,
        n_files=1)
    S.rollback(t, 1)
    assert S.read(spark, t).count() == 4000
    costs = S.manifest_costs(t)
    assert [c["version"] for c in costs] == [1, 2, 3]
    # the rollback re-references v1's state; its write cost is bounded
    # by the inline tail, not the table
    assert costs[2]["entries_written"] <= S.SEG_INLINE_MAX
