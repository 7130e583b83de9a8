"""Positional deletes (sources/snapshots.py delete_where, r12): the
second Iceberg v2 delete form — (file, row-ordinal) coordinates from
the engine's _metadata.row_index, zero data files rewritten, exact on
key-less and duplicate-row tables, composing with equality deletes,
materialized by compact/purge, emitted as CDC pre-images by both the
batch feed and the streaming classifier."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from magshield_data_pipeline_spark.sources import snapshots as S
from tests.conftest import cdc_drain, cdc_reader


def _tbl(tmp_path, name):
    return str(tmp_path / name)


def _kv(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )


def test_positional_delete_rewrites_nothing(spark, tmp_path):
    t = _tbl(tmp_path, "p1")
    S.overwrite(_kv(spark, 0, 500), t, n_files=3)
    v = S.delete_where(spark, t, "v = 3")
    assert v == 2
    m1, m2 = S.read_manifest(t, 1), S.read_manifest(t, 2)
    assert [e["path"] for e in m2["files"]] == [
        e["path"] for e in m1["files"]
    ]
    d = m2["delete_files"][0]
    assert d["kind"] == "positional"
    assert d["rows"] == len([i for i in range(500) if i % 7 == 3])
    got = sorted(r.k for r in S.read(spark, t).collect())
    assert got == [i for i in range(500) if i % 7 != 3]
    # time travel still sees v1 whole
    assert S.read(spark, t, 1).count() == 500


def test_exact_on_duplicate_rows_without_any_key(spark, tmp_path):
    # equality deletes cannot express this: physically-duplicate rows,
    # no unique column at all
    t = _tbl(tmp_path, "dup")
    base = spark.createDataFrame(
        [("a", 1)] * 3 + [("b", 2)] * 2, "tag string, n long"
    )
    S.overwrite(base, t, n_files=1)
    S.delete_where(spark, t, "tag = 'a'")
    got = sorted((r.tag, r.n) for r in S.read(spark, t).collect())
    assert got == [("b", 2), ("b", 2)]


def test_reinsert_after_positional_delete_survives(spark, tmp_path):
    t = _tbl(tmp_path, "re")
    S.overwrite(_kv(spark, 0, 100), t, n_files=2)
    S.delete_where(spark, t, "k < 10")
    S.append(_kv(spark, 0, 10), t, n_files=1)  # same logical rows, new file
    assert S.read(spark, t).count() == 100
    got = sorted(r.k for r in S.read(spark, t).collect())
    assert got == list(range(100))


def test_composes_with_equality_deletes(spark, tmp_path):
    t = _tbl(tmp_path, "mix")
    S.overwrite(_kv(spark, 0, 200), t, n_files=2)
    S.delete(spark.range(0, 50).select(F.col("id").alias("k")), t,
             key="k", mode="merge-on-read")
    # predicate evaluated on VISIBLE rows only
    S.delete_where(spark, t, "v = 2")
    want = [i for i in range(50, 200) if i % 7 != 2]
    assert sorted(r.k for r in S.read(spark, t).collect()) == want
    # compact materializes both forms in one pass
    S.compact(spark, t, n_files=1)
    assert not S.read_manifest(t, S.versions(t)[-1]).get("delete_files")
    assert sorted(r.k for r in S.read(spark, t).collect()) == want


def test_batch_cdc_emits_exact_preimages(spark, tmp_path):
    t = _tbl(tmp_path, "cdc")
    S.overwrite(_kv(spark, 0, 300), t, n_files=2)
    S.delete_where(spark, t, "v = 4")
    rows = S.read_row_changes(spark, t, 1, 2).collect()
    assert all(r["_change_type"] == "delete" for r in rows)
    assert sorted(r.k for r in rows) == [
        i for i in range(300) if i % 7 == 4
    ]
    # a second positional delete must NOT re-emit already-dead rows
    S.delete_where(spark, t, "v >= 4")  # v=4 rows already invisible
    rows2 = S.read_row_changes(spark, t, 2, 3).collect()
    assert sorted(r.k for r in rows2) == [
        i for i in range(300) if i % 7 in (5, 6)
    ]


def test_purge_rewrites_only_target_files(spark, tmp_path):
    t = _tbl(tmp_path, "purge")
    # two clustered files: k 0..99 and k 100..199
    S.overwrite(_kv(spark, 0, 200), t, n_files=2)
    S.compact(spark, t, n_files=2, cluster_by=["k"])
    m = S.read_manifest(t, 2)
    lo_file = min(m["files"], key=lambda e: e["stats"]["min_k"])["path"]
    hi_file = max(m["files"], key=lambda e: e["stats"]["min_k"])["path"]
    S.delete_where(spark, t, "k < 20")
    v = S.purge_deletes(spark, t)
    m2 = S.read_manifest(t, v)
    assert not m2.get("delete_files")
    paths = {e["path"] for e in m2["files"]}
    assert hi_file in paths  # untargeted file carried by reference
    assert lo_file not in paths  # targeted file rewritten
    assert sorted(r.k for r in S.read(spark, t).collect()) == list(
        range(20, 200)
    )
    # maintenance commit: CDC-silent
    assert S.read_row_changes(spark, t, v - 1, v).count() == 0


def test_txn_replay_is_durable_noop(spark, tmp_path):
    t = _tbl(tmp_path, "txn")
    S.overwrite(_kv(spark, 0, 100), t, n_files=1)
    assert S.delete_where(spark, t, "v = 1", txn=("app", 3)) == 2
    assert S.delete_where(spark, t, "v = 1", txn=("app", 3)) is None
    assert S.versions(t) == [1, 2]
    # zero-match commit still lands the txn marker
    assert S.delete_where(spark, t, "k = -5", txn=("app", 4)) == 3
    assert S.delete_where(spark, t, "k = -5", txn=("app", 4)) is None


def test_stream_classifier_matches_batch_feed(spark, tmp_path):
    t = _tbl(tmp_path, "stream")
    S.overwrite(_kv(spark, 0, 150), t, n_files=2)
    S.delete_where(spark, t, "v = 6")
    S.append(_kv(spark, 200, 220), t, n_files=1)
    S.delete_where(spark, t, "k >= 210")
    reader, _ = cdc_reader(t)
    start = {"version": 1, "snap": 1}
    rows, off = cdc_drain(reader, start)
    assert off["version"] == 4
    got = sorted(rows)
    want = sorted(
        tuple(r) for r in S.read_row_changes(spark, t, 1, 4).select(
            "k", "v", "_change_type", "_commit_version"
        ).collect()
    )
    assert got == want
    # deterministic replay
    assert sorted(cdc_drain(reader, start, off)[0]) == got


def test_snapshot_isolation_rebase_and_conflicts(spark, tmp_path):
    t = _tbl(tmp_path, "iso")
    S.overwrite(_kv(spark, 0, 100), t, n_files=2)
    # disjoint concurrent append: rebase (positions address immutable
    # files — new files can't invalidate them)
    v = S.delete_where(
        spark, t, "v = 0", isolation="snapshot",
        race_inject=lambda: S.append(_kv(spark, 500, 520), t, n_files=1),
    )
    assert v == 3
    assert S.read_manifest(t, 3)["rebased_from"] == 2
    want = [i for i in range(100) if i % 7 != 0] + list(range(500, 520))
    assert sorted(r.k for r in S.read(spark, t).collect()) == want
    # concurrent compact rewrote the targets: true conflict
    with pytest.raises(RuntimeError, match="targets"):
        S.delete_where(
            spark, t, "v = 1", isolation="snapshot",
            race_inject=lambda: S.compact(spark, t, n_files=1),
        )
    # serializable refuses any race
    with pytest.raises(RuntimeError, match="serializable"):
        S.delete_where(
            spark, t, "v = 1",
            race_inject=lambda: S.append(_kv(spark, 600, 610), t),
        )


def test_vacuum_reclaims_superseded_positional_delete_files(
        spark, tmp_path):
    t = _tbl(tmp_path, "vac")
    S.overwrite(_kv(spark, 0, 100), t, n_files=1)
    S.delete_where(spark, t, "v = 3")
    d_path = S.read_manifest(t, 2)["delete_files"][0]["path"]
    S.compact(spark, t, n_files=1)
    assert os.path.exists(os.path.join(t, d_path))
    S.vacuum(t, keep_versions=1)
    assert not os.path.exists(os.path.join(t, d_path))
    assert sorted(r.k for r in S.read(spark, t).collect()) == [
        i for i in range(100) if i % 7 != 3
    ]


def test_cow_operations_refuse_pending_positional_deletes(
        spark, tmp_path):
    t = _tbl(tmp_path, "guard")
    S.overwrite(_kv(spark, 0, 100), t, n_files=1)
    S.delete_where(spark, t, "v = 3")
    with pytest.raises(ValueError, match="pending"):
        S.merge(_kv(spark, 0, 5), t, key="k")
    with pytest.raises(ValueError, match="pending"):
        S.delete(spark.range(5).select(F.col("id").alias("k")), t,
                 key="k")


def test_read_with_coords_exposes_row_provenance(spark, tmp_path):
    t = _tbl(tmp_path, "coords")
    S.overwrite(_kv(spark, 0, 60), t, n_files=2)
    out = S.read(spark, t, with_coords=True)
    assert {"_file_rel", "_pos"} <= set(out.columns)
    rows = out.collect()
    assert len(rows) == 60
    # coordinates are exactly the positional-delete address space:
    # per-file ordinals 0..n-1 over the manifest's relative paths
    paths = {e["path"] for e in S.read_manifest(t, 1)["files"]}
    assert {r["_file_rel"] for r in rows} == paths
    by_file: dict = {}
    for r in rows:
        by_file.setdefault(r["_file_rel"], []).append(r["_pos"])
    for ps in by_file.values():
        assert sorted(ps) == list(range(len(ps)))
    # coordinates survive pending deletes (visible rows keep their
    # PHYSICAL ordinals — holes, not renumbering)
    S.delete_where(spark, t, "v = 0")
    vis = S.read(spark, t, with_coords=True).collect()
    assert all(r.v != 0 for r in vis)
    assert len(vis) == 60 - len([i for i in range(60) if i % 7 == 0])


def test_delete_files_metadata_table(spark, tmp_path):
    t = _tbl(tmp_path, "dmeta")
    S.overwrite(_kv(spark, 0, 100), t, n_files=2)
    S.delete(spark.range(0, 5).select(F.col("id").alias("k")), t,
             key="k", mode="merge-on-read")
    S.delete_where(spark, t, "v = 3")
    meta = {r.kind: r for r in
            S.delete_files_table(spark, t).collect()}
    assert meta["equality"].key == "k" and meta["equality"].rows == 5
    assert meta["positional"].key is None
    assert meta["positional"].n_targets >= 1
    assert meta["positional"].rows == len(
        [i for i in range(5, 100) if i % 7 == 3])
    # empty after purge; prior version still answers
    S.purge_deletes(spark, t)
    assert S.delete_files_table(spark, t).count() == 0
    assert S.delete_files_table(spark, t, version=3).count() == 2
