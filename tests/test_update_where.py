"""Positional UPDATE (snapshots.update_where, r12): predicate UPDATE
as one atomic merge-on-read commit — coordinate delete + post-image
append in a single manifest link, O(matches) cost, update pre/post
CDC with no-op cancellation, bit-equal between batch and streaming
feeds."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from magshield_data_pipeline_spark.sources import snapshots as S
from tests.conftest import cdc_drain, cdc_reader


def _tbl(tmp_path, name):
    return str(tmp_path / name)


def _kv(spark, n=200):
    return spark.range(0, n).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )


def test_update_is_atomic_and_exact(spark, tmp_path):
    t = _tbl(tmp_path, "u1")
    S.overwrite(_kv(spark), t, n_files=2)
    v = S.update_where(spark, t, "v = 3", {"v": "v + 100"})
    assert v == 2
    got = {r.k: r.v for r in S.read(spark, t).collect()}
    assert len(got) == 200
    for k in range(200):
        assert got[k] == (k % 7 + 100 if k % 7 == 3 else k % 7)
    # prior version untouched (snapshot isolation)
    assert all(r.v < 7 for r in S.read(spark, t, 1).collect())
    # untouched data files carried by reference
    m1, m2 = S.read_manifest(t, 1), S.read_manifest(t, 2)
    assert {e["path"] for e in m1["files"]} <= {
        e["path"] for e in m2["files"]
    }


def test_update_cdc_pairs_and_noop_cancellation(spark, tmp_path):
    t = _tbl(tmp_path, "u2")
    S.overwrite(_kv(spark), t, n_files=2)
    S.update_where(spark, t, "v = 3", {"v": "v * 2"})
    cdc = S.read_row_changes(spark, t, 1, 2)
    n3 = len([i for i in range(200) if i % 7 == 3])
    by = {r["_change_type"] for r in cdc.collect()}
    assert by == {"update_preimage", "update_postimage"}
    assert cdc.filter("_change_type='update_preimage'").count() == n3
    assert cdc.filter("_change_type='update_postimage'").count() == n3
    # identity assignment: zero rows emitted
    S.update_where(spark, t, "v = 5", {"v": "v + 0"})
    assert S.read_row_changes(spark, t, 2, 3).count() == 0


def test_stream_parity_with_batch_feed(spark, tmp_path):
    t = _tbl(tmp_path, "u3")
    S.overwrite(_kv(spark), t, n_files=2)
    S.update_where(spark, t, "v = 2", {"v": "v + 50"})
    S.update_where(spark, t, "k < 5", {"v": "0"})
    reader, _ = cdc_reader(t)
    rows, off = cdc_drain(reader, {"version": 1, "snap": 1})
    assert off["version"] == 3
    want = sorted(
        tuple(r) for r in S.read_row_changes(spark, t, 1, 3).select(
            "k", "v", "_change_type", "_commit_version"
        ).collect()
    )
    assert sorted(rows) == want


def test_keyless_duplicate_rows_update(spark, tmp_path):
    t = _tbl(tmp_path, "u4")
    S.overwrite(
        spark.createDataFrame([("a", 1)] * 3 + [("b", 2)],
                              "tag string, n long"), t, n_files=1)
    S.update_where(spark, t, "tag = 'a'", {"n": "n * 10"})
    got = sorted((r.tag, r.n) for r in S.read(spark, t).collect())
    assert got == [("a", 10)] * 3 + [("b", 2)]


def test_constraints_validate_post_images(spark, tmp_path):
    t = _tbl(tmp_path, "u5")
    S.overwrite(_kv(spark), t, n_files=1)
    S.add_constraint(spark, t, "v_cap", "v < 1000")
    with pytest.raises(ValueError, match="constraint"):
        S.update_where(spark, t, "v = 1", {"v": "v + 5000"})
    # table unchanged after the refusal
    assert len(S.versions(t)) == 2  # overwrite + add_constraint


def test_unknown_assignment_column_refused(spark, tmp_path):
    t = _tbl(tmp_path, "u6")
    S.overwrite(_kv(spark), t, n_files=1)
    with pytest.raises(ValueError, match="not in the table schema"):
        S.update_where(spark, t, "v = 1", {"zzz": "1"})
    with pytest.raises(ValueError, match="no assignments"):
        S.update_where(spark, t, "v = 1", {})


def test_txn_replay_and_zero_match_commit(spark, tmp_path):
    t = _tbl(tmp_path, "u7")
    S.overwrite(_kv(spark), t, n_files=1)
    assert S.update_where(spark, t, "k = -1", {"v": "0"},
                          txn=("app", 1)) == 2
    assert S.update_where(spark, t, "k = -1", {"v": "0"},
                          txn=("app", 1)) is None


def test_compact_and_purge_materialize_updates(spark, tmp_path):
    t = _tbl(tmp_path, "u8")
    S.overwrite(_kv(spark), t, n_files=2)
    S.update_where(spark, t, "v = 3", {"v": "v + 100"})
    S.purge_deletes(spark, t)
    m = S.read_manifest(t, S.versions(t)[-1])
    assert not m.get("delete_files")
    got = {r.k: r.v for r in S.read(spark, t).collect()}
    for k in range(200):
        assert got[k] == (k % 7 + 100 if k % 7 == 3 else k % 7)


def test_snapshot_isolation_rebase(spark, tmp_path):
    t = _tbl(tmp_path, "u9")
    S.overwrite(_kv(spark), t, n_files=2)
    v = S.update_where(
        spark, t, "v = 3", {"v": "v + 100"}, isolation="snapshot",
        race_inject=lambda: S.append(
            spark.range(900, 910).select(
                F.col("id").alias("k"), F.lit(1).cast("long").alias("v")
            ), t, n_files=1),
    )
    assert v == 3
    assert S.read_manifest(t, 3)["rebased_from"] == 2
    got = {r.k: r.v for r in S.read(spark, t).collect()}
    assert len(got) == 210
    assert got[3] == 103 and got[905] == 1


def test_chained_updates_compose(spark, tmp_path):
    t = _tbl(tmp_path, "u10")
    S.overwrite(_kv(spark, 50), t, n_files=1)
    S.update_where(spark, t, "v = 3", {"v": "v + 10"})   # 3 -> 13
    S.update_where(spark, t, "v = 13", {"v": "v + 10"})  # 13 -> 23
    got = {r.k: r.v for r in S.read(spark, t).collect()}
    for k in range(50):
        assert got[k] == (23 if k % 7 == 3 else k % 7)
