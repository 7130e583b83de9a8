"""Multi-writer commit protocol (sources/snapshots.py, r12):
isolation="snapshot" rebases merge/delete over provably-disjoint
concurrent commits (file-level validation from manifest stats, data
files reused, one manifest link); isolation="serializable" keeps the
any-commit loud refusal.  The race_inject hook makes every race
deterministic — its commit IS a concurrent writer winning the version
race."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from magshield_data_pipeline_spark.sources import snapshots as S


def _tbl(tmp_path, name):
    return str(tmp_path / name)


def _kv(spark, lo, hi, mult=10):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"), (F.col("id") * mult).alias("v")
    )


def _rows(spark, t, version=None):
    return sorted(
        (r.k, r.v) for r in S.read(spark, t, version).collect()
    )


def test_serializable_merge_refuses_any_race(spark, tmp_path):
    t = _tbl(tmp_path, "ser")
    S.overwrite(_kv(spark, 0, 100), t, n_files=2)
    with pytest.raises(RuntimeError, match="serializable conflict"):
        S.merge(
            _kv(spark, 0, 10, mult=-1), t, key="k",
            race_inject=lambda: S.append(_kv(spark, 500, 510), t),
        )
    # the racing append won; the merge left no trace
    assert S.versions(t) == [1, 2]
    assert S.read_manifest(t, 2)["operation"] == "append"
    assert _rows(spark, t) == [(i, i * 10) for i in range(100)] + [
        (i, i * 10) for i in range(500, 510)
    ]


def test_snapshot_cow_merge_rebases_over_disjoint_append(spark, tmp_path):
    t = _tbl(tmp_path, "reb")
    S.overwrite(_kv(spark, 0, 100), t, n_files=2)
    v = S.merge(
        _kv(spark, 0, 10, mult=-1), t, key="k", isolation="snapshot",
        race_inject=lambda: S.append(_kv(spark, 500, 510), t, n_files=1),
    )
    assert v == 3  # race took v2, the merge rebased onto it
    m3 = S.read_manifest(t, 3)
    assert m3["rebased_from"] == 2
    # the race's file is carried byte-identically
    m1 = {e["path"] for e in S.read_manifest(t, 1)["files"]}
    race_paths = {e["path"] for e in S.read_manifest(t, 2)["files"]} - m1
    assert race_paths <= {e["path"] for e in m3["files"]}
    assert _rows(spark, t) == (
        [(i, -i) for i in range(10)]
        + [(i, i * 10) for i in range(10, 100)]
        + [(i, i * 10) for i in range(500, 510)]
    )


def test_snapshot_merge_refuses_overlapping_append(spark, tmp_path):
    t = _tbl(tmp_path, "ovl")
    S.overwrite(_kv(spark, 0, 100), t, n_files=2)
    with pytest.raises(RuntimeError, match="overlapping"):
        S.merge(
            _kv(spark, 0, 10, mult=-1), t, key="k", isolation="snapshot",
            race_inject=lambda: S.append(_kv(spark, 5, 7), t),
        )
    assert S.read_manifest(t, 2)["operation"] == "append"
    assert len(S.versions(t)) == 2


def test_snapshot_merge_refuses_concurrent_rewrite_of_read_files(
        spark, tmp_path):
    t = _tbl(tmp_path, "rw")
    S.overwrite(_kv(spark, 0, 100), t, n_files=2)
    # the race COMPACTS: every file the merge read is replaced
    with pytest.raises(RuntimeError, match="rewritten/removed"):
        S.merge(
            _kv(spark, 0, 10, mult=-1), t, key="k", isolation="snapshot",
            race_inject=lambda: S.compact(spark, t, n_files=1),
        )


def test_snapshot_merge_refuses_concurrent_mor_delete(spark, tmp_path):
    t = _tbl(tmp_path, "mord")
    S.overwrite(_kv(spark, 0, 100), t, n_files=2)
    race = lambda: S.delete(  # noqa: E731
        spark.range(90, 95).select(F.col("id").alias("k")), t,
        key="k", mode="merge-on-read",
    )
    with pytest.raises(RuntimeError, match="merge-on-read delete"):
        S.merge(_kv(spark, 0, 10, mult=-1), t, key="k",
                isolation="snapshot", race_inject=race)


def test_snapshot_merge_refuses_metadata_drift(spark, tmp_path):
    t = _tbl(tmp_path, "drift")
    S.overwrite(_kv(spark, 0, 100), t, n_files=2)
    with pytest.raises(RuntimeError, match="constraints"):
        S.merge(
            _kv(spark, 0, 10, mult=-1), t, key="k", isolation="snapshot",
            race_inject=lambda: S.add_constraint(
                spark, t, "v_not_null", "v IS NOT NULL"),
        )


def test_snapshot_cow_delete_rebases_over_disjoint_append(spark, tmp_path):
    t = _tbl(tmp_path, "deld")
    S.overwrite(_kv(spark, 0, 100), t, n_files=2)
    v = S.delete(
        spark.range(0, 10).select(F.col("id").alias("k")), t, key="k",
        isolation="snapshot",
        race_inject=lambda: S.append(_kv(spark, 500, 510), t),
    )
    assert v == 3
    assert S.read_manifest(t, 3)["rebased_from"] == 2
    assert _rows(spark, t) == (
        [(i, i * 10) for i in range(10, 100)]
        + [(i, i * 10) for i in range(500, 510)]
    )


def test_mor_merge_rebases_over_any_data_commit(spark, tmp_path):
    t = _tbl(tmp_path, "morm")
    S.overwrite(_kv(spark, 0, 100), t, n_files=2)
    # the race OVERLAPS the source keys — still rebasable for MOR: the
    # restamped equality delete covers the race's rows, exactly the
    # serial order (merge after append) semantics
    v = S.merge(
        _kv(spark, 5, 8, mult=-1), t, key="k", mode="merge-on-read",
        isolation="snapshot",
        race_inject=lambda: S.append(_kv(spark, 5, 8, mult=777), t),
    )
    assert v == 3
    assert S.read_manifest(t, 3)["rebased_from"] == 2
    got = dict(_rows(spark, t))
    assert got[5] == -5 and got[6] == -6 and got[7] == -7
    assert got[4] == 40 and got[8] == 80
    # delete files restamped to the committed version: they apply to
    # the race's files too
    assert all(d["seq"] == 3
               for d in S.read_manifest(t, 3)["delete_files"])


def test_mor_delete_rebase_serial_semantics(spark, tmp_path):
    t = _tbl(tmp_path, "morser")
    S.overwrite(_kv(spark, 0, 100), t, n_files=2)
    # concurrent writer re-inserts key 3 mid-delete; serial order is
    # append-then-delete, so the re-insert is deleted too
    v = S.delete(
        spark.range(0, 5).select(F.col("id").alias("k")), t, key="k",
        mode="merge-on-read", isolation="snapshot",
        race_inject=lambda: S.append(_kv(spark, 3, 4, mult=999), t),
    )
    assert v == 3
    ks = {k for k, _ in _rows(spark, t)}
    assert ks == set(range(5, 100))


def test_rebase_survives_two_consecutive_races(spark, tmp_path):
    t = _tbl(tmp_path, "two")
    S.overwrite(_kv(spark, 0, 100), t, n_files=2)

    def race():
        S.append(_kv(spark, 500, 510), t)
        S.append(_kv(spark, 600, 610), t)

    v = S.merge(_kv(spark, 0, 10, mult=-1), t, key="k",
                isolation="snapshot", race_inject=race)
    assert v == 4
    assert len(_rows(spark, t)) == 120


def test_refused_commit_reclaims_its_files(spark, tmp_path):
    t = _tbl(tmp_path, "reclaim")
    S.overwrite(_kv(spark, 0, 100), t, n_files=2)
    data = os.path.join(t, "data")
    before = set(os.listdir(data))
    before_race = [d for d in before]  # snapshot of commit dirs
    try:
        S.merge(
            _kv(spark, 0, 10, mult=-1), t, key="k", isolation="snapshot",
            race_inject=lambda: S.append(_kv(spark, 5, 7), t),
        )
    except RuntimeError:
        pass
    after = set(os.listdir(data))
    live = set()
    for v in S.versions(t):
        for e in S.read_manifest(t, v)["files"]:
            live.add(e["path"].split(os.sep)[1])
    # every surviving commit dir is referenced by some manifest: the
    # refused merge's rewrite directory was reclaimed
    assert {d for d in after} == live
    assert set(before_race) <= after | live


def test_txn_idempotence_preserved_across_rebase(spark, tmp_path):
    t = _tbl(tmp_path, "txn")
    S.overwrite(_kv(spark, 0, 100), t, n_files=2)
    v = S.merge(
        _kv(spark, 0, 10, mult=-1), t, key="k", isolation="snapshot",
        txn=("app", 7),
        race_inject=lambda: S.append(_kv(spark, 500, 510), t),
    )
    assert v == 3
    # replay: durable no-op even though the commit landed via rebase
    assert S.merge(_kv(spark, 0, 10, mult=-1), t, key="k",
                   isolation="snapshot", txn=("app", 7)) is None
    assert len(S.versions(t)) == 3


def test_unknown_isolation_refused(spark, tmp_path):
    t = _tbl(tmp_path, "iso")
    S.overwrite(_kv(spark, 0, 10), t)
    with pytest.raises(ValueError, match="isolation"):
        S.merge(_kv(spark, 0, 5), t, key="k", isolation="banana")


#: the six DML forms that rebase under isolation="snapshot", each
#: touching only keys 0-9 (a race appending keys 500-509 is disjoint)
_DML = {
    "cow_merge": lambda spark, t, **kw: S.merge(
        _kv(spark, 0, 10, mult=-1), t, key="k", **kw),
    "mor_merge": lambda spark, t, **kw: S.merge(
        _kv(spark, 0, 10, mult=-1), t, key="k", mode="merge-on-read",
        **kw),
    "cow_delete": lambda spark, t, **kw: S.delete(
        spark.range(0, 5).select(F.col("id").alias("k")), t, key="k",
        **kw),
    "mor_delete": lambda spark, t, **kw: S.delete(
        spark.range(0, 5).select(F.col("id").alias("k")), t, key="k",
        mode="merge-on-read", **kw),
    "delete_where": lambda spark, t, **kw: S.delete_where(
        spark, t, "k < 5", **kw),
    "update_where": lambda spark, t, **kw: S.update_where(
        spark, t, "k < 5", {"v": "v + 1"}, **kw),
}


def _canonical(t, v):
    """Manifest *v* with its commit time and rebase marker masked and
    every written path (entries, stats, positional targets) replaced
    by its order of first appearance — two tables that ran the same
    commits compare equal.  Positional delete files store paths, so
    their byte sizes are masked too."""
    import json
    import re

    m = S.read_manifest(t, v)
    m.pop("committed_at")
    m.pop("rebased_from", None)
    for d in m.get("delete_files") or []:
        if d.get("kind") == "positional":
            d["bytes"] = None
    text = json.dumps(m, sort_keys=True)
    names: dict[str, str] = {}
    return re.sub(r"data/snap-[0-9a-f]+/[^\"]+?\.parquet",
                  lambda x: names.setdefault(x.group(0), f"f{len(names)}"),
                  text)


@pytest.mark.parametrize("dml", list(_DML))
def test_rebase_equals_serial(spark, tmp_path, dml):
    # a commit rebased over a disjoint concurrent append publishes the
    # manifest the same operation publishes when it runs after the
    # append: one builder serves the first attempt and the rebase
    ta, tb = _tbl(tmp_path, "rebased"), _tbl(tmp_path, "serial")
    for t in (ta, tb):
        S.overwrite(_kv(spark, 0, 100), t, n_files=2)
    v = _DML[dml](spark, ta, isolation="snapshot", race_inject=lambda: (
        S.append(_kv(spark, 500, 510), ta, n_files=1)))
    assert S.read_manifest(ta, v)["rebased_from"] == 2
    S.append(_kv(spark, 500, 510), tb, n_files=1)
    assert _DML[dml](spark, tb) == v == 3
    for ver in (2, 3):
        assert _canonical(ta, ver) == _canonical(tb, ver)
    assert _rows(spark, ta) == _rows(spark, tb)
