"""Named branches + fast-forward publish (sources/snapshots.py:
create_branch / branch_append / read_branch / publish_branch /
discard_branch) — the Iceberg branch model, and the ledger's
write-audit-publish: a single staged commit is a one-commit branch.

Pins: branch commits are invisible to main (no version allocated),
the branch read is exactly the snapshot publish makes (an append-only
chain on main's current latest, a rewrite chain on its base), publish
fast-forwards main IN ORDER (history shows the graduated commits) and
composes with mid-branch main commits, discard reclaims files with
zero trace, the base version is vacuum-pinned for the branch's life,
orphan sweeps spare pending branch files, CHECK constraints validate
at branch-commit time, constraint drift refuses publish on every
commit attempt, and rewrite commits refuse once main has moved.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from magshield_data_pipeline_spark.sources import snapshots as S


def _t(spark, tmp_path, name="t"):
    t = os.path.join(str(tmp_path), name)
    S.overwrite(spark.range(10).select(F.col("id").alias("k")), t,
                n_files=1)
    return t


def test_branch_commits_invisible_until_published(spark, tmp_path):
    t = _t(spark, tmp_path)
    S.create_branch(t, "audit")
    S.branch_append(spark.range(10, 13).select(F.col("id").alias("k")),
                    t, "audit", n_files=1)
    S.branch_append(spark.range(13, 15).select(F.col("id").alias("k")),
                    t, "audit", n_files=1)
    assert S.read(spark, t).count() == 10  # main untouched
    assert S.versions(t) == [1]  # no main version allocated
    assert S.read_branch(spark, t, "audit").count() == 15
    assert S.branch_versions(t, "audit") == [1, 2]
    published = S.publish_branch(t, "audit")
    assert published == [2, 3]  # two new main versions, in order
    assert S.read(spark, t).count() == 15
    ops = [r.operation for r in S.history(spark, t).collect()]
    assert ops.count("append") == 2  # the graduated commits
    assert S.branches(t) == []


def test_publish_composes_with_mid_branch_main_commits(spark, tmp_path):
    t = _t(spark, tmp_path)
    S.create_branch(t, "b")
    S.branch_append(spark.range(100, 103).select(F.col("id").alias("k")),
                    t, "b", n_files=1)
    # a main commit lands while the branch is open
    S.append(spark.range(50, 52).select(F.col("id").alias("k")), t,
             n_files=1)
    S.publish_branch(t, "b")
    got = sorted(r.k for r in S.read(spark, t).collect())
    assert got == sorted(list(range(10)) + [50, 51, 100, 101, 102])


def test_discard_reclaims_files_and_base_pin(spark, tmp_path):
    t = _t(spark, tmp_path)
    S.create_branch(t, "doomed")
    assert S.tags(t) == {"branch-base-doomed": 1}
    S.branch_append(spark.range(100, 105).select(F.col("id").alias("k")),
                    t, "doomed", n_files=1)
    S.discard_branch(t, "doomed")
    assert S.branches(t) == [] and S.tags(t) == {}
    assert S.read(spark, t).count() == 10
    # the discarded files are gone from disk (zero trace)
    assert S.remove_orphans(t, older_than_seconds=0) == []


def test_branch_base_survives_vacuum(spark, tmp_path):
    t = _t(spark, tmp_path)
    S.create_branch(t, "keep")  # pins v1
    # a rewrite commit anchors the branch read at its base (an
    # append-only branch reads main's latest instead)
    S.branch_delete_rows(spark.createDataFrame([(0,)], "k long"), t,
                         "keep", key="k", n_files=1)
    S.overwrite(spark.range(5).select(F.col("id").alias("k")), t,
                n_files=1)
    S.overwrite(spark.range(3).select(F.col("id").alias("k")), t,
                n_files=1)
    S.vacuum(t, keep_versions=1)
    # v1 (the branch base) must still be readable through the branch
    assert S.read_branch(spark, t, "keep").count() == 9
    S.discard_branch(t, "keep")


def test_orphan_sweep_spares_pending_branch_files(spark, tmp_path):
    t = _t(spark, tmp_path)
    S.create_branch(t, "pending")
    S.branch_append(spark.range(100, 110).select(F.col("id").alias("k")),
                    t, "pending", n_files=1)
    assert S.remove_orphans(t, older_than_seconds=0) == []
    assert S.read_branch(spark, t, "pending").count() == 20
    S.discard_branch(t, "pending")


def test_publish_refuses_constraint_drift(spark, tmp_path):
    t = _t(spark, tmp_path)
    S.create_branch(t, "drift")
    S.branch_append(spark.range(10, 12).select(F.col("id").alias("k")),
                    t, "drift", n_files=1)
    S.add_constraint(spark, t, "k_small", "k < 1000")
    with pytest.raises(ValueError, match="constraints changed"):
        S.publish_branch(t, "drift")
    assert S.branches(t) == ["drift"]  # the branch survives
    S.discard_branch(t, "drift")


def test_publish_refuses_constraint_landing_mid_publish(spark, tmp_path,
                                                       monkeypatch):
    # the drift check runs on every commit attempt, not once before
    # the first: a constraint that lands between the check and the
    # link (here from inside the first link attempt) must not let the
    # branch rows graduate unvalidated
    t = _t(spark, tmp_path)
    S.create_branch(t, "race")
    S.branch_append(spark.createDataFrame([(5000,), (5001,)], "k long"),
                    t, "race", n_files=1)
    real = S._try_link
    landed = []

    def _racing(table_path, v, manifest):
        if not landed:
            landed.append(v)
            S.add_constraint(spark, t, "k_small", "k < 1000")
        return real(table_path, v, manifest)

    monkeypatch.setattr(S, "_try_link", _racing)
    with pytest.raises(ValueError, match="constraints changed"):
        S.publish_branch(t, "race")
    assert S.branches(t) == ["race"]  # the branch survives
    assert S.branch_versions(t, "race") == [1]
    assert sorted(r.k for r in S.read(spark, t).collect()) == \
        list(range(10))  # main gained the constraint, not the rows
    S.discard_branch(t, "race")


def test_branch_append_validates_base_constraints(spark, tmp_path):
    t = _t(spark, tmp_path)
    S.add_constraint(spark, t, "k_nonneg", "k >= 0")
    S.create_branch(t, "checked")
    with pytest.raises(ValueError, match="CHECK constraint"):
        S.branch_append(
            spark.createDataFrame([(-5,)], "k long"), t, "checked",
            n_files=1)
    S.discard_branch(t, "checked")


def test_append_branch_reads_what_publish_makes_after_main_rewrites(
        spark, tmp_path):
    # an append-only branch audits the snapshot publish will make: main
    # deleting keys 1 and 2 and appending 50 and 51 mid-branch shows in
    # the branch read exactly as in the published table
    t = _t(spark, tmp_path)
    S.create_branch(t, "b")
    S.branch_append(spark.range(100, 103).select(F.col("id").alias("k")),
                    t, "b", n_files=1)
    S.delete(spark.createDataFrame([(1,), (2,)], "k long"), t, key="k",
             n_files=1)
    S.append(spark.range(50, 52).select(F.col("id").alias("k")), t,
             n_files=1)
    branch = sorted(r.k for r in S.read_branch(spark, t, "b").collect())
    S.publish_branch(t, "b")
    published = sorted(r.k for r in S.read(spark, t).collect())
    assert published == [0] + list(range(3, 10)) + [50, 51, 100, 101, 102]
    assert branch == published


def test_append_branch_reads_what_publish_makes_after_main_add_column(
        spark, tmp_path):
    t = _t(spark, tmp_path)
    S.create_branch(t, "b")
    S.branch_append(spark.range(100, 102).select(F.col("id").alias("k")),
                    t, "b", n_files=1)
    S.add_column(t, "c", "long", default=7)
    audit = S.read_branch(spark, t, "b")
    branch = sorted(tuple(r) for r in audit.collect())
    S.publish_branch(t, "b")
    got = S.read(spark, t)
    assert audit.schema.fieldNames() == got.schema.fieldNames() == ["k", "c"]
    assert branch == sorted(tuple(r) for r in got.collect())


def test_double_publish_and_missing_branch_fail_loudly(spark, tmp_path):
    t = _t(spark, tmp_path)
    S.create_branch(t, "once")
    S.branch_append(spark.range(10, 11).select(F.col("id").alias("k")),
                    t, "once", n_files=1)
    S.publish_branch(t, "once")
    with pytest.raises(ValueError, match="already published or discarded"):
        S.publish_branch(t, "once")
    with pytest.raises(ValueError, match="not found"):
        S.discard_branch(t, "once")  # consumed: nothing left to discard
    S.create_branch(t, "x")
    with pytest.raises(ValueError, match="already exists"):
        S.create_branch(t, "x")
    S.discard_branch(t, "x")


# ---------------------------------------------------------------------------
# r12 session 2: rewrite commits on branches (merge / delete)

def test_branch_merge_invisible_then_publishes(spark, tmp_path):
    t = os.path.join(str(tmp_path), "bm")
    S.overwrite(
        spark.range(10).select(F.col("id").alias("k"),
                               (F.col("id") * 10).alias("val")),
        t, n_files=2,
    )
    S.create_branch(t, "fix")
    S.branch_merge(
        spark.createDataFrame([(3, 999), (50, 500)], "k long, val long"),
        t, "fix", key="k", n_files=1,
    )
    # main untouched; branch tip shows the upsert
    assert S.read(spark, t).filter("k = 3").head().val == 30
    tip = {r.k: r.val for r in S.read_branch(spark, t, "fix").collect()}
    assert tip[3] == 999 and tip[50] == 500 and len(tip) == 11
    published = S.publish_branch(t, "fix")
    assert published == [2]
    got = {r.k: r.val for r in S.read(spark, t).collect()}
    assert got[3] == 999 and got[50] == 500 and len(got) == 11
    ops = [r.operation for r in S.history(spark, t).collect()]
    assert "merge" in ops


def test_mixed_chain_append_merge_delete_publishes_in_order(spark,
                                                            tmp_path):
    t = os.path.join(str(tmp_path), "mix")
    S.overwrite(
        spark.range(10).select(F.col("id").alias("k"),
                               (F.col("id") * 10).alias("val")),
        t, n_files=1,
    )
    S.create_branch(t, "c")
    S.branch_append(
        spark.createDataFrame([(20, 200), (21, 210)], "k long, val long"),
        t, "c", n_files=1)
    S.branch_merge(
        spark.createDataFrame([(20, 999)], "k long, val long"),
        t, "c", key="k", n_files=1)
    S.branch_delete_rows(
        spark.createDataFrame([(5,), (21,)], "k long"), t, "c", key="k",
        n_files=1)
    tip = {r.k: r.val for r in S.read_branch(spark, t, "c").collect()}
    assert tip[20] == 999 and 5 not in tip and 21 not in tip
    assert len(tip) == 10  # 10 base - 1 deleted + 2 added - 1 deleted
    published = S.publish_branch(t, "c")
    assert published == [2, 3, 4]
    got = {r.k: r.val for r in S.read(spark, t).collect()}
    assert got == tip
    ops = [r.operation for r in S.history(spark, t).orderBy("version")
           .collect()]
    assert ops == ["overwrite", "append", "merge", "delete"]
    # time travel into the graduated chain works
    assert S.read(spark, t, 2).count() == 12


def test_rewrite_chain_refuses_when_main_advanced(spark, tmp_path):
    t = os.path.join(str(tmp_path), "conf")
    S.overwrite(
        spark.range(10).select(F.col("id").alias("k"),
                               (F.col("id") * 10).alias("val")),
        t, n_files=1,
    )
    S.create_branch(t, "r")
    S.branch_merge(
        spark.createDataFrame([(3, 999)], "k long, val long"),
        t, "r", key="k", n_files=1)
    S.append(spark.createDataFrame([(30, 300)], "k long, val long"), t,
             n_files=1)  # main moves
    with pytest.raises(ValueError, match="fast-forward requires"):
        S.publish_branch(t, "r")
    assert S.branches(t) == ["r"]  # branch survives for discard
    S.discard_branch(t, "r")
    assert S.read(spark, t).filter("k = 3").head().val == 30


def test_branch_rewrite_refuses_once_main_moved(spark, tmp_path):
    # a rewrite commit records a full post-state anchored at the base,
    # which publish could never fast-forward once main has moved:
    # refuse it at branch time, with nothing written
    t = _t(spark, tmp_path)
    S.create_branch(t, "r")
    S.append(spark.range(50, 52).select(F.col("id").alias("k")), t,
             n_files=1)  # main moves
    with pytest.raises(ValueError, match="main advanced past the branch"):
        S.branch_delete_rows(spark.createDataFrame([(3,)], "k long"), t,
                             "r", key="k", n_files=1)
    assert S.branch_versions(t, "r") == []
    S.discard_branch(t, "r")
    assert S.remove_orphans(t, older_than_seconds=0) == []


def test_branch_merge_validates_and_prunes(spark, tmp_path):
    t = os.path.join(str(tmp_path), "bv")
    S.overwrite(
        spark.range(10).select(F.col("id").alias("k"),
                               (F.col("id") * 10).alias("val")),
        t, n_files=1,
    )
    S.add_constraint(spark, t, "val_pos", "val >= 0")
    S.create_branch(t, "g")
    with pytest.raises(ValueError, match="CHECK constraint"):
        S.branch_merge(
            spark.createDataFrame([(1, -5)], "k long, val long"),
            t, "g", key="k", n_files=1)
    with pytest.raises(ValueError, match="source columns must equal"):
        S.branch_merge(
            spark.createDataFrame([(1,)], "k long"), t, "g", key="k",
            n_files=1)
    S.discard_branch(t, "g")


def test_branch_reinsert_survives_base_deletes(spark, tmp_path):
    # the base's merge-on-read delete of keys 1 and 2 applies to the
    # base's files only: the branch's re-insert of key 1 is newer, and
    # reads the same before and after publish
    t = _t(spark, tmp_path)
    S.delete(spark.createDataFrame([(1,), (2,)], "k long"), t, key="k",
             mode="merge-on-read")
    S.create_branch(t, "re")
    S.branch_append(spark.createDataFrame([(1,)], "k long"), t, "re",
                    n_files=1)
    branch = sorted(r.k for r in S.read_branch(spark, t, "re").collect())
    S.publish_branch(t, "re")
    published = sorted(r.k for r in S.read(spark, t).collect())
    assert published == [0, 1] + list(range(3, 10))
    assert branch == published


def test_branch_files_read_under_current_names_and_values(spark, tmp_path):
    # a branch append made after a rename and a defaulted add_column
    # stores the current names and its own values: the branch reads
    # them as main does after publish (not the pre-rename name's null
    # or the pre-add default)
    t = _t(spark, tmp_path)
    S.add_column(t, "c", "long", default=7)
    S.rename_column(t, "k", "key")
    S.create_branch(t, "era")
    S.branch_append(spark.createDataFrame([(10, 1)], "key long, c long"),
                    t, "era", n_files=1)
    branch = sorted(tuple(r) for r in S.read_branch(spark, t, "era")
                    .collect())
    S.publish_branch(t, "era")
    published = sorted(tuple(r) for r in S.read(spark, t).collect())
    assert published == [(k, 7) for k in range(10)] + [(10, 1)]
    assert branch == published
