"""Write-audit-publish as a one-commit branch (sources/snapshots.py:
create_branch + branch_append to stage, read_branch to audit,
publish_branch / discard_branch to graduate or drop).

Pins: staged data is invisible to production readers, the audit view
is exactly the snapshot publish makes, publish graduates atomically
and COMPOSES with commits that land mid-audit (append-append), discard
reclaims the staged files with zero trace, stage names are exclusive,
a published/discarded stage cannot be published again, CHECK
constraints validate at stage time, and constraint drift since the
stage refuses the publish.
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


def _stage(df, t, name):
    S.create_branch(t, name)
    S.branch_append(df, t, name, n_files=1)


def test_stage_is_invisible_until_published(spark, tmp_path):
    t = _t(spark, tmp_path)
    _stage(spark.range(10, 15).select(F.col("id").alias("k")), t, "batch")
    assert S.branches(t) == ["batch"]
    assert S.branch_versions(t, "batch") == [1]  # one staged commit
    assert S.read(spark, t).count() == 10  # production sees nothing
    assert S.versions(t) == [1]  # no version allocated
    assert S.read_branch(spark, t, "batch").count() == 15  # the audit
    assert S.publish_branch(t, "batch") == [2]
    assert S.read(spark, t).count() == 15
    assert S.branches(t) == []


def test_publish_composes_with_mid_audit_commits(spark, tmp_path):
    t = _t(spark, tmp_path)
    _stage(spark.range(10, 15).select(F.col("id").alias("k")), t, "batch")
    # a concurrent commit lands while the audit runs
    S.append(spark.range(100, 103).select(F.col("id").alias("k")), t,
             n_files=1)
    S.publish_branch(t, "batch")
    got = sorted(r.k for r in S.read(spark, t).collect())
    assert got == list(range(15)) + [100, 101, 102]  # nothing lost


def test_discard_reclaims_files_with_zero_trace(spark, tmp_path):
    t = _t(spark, tmp_path)
    _stage(spark.range(10, 15).select(F.col("id").alias("k")), t, "bad")
    staged_dirs = {e["path"].split(os.sep)[1]
                   for c in S._branch_state(t, "bad")[1]
                   for e in c["entries"]}
    assert staged_dirs
    S.discard_branch(t, "bad")
    assert S.branches(t) == [] and S.tags(t) == {}
    for d in staged_dirs:
        assert not os.path.exists(os.path.join(t, "data", d))
    assert S.read(spark, t).count() == 10


def test_stage_names_are_exclusive_and_consumed(spark, tmp_path):
    t = _t(spark, tmp_path)
    df = spark.range(20, 22).select(F.col("id").alias("k"))
    _stage(df, t, "x")
    with pytest.raises(ValueError, match="already exists"):
        S.create_branch(t, "x")
    S.publish_branch(t, "x")
    with pytest.raises(ValueError, match="already published or discarded"):
        S.publish_branch(t, "x")  # consumed: double publish refused
    with pytest.raises(ValueError, match="not found"):
        S.discard_branch(t, "x")
    assert S.read(spark, t).count() == 12  # graduated exactly once


def test_constraints_validate_at_stage_time(spark, tmp_path):
    t = os.path.join(str(tmp_path), "c")
    S.overwrite(spark.range(5).select(F.col("id").alias("k"),
                                      (F.col("id") * 1.0).alias("v")),
                t, n_files=1)
    S.add_constraint(spark, t, "v_nonneg", "v >= 0")
    bad = spark.createDataFrame([(9, -1.0)], "k long, v double")
    with pytest.raises(ValueError, match="v_nonneg"):
        _stage(bad, t, "bad")
    # refused before anything landed
    assert S.branch_versions(t, "bad") == []
    S.discard_branch(t, "bad")
    assert S.remove_orphans(t, older_than_seconds=0) == []


def test_staged_schema_evolution_carries_to_publish(spark, tmp_path):
    t = _t(spark, tmp_path)
    _stage(spark.createDataFrame([(50, "x")], "k long, tag string"), t,
           "evo")
    # the audit view already null-fills the old files
    audit = S.read_branch(spark, t, "evo")
    assert audit.filter("tag IS NULL").count() == 10
    S.publish_branch(t, "evo")
    got = S.read(spark, t)
    assert got.schema.fieldNames() == ["k", "tag"]
    assert got.filter("tag = 'x'").count() == 1


def test_pending_stage_survives_orphan_sweep(spark, tmp_path):
    # a stage's files are referenced by the branch manifest, not a
    # version — remove_orphans(0) must not reap a pending audit
    t = _t(spark, tmp_path)
    _stage(spark.range(10, 12).select(F.col("id").alias("k")), t,
           "pending")
    assert S.remove_orphans(t, older_than_seconds=0) == []
    assert S.read_branch(spark, t, "pending").count() == 12
    S.discard_branch(t, "pending")


def test_publish_refuses_constraint_drift_since_stage(spark, tmp_path):
    # a constraint added between stage-time validation and publish
    # would graduate unvalidated rows — the publish must refuse loudly;
    # re-staging validates under the new set
    t = _t(spark, tmp_path)
    _stage(spark.range(10, 15).select(F.col("id").alias("k")), t, "drift")
    S.add_constraint(spark, t, "k_small", "k < 100")
    with pytest.raises(ValueError, match="constraints changed"):
        S.publish_branch(t, "drift")
    # the stage survives the refused publish for discard/re-stage
    assert S.branches(t) == ["drift"]
    assert S.read(spark, t).count() == 10
    S.discard_branch(t, "drift")
    _stage(spark.range(10, 15).select(F.col("id").alias("k")), t, "drift2")
    S.publish_branch(t, "drift2")
    assert S.read(spark, t).count() == 15


def test_audit_view_applies_pending_deletes(spark, tmp_path):
    # the audit reads the snapshot publish will make: pending
    # merge-on-read deletes hide keys 1 and 2 of the base, and the
    # staged re-insert of key 1 is newer than the delete, so it stays
    t = _t(spark, tmp_path)
    S.delete(spark.createDataFrame([(1,), (2,)], "k long"), t, key="k",
             mode="merge-on-read")
    _stage(spark.createDataFrame([(1,)], "k long"), t, "re")
    audited = sorted(r.k for r in S.read_branch(spark, t, "re").collect())
    S.publish_branch(t, "re")
    published = sorted(r.k for r in S.read(spark, t).collect())
    assert published == [0, 1] + list(range(3, 10))
    assert audited == published


def test_audit_view_reads_staged_files_under_current_names(spark, tmp_path):
    # rows staged after a rename and a defaulted add_column carry the
    # current names and their own values in the audit view too
    t = _t(spark, tmp_path)
    S.add_column(t, "c", "long", default=7)
    S.rename_column(t, "k", "key")
    _stage(spark.createDataFrame([(10, 1)], "key long, c long"), t, "era")
    audited = sorted(tuple(r) for r in S.read_branch(spark, t, "era")
                     .collect())
    S.publish_branch(t, "era")
    published = sorted(tuple(r) for r in S.read(spark, t).collect())
    assert published == [(k, 7) for k in range(10)] + [(10, 1)]
    assert audited == published
