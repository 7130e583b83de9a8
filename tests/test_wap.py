"""Write-audit-publish staged commits (sources/snapshots.py:
stage_append / read_staged / publish_staged / discard_staged).

Pins: staged data is invisible to production readers, the audit view
is exactly latest+staged, publish graduates atomically and COMPOSES
with commits that land mid-audit (append-append), discard reclaims
the staged files with zero trace, stage names are exclusive, a
published/discarded stage cannot be published again, and CHECK
constraints validate at stage time.
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


def test_stage_is_invisible_until_published(spark, tmp_path):
    t = _t(spark, tmp_path)
    S.stage_append(spark.range(10, 15).select(F.col("id").alias("k")),
                   t, "batch", n_files=1)
    assert S.staged(t) == ["batch"]
    assert S.read(spark, t).count() == 10  # production sees nothing
    assert S.versions(t) == [1]  # no version allocated
    assert S.read_staged(spark, t, "batch").count() == 15  # the audit
    v = S.publish_staged(t, "batch")
    assert v == 2 and S.read(spark, t).count() == 15
    assert S.staged(t) == []


def test_publish_composes_with_mid_audit_commits(spark, tmp_path):
    t = _t(spark, tmp_path)
    S.stage_append(spark.range(10, 15).select(F.col("id").alias("k")),
                   t, "batch", n_files=1)
    # a concurrent commit lands while the audit runs
    S.append(spark.range(100, 103).select(F.col("id").alias("k")), t,
             n_files=1)
    S.publish_staged(t, "batch")
    got = sorted(r.k for r in S.read(spark, t).collect())
    assert got == list(range(15)) + [100, 101, 102]  # nothing lost


def test_discard_reclaims_files_with_zero_trace(spark, tmp_path):
    t = _t(spark, tmp_path)
    S.stage_append(spark.range(10, 15).select(F.col("id").alias("k")),
                   t, "bad", n_files=1)
    p = S._wap_path(t, "bad")
    import json
    staged_dirs = {e["path"].split(os.sep)[1]
                   for e in json.load(open(p))["entries"]}
    S.discard_staged(t, "bad")
    assert S.staged(t) == []
    for d in staged_dirs:
        assert not os.path.exists(os.path.join(t, "data", d))
    assert S.read(spark, t).count() == 10


def test_stage_names_are_exclusive_and_consumed(spark, tmp_path):
    t = _t(spark, tmp_path)
    df = spark.range(20, 22).select(F.col("id").alias("k"))
    S.stage_append(df, t, "x", n_files=1)
    with pytest.raises(ValueError, match="already exists"):
        S.stage_append(df, t, "x", n_files=1)
    S.publish_staged(t, "x")
    with pytest.raises(ValueError, match="no stage"):
        S.publish_staged(t, "x")  # consumed: double publish refused
    with pytest.raises(ValueError, match="no stage"):
        S.discard_staged(t, "x")


def test_constraints_validate_at_stage_time(spark, tmp_path):
    t = os.path.join(str(tmp_path), "c")
    S.overwrite(spark.range(5).select(F.col("id").alias("k"),
                                      (F.col("id") * 1.0).alias("v")),
                t, n_files=1)
    S.add_constraint(spark, t, "v_nonneg", "v >= 0")
    bad = spark.createDataFrame([(9, -1.0)], "k long, v double")
    with pytest.raises(ValueError, match="v_nonneg"):
        S.stage_append(bad, t, "bad", n_files=1)
    assert S.staged(t) == []  # refused before anything landed


def test_staged_schema_evolution_carries_to_publish(spark, tmp_path):
    t = _t(spark, tmp_path)
    evolved = spark.createDataFrame([(50, "x")], "k long, tag string")
    S.stage_append(evolved, t, "evo", n_files=1)
    # the audit view already null-fills the old files
    audit = S.read_staged(spark, t, "evo")
    assert audit.filter("tag IS NULL").count() == 10
    S.publish_staged(t, "evo")
    got = S.read(spark, t)
    assert got.schema.fieldNames() == ["k", "tag"]
    assert got.filter("tag = 'x'").count() == 1


def test_pending_stage_survives_orphan_sweep(spark, tmp_path):
    # a stage's files are referenced by the STAGED manifest, not a
    # version — remove_orphans(0) must not reap a pending audit
    t = _t(spark, tmp_path)
    S.stage_append(spark.range(10, 12).select(F.col("id").alias("k")),
                   t, "pending", n_files=1)
    assert S.remove_orphans(t, older_than_seconds=0) == []
    assert S.read_staged(spark, t, "pending").count() == 12
    S.discard_staged(t, "pending")


def test_publish_refuses_constraint_drift_since_stage(spark, tmp_path):
    # ADVICE r11 low (TOCTOU): a constraint added between stage-time
    # validation and publish would graduate unvalidated rows — the
    # publish must refuse loudly; re-staging validates under the new
    # set
    t = _t(spark, tmp_path)
    S.stage_append(spark.range(10, 15).select(F.col("id").alias("k")),
                   t, "drift", n_files=1)
    S.add_constraint(spark, t, "k_small", "k < 100")
    with pytest.raises(ValueError, match="constraints changed"):
        S.publish_staged(t, "drift")
    # the stage survives the refused publish for discard/re-stage
    assert S.staged(t) == ["drift"]
    S.discard_staged(t, "drift")
    df = spark.range(10, 15).select(F.col("id").alias("k"))
    S.stage_append(df, t, "drift2", n_files=1)
    S.publish_staged(t, "drift2")
    assert S.read(spark, t).count() == 15


def test_audit_view_applies_pending_deletes(spark, tmp_path):
    # the audit reads the snapshot publish will make: pending
    # merge-on-read deletes hide keys 1 and 2 of the base, and the
    # staged re-insert of key 1 is newer than the delete, so it stays
    t = _t(spark, tmp_path)
    S.delete(spark.createDataFrame([(1,), (2,)], "k long"), t, key="k",
             mode="merge-on-read")
    S.stage_append(spark.createDataFrame([(1,)], "k long"), t, "re",
                   n_files=1)
    audited = sorted(r.k for r in S.read_staged(spark, t, "re").collect())
    S.publish_staged(t, "re")
    published = sorted(r.k for r in S.read(spark, t).collect())
    assert published == [0, 1] + list(range(3, 10))
    assert audited == published


def test_audit_view_reads_staged_files_under_current_names(spark, tmp_path):
    # rows staged after a rename and a defaulted add_column carry the
    # current names and their own values in the audit view too
    t = _t(spark, tmp_path)
    S.add_column(t, "c", "long", default=7)
    S.rename_column(t, "k", "key")
    S.stage_append(spark.createDataFrame([(10, 1)], "key long, c long"),
                   t, "era", n_files=1)
    audited = sorted(tuple(r) for r in S.read_staged(spark, t, "era")
                     .collect())
    S.publish_staged(t, "era")
    published = sorted(tuple(r) for r in S.read(spark, t).collect())
    assert published == [(k, 7) for k in range(10)] + [(10, 1)]
    assert audited == published
