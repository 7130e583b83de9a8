"""Session plan-memo contracts.

One session memo (``session.session_memo``) stores LAZY plans only —
never rows — keyed on the session object:

- ``parquet.read_table`` / ``scan_partitions``: base-table read plans
  and split counts per table path;
- ``snapshots.read``: plain pinned-scan plans per (table, version).

Every key carries a ``path_stamp`` of the files its plan lists (the
table path, or the version's manifest). These tests pin the invariants
that make the memo safe: a pinned version's plan is reusable, the
LATEST read follows new commits, option-carrying reads bypass the memo,
the memoized plan still computes fresh rows every action, and no plan
is served after the files it lists were rewritten, recreated or
vacuumed. Export-query plans and CDC-feed plans are not memoized;
their tests check rows only.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from magshield_data_pipeline_spark.sources import snapshots as SN
from tests.conftest import SF_SMALL


@pytest.fixture()
def ledger(spark, tmp_path):
    t = str(tmp_path / "memo_tbl")
    SN.overwrite(spark.range(10).select(F.col("id").alias("k")), t, n_files=1)
    return t


def test_pinned_read_plan_is_memoized(spark, ledger):
    a = SN.read(spark, ledger, 1)
    b = SN.read(spark, ledger, 1)
    assert a is b, "identical pinned reads should share one plan object"


def test_latest_read_follows_new_commits(spark, ledger):
    before = SN.read(spark, ledger)
    assert before.count() == 10
    SN.append(spark.range(10, 15).select(F.col("id").alias("k")), ledger)
    after = SN.read(spark, ledger)
    assert after is not before, "latest read must re-resolve the version"
    assert after.count() == 15
    # the pinned v1 plan still serves the old snapshot
    assert SN.read(spark, ledger, 1).count() == 10


def test_option_reads_bypass_the_memo(spark, ledger):
    plain = SN.read(spark, ledger, 1)
    rep: dict = {}
    pruned = SN.read(spark, ledger, 1, prune=("k", 2, 5), report=rep)
    assert pruned is not plain
    assert rep["files_total"] == 1
    coords = SN.read(spark, ledger, 1, with_coords=True)
    assert coords is not plain
    assert "_pos" in coords.columns and "_pos" not in plain.columns


def test_memoized_plan_recomputes_rows_from_parquet(spark, ledger):
    df = SN.read(spark, ledger, 1)
    assert df.agg(F.sum("k")).collect()[0][0] == 45
    # the memo dies with the session object, not the process: a second
    # lookup after cache clear still recomputes through the scan
    spark.catalog.clearCache()
    assert SN.read(spark, ledger, 1).agg(F.sum("k")).collect()[0][0] == 45


def test_export_query_plan_memo_per_sf(spark):
    from magshield_data_pipeline_spark.plans.registry import QUERY_REGISTRY

    fn = QUERY_REGISTRY["organisation_export_pipeline"].fn
    a = fn(spark, SF_SMALL)
    b = fn(spark, SF_SMALL)
    assert a.count() == b.count() > 0


def test_cdc_feed_plan_is_memoized_and_recomputes(spark, ledger):
    # identical CDC windows recompute the same rows from parquet
    SN.append(spark.range(10, 15).select(F.col("id").alias("k")), ledger)
    a = SN.read_row_changes(spark, ledger, 1, 2)
    b = SN.read_row_changes(spark, ledger, 1, 2)
    assert a.count() == b.count() == 5
    spark.catalog.clearCache()
    assert SN.read_row_changes(spark, ledger, 1, 2).count() == 5


def test_memo_stamp_guards_recreated_table(spark, tmp_path):
    # VERDICT r12 item 4: a table directory deleted and RECREATED
    # in-session at the same path re-mints version numbers — the
    # manifest mtime stamp in the memo key must refuse the stale plan
    import os
    import shutil
    import time

    t = str(tmp_path / "recreate_tbl")
    SN.overwrite(spark.range(3).select(F.col("id").alias("k")), t, n_files=1)
    first = SN.read(spark, t, 1)
    assert first.count() == 3
    shutil.rmtree(t)
    time.sleep(0.01)  # ensure a distinct mtime_ns even on coarse clocks
    SN.overwrite(spark.range(7).select(F.col("id").alias("k")), t, n_files=1)
    fresh = SN.read(spark, t, 1)
    assert fresh is not first, "recreated table served a stale plan"
    assert fresh.count() == 7


def test_read_table_follows_in_place_rewrite(spark, tmp_path):
    # a table rewritten in place gets a new path stamp, so neither the
    # read plan nor the split count of the old files is served again
    from magshield_data_pipeline_spark.sources.parquet import (
        read_table,
        read_table_spread,
    )

    sf = str(tmp_path / "extract")
    path = f"{sf}/orders.parquet"
    spark.range(20).withColumnRenamed("id", "o_orderkey").write.parquet(path)
    assert read_table(spark, sf, "orders").count() == 20
    assert read_table_spread(spark, sf, "orders").count() == 20
    spark.range(25).withColumnRenamed("id", "o_orderkey") \
        .repartition(3).write.mode("overwrite").parquet(path)
    assert read_table(spark, sf, "orders").count() == 25
    assert read_table_spread(spark, sf, "orders").count() == 25


def test_cdc_feed_after_vacuum_fails_loudly(spark, tmp_path):
    # a vacuum of the window's intermediate manifests must not leave a
    # plan over deleted files behind: the same call raises, naming the
    # version whose before-image is gone
    t = str(tmp_path / "vac_tbl")
    SN.overwrite(spark.range(10).select(F.col("id").alias("k")), t, n_files=1)
    for lo in (10, 20, 30):
        SN.append(spark.range(lo, lo + 5).select(F.col("id").alias("k")), t)
    SN.tag(t, "base", 1)
    assert SN.read_row_changes(spark, t, 1, 4).count() == 15
    SN.vacuum(t, keep_versions=1)
    assert SN.versions(t) == [1, 4]
    with pytest.raises(ValueError, match="v3 vacuumed"):
        SN.read_row_changes(spark, t, 1, 4)
