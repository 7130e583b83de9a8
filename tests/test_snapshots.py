"""Snapshot-versioned table core: versioned manifests, time travel,
append/overwrite/compact, snapshot isolation, optimistic commit, and
manifest-level file pruning (sources/snapshots.py)."""

from __future__ import annotations

import json
import os

import pytest

from magshield_data_pipeline_spark.sources import snapshots as S


def _tbl(tmp_path, name):
    return str(tmp_path / name)


def test_append_overwrite_compact_version_chain(spark, tmp_path):
    t = _tbl(tmp_path, "t1")
    df1 = spark.range(0, 10).withColumnRenamed("id", "k")
    df2 = spark.range(10, 15).withColumnRenamed("id", "k")
    v1 = S.overwrite(df1, t, n_files=2)
    v2 = S.append(df2, t, n_files=2)
    v3 = S.compact(spark, t, n_files=1)
    assert (v1, v2, v3) == (1, 2, 3)
    assert S.versions(t) == [1, 2, 3]
    assert sorted(r.k for r in S.read(spark, t, 1).collect()) == list(range(10))
    assert sorted(r.k for r in S.read(spark, t, 2).collect()) == list(range(15))
    # compact is logically a no-op...
    assert sorted(r.k for r in S.read(spark, t).collect()) == list(range(15))
    # ...but physically shrinks the file list 4 -> 1
    assert len(S.read_manifest(t, 2)["files"]) == 4
    assert len(S.read_manifest(t, 3)["files"]) == 1


def test_snapshot_isolation_old_versions_survive_overwrite(spark, tmp_path):
    t = _tbl(tmp_path, "t2")
    S.overwrite(spark.range(0, 5).withColumnRenamed("id", "k"), t)
    old = S.read(spark, t, 1)  # reader pinned to v1
    S.overwrite(spark.range(100, 103).withColumnRenamed("id", "k"), t)
    # the later overwrite never deletes v1's files: the pinned reader
    # still sees exactly v1's rows AFTER the commit
    assert sorted(r.k for r in old.collect()) == [0, 1, 2, 3, 4]
    assert sorted(r.k for r in S.read(spark, t).collect()) == [100, 101, 102]


def test_manifest_publish_is_exclusive_and_composes(spark, tmp_path):
    # simulate a racing writer: pre-create the version the next commit
    # would take; the commit must NOT clobber it (os.link is exclusive),
    # must land on the following number, AND must carry the racer's
    # files forward (append-append conflicts compose, never lost-update)
    t = _tbl(tmp_path, "t3")
    S.overwrite(spark.range(3).withColumnRenamed("id", "k"), t)
    race = os.path.join(t, "_manifests", "v2.json")
    sentinel = {"path": "data/raced/part-sentinel.parquet", "rows": 0,
                "stats": {}}
    with open(race, "w") as f:
        json.dump({"version": 2, "operation": "race", "files":
                   S.read_manifest(t, 1)["files"] + [sentinel]}, f)
    v = S.append(spark.range(3, 5).withColumnRenamed("id", "k"), t)
    assert v == 3  # the loser retried past the raced version
    assert json.load(open(race))["operation"] == "race"  # untouched
    # v3's carry was re-resolved against v2, so the racer's file stays
    assert sentinel["path"] in {
        e["path"] for e in S.read_manifest(t, 3)["files"]
    }


def test_file_pruning_skips_disjoint_ranges(spark, tmp_path):
    t = _tbl(tmp_path, "t4")
    S.overwrite(spark.range(0, 100).withColumnRenamed("id", "k"), t,
                n_files=1)
    S.append(spark.range(1000, 1100).withColumnRenamed("id", "k"), t,
             n_files=1)
    full = S.read(spark, t)
    pruned = S.read(spark, t, prune=("k", 0.0, 50.0))
    # manifest stats prune the high-range file BEFORE Spark plans
    assert len(full.inputFiles()) == 2
    assert len(pruned.inputFiles()) == 1
    assert pruned.count() == 100  # pruning shrinks files, not rows...
    assert pruned.filter("k <= 50").count() == 51  # ...the filter does


def test_read_rejects_unknown_and_empty(spark, tmp_path):
    t = _tbl(tmp_path, "t5")
    with pytest.raises(ValueError, match="no versions"):
        S.read(spark, t)
    S.overwrite(spark.range(5).withColumnRenamed("id", "k"), t, n_files=1)
    with pytest.raises(ValueError, match="not in"):
        S.read(spark, t, 7)
    with pytest.raises(ValueError, match="after pruning"):
        S.read(spark, t, prune=("k", 1e9, 2e9))


def test_read_changes_is_the_file_diff(spark, tmp_path):
    t = _tbl(tmp_path, "t6")
    S.overwrite(spark.range(0, 10).withColumnRenamed("id", "k"), t)
    S.append(spark.range(10, 14).withColumnRenamed("id", "k"), t)
    S.append(spark.range(14, 15).withColumnRenamed("id", "k"), t)
    # v1 -> v2: exactly the appended rows; cost = the change, not the table
    assert sorted(r.k for r in S.read_changes(spark, t, 1, 2).collect()) \
        == list(range(10, 14))
    assert sorted(r.k for r in S.read_changes(spark, t, 1, 3).collect()) \
        == list(range(10, 15))
    with pytest.raises(ValueError, match="need from < to"):
        S.read_changes(spark, t, 2, 2)


def test_vacuum_reclaims_only_unreferenced_files(spark, tmp_path):
    t = _tbl(tmp_path, "t7")
    S.overwrite(spark.range(0, 6).withColumnRenamed("id", "k"), t, n_files=2)
    S.append(spark.range(6, 9).withColumnRenamed("id", "k"), t, n_files=1)
    S.compact(spark, t, n_files=1)  # v3 re-lists nothing from v1/v2
    deleted = S.vacuum(t, keep_versions=1)
    assert len(deleted) == 3  # v1's 2 files + v2's 1, none shared with v3
    assert S.versions(t) == [3]
    # the retained snapshot is fully readable after the reclaim
    assert sorted(r.k for r in S.read(spark, t).collect()) == list(range(9))
    # a vacuumed version fails loudly on its missing manifest
    with pytest.raises(ValueError, match="not in"):
        S.read(spark, t, 1)


def test_vacuum_keeps_files_shared_with_retained_versions(spark, tmp_path):
    t = _tbl(tmp_path, "t8")
    S.overwrite(spark.range(0, 4).withColumnRenamed("id", "k"), t, n_files=1)
    S.append(spark.range(4, 6).withColumnRenamed("id", "k"), t, n_files=1)
    # v2 carries v1's file forward: dropping v1 must DELETE NOTHING
    assert S.vacuum(t, keep_versions=1) == []
    assert sorted(r.k for r in S.read(spark, t).collect()) == list(range(6))


#: table states an epoch commit must compose with exactly as an append
#: does: pending merge-on-read deletes, and each kind of carried table
#: metadata (rename / drop / initial-default / widen history, CHECK
#: constraints)
_STREAM_SETUPS = {
    "plain": lambda spark, t: None,
    "mor_delete": lambda spark, t: S.delete(
        spark.createDataFrame([(1,), (2,), (3,)], "k long"), t, key="k",
        mode="merge-on-read"),
    "rename_column": lambda spark, t: S.rename_column(t, "v", "w"),
    "drop_column": lambda spark, t: S.drop_column(t, "v"),
    "add_column_default": lambda spark, t: S.add_column(
        t, "d", "long", default=7),
    "widen_column": lambda spark, t: S.widen_column(t, "v", "long"),
    "add_constraint": lambda spark, t: S.add_constraint(
        spark, t, "k_nonneg", "k >= 0"),
}


def _masked(m):
    """A manifest minus what an append and a stream append of the
    same batch legitimately differ in: operation, batch id, commit
    time and file paths."""
    out = {k: v for k, v in m.items()
           if k not in ("operation", "batch_id", "committed_at")}
    for k in ("files", "delete_files"):
        if k in out:
            out[k] = [{**e, "path": None} for e in out[k]]
    return out


@pytest.mark.parametrize("setup", list(_STREAM_SETUPS))
def test_stream_batch_commit_is_exactly_once(spark, tmp_path, setup):
    # an epoch commit is an append that records its batch id: on any
    # table state it publishes the manifest append publishes and reads
    # the same rows, and a replay of the epoch is a no-op
    from pyspark.sql.types import StructType

    base = spark.createDataFrame([(i, i * 10) for i in range(12)],
                                 "k long, v int")
    ta, ts = _tbl(tmp_path, "appended"), _tbl(tmp_path, "streamed")
    for t in (ta, ts):
        S.overwrite(base, t, n_files=2)
        _STREAM_SETUPS[setup](spark, t)
    schema = StructType.fromJson(
        S.read_manifest(ta, S.versions(ta)[-1])["schema"])
    batch = spark.createDataFrame(
        [tuple(100 + i if f.name == "k" else i for f in schema.fields)
         for i in range(2)], schema)
    va = S.append(batch, ta, n_files=1)
    vs = S.append_stream_batch(batch, ts, batch_id=0)
    assert vs == va
    ms = S.read_manifest(ts, vs)
    assert (ms["operation"], ms["batch_id"]) == ("stream-append", 0)
    assert _masked(ms) == _masked(S.read_manifest(ta, va))
    old = {e["path"] for e in S.read_manifest(ts, vs - 1)["files"]}
    assert [e["seq"] for e in ms["files"] if e["path"] not in old] == [vs]

    def rows(t):
        return sorted(tuple(r) for r in S.read(spark, t).collect())

    assert rows(ts) == rows(ta)
    # epoch REPLAY (failure re-run with the same batch_id): no-op, no
    # new version, table content unchanged
    assert S.append_stream_batch(batch, ts, batch_id=0) is None
    assert S.versions(ts)[-1] == vs
    assert rows(ts) == rows(ta)


def test_commit_survives_empty_part_files(spark, tmp_path):
    # 1 row split into 2 files leaves one part file EMPTY: the single
    # grouped stats job sees no row for it, and the manifest must
    # record it as rows=0 instead of crashing — reads stay correct
    t = _tbl(tmp_path, "t10")
    S.overwrite(spark.range(0, 1).withColumnRenamed("id", "k"), t,
                n_files=2)
    m = S.read_manifest(t, 1)
    assert sorted(e["rows"] for e in m["files"]) == [0, 1]
    assert [r.k for r in S.read(spark, t).collect()] == [0]


def test_stream_replay_is_noop_even_after_vacuum(spark, tmp_path):
    # ADVICE r9 (medium): _committed() used to scan only manifests, so
    # vacuuming the epoch's manifest re-opened the replay window. The
    # durable high-water file must keep the replay a no-op.
    t = _tbl(tmp_path, "t11")
    b0 = spark.range(0, 4).withColumnRenamed("id", "k")
    b1 = spark.range(4, 6).withColumnRenamed("id", "k")
    assert S.append_stream_batch(b0, t, batch_id=0) == 1
    assert S.append_stream_batch(b1, t, batch_id=1) == 2
    S.compact(spark, t, n_files=1)
    S.vacuum(t, keep_versions=1)  # drops BOTH stream-append manifests
    assert S.versions(t) == [3]
    # replay of the vacuumed epochs: still exactly-once
    assert S.append_stream_batch(b0, t, batch_id=0) is None
    assert S.append_stream_batch(b1, t, batch_id=1) is None
    assert S.versions(t) == [3]
    assert sorted(r.k for r in S.read(spark, t).collect()) == list(range(6))


def test_vacuum_backfills_high_water_from_dropped_manifests(spark, tmp_path):
    # a table written before the high-water file existed: vacuum must
    # carry the max dropped batch_id forward, not silently lose it
    t = _tbl(tmp_path, "t12")
    S.append_stream_batch(
        spark.range(3).withColumnRenamed("id", "k"), t, batch_id=7
    )
    os.remove(os.path.join(t, "_manifests", "_last_batch_id"))  # pre-hw table
    S.compact(spark, t, n_files=1)
    S.vacuum(t, keep_versions=1)
    assert S._read_high_water(t) == 7


def test_remove_orphans_reclaims_unreferenced_files_only(spark, tmp_path):
    t = _tbl(tmp_path, "t13")
    S.overwrite(spark.range(4).withColumnRenamed("id", "k"), t, n_files=1)
    orphan_dir = os.path.join(t, "data", "snap-crashed0000")
    os.makedirs(orphan_dir)
    orphan = os.path.join(orphan_dir, "part-00000-dead.parquet")
    with open(orphan, "wb") as f:
        f.write(b"debris")
    deleted = S.remove_orphans(t, older_than_seconds=0.0)
    assert deleted == [os.path.join("data", "snap-crashed0000",
                                    "part-00000-dead.parquet")]
    assert not os.path.exists(orphan_dir)  # empty husk pruned too
    # every referenced file survived; the table is intact
    assert sorted(r.k for r in S.read(spark, t).collect()) == [0, 1, 2, 3]


def test_remove_orphans_respects_grace_window(spark, tmp_path):
    # a file younger than the grace period is an IN-FLIGHT commit's
    # data, not debris — it must survive
    t = _tbl(tmp_path, "t14")
    S.overwrite(spark.range(2).withColumnRenamed("id", "k"), t, n_files=1)
    young_dir = os.path.join(t, "data", "snap-inflight000")
    os.makedirs(young_dir)
    young = os.path.join(young_dir, "part-00000-new.parquet")
    with open(young, "wb") as f:
        f.write(b"in-flight")
    assert S.remove_orphans(t, older_than_seconds=3600) == []
    assert os.path.exists(young)


def test_lost_replay_race_discards_its_own_files(spark, tmp_path):
    # ADVICE r9 (low): a replay that loses the race used to leave its
    # written files as permanent orphans; now it reclaims them itself
    t = _tbl(tmp_path, "t15")
    df = spark.range(3).withColumnRenamed("id", "k")
    assert S.append_stream_batch(df, t, batch_id=0) == 1
    before = {
        os.path.join(dp, f)
        for dp, _, fs in os.walk(os.path.join(t, "data")) for f in fs
    }
    assert S.append_stream_batch(df, t, batch_id=0) is None  # replay
    after = {
        os.path.join(dp, f)
        for dp, _, fs in os.walk(os.path.join(t, "data")) for f in fs
    }
    assert after == before  # no debris from the no-op replay


def test_schema_evolution_append_nulls_old_files(spark, tmp_path):
    # add-column evolution as a LEDGER commit: v2's manifest carries the
    # widened schema, v1's files are never rewritten, and a v2 reader
    # sees null for the new column on pre-evolution rows
    from pyspark.sql import functions as F

    t = _tbl(tmp_path, "t16")
    S.overwrite(spark.range(3).withColumnRenamed("id", "k"), t, n_files=1)
    v1_files = {e["path"] for e in S.read_manifest(t, 1)["files"]}
    S.append(
        spark.range(3, 5).withColumnRenamed("id", "k")
        .withColumn("tag", F.concat(F.lit("t"), F.col("k"))),
        t, n_files=1,
    )
    m2 = S.read_manifest(t, 2)
    assert v1_files <= {e["path"] for e in m2["files"]}  # zero rewrites
    assert [f["name"] for f in m2["schema"]["fields"]] == ["k", "tag"]
    rows = {r.k: r.tag for r in S.read(spark, t).collect()}
    assert rows == {0: None, 1: None, 2: None, 3: "t3", 4: "t4"}
    # time travel reads v1 under the schema it was committed with
    assert S.read(spark, t, 1).columns == ["k"]


def test_schema_evolution_type_conflict_fails_loudly(spark, tmp_path):
    from pyspark.sql import functions as F

    t = _tbl(tmp_path, "t17")
    S.overwrite(spark.range(3).withColumnRenamed("id", "k"), t, n_files=1)
    bad = spark.range(3, 4).select(
        F.col("id").cast("string").alias("k")
    )
    with pytest.raises(ValueError, match="schema evolution conflict"):
        S.append(bad, t, n_files=1)


def test_merge_rewrites_only_files_that_can_match(spark, tmp_path):
    from pyspark.sql import functions as F

    t = _tbl(tmp_path, "t18")
    low = spark.range(0, 10).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    high = spark.range(1000, 1010).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    S.overwrite(low, t, n_files=1)
    S.append(high, t, n_files=1)
    m_before = S.read_manifest(t, 2)
    high_file = next(
        e["path"] for e in m_before["files"] if e["stats"]["min_k"] >= 1000
    )
    low_file = next(
        e["path"] for e in m_before["files"] if e["stats"]["min_k"] < 1000
    )
    # source touches only the low range: update k=3, insert k=42
    src = spark.createDataFrame([(3, -1), (42, -2)], "k long, v long")
    reader_v2 = S.read(spark, t, 2)  # pinned BEFORE the merge
    v3 = S.merge(src, t, key="k", n_files=1)
    assert v3 == 3
    m_after = S.read_manifest(t, 3)
    paths_after = {e["path"] for e in m_after["files"]}
    assert high_file in paths_after   # disjoint file carried by reference
    assert low_file not in paths_after  # matched-range file rewritten
    got = {r.k: r.v for r in S.read(spark, t).collect()}
    assert got[3] == -1 and got[42] == -2          # update + insert
    assert got[5] == 50 and got[1005] == 10050     # pass-through both files
    assert len(got) == 21
    # snapshot isolation: the pinned v2 reader still sees pre-merge rows
    old = {r.k: r.v for r in reader_v2.collect()}
    assert old[3] == 30 and 42 not in old


def test_merge_pure_insert_when_no_file_can_match(spark, tmp_path):
    from pyspark.sql import functions as F

    t = _tbl(tmp_path, "t19")
    S.overwrite(
        spark.range(0, 5).select(F.col("id").alias("k"),
                                 F.lit(1).alias("v")), t, n_files=1
    )
    # a type-changed column is refused loudly (v is int in the table)
    src_long_v = spark.createDataFrame([(999, 2)], "k long, v long")
    with pytest.raises(ValueError, match="schema evolution conflict"):
        S.merge(src_long_v, t, key="k")
    src_int = spark.createDataFrame([(999,)], "k long").withColumn(
        "v", F.lit(2)
    )
    v2 = S.merge(src_int, t, key="k", n_files=1)
    m1_files = {e["path"] for e in S.read_manifest(t, 1)["files"]}
    m2 = S.read_manifest(t, v2)
    assert m1_files <= {e["path"] for e in m2["files"]}  # nothing rewritten
    assert sorted(r.k for r in S.read(spark, t).collect()) == \
        [0, 1, 2, 3, 4, 999]


def test_merge_fails_loudly_on_concurrent_commit(spark, tmp_path,
                                                 monkeypatch):
    import json as _json
    from pyspark.sql import functions as F

    t = _tbl(tmp_path, "t20")
    S.overwrite(
        spark.range(3).select(F.col("id").alias("k")), t, n_files=1
    )
    # simulate a commit racing in AFTER merge read its base (v1) but
    # BEFORE it publishes: inject the racer's v2 during the rewrite
    real_write = S._write_data_files

    def _write_then_race(df, table_path, n_files, **kw):
        entries = real_write(df, table_path, n_files, **kw)
        race = os.path.join(t, "_manifests", "v2.json")
        if not os.path.exists(race):
            with open(race, "w") as f:
                _json.dump({"version": 2, "operation": "race",
                            "files": S.read_manifest(t, 1)["files"]}, f)
        return entries

    monkeypatch.setattr(S, "_write_data_files", _write_then_race)
    src = spark.createDataFrame([(1,)], "k long")
    data_before = {
        os.path.join(dp, f)
        for dp, _, fs in os.walk(os.path.join(t, "data")) for f in fs
    }
    with pytest.raises(RuntimeError, match="serializable conflict"):
        S.merge(src, t, key="k")
    data_after = {
        os.path.join(dp, f)
        for dp, _, fs in os.walk(os.path.join(t, "data")) for f in fs
    }
    assert data_after == data_before  # failed merge reclaimed its rewrite


def test_merge_prunes_on_string_keys(spark, tmp_path):
    # string min/max stats make MERGE's copy-on-write pruning work for
    # non-numeric keys too (r10)
    from pyspark.sql import functions as F

    t = _tbl(tmp_path, "t21")
    low = spark.createDataFrame(
        [(f"a{i:03d}", i) for i in range(20)], "k string, v long"
    )
    high = spark.createDataFrame(
        [(f"z{i:03d}", i) for i in range(20)], "k string, v long"
    )
    S.overwrite(low, t, n_files=1)
    S.append(high, t, n_files=1)
    m = S.read_manifest(t, 2)
    z_file = next(e["path"] for e in m["files"]
                  if e["stats"]["min_k"].startswith("z"))
    src = spark.createDataFrame([("a005", -1), ("b000", -2)],
                                "k string, v long")
    S.merge(src, t, key="k", n_files=1)
    m3 = S.read_manifest(t, 3)
    assert z_file in {e["path"] for e in m3["files"]}  # carried untouched
    got = {r.k: r.v for r in S.read(spark, t).collect()}
    assert got["a005"] == -1 and got["b000"] == -2 and got["z010"] == 10
    assert len(got) == 41


def test_clustered_compaction_makes_stats_prune(spark, tmp_path):
    # interleaved ingestion: every file spans the whole key range and
    # stats prune NOTHING; a cluster_by compaction rewrites files onto
    # disjoint ranges and the same prune drops files (OPTIMIZE story)
    t = _tbl(tmp_path, "t22")
    df = spark.range(0, 100).withColumnRenamed("id", "k")
    S.overwrite(df, t, n_files=2)  # round-robin: both files span 0..99
    assert len(S.read(spark, t, prune=("k", 0.0, 9.0)).inputFiles()) == 2
    S.compact(spark, t, n_files=2, cluster_by=["k"])
    pruned = S.read(spark, t, prune=("k", 0.0, 9.0))
    assert len(pruned.inputFiles()) == 1
    # pruning is sound: the range filter still sees every row
    assert pruned.filter("k < 10").count() == 10
    assert S.read(spark, t).count() == 100  # compact stays a no-op


# --- row-level DELETE (copy-on-write, stats-pruned) ---------------------


def test_delete_rewrites_only_files_that_can_match(spark, tmp_path):
    from pyspark.sql import functions as F

    t = _tbl(tmp_path, "t23")
    S.overwrite(spark.range(0, 100).select(F.col("id").alias("k"),
                                           (F.col("id") * 10).alias("v")),
                t, n_files=1)
    # cluster into 4 disjoint-range files so stats can prune
    S.compact(spark, t, n_files=4, cluster_by=["k"])
    before = S.read_manifest(t, 2)["files"]
    keys = spark.createDataFrame([(3,), (7,)], "k long")
    v = S.delete(keys, t, key="k", n_files=1)
    assert v == 3
    after = S.read_manifest(t, 3)["files"]
    # exactly the files whose range covers k in {3,7} were rewritten;
    # the other three are carried by reference, byte-identical paths
    carried = {e["path"] for e in before} & {e["path"] for e in after}
    assert len(carried) == 3
    got = sorted(r.k for r in S.read(spark, t).collect())
    assert got == [k for k in range(100) if k not in (3, 7)]
    # snapshot isolation: a reader pinned pre-delete still sees the rows
    assert sorted(r.k for r in S.read(spark, t, 2).collect()) == list(range(100))


def test_delete_disjoint_keys_is_a_carry_only_commit(spark, tmp_path):
    from pyspark.sql import functions as F

    t = _tbl(tmp_path, "t24")
    S.overwrite(spark.range(0, 10).select(F.col("id").alias("k")), t,
                n_files=1)
    keys = spark.createDataFrame([(999,), (1000,)], "k long")
    v = S.delete(keys, t, key="k")
    # no file's [min,max] can contain 999: nothing rewritten, but the
    # commit still publishes (observable, and a txn marker could land)
    assert v == 2
    assert ({e["path"] for e in S.read_manifest(t, 1)["files"]}
            == {e["path"] for e in S.read_manifest(t, 2)["files"]})
    assert S.read(spark, t).count() == 10


def test_delete_txn_replay_is_noop_even_after_vacuum(spark, tmp_path):
    from pyspark.sql import functions as F

    t = _tbl(tmp_path, "t25")
    S.overwrite(spark.range(0, 20).select(F.col("id").alias("k")), t,
                n_files=1)
    keys = spark.createDataFrame([(1,), (2,)], "k long")
    v = S.delete(keys, t, key="k", txn=("retraction", 1))
    assert v == 2
    # immediate replay: no-op, no new version
    assert S.delete(keys, t, key="k", txn=("retraction", 1)) is None
    assert S.versions(t) == [1, 2]
    # age the txn manifest out of retention; the durable per-app
    # high-water must keep the replay a no-op
    S.append(spark.range(100, 103).select(F.col("id").alias("k")), t)
    S.vacuum(t, keep_versions=1)
    assert S.versions(t) == [3]
    assert S.delete(keys, t, key="k", txn=("retraction", 1)) is None
    assert S.versions(t) == [3]
    # a NEW txn version still commits
    keys2 = spark.createDataFrame([(5,)], "k long")
    assert S.delete(keys2, t, key="k", txn=("retraction", 2)) == 4


def test_merge_rejects_extra_source_columns(spark, tmp_path):
    # ADVICE r10 (medium): extra source columns used to be silently
    # dropped for rewritten rows yet published in the schema
    from pyspark.sql import functions as F

    t = _tbl(tmp_path, "t26")
    S.overwrite(spark.range(0, 5).select(F.col("id").alias("k"),
                                         F.lit(1).alias("v")), t, n_files=1)
    src = spark.createDataFrame([(2, 9, "hello")], "k long, v int, note string")
    with pytest.raises(ValueError, match="columns .* the table lacks"):
        S.merge(src, t, key="k")
    # and the table is untouched by the refused merge
    assert S.versions(t) == [1]


def test_integer_stats_stay_exact_beyond_2_53(spark, tmp_path):
    # ADVICE r10 (low): float64 coercion rounds keys beyond 2^53 and a
    # rounded-narrower [min,max] silently mis-prunes
    from pyspark.sql import functions as F

    t = _tbl(tmp_path, "t27")
    big = (1 << 53) + 1  # not representable in float64
    df = spark.createDataFrame([(big,), (big + 2,)], "k long")
    S.overwrite(df, t, n_files=1)
    stats = S.read_manifest(t, 1)["files"][0]["stats"]
    assert stats["min_k"] == big and isinstance(stats["min_k"], int)
    assert stats["max_k"] == big + 2
    # merge on the exact boundary key must touch (rewrite) the file
    src = spark.createDataFrame([(big, )], "k long")
    S.merge(src.withColumn("dummy", F.lit(None).cast("long")).drop("dummy"),
            t, key="k")
    assert S.read(spark, t).count() == 2  # replaced, not duplicated


def test_remove_orphans_default_grace_is_conservative(spark, tmp_path):
    # ADVICE r10 (low): a default-arg call must never reap files an
    # in-flight commit just wrote
    from pyspark.sql import functions as F

    t = _tbl(tmp_path, "t28")
    S.overwrite(spark.range(3).select(F.col("id").alias("k")), t, n_files=1)
    orphan_dir = os.path.join(t, "data", "snap-inflight0001")
    os.makedirs(orphan_dir)
    orphan = os.path.join(orphan_dir, "part-00000.parquet")
    with open(orphan, "wb") as f:
        f.write(b"PAR1fake")
    assert S.remove_orphans(t) == []          # default: 24 h grace
    assert os.path.exists(orphan)
    deleted = S.remove_orphans(t, older_than_seconds=0.0)
    assert deleted == [os.path.relpath(orphan, t)]


# --- timestamp travel ----------------------------------------------------


def test_timestamp_travel_agrees_with_version_travel(spark, tmp_path):
    import time as _time

    from pyspark.sql import functions as F

    t = _tbl(tmp_path, "t29")
    S.overwrite(spark.range(0, 3).select(F.col("id").alias("k")), t)
    _time.sleep(0.05)
    S.append(spark.range(3, 6).select(F.col("id").alias("k")), t)
    at1 = S.read_manifest(t, 1)["committed_at"]
    at2 = S.read_manifest(t, 2)["committed_at"]
    assert at1 < at2
    mid = (at1 + at2) / 2
    assert S.version_as_of(t, mid) == 1
    assert S.version_as_of(t, at2) == 2
    assert sorted(r.k for r in S.read(spark, t, as_of=mid).collect()) == [0, 1, 2]
    assert sorted(r.k for r in S.read(spark, t, as_of=at2 + 1).collect()) \
        == [0, 1, 2, 3, 4, 5]
    with pytest.raises(ValueError, match="predates the first commit"):
        S.version_as_of(t, at1 - 10)
    with pytest.raises(ValueError, match="at most one of version"):
        S.read(spark, t, 1, as_of=mid)


# --- row-level CDC -------------------------------------------------------


def _changes(spark, t, lo, hi):
    rows = S.read_row_changes(spark, t, lo, hi).collect()
    return sorted((r["_change_type"], r["_commit_version"], r["k"])
                  for r in rows)


def test_row_changes_append_is_insert(spark, tmp_path):
    from pyspark.sql import functions as F

    t = _tbl(tmp_path, "t30")
    S.overwrite(spark.range(0, 2).select(F.col("id").alias("k")), t)
    S.append(spark.range(2, 4).select(F.col("id").alias("k")), t)
    assert _changes(spark, t, 1, 2) == [("insert", 2, 2), ("insert", 2, 3)]


def test_row_changes_compact_emits_zero(spark, tmp_path):
    from pyspark.sql import functions as F

    t = _tbl(tmp_path, "t31")
    S.overwrite(spark.range(0, 50).select(F.col("id").alias("k")), t,
                n_files=4)
    S.compact(spark, t, n_files=1, cluster_by=["k"])
    out = S.read_row_changes(spark, t, 1, 2)
    # a maintenance commit must NOT wake downstream subscribers
    assert out.count() == 0
    assert "_change_type" in out.columns and "k" in out.columns


def test_row_changes_merge_classifies_and_skips_carried_rows(spark, tmp_path):
    from pyspark.sql import functions as F

    t = _tbl(tmp_path, "t32")
    S.overwrite(spark.range(0, 10).select(F.col("id").alias("k"),
                                          (F.col("id") * 10).alias("v")),
                t, n_files=1)
    # update k=3 (new v), restate k=4 identically (carried), insert k=100
    src = spark.createDataFrame([(3, 999), (4, 40), (100, 1000)],
                                "k long, v long")
    S.merge(src, t, key="k", n_files=1)
    got = _changes(spark, t, 1, 2)
    # k=4 is byte-identical after the rewrite: NO change row for it
    assert got == [
        ("insert", 2, 100),
        ("update_postimage", 2, 3),
        ("update_preimage", 2, 3),
    ]
    pre = [r for r in S.read_row_changes(spark, t, 1, 2).collect()
           if r["_change_type"] == "update_preimage"][0]
    post = [r for r in S.read_row_changes(spark, t, 1, 2).collect()
            if r["_change_type"] == "update_postimage"][0]
    assert (pre["v"], post["v"]) == (30, 999)


def test_row_changes_delete_emits_preimage(spark, tmp_path):
    from pyspark.sql import functions as F

    t = _tbl(tmp_path, "t33")
    S.overwrite(spark.range(0, 10).select(F.col("id").alias("k"),
                                          (F.col("id") + 100).alias("v")),
                t, n_files=1)
    keys = spark.createDataFrame([(2,), (5,)], "k long")
    S.delete(keys, t, key="k")
    got = _changes(spark, t, 1, 2)
    assert got == [("delete", 2, 2), ("delete", 2, 5)]
    # the pre-image carries the deleted rows' full values
    vals = sorted(r["v"] for r in S.read_row_changes(spark, t, 1, 2).collect())
    assert vals == [102, 105]


def test_row_changes_overwrite_is_full_diff(spark, tmp_path):
    from pyspark.sql import functions as F

    t = _tbl(tmp_path, "t34")
    S.overwrite(spark.range(0, 4).select(F.col("id").alias("k")), t)
    S.overwrite(spark.range(2, 6).select(F.col("id").alias("k")), t)
    assert _changes(spark, t, 1, 2) == [
        ("delete", 2, 0), ("delete", 2, 1),
        ("insert", 2, 4), ("insert", 2, 5),
    ]


def test_row_changes_span_multiple_commit_types(spark, tmp_path):
    from pyspark.sql import functions as F

    t = _tbl(tmp_path, "t35")
    S.overwrite(spark.range(0, 6).select(F.col("id").alias("k"),
                                         F.lit(1).cast("long").alias("v")),
                t, n_files=1)
    S.append(spark.createDataFrame([(10, 1)], "k long, v long"), t)   # v2
    S.compact(spark, t, n_files=1, cluster_by=["k"])                  # v3
    S.merge(spark.createDataFrame([(0, 7)], "k long, v long"), t,
            key="k")                                                  # v4
    S.delete(spark.createDataFrame([(10,)], "k long"), t, key="k")    # v5
    got = _changes(spark, t, 1, 5)
    assert got == [
        ("delete", 5, 10),
        ("insert", 2, 10),
        ("update_postimage", 4, 0),
        ("update_preimage", 4, 0),
    ]


def test_merge_txn_replay_is_noop_even_after_vacuum(spark, tmp_path):
    from pyspark.sql import functions as F

    t = _tbl(tmp_path, "t36")
    S.overwrite(spark.range(0, 10).select(F.col("id").alias("k"),
                                          F.lit(0).cast("long").alias("v")),
                t, n_files=1)
    src = spark.createDataFrame([(3, 7), (100, 1)], "k long, v long")
    assert S.merge(src, t, key="k", txn=("stats-fold", 1)) == 2
    # replay: no-op, no version — a double-applied additive fold would
    # otherwise corrupt the statistics it maintains
    assert S.merge(src, t, key="k", txn=("stats-fold", 1)) is None
    assert S.versions(t) == [1, 2]
    # durability: vacuum the merge's manifest; the replay stays a no-op
    S.append(spark.createDataFrame([(200, 2)], "k long, v long"), t)
    S.vacuum(t, keep_versions=1)
    assert S.merge(src, t, key="k", txn=("stats-fold", 1)) is None
    # a NEW txn version still commits
    assert S.merge(src, t, key="k", txn=("stats-fold", 2)) == 4


# --- identity partition spec -------------------------------------------


def test_partitioned_write_records_values_and_read_restores_column(
        spark, tmp_path):
    from pyspark.sql import functions as F

    t = _tbl(tmp_path, "t37")
    df = spark.range(0, 30).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).cast("string").alias("bucket"),
    )
    S.overwrite(df, t, n_files=2, partition_by="bucket")
    m = S.read_manifest(t, 1)
    # every entry carries its exact partition value
    assert all(e.get("partition", {}).get("bucket") in {"0", "1", "2"}
               for e in m["files"])
    assert {e["partition"]["bucket"] for e in m["files"]} == {"0", "1", "2"}
    # hive-layout files don't store the column; the manifest restores
    # it typed per the committed schema
    got = S.read(spark, t)
    assert set(got.columns) == {"k", "bucket"}
    rows = {(r.k, r.bucket) for r in got.collect()}
    assert rows == {(i, str(i % 3)) for i in range(30)}


def test_partition_pruning_is_exact(spark, tmp_path):
    from pyspark.sql import functions as F

    t = _tbl(tmp_path, "t38")
    df = spark.range(0, 40).select(
        F.col("id").alias("k"),
        (F.col("id") % 4).cast("string").alias("bucket"),
    )
    S.overwrite(df, t, n_files=1, partition_by="bucket")
    full = S.read(spark, t)
    pruned = S.read(spark, t, partitions={"bucket": ["1", "3"]})
    # exact identity pruning: only the matching values' files planned
    assert len(full.inputFiles()) == 4
    assert len(pruned.inputFiles()) == 2
    assert sorted(r.k for r in pruned.collect()) \
        == [i for i in range(40) if i % 4 in (1, 3)]
    # a non-partitioned append coexists: its files are kept
    # conservatively under partition pruning
    S.append(spark.createDataFrame([(100, "9")], "k long, bucket string"), t,
             n_files=1)
    mixed = S.read(spark, t, partitions={"bucket": ["1"]})
    ks = sorted(r.k for r in mixed.collect())
    assert 100 in ks and all(k % 4 == 1 for k in ks if k < 40)


def test_partitioned_row_cdc_and_merge_still_work(spark, tmp_path):
    # the partition column lives in manifest metadata, not footers —
    # the before/after-image scans must restore it for CDC and merge
    from pyspark.sql import functions as F

    t = _tbl(tmp_path, "t39")
    df = spark.range(0, 12).select(
        F.col("id").alias("k"),
        (F.col("id") % 2).cast("string").alias("side"),
    )
    S.overwrite(df, t, n_files=1, partition_by="side")
    src = spark.createDataFrame([(2, "0"), (50, "0")], "k long, side string")
    S.merge(src, t, key="k")
    got = {(r.k, r.side) for r in S.read(spark, t).collect()}
    assert (50, "0") in got and (2, "0") in got and len(got) == 13
    ch = S.read_row_changes(spark, t, 1, 2)
    kinds = {(r["_change_type"], r["k"]) for r in ch.collect()}
    assert ("insert", 50) in kinds
    assert not any(k == "update_postimage" and key == 2 for k, key in kinds) \
        or ("update_preimage", 2) in kinds


# --- merge-on-read equality deletes -------------------------------------


def test_mor_delete_rewrites_nothing_and_reader_applies(spark, tmp_path):
    from pyspark.sql import functions as F

    t = _tbl(tmp_path, "t40")
    S.overwrite(spark.range(0, 20).select(F.col("id").alias("k"),
                                          (F.col("id") * 2).alias("v")),
                t, n_files=2)
    before_files = [e["path"] for e in S.read_manifest(t, 1)["files"]]
    keys = spark.createDataFrame([(3,), (7,), (11,)], "k long")
    v = S.delete(keys, t, key="k", mode="merge-on-read")
    assert v == 2
    m = S.read_manifest(t, 2)
    # ZERO data files rewritten: the file list is byte-identical
    assert [e["path"] for e in m["files"]] == before_files
    assert len(m["delete_files"]) == 1 and m["delete_files"][0]["key"] == "k"
    # the reader anti-joins the equality-delete file
    assert sorted(r.k for r in S.read(spark, t).collect()) \
        == [k for k in range(20) if k not in (3, 7, 11)]
    # snapshot isolation: pinned pre-delete reader sees everything
    assert S.read(spark, t, 1).count() == 20


def test_mor_delete_reinsert_survives_by_sequence_number(spark, tmp_path):
    from pyspark.sql import functions as F

    t = _tbl(tmp_path, "t41")
    S.overwrite(spark.range(0, 10).select(F.col("id").alias("k")), t,
                n_files=1)
    S.delete(spark.createDataFrame([(4,)], "k long"), t, key="k",
             mode="merge-on-read")
    # re-insert the deleted key AFTER the delete: its data file has a
    # HIGHER sequence number, so the delete must not apply to it
    S.append(spark.createDataFrame([(4,)], "k long"), t, n_files=1)
    got = sorted(r.k for r in S.read(spark, t).collect())
    assert got == [0, 1, 2, 3, 4, 5, 6, 7, 8, 9]
    # and the delete still applies to the ORIGINAL file's row: exactly
    # one 4 (the re-inserted one), not two
    assert got.count(4) == 1


def test_mor_compact_materializes_and_unblocks_cow(spark, tmp_path):
    from pyspark.sql import functions as F

    t = _tbl(tmp_path, "t42")
    S.overwrite(spark.range(0, 12).select(F.col("id").alias("k"),
                                          F.lit(1).cast("long").alias("v")),
                t, n_files=1)
    S.delete(spark.createDataFrame([(2,), (5,)], "k long"), t, key="k",
             mode="merge-on-read")
    # copy-on-write ops refuse while equality-deletes are pending
    src = spark.createDataFrame([(0, 9)], "k long, v long")
    with pytest.raises(ValueError, match="pending merge-on-read"):
        S.merge(src, t, key="k")
    with pytest.raises(ValueError, match="pending merge-on-read"):
        S.delete(spark.createDataFrame([(1,)], "k long"), t, key="k")
    # compact() materializes: same rows, delete files dropped
    S.compact(spark, t, n_files=1)
    m = S.read_manifest(t, 3)
    assert not m.get("delete_files")
    assert sorted(r.k for r in S.read(spark, t).collect()) \
        == [k for k in range(12) if k not in (2, 5)]
    # and copy-on-write works again
    assert S.merge(src, t, key="k") == 4
    # vacuum now reclaims the delete file along with the old data
    deleted = S.vacuum(t, keep_versions=1)
    assert any("data/" in p for p in deleted)
    assert sorted(r.k for r in S.read(spark, t).collect()) \
        == [k for k in range(12) if k not in (2, 5)]


def test_mor_delete_row_cdc_emits_visible_preimages_only(spark, tmp_path):
    from pyspark.sql import functions as F

    t = _tbl(tmp_path, "t43")
    S.overwrite(spark.range(0, 10).select(F.col("id").alias("k"),
                                          (F.col("id") + 100).alias("v")),
                t, n_files=1)
    S.delete(spark.createDataFrame([(2,), (6,)], "k long"), t, key="k",
             mode="merge-on-read")                                   # v2
    # second MOR delete overlapping the first: k=6 is ALREADY invisible
    # and must not be re-emitted as a change
    S.delete(spark.createDataFrame([(6,), (8,)], "k long"), t, key="k",
             mode="merge-on-read")                                   # v3
    got2 = sorted((r["_change_type"], r["k"], r["v"])
                  for r in S.read_row_changes(spark, t, 1, 2).collect())
    assert got2 == [("delete", 2, 102), ("delete", 6, 106)]
    got3 = sorted((r["_change_type"], r["k"], r["v"])
                  for r in S.read_row_changes(spark, t, 2, 3).collect())
    assert got3 == [("delete", 8, 108)]


def test_mor_delete_txn_replay_is_noop(spark, tmp_path):
    from pyspark.sql import functions as F

    t = _tbl(tmp_path, "t44")
    S.overwrite(spark.range(0, 6).select(F.col("id").alias("k")), t,
                n_files=1)
    keys = spark.createDataFrame([(1,)], "k long")
    assert S.delete(keys, t, key="k", mode="merge-on-read",
                    txn=("mor-retract", 1)) == 2
    assert S.delete(keys, t, key="k", mode="merge-on-read",
                    txn=("mor-retract", 1)) is None
    assert S.versions(t) == [1, 2]
    assert len(S.read_manifest(t, 2)["delete_files"]) == 1


def test_cdc_apply_replication_is_exactly_once(spark):
    # the replication loop applies each source commit under an app-txn:
    # a re-run must add NO replica versions and return identical rows
    from magshield_data_pipeline_spark.plans.registry import QUERY_REGISTRY
    from magshield_data_pipeline_spark.sources.scratch import scratch_path
    from tests.conftest import SF_SMALL

    fn = QUERY_REGISTRY["snapshot_cdc_apply"].fn
    first = {r.stage: (r.n_docs, r.id_sum, r.text_chars)
             for r in fn(spark, SF_SMALL).collect()}
    assert first["replica_final"] == first["source_final"]
    rep = scratch_path(
        "snap_cdc_replica", SF_SMALL,
        "v1=source@1 copy; query applies CDC: v2 mor-merge upserts "
        "txn(cdc-apply,2), v3 mor-delete txn(cdc-apply,3), v4 guarded "
        "compact",
    )
    vs = S.versions(rep)
    # base, zero-rewrite merge apply, delete-file apply, materialization
    assert vs == [1, 2, 3, 4]
    assert not S.read_manifest(rep, 4).get("delete_files")
    second = {r.stage: (r.n_docs, r.id_sum, r.text_chars)
              for r in fn(spark, SF_SMALL).collect()}
    assert first == second
    assert S.versions(rep) == vs


def test_mor_merge_is_zero_rewrite_upsert(spark, tmp_path):
    from pyspark.sql import functions as F

    t = _tbl(tmp_path, "t45")
    S.overwrite(spark.range(0, 10).select(F.col("id").alias("k"),
                                          (F.col("id") * 10).alias("v")),
                t, n_files=2)
    before_files = [e["path"] for e in S.read_manifest(t, 1)["files"]]
    # update k=3, restate k=4 identically, insert k=100 — one commit
    src = spark.createDataFrame([(3, 999), (4, 40), (100, 1000)],
                                "k long, v long")
    assert S.merge(src, t, key="k", mode="merge-on-read",
                   txn=("mor-upsert", 1)) == 2
    m = S.read_manifest(t, 2)
    # every pre-existing data file carried byte-identical; post-images
    # appended; one equality-delete file
    assert set(before_files) <= {e["path"] for e in m["files"]}
    assert len(m["files"]) > len(before_files)
    assert len(m["delete_files"]) == 1
    got = {(r.k, r.v) for r in S.read(spark, t).collect()}
    want = {(k, k * 10) for k in range(10) if k != 3} | {(3, 999), (100, 1000)}
    assert got == want
    # replay: no-op; pinned pre-merge reader unaffected
    assert S.merge(src, t, key="k", mode="merge-on-read",
                   txn=("mor-upsert", 1)) is None
    assert S.read(spark, t, 1).count() == 10
    # CDC classification matches copy-on-write semantics: identical
    # restatement (k=4) emits nothing
    ch = sorted((r["_change_type"], r["k"], r["v"])
                for r in S.read_row_changes(spark, t, 1, 2).collect())
    assert ch == [
        ("insert", 100, 1000),
        ("update_postimage", 3, 999),
        ("update_preimage", 3, 30),
    ]
    # compact materializes; content unchanged
    S.compact(spark, t, n_files=1)
    assert not S.read_manifest(t, 3).get("delete_files")
    assert {(r.k, r.v) for r in S.read(spark, t).collect()} == want


def test_mor_merge_then_mor_delete_layering(spark, tmp_path):
    # layered pending deletes: a MOR merge's post-image must survive its
    # own delete file but die to a LATER delete
    from pyspark.sql import functions as F

    t = _tbl(tmp_path, "t46")
    S.overwrite(spark.range(0, 6).select(F.col("id").alias("k"),
                                         F.lit(0).cast("long").alias("v")),
                t, n_files=1)
    S.merge(spark.createDataFrame([(2, 7)], "k long, v long"), t,
            key="k", mode="merge-on-read")                        # v2
    assert {(r.k, r.v) for r in S.read(spark, t).collect()} \
        == {(k, 0) for k in range(6) if k != 2} | {(2, 7)}
    S.delete(spark.createDataFrame([(2,)], "k long"), t, key="k",
             mode="merge-on-read")                                # v3
    got = {(r.k, r.v) for r in S.read(spark, t).collect()}
    assert got == {(k, 0) for k in range(6) if k != 2}


def test_purge_deletes_rewrites_only_hit_files(spark, tmp_path):
    # MINOR compaction (r12): pending equality-delete files are
    # materialized into ONLY the data files their key ranges can hit;
    # disjoint files are carried byte-identical, and the purge commit
    # is CDC-silent (a compact variant)
    import os as _os

    from pyspark.sql import functions as F

    t = _os.path.join(str(tmp_path), "purge")
    rows = spark.range(0, 400).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v"))
    S.overwrite(rows, t, n_files=1)
    S.compact(spark, t, n_files=4, cluster_by=["k"])  # disjoint ranges
    before = {e["path"] for e in S.read_manifest(t, 2)["files"]}
    # MOR-delete a set confined to the low key range
    S.delete(spark.createDataFrame([(5,), (17,), (42,)], "k long"),
             t, key="k", mode="merge-on-read")
    v = S.purge_deletes(spark, t, n_files=1)
    m = S.read_manifest(t, v)
    assert m.get("mode") == "purge-deletes"
    assert not m.get("delete_files")
    carried = {e["path"] for e in m["files"]} & before
    # the three keys live in one clustered file; the other three files
    # must be carried by reference, byte-untouched
    assert len(carried) == 3
    got = sorted(r.k for r in S.read(spark, t).collect())
    assert got == [k for k in range(400) if k not in (5, 17, 42)]
    # CDC-silent: the feed emits nothing for the purge commit
    assert S.read_row_changes(spark, t, v - 1, v).count() == 0
    # nothing pending: purge is a no-op returning None
    assert S.purge_deletes(spark, t) is None


def test_purge_deletes_respects_sequence_numbers(spark, tmp_path):
    # a key re-inserted AFTER its delete file must survive the purge
    # (the Iceberg v2 sequence-number contract _scan_with_deletes pins)
    import os as _os

    t = _os.path.join(str(tmp_path), "purge_seq")
    S.overwrite(spark.createDataFrame(
        [(1, "a"), (2, "b")], "k long, v string"), t, n_files=1)
    S.delete(spark.createDataFrame([(1,)], "k long"), t, key="k",
             mode="merge-on-read")
    S.append(spark.createDataFrame([(1, "a-reborn")], "k long, v string"),
             t, n_files=1)  # newer seq: the delete must not apply
    v = S.purge_deletes(spark, t)
    got = sorted((r.k, r.v) for r in S.read(spark, t).collect())
    assert got == [(1, "a-reborn"), (2, "b")]
    assert not S.read_manifest(t, v).get("delete_files")


def test_recluster_rewrites_only_overlapping_files(spark, tmp_path):
    # liquid-clustering shape (r12): after a clustered base, a small
    # append confined to one key range must trigger a rewrite of ONLY
    # that range's overlap group; disjoint files are carried untouched
    import os as _os

    from pyspark.sql import functions as F

    t = _os.path.join(str(tmp_path), "liq")
    rows = spark.range(0, 400).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v"))
    S.overwrite(rows, t, n_files=1)
    S.compact(spark, t, n_files=4, cluster_by=["k"])  # disjoint base
    base_files = {e["path"] for e in S.read_manifest(t, 2)["files"]}
    # already disjoint: recluster is a no-op returning None
    assert S.recluster(spark, t, ["k"]) is None
    # append keys confined to the LOW range (duplicates are fine for
    # append semantics; marker value distinguishes them)
    S.append(spark.range(0, 50).select(
        F.col("id").alias("k"), F.lit(-1).cast("long").alias("v")), t, n_files=2)
    v = S.recluster(spark, t, ["k"])
    m = S.read_manifest(t, v)
    assert m["operation"] == "compact" and m["mode"] == "recluster"
    carried = {e["path"] for e in m["files"]} & base_files
    assert len(carried) == 3  # only the low-range file was rewritten
    # post state: all files pairwise disjoint on k again
    spans = sorted(
        (e["stats"][f"min_k"], e["stats"][f"max_k"]) for e in m["files"])
    assert all(spans[i][1] < spans[i + 1][0] for i in range(len(spans) - 1))
    # content identical to pre-recluster (CDC-silent compact contract)
    got = S.read(spark, t).groupBy().agg(
        F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv")).collect()[0]
    assert (got["n"], got["sv"]) == (450, sum(3 * k for k in range(400)) - 50)
    assert S.read_row_changes(spark, t, v - 1, v).count() == 0


def test_recluster_materializes_deletes_in_rewritten_groups(spark, tmp_path):
    # pending MOR deletes stay in force for carried files and are
    # materialized into the rewritten group (sequence-number safety:
    # the rewrite must not resurrect deleted rows)
    import os as _os

    from pyspark.sql import functions as F

    t = _os.path.join(str(tmp_path), "liq_del")
    rows = spark.range(0, 200).select(
        F.col("id").alias("k"), F.col("id").alias("v"))
    S.overwrite(rows, t, n_files=1)
    S.compact(spark, t, n_files=2, cluster_by=["k"])  # [0,99] [100,199]
    S.delete(spark.createDataFrame([(5,), (150,)], "k long"), t,
             key="k", mode="merge-on-read")
    S.append(spark.range(0, 30).select(
        F.col("id").alias("k"), F.lit(-7).cast("long").alias("v")), t, n_files=1)
    v = S.recluster(spark, t, ["k"])
    m = S.read_manifest(t, v)
    # the delete files remain (they still guard the carried high file)
    assert m.get("delete_files")
    got = sorted((r.k, r.v) for r in S.read(spark, t).collect())
    expect = sorted(
        [(k, k) for k in range(200) if k not in (5, 150)]
        + [(k, -7) for k in range(30)]
    )
    assert got == expect


def test_table_column_stats_metadata_only(spark, tmp_path):
    # exact count/min/max served from the manifest — proven zero data
    # I/O by answering AFTER the data directory is physically moved
    # away (r12 aggregate pushdown)
    import os as _os
    import shutil

    from pyspark.sql import functions as F

    t = _os.path.join(str(tmp_path), "aggp")
    S.overwrite(spark.range(0, 300).select(
        F.col("id").alias("k"), (F.col("id") * 7 % 97).alias("v")),
        t, n_files=3)
    S.merge(spark.createDataFrame([(50, 9999), (301, -3)],
                                  "k long, v long"), t, key="k")
    got = S.table_column_stats(t, "v")
    assert got == {"rows": 301, "min": -3, "max": 9999}
    # move the data away: metadata still answers
    shutil.move(_os.path.join(t, "data"), _os.path.join(str(tmp_path), "x"))
    assert S.table_column_stats(t, "v") == got
    shutil.move(_os.path.join(str(tmp_path), "x"), _os.path.join(t, "data"))
    # pending MOR deletes refuse (the extremum could be a deleted row)
    S.delete(spark.createDataFrame([(50,)], "k long"), t, key="k",
             mode="merge-on-read")
    with pytest.raises(ValueError, match="compact"):
        S.table_column_stats(t, "v")
    S.purge_deletes(spark, t)
    # after the purge the deleted extremum (9999) is gone: the bounds
    # re-recorded by the rewrite give the true max of the survivors
    after = S.table_column_stats(t, "v")
    assert after["rows"] == 300 and after["max"] == 96 and after["min"] == -3


def test_expire_snapshots_age_based(spark, tmp_path):
    # age-based retention: versions older than the horizon expire,
    # tagged pins and the keep_last window survive regardless (r12)
    import os as _os
    import time as _time

    from pyspark.sql import functions as F

    t = _os.path.join(str(tmp_path), "exp")
    S.overwrite(spark.range(5).select(F.col("id").alias("k")), t,
                n_files=1)                                   # v1 (old)
    S.append(spark.createDataFrame([(10,)], "k long"), t)    # v2 (old)
    S.tag(t, "keepme", version=1)
    cutoff = _time.time() + 0.5  # everything so far is "old"
    _time.sleep(0.6)
    S.append(spark.createDataFrame([(11,)], "k long"), t)    # v3 (young)
    S.append(spark.createDataFrame([(12,)], "k long"), t)    # v4 (young)
    deleted = S.expire_snapshots(t, older_than=cutoff)
    # v2 expired (old, unpinned); v1 survives via tag; v3/v4 young
    assert S.versions(t) == [1, 3, 4]
    assert deleted == []  # v2's files are all still referenced by v3/v4
    assert S.read(spark, t, ref="keepme").count() == 5
    assert S.read(spark, t).count() == 8
    # keep_last floor: even with a future horizon, the newest stays
    S.expire_snapshots(t, older_than=_time.time() + 1000)
    assert S.versions(t) == [1, 4]
    with pytest.raises(ValueError, match="keep_last"):
        S.expire_snapshots(t, older_than=0, keep_last=0)


def test_maintain_policy_converges(spark, tmp_path):
    # the nightly loop: purge -> bin-pack -> recluster -> orphan GC,
    # all metadata-decided, all CDC-silent; a second run is a no-op
    import os as _os

    from pyspark.sql import functions as F

    t = _os.path.join(str(tmp_path), "maint")
    rows = spark.range(0, 400).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v"))
    S.overwrite(rows, t, n_files=1)
    S.compact(spark, t, n_files=4, cluster_by=["k"])
    # mess it up: MOR delete + two tiny overlapping appends
    S.delete(spark.createDataFrame([(5,), (360,)], "k long"), t,
             key="k", mode="merge-on-read")
    S.append(spark.range(0, 10).select(
        F.col("id").alias("k"), F.lit(-1).cast("long").alias("v")),
        t, n_files=1)
    S.append(spark.range(200, 205).select(
        F.col("id").alias("k"), F.lit(-2).cast("long").alias("v")),
        t, n_files=1)
    v_before = S.versions(t)[-1]
    report = S.maintain(spark, t, small_file_rows=50, cluster_by=["k"],
                        orphan_grace_seconds=1e9)
    actions = [r["action"] for r in report]
    assert actions[:3] == ["purge_deletes", "optimize", "recluster"]
    m = S.read_manifest(t, S.versions(t)[-1])
    assert not m.get("delete_files")
    spans = sorted((e["stats"]["min_k"], e["stats"]["max_k"])
                   for e in m["files"])
    assert all(spans[i][1] < spans[i + 1][0]
               for i in range(len(spans) - 1))
    assert all(e["rows"] >= 50 or len(m["files"]) == 1
               for e in m["files"])
    # content identical to pre-maintenance visible state
    got = S.read(spark, t).groupBy().agg(
        F.count(F.lit(1)).alias("n"), F.sum("v").alias("s")).collect()[0]
    expect_n = 400 - 2 + 15
    assert got["n"] == expect_n
    # every maintenance commit was CDC-silent
    assert S.read_row_changes(
        spark, t, v_before, S.versions(t)[-1]).count() == 0
    # convergence: an immediate second run does nothing
    assert S.maintain(spark, t, small_file_rows=50, cluster_by=["k"],
                      orphan_grace_seconds=1e9) == []
