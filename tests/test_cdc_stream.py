"""Streaming CDC source over the snapshot ledger (sources/
cdc_stream.py).

The classifier is pinned AGAINST the batch feed (read_row_changes) —
the batch feed and the stream reader must agree row for row across
copy-on-write, merge-on-read, partition-overwrite, write-audit-publish
and branch-publish commits — plus the stream-protocol contracts:
deterministic replay between two offsets, no offset advance on an idle
table, an AvailableNow drain delivering the whole backlog, schema
inference from the manifest, metadata-only partition planning, and a
loud failure on vacuumed offsets.  Reader tests go through
``latestOffset`` + ``partitions`` + ``read`` (conftest ``cdc_drain``),
the calls Spark makes per trigger.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from magshield_data_pipeline_spark.sources import cdc_stream as C
from magshield_data_pipeline_spark.sources import snapshots as S
from tests.conftest import cdc_drain as _drain
from tests.conftest import cdc_reader as _reader


def _chain(spark, tmp_path, name="t"):
    """overwrite -> merge(update+insert) -> delete -> compact ->
    append: one of every copy-on-write commit type."""
    t = os.path.join(str(tmp_path), name)
    rows = spark.range(1, 200).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("val")
    )
    S.overwrite(rows, t, n_files=2)
    S.merge(spark.createDataFrame([(5, 999), (300, 3000)],
                                  "k long, val long"), t, key="k", n_files=1)
    S.delete(spark.createDataFrame([(7,), (8,)], "k long"), t, key="k",
             n_files=1)
    S.compact(spark, t, n_files=1, cluster_by=["k"])
    S.append(spark.createDataFrame([(400, 4000)], "k long, val long"),
             t, n_files=1)
    return t


def _partition_chain(spark, tmp_path, name="parts"):
    """overwrite partitioned by p -> set-partition-spec ->
    overwrite_partitions replacing p=1 (half its rows restated, half
    changed) and adding p=5: the key-less partition diff."""
    t = os.path.join(str(tmp_path), name)
    rows = spark.range(1, 41).select(
        F.col("id").alias("k"), (F.col("id") % 4).alias("p"),
        (F.col("id") * 10).alias("val"),
    )
    S.overwrite(rows, t, n_files=1, partition_by="p")
    S.set_partition_spec(t, "p")
    repl = rows.filter("p = 1").select(
        "k", "p",
        F.when(F.col("k") < 20, F.col("val")).otherwise(-1).alias("val"),
    ).unionByName(spark.createDataFrame([(45, 5, 450)],
                                        "k long, p long, val long"))
    S.overwrite_partitions(repl, t)
    return t


def _wap_chain(spark, tmp_path, name="wap"):
    """overwrite -> stage an append -> a main append lands -> publish
    the stage (an append composed onto the moved base)."""
    t = os.path.join(str(tmp_path), name)
    S.overwrite(spark.range(1, 20).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("val")),
        t, n_files=1)
    S.stage_append(spark.createDataFrame([(100, 1), (101, 2)],
                                         "k long, val long"),
                   t, "audit", n_files=2)
    S.append(spark.createDataFrame([(50, 5)], "k long, val long"), t,
             n_files=1)
    S.publish_staged(t, "audit")
    return t


def _branch_chain(spark, tmp_path, name="br"):
    """overwrite -> branch merge (update + insert) and branch delete ->
    publish_branch: the branch's rewrite commits graduate as main
    merge/delete commits."""
    t = os.path.join(str(tmp_path), name)
    S.overwrite(spark.range(1, 30).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("val")),
        t, n_files=2)
    S.create_branch(t, "b")
    S.branch_merge(spark.createDataFrame([(3, 333), (90, 900)],
                                         "k long, val long"),
                   t, "b", key="k")
    S.branch_delete_rows(spark.createDataFrame([(4,), (90,)], "k long"),
                         t, "b", key="k")
    S.publish_branch(t, "b")
    return t


@pytest.mark.parametrize(
    "chain", [_chain, _partition_chain, _wap_chain, _branch_chain],
    ids=["copy_on_write", "overwrite_partitions", "publish_staged",
         "publish_branch"],
)
def test_stream_classifier_matches_batch_feed(spark, tmp_path, chain):
    # the batch feed and the stream reader agree row for row over the
    # whole chain
    t = chain(spark, tmp_path)
    last = S.versions(t)[-1]
    reader, src = _reader(t)
    rows, off = _drain(reader, {"version": 1, "snap": 1})
    got = sorted(rows)
    assert off == {"version": last, "snap": 1}
    batch = S.read_row_changes(spark, t, 1, last)
    want = sorted(
        tuple(r) for r in batch.select(*src.schema().fieldNames()).collect()
    )
    assert got == want and got


def test_read_between_offsets_replays_exactly(spark, tmp_path):
    t = _chain(spark, tmp_path)
    reader, _ = _reader(t)
    start, end = {"version": 1, "snap": 1}, {"version": 3, "snap": 1}
    a, _ = _drain(reader, start, end)
    b, _ = _drain(_reader(t)[0], start, end)
    assert a == b and len(a) > 0  # deterministic recovery
    assert {r[-1] for r in a} == {2, 3}  # exactly the commits in (1, 3]


def test_available_now_drains_whole_backlog(spark, tmp_path):
    # four appends behind the stream's start: one AvailableNow drain
    # with default options delivers every commit, v2..v5, and stops
    # (Spark asks an AvailableNow source for its latest offset once)
    from magshield_data_pipeline_spark.streaming import windows as W

    t = os.path.join(str(tmp_path), "backlog")
    S.overwrite(spark.range(3).select(F.col("id").alias("k")), t,
                n_files=1)
    for k in (10, 11, 12, 13):
        S.append(spark.createDataFrame([(k,)], "k long"), t, n_files=1)
    C.register(spark)
    stream = spark.readStream.format("ledger_cdc").option("path", t).load()
    got = sorted(tuple(r) for r in
                 W.run_available_now(stream, output_mode="append")
                 .collect())
    assert got == [(10, "insert", 2), (11, "insert", 3),
                   (12, "insert", 4), (13, "insert", 5)]


def test_idle_table_does_not_advance_offset(spark, tmp_path):
    t = _chain(spark, tmp_path)
    reader, _ = _reader(t)
    _, off = _drain(reader, {"version": 1, "snap": 1})
    rows, off2 = _drain(reader, off)
    assert off2 == off and rows == []


def test_compact_commit_emits_zero_rows(spark, tmp_path):
    t = _chain(spark, tmp_path)
    reader, _ = _reader(t)
    # (3, 4] = the compact: planned as no work at all
    start, end = {"version": 3, "snap": 1}, {"version": 4, "snap": 1}
    assert [p.kind for p in reader.partitions(start, end)] == ["noop"]
    rows, _ = _drain(reader, start, end)
    assert rows == []


def test_schema_inferred_from_manifest(spark, tmp_path):
    t = _chain(spark, tmp_path)
    _, src = _reader(t)
    assert src.schema().simpleString() == (
        "struct<k:bigint,val:bigint,_change_type:string,"
        "_commit_version:bigint>"
    )


def test_merge_on_read_delete_emits_preimages(spark, tmp_path):
    # r12: the stream no longer refuses MOR commits — the equality-
    # delete file's keys resolve to delete pre-images via sequence-
    # number reconciliation (VERDICT r11 item 1)
    t = os.path.join(str(tmp_path), "mor")
    S.overwrite(
        spark.range(5).select(F.col("id").alias("k"),
                              F.col("id").alias("val")),
        t, n_files=1,
    )
    S.delete(spark.createDataFrame([(2,)], "k long"), t, key="k",
             mode="merge-on-read")
    reader, _ = _reader(t)
    rows, off = _drain(reader, {"version": 1, "snap": 1})
    assert off == {"version": 2, "snap": 1}
    assert rows == [(2, 2, "delete", 2)]


def test_vacuumed_offset_raises_loudly(spark, tmp_path):
    t = _chain(spark, tmp_path)
    S.vacuum(t, keep_versions=1)
    reader, _ = _reader(t)
    with pytest.raises(ValueError, match="vacuumed"):
        _drain(reader, {"version": 1, "snap": 1})


def test_initial_snapshot_bootstraps_then_streams_changes(spark, tmp_path):
    # Delta's startingVersion contract: the full v1 state as inserts,
    # then the change feed; applying snapshot + changes reproduces the
    # table exactly
    t = _chain(spark, tmp_path)
    reader, _ = _reader(t, initialSnapshot=True)
    off0 = reader.initialOffset()
    assert off0 == {"version": 1, "snap": 0}
    off1 = {"version": 1, "snap": 1}
    snap, _ = _drain(reader, off0, off1)
    assert len(snap) == 199 and {r[-2] for r in snap} == {"insert"}
    assert {r[-1] for r in snap} == {1}  # tagged with the start version
    # recovery of the bootstrap batch replays it byte-identically
    assert sorted(_drain(reader, off0, off1)[0]) == sorted(snap)
    changes, off2 = _drain(reader, off1)
    # a first trigger from the initial offset delivers both at once
    assert sorted(_drain(reader, off0)[0]) == sorted(snap + changes)
    state = {r[0]: r[1] for r in snap}  # k -> val
    for r in sorted(changes, key=lambda x: x[-1]):
        k, val, ct, _v = r
        if ct in ("insert", "update_postimage"):
            state[k] = val
        elif ct == "delete":
            state.pop(k)
    want = {r.k: r.val for r in
            __import__("magshield_data_pipeline_spark.sources.snapshots",
                       fromlist=["read"]).read(spark, t).collect()}
    assert state == want
    assert off2["version"] == 5


def test_initial_snapshot_applies_pending_mor_deletes(spark, tmp_path):
    # r12: the bootstrap delivers the VISIBLE state at startVersion —
    # pending equality deletes are reconciled exactly like read()
    t = os.path.join(str(tmp_path), "morb")
    S.overwrite(spark.range(5).select(F.col("id").alias("k")), t,
                n_files=1)
    S.delete(spark.createDataFrame([(2,)], "k long"), t, key="k",
             mode="merge-on-read")
    reader, _ = _reader(t, initialSnapshot=True, startVersion=2)
    snap, off = _drain(reader, reader.initialOffset())
    got = sorted(r[0] for r in snap)
    want = sorted(r.k for r in S.read(spark, t, 2).collect())
    assert got == want == [0, 1, 3, 4]
    assert off == {"version": 2, "snap": 1}


def _mor_chain(spark, tmp_path, name="mor_t"):
    """The production-shaped chain the r11 verdict asked the stream to
    survive: overwrite -> MOR merge (update + insert) -> MOR delete ->
    append RE-INSERTING a deleted key (the sequence-number contract:
    it must NOT be suppressed) -> metadata-only set-constraint ->
    compact (materializes the deletes; silent)."""
    t = os.path.join(str(tmp_path), name)
    rows = spark.range(1, 50).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("val")
    )
    S.overwrite(rows, t, n_files=2)
    S.merge(spark.createDataFrame([(5, 999), (100, 1000)],
                                  "k long, val long"),
            t, key="k", mode="merge-on-read")
    S.delete(spark.createDataFrame([(9,), (100,)], "k long"), t, key="k",
             mode="merge-on-read")
    S.append(spark.createDataFrame([(9, 90909)], "k long, val long"),
             t, n_files=1)
    S.add_constraint(spark, t, "k_pos", "k > 0")
    S.compact(spark, t, n_files=1, cluster_by=["k"])
    return t


def test_mor_chain_matches_batch_feed(spark, tmp_path):
    t = _mor_chain(spark, tmp_path)
    reader, _ = _reader(t)
    rows, off = _drain(reader, {"version": 1, "snap": 1})
    got = sorted(rows)
    assert off == {"version": 6, "snap": 1}
    batch = S.read_row_changes(spark, t, 1, 6)
    want = sorted(
        tuple(r) for r in batch.select(
            "k", "val", "_change_type", "_commit_version"
        ).collect()
    )
    assert got == want


def test_mor_merge_emits_pre_post_pairs(spark, tmp_path):
    t = _mor_chain(spark, tmp_path)
    reader, _ = _reader(t)
    rows, _ = _drain(reader, {"version": 1, "snap": 1},
                     {"version": 2, "snap": 1})  # the MOR merge
    got = sorted(rows)
    assert got == [
        (5, 50, "update_preimage", 2),
        (5, 999, "update_postimage", 2),
        (100, 1000, "insert", 2),
    ]


def test_reinsert_after_mor_delete_is_delivered(spark, tmp_path):
    # Iceberg v2 sequence numbers: the v3 delete of k=9 applies only
    # to OLDER files, so the v4 re-insert must stream as an insert
    t = _mor_chain(spark, tmp_path)
    reader, _ = _reader(t)
    rows, _ = _drain(reader, {"version": 3, "snap": 1},
                     {"version": 4, "snap": 1})  # the re-insert
    assert rows == [(9, 90909, "insert", 4)]
    # and the final table state keeps it (read-side contract)
    assert S.read(spark, t).filter(F.col("k") == 9).count() == 1


def test_metadata_only_commit_advances_without_wedging(spark, tmp_path):
    # ADVICE r11 high: a set-constraint commit permanently wedged the
    # stream (ValueError per trigger) — it must emit zero rows and
    # advance the offset
    t = _mor_chain(spark, tmp_path)
    reader, _ = _reader(t)
    rows, off = _drain(reader, {"version": 4, "snap": 1},
                       {"version": 5, "snap": 1})  # set-constraint
    assert rows == []
    # and the compact after it is silent too
    rows, off = _drain(reader, off)
    assert rows == [] and off == {"version": 6, "snap": 1}


def test_rollback_streams_as_multiset_diff(spark, tmp_path):
    # ADVICE r11 high: rollback (key-less, file-changing) wedged the
    # stream; it must degrade to the overwrite-style visible-state
    # diff, pinned against the batch feed
    t = os.path.join(str(tmp_path), "rb")
    S.overwrite(spark.range(1, 10).select(F.col("id").alias("k")), t,
                n_files=1)
    S.append(spark.createDataFrame([(50,), (51,)], "k long"), t, n_files=1)
    S.rollback(t, 1)  # v3: drops the appended file
    reader, _ = _reader(t)
    rows, off = _drain(reader, {"version": 2, "snap": 1})  # the rollback
    got = sorted(rows)
    assert off == {"version": 3, "snap": 1}
    assert got == [(50, "delete", 3), (51, "delete", 3)]
    batch = S.read_row_changes(spark, t, 2, 3)
    want = sorted(tuple(r) for r in
                  batch.select("k", "_change_type",
                               "_commit_version").collect())
    assert got == want


def test_rollback_past_mor_delete_streams_undelete(spark, tmp_path):
    # a rollback that DROPS a pending equality-delete file makes its
    # rows visible again — both feeds must emit them as inserts
    t = os.path.join(str(tmp_path), "undel")
    S.overwrite(
        spark.range(1, 10).select(F.col("id").alias("k"),
                                  (F.col("id") * 10).alias("val")),
        t, n_files=1,
    )
    S.delete(spark.createDataFrame([(3,), (4,)], "k long"), t, key="k",
             mode="merge-on-read")
    S.rollback(t, 1)  # v3: the delete file is gone — k=3,4 undeleted
    reader, _ = _reader(t)
    rows, off = _drain(reader, {"version": 2, "snap": 1})
    got = sorted(rows)
    assert off == {"version": 3, "snap": 1}
    assert got == [(3, 30, "insert", 3), (4, 40, "insert", 3)]
    batch = S.read_row_changes(spark, t, 2, 3)
    want = sorted(tuple(r) for r in
                  batch.select("k", "val", "_change_type",
                               "_commit_version").collect())
    assert got == want


def test_partition_values_restore_typed(spark, tmp_path):
    # ADVICE r11 medium: identity-partition values restored as raw
    # hive-directory STRINGS corrupted non-string fields — they must
    # come back typed through the stream schema
    t = os.path.join(str(tmp_path), "parted")
    S.overwrite(
        spark.range(1, 7).select(
            F.col("id").alias("k"),
            (F.col("id") % 2).alias("bucket"),
        ),
        t, n_files=1,
    )
    S.append(
        spark.range(10, 14).select(
            F.col("id").alias("k"),
            (F.col("id") % 2).alias("bucket"),
        ),
        t, n_files=1, partition_by="bucket",
    )
    reader, _ = _reader(t)
    rows, _ = _drain(reader, {"version": 1, "snap": 1})
    got = sorted(rows)
    assert all(isinstance(r[1], int) for r in got), got
    assert got == [(10, 0, "insert", 2), (11, 1, "insert", 2),
                   (12, 0, "insert", 2), (13, 1, "insert", 2)]


def test_mor_replay_between_offsets_deterministic(spark, tmp_path):
    t = _mor_chain(spark, tmp_path)
    reader, _ = _reader(t)
    start, end = {"version": 1, "snap": 1}, {"version": 4, "snap": 1}
    a, _ = _drain(reader, start, end)
    b, _ = _drain(reader, start, end)
    assert a == b and len(a) > 0


# ---------------------------------------------------------------------------
# r12: partition planning (executor-side materialization)

def test_dist_partition_plan_shapes(spark, tmp_path):
    t = _mor_chain(spark, tmp_path)
    reader, _ = _reader(t)
    parts = reader.partitions({"version": 1, "snap": 1},
                              {"version": 6, "snap": 1})
    kinds = [p.kind for p in parts]
    # v2 MOR merge + v3 MOR delete -> commit_diff each; v4 append ->
    # one insert_file per added file; v5 set-constraint + v6 compact
    # -> no partitions at all
    assert kinds == ["commit_diff", "commit_diff", "insert_file"]


def test_dist_append_fans_out_per_file(spark, tmp_path):
    t = os.path.join(str(tmp_path), "fan")
    S.overwrite(spark.range(10).select(F.col("id").alias("k")), t,
                n_files=1)
    S.append(spark.range(10, 40).select(F.col("id").alias("k")), t,
             n_files=3)
    reader, _ = _reader(t)
    parts = reader.partitions({"version": 1, "snap": 1},
                              {"version": 2, "snap": 1})
    assert [p.kind for p in parts] == ["insert_file"] * 3


def test_dist_plans_large_append_from_metadata_fast(tmp_path):
    # planning reads the two manifests once: an append onto a
    # 10,000-file table plans one insert_file partition well inside a
    # second (no data file exists — planning must not touch any)
    import json
    import time

    mdir = tmp_path / "wide" / "_manifests"
    mdir.mkdir(parents=True)
    schema = {"type": "struct", "fields": [
        {"name": "k", "type": "long", "nullable": True, "metadata": {}}]}
    files = [{"path": f"data/f{i:05d}.parquet", "seq": 1,
              "stats": {"min_k": i, "max_k": i}} for i in range(10_000)]
    new = {"path": "data/new.parquet", "seq": 2,
           "stats": {"min_k": 10_000, "max_k": 10_000}}
    for v, fl in ((1, files), (2, files + [new])):
        (mdir / f"v{v}.json").write_text(json.dumps(
            {"operation": "append", "version": v, "files": fl,
             "schema": schema}))
    reader, _ = _reader(str(tmp_path / "wide"))
    t0 = time.perf_counter()
    parts = reader.partitions({"version": 1, "snap": 1},
                              {"version": 2, "snap": 1})
    elapsed = time.perf_counter() - t0
    assert [p.kind for p in parts] == ["insert_file"]
    assert parts[0].payload["entry"]["path"] == "data/new.parquet"
    assert elapsed < 1.0, f"planning took {elapsed:.2f} s"


def test_wide_positional_delete_plans_from_metadata_fast(
        tmp_path, monkeypatch):
    # one positional delete targeting 5,000 files: the dist reader's
    # bootstrap and commit plan and the merge-on-read scan's grouping
    # each answer one membership check per file, indexed once per
    # delete file, so the whole metadata pass stays well inside a
    # second (no data file exists, and the Spark side of the scan is
    # mocked)
    import json
    import time
    from unittest import mock

    t = tmp_path / "wide_pos"
    mdir = t / "_manifests"
    mdir.mkdir(parents=True)
    schema = {"type": "struct", "fields": [
        {"name": "k", "type": "long", "nullable": True, "metadata": {}}]}
    files = [{"path": f"data/f{i:05d}.parquet", "seq": 1, "rows": 1,
              "stats": {"min_k": i, "max_k": i}} for i in range(5_000)]
    dl = {"path": "data/pos.parquet", "kind": "positional", "seq": 2,
          "rows": 5_000, "targets": [e["path"] for e in files]}
    (mdir / "v1.json").write_text(json.dumps(
        {"operation": "append", "version": 1, "files": files,
         "schema": schema}))
    (mdir / "v2.json").write_text(json.dumps(
        {"operation": "delete", "mode": "positional", "version": 2,
         "files": files, "delete_files": [dl], "schema": schema}))
    monkeypatch.setattr(S, "_scan", lambda *a, **k: mock.MagicMock())
    monkeypatch.setattr(F, "col", lambda name: mock.MagicMock())
    reader, _ = _reader(str(t))
    t0 = time.perf_counter()
    boot = reader.partitions({"version": 2, "snap": 0},
                             {"version": 2, "snap": 1})
    diff = reader.partitions({"version": 1, "snap": 1},
                             {"version": 2, "snap": 1})
    S._scan_manifest(mock.MagicMock(), str(t),
                     {"files": files, "delete_files": [dl],
                      "schema": schema})
    elapsed = time.perf_counter() - t0
    assert len(boot) == 5_000
    assert all(p.payload["deletes"] == [dl] for p in boot)
    assert [p.kind for p in diff] == ["commit_diff"]
    assert elapsed < 1.0, f"metadata pass took {elapsed:.2f} s"


def test_dist_bootstrap_applies_deletes_per_file(spark, tmp_path):
    t = os.path.join(str(tmp_path), "dboot")
    S.overwrite(spark.range(9).select(F.col("id").alias("k")), t,
                n_files=3)
    S.delete(spark.createDataFrame([(2,), (7,)], "k long"), t, key="k",
             mode="merge-on-read")
    want = sorted((r.k, "insert", 2) for r in S.read(spark, t).collect())
    dist, _ = _reader(t, initialSnapshot=True, startVersion=2)
    parts = dist.partitions({"version": 2, "snap": 0},
                            {"version": 2, "snap": 1})
    assert [p.kind for p in parts] == ["snapshot_file"] * 3
    got = sorted(r for p in parts for r in dist.read(p))
    assert got == want and len(got) == 7


def test_dist_stream_end_to_end_matches_batch_feed(spark, tmp_path):
    import tempfile
    import uuid as _uuid

    t = _mor_chain(spark, tmp_path, name="dist_e2e")
    C.register(spark)
    name = f"dist_{_uuid.uuid4().hex[:8]}"
    q = (
        spark.readStream.format("ledger_cdc")
        .option("path", t)
        .option("startversion", 1)
        .load()
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation",
                tempfile.mkdtemp(prefix=f"ckpt_{name}_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        tuple(r) for r in spark.table(name)
        .select("k", "val", "_change_type", "_commit_version").collect()
    )
    batch = S.read_row_changes(spark, t, 1, 6)
    want = sorted(
        tuple(r) for r in batch.select(
            "k", "val", "_change_type", "_commit_version").collect()
    )
    assert got == want


def test_stream_across_add_column_commit(spark, tmp_path):
    # an add-column evolution mid-range: the stream schema is the
    # LATEST manifest's, and pre-evolution commits null-fill the new
    # column — pinned against the batch feed
    t = os.path.join(str(tmp_path), "evo")
    S.overwrite(spark.range(3).select(F.col("id").alias("k")), t,
                n_files=1)
    S.append(spark.createDataFrame([(10, "x"), (11, "y")],
                                   "k long, tag string"), t, n_files=1)
    S.append(spark.createDataFrame([(20, "z")], "k long, tag string"),
             t, n_files=1)
    reader, src = _reader(t)
    assert "tag" in src.schema().fieldNames()
    rows, off = _drain(reader, {"version": 1, "snap": 1})
    got = sorted(rows)
    assert off == {"version": 3, "snap": 1}
    batch = S.read_row_changes(spark, t, 1, 3)
    want = sorted(tuple(r) for r in batch.select(
        "k", "tag", "_change_type", "_commit_version").collect())
    assert got == want
    assert (10, "x", "insert", 2) in got


def test_column_projection_feed(spark, tmp_path):
    # option('columns') = the CDC feed OF THE PROJECTED VIEW: reads
    # prune to the named columns, the merge key is materialized
    # internally for update pairing (and stripped), and a commit
    # touching ONLY unselected columns emits nothing
    t = os.path.join(str(tmp_path), "proj")
    S.overwrite(
        spark.range(1, 6).select(
            F.col("id").alias("k"),
            (F.col("id") * 10).alias("val"),
            F.lit("pad").alias("wide"),
        ),
        t, n_files=1,
    )
    # v2: change val for k=2 (selected) and wide for k=3 (unselected)
    S.merge(
        spark.createDataFrame([(2, 999, "pad"), (3, 30, "CHANGED")],
                              "k long, val long, wide string"),
        t, key="k", n_files=1,
    )
    # full feed sees both updates
    full, _ = _reader(t)
    rows_full, _ = _drain(full, {"version": 1, "snap": 1})
    assert {r[0] for r in rows_full if r[-2] == "update_postimage"} \
        == {2, 3}
    # projected feed (val only, key EXCLUDED from the projection):
    # the k=3 change cancels, the k=2 change pairs
    reader, src = _reader(t, columns="val")
    assert src.schema().fieldNames() == [
        "val", "_change_type", "_commit_version"]
    rows, _ = _drain(reader, {"version": 1, "snap": 1})
    assert sorted(rows) == [
        (20, "update_preimage", 2), (999, "update_postimage", 2)]
    # unknown column fails loudly
    bad = C.LedgerCdcDataSource(options={"path": t, "columns": "nope"})
    with pytest.raises(ValueError, match="not in the table schema"):
        bad.schema()


def test_column_projection_with_mor_deletes(spark, tmp_path):
    # the delete KEY can be outside the projection: it is read as a
    # working column for the anti-join and stripped from the output
    t = os.path.join(str(tmp_path), "projmor")
    S.overwrite(
        spark.range(1, 6).select(F.col("id").alias("k"),
                                 (F.col("id") * 10).alias("val")),
        t, n_files=1,
    )
    S.delete(spark.createDataFrame([(4,)], "k long"), t, key="k",
             mode="merge-on-read")
    reader, _ = _reader(t, columns="val")
    rows, _ = _drain(reader, {"version": 1, "snap": 1})
    assert rows == [(40, "delete", 2)]
    # bootstrap at v2 applies the pending delete under the projection
    r2, _ = _reader(t, columns="val", initialSnapshot=True,
                    startVersion=2)
    snap, _ = _drain(r2, r2.initialOffset())
    assert sorted(x[0] for x in snap) == [10, 20, 30, 50]


def test_dist_stream_checkpoint_restart_resumes(spark, tmp_path):
    # stop the stream, commit more, restart on the SAME checkpoint:
    # only the new commits are delivered (offset = ledger version,
    # persisted by the engine across restarts)
    import tempfile
    import uuid as _uuid

    t = os.path.join(str(tmp_path), "restart")
    S.overwrite(spark.range(5).select(F.col("id").alias("k")), t,
                n_files=1)
    S.append(spark.createDataFrame([(10,)], "k long"), t, n_files=1)
    C.register(spark)
    ckpt = tempfile.mkdtemp(prefix="ckpt_restart_")
    sink = os.path.join(str(tmp_path), f"sink_{_uuid.uuid4().hex[:8]}")

    def _run():
        # a FILE sink (memory sinks refuse checkpoint recovery)
        q = (
            spark.readStream.format("ledger_cdc")
            .option("path", t)
            .option("startversion", 1)
            .load()
            .writeStream.format("parquet")
            .option("path", sink)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    _run()
    got1 = sorted(r.k for r in spark.read.parquet(sink).collect())
    assert got1 == [10]  # (1, 2] only
    # more commits land while the stream is down
    S.append(spark.createDataFrame([(20,), (21,)], "k long"), t,
             n_files=1)
    S.delete(spark.createDataFrame([(10,)], "k long"), t, key="k",
             mode="merge-on-read")
    _run()
    got2 = sorted(
        (r.k, r._change_type)
        for r in spark.read.parquet(sink).collect()
    )
    # ONLY the new commits appended: the restart resumed at v2, not v1
    assert got2 == [(10, "delete"), (10, "insert"),
                    (20, "insert"), (21, "insert")]


# ---------------------------------------------------------------------------
# r12 session 2: predicate pushdown (option('filters', ...))

def test_filtered_feed_prunes_files_and_rows(spark, tmp_path):
    t = os.path.join(str(tmp_path), "filt")
    S.overwrite(spark.range(1).select(F.col("id").alias("k"),
                                      F.col("id").alias("val")),
                t, n_files=1)
    # a CLUSTERED append: 4 files with disjoint k ranges
    rows = spark.range(1, 401).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("val"))
    e = S._write_data_files(rows, t, 4, cluster_by=["k"])
    S._publish_manifest(t, "append", e, carry=True,
                        schema=rows.schema.jsonValue())
    # the k >= 301 filter must plan ONE insert partition
    dr, _ = _reader(t, filters="k>=301")
    parts = dr.partitions({"version": 1, "snap": 1},
                          {"version": 2, "snap": 1})
    assert [p.kind for p in parts] == ["insert_file"]  # 3 of 4 pruned
    got = sorted(r for p in parts for r in dr.read(p))
    assert len(got) == 100 and all(r[0] >= 301 for r in got)
    assert got == sorted((k, k * 10, "insert", 2) for k in range(301, 401))


def test_filter_boundary_crossing_updates_relabel(spark, tmp_path):
    # the filtered feed is the feed OF THE FILTERED VIEW: an update
    # moving a row INTO the range is an insert, OUT of it a delete,
    # WITHIN it a pre/post pair
    t = os.path.join(str(tmp_path), "fb")
    S.overwrite(
        spark.createDataFrame([(1, 5), (2, 50), (3, 60)],
                              "k long, val long"),
        t, n_files=1,
    )
    S.merge(
        spark.createDataFrame(
            [(1, 40), (2, 7), (3, 70)], "k long, val long"),
        t, key="k", n_files=1,
    )
    reader, _ = _reader(t, filters="val>=10")
    rows, _ = _drain(reader, {"version": 1, "snap": 1})
    got = sorted(rows)
    assert got == [
        (1, 40, "insert", 2),             # entered the range
        (2, 50, "delete", 2),             # left the range
        (3, 60, "update_preimage", 2),    # moved within it
        (3, 70, "update_postimage", 2),
    ]
    # value+sign sets match batch-feed-then-filter (only labels of
    # boundary crossers differ, by design)
    batch = S.read_row_changes(spark, t, 1, 2).filter("val >= 10")
    sign = {"insert": 1, "update_postimage": 1,
            "update_preimage": -1, "delete": -1}
    want = sorted((r.k, r.val, sign[r._change_type])
                  for r in batch.collect())
    assert sorted((r[0], r[1], sign[r[2]]) for r in got) == want


def test_filter_column_outside_projection(spark, tmp_path):
    t = os.path.join(str(tmp_path), "fp")
    S.overwrite(
        spark.range(1, 9).select(F.col("id").alias("k"),
                                 (F.col("id") * 10).alias("val")),
        t, n_files=1,
    )
    S.append(spark.range(9, 15).select(F.col("id").alias("k"),
                                       (F.col("id") * 10).alias("val")),
             t, n_files=1)
    reader, _ = _reader(t, columns="val", filters="k>=12")
    rows, _ = _drain(reader, {"version": 1, "snap": 1})
    assert sorted(rows) == [(120, "insert", 2), (130, "insert", 2),
                            (140, "insert", 2)]


def test_filter_parse_and_bootstrap(spark, tmp_path):
    t = os.path.join(str(tmp_path), "fparse")
    S.overwrite(spark.range(10).select(F.col("id").alias("k")), t,
                n_files=1)
    with pytest.raises(ValueError, match="cannot parse filter"):
        _reader(t, filters="k !! 3")
    with pytest.raises(ValueError, match="not in the table schema"):
        _reader(t, filters="zz>=1")
    reader, _ = _reader(t, filters="k>=4;k<8", initialSnapshot=True)
    snap, _ = _drain(reader, reader.initialOffset())
    assert sorted(r[0] for r in snap) == [4, 5, 6, 7]
