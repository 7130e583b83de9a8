"""Incremental materialized-view maintenance (operators/ivm.py).

A COUNT/SUM aggregate view over a snapshot-ledger table is kept fresh
by folding the row-CDC feed — these tests pin the IVM contract:
incremental == recompute after every commit type, groups retract at
count zero, replays and crash-resumes are exactly-once, an empty feed
(compact) commits nothing, and the view MERGE carries disjoint-range
view files by reference (stats pruning, the O(affected groups) claim).
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from magshield_data_pipeline_spark.operators import ivm
from magshield_data_pipeline_spark.sources import snapshots as S


def _src(spark, tmp_path, name="src"):
    """v1: 6 rows over 3 groups; v2: MERGE (update k=1, insert k=7/8);
    v3: DELETE group 0 entirely (k=3, k=6); v4: clustering compact."""
    t = os.path.join(str(tmp_path), name)
    rows = spark.range(1, 7).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).alias("grp"),
        (F.col("id") * 10).alias("val"),
    )
    S.overwrite(rows, t, n_files=2)
    src = spark.createDataFrame(
        [(1, 1, 999), (7, 1, 70), (8, 2, 80)], "k long, grp long, val long"
    )
    S.merge(src, t, key="k", n_files=1)
    S.delete(spark.createDataFrame([(3,), (6,)], "k long"), t, key="k",
             n_files=1)
    S.compact(spark, t, n_files=1, cluster_by=["k"])
    return t


def _measures():
    return {"val_sum": F.col("val")}


def _grp():
    return F.col("grp")


def _maintain(spark, src, view, through: int):
    ivm.init_agg_view(spark, src, view, _grp(), "grp", _measures(), version=1)
    for v in range(2, through + 1):
        ivm.refresh_agg_view(spark, src, view, _grp(), "grp", _measures(),
                             from_version=v - 1, to_version=v)


def test_incremental_equals_recompute_after_every_commit(spark, tmp_path):
    src = _src(spark, tmp_path)
    for through in (2, 3, 4):
        view = os.path.join(str(tmp_path), f"view_{through}")
        _maintain(spark, src, view, through)
        fresh = (
            S.read(spark, src, through)
            .groupBy("grp")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.sum("val").alias("val_sum"))
        )
        got = S.read(spark, view).select("grp", "n_rows", "val_sum")
        diff = got.exceptAll(fresh).unionByName(fresh.exceptAll(got))
        assert not diff.head(1), f"diverged at source v{through}"


def test_group_retracts_at_count_zero(spark, tmp_path):
    src = _src(spark, tmp_path)
    view = os.path.join(str(tmp_path), "view")
    _maintain(spark, src, view, 3)
    groups = sorted(r.grp for r in S.read(spark, view).collect())
    assert groups == [1, 2]  # group 0 (k=3, k=6) died at count zero
    # the retract is its own ledger commit; pinned readers still see it
    assert 0 in {r.grp for r in S.read(spark, view, 2).collect()}
    res = ivm.refresh_agg_view(spark, src, view, _grp(), "grp", _measures(),
                               from_version=2, to_version=3)
    # replay of the already-applied refresh: both txns refuse
    assert res == {"applied": False, "groups_upserted": 0,
                   "groups_deleted": 0}


def test_replay_leaves_view_state_and_versions_unchanged(spark, tmp_path):
    src = _src(spark, tmp_path)
    view = os.path.join(str(tmp_path), "view")
    _maintain(spark, src, view, 4)
    vs = S.versions(view)
    state = sorted(map(tuple, S.read(spark, view).collect()))
    for v in (2, 3):
        ivm.refresh_agg_view(spark, src, view, _grp(), "grp", _measures(),
                             from_version=v - 1, to_version=v)
    assert S.versions(view) == vs
    assert sorted(map(tuple, S.read(spark, view).collect())) == state


def test_empty_feed_commits_nothing(spark, tmp_path):
    src = _src(spark, tmp_path)
    view = os.path.join(str(tmp_path), "view")
    _maintain(spark, src, view, 3)
    vs = S.versions(view)
    res = ivm.refresh_agg_view(spark, src, view, _grp(), "grp", _measures(),
                               from_version=3, to_version=4)
    # the source compact delivered zero row changes: no commit at all
    assert res["applied"] is False
    assert S.versions(view) == vs


def test_crash_resume_completes_the_unfinished_half(spark, tmp_path,
                                                    monkeypatch):
    # a REAL crash between the refresh's two commits: the merge lands
    # (including the zeroed group row) but the retract dies before
    # committing — re-running the refresh must no-op the merge and
    # complete the delete from COMMITTED view state (the totality
    # claim in the module docstring)
    src = _src(spark, tmp_path)
    view = os.path.join(str(tmp_path), "view")
    _maintain(spark, src, view, 2)
    real_delete = S.delete

    def _dies(*a, **kw):
        raise RuntimeError("simulated crash before the retract commit")

    monkeypatch.setattr(S, "delete", _dies)
    try:
        ivm.refresh_agg_view(spark, src, view, _grp(), "grp", _measures(),
                             from_version=2, to_version=3)
        raise AssertionError("expected the simulated crash")
    except RuntimeError:
        pass
    monkeypatch.setattr(S, "delete", real_delete)
    # mid-crash state: the zeroed group is IN the view (one atomic
    # merge commit), flagged by n_rows == 0
    assert S.read(spark, view).filter("n_rows = 0").count() == 1
    res = ivm.refresh_agg_view(spark, src, view, _grp(), "grp", _measures(),
                               from_version=2, to_version=3)
    assert res["groups_upserted"] == 0  # merge half refused (committed)
    assert res["groups_deleted"] == 1  # delete half completed
    assert sorted(r.grp for r in S.read(spark, view).collect()) == [1, 2]


def test_replay_cannot_retract_live_group(spark, tmp_path):
    # ADVICE r11 high: a redelivered batch folded the delta into the
    # ALREADY-merged view, so cur + 2*delta == 0 retracted a live
    # group (repro: true count 1 / val_sum 20 vanished on replay).
    # The retract must derive from committed view state, never the
    # re-fold.
    src = os.path.join(str(tmp_path), "src_r")
    rows = spark.createDataFrame(
        [(1, 0, 10), (2, 0, 20)], "k long, grp long, val long"
    )
    S.overwrite(rows, src, n_files=1)
    view = os.path.join(str(tmp_path), "view_r")
    ivm.init_agg_view(spark, src, view, _grp(), "grp", _measures(),
                      version=1)
    # one delete: group 0 goes 2 -> 1 (stays live)
    S.delete(spark.createDataFrame([(1,)], "k long"), src, key="k",
             n_files=1)
    changes = S.read_row_changes(spark, src, 1, 2)
    res1 = ivm.apply_changes(spark, view, changes, _grp(), "grp",
                             _measures(), txn_version=2)
    assert res1["applied"] and res1["groups_deleted"] == 0
    # redelivery of the SAME batch (crash before checkpoint): the
    # merge no-ops on the txn marker and the group must SURVIVE
    res2 = ivm.apply_changes(spark, view, changes, _grp(), "grp",
                             _measures(), txn_version=2)
    assert res2["applied"] is False
    got = S.read(spark, view).collect()
    assert len(got) == 1
    assert (got[0].grp, got[0].n_rows, got[0].val_sum) == (0, 1, 20)


def test_refresh_merge_carries_disjoint_view_files(spark, tmp_path):
    # a 2-file clustered view + a source commit touching only the high
    # group: the refresh MERGE must rewrite one view file and carry
    # the other by reference — the stats-pruning half of the
    # O(affected groups) cost claim
    t = os.path.join(str(tmp_path), "src2")
    rows = spark.range(0, 40).select(
        F.col("id").alias("k"),
        (F.col("id") % 4).alias("grp"),
        (F.col("id") * 10).alias("val"),
    )
    S.overwrite(rows, t, n_files=1)
    view = os.path.join(str(tmp_path), "view2")
    ivm.init_agg_view(spark, t, view, _grp(), "grp", _measures(),
                      version=1, n_files=2)
    before = S.read_manifest(view, S.versions(view)[-1])["files"]
    lows = [e["path"] for e in before if e["stats"]["max_grp"] <= 1]
    assert len(before) == 2 and len(lows) == 1  # disjoint grp ranges
    S.merge(spark.createDataFrame([(100, 3, 1000)],
                                  "k long, grp long, val long"),
            t, key="k", n_files=1)
    ivm.refresh_agg_view(spark, t, view, _grp(), "grp", _measures(),
                         from_version=1, to_version=2)
    after = {e["path"] for e in
             S.read_manifest(view, S.versions(view)[-1])["files"]}
    assert lows[0] in after  # the grp<=1 file carried, byte-untouched
    assert S.read(spark, view).filter("grp = 3").head().n_rows == 11


def test_streaming_fold_per_commit_equals_recompute(spark, tmp_path):
    # ledger_cdc -> foreachBatch -> apply_changes, ONE COMMIT PER
    # BATCH: one AvailableNow drain per source commit on one
    # checkpoint (a long-running consumer's shape), so each commit,
    # the group-death retract included, is its own micro-batch and its
    # own txn version — and after every drain the streamed view equals
    # the batch recompute at that version
    import tempfile

    from magshield_data_pipeline_spark.sources import cdc_stream as C

    t = os.path.join(str(tmp_path), "src")
    S.overwrite(spark.range(1, 7).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).alias("grp"),
        (F.col("id") * 10).alias("val"),
    ), t, n_files=2)
    view = os.path.join(str(tmp_path), "sview")
    ivm.init_agg_view(spark, t, view, _grp(), "grp", _measures(),
                      version=1)
    C.register(spark)
    stream = spark.readStream.format("ledger_cdc").option("path", t).load()
    ckpt = tempfile.mkdtemp()
    batches: list[tuple[int, list[int]]] = []

    def fold(bdf, bid):
        vs = sorted({r[0] for r in bdf.select("_commit_version").collect()})
        batches.append((int(bid), vs))
        ivm.apply_changes(spark, view, bdf, _grp(), "grp", _measures(),
                          txn_version=int(bid), app="ivm-s")

    commits = [  # (one source commit, the versions its batch carries)
        # v2: MERGE (update k=1, insert k=7/8)
        (lambda: S.merge(spark.createDataFrame(
            [(1, 1, 999), (7, 1, 70), (8, 2, 80)],
            "k long, grp long, val long"), t, key="k", n_files=1), [2]),
        # v3: DELETE group 0 entirely — the group-death retract
        (lambda: S.delete(spark.createDataFrame([(3,), (6,)], "k long"),
                          t, key="k", n_files=1), [3]),
        # v4: clustering compact — an empty batch, nothing folded
        (lambda: S.compact(spark, t, n_files=1, cluster_by=["k"]), []),
    ]
    for bid, (commit, carried) in enumerate(commits):
        commit()
        (stream.writeStream.foreachBatch(fold)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True)
         .start()
         .awaitTermination())
        assert batches[-1] == (bid, carried)
        fresh = (
            S.read(spark, t)
            .groupBy("grp")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.sum("val").alias("val_sum"))
        )
        got = S.read(spark, view).select("grp", "n_rows", "val_sum")
        diff = got.exceptAll(fresh).unionByName(fresh.exceptAll(got))
        assert not diff.head(1), f"diverged after batch {bid}"
    assert [b for b, _ in batches] == [0, 1, 2]
    assert sorted(r.grp for r in got.collect()) == [1, 2]


def test_refresh_feed_scans_only_touched_files(spark, tmp_path):
    # the O(touched files) half of the refresh cost claim, at the
    # PLAN level: a 6-file table takes one small merge; the refresh's
    # change feed must list only the commit's before/after image files
    # among its inputs — never the table
    t = os.path.join(str(tmp_path), "scope")
    rows = spark.range(0, 600).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).alias("grp"),
        (F.col("id") * 10).alias("val"),
    )
    S.overwrite(rows, t, n_files=1)
    S.compact(spark, t, n_files=6, cluster_by=["k"])  # disjoint ranges
    S.merge(spark.createDataFrame([(5, 2, 999)],
                                  "k long, grp long, val long"),
            t, key="k", n_files=1)
    m2, m3 = S.read_manifest(t, 2), S.read_manifest(t, 3)
    touched = ({e["path"] for e in m2["files"]}
               ^ {e["path"] for e in m3["files"]})  # removed + added
    assert 0 < len(touched) < 6
    feed = S.read_row_changes(spark, t, 2, 3)
    files = {f.replace("file:", "").lstrip("/")
             for f in feed.inputFiles()}
    assert files, "inputFiles empty — assertion would be vacuous"
    allowed = {os.path.join(t, p).lstrip("/") for p in touched}
    assert files <= allowed, (
        f"feed read beyond the commit's touched files: "
        f"{files - allowed}"
    )


# ---------------------------------------------------------------------------
# r12: join-view IVM (VERDICT r11 item 2)

def _ab(spark, tmp_path):
    """orders-shaped A (k, cust, price) and customer-shaped B
    (cust, nation): the canonical warehouse join view."""
    a = os.path.join(str(tmp_path), "a")
    b = os.path.join(str(tmp_path), "b")
    S.overwrite(spark.createDataFrame(
        [(1, 10, 100), (2, 10, 200), (3, 11, 300), (4, 12, 400)],
        "k long, cust long, price long"), a, n_files=1)
    S.overwrite(spark.createDataFrame(
        [(10, 0), (11, 0), (12, 1)], "cust long, nation long"),
        b, n_files=1)
    return a, b


def _jmeasures():
    return {"revenue": F.col("price")}


def test_join_view_tracks_changes_on_both_sides(spark, tmp_path):
    a, b = _ab(spark, tmp_path)
    view = os.path.join(str(tmp_path), "jview")
    ivm.init_join_agg_view(spark, a, b, view, ("cust", "cust"),
                           F.col("nation"), "nation", _jmeasures(),
                           a_version=1, b_version=1)
    got = {r.nation: (r.n_rows, r.revenue)
           for r in S.read(spark, view).collect()}
    assert got == {0: (3, 600), 1: (1, 400)}
    # A-side merge: reprice k=1 (100 -> 150), insert k=5 for cust 12
    S.merge(spark.createDataFrame([(1, 10, 150), (5, 12, 50)],
                                  "k long, cust long, price long"),
            a, key="k", n_files=1)
    r1 = ivm.refresh_join_agg_view(
        spark, a, b, view, ("cust", "cust"), F.col("nation"), "nation",
        _jmeasures(), a_from=1, a_to=2, b_from=1, b_to=1, txn_version=1)
    assert r1["applied"]
    got = {r.nation: (r.n_rows, r.revenue)
           for r in S.read(spark, view).collect()}
    assert got == {0: (3, 650), 1: (2, 450)}
    # B-side delete: nation 1's only customer leaves -> group retracts
    S.delete(spark.createDataFrame([(12,)], "cust long"), b, key="cust",
             n_files=1)
    r2 = ivm.refresh_join_agg_view(
        spark, a, b, view, ("cust", "cust"), F.col("nation"), "nation",
        _jmeasures(), a_from=2, a_to=2, b_from=1, b_to=2, txn_version=2)
    assert r2["groups_deleted"] == 1
    got = {r.nation: (r.n_rows, r.revenue)
           for r in S.read(spark, view).collect()}
    assert got == {0: (3, 650)}
    audit = ivm.join_view_equals_recompute(
        spark, a, b, view, ("cust", "cust"), F.col("nation"), "nation",
        _jmeasures())
    assert audit.head(1) == []


def test_join_view_same_batch_changes_both_sides(spark, tmp_path):
    # the asymmetric form (dA x B_new + A_old x dB) must not
    # double-count when ONE refresh folds changes on BOTH tables
    a, b = _ab(spark, tmp_path)
    view = os.path.join(str(tmp_path), "jview2")
    ivm.init_join_agg_view(spark, a, b, view, ("cust", "cust"),
                           F.col("nation"), "nation", _jmeasures(),
                           a_version=1, b_version=1)
    # A: insert k=6 for cust 11; B: move cust 11 to nation 2
    S.merge(spark.createDataFrame([(6, 11, 600)],
                                  "k long, cust long, price long"),
            a, key="k", n_files=1)
    S.merge(spark.createDataFrame([(11, 2)], "cust long, nation long"),
            b, key="cust", n_files=1)
    ivm.refresh_join_agg_view(
        spark, a, b, view, ("cust", "cust"), F.col("nation"), "nation",
        _jmeasures(), a_from=1, a_to=2, b_from=1, b_to=2, txn_version=1)
    audit = ivm.join_view_equals_recompute(
        spark, a, b, view, ("cust", "cust"), F.col("nation"), "nation",
        _jmeasures())
    assert audit.head(1) == []
    got = {r.nation: (r.n_rows, r.revenue)
           for r in S.read(spark, view).collect()}
    # nation 0 lost cust 11's order (300); nation 2 gained both 11-orders
    assert got == {0: (2, 300), 1: (1, 400), 2: (2, 900)}


def test_join_view_replay_is_noop(spark, tmp_path):
    a, b = _ab(spark, tmp_path)
    view = os.path.join(str(tmp_path), "jview3")
    ivm.init_join_agg_view(spark, a, b, view, ("cust", "cust"),
                           F.col("nation"), "nation", _jmeasures(),
                           a_version=1, b_version=1)
    S.merge(spark.createDataFrame([(1, 10, 150)],
                                  "k long, cust long, price long"),
            a, key="k", n_files=1)
    kw = dict(a_from=1, a_to=2, b_from=1, b_to=1, txn_version=1)
    ivm.refresh_join_agg_view(spark, a, b, view, ("cust", "cust"),
                              F.col("nation"), "nation", _jmeasures(), **kw)
    vs = S.versions(view)
    state = sorted(map(tuple, S.read(spark, view).collect()))
    r = ivm.refresh_join_agg_view(spark, a, b, view, ("cust", "cust"),
                                  F.col("nation"), "nation",
                                  _jmeasures(), **kw)
    assert r["applied"] is False
    assert S.versions(view) == vs
    assert sorted(map(tuple, S.read(spark, view).collect())) == state


# ---------------------------------------------------------------------------
# r12: MIN/MAX IVM via auxiliary count-per-value state (item 4)

def _mm_src(spark, tmp_path):
    t = os.path.join(str(tmp_path), "mm_src")
    S.overwrite(spark.createDataFrame(
        [(1, 0, 10), (2, 0, 50), (3, 0, 50), (4, 0, 90),
         (5, 1, 7), (6, 1, 7)],
        "k long, grp long, v long"), t, n_files=1)
    return t


def test_minmax_delete_of_extremum_converges_to_runner_up(spark, tmp_path):
    src = _mm_src(spark, tmp_path)
    view = os.path.join(str(tmp_path), "mm_view")
    aux = os.path.join(str(tmp_path), "mm_aux")
    ivm.init_minmax_view(spark, src, view, aux, F.col("grp"), "grp",
                         F.col("v"), "v", version=1)
    got = {r.grp: (r.n_vals, r.min_v, r.max_v)
           for r in S.read(spark, view).collect()}
    assert got == {0: (4, 10, 90), 1: (2, 7, 7)}
    # delete the group-0 maximum (k=4, v=90): max must fall to 50
    # WITHOUT a source rescan (runner-up known from aux state)
    S.delete(spark.createDataFrame([(4,)], "k long"), src, key="k",
             n_files=1)
    r = ivm.refresh_minmax_view(spark, src, view, aux, F.col("grp"),
                                "grp", F.col("v"), "v",
                                from_version=1, to_version=2)
    assert r["applied"]
    got = {r.grp: (r.n_vals, r.min_v, r.max_v)
           for r in S.read(spark, view).collect()}
    assert got == {0: (3, 10, 50), 1: (2, 7, 7)}
    # delete ONE of the duplicated 50s: max stays 50 (multiplicity)
    S.delete(spark.createDataFrame([(2,)], "k long"), src, key="k",
             n_files=1)
    ivm.refresh_minmax_view(spark, src, view, aux, F.col("grp"), "grp",
                            F.col("v"), "v", from_version=2, to_version=3)
    got = {r.grp: (r.n_vals, r.min_v, r.max_v)
           for r in S.read(spark, view).collect()}
    assert got == {0: (2, 10, 50), 1: (2, 7, 7)}
    audit = ivm.minmax_view_equals_recompute(
        spark, src, view, F.col("grp"), "grp", F.col("v"), "v")
    assert audit.head(1) == []


def test_minmax_group_retracts_and_replay_is_noop(spark, tmp_path):
    src = _mm_src(spark, tmp_path)
    view = os.path.join(str(tmp_path), "mm_view2")
    aux = os.path.join(str(tmp_path), "mm_aux2")
    ivm.init_minmax_view(spark, src, view, aux, F.col("grp"), "grp",
                         F.col("v"), "v", version=1)
    # group 1 loses BOTH rows -> retract
    S.delete(spark.createDataFrame([(5,), (6,)], "k long"), src, key="k",
             n_files=1)
    r = ivm.refresh_minmax_view(spark, src, view, aux, F.col("grp"),
                                "grp", F.col("v"), "v",
                                from_version=1, to_version=2)
    assert r["groups_deleted"] == 1
    assert sorted(x.grp for x in S.read(spark, view).collect()) == [0]
    vs_view, vs_aux = S.versions(view), S.versions(aux)
    r2 = ivm.refresh_minmax_view(spark, src, view, aux, F.col("grp"),
                                 "grp", F.col("v"), "v",
                                 from_version=1, to_version=2)
    assert r2["applied"] is False
    assert S.versions(view) == vs_view and S.versions(aux) == vs_aux
    audit = ivm.minmax_view_equals_recompute(
        spark, src, view, F.col("grp"), "grp", F.col("v"), "v")
    assert audit.head(1) == []


# ---------------------------------------------------------------------------
# r12: N-table chain IVM (the verdict's canonical 3-table view)

def _abc(spark, tmp_path):
    """lineitem-shaped A (line, ord, amt), orders-shaped B (ord2,
    cust), customer-shaped C (cust2, nation) — distinct column names
    per the chain contract."""
    a = os.path.join(str(tmp_path), "ca")
    b = os.path.join(str(tmp_path), "cb")
    c = os.path.join(str(tmp_path), "cc")
    S.overwrite(spark.createDataFrame(
        [(1, 100, 10), (2, 100, 20), (3, 101, 30), (4, 102, 40)],
        "line long, ord long, amt long"), a, n_files=1)
    S.overwrite(spark.createDataFrame(
        [(100, 10), (101, 11), (102, 12)], "ord2 long, cust long"),
        b, n_files=1)
    S.overwrite(spark.createDataFrame(
        [(10, 0), (11, 0), (12, 1)], "cust2 long, nation long"),
        c, n_files=1)
    return a, b, c


_ONS = [("ord", "ord2"), ("cust", "cust2")]


def _cmeasures():
    return {"revenue": F.col("amt")}


def test_chain_view_folds_changes_on_all_three_tables(spark, tmp_path):
    a, b, c = _abc(spark, tmp_path)
    view = os.path.join(str(tmp_path), "cview")
    ivm.init_chain_agg_view(spark, [(a, 1), (b, 1), (c, 1)], view, _ONS,
                            F.col("nation"), "nation", _cmeasures())
    got = {r.nation: (r.n_rows, r.revenue)
           for r in S.read(spark, view).collect()}
    assert got == {0: (3, 60), 1: (1, 40)}
    # one refresh folding SIMULTANEOUS changes on all three tables:
    # A: delete line 2 (-20 from nation 0)
    # B: re-route order 101 from cust 11 to cust 12 (30 moves 0 -> 1)
    # C: delete cust 12 / nation 1 entirely (kills the group AFTER the
    #    re-route lands — order matters, the identity handles it)
    S.delete(spark.createDataFrame([(2,)], "line long"), a, key="line",
             n_files=1)
    S.merge(spark.createDataFrame([(101, 12)], "ord2 long, cust long"),
            b, key="ord2", n_files=1)
    S.delete(spark.createDataFrame([(12,)], "cust2 long"), c,
             key="cust2", n_files=1)
    r = ivm.refresh_chain_agg_view(
        spark, [(a, 1, 2), (b, 1, 2), (c, 1, 2)], view, _ONS,
        F.col("nation"), "nation", _cmeasures(), txn_version=1)
    assert r["applied"] and r["groups_deleted"] == 1
    got = {r.nation: (r.n_rows, r.revenue)
           for r in S.read(spark, view).collect()}
    # nation 1 retracted (cust 12 gone takes order 102 AND the
    # re-routed order 101 with it); nation 0 keeps only line 1
    assert got == {0: (1, 10)}
    audit = ivm.chain_view_equals_recompute(
        spark, [a, b, c], view, _ONS, F.col("nation"), "nation",
        _cmeasures())
    assert audit.head(1) == []


def test_chain_view_unchanged_tables_contribute_no_terms(spark, tmp_path):
    a, b, c = _abc(spark, tmp_path)
    view = os.path.join(str(tmp_path), "cview2")
    ivm.init_chain_agg_view(spark, [(a, 1), (b, 1), (c, 1)], view, _ONS,
                            F.col("nation"), "nation", _cmeasures())
    # only A changes; B and C pass from == to
    S.merge(spark.createDataFrame([(5, 102, 5)],
                                  "line long, ord long, amt long"),
            a, key="line", n_files=1)
    r = ivm.refresh_chain_agg_view(
        spark, [(a, 1, 2), (b, 1, 1), (c, 1, 1)], view, _ONS,
        F.col("nation"), "nation", _cmeasures(), txn_version=1)
    assert r["applied"]
    audit = ivm.chain_view_equals_recompute(
        spark, [a, b, c], view, _ONS, F.col("nation"), "nation",
        _cmeasures())
    assert audit.head(1) == []
    # and a replay is a durable no-op
    r2 = ivm.refresh_chain_agg_view(
        spark, [(a, 1, 2), (b, 1, 1), (c, 1, 1)], view, _ONS,
        F.col("nation"), "nation", _cmeasures(), txn_version=1)
    assert r2["applied"] is False


def test_completed_refresh_marks_both_txn_halves(spark, tmp_path):
    # r13 replay fast path: a COMPLETED refresh leaves both the merge
    # (":m", via SN.merge) and retract (":d", advanced even when no
    # group died) markers at its txn version, so a clean replay is
    # detected from the markers alone — no delta recompute, no view
    # scan, zero Spark jobs
    src = _src(spark, tmp_path)
    view = os.path.join(str(tmp_path), "view_fast")
    _maintain(spark, src, view, 2)  # v2 merge: no group dies
    assert S._txn_committed(view, "ivm:m", 2)
    assert S._txn_committed(view, "ivm:d", 2)  # marked despite 0 deads
    state = sorted(map(tuple, S.read(spark, view).collect()))
    vs = S.versions(view)
    sc = spark.sparkContext
    sc.setJobGroup("ivm_replay_probe", "replay")
    res = ivm.refresh_agg_view(spark, src, view, _grp(), "grp",
                               _measures(), from_version=1, to_version=2)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup("ivm_replay_probe"))
    sc.setJobGroup(None, None)
    assert res == {"applied": False, "groups_upserted": 0,
                   "groups_deleted": 0}
    assert n_jobs == 0, f"clean replay ran {n_jobs} Spark jobs"
    assert S.versions(view) == vs
    assert sorted(map(tuple, S.read(spark, view).collect())) == state
