"""The benchmark's workloads.

Each workload owns its inputs, its initial state, one timed *pass* and
the checks of that pass's written output.  ``run.py`` drives them in a
closed loop with one client: the next pass starts only after the
previous one returned.

- ``crm_refresh``: the reference's own job.  Each pass re-extracts (a
  freshly generated CRM extract under a new directory, so no session
  plan memo can serve it) and rebuilds the quote and opportunity
  exports, each written through ``sinks.overwrite_by_name``.
- ``ledger_cdc``: writes beside reads on a snapshot ledger table.  Each
  cycle commits an append, a merge and a delete, folds the change feed
  into an IVM view (``ledger_cdc`` stream, ``foreachBatch``) and an
  SCD2 mirror (``read_row_changes``) and runs one aggregate read; every
  ``maintain_every`` cycles it also runs table maintenance.
"""

from __future__ import annotations

import json
import os
import statistics
import time

import numpy as np

import gen


class Workload:
    """Base: subclasses set ``name`` and implement the hooks below."""

    name = ""

    def __init__(self, spark, tracer, work_dir: str, seed: int):
        self.spark = spark
        self.tracer = tracer
        self.work_dir = work_dir
        self.seed = seed
        self.rows_per_pass = 0
        # per-operation samples of the timed phase
        self.commit_s: list[float] = []
        self.freshness_s: list[float] = []
        self.attempted = 0
        self.failures: list[str] = []

    def prepare_state(self) -> None:
        """Generate the inputs of the initial state (not set-up)."""

    def prepare(self, pass_id: int) -> None:
        """Generate the inputs of *pass_id* (untimed, not set-up)."""

    def setup(self) -> None:
        """Build the initial state the timed passes start from."""

    def run_pass(self, pass_id: int) -> None:
        """One timed pass."""
        raise NotImplementedError

    def check(self, pass_ids: list[int]) -> None:
        """Check the written output of the timed passes; record failures."""

    def fail(self, what: str) -> None:
        self.failures.append(what)

    def record(self) -> dict:
        """Workload-specific detail for the run record."""
        return {}

    def layer_metrics(self, pass_ids: list[int]) -> dict[str, float]:
        """Per-layer metrics only the workload itself can compute (traced
        runs); layers it does not exercise read 0."""
        return {k: 0.0 for k in (
            "sinks.output_bytes",
            "snapshots.bytes_written_per_user_byte",
            "snapshots.files_rewritten_per_merge",
            "snapshots.disk_bytes_per_live_byte",
            "streaming.start_to_first_batch_s",
            "streaming.batches_per_drain",
            "streaming.add_batch_s",
            "streaming.trigger_overhead_s",
        )}


def _tree_bytes(path: str, skip: str | None = None) -> int:
    total = 0
    for d, dirs, files in os.walk(path):
        if skip in dirs:
            dirs.remove(skip)
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


class CrmRefresh(Workload):
    """A pass rebuilds the exports from one fresh extract and writes
    each through the sink."""

    name = "crm_refresh"
    queries = (
        "quote_export_pipeline",
        "opportunity_export_pipeline",
    )
    scale = 1.0

    def __init__(self, spark, tracer, work_dir, seed):
        super().__init__(spark, tracer, work_dir, seed)
        from magshield_data_pipeline_spark.plans.registry import QUERY_REGISTRY

        self.specs = {q: QUERY_REGISTRY[q] for q in self.queries}
        self.inputs: dict[int, str] = {}
        self.outputs: dict[int, dict[str, str]] = {}

    def prepare(self, pass_id):
        # the basename is unique per (seed, pass): package scratch trees
        # and plan memos are keyed on it
        d = os.path.join(self.work_dir, "in",
                         f"{self.name}_s{self.seed}_p{pass_id}")
        self.rows_per_pass = gen.write_extract(d, self.seed, pass_id,
                                               self.scale)
        self.inputs[pass_id] = d

    def run_pass(self, pass_id):
        from magshield_data_pipeline_spark import sinks

        src = self.inputs[pass_id]
        out = os.path.join(self.work_dir, "out", f"p{pass_id}")
        self.outputs[pass_id] = {}
        t0 = time.perf_counter()
        for q, spec in self.specs.items():
            self.attempted += 1
            try:
                with self.tracer.span(f"exports.{q}"):
                    with self.tracer.span("plans.build"):
                        df = spec.fn(self.spark, src)
                    t_w = time.perf_counter()
                    with self.tracer.span("sinks.write"):
                        path = sinks.overwrite_by_name(df, out, q)
                    t_done = time.perf_counter()
            except Exception as e:  # noqa: BLE001 - a failed op is counted
                self.fail(f"pass {pass_id} {q}: {type(e).__name__}: {e}")
                continue
            self.commit_s.append(t_done - t_w)
            self.freshness_s.append(t_done - t0)
            self.outputs[pass_id][q] = path

    def check(self, pass_ids):
        """Each written export against its DuckDB twin over the same
        extract."""
        from magshield_data_pipeline_spark.plans.oracle_harness import (
            compare_query,
        )

        for i in pass_ids:
            for q, path in self.outputs[i].items():
                try:
                    res = compare_query(
                        self.spark, q,
                        lambda s, _d, p=path: s.read.parquet(p),
                        self.specs[q].sql, self.inputs[i])
                except Exception as e:  # noqa: BLE001 - a failed check is counted
                    self.fail(f"pass {i} {q} check: "
                              f"{type(e).__name__}: {e}")
                    continue
                if not res["ok"]:
                    self.fail(f"pass {i} {q} check: {res}")

    def layer_metrics(self, pass_ids):
        out = super().layer_metrics(pass_ids)
        out["sinks.output_bytes"] = float(statistics.median(
            _tree_bytes(os.path.join(self.work_dir, "out", f"p{i}"))
            for i in pass_ids))
        return out


class LedgerCdc(Workload):
    """Commit-and-fold cycles on one ledger table (see module doc)."""

    name = "ledger_cdc"
    maintain_every = 3
    base_rows = 5_000
    append_rows = 100
    merge_share = 0.01
    delete_rows = 10
    n_groups = 32
    attrs = ["amount", "status"]

    def __init__(self, spark, tracer, work_dir, seed):
        super().__init__(spark, tracer, work_dir, seed)
        root = os.path.join(work_dir, "ledger")
        self.src = os.path.join(root, "src")
        self.view = os.path.join(root, "ivm_view")
        self.mirror = os.path.join(root, "scd2_mirror")
        self.ckpt = os.path.join(root, "ckpt")
        self.rng = np.random.default_rng([seed, 99])
        self.next_key = 0
        # what the table should hold: key -> (amount, status)
        self.model: dict[int, tuple[int, str]] = {}
        self.scd_from = 1
        # per cycle: the aggregate read and what it should say
        self.reads: dict[int, tuple[int, int]] = {}
        self.expected: dict[int, tuple[int, int]] = {}
        # one entry per commit: op, version, latency, when it returned,
        # plus (traced runs) what it did to the table
        self.commits: list[dict] = []
        self.stream_progress: dict[int, list[dict]] = {}

    # -- inputs -----------------------------------------------------------
    def _frame(self, rows: dict[int, tuple[int, str]]):
        import pandas as pd

        keys = np.array(sorted(rows), dtype=np.int64)
        return self.spark.createDataFrame(pd.DataFrame({
            "k": keys,
            "grp": keys % self.n_groups,
            "amount": np.array([rows[k][0] for k in keys.tolist()],
                               dtype=np.int64),
            "status": [rows[k][1] for k in keys.tolist()],
        }), "k long, grp long, amount long, status string")

    def _statuses(self, n):
        return self.rng.choice(["open", "won", "lost", "hold"], n).tolist()

    def _new_rows(self, keys):
        amounts = self.rng.integers(100, 1_000_000, len(keys)).tolist()
        return dict(zip(keys, zip(amounts, self._statuses(len(keys)))))

    def _recent_keys(self, n):
        """*n* distinct live keys from the newest fifth.  Maintenance
        clusters the table into four key-range files, so these keys sit
        in the newest file and the ones appended since: stats pruning
        carries the rest, and every seed rewrites the same files."""
        live = np.array(sorted(self.model))
        recent = live[len(live) - len(live) // 5:]
        return sorted(int(k) for k in
                      self.rng.choice(recent, min(n, len(recent)),
                                      replace=False))

    def prepare_state(self):
        self.next_key = self.base_rows
        rows = self._new_rows(list(range(self.base_rows)))
        self._base = self._frame(rows)
        self.model.update(rows)

    def prepare(self, pass_id):
        new = self._new_rows(list(range(self.next_key,
                                        self.next_key + self.append_rows)))
        self.next_key += self.append_rows
        upd_keys = self._recent_keys(int(len(self.model) * self.merge_share))
        # every merged row changes its amount, so each one is a real
        # update for the view and the mirror
        bumps = self.rng.integers(1, 1_000, len(upd_keys)).tolist()
        upd = {k: (self.model[k][0] + b, s) for k, b, s in
               zip(upd_keys, bumps, self._statuses(len(upd_keys)))}
        dele = self._recent_keys(self.delete_rows)
        self._cycle = {"append": self._frame(new), "merge": self._frame(upd),
                       "delete": self.spark.createDataFrame(
                           [(k,) for k in dele], "k long"),
                       "n_append": len(new), "n_merge": len(upd),
                       "n_delete": len(dele)}
        self.model.update(new)
        self.model.update(upd)
        for k in dele:
            del self.model[k]
        self.expected[pass_id] = (len(self.model),
                                  sum(a for a, _ in self.model.values()))
        self.rows_per_pass = len(new) + len(upd) + len(dele)

    # -- state ------------------------------------------------------------
    def _measures(self):
        from pyspark.sql import functions as F

        return {"amount_sum": F.col("amount")}

    def setup(self):
        from pyspark.sql import functions as F

        from magshield_data_pipeline_spark.operators import ivm, scd
        from magshield_data_pipeline_spark.sources import cdc_stream
        from magshield_data_pipeline_spark.sources import snapshots as SN

        with self.tracer.span("snapshots.append"):
            SN.append(self._base, self.src, n_files=4)
        SN.compact(self.spark, self.src, n_files=4, cluster_by=["k"])
        with self.tracer.span("ivm.init"):
            ivm.init_agg_view(self.spark, self.src, self.view, F.col("grp"),
                              "grp", self._measures(), version=1)
        with self.tracer.span("scd.init"):
            scd.init_scd2(self.spark, self.src, self.mirror, "k", self.attrs,
                          version=1)
        cdc_stream.register(self.spark)
        # the change feed is defined once, as a long-running consumer
        # would; each cycle starts one AvailableNow drain of it
        self._feed = (self.spark.readStream.format("ledger_cdc")
                      .option("path", self.src)
                      .option("startversion", 1)
                      .option("maxversionsperbatch", 1000)
                      .load())

    # -- one cycle --------------------------------------------------------
    def _commit(self, op, fn, user_rows):
        from magshield_data_pipeline_spark.sources import snapshots as SN

        t0 = time.perf_counter()
        with self.tracer.span(f"snapshots.{op}"):
            v = fn()
        t1 = time.perf_counter()
        self.commit_s.append(t1 - t0)
        rec = {"pass": self.tracer.pass_id, "op": op, "version": v,
               "latency_s": t1 - t0, "returned": t1}
        self.commits.append(rec)
        if self.tracer.enabled:
            # what the commit did to the table, from its manifests
            before = {e["path"]: e for e in
                      SN.read_manifest(self.src, v - 1)["files"]}
            after = {e["path"]: e for e in
                     SN.read_manifest(self.src, v)["files"]}
            live_rows = sum(e["rows"] for e in after.values())
            live_bytes = sum(e.get("bytes", 0) for e in after.values())
            rec.update({
                "user_rows": user_rows,
                "user_bytes": user_rows * live_bytes / max(1, live_rows),
                "files_added": len(after.keys() - before.keys()),
                "files_removed": len(before.keys() - after.keys()),
                "bytes_added": sum(after[k].get("bytes", 0)
                                   for k in after.keys() - before.keys()),
            })
        return v

    def _fold_stream(self, pass_id):
        from pyspark.sql import functions as F

        from magshield_data_pipeline_spark.operators import ivm

        measures = self._measures()
        tracer = self.tracer

        def fold(batch_df, batch_id):
            with tracer.span("ivm.fold"):
                ivm.apply_changes(self.spark, self.view, batch_df,
                                  F.col("grp"), "grp", measures,
                                  txn_version=int(batch_id), app="bench-ivm")

        with self.tracer.span("streaming.drain"):
            q = (self._feed.writeStream.foreachBatch(fold)
                 .option("checkpointLocation", self.ckpt)
                 .trigger(availableNow=True)
                 .start())
            q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(f"ledger_cdc stream failed: {q.exception()}")
        if self.tracer.enabled:
            self.stream_progress[pass_id] = [
                json.loads(p.json) for p in q.recentProgress]

    def _fold_scd(self):
        from magshield_data_pipeline_spark.operators import scd
        from magshield_data_pipeline_spark.sources import snapshots as SN

        to = SN.versions(self.src)[-1]
        with self.tracer.span("snapshots.read_row_changes"):
            feed = SN.read_row_changes(self.spark, self.src, self.scd_from, to)
        with self.tracer.span("scd.fold"):
            scd.apply_scd2_changes(self.spark, self.mirror, feed, "k",
                                   self.attrs, txn_version=to,
                                   app_id="bench-scd2")
        self.scd_from = to

    def run_pass(self, pass_id):
        from magshield_data_pipeline_spark.sources import snapshots as SN

        c = self._cycle
        ops = [
            ("append", lambda: self._commit(
                "append", lambda: SN.append(c["append"], self.src,
                                            n_files=1), c["n_append"])),
            ("merge", lambda: self._commit(
                "merge", lambda: SN.merge(c["merge"], self.src, key="k"),
                c["n_merge"])),
            ("delete", lambda: self._commit(
                "delete", lambda: SN.delete(c["delete"], self.src, key="k"),
                c["n_delete"])),
            ("stream_fold", lambda: self._fold_stream(pass_id)),
            ("scd_fold", self._fold_scd),
            ("read", lambda: self._read(pass_id)),
        ]
        if pass_id % self.maintain_every == self.maintain_every - 1:
            ops.append(("maintain", self._maintain))
        n_commits = len(self.commits)
        for op, fn in ops:
            self.attempted += 1
            try:
                fn()
            except Exception as e:  # noqa: BLE001 - a failed op is counted
                self.fail(f"cycle {pass_id} {op}: {type(e).__name__}: {e}")
                return
            if op == "scd_fold":
                done = time.perf_counter()
                self.freshness_s.extend(
                    done - cm["returned"] for cm in self.commits[n_commits:])

    def _read(self, pass_id):
        from pyspark.sql import functions as F

        from magshield_data_pipeline_spark.sources import snapshots as SN

        with self.tracer.span("snapshots.read"):
            row = SN.read(self.spark, self.src).agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("amount").alias("amount")).collect()[0]
        self.reads[pass_id] = (row["n"], row["amount"])

    def _maintain(self):
        """Re-cluster the table into key-range files (what keeps merge
        pruning sharp as appends land) and expire the snapshots the
        stream and the SCD2 fold no longer need."""
        from magshield_data_pipeline_spark.sources import snapshots as SN

        with self.tracer.span("snapshots.maintain"):
            SN.compact(self.spark, self.src, n_files=4, cluster_by=["k"])
            SN.expire_snapshots(self.src, time.time(), keep_last=2)

    # -- traced figures ---------------------------------------------------
    def layer_metrics(self, pass_ids):
        out = super().layer_metrics(pass_ids)
        timed = [c for c in self.commits if c["pass"] in pass_ids]
        out["snapshots.bytes_written_per_user_byte"] = (
            sum(c["bytes_added"] for c in timed)
            / max(1.0, sum(c["user_bytes"] for c in timed)))
        out["snapshots.files_rewritten_per_merge"] = float(statistics.median(
            [c["files_removed"] for c in timed if c["op"] == "merge"] or [0]))
        from magshield_data_pipeline_spark.sources import snapshots as SN

        out["snapshots.disk_bytes_per_live_byte"] = (
            _tree_bytes(self.src, skip="_manifests")
            / max(1, SN.table_bytes(self.src)))
        first, batches, add, overhead = [], [], [], []
        for i in pass_ids:
            drains = self.tracer.find("streaming.drain", i)
            folds = self.tracer.find("ivm.fold", i)
            if not drains:
                continue
            d = drains[0]
            if folds:
                first.append(folds[0]["start"] - d["start"])
            batches.append(len(folds))
            add_s = sum(p["durationMs"].get("addBatch", 0)
                        for p in self.stream_progress.get(i, [])) / 1e3
            add.append(add_s)
            overhead.append(d["end"] - d["start"] - add_s)
        for key, xs in (("start_to_first_batch_s", first),
                        ("batches_per_drain", batches),
                        ("add_batch_s", add),
                        ("trigger_overhead_s", overhead)):
            out[f"streaming.{key}"] = float(statistics.median(xs or [0]))
        return out

    def record(self) -> dict:
        return {"commits": self.commits,
                "stream_progress": self.stream_progress}

    # -- checks -----------------------------------------------------------
    def check(self, pass_ids):
        """Each timed aggregate read against the generator's model; then
        the final table against the model, and the IVM view and the
        SCD2 mirror against a recompute from the latest snapshot.  The
        view and the mirror accumulate every fold, so a wrong fold in
        any cycle shows in their final state."""
        from pyspark.sql import functions as F

        from magshield_data_pipeline_spark.sources import snapshots as SN

        for i in pass_ids:
            if self.reads.get(i) != self.expected[i]:
                self.fail(f"cycle {i} aggregate read {self.reads.get(i)} "
                          f"!= {self.expected[i]}")
        try:
            table = SN.read(self.spark, self.src)
            base = (table.select("k", *self.attrs).toPandas()
                    .sort_values("k").reset_index(drop=True))
            if {int(r.k): (int(r.amount), r.status)
                    for r in base.itertuples()} != self.model:
                self.fail("table differs from the committed inputs")
            want = (table.groupBy("grp")
                    .agg(F.count(F.lit(1)).alias("n_rows"),
                         F.sum("amount").alias("amount_sum"))
                    .toPandas().sort_values("grp").reset_index(drop=True))
            got = (SN.read(self.spark, self.view)
                   .filter(F.col("n_rows") > 0)
                   .select("grp", "n_rows", "amount_sum")
                   .toPandas().sort_values("grp").reset_index(drop=True))
            if not want.astype("int64").equals(got.astype("int64")):
                self.fail("ivm view differs from recompute")
            cur = (SN.read(self.spark, self.mirror)
                   .filter(F.col("valid_to").isNull())
                   .select("k", *self.attrs).toPandas()
                   .sort_values("k").reset_index(drop=True))
            if not cur.equals(base):
                self.fail("scd2 mirror differs from table")
        except Exception as e:  # noqa: BLE001 - a failed check is counted
            self.fail(f"check: {type(e).__name__}: {e}")


WORKLOADS = {w.name: w for w in (CrmRefresh, LedgerCdc)}
