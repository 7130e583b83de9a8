"""Per-layer metrics of a traced run.

The metric names, units and the end-to-end metric each should move are
declared in ``layers.json``; this module computes their values from
the run's spans and per-pass engine counters.  A layer a workload does
not exercise reads 0.  Per-pass figures are medians over the timed
passes; per-call figures are medians over the timed calls.
"""

from __future__ import annotations

import json
import os
import statistics

SPEC_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "layers.json")


def spec() -> dict:
    with open(SPEC_PATH) as f:
        return json.load(f)


def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def per_layer(wl, tracer, passes: list[dict], session_s: float,
              cpus: int, peak_rss: dict[str, float]) -> dict:
    declared = spec()["per_layer"]
    ids = [p["pass"] for p in passes]
    timed = [s for s in tracer.spans
             if s["end"] is not None and s["pass"] in ids]

    def dur(s):
        return s["end"] - s["start"]

    def per_pass_sum(name, field=None):
        out = []
        for i in ids:
            out.append(sum((s[field] if field else dur(s))
                           for s in timed
                           if s["name"] == name and s["pass"] == i))
        return _median(out)

    def per_call(name):
        return _median(dur(s) for s in timed if s["name"] == name)

    def engine(key):
        return _median(p["engine"][key] for p in passes)

    v: dict[str, float] = {
        "session.start_s": session_s,
        "spark_exec.jvm_peak_rss_mb": peak_rss["jvm"],
        "plans.build_s": per_pass_sum("plans.build"),
        "sinks.write_s": per_pass_sum("sinks.write"),
        "spark_exec.busy_share": _median(
            p["engine"]["executor_run_s"] / (p["wall_s"] * cpus)
            for p in passes),
        "sources.parquet.input_bytes": engine("input_bytes"),
        "sources.parquet.input_rows": engine("input_rows"),
        "snapshots.read_s": per_call("snapshots.read"),
        "ivm.fold_s": per_pass_sum("ivm.fold"),
        "ivm.jobs_per_fold": per_pass_sum("ivm.fold", "jobs"),
        "scd.fold_s": per_pass_sum("scd.fold")
        + per_pass_sum("snapshots.read_row_changes"),
        "scd.jobs_per_fold": per_pass_sum("scd.fold", "jobs")
        + per_pass_sum("snapshots.read_row_changes", "jobs"),
    }
    for key in ("jobs", "stages", "tasks", "executor_run_s",
                "executor_cpu_s", "gc_s", "shuffle_read_bytes",
                "shuffle_write_bytes", "spill_bytes"):
        v[f"spark_exec.{key}"] = engine(key)
    for op in ("append", "merge", "delete", "maintain"):
        v[f"snapshots.{op}_s"] = per_call(f"snapshots.{op}")
    for name in declared:
        layer, _, rest = name.partition(".")
        if layer == "exports" and rest.endswith("_s"):
            v[name] = per_pass_sum(f"{layer}.{rest[:-2]}")
    v.update(wl.layer_metrics(ids))
    missing = set(declared) - set(v)
    if missing:
        raise KeyError(f"per-layer metrics not computed: {sorted(missing)}")
    return {name: {"value": v[name], "unit": declared[name]["unit"]}
            for name in declared}
