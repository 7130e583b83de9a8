"""Benchmark driver: one workload, one seed, one process.

    python3 perfbench/run.py --workload crm_refresh --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  A single client drives the workload
in a closed loop on ``local[<cpus>]``: set-up (session start, initial
state, one untimed warm-up pass), then timed passes until ``--seconds``
of pass time have been measured and at least ``MIN_PASSES`` have run,
then the output checks of every timed pass.  Inputs come from
``--seed`` alone.  The session is the package's own ``get_spark``, with
the console progress bar off and the warehouse inside the run's work
directory.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` spans and Spark status-store counters are recorded
and it carries the per-layer metrics instead.  The full run record
(provenance, every sample, span self times) goes to stderr as JSON, or
to ``--record PATH``.  Every file the run writes stays under
``.perfbench_work/`` in the checkout and is removed at exit.  The exit
code is non-zero when any operation or output check failed.
"""

from __future__ import annotations

import time

_T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
# timed passes a run makes at least, whatever --seconds says: the
# median of three drops one slow pass
MIN_PASSES = 3


def _percentile_info(samples: list[float]) -> dict:
    """Median, sample count and the highest percentile with at least ten
    samples beyond it (information only)."""
    xs = sorted(samples)
    n = len(xs)
    out = {"n": n, "p50": statistics.median(xs) if xs else None}
    for p in (99.9, 99, 95, 90, 75, 50):
        if n * (100 - p) / 100 >= 10:
            out[f"p{p:g}"] = xs[min(n - 1, int(n * p / 100))]
            break
    return out


def _isolate(work: str, cpus: int) -> None:
    """Point every temp/scratch location of Python, the JVM and Spark
    into *work* before anything starts."""
    for sub in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # every JVM (launcher and driver): no hsperfdata files under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")
    import tempfile

    tempfile.tempdir = None


def _provenance(spark, cpus: int, seed: int) -> dict:
    import pyarrow
    import pyspark

    system = spark.sparkContext._jvm.java.lang.System
    java = (f"{system.getProperty('java.vm.name')} "
            f"{system.getProperty('java.version')}")
    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=30, cwd=ROOT).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        sha = ""
    return {"cpus": cpus, "git_sha": sha or None,
            "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            "java": java, "python": sys.version.split()[0], "seed": seed}


def _stop(spark) -> None:
    """Stop the session and wait for the JVM process to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", help="write the full run record here")
    args = ap.parse_args(argv)

    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    import workloads  # noqa: E402 - needs HERE on sys.path

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    load_start = os.getloadavg()
    _isolate(work, cpus)
    try:
        return _run(args, workloads, work, cpus, load_start)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it


def _run(args, workloads, work, cpus, load_start) -> int:
    # the package is part of the checkout, not of the benchmark: without
    # it this import fails and the run exits non-zero, printing nothing
    from magshield_data_pipeline_spark.session import get_spark
    from magshield_data_pipeline_spark.sources import scratch

    import layers
    import tracing as tr

    scratch._PREFIX = os.path.join(work, "scratch", "magshield_")
    os.makedirs(os.path.dirname(scratch._PREFIX), exist_ok=True)
    tracer = tr.Tracer(bool(args.trace))
    gen_s = 0.0

    t0 = time.perf_counter()
    with tracer.span("session.start"):
        spark = get_spark(
            "perfbench", master=f"local[{cpus}]",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            })
    session_s = time.perf_counter() - t0
    try:
        spark.sparkContext.setLogLevel("ERROR")
        wl = workloads.WORKLOADS[args.workload](spark, tracer, work, args.seed)

        t = time.perf_counter()
        wl.prepare_state()
        gen_s += time.perf_counter() - t
        wl.setup()
        # one untimed warm-up pass, part of set-up
        t = time.perf_counter()
        wl.prepare(0)
        gen_s += time.perf_counter() - t
        tracer.pass_id = 0
        wl.run_pass(0)
        setup_s = time.perf_counter() - _T_START - gen_s
        warm_failures = list(wl.failures)
        wl.commit_s.clear()
        wl.freshness_s.clear()

        counters = tr.EngineCounters(spark) if args.trace else None
        if counters:
            tracer.job_id = counters.job_id
        passes: list[dict] = []
        measured = 0.0
        pass_id = 0
        while measured < args.seconds or len(passes) < MIN_PASSES:
            pass_id += 1
            t = time.perf_counter()
            wl.prepare(pass_id)
            gen_s += time.perf_counter() - t
            tracer.pass_id = pass_id
            mark = counters.mark() if counters else None
            t = time.perf_counter()
            with tracer.span("pass"):
                wl.run_pass(pass_id)
            wall = time.perf_counter() - t
            rec = {"pass": pass_id, "wall_s": wall, "rows": wl.rows_per_pass}
            if counters:
                rec["engine"] = counters.since(mark)
            passes.append(rec)
            measured += wall
        peak_rss = tr.peak_rss_mb(spark)
        load_end = os.getloadavg()
        wl.check([p["pass"] for p in passes])
        # warm-up operations count too: a failure anywhere fails the run
        attempted = max(1, wl.attempted)
        failed = len(wl.failures)
        walls = [p["wall_s"] for p in passes]
        rows = sum(p["rows"] for p in passes)
        e2e = {
            "setup_s": (setup_s, "s"),
            "pass_p50_s": (statistics.median(walls), "s"),
            "throughput_rows_s": (rows / sum(walls), "rows/s"),
            "commit_p50_s": (statistics.median(wl.commit_s), "s")
            if wl.commit_s else (None, "s"),
            "freshness_p50_s": (statistics.median(wl.freshness_s), "s")
            if wl.freshness_s else (None, "s"),
        }
        spec = layers.spec()
        record = {
            "workload": args.workload,
            "why": spec["workloads"][args.workload],
            "loop": spec["loop"],
            "metric_definitions": spec["end_to_end"],
            "layer_map": spec["per_layer"],
            "provenance": {**_provenance(spark, cpus, args.seed),
                           "loadavg_start": load_start,
                           "loadavg_end": load_end},
            "run_seconds": args.seconds,
            "trace": args.trace,
            "session_start_s": session_s,
            "peak_rss_parts_mb": peak_rss,
            "generation_s": gen_s,
            "passes": passes,
            "pass_wall": _percentile_info(walls),
            "commit": _percentile_info(wl.commit_s),
            "freshness": _percentile_info(wl.freshness_s),
            "attempted": attempted,
            "failed": failed,
            "failed_op_share": failed / attempted,
            "failures": wl.failures[:20],
            "warmup_failures": warm_failures[:5],
            "end_to_end": {k: {"value": v, "unit": u}
                           for k, (v, u) in e2e.items()},
        }
        if args.trace:
            record["span_list"] = [
                {**sp, "start": sp["start"] - _T_START,
                 "end": sp["end"] - _T_START}
                for sp in tracer.spans if sp["end"] is not None]
            record["spans"] = tracer.self_times()
            record["per_layer"] = layers.per_layer(wl, tracer, passes,
                                                   session_s, cpus, peak_rss)
            metrics = record["per_layer"]
        else:
            metrics = record["end_to_end"]
        record["workload_detail"] = wl.record()
    finally:
        _stop(spark)

    text = json.dumps(record, indent=1, default=str)
    if args.record:
        with open(args.record, "w") as f:
            f.write(text + "\n")
    else:
        print(text, file=sys.stderr)
    for f in wl.failures[:20]:
        print(f"FAILED: {f}", file=sys.stderr)
    ok = failed == 0 and all(m["value"] is not None for m in metrics.values())
    print(f"{args.workload} seed={args.seed} attempted={attempted} "
          f"failed={failed} failed_op_share={failed / attempted:.4f}")
    print(json.dumps({"correct": ok, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
