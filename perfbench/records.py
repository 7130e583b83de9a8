"""Write the committed traced records under ``perfbench/records/``.

    python3 perfbench/records.py [--seed 7] [--seconds 10] [--pairs 3] [workload ...]

For each workload this runs ``--pairs`` pairs of runs with the same
seed, traced and untraced, alternating which goes first, keeps the
records of the last pair, and writes ``summary.json``: per workload
the per-layer metrics and span self times of the kept traced run, and
the tracing overhead, taken as the median traced minus the median
untraced ``pass_p50_s``.  Run it from the root of a checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
OUT = os.path.join(HERE, "records")


def _run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    path = os.path.join(OUT, f"{workload}.{'traced' if trace else 'untraced'}.json")
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace), "--record", path]
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
    # exit code 1 with a record means failed operations: they are part
    # of the record (failed_op_share), not a reason to stop
    if proc.returncode not in (0, 1) or not os.path.exists(path):
        raise RuntimeError(f"{' '.join(cmd)} exited {proc.returncode}:\n"
                           f"{proc.stdout[-2000:]}\n{proc.stderr[-4000:]}")
    return _relocate(path)


def _relocate(path: str) -> dict:
    """Load a run record, rewriting absolute checkout paths (stream
    descriptions name the ledger and checkpoint directories) relative."""
    with open(path) as f:
        text = f.read().replace(os.getcwd() + os.sep, "")
    with open(path, "w") as f:
        f.write(text)
    return json.loads(text)


def main() -> int:
    sys.path.insert(0, HERE)
    import workloads

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--pairs", type=int, default=3)
    ap.add_argument("workload", nargs="*", default=sorted(workloads.WORKLOADS))
    args = ap.parse_args()
    os.makedirs(OUT, exist_ok=True)
    summary_path = os.path.join(OUT, "summary.json")
    summary = {}
    if os.path.exists(summary_path):
        with open(summary_path) as f:
            summary = json.load(f)
    for wl in args.workload:
        t_p50, u_p50 = [], []
        for i in range(args.pairs):
            for trace in ((1, 0) if i % 2 == 0 else (0, 1)):
                rec = _run(wl, args.seed, args.seconds, trace)
                if trace:
                    traced = rec
                    t_p50.append(rec["pass_wall"]["p50"])
                else:
                    plain = rec
                    u_p50.append(rec["end_to_end"]["pass_p50_s"]["value"])
        t = statistics.median(t_p50)
        u = statistics.median(u_p50)
        summary[wl] = {
            "seed": args.seed,
            "failed_op_share": {"traced": traced["failed_op_share"],
                                "untraced": plain["failed_op_share"]},
            "failures": traced["failures"] + plain["failures"],
            "provenance": traced["provenance"],
            "tracing_overhead": {"traced_pass_p50_s": t_p50,
                                 "untraced_pass_p50_s": u_p50,
                                 "traced_median_s": t,
                                 "untraced_median_s": u,
                                 "overhead_s": t - u,
                                 "overhead_share": (t - u) / u},
            "end_to_end_untraced": plain["end_to_end"],
            "per_layer": {k: v["value"] for k, v in traced["per_layer"].items()
                          if v["value"]},
            "span_self_s": {k: round(v["self_s"], 4)
                            for k, v in sorted(traced["spans"].items())},
        }
        with open(summary_path, "w") as f:
            json.dump(summary, f, indent=1, sort_keys=True)
            f.write("\n")
        print(f"{wl}: median pass_p50 traced {t:.3f} s, untraced {u:.3f} s")
    return 0


if __name__ == "__main__":
    sys.exit(main())
