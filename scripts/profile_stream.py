"""Streaming-query profiler for the optimization rounds (guide §1).

Usage: python scripts/profile_stream.py <query> [<query> ...]
  SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS honored like bench.py.

For each registered query: wall time (2 runs after warmup), plus — for
every StreamingQuery the query starts — the micro-batch count and the
summed ``durationMs`` phases from the progress events (triggerExecution
= total; addBatch = the data plan; the rest is protocol: offset
tracking, planning, WAL/state commits). This is the streaming analog of
a plan read: it says whether a slow stream is slow in the BATCH WORK or
in the per-trigger protocol floor.
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql.streaming import readwriter  # noqa: E402

from magshield_data_pipeline_spark.plans.registry import QUERY_REGISTRY  # noqa: E402
from magshield_data_pipeline_spark.session import get_spark, release_caches  # noqa: E402

_CAPTURED: list = []
_orig_start = readwriter.DataStreamWriter.start


def _capturing_start(self, *a, **kw):
    q = _orig_start(self, *a, **kw)
    _CAPTURED.append(q)
    return q


readwriter.DataStreamWriter.start = _capturing_start

_PHASES = (
    "addBatch",
    "getBatch",
    "latestOffset",
    "queryPlanning",
    "walCommit",
    "commitOffsets",
    "triggerExecution",
)


def consume(df):
    df.write.format("noop").mode("overwrite").save()


def main() -> int:
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("magshield-profile-stream")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()
    _, warm_spec = next(iter(QUERY_REGISTRY.items()))
    for _ in range(2):
        consume(warm_spec.fn(spark, sf_dir))
        release_caches(spark)

    for name in names:
        spec = QUERY_REGISTRY[name]
        walls = []
        for run in range(2):
            _CAPTURED.clear()
            t0 = time.perf_counter()
            df = spec.fn(spark, sf_dir)
            consume(df)
            walls.append(time.perf_counter() - t0)
            for qi, q in enumerate(_CAPTURED):
                progs = [p for p in q.recentProgress]
                tot: dict[str, int] = {}
                state_rows = 0
                state_commit = 0
                n_shuffle_parts = None
                for p in progs:
                    for ph in _PHASES:
                        tot[ph] = tot.get(ph, 0) + int(
                            p.get("durationMs", {}).get(ph, 0)
                        )
                    for so in p.get("stateOperators", []):
                        state_rows += int(so.get("numRowsTotal", 0))
                        state_commit += int(
                            so.get("customMetrics", {}).get(
                                "stateOnCurrentVersionSizeBytes", 0
                            )
                        )
                phases = " ".join(
                    f"{ph}={tot.get(ph, 0)}" for ph in _PHASES
                )
                print(
                    f"  [{name} q{qi}] batches={len(progs)} {phases} "
                    f"stateRows={state_rows}"
                )
            release_caches(spark)
        print(f"{name}: wall = {' / '.join(f'{w:.2f}' for w in walls)} s")
    return 0


if __name__ == "__main__":
    sys.exit(main())
