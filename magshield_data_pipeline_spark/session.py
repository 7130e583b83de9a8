"""SparkSession factory.

The reference pipeline hand-tunes its execution envelope (page size 500,
10-way thread fan-out, retry/backoff — /root/reference/modules/quote.py:52-99);
here the equivalent knobs are Spark confs. Defaults are sized for the
local[32] test harness but every setting is the one you would also ship
to a 1000-executor cluster: AQE on (runtime re-plan, skew-join split,
partition coalescing), broadcast threshold generous enough that every
reference dim joins broadcast, Arrow on for the pandas bridges.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = "32"

_SIZE_UNITS = {"": 1, "b": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30,
               "t": 1 << 40, "p": 1 << 50}
# Spark's JavaUtils.byteStringAsBytes grammar: digits, optional
# single-letter unit, optional trailing 'b' ('128m', '16KB', plain
# bytes) — a naive last-char unit lookup crashes on the two-letter
# forms (ADVICE r12 medium).
_SIZE_RE = re.compile(r"^(\d+)\s*([kmgtp]?)b?$")


def conf_bytes(spark: SparkSession, key: str, default: str) -> int:
    """A byte-sized Spark conf value as an int, accepting every suffix
    form Spark itself accepts."""
    raw = str(spark.conf.get(key, default)).strip().lower()
    m = _SIZE_RE.match(raw)
    if not m:
        raise ValueError(f"cannot parse byte size {raw!r} for {key}")
    return int(m.group(1)) * _SIZE_UNITS[m.group(2)]


def get_spark(
    app_name: str = "magshield_data_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    All settings are scale-posture defaults, not local hacks:

    - ``spark.sql.adaptive.enabled`` + skew-join handling: at 100 TB the
      fact-side joins shuffle; AQE re-plans on real stats and splits
      skewed partitions.
    - ``spark.sql.autoBroadcastJoinThreshold=64m``: every reference
      lookup table (orgs/users/products/stages…) is dimension-sized;
      broadcasting them removes all shuffles from the export pipelines
      (SURVEY §3 "no shuffle needed for any reference query").
    - Arrow enabled: the Excel bridge and any pandas_udf path move data
      columnar, never row-at-a-time.
    - Session timezone pinned to UTC so timestamp semantics match the
      DuckDB oracle and are cluster-location-independent.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config(
            "spark.sql.shuffle.partitions",
            shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS,
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Python-dict last-wins semantics for map_from_entries over
        # CUSTOMFIELDS (the reference builds dicts per record; duplicate
        # FIELD_NAMEs keep the last value)
        .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def path_stamp(path: str) -> tuple[int, int]:
    """``(inode, mtime_ns)`` of *path* — the stamp each session-memo
    key carries for the files its plan lists.  A table directory
    rewritten in place, or a manifest deleted and re-minted at the same
    path, gets a new stamp, so the memo can never serve a plan over
    files that are gone.  Raises ``FileNotFoundError`` on a missing
    path."""
    st = os.stat(path)
    return st.st_ino, st.st_mtime_ns


def session_memo(spark: SparkSession, key: tuple, build):
    """The session's one memo of LAZY plans: ``build()`` once per *key*,
    then the same object back.

    It stores plans (DataFrames, split counts) only — never rows, so
    every action still computes from the files.  The dict lives on the
    session object and dies with it.  Callers put a :func:`path_stamp`
    of the files their plan lists in *key*; that is the only
    invalidation, and it is structural.
    """
    memo = getattr(spark, "_magshield_session_memo", None)
    if memo is None:
        memo = spark._magshield_session_memo = {}
    if key not in memo:
        memo[key] = build()
    return memo[key]


def release_caches(spark: SparkSession) -> None:
    """Drop every cached DataFrame in the session.

    Several pair-producing operators (``srp_candidate_pairs``,
    ``jaccard_pairs``, ``contamination_check``) persist an internal
    frame whose lifetime is caller-owned. A long session that runs many
    queries back-to-back (bench.py, the oracle-parity harness) would
    otherwise accumulate those cache entries indefinitely — harmless per
    query, a slow memory leak across 90+. Call this between queries once
    the previous result is fully consumed; CacheManager re-dedups by
    logical plan, so repeat runs of the SAME query still reuse the entry
    built during that query's own first run.
    """
    spark.catalog.clearCache()
