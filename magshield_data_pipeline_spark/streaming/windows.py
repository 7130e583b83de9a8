"""Event-time windowing over the ``events`` table — batch and streaming.

The reference has no streaming surface (its refresh model is "HTTP
trigger → full re-extract → overwrite", SURVEY §2.10); this tier is the
driver-mandated [EXT] extension. Design rule: every windowed
transformation is written once as a pure ``DataFrame → DataFrame``
function that works on BOTH a batch frame and a ``readStream`` frame —
Structured Streaming's unified model makes stream/batch parity a
property of the code, and the oracle harness checks the streaming path
against the same DuckDB SQL as the batch path.

Scale posture: windowed aggregations shuffle on (window, key) — bounded
cardinality per trigger; watermarks bound state so a 100 TB/day stream
doesn't accumulate unbounded window state. ``Trigger.AvailableNow``
gives the batch-equivalent "process everything then stop" used here and
in production backfills.
"""

from __future__ import annotations

import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from magshield_data_pipeline_spark.sources.parquet import (
    ensure_runtime_confs,
    footer_schema,
    normalize_event_ts,
)

_TS_FMT = "yyyy-MM-dd HH:mm:ss"


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``readStream`` over events.parquet — ``read_table_stream`` with
    the ts column normalized to a µs timestamp exactly like the batch
    reader (sources/parquet.py:normalize_event_ts — handles both the
    nanos-long and TIMESTAMP_NTZ physical layouts)."""
    return read_table_stream(spark, sf_dir, "events")


def tumbling_counts(events: DataFrame, width: str = "1 hour") -> DataFrame:
    """Tumbling event-time windows per event_type: count + value sum.
    Works on batch and streaming frames alike."""
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("value_sum"),
        )
        .select(
            F.date_format("w.start", _TS_FMT).alias("window_start"),
            "event_type",
            "n_events",
            "value_sum",
        )
    )


def sliding_user_activity(
    events: DataFrame, width: str = "10 minutes", slide: str = "5 minutes"
) -> DataFrame:
    """Sliding windows (width > slide ⇒ each event lands in
    width/slide windows): distinct-ish activity per window."""
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", width, slide).alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("value_sum"),
        )
        .select(
            F.date_format("w.start", _TS_FMT).alias("window_start"),
            F.date_format("w.end", _TS_FMT).alias("window_end"),
            "n_events",
            "value_sum",
        )
    )


def session_windows(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Session windows per user: a session closes after *gap* of
    inactivity. Spark's session_window end = last event + gap."""
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("value_sum"),
        )
        .select(
            "user_id",
            # session bounds inherit event-time µs precision (unlike
            # tumbling/sliding starts, which align to whole boundaries)
            F.date_format("w.start", _TS_FMT + ".SSSSSS").alias("session_start"),
            F.date_format("w.end", _TS_FMT + ".SSSSSS").alias("session_end"),
            "n_events",
            "value_sum",
        )
    )


def run_available_now(
    df: DataFrame,
    name: str | None = None,
    output_mode: str = "complete",
    state_partitions: int | None = None,
    no_data_batch: bool = True,
) -> DataFrame:
    """Execute a streaming DataFrame with Trigger.AvailableNow into an
    in-memory table and return the materialized result: process every
    available file, then stop — the streaming equivalent of a batch run
    (used for backfills and for stream/batch parity checks).
    ``output_mode='append'`` for flatMapGroupsWithState-style operators
    that only ever append (stateful.py).

    ``state_partitions`` sizes the state store: a streaming query's
    state-partition count is frozen from ``spark.sql.shuffle.partitions``
    at FIRST checkpoint creation, and each partition carries fixed
    per-micro-batch overhead (state files, a Python worker round for
    applyInPandasWithState). Size it to the keyspace — the standard
    Structured Streaming ops knob. Safe here because every run gets a
    fresh checkpoint dir; the session conf is restored afterwards.

    ``no_data_batch=False`` disables the trailing no-data micro-batch
    (``spark.sql.streaming.noDataMicroBatches.enabled``) for the run
    (r12, guide §1/§2: the advance batch re-runs every stateful
    operator — for the stream-stream inner interval join it was ~half
    the query's addBatch time). ONLY safe for queries whose output is
    fully emitted by the data batches themselves: an inner join emits
    matches as they are seen, and a complete-mode aggregate's final
    emission is identical with no new data. Queries whose EMISSION
    depends on the watermark advancing past event time — outer-join
    null rows, append-mode window finalization, EventTimeTimeout
    flushes — keep the default. An EventTimeTimeout query may opt
    out only on one of two narrow grounds: its timeout cannot fire
    within the drain (the sessionizer query's 3650-day watermark
    delay keeps the post-drain watermark years before every open
    session), or its timeout evicts state without emitting a row (the
    funnel's buffer-only users). The same operator under a normal
    watermark delay keeps the default.

    NOTE the memory sink does NOT support checkpoint recovery (Spark
    refuses at start) — this runner is for parity checks and
    backfills, always from a fresh checkpoint. The production
    restart-resume path needs a recoverable sink (file/foreachBatch);
    it is pinned by tests/test_streaming.py::
    test_checkpoint_restart_resumes_state with a parquet sink."""
    name = name or f"stream_result_{uuid.uuid4().hex[:8]}"
    checkpoint = tempfile.mkdtemp(prefix=f"ckpt_{name}_")
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    prev_ndb = spark.conf.get(
        "spark.sql.streaming.noDataMicroBatches.enabled", "true"
    )
    try:
        if state_partitions is not None:
            # never more state partitions than cores: each one costs
            # state files + a Python worker round PER MICRO-BATCH, so
            # partitions beyond the session's parallelism are pure
            # overhead waves (r13 fresh-process A/B on the sessionizer:
            # 32 partitions on 8 cores ran ~1.8x slower than 8; on 32
            # cores 8-vs-32 is a tie — the keyspace-sized caller value
            # stands, this cap only protects smaller sessions)
            state_partitions = min(
                state_partitions, spark.sparkContext.defaultParallelism
            )
            spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
        if not no_data_batch:
            spark.conf.set(
                "spark.sql.streaming.noDataMicroBatches.enabled", "false"
            )
        q = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        spark.conf.set(
            "spark.sql.streaming.noDataMicroBatches.enabled", prev_ndb
        )
    return df.sparkSession.table(name)


def dedup_stream(
    events: DataFrame, keys: tuple[str, ...] = ("user_id", "event_type")
) -> DataFrame:
    """Streaming deduplication on *keys*: emit each key combination
    once (append mode — rows flow out on first sight). Only the key
    columns are emitted: WHICH physical row survives is arrival-order
    nondeterministic, so any payload column would break the oracle
    contract. Exact dedup keeps per-key state forever — correct for
    AvailableNow backfills and bounded key domains; an unbounded
    production stream swaps in ``dropDuplicatesWithinWatermark`` to
    expire state, trading exactness outside the watermark horizon."""
    return (
        events.withWatermark("ts", "10 minutes")
        .dropDuplicates(list(keys))
        .select(*keys)
    )


def dedup_stream_within_watermark(
    events: DataFrame,
    keys: tuple[str, ...] = ("user_id", "event_type"),
    delay: str = "30 minutes",
) -> DataFrame:
    """The UNBOUNDED-stream dedup variant: per-key state expires once
    the watermark passes the key's last-seen event time + *delay*, so
    state is bounded by the live key horizon instead of the full key
    domain. Within-horizon duplicates dedup exactly; a duplicate
    arriving after its key's state expired re-emits (the documented
    trade of `dropDuplicatesWithinWatermark`). Same key-columns-only
    output contract as :func:`dedup_stream`."""
    return (
        events.withWatermark("ts", delay)
        .dropDuplicatesWithinWatermark(list(keys))
        .select(*keys)
    )


def stream_stream_interval_join(
    events: DataFrame,
    left_type: str = "click",
    right_type: str = "purchase",
    within: str = "30 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Stream-stream inner join: each *left_type* event paired with the
    same user's *right_type* events in ``[ts, ts + within]`` — the
    attribution join (click → purchase) run CONTINUOUSLY.

    Both sides carry watermarks and the join condition bounds event
    time in BOTH directions; that pair is what lets Structured
    Streaming evict buffered state — a left row can stop waiting once
    the right watermark passes ``ts + within``, a right row once the
    left watermark passes its ts. Without the time bound the state
    store grows forever (Spark rejects the plan in append mode).
    State per key is the in-flight window's rows only: at 100 TB/day
    the store holds minutes, not history.

    Parity contract: under one micro-batch (Trigger.AvailableNow on a
    single file) the join sees both sides complete, so the result
    equals the batch interval join exactly — the oracle check. Across
    micro-batches the same pairs emerge as long as matching events
    arrive within the allowed lateness (multi-batch pytest).
    """
    left = (
        events.filter(F.col("event_type") == left_type)
        .select(
            F.col("user_id").alias("l_user"),
            F.col("ts").alias("l_ts"),
            F.col("event_id").alias("l_id"),
        )
        .withWatermark("l_ts", watermark)
    )
    right = (
        events.filter(F.col("event_type") == right_type)
        .select(
            F.col("user_id").alias("r_user"),
            F.col("ts").alias("r_ts"),
            F.col("event_id").alias("r_id"),
        )
        .withWatermark("r_ts", watermark)
    )
    return left.join(
        right,
        (F.col("l_user") == F.col("r_user"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"INTERVAL {within}")),
        "inner",
    ).select(
        F.col("l_user").alias("user_id"),
        F.col("l_id").alias("click_id"),
        F.col("r_id").alias("purchase_id"),
    )


def stream_stream_interval_join_outer(
    events: DataFrame,
    left_type: str = "click",
    right_type: str = "purchase",
    within: str = "30 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """LEFT OUTER stream-stream join: every *left_type* event, paired
    with matching *right_type* events in ``[ts, ts + within]`` or
    null-padded once NO match can still arrive.

    The outer half is what makes this a genuinely stateful contract
    the inner join doesn't have: a null-padded result may only emit
    when the GLOBAL watermark (min of both sides' max event time,
    each minus the delay) passes ``l_ts + within`` — before that the
    row might still match and must stay buffered.  Rows still inside
    that horizon when the stream drains are NOT emitted (they are
    awaiting more data, not unmatched) — so the batch-parity oracle is
    the left join plus the watermark cutoff, spelled out in
    plans/window_queries.py::_SSJ_OUTER_SQL.  Spark tracks event-time
    stats at millisecond precision; the oracle mirrors that with a
    millisecond truncation before subtracting the delay.

    State bounds are the inner join's (two-sided time bound + both
    watermarks); the outer side adds only the per-row emitted/not bit.
    """
    left = (
        events.filter(F.col("event_type") == left_type)
        .select(
            F.col("user_id").alias("l_user"),
            F.col("ts").alias("l_ts"),
            F.col("event_id").alias("l_id"),
        )
        .withWatermark("l_ts", watermark)
    )
    right = (
        events.filter(F.col("event_type") == right_type)
        .select(
            F.col("user_id").alias("r_user"),
            F.col("ts").alias("r_ts"),
            F.col("event_id").alias("r_id"),
        )
        .withWatermark("r_ts", watermark)
    )
    return left.join(
        right,
        (F.col("l_user") == F.col("r_user"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"INTERVAL {within}")),
        "leftOuter",
    ).select(
        F.col("l_user").alias("user_id"),
        F.col("l_id").alias("click_id"),
        F.col("r_id").alias("purchase_id"),
    )


def read_table_stream(spark, sf_dir: str, name: str) -> DataFrame:
    """``readStream`` over any fixture table — the ONE definition of
    the stream-source pattern (read_events_stream delegates here, per
    the ADVICE-r7 no-duplicate-rule precedent): schema from the table's
    footer, read on the driver (streaming file sources require an
    explicit schema; ``footer_schema`` runs no job), a
    glob filter selecting the one file against the directory basePath;
    events additionally get the ts normalization."""
    ensure_runtime_confs(spark)
    schema = footer_schema(spark, f"{sf_dir}/{name}.parquet")
    raw = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", f"{name}.parquet")
        .parquet(sf_dir)
    )
    return normalize_event_ts(raw) if name == "events" else raw
