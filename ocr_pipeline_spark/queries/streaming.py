"""Streaming queries: the event table replayed as a micro-batch stream
through stateful operators."""

from __future__ import annotations

from pyspark.sql import functions as F

from ocr_pipeline_spark.queries.registry import query


def _run_events_stream(
    spark, sf_dir, prefix, build, n_deliveries=1, max_files_per_trigger=None
):
    """Shared scaffold for the driver-oracled streaming queries: stage
    the events table as a file-stream source (n_deliveries copies of
    each part file), run build(stream) through a parquet sink with
    availableNow, and return the sink LAZILY — the temp dir outlives
    the call (process-exit cleanup) so the result never rides the
    driver, which at 100x scale it could not."""
    import atexit
    import os
    import shutil
    import tempfile

    base = tempfile.mkdtemp(prefix=prefix)
    sink, ckpt, src = f"{base}/sink", f"{base}/ckpt", f"{base}/src"
    try:
        events = f"{sf_dir}/events.parquet"
        os.makedirs(src)
        if os.path.isdir(events):
            parts = [
                os.path.join(events, f)
                for f in sorted(os.listdir(events))
                if f.endswith(".parquet")
            ]
        else:
            parts = [events]
        for d in range(n_deliveries):
            for i, part in enumerate(parts):
                dst = f"{src}/delivery{d}_{i}.parquet"
                if d == 0:
                    # zero-copy first delivery: symlink keeps the
                    # '*.parquet' filter AND avoids duplicating the
                    # table onto driver-local disk (the footprint the
                    # lazy-sink contract exists to avoid); re-deliveries
                    # (the dedup query) are real copies so their mtimes
                    # are independent
                    try:
                        os.symlink(os.path.abspath(part), dst)
                        continue
                    except OSError:  # pragma: no cover - odd filesystems
                        pass
                shutil.copy(part, dst)
        reader = spark.readStream.schema(
            "event_id bigint, ts timestamp, user_id bigint, "
            "event_type string, value double, props string"
        )
        if max_files_per_trigger:
            reader = reader.option(
                "maxFilesPerTrigger", str(max_files_per_trigger)
            )
        q = (
            build(reader.parquet(src))
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    except BaseException:
        shutil.rmtree(base, ignore_errors=True)
        raise
    atexit.register(shutil.rmtree, base, ignore_errors=True)
    return spark.read.parquet(sink)


@query(window=True, oracle="""
    -- Spark tracks event-time max (and thus the watermark) at
    -- MILLISECOND precision; truncate the microsecond max(ts)
    -- the same way or a max ts whose sub-ms component straddles
    -- an eviction boundary would diverge the emitted set.
    WITH wm AS (
        SELECT date_trunc('milliseconds', max(ts))
               - INTERVAL 30 MINUTE AS w
        FROM events
    ), agg AS (
        SELECT make_timestamp(
                   CAST(floor(epoch(ts) / 3600) AS BIGINT)
                   * 3600 * 1000000) AS window_start,
               event_type,
               count(*) AS n_events,
               CAST(sum(CAST(round(value * 100) AS BIGINT))
                    AS BIGINT) AS value_cents
        FROM events
        GROUP BY 1, 2
    )
    SELECT window_start,
           window_start + INTERVAL 1 HOUR AS window_end,
           event_type, n_events, value_cents
    FROM agg, wm
    WHERE window_start + INTERVAL 1 HOUR <= wm.w
    ORDER BY window_start, event_type
""")
def _q_events_windowed_stream(spark, sf_dir):
    """X17's windowed-aggregation surface, driver-checked against a SQL
    oracle: runs the REAL Structured Streaming engine — watermarked
    (30 min) tumbling-window (1 h) counts + integer-exact value sums
    over the events table via availableNow, append mode — so what the
    oracle validates is the engine's own finalize-and-evict path, not a
    batch re-phrasing.  Deterministic: the file source yields one data
    micro-batch (no rows are ever late) plus the no-data flush batch,
    so the emitted set is EXACTLY the windows whose end precedes the
    final watermark (max ts - 30 min; eviction is window_end <=
    watermark — equality is unreachable on the microsecond-random
    fixture).  The value sum is pre-quantized to integer cents so no
    float aggregation order can differ across engines.

    Scale shape: streaming partial-aggregated window groupBy with
    bounded state (closed windows evicted); the sink is returned
    LAZILY like _q_events_sessionized_stream."""
    def build(stream):
        return (
            stream.withWatermark("ts", "30 minutes")
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(
                F.count("*").alias("n_events"),
                F.sum(
                    F.round(F.col("value") * 100, 0).cast("long")
                ).alias("value_cents"),
            )
            .select(
                F.col("w.start").alias("window_start"),
                F.col("w.end").alias("window_end"),
                "event_type",
                "n_events",
                "value_cents",
            )
        )

    return _run_events_stream(
        spark, sf_dir, "win_stream_q_", build
    ).orderBy("window_start", "event_type")


@query(window=True, oracle="""
    WITH gapped AS (
        SELECT user_id, value, ts, event_id,
               CASE WHEN ts - lag(ts, 1) OVER
                         (PARTITION BY user_id ORDER BY ts, event_id)
                         > INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_session
        FROM events
    ), sessioned AS (
        SELECT user_id, value, ts,
               sum(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS session_seq
        FROM gapped
    ), sessions AS (
        SELECT user_id,
               min(ts) AS session_start,
               max(ts) AS session_end,
               CAST(count(*) AS INT) AS n_events,
               round(sum(value), 2) AS session_value
        FROM sessioned
        GROUP BY user_id, session_seq
    )
    SELECT user_id, session_start, session_end, n_events,
           session_value
    FROM sessions
    -- strict <: FlatMapGroupsWithStateExec fires an event-time
    -- timeout only when timeoutTimestamp < watermark (strict), so
    -- a session whose gap boundary EQUALS the final watermark is
    -- never emitted by the stream and must not be counted here
    WHERE session_end + INTERVAL 30 MINUTE <
          (SELECT max(ts) FROM events)
    ORDER BY user_id, session_start
""")
def _q_events_sessionized_stream(spark, sf_dir):
    """The custom stateful STREAMING operator (X18), driver-checked
    against a SQL oracle: runs the real Structured Streaming engine —
    applyInPandasWithState gap sessionization with the replay-safe
    event-time timeout — over the events table via availableNow, then
    returns the emitted (closed) sessions.  Deterministic: with the
    event-time timeout the emitted set is EXACTLY the sessions whose
    gap boundary precedes the final watermark (= max event ts), which
    the oracle replicates with window sessionization + a closability
    filter.  Verified byte-stable across runs and file layouts
    (tests/test_streaming.py)."""
    from ocr_pipeline_spark.streaming.stateful import sessionize_stream

    def build(stream):
        return sessionize_stream(
            stream, gap_seconds=1800, event_time_timeout=True
        )

    return (
        _run_events_stream(spark, sf_dir, "sess_stream_q_", build)
        .select(
            F.col("user_id").cast("bigint"),
            "session_start",
            "session_end",
            F.col("n_events").cast("int").alias("n_events"),
            F.col("session_value").cast("double").alias("session_value"),
        )
        .orderBy("user_id", "session_start")
    )


@query(window=True, oracle="""
    SELECT event_id, ts, user_id, event_type, value
    FROM events
    ORDER BY event_id
""")
def _q_events_dedup_stream(spark, sf_dir):
    """Streaming exact dedup (X35), driver-checked against a SQL
    oracle: the events table is re-delivered TWICE through a file
    stream (two identical files, maxFilesPerTrigger=1 -> two
    micro-batches), and streaming_dedup (dropDuplicatesWithinWatermark
    on event_id) must emit each event exactly once — the second
    delivery is dropped either as an in-state duplicate or as
    late-behind-watermark, so the emitted set is EXACTLY the distinct
    input rows and the oracle is a plain SELECT.  Exercises real
    cross-micro-batch dedup state on the real engine, with state
    bounded by the watermark horizon rather than the corpus."""
    from ocr_pipeline_spark.streaming.stream_job import streaming_dedup

    def build(stream):
        return streaming_dedup(stream, ["event_id"], event_time="ts")

    return (
        _run_events_stream(
            spark,
            sf_dir,
            "dedup_stream_q_",
            build,
            n_deliveries=2,
            max_files_per_trigger=1,
        )
        .select("event_id", "ts", "user_id", "event_type", "value")
        .orderBy("event_id")
    )
