"""Streaming-surface registry entries.

Each callable runs a bounded ``Trigger.AvailableNow`` activation of a
Structured Streaming plan and returns the materialized result as a
batch DataFrame — so the driver's oracle gate can hash-compare the
*streaming* engine path against DuckDB's batch answer (the strongest
correctness statement available for a stream: bounded-input parity
with batch).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from workshoop2_etl_spark.plans.reference_queries import _register
from workshoop2_etl_spark.sources.synthetic import (
    synth_oracle_sql as _synth_oracle_sql,
)
from workshoop2_etl_spark.streaming import (
    run_available_now,
    sessionize,
    stream_events,
    windowed_event_counts,
)


@_register(
    "streaming_hourly_event_counts",
    """
SELECT CAST(time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP)) AS TIMESTAMP)
         AS window_start,
       event_type,
       CAST(count(*) AS BIGINT) AS n
FROM events
GROUP BY 1, 2
""",
)
def streaming_hourly_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window counts, computed by the streaming
    engine over the bounded events feed (complete mode so every
    window materializes in one activation) — hash-identical to the
    batch/DuckDB grouping."""
    stream = stream_events(spark, f"{sf_dir}/events.parquet")
    counts = windowed_event_counts(stream, window="1 hour", watermark="2 hours")
    return run_available_now(
        counts, "q_stream_hourly_counts", output_mode="complete"
    )


@_register(
    "session_window_events",
    """
WITH m AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
         CASE WHEN lag(CAST(ts AS TIMESTAMP)) OVER w IS NULL
                OR CAST(ts AS TIMESTAMP) - lag(CAST(ts AS TIMESTAMP)) OVER w
                   > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP))
), s AS (
  SELECT user_id, ts,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM m
)
SELECT user_id,
       min(ts) AS session_start,
       max(ts) + INTERVAL 30 MINUTE AS session_end,
       CAST(count(*) AS BIGINT) AS n_events
FROM s GROUP BY user_id, sid
""",
)
def session_window_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessions via Spark's BUILT-IN ``session_window``
    (the preferred idiom; :func:`sessionize` demonstrates the custom
    applyInPandasWithState class for semantics the built-in can't
    express). Oracle: the classic lag → gap-start → cumulative-sum
    sessionization in ANSI SQL — full hash parity, which also proves
    the two formulations agree."""
    from pyspark.sql import functions as F

    from workshoop2_etl_spark.sources.readers import read_parquet

    ev = read_parquet(spark, f"{sf_dir}/events.parquet")
    return (
        ev.groupBy(
            F.session_window("ts", "30 minutes").alias("w"), "user_id"
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


@_register(
    "streaming_user_sessions",
    """
WITH m AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
         CASE WHEN lag(CAST(ts AS TIMESTAMP)) OVER w IS NULL
                OR CAST(ts AS TIMESTAMP) - lag(CAST(ts AS TIMESTAMP)) OVER w
                   > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP))
), s AS (
  SELECT user_id, ts,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM m
)
SELECT user_id,
       CAST(sid - 1 AS INTEGER) AS session_no,
       CAST(count(*) AS INTEGER) AS n_events,
       min(ts) AS session_start,
       max(ts) AS session_end
FROM s GROUP BY user_id, sid
""",
)
def streaming_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity) per user via
    applyInPandasWithState — the custom stateful operator class.
    ORACLE-BACKED since round 8: a bounded single-activation drain
    emits every session exactly once (closed sessions at their gap,
    the open session's final upsert), with session_no 0-based per
    user in time order and session_end = the last event's timestamp —
    precisely the lag → gap-start → cumulative-sum sessionization in
    ANSI SQL, so the custom state machine hash-matches the relational
    formulation (the same pairing session_window_events proves for
    the built-in operator)."""
    stream = stream_events(spark, f"{sf_dir}/events.parquet")
    sessions = sessionize(stream, gap_minutes=30)
    return run_available_now(sessions, "q_stream_sessions")


@_register(
    "streaming_interval_join_events",
    """
SELECT e1.user_id, CAST(count(*) AS BIGINT) AS n_pairs
FROM events e1 JOIN events e2
  ON e1.user_id = e2.user_id
 AND e1.event_id <> e2.event_id
 AND epoch_us(e1.ts) >= epoch_us(e2.ts)
 AND epoch_us(e1.ts) <= epoch_us(e2.ts) + 3600000000
GROUP BY e1.user_id
""",
)
def streaming_interval_join_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STREAM-STREAM interval join: two incremental feeds of the
    events table joined on user_id with a one-hour event-time bound —
    the Structured Streaming state machine buffers each side until
    its watermark passes the join window, then evicts (state is
    bounded by the interval + watermark, not the stream length).

    The joined pairs land in a PARQUET sink (executor-parallel append
    with a checkpoint; the in-memory sink funnels every pair through
    the driver — measured ~15% slower at sf0.1 and unbounded driver
    memory at scale, where this sink stays flat); the per-user
    count on the re-read result is batch (chaining an aggregate after
    a stream-stream join is a second stateful operator — kept out
    deliberately so the streaming surface under test is the join
    itself). Oracle: the same interval self-join in DuckDB — identical
    to the batch range_join twin, proving stream/batch parity."""
    import os
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from workshoop2_etl_spark.plans.coverage_queries import _run_token
    from workshoop2_etl_spark.streaming import run_available_now_to_parquet

    left = (
        stream_events(spark, f"{sf_dir}/events.parquet")
        .select(
            F.col("user_id").alias("uid1"),
            F.col("event_id").alias("e1"),
            F.col("ts").alias("ts1"),
        )
        .withWatermark("ts1", "2 hours")
    )
    right = (
        stream_events(spark, f"{sf_dir}/events.parquet")
        .select(
            F.col("user_id").alias("uid2"),
            F.col("event_id").alias("e2"),
            F.col("ts").alias("ts2"),
        )
        .withWatermark("ts2", "2 hours")
    )
    pairs = left.join(
        right,
        F.expr(
            "uid1 = uid2 AND e1 <> e2 "
            "AND ts1 >= ts2 AND ts1 <= ts2 + INTERVAL 1 HOUR"
        ),
    ).select(F.col("uid1").alias("user_id"))
    base = os.path.join(
        tempfile.gettempdir(),
        f"workshoop2_stream_ij_{_run_token(sf_dir)}",
    )
    out_dir, ckpt = f"{base}/out", f"{base}/ckpt"
    # Fresh activation per invocation: the checkpoint records the
    # input files as consumed, so a stale one would make the next run
    # a no-op over the same (immutable) inputs.
    shutil.rmtree(base, ignore_errors=True)
    # 8 state-store partitions, not the batch-tuned session default:
    # per-partition store open/commit overhead dominated the
    # activation at 32 (see _activation_conf_override). The trailing
    # zero-data trigger is skipped: INNER join emission never waits
    # on the watermark, so the extra batch only re-plans and
    # re-commits state for identical output (r15; verified
    # row-identical, oracle green).
    run_available_now_to_parquet(
        pairs, out_dir, ckpt, shuffle_partitions=8, no_data_batches=False
    )
    return (
        spark.read.parquet(out_dir)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


@_register(
    "streaming_interval_join_outer_events",
    """
WITH l AS (
  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t1
  FROM events
), r AS (
  SELECT user_id AS u2, event_id AS e2,
         epoch_us(CAST(ts AS TIMESTAMP)) AS t2
  FROM events
), mx AS (SELECT max(t1) AS m FROM l)
SELECT l.user_id,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(r.e2) AS BIGINT) AS n_matched
FROM l LEFT JOIN r
  ON l.user_id = r.u2 AND l.event_id <> r.e2
 AND l.t1 >= r.t2 AND l.t1 <= r.t2 + 3600000000
WHERE l.t1 <= (SELECT m FROM mx) - 3 * 3600000000
GROUP BY l.user_id
""",
)
def streaming_interval_join_outer_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STREAM-STREAM **LEFT OUTER** interval join — the semantically
    hard half: matched pairs stream out like the inner join, but an
    unmatched left row emits null-padded ONLY once the watermark
    passes its join window (before that, a match could still arrive).
    State stays watermark-bounded on both sides.

    Bounded-input parity needs care at the tail: the watermark stops
    at max(event_time) − delay when input exhausts, so left rows whose
    windows never provably closed are still buffered when the
    activation stops — correctly unemitted. Both engine and oracle
    therefore restrict to rows with ``ts1 ≤ max(ts) − (watermark 2h +
    interval 1h)``, the provably-closed region; inside it the
    null-padding decision is final and hash-comparable against
    DuckDB's batch LEFT JOIN. n_rows > n_matched for sparse users
    proves null-padded rows actually emitted."""
    import os
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from workshoop2_etl_spark.functions.text import epoch_micros
    from workshoop2_etl_spark.plans.coverage_queries import _run_token
    from workshoop2_etl_spark.sources.readers import read_parquet
    from workshoop2_etl_spark.streaming import run_available_now_to_parquet

    left = (
        stream_events(spark, f"{sf_dir}/events.parquet")
        .select(
            F.col("user_id").alias("uid1"),
            F.col("event_id").alias("e1"),
            F.col("ts").alias("ts1"),
        )
        .withWatermark("ts1", "2 hours")
    )
    right = (
        stream_events(spark, f"{sf_dir}/events.parquet")
        .select(
            F.col("user_id").alias("uid2"),
            F.col("event_id").alias("e2"),
            F.col("ts").alias("ts2"),
        )
        .withWatermark("ts2", "2 hours")
    )
    pairs = left.join(
        right,
        F.expr(
            "uid1 = uid2 AND e1 <> e2 "
            "AND ts1 >= ts2 AND ts1 <= ts2 + INTERVAL 1 HOUR"
        ),
        "leftOuter",
    ).select(F.col("uid1").alias("user_id"), "ts1", "e2")
    base = os.path.join(
        tempfile.gettempdir(),
        f"workshoop2_stream_ijo_{_run_token(sf_dir)}",
    )
    out_dir, ckpt = f"{base}/out", f"{base}/ckpt"
    shutil.rmtree(base, ignore_errors=True)
    run_available_now_to_parquet(pairs, out_dir, ckpt, shuffle_partitions=8)
    out = spark.read.parquet(out_dir)
    ev = read_parquet(spark, f"{sf_dir}/events.parquet")
    closed = ev.agg(
        (F.max(epoch_micros(ev, "ts")) - F.lit(3 * 3600 * 1_000_000)).alias(
            "__cutoff"
        )
    )
    return (
        out.crossJoin(F.broadcast(closed))
        .filter(epoch_micros(out, "ts1") <= F.col("__cutoff"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("e2").alias("n_matched"),
        )
    )


@_register(
    "streaming_dedup_events",
    "SELECT DISTINCT user_id, event_type FROM events",
)
def streaming_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact deduplication: ``dropDuplicates`` on the
    (user_id, event_type) key emits each key's FIRST arrival and
    suppresses the rest — incremental dedup state, the streaming twin
    of the batch distinct. Keys are projected before the dedup so
    state holds only the key columns. Bounded-input parity: the
    emitted key set equals batch SELECT DISTINCT (which row of each
    group arrived first is racy; the key set is not). Unbounded
    streams cap state with dropDuplicatesWithinWatermark instead —
    exactness inside the horizon, eviction beyond it."""
    stream = stream_events(spark, f"{sf_dir}/events.parquet")
    deduped = stream.select("user_id", "event_type").dropDuplicates(
        ["user_id", "event_type"]
    )
    return run_available_now(deduped, "q_stream_dedup")


@_register(
    "streaming_sliding_event_counts",
    """
SELECT time_bucket(INTERVAL 30 MINUTE, CAST(ts AS TIMESTAMP))
         - k * INTERVAL 30 MINUTE AS window_start,
       event_type,
       CAST(count(*) AS BIGINT) AS n
FROM events CROSS JOIN unnest([0, 1]) AS t(k)
GROUP BY 1, 2
""",
)
def streaming_sliding_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window counts (1-hour window, 30-minute slide) through
    the streaming engine: every event lands in window/slide = 2
    overlapping windows. Oracle: each event joined to k ∈ {0, 1}
    earlier slide buckets — a window [s, s+1h) contains t iff
    s = time_bucket(30m, t) − k·30m, so the unnest cross join
    reproduces Spark's window assignment exactly. Oracle-demoted past
    the driver's full window; hash-checked by the local mirror."""
    stream = stream_events(spark, f"{sf_dir}/events.parquet")
    counts = windowed_event_counts(
        stream, window="1 hour", slide="30 minutes", watermark="2 hours"
    )
    return run_available_now(
        counts, "q_stream_sliding_counts", output_mode="complete"
    )


_SYNTH_STREAM_SQL = """
WITH s AS ({base})
SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       round(sum(value), 3) AS value_sum,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM s GROUP BY event_type
"""


@_register(
    "python_stream_datasource_synthetic",
    _SYNTH_STREAM_SQL.format(base=_synth_oracle_sql(2000)),
)
def python_stream_datasource_synthetic(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The STREAMING half of the Python DataSource connector SDK:
    the synthetic feed read through
    ``spark.readStream.format("synthetic_events")`` — offset-tracked
    microbatches with deterministic replay (readBetweenOffsets) —
    drained by one availableNow activation and aggregated. A
    SimpleDataSourceStreamReader activation consumes exactly one
    read() slice, so the drain sets batchrows = rows; incremental
    multi-activation resume from a shared checkpoint is proven in
    tests/test_streaming_datasource.py. Oracle: the closed-form
    generator's DuckDB range() twin — streaming output equals the
    pure function."""
    from pyspark.sql import functions as F

    from workshoop2_etl_spark.sources.synthetic import (
        register_synthetic_source,
    )

    register_synthetic_source(spark)
    stream = (
        spark.readStream.format("synthetic_events")
        .option("rows", "2000")
        .option("batchrows", "2000")
        .load()
    )
    out = run_available_now(stream, "q_synth_stream_feed")
    return out.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 3).alias("value_sum"),
        F.count_distinct("user_id").cast("long").alias("n_users"),
    )


@_register(
    "streaming_static_join_events",
    """
SELECT c_mktsegment,
       CAST(count(*) AS BIGINT) AS n_events,
       round(sum(value), 2) AS total_value
FROM events JOIN customer ON user_id = c_custkey
GROUP BY 1
""",
)
def streaming_static_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: the events stream joins the static
    customer dimension (unconditionally broadcast — the static side
    is planned per micro-batch, so a non-broadcast dim would re-sort
    EVERY batch) and aggregates per market segment in complete mode.
    This is THE production streaming shape — dimension enrichment
    before a rolling aggregate — and bounded-input parity against the
    batch join proves the micro-batched join semantics exact.
    4-partition state override: segment cardinality is 5, so 32 state
    stores would be pure per-batch overhead (cf. X87)."""
    from pyspark.sql import functions as F

    from workshoop2_etl_spark.sources.readers import read_parquet

    stream = stream_events(spark, f"{sf_dir}/events.parquet")
    cust = read_parquet(spark, f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_mktsegment"
    )
    joined = stream.join(
        F.broadcast(cust), stream.user_id == cust.c_custkey
    )
    agg = joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )
    return run_available_now(
        agg,
        "q_stream_static_join",
        output_mode="complete",
        shuffle_partitions=4,
    )


@_register(
    "streaming_versioned_sink_events",
    """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       round(sum(value), 2) AS total_value
FROM events
GROUP BY 1
""",
)
def streaming_versioned_sink_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The exactly-once streaming sink, driver-visible: the events
    stream lands in a VERSIONED table via foreachBatch (each
    micro-batch id recorded in its manifest —
    sources/versioned.py:foreach_batch_versioned_sink), then the
    table's LATEST SNAPSHOT is read back and aggregated. Parity with
    the batch oracle proves offsets→batches→manifest commits lose
    and duplicate nothing; the replay-no-op half is pytest-proven."""
    import os
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from workshoop2_etl_spark.plans.coverage_queries import _run_token
    from workshoop2_etl_spark.sources.versioned import (
        foreach_batch_versioned_sink,
        read_version,
    )

    token = _run_token(sf_dir)
    t = os.path.join(
        tempfile.gettempdir(), f"workshoop2_stream_versioned_{token}"
    )
    ckpt = os.path.join(
        tempfile.gettempdir(), f"workshoop2_stream_versioned_ckpt_{token}"
    )
    shutil.rmtree(t, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    stream = stream_events(spark, f"{sf_dir}/events.parquet")
    q = (
        stream.writeStream.foreachBatch(foreach_batch_versioned_sink(t))
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    from workshoop2_etl_spark.streaming.events import await_activation

    await_activation(q, 300, "streaming_versioned_sink_events")
    return (
        read_version(spark, t)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


@_register(
    "streaming_dedup_watermark_events",
    """
SELECT CAST(count(*) AS BIGINT) AS n_unique,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM (SELECT DISTINCT user_id, event_type, ts FROM events)
""",
)
def streaming_dedup_watermark_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """``dropDuplicatesWithinWatermark``: the BOUNDED-STATE dedup
    (state for a key expires once the watermark passes its event
    time) vs streaming_dedup_events' unbounded ``dropDuplicates`` —
    at 100 TB/day this is the only sustainable exact-dedup shape, so
    the API gets its own driver-visible proof. With a 2-hour
    watermark and duplicates that arrive adjacently (the feed's
    duplicates share their event timestamp), the bounded dedup's
    output provably equals the global DISTINCT — which is what the
    batch oracle checks."""
    from pyspark.sql import functions as F

    stream = stream_events(spark, f"{sf_dir}/events.parquet")
    deduped = (
        stream.withWatermark("ts", "2 hours")
        .select("user_id", "event_type", "ts")
        .dropDuplicatesWithinWatermark(["user_id", "event_type", "ts"])
    )
    out = run_available_now(
        deduped, "q_stream_dedup_wm", shuffle_partitions=8
    )
    return out.agg(
        F.count(F.lit(1)).alias("n_unique"),
        F.countDistinct("user_id").alias("n_users"),
    )


@_register(
    "streaming_interval_join_full_outer_events",
    """
WITH l AS (
  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t1
  FROM events
), r AS (
  SELECT user_id AS u2, event_id AS e2,
         epoch_us(CAST(ts AS TIMESTAMP)) AS t2
  FROM events
), mx AS (SELECT max(t1) AS m FROM l),
j AS (
  SELECT l.user_id AS ul, l.event_id AS e1, l.t1, r.u2, r.e2, r.t2
  FROM l FULL JOIN r
    ON l.user_id = r.u2 AND l.event_id <> r.e2
   AND l.t1 >= r.t2 AND l.t1 <= r.t2 + 3600000000
)
SELECT coalesce(ul, u2) AS user_id,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(CASE WHEN e1 IS NOT NULL AND e2 IS NOT NULL
                       THEN 1 END) AS BIGINT) AS n_matched,
       CAST(count(CASE WHEN e2 IS NULL THEN 1 END) AS BIGINT)
         AS n_left_only,
       CAST(count(CASE WHEN e1 IS NULL THEN 1 END) AS BIGINT)
         AS n_right_only
FROM j, mx
WHERE (t1 IS NULL OR t1 <= m - 4 * 3600000000)
  AND (t2 IS NULL OR t2 <= m - 4 * 3600000000)
GROUP BY 1
""",
)
def streaming_interval_join_full_outer_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STREAM-STREAM **FULL OUTER** interval join — both null-padding
    directions at once: matched pairs stream out immediately; an
    unmatched LEFT row null-pads when the watermark passes its own
    window, an unmatched RIGHT row when it passes ``ts2 + interval``.
    Completes the inner / left-outer / full-outer family.

    Bounded-input parity deepens the left-outer query's closed-region
    trick to BOTH sides: keep output rows whose present timestamps
    are all ≤ max(ts) − 4h (watermark 2h + interval 1h + a full
    margin). Inside that region every match and both unmatched
    decisions are final; the asymmetric condition means a matched
    pair can straddle the cutoff (t2 in-region, t1 past it), so the
    SAME output-row filter runs in engine and oracle — dropping
    straddlers consistently rather than reasoning about them.
    Nonzero ``n_left_only`` / ``n_right_only`` beside ``n_matched``
    proves both pad directions actually emitted."""
    import os
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from workshoop2_etl_spark.functions.text import epoch_micros
    from workshoop2_etl_spark.plans.coverage_queries import _run_token
    from workshoop2_etl_spark.sources.readers import read_parquet
    from workshoop2_etl_spark.streaming import run_available_now_to_parquet

    left = (
        stream_events(spark, f"{sf_dir}/events.parquet")
        .select(
            F.col("user_id").alias("uid1"),
            F.col("event_id").alias("e1"),
            F.col("ts").alias("ts1"),
        )
        .withWatermark("ts1", "2 hours")
    )
    right = (
        stream_events(spark, f"{sf_dir}/events.parquet")
        .select(
            F.col("user_id").alias("uid2"),
            F.col("event_id").alias("e2"),
            F.col("ts").alias("ts2"),
        )
        .withWatermark("ts2", "2 hours")
    )
    pairs = left.join(
        right,
        F.expr(
            "uid1 = uid2 AND e1 <> e2 "
            "AND ts1 >= ts2 AND ts1 <= ts2 + INTERVAL 1 HOUR"
        ),
        "fullOuter",
    ).select(
        F.coalesce("uid1", "uid2").alias("user_id"),
        "e1", "ts1", "e2", "ts2",
    )
    base = os.path.join(
        tempfile.gettempdir(),
        f"workshoop2_stream_ijfo_{_run_token(sf_dir)}",
    )
    out_dir, ckpt = f"{base}/out", f"{base}/ckpt"
    shutil.rmtree(base, ignore_errors=True)
    run_available_now_to_parquet(pairs, out_dir, ckpt, shuffle_partitions=8)
    out = spark.read.parquet(out_dir)
    ev = read_parquet(spark, f"{sf_dir}/events.parquet")
    closed = ev.agg(
        (F.max(epoch_micros(ev, "ts")) - F.lit(4 * 3600 * 1_000_000)).alias(
            "__cutoff"
        )
    )
    in_region = (
        F.col("ts1").isNull()
        | (epoch_micros(out, "ts1") <= F.col("__cutoff"))
    ) & (
        F.col("ts2").isNull()
        | (epoch_micros(out, "ts2") <= F.col("__cutoff"))
    )
    return (
        out.crossJoin(F.broadcast(closed))
        .filter(in_region)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count(
                F.when(F.col("e1").isNotNull() & F.col("e2").isNotNull(), 1)
            ).alias("n_matched"),
            F.count(F.when(F.col("e2").isNull(), 1)).alias("n_left_only"),
            F.count(F.when(F.col("e1").isNull(), 1)).alias("n_right_only"),
        )
    )


@_register(
    "streaming_heavy_hitters_events",
    """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n
FROM events
GROUP BY event_type
ORDER BY event_type
""",
)
def streaming_heavy_hitters_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming Misra–Gries heavy hitters (streaming/events.py
    ``streaming_heavy_hitters``): items hash-sharded into 4
    bounded-memory summaries of ≤8 counters, folded incrementally per
    micro-batch through a custom stateful operator
    (``applyInPandasWithState``). The events corpus has
    5 event types, so every shard stays under capacity and the sketch
    is EXACT — the oracle is the plain GROUP BY twin, hash parity
    included; the over-capacity decrement path (where MG's n/(k+1)
    guarantee, not exactness, is the contract) is pytest-proven on a
    planted skewed stream (tests/test_streaming_mg.py)."""
    from pyspark.sql import functions as F

    from workshoop2_etl_spark.operators.analytics import top_k_per_group
    from workshoop2_etl_spark.streaming.events import streaming_heavy_hitters

    stream = stream_events(spark, f"{sf_dir}/events.parquet")
    mg = streaming_heavy_hitters(stream, "event_type", k=8, n_shards=4)
    out = run_available_now(
        mg,
        "q_stream_mg_hh",
        output_mode="update",
        shuffle_partitions=4,
    )
    last = (
        top_k_per_group(out, ["shard"], [F.desc("version")], 1)
        .select(F.arrays_zip("items", "counts").alias("z"))
        .select(F.explode("z").alias("e"))
        .select(
            F.col("e.items").alias("event_type"),
            F.col("e.counts").alias("n"),
        )
    )
    return last.orderBy("event_type")


@_register(
    "streaming_interval_join_semi_events",
    """
SELECT e1.user_id, CAST(count(*) AS BIGINT) AS n_events
FROM events e1
WHERE EXISTS (
  SELECT 1 FROM events e2
   WHERE e2.user_id = e1.user_id
     AND e2.event_id <> e1.event_id
     AND epoch_us(e1.ts) >= epoch_us(e2.ts)
     AND epoch_us(e1.ts) <= epoch_us(e2.ts) + 3600000000
)
GROUP BY e1.user_id
""",
)
def streaming_interval_join_semi_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STREAM-STREAM LEFT SEMI interval join — completes the
    inner/left-outer/full-outer family: each left event emits AT MOST
    ONCE, as soon as any right-side event by the same user within the
    preceding hour arrives (no pair multiplication, no null padding —
    so unlike the outer variants no closed-region filter is needed
    for bounded-input parity; matched-only emission has inner
    timing). State stays watermark-bounded on both sides; the right
    buffer can evict a row once the left watermark passes its join
    window even if it matched nothing. Oracle: the DuckDB EXISTS
    twin — the textbook batch semantics the streaming semi join must
    reproduce exactly."""
    import os
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from workshoop2_etl_spark.plans.coverage_queries import _run_token
    from workshoop2_etl_spark.streaming import run_available_now_to_parquet

    left = (
        stream_events(spark, f"{sf_dir}/events.parquet")
        .select(
            F.col("user_id").alias("uid1"),
            F.col("event_id").alias("e1"),
            F.col("ts").alias("ts1"),
        )
        .withWatermark("ts1", "2 hours")
    )
    right = (
        stream_events(spark, f"{sf_dir}/events.parquet")
        .select(
            F.col("user_id").alias("uid2"),
            F.col("event_id").alias("e2"),
            F.col("ts").alias("ts2"),
        )
        .withWatermark("ts2", "2 hours")
    )
    survivors = left.join(
        right,
        F.expr(
            "uid1 = uid2 AND e1 <> e2 "
            "AND ts1 >= ts2 AND ts1 <= ts2 + INTERVAL 1 HOUR"
        ),
        "left_semi",
    ).select(F.col("uid1").alias("user_id"))
    base = os.path.join(
        tempfile.gettempdir(),
        f"workshoop2_stream_ij_semi_{_run_token(sf_dir)}",
    )
    out_dir, ckpt = f"{base}/out", f"{base}/ckpt"
    shutil.rmtree(base, ignore_errors=True)
    # Zero-data trigger skipped: SEMI emission happens on match
    # arrival, never on watermark advance — output identical without
    # the trailing batch (r15; measured 3.8→2.2 s, oracle green).
    run_available_now_to_parquet(
        survivors,
        out_dir,
        ckpt,
        shuffle_partitions=8,
        no_data_batches=False,
    )
    return (
        spark.read.parquet(out_dir)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
