"""Streaming surface tests: incremental scan parity with the batch
reader, watermarked window counts vs the batch equivalent, stateful
sessionization, bounded AvailableNow activation."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from workshoop2_etl_spark.sources.readers import read_parquet
from workshoop2_etl_spark.streaming import (
    run_available_now,
    sessionize,
    stream_events,
    windowed_event_counts,
)


def test_streaming_window_counts_match_batch(spark, sf_dir):
    path = f"{sf_dir}/events.parquet"
    stream = stream_events(spark, path)
    counts = windowed_event_counts(stream, window="1 hour", watermark="2 hours")
    got = run_available_now(counts, "t_win_counts", output_mode="complete")

    batch = (
        read_parquet(spark, path)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )
    key = lambda r: (r.window_start, r.event_type, r.n)
    assert sorted(map(key, got.collect())) == sorted(map(key, batch.collect()))


def test_stream_events_ts_matches_batch_reader(spark, sf_dir):
    path = f"{sf_dir}/events.parquet"
    stream = stream_events(spark, path).select("event_id", "ts")
    got = run_available_now(stream, "t_ts_parity")
    batch = read_parquet(spark, path).select("event_id", "ts")
    a = sorted((r.event_id, r.ts) for r in got.collect())
    b = sorted((r.event_id, r.ts) for r in batch.collect())
    assert a == b


@pytest.fixture()
def session_fixture(tmp_path):
    # user 1: two sessions (40-minute gap); user 2: one session.
    base = pd.Timestamp("2024-01-01 00:00:00")
    rows = [
        (1, 1, base),
        (2, 1, base + pd.Timedelta(minutes=10)),
        (3, 1, base + pd.Timedelta(minutes=50)),  # > 30 min gap → new session
        (4, 1, base + pd.Timedelta(minutes=55)),
        (5, 2, base),
    ]
    pdf = pd.DataFrame(rows, columns=["event_id", "user_id", "ts"])
    pdf["event_type"] = "click"
    pdf["value"] = 1.0
    pdf["props"] = "{}"
    p = tmp_path / "events"
    p.mkdir()
    # pandas datetime64[ns] → parquet TIMESTAMP(NANOS), the events
    # feed's on-disk shape.
    pdf[["event_id", "ts", "user_id", "event_type", "value", "props"]].to_parquet(
        p / "part-0.parquet", index=False
    )
    return str(p)


def test_sessionize_gap_split(spark, session_fixture):
    stream = stream_events(spark, session_fixture)
    sessions = sessionize(stream, gap_minutes=30)
    got = run_available_now(sessions, "t_sessions")
    rows = sorted(
        ((r.user_id, r.session_no, r.n_events) for r in got.collect())
    )
    assert rows == [(1, 0, 2), (1, 1, 2), (2, 0, 1)]
    spans = {
        (r.user_id, r.session_no): (r.session_start, r.session_end)
        for r in got.collect()
    }
    s0 = spans[(1, 0)]
    assert (s0[1] - s0[0]) == pd.Timedelta(minutes=10)


def test_run_available_now_repeatable(spark, sf_dir):
    # Re-running with the same query name must not error (memory sink
    # re-registers the view on restart).
    path = f"{sf_dir}/events.parquet"
    for _ in range(2):
        s = stream_events(spark, path).select("event_id")
        out = run_available_now(s, "t_repeat")
        assert out.count() > 0


def test_parquet_sink_checkpoint_no_reprocess(spark, session_fixture, tmp_path):
    # Durable sink + checkpoint: a second AvailableNow activation with
    # no new input files emits nothing (offsets recorded), which is
    # the incremental cron-replacement contract.
    out = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    def activate():
        s = stream_events(spark, session_fixture).select("event_id", "user_id")
        q = (
            s.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        try:
            assert q.awaitTermination(120)
        finally:
            q.stop()

    activate()
    first = spark.read.parquet(out).count()
    assert first == 5
    activate()  # no new files arrived
    assert spark.read.parquet(out).count() == first


def test_no_data_batches_skip_identical_for_semi_join(spark, sf_dir, tmp_path):
    """r15: ``no_data_batches=False`` skips the trailing watermark-only
    trigger. For a stream-stream SEMI join (emission on match arrival,
    never on watermark advance) the sink rows must be identical with
    and without the trailing batch — and the skip must actually drop
    the zero-data trigger (2 → 1)."""
    import json

    from pyspark.sql import functions as F

    from workshoop2_etl_spark.streaming.events import (
        _activation_conf_override,
        stream_events,
    )

    path = f"{sf_dir}/events.parquet"

    def build():
        left = (
            stream_events(spark, path)
            .select(
                F.col("user_id").alias("uid1"),
                F.col("event_id").alias("e1"),
                F.col("ts").alias("ts1"),
            )
            .withWatermark("ts1", "2 hours")
        )
        right = (
            stream_events(spark, path)
            .select(
                F.col("user_id").alias("uid2"),
                F.col("event_id").alias("e2"),
                F.col("ts").alias("ts2"),
            )
            .withWatermark("ts2", "2 hours")
        )
        return left.join(
            right,
            F.expr(
                "uid1 = uid2 AND e1 <> e2 "
                "AND ts1 >= ts2 AND ts1 <= ts2 + INTERVAL 1 HOUR"
            ),
            "left_semi",
        ).select(F.col("uid1").alias("user_id"), F.col("e1"))

    results = {}
    triggers = {}
    for nodata in (True, False):
        out = str(tmp_path / f"out_{nodata}")
        ckpt = str(tmp_path / f"ckpt_{nodata}")
        with _activation_conf_override(spark, 4, nodata):
            q = (
                build()
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            try:
                assert q.awaitTermination(120)
            finally:
                q.stop()
        prog = [
            json.loads(p) if isinstance(p, str) else p for p in q.recentProgress
        ]
        triggers[nodata] = len(prog)
        results[nodata] = sorted(
            (r.user_id, r.e1) for r in spark.read.parquet(out).collect()
        )
    assert results[True] == results[False]
    assert len(results[True]) > 0
    assert triggers[False] < triggers[True]


def test_available_now_checkpoint_resume(spark, tmp_path):
    """Two activations over a growing directory: the second must
    process ONLY the file that arrived after the first checkpoint
    (incremental cron semantics, no recompute, no duplicates)."""
    import pandas as pd

    from workshoop2_etl_spark.streaming.events import (
        run_available_now_to_parquet,
        stream_events,
    )

    in_dir = tmp_path / "in"
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    in_dir.mkdir()

    def write_batch(name: str, ids: list[int]) -> None:
        pd.DataFrame(
            {
                "event_id": ids,
                "ts": pd.to_datetime([1_700_000_000_000_000_000 + i for i in ids]),
                "user_id": [i % 3 for i in ids],
                "event_type": ["click"] * len(ids),
                "value": [float(i) for i in ids],
                "props": ["{}"] * len(ids),
            }
        ).to_parquet(in_dir / name)

    write_batch("b1.parquet", [1, 2, 3])
    run_available_now_to_parquet(
        stream_events(spark, str(in_dir)), out_dir, ckpt, timeout_sec=120
    )
    first = spark.read.parquet(out_dir)
    assert first.count() == 3

    write_batch("b2.parquet", [10, 11])
    run_available_now_to_parquet(
        stream_events(spark, str(in_dir)), out_dir, ckpt, timeout_sec=120
    )
    both = spark.read.parquet(out_dir)
    assert both.count() == 5  # 3 + 2, batch 1 NOT reprocessed
    assert sorted(r.event_id for r in both.collect()) == [1, 2, 3, 10, 11]


def test_sliding_window_counts_match_batch(spark, sf_dir):
    """Sliding windows (1h window, 30m slide): every event lands in
    exactly two windows; streaming result equals the batch twin."""
    path = f"{sf_dir}/events.parquet"
    stream = stream_events(spark, path)
    counts = windowed_event_counts(
        stream, window="1 hour", slide="30 minutes", watermark="2 hours"
    )
    got = run_available_now(counts, "t_slide_counts", output_mode="complete")

    batch = (
        read_parquet(spark, path)
        .groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n")
    )
    key = lambda r: (r.window_start, r.event_type, r.n)
    assert sorted(map(key, got.collect())) == sorted(map(key, batch.collect()))
    # sliding doubles the (window, type) key count vs tumbling
    tumbling = (
        read_parquet(spark, path)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    assert got.count() > tumbling.count()


def test_events_schema_detects_tz_adjusted_timestamps(spark, tmp_path):
    """A tz-adjusted (isAdjustedToUTC) parquet ts column must stream
    as TIMESTAMP (LTZ) with no rebuild — the third branch of the
    footer detection."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from workshoop2_etl_spark.streaming.events import _events_schema

    path = str(tmp_path / "tz_events.parquet")
    table = pa.table(
        {
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": pa.array([1000000, 2000000], pa.timestamp("us", tz="UTC")),
            "user_id": pa.array([1, 1], pa.int64()),
            "event_type": pa.array(["a", "b"]),
            "value": pa.array([1.0, 2.0]),
            "props": pa.array(["{}", "{}"]),
        }
    )
    pq.write_table(table, path)
    schema, needs_rebuild = _events_schema(path)
    from pyspark.sql import types as T

    assert isinstance(schema["ts"].dataType, T.TimestampType)
    assert needs_rebuild is False


def test_epoch_micros_both_timestamp_flavors(spark):
    """epoch_micros must yield identical epoch integers for the same
    instant whether the column is LTZ (unix_micros path) or NTZ
    (timestampdiff path) under a UTC session."""
    import datetime as dt

    from pyspark.sql import functions as F

    from workshoop2_etl_spark.functions.text import epoch_micros

    instant = dt.datetime(2024, 3, 1, 12, 0, 0, 123456)
    df = spark.createDataFrame(
        [(instant, instant)], "lt timestamp, nt timestamp_ntz"
    )
    row = df.select(
        epoch_micros(df, "lt").alias("a"), epoch_micros(df, "nt").alias("b")
    ).collect()[0]
    assert row.a == row.b
    assert row.b == int(
        instant.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000
    )


def test_stream_outer_interval_join_emits_null_padded_rows(spark, sf_dir):
    """The outer-specific semantics: left rows with no partner in
    their hour window must arrive null-padded once the watermark
    closes their window — visible as n_rows > n_matched."""
    import __spark_entry__ as e

    rows = (
        e.queries()["streaming_interval_join_outer_events"](spark, sf_dir)
        .collect()
    )
    assert rows  # the closed region is non-empty
    total = sum(r.n_rows for r in rows)
    matched = sum(r.n_matched for r in rows)
    assert total > matched  # unmatched lefts WERE emitted (as nulls)
    assert all(r.n_rows >= r.n_matched for r in rows)
