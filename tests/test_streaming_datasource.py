"""Streaming Python DataSource: offset mechanics under repeated
bounded activations with a shared checkpoint — each availableNow
activation of a SimpleDataSourceStreamReader consumes exactly one
read() slice, so successive activations must resume from the
committed offset and never re-emit rows."""

from __future__ import annotations

import pytest

from workshoop2_etl_spark.sources.synthetic import (
    HAVE_PYTHON_DATASOURCE,
    SyntheticEventsStreamReader,
    register_synthetic_source,
    synth_row,
)

pytestmark = pytest.mark.skipif(
    not HAVE_PYTHON_DATASOURCE, reason="Python DataSource needs Spark 4"
)


def _activate_once(spark, out_dir: str, ckpt: str) -> None:
    stream = (
        spark.readStream.format("synthetic_events")
        .option("rows", "500")
        .option("batchrows", "137")
        .load()
    )
    q = (
        stream.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)


def test_stream_source_resumes_from_checkpoint(spark, tmp_path):
    register_synthetic_source(spark)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    _activate_once(spark, out, ckpt)
    first = spark.read.parquet(out).count()
    assert first == 137  # one rate-limited slice
    _activate_once(spark, out, ckpt)
    second = spark.read.parquet(out).count()
    assert second == 274  # resumed at 137, no re-emit
    got = sorted(r.event_id for r in spark.read.parquet(out).collect())
    assert got == list(range(274))  # exact prefix, gapless


def test_stream_reader_replay_is_deterministic():
    r = SyntheticEventsStreamReader(n_rows=50, batch_rows=20)
    assert r.initialOffset() == {"idx": 0}
    rows1, nxt = r.read({"idx": 0})
    assert nxt == {"idx": 20}
    replay = list(r.readBetweenOffsets({"idx": 0}, {"idx": 20}))
    assert list(rows1) == replay == [synth_row(i) for i in range(20)]
    # tail slice clamps at the feed bound
    rows3, nxt3 = r.read({"idx": 40})
    assert nxt3 == {"idx": 50} and len(list(rows3)) == 10
    with pytest.raises(ValueError):
        SyntheticEventsStreamReader(n_rows=10, batch_rows=0)


def test_drop_duplicates_within_watermark_suppresses_near_dupes(spark, tmp_path):
    """dropDuplicatesWithinWatermark: duplicate keys arriving within
    the watermark horizon are suppressed while state for expired keys
    is evicted — the bounded-state streaming dedup (the exact variant
    keeps state forever)."""
    import datetime as dt

    src = str(tmp_path / "dd_src")
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (1, t0),
        (1, t0 + dt.timedelta(minutes=5)),   # dup within horizon
        (2, t0 + dt.timedelta(minutes=10)),
        (2, t0 + dt.timedelta(minutes=12)),  # dup within horizon
        (3, t0 + dt.timedelta(hours=5)),
    ]
    spark.createDataFrame(rows, "k long, ts timestamp").write.parquet(src)
    stream = spark.readStream.schema("k long, ts timestamp").parquet(src)
    deduped = stream.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(["k"])
    from workshoop2_etl_spark.streaming import run_available_now

    out = run_available_now(deduped, "q_dd_watermark")
    keys = sorted(r.k for r in out.collect())
    assert keys == [1, 2, 3]  # one survivor per key
