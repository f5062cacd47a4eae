"""Streaming operators over the events feed.

- :func:`stream_events` — incremental parquet file-source scan (the
  streaming twin of ``read_parquet``: the file source needs a
  declared schema anyway, so the ``ts`` type is detected from the
  parquet footer — long-nanos rebuild, NTZ→epoch-true LTZ, or native
  TIMESTAMP — yielding values identical to the batch reader).
- :func:`windowed_event_counts` — watermarked tumbling-window counts
  (the dashboard's per-period series, computed incrementally).
- :func:`sessionize` — gap-based sessionization via
  ``applyInPandasWithState`` (the custom stateful operator the
  built-in aggregates can't express).
- :func:`run_available_now` — bounded activation: process what's
  there, checkpoint, stop (cron semantics without recompute).

Scale notes: the file source parallelizes per file split like the
batch scan; the windowed count is an incremental partial aggregate
with state keyed by (window, event_type) — state size is bounded by
the watermark horizon, not the stream length. Sessionization state is
per user_id and evicted via processing-time timeout.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

def _events_schema(path: str) -> tuple[T.StructType, bool]:
    """Declared schema for the events feed, derived from the parquet
    footer (driver-side metadata read, no data scanned) — the file
    stream source requires a user schema, and the physical ``ts``
    type varies with the writer:

    - TIMESTAMP(NANOS) (pandas ``datetime64[ns]``): Spark's reader
      rejects it, so declare ``long`` under ``nanosAsLong`` and
      rebuild micros (the batch reader's workaround,
      sources/readers.py:45-70). Returns ``needs_rebuild=True``.
    - TIMESTAMP(MICROS/MILLIS) without timezone: ``timestamp_ntz``.
    - With timezone (isAdjustedToUTC): ``timestamp``.

    Hardcoding any one variant silently corrupts the others — a
    micros column declared ``long`` reads raw micros, and the
    nanos→micros rebuild then shrinks every timestamp 1000×.
    """
    import pyarrow as pa
    import pyarrow.dataset as ds

    ts_type: T.DataType = T.TimestampNTZType()
    needs_rebuild = False
    try:
        field = ds.dataset(path, format="parquet").schema.field("ts")
    except Exception:
        field = None
    if field is not None and pa.types.is_timestamp(field.type):
        if field.type.unit == "ns" and field.type.tz is None:
            ts_type, needs_rebuild = T.LongType(), True
        elif field.type.tz is not None:
            ts_type = T.TimestampType()
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", ts_type),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )
    return schema, needs_rebuild


def stream_events(
    spark: SparkSession,
    path: str,
    *,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Incremental parquet scan of an events directory/file.

    Each micro-batch picks up newly-arrived files (bounded by
    ``max_files_per_trigger`` for backpressure); the nanos epoch is
    rebuilt into the same micro-precision timestamp the batch reader
    produces, so batch and streaming results are comparable."""
    import os
    import re

    schema, needs_rebuild = _events_schema(path)
    if needs_rebuild:
        # Session-level conf, deliberately NOT restored here: streaming
        # micro-batches plan and read files lazily after this returns,
        # so a save/restore around the builder (the batch reader's
        # approach) would break every subsequent trigger. Callers
        # sharing the session with ad-hoc nanos-parquet reads should go
        # through sources.readers.read_parquet, which rebuilds
        # timestamps.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    reader = spark.readStream.schema(schema)
    if os.path.isfile(path):
        # The file source derives basePath from the input path and
        # requires a directory: stream the parent and select the one
        # file via pathGlobFilter, with glob metacharacters
        # backslash-escaped so filenames containing *?[]{} match
        # literally rather than as patterns.
        head, name = os.path.split(path)
        reader = reader.option(
            "pathGlobFilter", re.sub(r"([*?\[\]{}\\])", r"\\\1", name)
        )
        path = head
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    df = reader.parquet(path)
    if needs_rebuild:
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif isinstance(df.schema["ts"].dataType, T.TimestampNTZType):
        # Watermarks demand TIMESTAMP (LTZ). Rebuild the naive value
        # as epoch-true LTZ (naive == UTC, matching DuckDB and the
        # nanos branch) rather than CAST, which would interpret it in
        # the session timezone — a silent DST-dependent shift.
        df = df.withColumn(
            "ts",
            F.timestamp_micros(
                F.expr(
                    "timestampdiff(MICROSECOND, "
                    "TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
                )
            ),
        )
    return df


def windowed_event_counts(
    events: DataFrame,
    *,
    window: str = "1 hour",
    slide: str | None = None,
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling (or, with ``slide``, sliding) window counts per event
    type with late-data handling.

    The watermark bounds state: windows older than (max event time −
    watermark) finalize and evict; later-than-watermark events drop —
    the deliberate completeness/liveness trade of stream processing.
    A sliding window (``slide`` < ``window``) assigns each event to
    ``window/slide`` overlapping windows; state grows by the same
    factor, still bounded by the watermark horizon.
    """
    win = (
        F.window("ts", window)
        if slide is None
        else F.window("ts", window, slide)
    )
    return (
        events.withWatermark("ts", watermark)
        .groupBy(win.alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
        )
    )


_SESSION_OUTPUT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_no", T.IntegerType()),
        T.StructField("n_events", T.IntegerType()),
        T.StructField("session_start", T.TimestampType()),
        T.StructField("session_end", T.TimestampType()),
    ]
)

_SESSION_STATE = T.StructType(
    [
        T.StructField("last_ts_us", T.LongType()),
        T.StructField("session_no", T.IntegerType()),
        T.StructField("n_events", T.IntegerType()),
        T.StructField("start_us", T.LongType()),
    ]
)


def sessionize(
    events: DataFrame,
    *,
    gap_minutes: int = 30,
) -> DataFrame:
    """Gap-based sessions per user via ``applyInPandasWithState``.

    A session closes when ``gap_minutes`` pass between consecutive
    events of one user. Each invocation emits every session *closed
    within the batch* plus the current open session. **Open-session
    rows carry upsert semantics**: a later batch that extends the same
    (user_id, session_no) re-emits it with higher ``n_events``, and
    the latest row supersedes earlier ones — consumers keep
    ``max_by(row, n_events)`` per (user_id, session_no) (a bounded
    single-batch ``availableNow`` run never produces duplicates).
    State per user is four scalars — O(users), not O(events).
    """
    gap_us = gap_minutes * 60 * 1_000_000

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: Any
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.exists:
            last_ts, session_no, n_events, start_us = state.get
        else:
            last_ts, session_no, n_events, start_us = None, 0, 0, None

        out: list[dict] = []
        # Concatenate ALL chunks before sorting: one group can span
        # several Arrow chunks, and sorting per chunk would let
        # last_ts regress between chunks (miscounted sessions).
        chunks = [pdf["ts"] for pdf in pdfs]
        all_ts = (
            pd.concat(chunks, ignore_index=True)
            if chunks
            else pd.Series([], dtype="datetime64[us]")
        )
        if len(all_ts):
            ts_us = (
                all_ts.astype("datetime64[us]").astype("int64").sort_values()
            )
            for t in ts_us:
                if last_ts is not None and t - last_ts > gap_us:
                    out.append(
                        {
                            "user_id": user_id,
                            "session_no": session_no,
                            "n_events": n_events,
                            "session_start": start_us,
                            "session_end": last_ts,
                        }
                    )
                    session_no += 1
                    n_events = 0
                    start_us = None
                if start_us is None:
                    start_us = int(t)
                n_events += 1
                last_ts = int(t)

        if n_events:  # emit the open session (upsert semantics, see doc)
            out.append(
                {
                    "user_id": user_id,
                    "session_no": session_no,
                    "n_events": n_events,
                    "session_start": start_us,
                    "session_end": last_ts,
                }
            )
        state.update((last_ts, session_no, n_events, start_us))
        if out:
            pdf_out = pd.DataFrame(out)
            for c in ("session_start", "session_end"):
                pdf_out[c] = pd.to_datetime(pdf_out[c], unit="us")
            yield pdf_out

    return events.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType=_SESSION_OUTPUT,
        stateStructType=_SESSION_STATE,
        outputMode="append",
        timeoutConf="NoTimeout",
    )


def _activation_conf_override(
    spark, n: int | None, no_data_batches: bool = True
):
    """Context manager: pin activation-scoped session confs for the
    duration of a streaming activation, restoring after.

    ``spark.sql.shuffle.partitions``: stateful streaming operators
    (joins, dedup, windowed aggs) create one state-store instance PER
    shuffle partition, and every micro-batch pays per-store
    open/commit overhead regardless of how few rows it holds. A
    batch-tuned 32–200 partitions means 32–200 state stores for a
    join whose state would fit in a handful — measured ~40% of wall
    time on the sf0.1 interval join. The partition count is baked
    into the checkpoint at FIRST activation (changing it later
    requires a new checkpoint), which is why this is an explicit
    per-stream knob, not a session default. Size it to expected state
    volume / executor count on a real cluster.

    ``no_data_batches=False`` disables the zero-data micro-batch that
    otherwise runs after input exhausts purely to advance the
    watermark and evict state (r15, guide §1.2: measured 3.8→2.2 s on
    the sf0.1 semi interval join — the extra trigger re-plans the
    query and re-commits every state store for no output). ONLY valid
    for sinks whose emission never depends on watermark advance:
    inner/semi stream-stream joins emit on match arrival, so their
    output is identical with or without the trailing batch (verified
    row-identical at sf0.1). Outer joins (null-padding emits when the
    watermark closes the window), watermarked append-mode aggregates
    (windows finalize on watermark), and timeout-based stateful ops
    (final upsert fires on the timeout sweep) MUST keep the default.
    On an unbounded production stream the conf only skips zero-data
    triggers — eviction still happens on every following data batch.
    """
    from contextlib import contextmanager

    @contextmanager
    def cm():
        overrides: dict[str, str] = {}
        if n is not None:
            overrides["spark.sql.shuffle.partitions"] = str(n)
        if not no_data_batches:
            overrides["spark.sql.streaming.noDataMicroBatches.enabled"] = (
                "false"
            )
        prior = {k: spark.conf.get(k, None) for k in overrides}
        for k, v in overrides.items():
            spark.conf.set(k, v)
        try:
            yield
        finally:
            for k, was in prior.items():
                if was is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, was)

    return cm()


#: Accumulated activation-vs-processing split since the last
#: :func:`pop_stream_timings` call. The streaming bench family
#: produces the wildest wall-time spreads (r9: 16.6→4.4 s on
#: unchanged code) because each measurement bundles query START/STOP
#: overhead (plan analysis, checkpoint setup, thread spin-up) with
#: the micro-batch work that actually scales with data. The split
#: lets the regression gate compare PROCESSING time for streaming
#: entries and charge activation to the harness.
_STREAM_TIMINGS = {
    "activation_sec": 0.0,
    "processing_sec": 0.0,
    "n_activations": 0,
}


#: Spark retains only the most recent N progress events
#: (spark.sql.streaming.numRecentProgressUpdates, default 100); an
#: activation with more micro-batches than that would UNDER-count
#: processing if summed naively — masking regressions on one side,
#: manufacturing flags on the other.
_PROGRESS_RETENTION_DEFAULT = 100


def _record_activation(total_sec: float, q) -> None:
    """Fold one finished StreamingQuery into the timing accumulator:
    processing = Σ ``durationMs.triggerExecution`` over its progress
    events (the per-batch work), activation = the remainder. When the
    progress list hits Spark's retention cap (older events dropped),
    the split is unknowable — the whole wall charges to processing,
    the conservative side: the regression gate then compares what is
    effectively wall time instead of trusting an under-count."""
    proc_ms = 0.0
    n_events = 0
    parse_ok = True
    try:
        import json as _json

        progress = q.recentProgress
        n_events = len(progress)
        for p in progress:
            if isinstance(p, str):
                p = _json.loads(p)
            d = p.get("durationMs") or {}
            proc_ms += float(d.get("triggerExecution") or 0)
    except Exception:
        parse_ok = False
    if n_events >= _PROGRESS_RETENTION_DEFAULT or not parse_ok or n_events == 0:
        # Capped list, failed parse, or no progress events at all:
        # the split is unknowable. Charge the whole wall to
        # processing (conservative) rather than emit processing=0 —
        # a zero here would disable bench's processing-basis gate
        # for this entry AND poison next round's prev side.
        proc = total_sec
    else:
        proc = min(proc_ms / 1000.0, total_sec)
    _STREAM_TIMINGS["processing_sec"] += proc
    _STREAM_TIMINGS["activation_sec"] += max(0.0, total_sec - proc)
    _STREAM_TIMINGS["n_activations"] += 1


def pop_stream_timings() -> dict | None:
    """Return and RESET the activation/processing accumulator —
    None when no activation ran since the last pop. bench.py calls
    this after each registry query to attribute the split."""
    if not _STREAM_TIMINGS["n_activations"]:
        return None
    out = {
        "activation_sec": round(_STREAM_TIMINGS["activation_sec"], 3),
        "processing_sec": round(_STREAM_TIMINGS["processing_sec"], 3),
        "n_activations": _STREAM_TIMINGS["n_activations"],
    }
    _STREAM_TIMINGS.update(
        activation_sec=0.0, processing_sec=0.0, n_activations=0
    )
    return out


def await_activation(q, timeout_sec: int, what: str) -> None:
    """awaitTermination with the timing split recorded — the one
    helper every bounded-activation site funnels through. Raises
    TimeoutError (after stopping the query) on overrun."""
    import time as _time

    t0 = _time.perf_counter()
    finished = q.awaitTermination(timeout_sec)
    total = _time.perf_counter() - t0
    _record_activation(total, q)
    if not finished:
        q.stop()
        raise TimeoutError(f"streaming activation {what} exceeded {timeout_sec}s")


def run_available_now(
    stream_df: DataFrame,
    name: str,
    *,
    output_mode: str = "append",
    timeout_sec: int = 300,
    shuffle_partitions: int | None = None,
    no_data_batches: bool = True,
) -> DataFrame:
    """Bounded activation: run the streaming plan over all currently
    available input with ``Trigger.AvailableNow``, land results in an
    in-memory table, stop, and return the table as a batch DataFrame.

    This is the reference's weekly cron semantics done incrementally
    (with a durable checkpoint location the next activation would
    resume from the recorded offsets; the in-memory sink here is the
    test/demo harness — production lands in parquet/Delta).
    ``no_data_batches=False`` skips the trailing watermark-only
    trigger — see :func:`_activation_conf_override` for when that is
    sound."""
    with _activation_conf_override(
        stream_df.sparkSession, shuffle_partitions, no_data_batches
    ):
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        # A partially-written table would silently corrupt downstream
        # comparisons — await_activation fails loudly on overrun.
        await_activation(q, timeout_sec, repr(name))
    return stream_df.sparkSession.table(name)


def run_available_now_to_parquet(
    stream_df: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    *,
    timeout_sec: int = 300,
    shuffle_partitions: int | None = None,
    no_data_batches: bool = True,
) -> None:
    """Durable bounded activation: process all currently-available
    input, append results to a parquet directory, record offsets in
    ``checkpoint_dir``, stop.

    This is the production twin of :func:`run_available_now` (which
    lands in a test-only memory sink): re-invoking with the same
    checkpoint resumes from the recorded offsets and processes ONLY
    files that arrived since the last activation — the reference's
    weekly-cron full recompute (reference dags/merge_to_dw.py's
    schedule) becomes incremental with exactly-once file-sink
    semantics (the sink's transaction log makes half-written
    activations invisible to readers).
    """
    with _activation_conf_override(
        stream_df.sparkSession, shuffle_partitions, no_data_batches
    ):
        q = (
            stream_df.writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        await_activation(q, timeout_sec, f"to {out_dir!r}")


def mg_fold(summary: dict, item: str, c: int, k: int) -> None:
    """One batched Misra–Gries update: absorb ``c`` occurrences of
    ``item`` into a ≤``k``-counter summary, in place. Equivalent to
    ``c`` unit MG steps: increment if present, insert while room,
    else subtract ``min(pending, min(counters))`` from every counter
    and drop zeroed ones, repeating until absorbed. Shared by the
    streaming operator and by the pure-Python test replay."""
    while c > 0:
        if item in summary:
            summary[item] += c
            return
        if len(summary) < k:
            summary[item] = c
            return
        d = min(min(summary.values()), c)
        for i in list(summary):
            summary[i] -= d
            if summary[i] <= 0:
                del summary[i]
        c -= d


def _mg_batch(summary: dict, series, k: int) -> None:
    """Fold one micro-batch column into the summary, deterministically
    (count desc, item asc) so a pure-Python replay of the same batch
    split is bit-equal."""
    vc = series.value_counts()
    for item in sorted(vc.index, key=lambda i: (-vc[i], i)):
        mg_fold(summary, item, int(vc[item]), k)


def streaming_heavy_hitters(
    events: DataFrame,
    item_col: str,
    *,
    k: int = 32,
    n_shards: int = 4,
) -> DataFrame:
    """Streaming Misra–Gries heavy hitters — the classic
    bounded-memory frequency sketch as a custom stateful operator:
    items are hash-partitioned into ``n_shards`` summaries (no single
    state row ever sees the full stream) and each shard folds its
    micro-batches into AT MOST ``k`` counters held in ONE state
    struct (arrays — one state round trip per shard per batch, not
    per item).

    Guarantees, independent of arrival order: every item with true
    per-shard frequency > n/(k+1) holds a counter, and a counter
    underestimates its item by at most the shard's total decrement.
    When a shard's distinct-item count never exceeds ``k`` the
    summary is EXACT — the property the oracle-backed registry entry
    pins (5 event types against k=8); the decrement path is
    pytest-proven on a planted skewed stream.

    The fold runs in ``applyInPandasWithState``, a real incremental
    state machine on whichever state-store provider the session uses.

    Emits one row per (shard, micro-batch): ``shard, version, items,
    counts`` with ``version`` increasing — downstream takes the max
    version per shard (a single-activation drain emits once, but the
    contract survives multi-batch activations and resumes).
    """
    out_schema = (
        "shard int, version long, items array<string>, "
        "counts array<long>"
    )
    shards = events.select(
        F.pmod(F.xxhash64(F.col(item_col)), F.lit(n_shards))
        .cast("int")
        .alias("shard"),
        F.col(item_col).cast("string").alias("mg_item"),
    )

    def fn(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: Any
    ) -> Iterator[pd.DataFrame]:
        summary: dict[str, int] = {}
        version = 0
        if state.exists:
            items_prev, counts_prev, version = state.get
            summary = dict(
                zip(list(items_prev), [int(c) for c in counts_prev])
            )
            version = int(version)
        for pdf in pdfs:
            _mg_batch(summary, pdf["mg_item"], k)
        version += 1
        items = sorted(summary)
        counts = [summary[i] for i in items]
        state.update((items, counts, version))
        yield pd.DataFrame(
            {
                "shard": [int(key[0])],
                "version": [version],
                "items": [items],
                "counts": [counts],
            }
        )

    return shards.groupBy("shard").applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=(
            "items array<string>, counts array<long>, version long"
        ),
        outputMode="update",
        timeoutConf="NoTimeout",
    )
