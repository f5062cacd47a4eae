"""Sinks (reference SURVEY.md §2.1, S5-S8).

The reference hand-rolls batched, transactional MySQL inserts
(reference dags/merge_to_dw.py:172-191, BATCH_SIZE=1000 at :25) and
CSV/parquet file drops. Spark's datasources subsume all of that:
JDBC batching/transactions per partition, atomic directory commit for
files, and parallel writers per partition.
"""

from __future__ import annotations

from collections.abc import Callable, Mapping

from pyspark.sql import DataFrame


def write_parquet(
    df: DataFrame,
    path: str,
    *,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    """Parquet sink (reference dags/merge_to_dw.py:87-92, S6).

    ``partition_by`` enables partition pruning for downstream readers
    — the 100 TB version of the reference's timestamped handoff file.
    """
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_csv(df: DataFrame, path: str, *, mode: str = "overwrite", single_file: bool = False) -> None:
    """CSV sink (reference dags/limpiezaSpotify.py:103-104, S5).

    ``single_file=True`` reproduces the reference's one-file output
    via ``coalesce(1)`` — fine for small exports, never for big data
    (it serializes the final stage through one task).
    """
    out = df.coalesce(1) if single_file else df
    out.write.mode(mode).option("header", "true").csv(path)


#: Microsecond-precision ISO-8601 patterns for JSONL timestamps.
#: Spark's DEFAULT JSON timestampFormat truncates to milliseconds
#: (123456µs round-trips to 123000µs — verified empirically), which
#: silently breaks hash parity for any timestamp column; these
#: patterns are applied symmetrically by write_jsonl/read_jsonl so
#: the round trip is lossless at parquet's native precision.
JSONL_TS_FORMAT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"
JSONL_TS_NTZ_FORMAT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"


def write_jsonl(
    df: DataFrame, path: str, *, mode: str = "overwrite", compression: str | None = None
) -> None:
    """JSON-lines sink (S5 sibling): one JSON object per line, the
    interchange format LLM-corpus tools expect. Spark writes one file
    per partition in parallel; ``compression`` ("gzip"/"zstd"/...)
    trades CPU for the 5-10× text shrink that matters when the sink
    feeds a network hop. Timestamps (both flavors) serialize as
    microsecond-precision ISO-8601 and parse back losslessly under a
    declared schema via :func:`read_jsonl`'s matching formats."""
    writer = (
        df.write.mode(mode)
        .option("timestampFormat", JSONL_TS_FORMAT)
        .option("timestampNTZFormat", JSONL_TS_NTZ_FORMAT)
    )
    if compression:
        writer = writer.option("compression", compression)
    writer.json(path)


def write_orc(
    df: DataFrame,
    path: str,
    *,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    """ORC sink (S6 sibling) — same atomic directory commit and
    partition layout as the parquet sink; exists so the engine can
    feed Hive-era ORC consumers without an external convert step."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.orc(path)


def write_avro(
    df: DataFrame,
    out_dir: str,
    *,
    codec: str = "deflate",
) -> int:
    """Avro object-container sink (S6 sibling; see
    ``sources/avro.py``): one container file per non-empty partition
    through :func:`write_container_files`. Returns the number of
    files written.

    Deterministic: the sync marker derives from (schema, partition
    id), never a random value — re-running the same frame writes
    byte-identical files. Schema validation (the supported type
    lattice) happens driver-side BEFORE any job starts."""
    from workshoop2_etl_spark.sources.avro import (
        avro_schema_json,
        encode_pandas,
    )

    avro_schema_json(df.schema)  # validate the lattice up front
    if codec not in ("null", "deflate"):
        # refuse driver-side, before any job starts — an executor-side
        # raise would surface as an opaque PythonException mid-stage
        raise ValueError(f"unsupported Avro codec: {codec!r}")
    schema = df.schema
    return write_container_files(
        df,
        out_dir,
        lambda pdf, file_no: encode_pandas(
            pdf, schema, codec=codec, file_no=file_no
        ),
        ext="avro",
    )


def seed_table(
    df: DataFrame,
    table: str,
    *,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    """Catalog-managed table seed (S8): the reference's
    ``CREATE TABLE IF NOT EXISTS`` + per-row INSERT loop
    (reference bd.py:11-42) as one ``saveAsTable`` — metastore entry,
    schema, and data land atomically, partitioned if asked."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.saveAsTable(table)


def jdbc_write_options(
    url: str,
    table: str,
    *,
    batch_size: int = 1000,
    properties: Mapping[str, str] | None = None,
) -> dict[str, str]:
    """Build the JDBC sink option map for :func:`write_jdbc` — pure
    and unit-testable without a driver jar. ``batch_size`` defaults to
    the reference's BATCH_SIZE=1000 (dags/merge_to_dw.py:25) and must
    be positive; Spark treats it as rows per executemany round-trip."""
    if batch_size <= 0:
        raise ValueError(f"batch_size must be positive, got {batch_size}")
    opts: dict[str, str] = {
        "url": url,
        "dbtable": table,
        "batchsize": str(batch_size),
    }
    opts.update({k: str(v) for k, v in (properties or {}).items()})
    return opts


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    *,
    mode: str = "append",
    batch_size: int = 1000,
    properties: Mapping[str, str] | None = None,
) -> None:
    """JDBC batch sink (reference dags/merge_to_dw.py:172-191, S7/S8).

    Spark executes one transaction per partition with ``batchsize``-d
    executemany — exactly the reference's hand-rolled loop, but
    parallel across partitions.
    """
    opts = jdbc_write_options(
        url, table, batch_size=batch_size, properties=properties
    )
    df.write.mode(mode).format("jdbc").options(**opts).save()


def drop_table(spark, table: str) -> None:
    """Drop a catalog table AND clear its orphaned warehouse location.

    A fresh session's in-memory catalog does not own directories left
    by earlier sessions, and overwrite-mode ``saveAsTable`` then dies
    with LOCATION_ALREADY_EXISTS — this makes reseeding idempotent
    across sessions (the reference's ``CREATE TABLE IF NOT EXISTS``
    dance, reference bd.py:11-42, done safely)."""
    import os
    import shutil
    from urllib.parse import urlparse

    # Resolve the managed location from the catalog while the table
    # still exists; for the orphan case (directory left by an earlier
    # session the current catalog doesn't own) fall back to the
    # warehouse layout: <warehouse>/tbl for the default database,
    # <warehouse>/db.db/tbl for a qualified name.
    location = None
    try:
        rows = spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
        for r in rows:
            if r.col_name == "Location":
                location = urlparse(r.data_type).path or r.data_type
                break
    except Exception:
        pass
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    wh = urlparse(warehouse).path or warehouse
    parts = table.lower().split(".")
    if len(parts) == 1:
        fallback = os.path.join(wh, parts[0])
    elif len(parts) == 2:
        fallback = os.path.join(wh, f"{parts[0]}.db", parts[1])
    else:  # catalog-qualified (spark_catalog.db.tbl)
        fallback = os.path.join(wh, f"{parts[-2]}.db", parts[-1])
    for leftover in {location, fallback} - {None}:
        if os.path.isdir(leftover):
            shutil.rmtree(leftover)


def compact_parquet(
    spark,
    src_dir: str,
    dst_dir: str,
    *,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Small-file compaction: rewrite a parquet directory into
    ``ceil(total_bytes / target_file_bytes)`` files of roughly even
    size. Returns the output file count.

    The small-files problem is the classic long-lived-table disease —
    streaming sinks and per-batch appends leave thousands of KB-sized
    files whose open/footer cost dominates scans and whose count
    explodes driver memory for file listings. Compaction is a single
    narrow-ish job: one scan, one round-robin ``repartition`` exchange
    (even output sizes; ``coalesce`` would skew by input file layout
    and can silently reduce scan parallelism), one write. Source bytes
    are summed from the directory listing on the driver — metadata
    only, no data read.

    Row-level content is preserved exactly; row ORDER is not (it never
    is under parallel writes). Write to a NEW directory and swap —
    compacting in place would race readers.
    """
    import math
    import os

    total = 0
    for root, _dirs, files in os.walk(src_dir):
        for name in files:
            if name.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, name))
    if os.path.isfile(src_dir):
        total = os.path.getsize(src_dir)
    n_files = max(1, math.ceil(total / target_file_bytes))
    df = spark.read.parquet(src_dir)
    df.repartition(n_files).write.mode("overwrite").parquet(dst_dir)
    return n_files


def cluster_parquet(
    df,
    dst_dir: str,
    *,
    cluster_cols: list[str],
    n_files: int | None = None,
    rowgroup_bytes: int | None = None,
) -> None:
    """Write ``df`` range-clustered on ``cluster_cols``: one range
    exchange + in-partition sort, so every parquet row group covers a
    tight, (near-)disjoint span of the cluster key and its min/max
    footer statistics actually PRUNE.

    This is the storage-layout half of predicate pushdown: Spark (and
    DuckDB, and every parquet reader) skips a row group only when the
    pushed filter's range misses the group's min/max — which on a
    hash-shuffled layout never happens, because every group spans the
    whole key domain. Range-clustering turns a selective key/time
    filter from a full scan into a touch of the few covering groups
    (see tests/test_data_skipping.py for the measured ratio).

    The 100 TB recipe: cluster the fact table on its dominant filter
    column (event time, tenant); ``n_files`` defaults to the current
    shuffle-partition count, each file sorted internally, so file- AND
    row-group-level stats both tighten. ``rowgroup_bytes`` shrinks
    parquet's block size when finer skip granularity is worth the
    footer overhead (wide tables, very selective filters).

    Range boundaries come from Spark's reservoir sample over the sort
    key — the standard global-sort exchange; skew concentrates in
    boundary partitions like any range partitioning (AQE rebalances).
    """
    if not cluster_cols:
        raise ValueError("cluster_cols must name at least one column")
    n = n_files or int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    out = df.repartitionByRange(n, *cluster_cols).sortWithinPartitions(
        *cluster_cols
    )
    w = out.write.mode("overwrite")
    if rowgroup_bytes is not None:
        w = w.option("parquet.block.size", int(rowgroup_bytes))
    w.parquet(dst_dir)


def overwrite_partitions_dynamic(
    df: DataFrame,
    path: str,
    *,
    partition_by: list[str],
) -> None:
    """Dynamic partition overwrite: replace ONLY the partitions the
    incoming DataFrame touches, leaving every other partition of the
    table untouched — the idempotent daily-reload primitive
    (re-running a day's load rewrites that day's directory and
    nothing else), where static ``mode("overwrite")`` would wipe the
    whole table first.

    Implemented with Spark's own
    ``spark.sql.sources.partitionOverwriteMode=dynamic`` — set
    per-write via ``DataFrameWriter.option`` so the session default
    is untouched (the conf-flip-and-restore alternative races
    concurrent writers on the shared session).

    At 100 TB this is the partition-granular complement to the
    versioned table's CDC merge: coarse idempotent reloads by
    partition here, row-level upserts there. Non-touched-partition
    preservation and reload idempotence are pinned in
    tests/test_sinks.py.
    """
    if not partition_by:
        raise ValueError("partition_by must name at least one column")
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_by)
        .parquet(path)
    )


def write_container_files(
    df: DataFrame,
    out_dir: str,
    encode: Callable[..., bytes],
    *,
    ext: str,
) -> int:
    """Container-file sink shared by the Avro and TFRecord writers:
    one ``{ext}`` file per non-empty partition, encoded
    executor-side by ``encode(pdf, file_no) -> bytes`` in a
    ``mapInPandas`` fold over the whole partition (the iterator form —
    batches concatenate into ONE blob, so file count == partition
    count, not Arrow-batch count) and written through
    :func:`write_binary_files`. ``file_no`` is the partition id —
    unique by construction, so the sink's uniqueness guard is a no-op
    check. Returns the number of files written."""
    import pandas as pd

    from pyspark.sql import functions as F

    def _fold(it):
        parts: list = []
        file_no = None
        for pdf in it:
            if len(pdf):
                if file_no is None:
                    file_no = int(pdf["__pid"].iloc[0])
                parts.append(pdf.drop(columns="__pid"))
        if file_no is None:
            return
        whole = parts[0] if len(parts) == 1 else pd.concat(parts)
        blob = encode(whole, file_no)
        yield pd.DataFrame({"file_no": [file_no], "content": [blob]})

    blobs = df.withColumn("__pid", F.spark_partition_id()).mapInPandas(
        _fold, "file_no long, content binary"
    )
    return write_binary_files(blobs, out_dir, ext=ext)


def write_binary_files(
    df: DataFrame,
    out_dir: str,
    *,
    content_col: str = "content",
    file_no_col: str = "file_no",
    prefix: str = "part",
    ext: str = "bin",
) -> int:
    """Write one file per row of a (file_no, content binary) frame —
    the sink half of blob-producing exports (WET/WARC files, media
    shards): each task writes its own rows straight to
    ``{out_dir}/{prefix}-{file_no:05d}.{ext}``, executor-parallel
    with NO driver collect and no extra shuffle (whatever
    partitioning the blob fold left is fine — names come from the
    data, not the task). Returns the number of files written.

    Overwrite semantics: files matching ``{prefix}-*.{ext}`` from a
    previous run are removed first, so the directory holds EXACTLY
    this export afterwards (a re-export with different bucketing
    must not leave stale blobs for a later directory scan to
    re-ingest). Returns the number of files written this run.

    ``file_no`` must be unique — two rows sharing a number would
    race on the same path with last-partition-wins silence, so the
    duplicate case raises up front (one count/countDistinct agg over
    the key column only). The return value is that counted row
    number, not a directory re-list, so concurrent unrelated files
    matching the pattern can't inflate it.

    Local-FS implementation (this container's scope); on a cluster
    the same shape targets shared storage — the per-row write stays
    a pure foreachPartition."""
    import os

    from pyspark.sql import functions as F

    # Persist across the two actions (uniqueness agg + the write):
    # without it the blob-building upstream would execute twice.
    files = df.select(file_no_col, content_col).persist()
    try:
        stats = files.agg(
            F.count(file_no_col).alias("n"),
            F.countDistinct(file_no_col).alias("nd"),
        ).first()
        if stats["n"] != stats["nd"]:
            raise ValueError(
                f"write_binary_files: {file_no_col} is not unique "
                f"({stats['n']} rows, {stats['nd']} distinct) — "
                "duplicate numbers would silently overwrite each "
                "other; groupBy upstream first"
            )

        os.makedirs(out_dir, exist_ok=True)
        suffix = "." + ext
        for name in os.listdir(out_dir):
            if name.startswith(prefix + "-") and name.endswith(suffix):
                os.unlink(os.path.join(out_dir, name))

        def write_rows(rows) -> None:
            for r in rows:
                name = f"{prefix}-{int(r[file_no_col]):05d}.{ext}"
                with open(os.path.join(out_dir, name), "wb") as f:
                    f.write(bytes(r[content_col]))

        files.foreachPartition(write_rows)
    finally:
        files.unpersist()
    return int(stats["n"])
