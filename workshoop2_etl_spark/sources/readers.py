"""Scans / sources (reference SURVEY.md §2.1, S1-S4).

All readers take an optional explicit ``StructType`` — the engine
policy is *declared* schemas, not inference (the reference relies on
pandas ``read_csv`` inference, which is nondeterministic across data
slices and forces a full pre-scan at 100 TB).
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: The driver-generated testdata tables (TESTDATA.md).
TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


#: Driver-side schema memo for :func:`read_parquet`: one entry per
#: local path, ``{realpath: (signature, nanos_cols, schema)}``. The
#: signature of a regular file is ``(mtime_ns, size)``; that of a
#: directory is the sorted recursive listing ``(relpath, mtime_ns,
#: size)`` of every file under it (``_SUCCESS``, hidden files and
#: partition subdirectories included), see :func:`_path_signature`.
#: This is METADATA caching, not result caching: any file under the
#: path being added, removed or rewritten changes the signature, and
#: the cached StructType is exactly what inference returned for that
#: identical path state — inference is the only source of schemas.
#: Rewriting a path replaces its entry, so the memo grows with the
#: distinct paths read (a StructType each — KBs), not with rewrites.
#: Measured (optimization round 14, guide §1/§5):
#: ``spark.read.parquet(path)`` re-infers the footer schema on EVERY
#: call — 60 ms steady-state vs 8 ms with an explicit schema — and
#: for a directory that inference is a Spark job per read (one per
#: table a dashboard card reads). At 100 TB this is the role a table
#: format's manifest plays (guide §6); for bare paths the
#: session-lifetime memo is the equivalent.
#:
#: Known limit (r14 ADVICE, accepted for this engine's single session
#: factory): the entry does NOT fold in session confs that can steer
#: parquet schema inference (e.g.
#: ``spark.sql.parquet.inferTimestampNTZ.enabled``) — a schema
#: inferred under one conf set replays verbatim on a session where
#: inference would differ. Processes that flip inference confs
#: mid-life should clear or key-extend the memo.
_SCHEMA_MEMO: dict[str, tuple[tuple, list[str], T.StructType | None]] = {}


def _path_signature(path: str) -> tuple | None:
    """State of a local parquet file or directory for ``_SCHEMA_MEMO``;
    None (no memo, plain inference) for globs, URIs, missing paths and
    any ``stat`` that fails during the walk."""
    import glob
    import os
    import stat

    if "://" in path or glob.has_magic(path):
        return None
    try:
        st = os.stat(path)
        if stat.S_ISREG(st.st_mode):
            return (st.st_mtime_ns, st.st_size)
        if not stat.S_ISDIR(st.st_mode):
            return None
        listing, errors = [], []
        for root, _dirs, files in os.walk(path, onerror=errors.append, followlinks=True):
            for name in files:
                full = os.path.join(root, name)
                fst = os.stat(full)
                listing.append(
                    (os.path.relpath(full, path), fst.st_mtime_ns, fst.st_size)
                )
    except OSError:
        return None
    return None if errors else tuple(sorted(listing))


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Parquet scan (reference dags/merge_to_dw.py:140-143, S3).

    Columnar with predicate pushdown and column pruning — Catalyst
    prunes to ``ReadSchema`` and pushes filters to ``PushedFilters``
    automatically because plans stay declarative.

    Parquet TIMESTAMP(NANOS) columns (which Spark's vectorized reader
    rejects; e.g. pandas-written ``datetime64[ns]``) arrive as long
    nanos under ``spark.sql.legacy.parquet.nanosAsLong`` and are
    rebuilt into micro-precision timestamps here — the same
    truncation DuckDB applies, keeping oracle comparisons aligned.

    Local files and directories without nanos columns take a memoized
    explicit-schema fast path (see ``_SCHEMA_MEMO``, one entry per
    path, keyed on the file's stat or the directory's listing): an
    identical DataFrame (the schema IS the one inference produced for
    this exact path state, partition columns included), ~8× less
    driver work per call and, for a directory, no inference job. The
    memo is filled only by an inferred read whose path state did not
    change while it inferred. Nanos-bearing paths keep the inference
    path — the nanosAsLong schema conversion must happen inside the
    conf window — and memoize only their probed column list.
    """
    import os

    sig = _path_signature(path)
    key = os.path.realpath(path) if sig is not None else None
    memo = _SCHEMA_MEMO.get(key)
    if memo is not None and memo[0] == sig:
        _, nanos_cols, schema = memo
        if schema is not None:
            return spark.read.schema(schema).parquet(path)
    else:
        nanos_cols = _nanos_timestamp_columns(path)
        if key is not None and not nanos_cols:
            df = spark.read.parquet(path)
            if _path_signature(path) == sig:
                _SCHEMA_MEMO[key] = (sig, [], df.schema)
            return df
        if key is not None:
            # nanos-bearing path: memoize the probed column list (skips
            # the pyarrow footer walk on later calls) and fall through
            # to the conf-window slow path below.
            _SCHEMA_MEMO[key] = (sig, nanos_cols, None)
    if nanos_cols:
        # Runtime SQL conf — must hold on *whatever* session the caller
        # supplies (the driver passes its own), not just the engine's
        # session factory, so it is set here at read time and RESTORED
        # right after: the schema conversion happens at analysis time
        # (verified: the returned lazy frame executes correctly after
        # the restore), so leaving it set would only silently change
        # how unrelated later reads on this session interpret
        # TIMESTAMP(NANOS) columns. Concurrent reads from other
        # threads during this narrow window would see the conf set —
        # acceptable for a driver-side builder API.
        conf = "spark.sql.legacy.parquet.nanosAsLong"
        prior = spark.conf.get(conf, None)
        spark.conf.set(conf, "true")
        try:
            df = spark.read.parquet(path)
        finally:
            if prior is None:
                spark.conf.unset(conf)
            else:
                spark.conf.set(conf, prior)
    else:
        df = spark.read.parquet(path)
    for c in nanos_cols:
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return df


def ensure_parallelism(
    df: DataFrame,
    *,
    min_partitions: int | None = None,
    input_bytes: int | None = None,
) -> DataFrame:
    """Round-robin repartition an under-parallelized scan up to the
    cluster's default parallelism — a NO-OP whenever the input already
    has that many partitions.

    Spark sizes file-scan partitions by BYTES (``maxPartitionBytes`` /
    ``openCostInBytes``), which is the wrong estimate for compute-bound
    narrow operators: a sub-megabyte parquet file of 5k documents scans
    as ONE partition, and every downstream md5/shingle/matmul then runs
    on one core until the first exchange (measured 6× on the bottom-k
    fingerprint). At 100 TB the same scan yields thousands of
    partitions and this helper does nothing — the guard is what makes
    it safe to leave in production plans; the repartition only ever
    shuffles data that was small enough to under-split in the first
    place. Apply it between the scan and CPU-heavy per-row work; do
    NOT apply it where the next operator shuffles anyway (groupBy /
    join pick their own partitioning).

    ``input_bytes`` (optimization round 14, guide §1/§5): when the
    caller knows the scan's input size (e.g. one ``os.stat`` on the
    file it just asked :func:`read_parquet` to scan), the partition
    count is ESTIMATED from Spark's own file-split arithmetic
    (``FilePartition.maxSplitBytes``) instead of asking the live plan
    — ``df.rdd.getNumPartitions()`` physically plans the query and
    builds a Python RDD conversion, measured ~79 ms of driver time
    per call, paid per query per rep across the whole registry. The
    estimate only decides whether to insert the round-robin
    repartition; row values are identical either way, and the
    decision agrees with the live check everywhere except a narrow
    band around one-partition-per-core inputs, where both choices
    are equally reasonable.

    ``input_bytes`` must be the size of ONE regular file (r14
    ADVICE): the estimate replicates the single-file form of Spark's
    split math — openCost charged once, no FilePartition bin-packing
    — so summed bytes for a multi-file input would drift from the
    live plan. Multi-file callers pass ``input_bytes=None`` (live
    ``df.rdd`` probe).
    """
    spark = df.sparkSession
    target = min_partitions or spark.sparkContext.defaultParallelism
    if input_bytes is not None:
        if _estimated_scan_partitions(spark, input_bytes, target) >= target:
            return df
        return df.repartition(target)
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def spread_groups(df: DataFrame, *keys: str) -> DataFrame:
    """Hash-repartition by the group key(s) to the cluster's default
    parallelism, for use immediately before a per-group Python kernel
    (``groupBy(keys).applyInPandas``).

    Why (r14 opt, guide §2.5/§4): AQE coalesces post-shuffle
    partitions by BYTES, but a per-group pandas kernel's cost is
    per-GROUP Python overhead, invisible to byte statistics — a 1 MB
    shuffle of thousands of tiny groups coalesces to ONE task and the
    whole stage serializes through a single Python worker (measured
    on wikidump_ingest at sf0.1: the build_stream stage ran 1250
    groups on 1 task, 4.9 s wall vs 0.2 s CPU; with this guard
    6.9 → 2.4 s end to end, identical bytes). An explicit
    ``repartition(n, keys)`` pins the partition count (AQE respects
    user-specified numbers), satisfies the kernel's clustered
    distribution (no second exchange), and shuffles exactly the bytes
    the groupBy would have shuffled anyway. Partition count =
    ``defaultParallelism`` — cores-matched at any cluster size, one
    Python worker per core.
    """
    n = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n, *keys)


def _size_bytes(v: str | None, default: int) -> int:
    """Parse a Spark size-string conf value ('128m', '134217728b',
    plain digits) to bytes; ``default`` when unset/unparseable."""
    if not v:
        return default
    s = str(v).strip().lower()
    mult = 1
    for suf, m in (
        ("pb", 1 << 50), ("tb", 1 << 40), ("gb", 1 << 30),
        ("mb", 1 << 20), ("kb", 1 << 10),
        ("p", 1 << 50), ("t", 1 << 40), ("g", 1 << 30),
        ("m", 1 << 20), ("k", 1 << 10), ("b", 1),
    ):
        if s.endswith(suf):
            s, mult = s[: -len(suf)], m
            break
    try:
        return int(float(s) * mult)
    except ValueError:
        return default


def _estimated_scan_partitions(
    spark: SparkSession, input_bytes: int, parallelism: int
) -> int:
    """Replicate ``FilePartition.maxSplitBytes`` for a single input
    file: splits = ceil(bytes / min(maxPartitionBytes,
    max(openCostInBytes, (bytes + openCost) / minPartitionNum)))."""
    max_split = _size_bytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes", None), 128 << 20
    )
    open_cost = _size_bytes(
        spark.conf.get("spark.sql.files.openCostInBytes", None), 4 << 20
    )
    min_parts = int(
        spark.conf.get("spark.sql.files.minPartitionNum", None)
        or parallelism
    )
    bytes_per_core = (input_bytes + open_cost) / max(1, min_parts)
    split = min(max_split, max(open_cost, bytes_per_core))
    return max(1, -(-input_bytes // max(1, int(split))))


def _nanos_timestamp_columns(path: str) -> list[str]:
    """Columns stored as parquet TIMESTAMP(NANOS) in ``path`` (checked
    once on the driver from footer metadata — no data read)."""
    import pyarrow.dataset as ds
    import pyarrow as pa

    try:
        schema = ds.dataset(path, format="parquet").schema
    except Exception:
        return []
    return [
        f.name
        for f in schema
        if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
    ]


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    *,
    header: bool = True,
    **options: str,
) -> DataFrame:
    """CSV scan (reference dags/limpiezaSpotify.py:75, S1).

    With an explicit schema when supplied (deterministic, single
    pass); falls back to inference only for ad-hoc exploration.
    """
    reader = spark.read.option("header", str(header).lower())
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.csv(path)


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    **options: str,
) -> DataFrame:
    """JSON-lines scan (S1 sibling; the dominant interchange format of
    web-crawl corpora — one JSON object per line, splittable, so a
    100 TB dump parallelizes like any text source).

    Declared schema preferred (same engine policy as CSV): inference
    costs an extra full pass over the data and types drift between
    slices. ``multiLine`` stays off — JSONL, not a JSON array — and
    malformed rows surface in ``_corrupt_record`` only when the caller
    opts into PERMISSIVE mode; the default here is FAILFAST so a bad
    dump fails loudly instead of silently nulling columns.
    """
    from workshoop2_etl_spark.sources.writers import (
        JSONL_TS_FORMAT,
        JSONL_TS_NTZ_FORMAT,
    )

    reader = (
        spark.read.option("mode", options.pop("mode", "FAILFAST"))
        # Mirror write_jsonl's microsecond patterns — the default
        # parser truncates fractional seconds to milliseconds.
        .option("timestampFormat", options.pop("timestampFormat", JSONL_TS_FORMAT))
        .option(
            "timestampNTZFormat",
            options.pop("timestampNTZFormat", JSONL_TS_NTZ_FORMAT),
        )
    )
    if schema is not None:
        reader = reader.schema(schema)
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.json(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan (S3 sibling): the other columnar format with the same
    pushdown/pruning story as parquet — supported so users with
    Hive-era ORC warehouses can read them without a convert step."""
    return spark.read.orc(path)


def read_avro(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
) -> DataFrame:
    """Avro object-container scan (S3 sibling; see
    ``sources/avro.py`` for why the engine carries its own codec),
    one container per file through :func:`read_container_files`.

    ``schema=None`` peeks ONE file header driver-side (local
    filesystem — this container's scope; on shared storage pass the
    schema, same caveat as every single-file-peek inference). The
    declared/peeked schema is then enforced on every file: a file
    whose embedded writer schema names different columns fails
    loudly in the kernel rather than silently nulling."""
    import glob as _glob
    import os as _os

    from workshoop2_etl_spark.sources.avro import (
        decode_pandas,
        read_header,
        spark_schema_of,
    )

    if schema is None:
        pattern = (
            path
            if _glob.has_magic(path)
            else _os.path.join(path, "*.avro")
        )
        first = sorted(_glob.glob(pattern))
        if not first:
            raise ValueError(f"no .avro files under {path!r}")
        with open(first[0], "rb") as f:
            head = f.read(1 << 20)  # header is metadata + 16B sync
        avro_schema, _codec, _sync, _pos = read_header(head)
        schema = spark_schema_of(avro_schema)

    return read_container_files(
        spark, path, lambda blob: decode_pandas(blob, schema)[0], schema,
        ext="avro",
    )


def read_container_files(
    spark: SparkSession,
    path: str,
    decode: Callable[[bytes], object],
    schema: T.StructType,
    *,
    ext: str,
) -> DataFrame:
    """Container-file scan shared by the Avro and TFRecord readers: a
    ``binaryFile`` scan lists and reads the ``*.{ext}`` files
    executor-side, and ``decode(blob) -> pandas.DataFrame``
    (rows in ``schema``) runs per file in a ``mapInPandas`` kernel
    where its scan task runs — the file is the unit of parallelism
    (``spark-avro``'s split story for non-splittable codecs), and
    blob bytes never shuffle."""
    blobs = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", f"*.{ext}")
        .load(path)
        .select("content")
    )

    def _decode(it):
        for pdf in it:
            for blob in pdf["content"]:
                yield decode(bytes(blob))

    return blobs.mapInPandas(_decode, schema)


def jdbc_read_options(
    url: str,
    table: str,
    *,
    properties: Mapping[str, str] | None = None,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int | None = None,
) -> dict[str, str]:
    """Build the JDBC datasource option map for :func:`read_jdbc`.

    Pure and unit-testable without a driver jar (the sandbox has
    none): the partitioned-range contract — partitionColumn requires
    BOTH bounds, numPartitions defaults to 8 — is pinned here. Bounds
    without a partition column are rejected too (Spark would silently
    ignore them, serializing the scan through one connection)."""
    opts: dict[str, str] = {"url": url, "dbtable": table}
    opts.update({k: str(v) for k, v in (properties or {}).items()})
    if partition_column is not None:
        if lower_bound is None or upper_bound is None:
            raise ValueError(
                "partition_column requires lower_bound and upper_bound"
            )
        opts.update(
            partitionColumn=partition_column,
            lowerBound=str(lower_bound),
            upperBound=str(upper_bound),
            numPartitions=str(num_partitions or 8),
        )
    elif lower_bound is not None or upper_bound is not None:
        raise ValueError("bounds are meaningless without partition_column")
    return opts


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    *,
    properties: Mapping[str, str] | None = None,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """JDBC/RDBMS table scan (reference dags/merge_to_dw.py:37-44, S2).

    The reference reads SQLite through an Airflow hook single-threaded;
    at scale a JDBC read must be *partitioned* (parallel range scans on
    a numeric column) or it serializes through one connection.
    """
    opts = jdbc_read_options(
        url,
        table,
        properties=properties,
        partition_column=partition_column,
        lower_bound=lower_bound,
        upper_bound=upper_bound,
        num_partitions=num_partitions,
    )
    return spark.read.format("jdbc").options(**opts).load()


def from_records(
    spark: SparkSession,
    records: Iterable[Mapping | Sequence],
    schema: T.StructType | str,
) -> DataFrame:
    """DataFrame from a records batch (reference dags/merge_to_dw.py:116-117, S4).

    The engine's only way to turn driver-side rows into a DataFrame.
    Records are tuples (positional) or mappings (by field name, a
    missing key is null); ``schema`` is a ``StructType`` or a DDL
    string. Each record goes through Spark's own schema verifier, so a
    value that does not fit its field raises exactly as Spark's list
    path (``spark.createDataFrame`` over a Python list) does, and the
    columns, types, nullability and rows equal that path's. One
    difference: a string field takes only ``str``, where the list path
    stores the JVM's ``toString`` of any other value.

    The rows travel as one ``pyarrow.Table``, so the plan holds a JVM
    ``LocalRelation`` (``LocalTableScan``): executing it starts no
    Python worker, where the list path's pickled RDD starts one per
    task on every execution. The driver holds every row, so the size
    bound is each caller's documented bound on its driver collect;
    real data stays in lazy scans and never round-trips through the
    driver (the reference ships whole datasets between Airflow tasks
    as ``list[dict]`` via XCom).
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _make_type_verifier

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    verify = _make_type_verifier(schema)
    names = schema.fieldNames()
    columns: list[list] = [[] for _ in names]
    for rec in records:
        verify(rec)
        values = [rec.get(n) for n in names] if isinstance(rec, Mapping) else rec
        for col, v in zip(columns, values):
            col.append(v)
    arrow_schema = to_arrow_schema(schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)


def load_tables(
    spark: SparkSession,
    sf_dir: str,
    tables: Iterable[str] = TESTDATA_TABLES,
    *,
    register_views: bool = True,
) -> dict[str, DataFrame]:
    """Load the testdata star schema; optionally register temp views
    so the SQL surface (``spark.sql``) sees the same names as the
    DuckDB oracle."""
    out: dict[str, DataFrame] = {}
    for name in tables:
        df = read_parquet(spark, f"{sf_dir}/{name}.parquet")
        if register_views:
            df.createOrReplaceTempView(name)
        out[name] = df
    return out

