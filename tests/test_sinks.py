"""Optional-path unit tests for the JSONL/ORC sinks (ADVICE r4):
microsecond timestamp round-trips, compressed output layout, and
partitioned ORC directory layout — the branches the oracle-parity
queries never exercise because they run with defaults.
"""

from __future__ import annotations

import datetime as dt
import glob
import os

from pyspark.sql import functions as F
from pyspark.sql import types as T

from workshoop2_etl_spark.sources.readers import read_jsonl, read_orc
from workshoop2_etl_spark.sources.writers import write_jsonl, write_orc


def test_jsonl_timestamp_roundtrip_is_microsecond_lossless(spark, tmp_path):
    """Spark's default JSON timestampFormat truncates to milliseconds;
    the sink's explicit microsecond patterns must round-trip 123456µs
    exactly, for both timestamp flavors."""
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("ts_ntz", T.TimestampNTZType()),
        ]
    )
    micro = dt.datetime(2024, 3, 1, 12, 34, 56, 123456)
    df = spark.createDataFrame([(1, micro, micro)], schema)
    out = str(tmp_path / "jsonl_ts")
    write_jsonl(df, out)
    back = read_jsonl(spark, out, schema=schema)
    row = back.collect()[0]
    assert row.ts.microsecond == 123456
    assert row.ts_ntz.microsecond == 123456


def test_jsonl_compression_writes_gz_files_and_reads_back(spark, tmp_path):
    df = spark.range(100).withColumn("s", F.concat(F.lit("doc-"), F.col("id")))
    out = str(tmp_path / "jsonl_gz")
    write_jsonl(df, out, compression="gzip")
    data_files = [
        f
        for f in glob.glob(os.path.join(out, "part-*"))
        if not f.endswith(".crc")
    ]
    assert data_files and all(f.endswith(".json.gz") for f in data_files)
    back = read_jsonl(spark, out, schema=df.schema)
    assert back.count() == 100
    assert back.agg(F.sum("id")).collect()[0][0] == 4950


def test_orc_partition_by_layout_and_roundtrip(spark, tmp_path):
    df = spark.range(100).withColumn(
        "bucket", (F.col("id") % 4).cast("string")
    )
    out = str(tmp_path / "orc_part")
    write_orc(df, out, partition_by=["bucket"])
    part_dirs = sorted(
        os.path.basename(p)
        for p in glob.glob(os.path.join(out, "bucket=*"))
    )
    assert part_dirs == ["bucket=0", "bucket=1", "bucket=2", "bucket=3"]
    back = read_orc(spark, out)
    assert back.count() == 100
    assert back.filter(F.col("bucket") == "2").count() == 25


def test_jsonl_failfast_raises_on_corrupt_and_permissive_tolerates(spark, tmp_path):
    """read_jsonl's FAILFAST default must surface a malformed dump
    loudly; opting into PERMISSIVE nulls the bad row instead."""
    import pytest
    from pyspark.sql import types as T

    p = tmp_path / "bad.jsonl"
    p.write_text('{"a": 1}\n{"a": broken\n{"a": 3}\n')
    schema = T.StructType([T.StructField("a", T.LongType())])
    with pytest.raises(Exception, match="FAILFAST|Malformed|malformed"):
        read_jsonl(spark, str(p), schema=schema).collect()
    ok = read_jsonl(spark, str(p), schema=schema, mode="PERMISSIVE")
    vals = sorted((r.a for r in ok.collect()), key=lambda v: (v is None, v))
    assert vals == [1, 3, None]


def test_dynamic_partition_overwrite_preserves_untouched(spark, tmp_path):
    import pytest as _pt

    from workshoop2_etl_spark.sources.writers import (
        overwrite_partitions_dynamic,
        write_parquet,
    )

    path = str(tmp_path / "dyn")
    full = spark.createDataFrame(
        [(1, "d1"), (2, "d1"), (3, "d2"), (4, "d3")], "v int, day string"
    )
    write_parquet(full, path, partition_by=["day"])
    # reload ONLY d2 with corrected rows
    patch = spark.createDataFrame([(30, "d2"), (31, "d2")], "v int, day string")
    overwrite_partitions_dynamic(patch, path, partition_by=["day"])
    got = {
        (r.v, r.day) for r in spark.read.parquet(path).collect()
    }
    # d1 and d3 untouched; d2 replaced wholesale
    assert got == {(1, "d1"), (2, "d1"), (30, "d2"), (31, "d2"), (4, "d3")}
    # idempotence: re-running the same patch changes nothing
    overwrite_partitions_dynamic(patch, path, partition_by=["day"])
    again = {(r.v, r.day) for r in spark.read.parquet(path).collect()}
    assert again == got
    with _pt.raises(ValueError):
        overwrite_partitions_dynamic(patch, path, partition_by=[])


# ------------------------------------------------------------- Avro


def test_avro_full_lattice_roundtrip(spark, tmp_path):
    """Every supported type — long/int/double/float/bool/string/
    bytes/date/timestamp_ntz — plus NULLs in each, survives the
    container round trip value-exact."""
    from workshoop2_etl_spark.sources.readers import read_avro
    from workshoop2_etl_spark.sources.writers import write_avro

    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("i", T.IntegerType()),
            T.StructField("d", T.DoubleType()),
            T.StructField("f", T.FloatType()),
            T.StructField("b", T.BooleanType()),
            T.StructField("s", T.StringType()),
            T.StructField("raw", T.BinaryType()),
            T.StructField("day", T.DateType()),
            T.StructField("ts", T.TimestampNTZType()),
        ]
    )
    rows = [
        (
            1, 7, 2.5, 1.25, True, "héllo\nworld", b"\x00\xff",
            dt.date(2024, 2, 29),
            dt.datetime(2024, 1, 2, 3, 4, 5, 123456),
        ),
        (-(2**62), None, None, None, None, None, None, None, None),
        (3, -1, -0.125, 0.5, False, "", b"", dt.date(1969, 12, 31),
         dt.datetime(1969, 12, 31, 23, 59, 59, 999999)),
    ]
    df = spark.createDataFrame(rows, schema)
    out = str(tmp_path / "lattice")
    n = write_avro(df.coalesce(1), out)
    assert n == 1
    back = read_avro(spark, out)
    assert back.schema == schema
    got = sorted(back.collect(), key=lambda r: r.k)
    want = sorted(df.collect(), key=lambda r: r.k)
    assert got == want


def test_avro_codecs_and_determinism(spark, tmp_path):
    """deflate and null codecs agree; re-writing the same frame is
    byte-identical (deterministic sync markers)."""
    from workshoop2_etl_spark.sources.readers import read_avro
    from workshoop2_etl_spark.sources.writers import write_avro

    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(100)], "k long, v string"
    ).coalesce(1)
    for codec in ("deflate", "null"):
        out = str(tmp_path / codec)
        write_avro(df, out, codec=codec)
        back = {(r.k, r.v) for r in read_avro(spark, out).collect()}
        assert back == {(i, f"v{i}") for i in range(100)}
    out2 = str(tmp_path / "again")
    write_avro(df, out2, codec="deflate")
    a = open(glob.glob(str(tmp_path / "deflate" / "*.avro"))[0], "rb").read()
    b = open(glob.glob(str(tmp_path / "again" / "*.avro"))[0], "rb").read()
    assert a == b


def test_avro_multifile_and_empty_partitions(spark, tmp_path):
    """One file per NON-EMPTY partition; empty partitions write
    nothing; the multi-file read unions every file."""
    from workshoop2_etl_spark.sources.readers import read_avro
    from workshoop2_etl_spark.sources.writers import write_avro

    df = spark.createDataFrame(
        [(i,) for i in range(10)], "k long"
    ).repartition(16, "k")  # > distinct hash buckets -> empties
    out = str(tmp_path / "multi")
    n = write_avro(df, out)
    files = glob.glob(os.path.join(out, "*.avro"))
    assert n == len(files) and 1 < n <= 10
    assert {r.k for r in read_avro(spark, out).collect()} == set(range(10))


def test_avro_refusals(spark, tmp_path):
    """Unsupported Spark types, unsupported codecs, foreign unions,
    and corrupt sync markers all fail loudly."""
    import pytest

    from workshoop2_etl_spark.sources.avro import (
        decode_pandas,
        encode_pandas,
        spark_schema_of,
    )
    from workshoop2_etl_spark.sources.writers import write_avro

    # arrays/structs/decimals/string-keyed maps are supported since
    # the round-12 lattice extension — non-string map keys and
    # interval types remain outside it
    mp = spark.createDataFrame([({1: 1},)], "m map<long,long>")
    with pytest.raises(ValueError, match="string keys"):
        write_avro(mp, str(tmp_path / "mp"))
    iv = spark.sql("SELECT INTERVAL '1' YEAR AS iv")
    with pytest.raises(ValueError, match="unsupported Spark type"):
        write_avro(iv, str(tmp_path / "iv"))
    df = spark.createDataFrame([(1,)], "k long")
    with pytest.raises(ValueError, match="codec"):
        write_avro(df, str(tmp_path / "z"), codec="snappy")
    with pytest.raises(ValueError, match="union"):
        spark_schema_of(
            {
                "type": "record",
                "name": "r",
                "fields": [{"name": "x", "type": ["int", "string"]}],
            }
        )
    import pandas as pd

    blob = encode_pandas(
        pd.DataFrame({"k": [1, 2]}),
        T.StructType([T.StructField("k", T.LongType())]),
    )
    corrupt = blob[:-1] + bytes([blob[-1] ^ 0xFF])
    with pytest.raises(ValueError, match="sync"):
        decode_pandas(corrupt)


def test_avro_decode_walk_follows_writer_schema(tmp_path):
    """r12 ADVICE (avro.py:555): the union-branch varint exists on
    the wire iff the WRITER schema made the field nullable; a caller
    declaring the same field non-nullable must still decode the
    branch marker (declared schema = naming/typing only). Before the
    fix, the declared nullability drove the walk and every value
    after the first nullable field desynchronized."""
    import pandas as pd
    import pytest

    from workshoop2_etl_spark.sources.avro import (
        decode_pandas,
        encode_pandas,
    )

    # writer emits k as ["null","long"] (branch varint on the wire)
    blob = encode_pandas(
        pd.DataFrame({"k": pd.array([1, 2, 3], dtype="Int64"),
                      "v": ["a", "b", "c"]}),
        T.StructType(
            [
                T.StructField("k", T.LongType(), True),
                T.StructField("v", T.StringType(), True),
            ]
        ),
    )
    declared = T.StructType(
        [
            T.StructField("k", T.LongType(), False),  # non-null declared
            T.StructField("v", T.StringType(), True),
        ]
    )
    pdf, out_schema = decode_pandas(blob, declared)
    assert list(pdf["k"]) == [1, 2, 3]
    assert list(pdf["v"]) == ["a", "b", "c"]
    assert out_schema == declared
    # a foreign null-LAST union would desynchronize the branch-0-is-
    # null walk — refused loudly, not misparsed
    swapped = blob.replace(b'["null", "long"]', b'["long", "null"]')
    assert swapped != blob
    with pytest.raises(ValueError, match="null branch first"):
        decode_pandas(swapped)


def test_avro_schema_enforced_across_files(spark, tmp_path):
    """A declared read schema naming a column absent from a file's
    writer schema fails in the kernel instead of silently nulling."""
    import pytest

    from workshoop2_etl_spark.sources.readers import read_avro
    from workshoop2_etl_spark.sources.writers import write_avro

    df = spark.createDataFrame([(1, "a")], "k long, v string")
    out = str(tmp_path / "s")
    write_avro(df.coalesce(1), out)
    wrong = T.StructType(
        [T.StructField("missing", T.LongType()), T.StructField("v", T.StringType())]
    )
    with pytest.raises(Exception):
        read_avro(spark, out, wrong).collect()


def test_avro_nested_decimal_roundtrip(spark, tmp_path):
    """Round-12 lattice extension: decimals (the Kafka/CDC money
    type), arrays (nullable and non-null elements), and nested
    records with their own arrays/timestamps survive the container
    round trip value-exact, with nested nullability preserved in
    the reconstructed schema."""
    import datetime as _dt
    import decimal as _dec

    from workshoop2_etl_spark.sources.readers import read_avro
    from workshoop2_etl_spark.sources.writers import write_avro

    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("price", T.DecimalType(12, 2)),
            T.StructField("tags", T.ArrayType(T.StringType(), True)),
            T.StructField(
                "meta",
                T.StructType(
                    [
                        T.StructField("a", T.IntegerType(), True),
                        T.StructField("ts", T.TimestampNTZType(), True),
                        T.StructField(
                            "inner",
                            T.ArrayType(T.DoubleType(), True),
                            True,
                        ),
                    ]
                ),
            ),
        ]
    )
    rows = [
        (
            1,
            _dec.Decimal("12.34"),
            ["x", None, "y"],
            (5, _dt.datetime(2024, 1, 2, 3, 4, 5, 123456), [1.5, None]),
        ),
        (2, _dec.Decimal("-0.05"), [], (None, None, None)),
        (3, None, None, None),
    ]
    df = spark.createDataFrame(rows, schema)
    out = str(tmp_path / "nested")
    write_avro(df.coalesce(1), out)
    back = read_avro(spark, out)
    assert [
        (f.name, f.dataType) for f in back.schema.fields
    ] == [(f.name, f.dataType) for f in schema.fields]
    got = sorted(back.collect(), key=lambda r: r.k)
    want = sorted(df.collect(), key=lambda r: r.k)
    assert got == want

    # string-keyed maps round-trip too (entries key-sorted on write
    # for byte-deterministic files; NULL values and empty/NULL maps)
    mschema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("props", T.MapType(T.StringType(), T.LongType(), True)),
        ]
    )
    mdf = spark.createDataFrame(
        [(1, {"b": 2, "a": 1, "z": None}), (2, {}), (3, None)], mschema
    )
    mout = str(tmp_path / "maps")
    write_avro(mdf.coalesce(1), mout)
    mback = {r.k: r.props for r in read_avro(spark, mout).collect()}
    assert mback[1] == {"a": 1, "b": 2, "z": None}
    assert mback[2] == {} and mback[3] is None
