"""Declared-schema XML source/sink: full-lattice round trips through
``write_xml``/``read_xml``, entity escaping, NULL-vs-empty, nested and
binary columns, read tolerance and refusals, real-XML syntax, and
multi-file output."""

from __future__ import annotations

import datetime
import decimal
import glob
import math

import pytest
from pyspark.sql import types as T

from workshoop2_etl_spark.sources.xmlio import read_xml, write_xml

FULL = T.StructType(
    [
        T.StructField("k", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("price", T.DoubleType()),
        T.StructField("ok", T.BooleanType()),
        T.StructField("amt", T.DecimalType(10, 2)),
        T.StructField("d", T.DateType()),
        T.StructField("ts", T.TimestampNTZType()),
        T.StructField("tz", T.TimestampType()),
        T.StructField("_VALUE", T.StringType()),
        T.StructField("_merge", T.StringType()),
    ]
)


def _write_doc(tmp_path, text: str) -> str:
    d = tmp_path / "doc"
    d.mkdir()
    (d / "a.xml").write_text(text, encoding="utf-8")
    return str(d)


def _same(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a):
            return math.isnan(b)
        return a == b and math.copysign(1, a) == math.copysign(1, b)
    return a == b


def test_full_lattice_roundtrip_with_escapes_and_nulls(spark, tmp_path):
    ts = datetime.datetime(2024, 1, 2, 3, 4, 5, 678901)
    rows = [
        (1, "a<b>&\"c'", 1.5, True, decimal.Decimal("10.25"),
         datetime.date(2024, 2, 29), ts, ts, "x", "both"),
        # empty string != NULL; surrounding spaces kept
        (2, "", 1 / 3, False, None,
         datetime.date(9999, 12, 31), None, None, "  padded ", ""),
        (2**63 - 1, None, -0.0, None, decimal.Decimal("0.01"),
         None, None, None, None, None),
        (None, "café €", float("nan"), None, None,
         None, None, None, None, None),
        (None,) * 10,
    ]
    out = str(tmp_path / "lattice")
    write_xml(spark.createDataFrame(rows, FULL).coalesce(1), out)
    back = read_xml(spark, out, FULL)
    assert back.schema == FULL
    got = [tuple(r) for r in back.collect()]
    assert len(got) == len(rows)
    for want, have in zip(rows, got):
        assert all(_same(a, b) for a, b in zip(want, have)), (want, have)


def test_nested_and_binary_columns_roundtrip(spark, tmp_path):
    schema = T.StructType(
        [
            T.StructField("a", T.ArrayType(T.LongType())),
            T.StructField(
                "s",
                T.StructType(
                    [
                        T.StructField("x", T.LongType()),
                        T.StructField("y", T.StringType()),
                    ]
                ),
            ),
            T.StructField("b", T.BinaryType()),
        ]
    )
    rows = [
        ([1, 2, 3], (4, "q"), bytearray(b"\x00\xffxy")),
        ([2**53 + 1], (None, ""), bytearray(b"")),
        (None, None, None),
    ]
    out = str(tmp_path / "nested")
    write_xml(spark.createDataFrame(rows, schema).coalesce(1), out)
    got = [tuple(r) for r in read_xml(spark, out, schema).collect()]
    assert got == [
        ([1, 2, 3], (4, "q"), b"\x00\xffxy"),
        ([2**53 + 1], (None, ""), b""),
        (None, None, None),
    ]


def test_numeric_character_references_unescape(spark, tmp_path):
    path = _write_doc(
        tmp_path,
        '<?xml version="1.0"?><rows>'
        "<row><name>caf&#233; &#x20AC;</name></row></rows>",
    )
    schema = T.StructType([T.StructField("name", T.StringType())])
    assert read_xml(spark, path, schema).collect()[0]["name"] == "café €"


def test_tolerance_and_refusals(spark, tmp_path):
    schema = T.StructType([T.StructField("k", T.LongType())])
    # bytes outside row elements ignored; missing column -> NULL
    ok = _write_doc(
        tmp_path,
        "<rows>junk<row><other>9</other></row><row><k>7</k></row></rows>",
    )
    assert [r["k"] for r in read_xml(spark, ok, schema).collect()] == [None, 7]
    # unparseable declared-long value fails loudly, never silently nulls
    bad = tmp_path / "bad"
    bad.mkdir()
    (bad / "a.xml").write_text("<rows><row><k>x7</k></row></rows>")
    with pytest.raises(Exception, match="MALFORMED_RECORD"):
        read_xml(spark, str(bad), schema).collect()
    # invalid element names refused driver-side, on both directions
    bad_name = T.StructType([T.StructField("1bad name", T.StringType())])
    with pytest.raises(ValueError, match="element name"):
        read_xml(spark, ok, bad_name)
    with pytest.raises(ValueError, match="element name"):
        write_xml(
            spark.createDataFrame([("v",)], bad_name), str(tmp_path / "nope")
        )


def test_reads_attributes_self_closing_cdata_and_tag_spaces(spark, tmp_path):
    path = _write_doc(
        tmp_path,
        '<rows><row id="9"><k>7</k><name/><v><![CDATA[a<b]]></v></row>'
        "<row><k >8</k><name>x</name></row></rows>",
    )
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("v", T.StringType()),
        ]
    )
    got = [tuple(r) for r in read_xml(spark, path, schema).collect()]
    assert got == [(7, "", "a<b"), (8, "x", None)]


def test_spark_multifile_roundtrip(spark, tmp_path):
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("v", T.StringType()),
            T.StructField("x", T.DoubleType()),
        ]
    )
    df = spark.createDataFrame(
        [(i, f"name&{i}<tag>", i * 0.125) for i in range(100)], schema
    )
    out = str(tmp_path / "xmlsink")
    write_xml(df.repartition(4, "k"), out)
    assert len(glob.glob(out + "/*.xml")) == 4
    back = read_xml(spark, out, schema)
    assert back.schema == schema
    got = sorted((r["k"], r["v"], r["x"]) for r in back.collect())
    want = sorted((i, f"name&{i}<tag>", i * 0.125) for i in range(100))
    assert got == want


def test_renders_deterministically(spark, tmp_path):
    df = spark.createDataFrame([(1, "a")], "k long, v string")
    p1, p2 = str(tmp_path / "a"), str(tmp_path / "b")
    write_xml(df.coalesce(1), p1)
    write_xml(df.coalesce(1), p2)
    (f1,) = glob.glob(p1 + "/*.xml")
    (f2,) = glob.glob(p2 + "/*.xml")
    assert open(f1, "rb").read() == open(f2, "rb").read()
