"""The per-row Arrow kernel shell (operators/rows.py) against plain
Python over the same collected rows, partition by partition: kept
columns exact (a long above 2**53, nulls, binary), null inputs,
zero-row fan-out, empty partitions, a struct output field, input order
within each partition, and the output schema."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from workshoop2_etl_spark.operators.rows import flat_map_rows, map_rows

BIG = 2**53 + 7  # not representable as a double

SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType()),
        T.StructField("x", T.DoubleType()),
        T.StructField("s", T.StringType()),
        T.StructField("b", T.BinaryType()),
        T.StructField("text", T.StringType()),
    ]
)

MEDIA = T.StructType(
    [
        T.StructField("payload", T.BinaryType()),
        T.StructField("n_bytes", T.LongType()),
    ]
)


@pytest.fixture(scope="module")
def df(spark):
    rows = [
        (
            BIG + i,
            None if i % 7 == 0 else i / 4.0,
            None if i % 6 == 0 else f"s{i}",
            bytes([i, 255 - i]),
            None if i % 5 == 0 else "ab cd " * (i % 3),
        )
        for i in range(40)
    ]
    # six slices; the filter empties the first two before the kernel
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 6), SCHEMA
    ).filter(F.col("k") >= BIG + 14)


def _parts(frame):
    return [[tuple(r) for r in part] for part in frame.rdd.glom().collect()]


def test_map_rows_matches_python(df):
    def fn(text, x):
        if text is None:
            return None, None, None
        media = {"payload": text.encode(), "n_bytes": BIG + len(text)}
        return len(text), None if math.isnan(x) else 2 * x, media

    out_fields = [
        T.StructField("n", T.IntegerType()),
        T.StructField("x2", T.DoubleType()),
        T.StructField("media", MEDIA),
    ]
    out = map_rows(df, ["text", "x"], fn, out_fields)
    assert out.schema == T.StructType(
        [df.schema[c] for c in ("k", "s", "b")] + out_fields
    )
    inp = _parts(df)
    assert [] in inp and len(inp) == 6
    want = [
        [
            (k, s, b)
            + (
                (None, None, None)
                if t is None
                else (
                    len(t),
                    None if x is None else 2 * x,
                    (t.encode(), BIG + len(t)),
                )
            )
            for k, x, s, b, t in part
        ]
        for part in inp
    ]
    assert _parts(out) == want


def test_flat_map_rows_matches_python(df):
    def fn(text):
        return [(j, tok) for j, tok in enumerate((text or "").split())]

    out_fields = [
        T.StructField("pos", T.IntegerType()),
        T.StructField("tok", T.StringType()),
    ]
    out = flat_map_rows(df, ["text"], fn, out_fields)
    assert out.schema == T.StructType(
        [df.schema[c] for c in ("k", "x", "s", "b")] + out_fields
    )
    inp = _parts(df)
    want = [
        [
            (k, x, s, b, j, tok)
            for k, x, s, b, t in part
            for j, tok in enumerate((t or "").split())
        ]
        for part in inp
    ]
    # some rows fan out to zero: None text and the empty string
    assert sum(map(len, want)) < 2 * sum(map(len, inp))
    assert _parts(out) == want


def test_explicit_keep_and_empty_output(df):
    out = flat_map_rows(
        df, ["text"], lambda t: [], [T.StructField("v", T.LongType())],
        keep=["k"],
    )
    assert out.columns == ["k", "v"] and out.count() == 0
    kept_in = map_rows(
        df, ["k"], lambda k: (k + 1,), [T.StructField("k1", T.LongType())],
        keep=["k"],
    )
    assert sorted(tuple(r) for r in kept_in.collect()) == sorted(
        (r.k, r.k + 1) for r in df.collect()
    )


def test_kept_long_above_2_53_next_to_null_is_exact(spark):
    # one partition, so the big long and the null share an Arrow batch
    df = spark.createDataFrame(
        [(2**53 + 1, "a"), (None, "b")], "k long, s string"
    ).coalesce(1)
    want = [(2**53 + 1, "a", "A"), (None, "b", "B")]
    up = [T.StructField("u", T.StringType())]
    got = map_rows(df, ["s"], lambda s: (s.upper(),), up, keep=["k", "s"])
    assert [tuple(r) for r in got.collect()] == want
    twice = flat_map_rows(df, ["s"], lambda s: [(s.upper(),)] * 2, up)
    assert [tuple(r) for r in twice.collect()] == [
        (k, u) for k, _, u in want for _ in range(2)
    ]
    # fn still sees a null integer input as NaN, a big one exactly
    seen = map_rows(
        df, ["k"], lambda k: (repr(k),), [T.StructField("r", T.StringType())]
    )
    assert [r.r for r in seen.collect()] == [repr(2**53 + 1), "nan"]


def _compression_ratio(df):
    from workshoop2_etl_spark.operators.textstats import compression_ratio

    return compression_ratio(df, "text")


def _bpe_apply(df):
    from workshoop2_etl_spark.operators.bpe import bpe_apply

    return bpe_apply(df, "text", [("l", "o"), ("lo", "w")])


def _unigram_apply(df):
    from workshoop2_etl_spark.operators.unigram import unigram_apply

    return unigram_apply(df, "text", {"l": -1.0, "o": -1.0, "lo": -0.5})


ID_PASSTHROUGH = pytest.mark.parametrize(
    "op",
    [_compression_ratio, _bpe_apply, _unigram_apply],
    ids=["compression_ratio", "bpe_apply", "unigram_apply"],
)


@ID_PASSTHROUGH
def test_token_kernels_keep_a_string_id(spark, op):
    df = spark.createDataFrame(
        [("doc-a", "low low"), ("doc-b", None)], "doc_id string, text string"
    ).coalesce(1)
    out = op(df)
    assert out.schema["doc_id"].dataType == T.StringType()
    assert sorted(r.doc_id for r in out.collect()) == ["doc-a", "doc-b"]


@ID_PASSTHROUGH
def test_token_kernels_keep_long_ids_exact_next_to_null(spark, op):
    # one partition, so the big id and the null id share an Arrow batch
    df = spark.createDataFrame(
        [(2**53 + 1, "low"), (None, "lo")], "doc_id long, text string"
    ).coalesce(1)
    assert [r.doc_id for r in op(df).collect()] == [2**53 + 1, None]
