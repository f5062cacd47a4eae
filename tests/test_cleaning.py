"""Unit tests for cleaning operators, on tiny literal DataFrames that
encode the reference's tricky semantics (SURVEY.md §5): mode
tie-break, all-null groups, positional-first, coercing casts."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from workshoop2_etl_spark.operators.cleaning import (
    coerce_numeric,
    dedup_rows,
    mode_or_first_dedup,
    recode_with_default,
)
from workshoop2_etl_spark.sources.contracts import SchemaContractError, require_columns


def test_mode_tie_breaks_to_smallest_value(spark):
    # pandas Series.mode() sorts ascending; .iloc[0] = smallest most-frequent
    # (reference dags/limpiezaSpotify.py:59-61).
    df = spark.createDataFrame(
        [("a", 5, 1), ("a", 3, 2), ("a", 5, 3), ("a", 3, 4)],
        "k string, pop int, seq int",
    )
    out = mode_or_first_dedup(df, "k", "pop", ["seq"]).collect()
    assert len(out) == 1
    assert out[0]["pop"] == 3  # tie between {3, 5} → smallest


def test_mode_ignores_nulls_and_all_null_group(spark):
    df = spark.createDataFrame(
        [("a", None, 1), ("a", 7, 2), ("a", None, 3), ("b", None, 1)],
        "k string, pop int, seq int",
    )
    rows = {r["k"]: r for r in mode_or_first_dedup(df, "k", "pop", ["seq"]).collect()}
    assert rows["a"]["pop"] == 7  # nulls never win the mode
    assert rows["b"]["pop"] is None  # all-null group → null


def test_first_is_by_explicit_order(spark):
    df = spark.createDataFrame(
        [("a", 1, 2, "second"), ("a", 1, 1, "first")],
        "k string, pop int, seq int, name string",
    )
    out = mode_or_first_dedup(df, "k", "pop", ["seq"]).collect()
    assert out[0]["name"] == "first"


def test_mode_float_edge_cases(spark):
    nan = float("nan")
    df = spark.createDataFrame(
        [
            # -0.0 and 0.0 are one value: 3 of them beat two 7.0s
            ("a", 0.0, 1), ("a", -0.0, 2), ("a", 7.0, 3), ("a", 7.0, 4),
            ("a", -0.0, 5),
            # NaN counts as a value and wins on count ...
            ("b", nan, 1), ("b", nan, 2), ("b", 1.0, 3),
            # ... but sorts above every number on a tie
            ("c", nan, 1), ("c", 2.0, 2),
            ("d", None, 1), ("d", None, 2),  # all-null group
            (None, 3.0, 1), (None, 3.0, 2),  # null key: mode stays null
        ],
        "k string, v double, seq int",
    )
    got = {
        r["k"]: (repr(r["v"]), r["seq"])
        for r in mode_or_first_dedup(df, "k", "v", ["seq"]).collect()
    }
    assert got == {
        "a": ("0.0", 1),
        "b": ("nan", 1),
        "c": ("2.0", 1),
        "d": ("None", 1),
        None: ("None", 1),
    }


def test_recode_with_defaults(spark):
    # P4: mapped value → (genero, subgenero); unmapped → ('Otro', original)
    # (reference dags/limpiezaSpotify.py:84-89).
    df = spark.createDataFrame([("rock",), ("polka",), (None,)], "genre string")
    out = recode_with_default(
        df,
        "genre",
        {"rock": ("Rock", "classic rock"), "pop": ("Pop", "pop")},
        ["genero", "subgenero"],
        [F.lit("Otro"), F.col("genre")],
    )
    got = {r["genre"]: (r["genero"], r["subgenero"]) for r in out.collect()}
    assert got["rock"] == ("Rock", "classic rock")
    assert got["polka"] == ("Otro", "polka")
    assert got[None] == ("Otro", None)


def test_coerce_numeric_nulls_bad_values(spark):
    df = spark.createDataFrame([("1.5",), ("x",), (None,)], "v string")
    out = [r["v"] for r in coerce_numeric(df, ["v"]).collect()]
    assert out[0] == 1.5 and out[1] is None and out[2] is None


def test_dedup_rows(spark):
    df = spark.createDataFrame([(1, "a"), (1, "a"), (2, "b")], "i int, s string")
    assert dedup_rows(df).count() == 2
    assert dedup_rows(df, subset=["s"]).count() == 2


def test_require_columns_raises(spark):
    df = spark.createDataFrame([(1,)], "a int")
    require_columns(df, ["a"])
    with pytest.raises(SchemaContractError, match="missing required columns"):
        require_columns(df, ["a", "b"])
