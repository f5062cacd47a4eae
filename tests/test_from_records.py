"""`sources/readers.py:from_records` against the list path it replaces
(`spark.createDataFrame(list, schema)`): same schema and rows for tuple
and dict records, the empty list, nulls and each field type the engine
builds local frames with; the same refusal of a value that does not
fit its field; a JVM-local plan; and no other `createDataFrame(` call
in the package."""

from __future__ import annotations

import pathlib
import re

import pytest
from pyspark.sql import types as T

import workshoop2_etl_spark
from workshoop2_etl_spark.sources.readers import from_records

DDL = "l long, i int, d double, s string, b boolean, v array<double>"

TUPLES = [
    (2**53 + 1, 7, 0.5, "a", True, [1.0, None, -0.0]),
    (None, None, None, None, None, None),
    (-1, -(2**31), float("nan"), "", False, []),
]

NOT_NULL = T.StructType(
    [
        T.StructField("k", T.LongType(), nullable=False),
        T.StructField("name", T.StringType()),
    ]
)


def _same(spark, records, schema):
    got = from_records(spark, records, schema)
    want = spark.createDataFrame(list(records), schema)
    assert got.schema == want.schema
    # repr keeps NaN comparable and tells 0.0 from -0.0
    assert repr(got.collect()) == repr(want.collect())
    return got


def test_tuple_records_match_list_path(spark):
    got = _same(spark, TUPLES, DDL)
    assert got.collect()[0]["l"] == 2**53 + 1


def test_dict_records_match_list_path(spark):
    names = [f.name for f in T.StructType.fromDDL(DDL).fields]
    dicts = [dict(zip(names, t)) for t in TUPLES]
    dicts.append({"l": 3})  # missing keys are null
    _same(spark, dicts, DDL)


def test_empty_and_struct_type_schema(spark):
    got = _same(spark, [], DDL)
    assert got.count() == 0
    _same(spark, [(1, "x"), (2, None)], NOT_NULL)
    _same(spark, [], NOT_NULL)


@pytest.mark.parametrize(
    "schema,record",
    [
        (DDL, ("1", 7, 0.5, "a", True, [])),  # string in a long
        (DDL, (1, 7, 1, "a", True, [])),  # int in a double
        (DDL, (1, 7, 0.5, "a", True, ["x"])),  # string in array<double>
        (DDL, (1, 2**31, 0.5, "a", True, [])),  # int out of range
        (NOT_NULL, (None, "x")),  # null in a non-nullable field
        (DDL, (1, 2)),  # too few values
    ],
)
def test_misfit_value_raises_like_list_path(spark, schema, record):
    with pytest.raises(Exception) as want:
        spark.createDataFrame([record], schema)
    with pytest.raises(type(want.value)):
        from_records(spark, [record], schema)


def test_string_field_takes_only_str(spark):
    # The list path hands a non-str to the JVM, which stores its Java
    # toString ('true', not Python's 'True'); from_records refuses it.
    record = (1, 7, 0.5, 3, True, [])
    assert spark.createDataFrame([record], DDL).first()["s"] == "3"
    with pytest.raises(Exception):
        from_records(spark, [record], DDL)


def test_plan_is_jvm_local(spark):
    df = from_records(spark, TUPLES, DDL)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation" in plan and "LogicalRDD" not in plan


def test_create_dataframe_only_in_from_records():
    root = pathlib.Path(workshoop2_etl_spark.__file__).parent
    hits = [
        f"{path.relative_to(root)}:{n}"
        for path in sorted(root.rglob("*.py"))
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if "createDataFrame(" in line
    ]
    assert len(hits) == 1 and hits[0].startswith("sources/readers.py:")
    src = (root / "sources" / "readers.py").read_text()
    body = re.search(r"\ndef from_records\(.*?(?=\ndef )", src, re.S).group(0)
    assert "createDataFrame(" in body
