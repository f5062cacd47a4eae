"""Declared-schema XML source/sink on Spark's built-in ``xml`` data
source.

Documents are row-per-element, ``<root><row><col>v</col>…</row>…</root>``,
one per non-empty write partition. The reader takes a caller-DECLARED
schema: XML carries no trustworthy type metadata, so declaring the
schema is the honest contract and nothing is inferred.

Fixed options, shared by both directions:

- timestamps use the JSON-lines sink's microsecond formats (the XML
  default truncates to milliseconds);
- ``ignoreSurroundingSpaces=false`` keeps ``"  padded "`` as written;
- ``attributePrefix="@"`` and ``valueTag="@value"`` take the source's
  own names out of the XML-name space, so columns named ``_VALUE`` or
  ``_x`` stay child elements;
- reads are ``FAILFAST``: a value that does not parse as its declared
  type (``<k>x7</k>`` for a long) fails the job, never silently nulls.

NULL is an absent element and the empty string an empty element; an
empty array writes no element, so it reads back as NULL.
Column and row-tag names are checked driver-side, before any job
starts; Spark would otherwise fail mid-write.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from workshoop2_etl_spark.sources.writers import (
    JSONL_TS_FORMAT,
    JSONL_TS_NTZ_FORMAT,
)

__all__ = ["write_xml", "read_xml"]

_NAME_RE = re.compile(r"^[A-Za-z_][A-Za-z0-9_.-]*$")

_OPTIONS = {
    "timestampFormat": JSONL_TS_FORMAT,
    "timestampNTZFormat": JSONL_TS_NTZ_FORMAT,
    "ignoreSurroundingSpaces": "false",
    "attributePrefix": "@",
    "valueTag": "@value",
}


def _check_names(schema: T.StructType, row_tag: str) -> None:
    for name in (row_tag, *schema.fieldNames()):
        if not _NAME_RE.match(name):
            raise ValueError(
                f"invalid XML element name {name!r} — rename the "
                "column (XML names: letter/underscore start, then "
                "word chars, dots, dashes)"
            )


def write_xml(
    df: DataFrame,
    out_dir: str,
    *,
    row_tag: str = "row",
    root_tag: str = "rows",
) -> None:
    """XML sink: one document per non-empty partition, overwriting
    ``out_dir``."""
    _check_names(df.schema, row_tag)
    (
        df.write.mode("overwrite")
        .options(**_OPTIONS, rowTag=row_tag, rootTag=root_tag)
        .xml(out_dir)
    )


def read_xml(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    *,
    row_tag: str = "row",
) -> DataFrame:
    """Declared-schema XML scan: each ``row_tag`` element is a row,
    a missing child element reads as NULL and text outside row
    elements is ignored."""
    _check_names(schema, row_tag)
    return (
        spark.read.schema(schema)
        .options(**_OPTIONS, rowTag=row_tag, mode="FAILFAST")
        .xml(path)
    )
