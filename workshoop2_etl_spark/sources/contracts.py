"""Schema contracts and validators.

The reference's only schema check is a hand-rolled required-columns
assertion (reference dags/limpiezaSpotify.py:78-81). The engine
generalizes it: explicit ``StructType`` contracts per source plus a
reusable validator, raised eagerly at plan-build time (cheap — only
touches ``df.columns`` / ``df.schema``, never data).
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import DataFrame
from pyspark.sql import types as T


class SchemaContractError(ValueError):
    """A DataFrame does not satisfy its declared schema contract."""


def require_columns(df: DataFrame, required: Iterable[str]) -> DataFrame:
    """Raise unless every column in ``required`` is present.

    Parity with the reference's required-columns assertion
    (reference dags/limpiezaSpotify.py:78-81), which raises
    ``ValueError`` listing the missing columns.
    """
    missing = sorted(set(required) - set(df.columns))
    if missing:
        raise SchemaContractError(f"missing required columns: {missing}")
    return df


def validate_schema(
    df: DataFrame, contract: T.StructType, *, strict: bool = False
) -> DataFrame:
    """Check ``df`` against a StructType contract.

    Non-strict (default): every contract field must exist with the
    exact declared type; extra columns are allowed. Strict: the
    column sets must match exactly (order-insensitive).
    """
    actual = {f.name: f.dataType for f in df.schema.fields}
    problems: list[str] = []
    for field in contract.fields:
        if field.name not in actual:
            problems.append(f"missing column {field.name!r}")
        elif actual[field.name] != field.dataType:
            problems.append(
                f"column {field.name!r}: expected {field.dataType.simpleString()}, "
                f"got {actual[field.name].simpleString()}"
            )
    if strict:
        extra = sorted(actual.keys() - {f.name for f in contract.fields})
        if extra:
            problems.append(f"unexpected columns: {extra}")
    if problems:
        raise SchemaContractError("; ".join(problems))
    return df
