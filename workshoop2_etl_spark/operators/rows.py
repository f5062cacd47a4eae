"""The per-row Arrow kernel shell behind the crawl, media and PDF
operators: one ``mapInArrow`` batch loop that calls a plain Python
function per row.

- :func:`map_rows` — exactly one output row per input row;
- :func:`flat_map_rows` — zero or more output rows per input row.

Both take the input columns ``fn`` reads (``in_cols``), the fields it
emits (``out_fields``) and the columns carried through unchanged
(``keep``, default every column not in ``in_cols``, in ``df`` order).
The output schema is the kept fields followed by ``out_fields``.

Kept columns stay Arrow arrays from input to output — passed through
for ``map_rows``, replicated with one positional ``take`` for
``flat_map_rows`` — so their values are never converted at all: a
long above 2**53 next to a null comes back exact. ``fn`` sees each
input value as a Python object: ``None`` for a null string, binary,
boolean, array or struct, ``NaN`` for a null integer or floating
value, a ``dict`` for a struct and a ``list`` for an array. New values
go to Arrow under the declared field types, with a ``NaN`` in a
floating field stored as null. Null handling, per-task setup and
error capture belong to ``fn`` and its closure.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type

__all__ = ["flat_map_rows", "map_rows"]


def _values(col: pa.Array) -> list:
    """``col`` as Python objects, a null integer or floating value as
    ``NaN``."""
    vals = col.to_pylist()
    if col.null_count and (
        pa.types.is_integer(col.type) or pa.types.is_floating(col.type)
    ):
        nan = float("nan")
        vals = [nan if v is None else v for v in vals]
    return vals


def _row_kernel(
    df: DataFrame,
    in_cols: list[str],
    fn: Callable,
    out_fields: list[T.StructField],
    keep: list[str] | None,
    flat: bool,
) -> DataFrame:
    if keep is None:
        keep = [c for c in df.columns if c not in in_cols]
    names = keep + [f.name for f in out_fields]
    out_types = [to_arrow_type(f.dataType) for f in out_fields]
    schema = T.StructType([df.schema[c] for c in keep] + list(out_fields))

    def batches(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in it:
            args = zip(*(_values(batch.column(c)) for c in in_cols))
            kept = [batch.column(c) for c in keep]
            if flat:
                take: list[int] = []
                rows: list[tuple] = []
                for i, vals in enumerate(args):
                    for row in fn(*vals):
                        take.append(i)
                        rows.append(row)
                idx = pa.array(take, pa.int64())
                kept = [col.take(idx) for col in kept]
            else:
                rows = [fn(*vals) for vals in args]
            new_cols = list(zip(*rows, strict=True)) or [()] * len(out_types)
            new = [
                pa.array(vals, type=t, from_pandas=True)
                for vals, t in zip(new_cols, out_types, strict=True)
            ]
            yield pa.RecordBatch.from_arrays(kept + new, names=names)

    needed = keep + [c for c in in_cols if c not in keep]
    return df.select(*needed).mapInArrow(batches, schema)


def map_rows(
    df: DataFrame,
    in_cols: list[str],
    fn: Callable[..., tuple],
    out_fields: list[T.StructField],
    *,
    keep: list[str] | None = None,
) -> DataFrame:
    """One output row per input row: ``fn(*values of in_cols)``
    returns a tuple with one value per ``out_fields`` entry."""
    return _row_kernel(df, in_cols, fn, out_fields, keep, flat=False)


def flat_map_rows(
    df: DataFrame,
    in_cols: list[str],
    fn: Callable[..., Iterable[tuple]],
    out_fields: list[T.StructField],
    *,
    keep: list[str] | None = None,
) -> DataFrame:
    """Zero or more output rows per input row: ``fn(*values of
    in_cols)`` returns an iterable of tuples, one value per
    ``out_fields`` entry each; the row's kept columns repeat once per
    tuple, in input order."""
    return _row_kernel(df, in_cols, fn, out_fields, keep, flat=True)
