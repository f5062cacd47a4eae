"""The per-row Arrow kernel shell behind the crawl, media and PDF
operators: one ``mapInPandas`` batch loop that calls a plain Python
function per row.

- :func:`map_rows` — exactly one output row per input row;
- :func:`flat_map_rows` — zero or more output rows per input row.

Both take the input columns ``fn`` reads (``in_cols``), the fields it
emits (``out_fields``) and the columns carried through unchanged
(``keep``, default every column not in ``in_cols``, in ``df`` order).
The output schema is the kept fields followed by ``out_fields``.

Kept columns travel column-wise — copied for ``map_rows``, replicated
with one positional take for ``flat_map_rows`` — so their values never
pass through a per-row Python object (a row-wise copy coerces mixed
int/float rows to float and loses longs above 2**53). The one loss left
is Spark's own: an integer column holding a null in a batch reaches
pandas as float64, so such a column's values above 2**53 are not exact.
``fn`` sees each input value as a Python object: ``None`` for a null
string, binary or struct, ``NaN`` for a null numeric. New values go to
Arrow from object columns, so Python ints convert exactly. Null
handling, per-task setup and error capture belong to ``fn`` and its
closure.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

__all__ = ["flat_map_rows", "map_rows"]


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
    names = [f.name for f in out_fields]
    schema = T.StructType([df.schema[c] for c in keep] + list(out_fields))

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            args = zip(*(pdf[c].tolist() for c in in_cols))
            if flat:
                take: list[int] = []
                rows: list[tuple] = []
                for i, vals in enumerate(args):
                    for row in fn(*vals):
                        take.append(i)
                        rows.append(row)
                kept = pdf[keep].iloc[take]
            else:
                rows = [fn(*vals) for vals in args]
                kept = pdf[keep]
            new = pd.DataFrame(rows, columns=names, dtype=object)
            yield pd.concat([kept.reset_index(drop=True), new], axis=1)

    needed = keep + [c for c in in_cols if c not in keep]
    return df.select(*needed).mapInPandas(batches, schema)


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
