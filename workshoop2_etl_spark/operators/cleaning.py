"""Cleaning operators — the ``spotify_clean`` pipeline semantics.

Parity targets (reference SURVEY.md §2.2/§2.5):
- P4: dict-lookup recode with per-output defaults
  (reference dags/limpiezaSpotify.py:12-57 map, :84-89 apply).
- A1: group-by with *deterministic mode-or-first* aggregation
  (reference dags/limpiezaSpotify.py:59-61, :95-98).
- A2: full-row dedup (reference dags/limpiezaSpotify.py:101).
- P6: coercing numeric cast (reference eda notebook cells 9-11).

Scale notes: the recode map broadcasts (tiny, a JVM-local frame);
mode-or-first is two aggregates over one hash exchange on the key; no
Python executes anywhere.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from workshoop2_etl_spark.sources.readers import from_records


def recode_with_default(
    df: DataFrame,
    src_col: str,
    mapping: Mapping[str, Sequence[str]],
    out_cols: Sequence[str],
    defaults: Sequence[Column | None],
) -> DataFrame:
    """Recode ``src_col`` through a small lookup into ``out_cols``.

    Reference semantics (dags/limpiezaSpotify.py:84-89): a 95-entry
    genre map yields ``(genero, subgenero)``; unmapped values fall to
    per-column defaults (constant ``'Otro'`` for genero, the original
    value for subgenero). ``defaults`` entries are Columns —
    ``F.lit("Otro")`` for constants, ``F.col(src_col)`` for
    passthrough, ``None`` for null.

    Implementation: the mapping becomes a literal DataFrame that is
    **broadcast-joined** — at 100 TB the fact side never shuffles, and
    the lookup is one hash probe per row inside whole-stage codegen.
    (A ``create_map`` literal would also work but bloats the plan for
    large maps; a broadcast join keeps the plan O(1) in map size.)
    """
    if len(out_cols) != len(defaults):
        raise ValueError("out_cols/defaults arity must match")
    if not mapping:
        # Empty map: every row takes the defaults (degenerate but
        # legal — e.g. a config-driven recode with no rules yet).
        defaults_cols = {
            c: (d if d is not None else F.lit(None))
            for c, d in zip(out_cols, defaults)
        }
        return df.withColumns(defaults_cols)
    if any(len(v) != len(out_cols) for v in mapping.values()):
        raise ValueError("out_cols/defaults arity must match mapping values")
    lookup_rows = [(k, *v) for k, v in mapping.items()]
    lookup_cols = ["__recode_key", *[f"__recode_{c}" for c in out_cols]]
    lookup = from_records(
        df.sparkSession,
        lookup_rows,
        T.StructType([T.StructField(c, T.StringType()) for c in lookup_cols]),
    )

    joined = df.join(F.broadcast(lookup), df[src_col] == lookup["__recode_key"], "left")
    assignments: dict[str, Column] = {}
    for out_col, default in zip(out_cols, defaults):
        default_col = default if default is not None else F.lit(None)
        assignments[out_col] = F.coalesce(F.col(f"__recode_{out_col}"), default_col)
    return joined.withColumns(assignments).drop(*lookup_cols)


def rename_columns(df: DataFrame, mapping: Mapping[str, str]) -> DataFrame:
    """Column rename (P1, reference dags/merge_to_dw.py:52
    ``nominee→track_name``, ``artist→artists``). Unknown source names
    raise (pandas silently ignores them — an error-masking behavior
    the engine does not inherit)."""
    missing = [c for c in mapping if c not in df.columns]
    if missing:
        raise ValueError(f"rename of absent columns: {missing}")
    return df.withColumnsRenamed(dict(mapping))


def ensure_columns(
    df: DataFrame, defaults: Mapping[str, Column]
) -> DataFrame:
    """Conditional column default (P8, reference
    dags/merge_to_dw.py:60-65): each column in ``defaults`` that the
    frame *lacks* is added with its default expression (the reference
    adds missing join keys as ``""``); existing columns are untouched.

    Pure metadata + projection — no shuffle, no scan cost.
    """
    missing = {c: v for c, v in defaults.items() if c not in df.columns}
    return df.withColumns(missing) if missing else df


def coerce_numeric(df: DataFrame, cols: Sequence[str], to: str = "double") -> DataFrame:
    """``pd.to_numeric(errors="coerce")`` parity (P6): invalid strings
    become null, never an error. Spark's ANSI-safe ``try_cast``."""
    return df.withColumns({c: F.col(c).try_cast(to) for c in cols})


def dedup_rows(df: DataFrame, subset: Sequence[str] | None = None) -> DataFrame:
    """Distinct rows (A2, reference dags/limpiezaSpotify.py:101).

    One hash aggregate; at scale this shuffles on all columns — prefer
    ``subset`` (key columns) when full-row identity isn't required.
    """
    return df.dropDuplicates(subset=list(subset) if subset else None)


def mode_or_first_dedup(
    df: DataFrame,
    key: str,
    mode_col: str,
    order_cols: Sequence[str],
) -> DataFrame:
    """Collapse duplicate ``key`` rows: ``mode_col`` → deterministic
    mode, every other column → first by ``order_cols``.

    Exact parity with the reference's ``_mode_or_first``
    (dags/limpiezaSpotify.py:59-61 applied at :95-98): pandas
    ``Series.mode()`` returns the most-frequent values **sorted
    ascending**, and the reference takes ``.iloc[0]`` — i.e. the
    *smallest most-frequent non-null value*. Spark's ``F.mode`` breaks
    ties arbitrarily, so the engine orders by count descending, then
    value ascending (SURVEY.md §2.5 A1). Nulls never win the mode
    (pandas drops NaN); a key whose values are all null yields null.

    pandas ``first`` is positional, so "first" is only meaningful
    under an explicit ordering — ``order_cols`` is required (at scan
    time the caller can add a sequence column to encode file order;
    SURVEY.md §7 risk (e)).

    Physical shape: one hash exchange on ``key`` and one scan, no
    window and no join. Two aggregates share the exchange: per
    ``(key, mode_col)`` the row count and the smallest
    ``struct(order_cols…, other cols…)`` (the group's first row; a tie
    on ``order_cols`` goes to the smallest other columns), then per
    ``key`` the smallest of those firsts and the smallest
    ``struct(-count, value)`` over non-null values (most frequent,
    then smallest). Grouping puts ``-0.0`` with ``0.0`` and NaN with
    NaN, and NaN counts as a value. The null-key row keeps a null
    mode. No Python.
    """
    other_cols = [c for c in df.columns if c not in (key, mode_col)]
    first = F.struct(
        *[F.col(c).alias(f"__o{i}") for i, c in enumerate(order_cols)],
        *[F.col(c) for c in other_cols],
    )
    per_value = (
        df.repartition(key)
        .groupBy(key, mode_col)
        .agg(F.count(F.lit(1)).alias("__cnt"), F.min(first).alias("__first"))
    )
    mode = F.when(
        F.col(mode_col).isNotNull(),
        F.struct((-F.col("__cnt")).alias("n"), F.col(mode_col).alias("v")),
    )
    per_key = per_value.groupBy(key).agg(
        F.min("__first").alias("__first"), F.min(mode).alias("__mode")
    )
    picked = {
        key: F.col(key),
        mode_col: F.when(F.col(key).isNotNull(), F.col("__mode").getField("v")),
        **{c: F.col("__first").getField(c) for c in other_cols},
    }
    return per_key.select(*[picked[c].alias(c) for c in df.columns])
