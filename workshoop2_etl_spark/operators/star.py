"""Star-schema builder — set-based dimension & fact construction.

Parity target (reference SURVEY.md §2.1 S9 / §2.4 J2): the reference
builds 6 dimensions + 2 facts by looping *per row* and issuing
insert-or-lookup queries against MySQL (reference
dags/merge_to_dw.py:153-170 ``insert_dim``, :198-300 row loop) — an
N+1-query row-at-a-time algorithm. The engine preserves the resulting
*table semantics* (each distinct natural key appears once with a
stable surrogate key; facts carry resolved FK ids; rows with missing
required keys are dropped) while replacing the algorithm with the
set-based idiom (SURVEY.md §7 step 5):

    distinct natural keys → anti-join against the existing dim →
    assign new surrogate keys → union.

Surrogate keys are ``row_number`` over the natural-key ordering —
deterministic across reruns and partitionings, unlike
``monotonically_increasing_id`` (partition-dependent) or arrival
order in the reference (run-dependent).

Scale notes: dims come from a distinct (one shuffle each, usually
tiny after AQE coalescing); FK resolution joins are **broadcast** —
dimension tables are small by construction, so the 100 TB fact scan
never shuffles during resolution. The only caveat is the global
``row_number`` for key assignment: it funnels *new distinct keys*
(not rows) through one partition; fine for real dimension
cardinalities.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from workshoop2_etl_spark.operators.analytics import top_k_per_group


def build_dim(
    src: DataFrame,
    natural_keys: Sequence[str],
    surrogate_col: str,
    *,
    extra_cols: Sequence[str] = (),
) -> DataFrame:
    """Fresh dimension from a source: distinct non-null natural keys
    plus a surrogate id.

    Mirrors what the reference's per-row ``insert_dim`` loop converges
    to (dags/merge_to_dw.py:198-251), minus arrival-order key values.
    ``extra_cols`` are carried attributes, deduplicated by first value
    under natural-key ordering. Surrogate ids are dense 1..N ordered
    by natural key; the global window funnels the *distinct keys*
    through one partition, which is right for true dimensions
    (≤ millions of keys).
    """
    nk = list(natural_keys)
    cols = nk + list(extra_cols)
    distinct = src.select(*cols).where(
        F.lit(True) if not nk else F.expr(" AND ".join(f"{k} IS NOT NULL" for k in nk))
    )
    if extra_cols:
        distinct = top_k_per_group(
            distinct, nk, [F.col(c) for c in extra_cols], 1, rank_col="__rn"
        ).drop("__rn")
    else:
        distinct = distinct.distinct()
    w_key = Window.orderBy(*[F.col(k) for k in nk])
    return distinct.withColumn(surrogate_col, F.row_number().over(w_key)).select(
        surrogate_col, *cols
    )


def upsert_dim(
    existing: DataFrame,
    src: DataFrame,
    natural_keys: Sequence[str],
    surrogate_col: str,
) -> DataFrame:
    """Insert-or-lookup, set-wise (reference S9): keys already in
    ``existing`` keep their surrogate id; new keys get fresh ids.
    Equivalent to the reference's try-INSERT-except-SELECT per row
    (dags/merge_to_dw.py:153-170), executed as one anti-join. New ids
    continue densely after the current max, ordered by natural key
    (global window over *new* keys only)."""
    nk = list(natural_keys)
    new_keys = (
        src.select(*nk)
        .where(F.expr(" AND ".join(f"{k} IS NOT NULL" for k in nk)))
        .distinct()
        .join(existing.select(*nk), nk, "left_anti")
    )
    offset = existing.agg(F.coalesce(F.max(surrogate_col), F.lit(0)).alias("m"))
    w_key = Window.orderBy(*[F.col(k) for k in nk])
    assigned = (
        new_keys.withColumn("__rn", F.row_number().over(w_key))
        .crossJoin(F.broadcast(offset))
        .withColumn(surrogate_col, (F.col("__rn") + F.col("m")).cast("int"))
        .select(surrogate_col, *nk)
    )
    return existing.select(surrogate_col, *nk).unionByName(assigned)


def scd2_history(
    snapshots: DataFrame,
    natural_keys: Sequence[str],
    attr_cols: Sequence[str],
    ts_col: str,
    *,
    from_col: str = "effective_from",
    to_col: str = "effective_to",
    current_col: str = "is_current",
) -> DataFrame:
    """Collapse periodic snapshots into a type-2 slowly-changing
    dimension history: one row per (key, unbroken run of identical
    attributes), with effective-from/to bounds and a current flag.

    The reference's warehouse loader overwrites dimension attributes
    in place (type 1: dags/merge_to_dw.py upsert loop keeps only the
    latest value); this is the type-2 twin every audit/backfill
    pipeline eventually needs — "what did this customer's segment say
    on March 3rd" — expressed as the standard gaps-and-islands idiom:

        lag over (key ORDER BY ts) → null-safe change flag →
        running sum of flags = version id →
        groupBy (key, version) min(ts) = effective_from →
        lead(effective_from) = effective_to (NULL while current).

    Ties on ``ts_col`` within a key are broken by the attribute
    values themselves so reruns are deterministic regardless of
    partitioning. Scale: one shuffle on ``natural_keys``; windows and
    the aggregate share that partitioning, and per-key snapshot
    counts are small by construction (dimension churn, not fact
    volume), so no skew path is needed.
    """
    nk = list(natural_keys)
    attrs = list(attr_cols)
    if not nk or not attrs:
        raise ValueError("scd2_history requires natural_keys and attr_cols")
    order = [F.col(ts_col).asc(), *[F.col(a).asc_nulls_first() for a in attrs]]
    w = Window.partitionBy(*nk).orderBy(*order)
    changed = F.lit(False)
    for a in attrs:
        changed = changed | ~F.col(a).eqNullSafe(F.lag(a).over(w))
    # The first row of each key has lag NULL on every attribute →
    # eqNullSafe false → flagged changed, which is exactly right: it
    # opens version 1.
    # Explicit ROWS frame: Spark's default for an ordered window is
    # RANGE, which sums ties as a block — equivalent here (only a tie
    # group's first row can flag a change) but needlessly different
    # from the SQL oracle's ROWS frame.
    w_cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    versioned = snapshots.select(*nk, *attrs, ts_col).withColumn(
        "__ver", F.sum(F.when(changed, 1).otherwise(0)).over(w_cum)
    )
    runs = versioned.groupBy(*nk, "__ver", *attrs).agg(
        F.min(ts_col).alias(from_col)
    )
    # lead() is ordered by the version counter, not effective_from:
    # two runs of one key share effective_from when the attribute
    # changes twice inside one ts granule, and a ts-ordered lead would
    # then be tie-ambiguous (engine-dependent). __ver is strictly
    # monotone in snapshot order by construction.
    w_key = Window.partitionBy(*nk).orderBy(F.col("__ver").asc())
    return (
        runs.withColumn(to_col, F.lead(from_col).over(w_key))
        .withColumn(current_col, F.col(to_col).isNull())
        .drop("__ver")
        .select(*nk, *attrs, from_col, to_col, current_col)
    )


def resolve_fk(
    fact_src: DataFrame,
    dim: DataFrame,
    natural_keys: Sequence[str],
    surrogate_col: str,
    *,
    required: bool = False,
) -> DataFrame:
    """Attach ``surrogate_col`` to ``fact_src`` by joining the dim on
    its natural key. Dimensions broadcast (small by construction) so
    the fact side stays shuffle-free. ``required=True`` drops rows
    whose FK did not resolve — the reference's per-row null routing
    (P11, dags/merge_to_dw.py:254,288)."""
    nk = list(natural_keys)
    out = fact_src.join(
        F.broadcast(dim.select(surrogate_col, *nk)), nk, "left"
    )
    if required:
        out = out.filter(F.col(surrogate_col).isNotNull())
    return out


def apply_cdc(
    base: DataFrame,
    changes: DataFrame,
    key_cols: list[str],
    *,
    op_col: str = "op",
    seq_col: str = "seq",
) -> DataFrame:
    """Apply a change-data-capture feed (insert/update/delete) to a
    snapshot, set-wise — the missing third verb of :func:`upsert_dim`
    (which can only add/replace, never remove).

    ``changes`` rows carry ``op_col`` ∈ {'I','U','D'} and a
    monotonically increasing ``seq_col`` (the log offset): per key,
    ONLY the latest change wins — an upstream that emits
    I→U→D for one key within a batch must net out to the delete, not
    the insert, which is why the reducer picks max-seq per key first
    (one aggregate) instead of applying ops in arrival order.

    Plan: changes reduce via ``max_by`` struct per key (one shuffle on
    the key), then the snapshot anti-joins every changed key (touched
    rows leave) and the non-delete survivors union back in. The base
    table shuffles once; at 100 TB base >> changes, so the anti-join's
    change side is broadcast — the reduced change-key set ships to
    executors and the base table never shuffles for eviction.

    ``op_col`` ∈ {I,U,D} is enforced at execution time, per row,
    executor-side (``assert_true`` — no extra scan, no driver hop): an
    unknown or NULL verb fails the job with the offending value in the
    message. Without the check a NULL op would silently delete
    (``__op != 'D'`` is NULL-false) and a typo'd verb would silently
    upsert.
    """
    data_cols = [c for c in base.columns]
    missing = [c for c in data_cols if c not in changes.columns]
    if missing:
        raise ValueError(f"changes lack base columns: {missing}")
    ok = F.coalesce(F.col(op_col).isin("I", "U", "D"), F.lit(False))
    checked = F.when(
        F.assert_true(
            ok,
            F.concat(
                F.lit("apply_cdc: op must be one of I/U/D, got "),
                F.coalesce(F.col(op_col), F.lit("NULL")),
            ),
        ).isNull(),
        F.col(op_col),
    )
    changes = changes.withColumn(op_col, checked)
    latest = (
        changes.groupBy(*key_cols)
        .agg(
            F.max_by(
                F.struct(F.col(op_col).alias("__op"), *[
                    F.col(c).alias(c) for c in data_cols
                ]),
                F.col(seq_col),
            ).alias("__c")
        )
        .select(*key_cols, "__c.__op", *[
            F.col(f"__c.{c}").alias(f"__new_{c}")
            for c in data_cols
            if c not in key_cols
        ])
    )
    changed_keys = F.broadcast(latest.select(*key_cols))
    untouched = base.join(changed_keys, key_cols, "left_anti")
    survivors = latest.filter(F.col("__op") != F.lit("D")).select(
        *key_cols,
        *[
            F.col(f"__new_{c}").alias(c)
            for c in data_cols
            if c not in key_cols
        ],
    )
    return untouched.unionByName(survivors.select(*data_cols))
