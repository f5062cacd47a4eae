"""Incremental aggregate maintenance (partial-aggregate algebra).

The reference recomputes its warehouse aggregates from scratch on
every DAG run (dags/merge_to_dw.py re-reads and re-joins the full
extract each schedule; the Metabase queries aggregate the full fact
table). At 100 TB a nightly full recompute is the bottleneck — the
standard fix is to persist a MERGEABLE aggregation state (the
"partial aggregate" Spark itself uses map-side) and fold only the
delta in:

    state(base ∪ delta) == merge(state(base), state(delta))

which holds exactly for the commutative-monoid metrics kept here —
``count``, ``sum``, ``min``, ``max`` — with ``avg = sum/count``
derived at finalize time (avg itself is NOT mergeable; its pieces
are). That identity is what the registered query proves against a
full-recompute oracle: maintain the state from a base load plus an
increment, finalize, and match DuckDB aggregating everything.

Plan shape at scale: the base state is one row per group (dashboard
cardinality — thousands, not billions); each refresh scans ONLY the
delta partition, partial-aggregates it map-side, and shuffles group
rows, never fact rows. The big table is read once per increment,
not once per refresh of every downstream aggregate.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def aggregate_state(
    df: DataFrame, keys: list[str], value_cols: list[str]
) -> DataFrame:
    """Collapse rows to the mergeable per-group state: ``n`` plus
    ``sum_/min_/max_<col>`` for each value column. One hash
    aggregate; map-side partials keep the shuffle at group
    cardinality."""
    aggs = [F.count(F.lit(1)).alias("n")]
    for c in value_cols:
        aggs += [
            F.sum(c).alias(f"sum_{c}"),
            F.min(c).alias(f"min_{c}"),
            F.max(c).alias(f"max_{c}"),
        ]
    return df.groupBy(*keys).agg(*aggs)


def join_agg_state(
    fact: DataFrame,
    dim: DataFrame,
    on: str | list[str],
    keys: list[str],
    value_cols: list[str],
    *,
    how: str = "inner",
) -> DataFrame:
    """Mergeable state of a fact ⋈ dim aggregate — the incremental
    pattern users actually need at 100 TB: a dashboard grouped by DIM
    attributes (segment, region, category) over FACT measures. Each
    refresh enriches ONLY the delta's fact rows with the dim
    (broadcast — the dim is small by definition of being a grouping
    dimension) and partial-aggregates; the state merge then
    costs O(groups).

    The identity state(base⋈dim) ⊕ state(delta⋈dim) == state((base ∪
    delta)⋈dim) holds because the join distributes over the union —
    PROVIDED the dim is the same snapshot on both sides. A dim that
    changed between loads breaks it for the affected keys; re-derive
    those groups from the fact partition (or keep the dim SCD2 and
    join as-of the load time). ``keys`` may mix fact and dim columns.
    """
    enriched = fact.join(F.broadcast(dim), on, how)
    return aggregate_state(enriched, keys, value_cols)


def dim_changed_keys(
    old_dim: DataFrame, new_dim: DataFrame, on: str | list[str]
) -> DataFrame:
    """Dim keys whose row changed between two dim snapshots —
    UPDATEd attributes (row digest differs), DELETEd keys (present
    only in old) and INSERTed keys (present only in new). One
    full-outer join of 8-byte digests keyed by the dim key; at scale
    both sides are dim-sized (small by definition) and the output is
    the usually-tiny changed-key set, broadcast downstream.

    The digest coalesces each attribute through a NUL sentinel so a
    NULL attribute differs from the string 'null' and from an absent
    column, and attribute order is fixed by sorted column name on
    BOTH snapshots (schemas must match)."""
    on_list = [on] if isinstance(on, str) else list(on)
    if sorted(old_dim.columns) != sorted(new_dim.columns):
        raise ValueError(
            f"dim schemas differ: {sorted(old_dim.columns)} vs "
            f"{sorted(new_dim.columns)}"
        )
    attrs = sorted(set(old_dim.columns) - set(on_list))
    if not attrs:
        # keys-only dim: no attributes to digest (xxhash64 needs ≥1
        # arg) — the only possible changes are INSERT/DELETE, so
        # classify by key presence alone
        o = old_dim.select(*on_list).withColumn("__old", F.lit(1))
        n = new_dim.select(*on_list).withColumn("__new", F.lit(1))
        return (
            o.join(n, on_list, "full_outer")
            .where(F.col("__old").isNull() | F.col("__new").isNull())
            .select(*on_list)
        )

    def dig(df: DataFrame) -> DataFrame:
        parts = [
            F.coalesce(F.col(c).cast("string"), F.lit("\x00<null>"))
            for c in attrs
        ]
        return df.select(
            *on_list, F.xxhash64(*parts).alias("__dig")
        )

    o = dig(old_dim).withColumnRenamed("__dig", "__dig_old")
    n = dig(new_dim).withColumnRenamed("__dig", "__dig_new")
    return (
        o.join(n, on_list, "full_outer")
        .where(
            F.col("__dig_old").isNull()
            | F.col("__dig_new").isNull()
            | (F.col("__dig_old") != F.col("__dig_new"))
        )
        .select(*on_list)
    )


def refresh_join_agg_dim_change(
    base_state: DataFrame,
    fact: DataFrame,
    old_dim: DataFrame,
    new_dim: DataFrame,
    on: str | list[str],
    keys: list[str],
    value_cols: list[str],
) -> DataFrame:
    """Refresh a persisted :func:`join_agg_state` after the DIM
    changed between loads — the production path the round-7 operator
    documented and stopped at. ``base_state`` must be the state of
    ``fact ⋈ old_dim``; the result equals
    ``join_agg_state(fact, new_dim, ...)`` exactly (the registered
    query proves it against a full-recompute DuckDB oracle) without
    rebuilding the untouched groups.

    Because min/max are monoidal but NOT invertible, a changed dim
    row cannot be subtracted out of its old group — instead the
    AFFECTED GROUPS are recomputed whole and everything else is kept:

    1. ``dim_changed_keys(old, new)`` — the changed-key set, tiny.
    2. Affected groups = group tuples that changed-key fact rows map
       to under EITHER snapshot (old: contributions to retract; new:
       contributions to add). Only fact rows with changed keys are
       scanned here (semi-join on the broadcast changed set).
    3. Untouched = ``base_state`` ANTI-JOIN affected groups; correct
       because unchanged-key fact rows enrich identically under both
       snapshots, so a group containing no changed-key row under
       either snapshot has an identical state.
    4. Re-derive affected groups from the fact under ``new_dim``
       (inner join — deleted keys drop their fact rows, exactly as a
       full recompute would) and UNION with the untouched state.

    Scale: steps 1–2 touch dim-sized and changed-fk-sized data; step
    4 is the one fact pass, and when every group key is a dim
    attribute (the dashboard shape) it first prunes the fact to the
    keys of affected-group dim rows by broadcast semi-join, so the
    shuffle — and with fact bucketing/partitioning on the fk, the
    scan — is proportional to the affected groups' membership, not
    the fact. Join semantics are inner-only, matching
    :func:`join_agg_state`'s default."""
    on_list = [on] if isinstance(on, str) else list(on)
    changed = dim_changed_keys(old_dim, new_dim, on_list)

    fact_changed = fact.join(F.broadcast(changed), on_list, "semi")
    groups_old = (
        fact_changed.join(F.broadcast(old_dim), on_list)
        .select(*keys)
        .distinct()
    )
    groups_new = (
        fact_changed.join(F.broadcast(new_dim), on_list)
        .select(*keys)
        .distinct()
    )
    affected = groups_old.unionByName(groups_new).distinct()

    untouched = base_state.join(F.broadcast(affected), keys, "anti")

    dim_side = set(new_dim.columns)
    if set(keys) <= dim_side:
        # Dashboard shape: group keys live entirely on the dim, so
        # the affected groups' full membership is exactly the fact
        # rows referencing an affected-group dim key — prune before
        # the join instead of filtering after it.
        affected_fks = (
            new_dim.join(F.broadcast(affected), keys, "semi")
            .select(*on_list)
        )
        member_rows = fact.join(F.broadcast(affected_fks), on_list, "semi")
        rederived = aggregate_state(
            member_rows.join(F.broadcast(new_dim), on_list), keys, value_cols
        )
    else:
        enriched = fact.join(F.broadcast(new_dim), on_list)
        rederived = aggregate_state(
            enriched.join(F.broadcast(affected), keys, "semi"),
            keys,
            value_cols,
        )
    return untouched.unionByName(rederived)


def merge_states(
    keys: list[str], value_cols: list[str], *states: DataFrame
) -> DataFrame:
    """Fold any number of states into one: counts and sums add, mins
    min, maxes max — the monoid operation that makes refresh cost
    O(delta), not O(base). Inputs must share the state schema from
    :func:`aggregate_state`."""
    if not states:
        raise ValueError("merge_states needs at least one state")
    cols = states[0].columns
    for s in states[1:]:
        if s.columns != cols:
            raise ValueError(
                f"state schemas differ: {cols} vs {s.columns}"
            )
    unioned = reduce(DataFrame.unionByName, states)
    aggs = [F.sum("n").alias("n")]
    for c in value_cols:
        aggs += [
            F.sum(f"sum_{c}").alias(f"sum_{c}"),
            F.min(f"min_{c}").alias(f"min_{c}"),
            F.max(f"max_{c}").alias(f"max_{c}"),
        ]
    return unioned.groupBy(*keys).agg(*aggs)


def finalize_state(
    state: DataFrame, keys: list[str], value_cols: list[str]
) -> DataFrame:
    """Derive the non-mergeable metrics (avg) from the state and
    present the report shape: keys, n, then per value column
    ``total/lo/hi/avg`` (rounded per the repo's oracle convention —
    2 places for sums, 4 for averages)."""
    out = [F.col(k) for k in keys] + [F.col("n")]
    for c in value_cols:
        out += [
            F.round(F.col(f"sum_{c}"), 2).alias(f"total_{c}"),
            F.col(f"min_{c}").alias(f"lo_{c}"),
            F.col(f"max_{c}").alias(f"hi_{c}"),
            F.round(F.col(f"sum_{c}") / F.col("n"), 4).alias(f"avg_{c}"),
        ]
    return state.select(*out)
