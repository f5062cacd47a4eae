"""The merge operator — full outer equi-join with provenance indicator.

Parity target (reference SURVEY.md §2.4 J1): the flagship
``pd.merge(spotify, grammy, on=["track_name","artists"], how="outer",
indicator=True)`` (reference dags/merge_to_dw.py:47-84, join at
:71-77). Semantics to preserve exactly:

- keys are pre-normalized with ``fillna("") → str → strip → lower``
  so *null keys match each other* (as empty string) — Spark nulls
  never equi-join, hence the normalization is part of the operator;
- many-to-many: duplicate keys on both sides cross-product within the
  key group (both pandas and Spark do this natively);
- a ``_merge`` indicator column: ``both`` / ``left_only`` /
  ``right_only``, rebuilt from non-null probe columns.

Scale notes: a full outer join cannot broadcast — both sides
hash-partition on the join key. That is the right plan at 100 TB;
AQE splits skewed key groups, and for keys this operator *creates* by
design (null keys normalize to ``""``, manufacturing one hot key) the
``hot_keys`` argument routes those groups through a dedicated
salted-inner ∪ anti-join branch so the cold join stays skew-free.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from workshoop2_etl_spark.functions.text import normalize_join_keys


def full_outer_with_indicator(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    *,
    indicator_col: str = "_merge",
    normalize_keys: bool = True,
    hot_keys: Sequence[Sequence] | None = None,
    hot_salt: int = 16,
) -> DataFrame:
    """Full outer join with a pandas-style ``indicator`` column.

    Output columns: join keys once, then left non-key columns, right
    non-key columns, then ``indicator_col`` — pandas' column order.

    ``hot_keys`` is the skew mitigation: a list of key tuples (one
    value per ``on`` column) whose groups are pulled out of the main
    join and computed in a separate branch as

        salted inner join ∪ left-anti ∪ right-anti

    which is exactly a full outer join, decomposed. The inner part
    salts the left side into ``hot_salt`` splits and replicates the
    right side per split, spreading a hot group's m×n matched rows
    across ``hot_salt`` tasks instead of one straggler. Result rows
    are identical with or without ``hot_keys`` (the CORRECTNESS gate
    runs the flagship query through this branch to prove it).
    """
    on = list(on)
    if normalize_keys:
        left = normalize_join_keys(left, on)
        right = normalize_join_keys(right, on)

    left_cols = [c for c in left.columns if c not in on]
    right_cols = [c for c in right.columns if c not in on]
    out_cols = [*on, *left_cols, *right_cols]

    def plain_outer(l: DataFrame, r: DataFrame) -> DataFrame:
        l_probe, r_probe = "__l_probe", "__r_probe"
        joined = l.withColumn(l_probe, F.lit(1)).join(
            r.withColumn(r_probe, F.lit(1)), on, "full_outer"
        )
        indicator = (
            F.when(F.col(r_probe).isNull(), F.lit("left_only"))
            .when(F.col(l_probe).isNull(), F.lit("right_only"))
            .otherwise(F.lit("both"))
        )
        return joined.select(*out_cols, indicator.alias(indicator_col))

    if not hot_keys:
        return plain_outer(left, right)

    hot_pred = _hot_predicate(on, hot_keys)
    l_hot, l_cold = left.filter(hot_pred), left.filter(~hot_pred)
    r_hot, r_cold = right.filter(hot_pred), right.filter(~hot_pred)

    cold = plain_outer(l_cold, r_cold)

    # Hot branch: full outer ≡ inner ∪ left-anti ∪ right-anti.
    # The salt spreads each hot group's cross product over hot_salt
    # tasks; monotonically_increasing_id only steers row placement
    # (never appears in the output), so results stay deterministic.
    l_salted = l_hot.withColumn(
        "__salt", F.pmod(F.monotonically_increasing_id(), F.lit(hot_salt)).cast("int")
    )
    r_replicated = r_hot.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(hot_salt - 1)))
    )
    matched = (
        l_salted.join(r_replicated, [*on, "__salt"], "inner")
        .select(*out_cols, F.lit("both").alias(indicator_col))
    )
    l_only = (
        l_hot.join(r_hot.select(*on), on, "left_anti")
        .withColumns({c: F.lit(None) for c in right_cols})
        .select(*out_cols, F.lit("left_only").alias(indicator_col))
    )
    r_only = (
        r_hot.join(l_hot.select(*on), on, "left_anti")
        .withColumns({c: F.lit(None) for c in left_cols})
        .select(*out_cols, F.lit("right_only").alias(indicator_col))
    )
    return cold.unionByName(matched).unionByName(l_only).unionByName(r_only)


def _hot_predicate(on: Sequence[str], hot_keys: Sequence[Sequence]) -> Column:
    preds = []
    for key_tuple in hot_keys:
        conj = None
        for col, val in zip(on, key_tuple):
            term = F.col(col).eqNullSafe(F.lit(val))
            conj = term if conj is None else (conj & term)
        preds.append(conj)
    out = preds[0]
    for p in preds[1:]:
        out = out | p
    return out


def merge_provenance_counts(merged: DataFrame, indicator_col: str = "_merge") -> DataFrame:
    """``value_counts`` over the indicator (reference
    dags/merge_to_dw.py:82 logs exactly this after the merge)."""
    return (
        merged.groupBy(indicator_col)
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc(indicator_col))
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    *,
    value_cols: Sequence[str],
    matched_prefix: str = "",
) -> DataFrame:
    """Backward as-of join: each left row gets the right row with the
    greatest ``ts_col`` ≤ its own, within equal ``key_cols`` (the
    time-series "most recent quote for this trade" operator; DuckDB's
    ``ASOF JOIN``, pandas ``merge_asof``). Exact-timestamp matches
    count.

    Spark has no as-of join; the scalable composition is
    union-and-carry: tag right rows 0 and left rows 1, union, and
    per-key ``last(value, ignorenulls=True)`` over a window ordered
    by (ts, tag) with an unbounded-preceding row frame — right values
    carry forward to every later left row, right-before-left on ties.
    ONE shuffle on the key (the same partitioning both inputs would
    need anyway), no range-explosion, no per-row Python; a
    broadcast-range-join formulation explodes on wide time ranges and
    a UDF formulation leaves codegen.

    ``right`` must be unique per (key, ts) — pre-aggregate ties
    upstream or the carried value is nondeterministic (this operator
    asserts nothing about it, matching DuckDB, which picks an
    arbitrary row among equal timestamps).

    Left rows with no prior right row keep NULL values (left join
    semantics). Output: all left columns + ``value_cols`` (optionally
    ``matched_prefix``-ed); a value column whose (prefixed) name
    already exists on ``left`` raises rather than emitting an
    ambiguous duplicate.
    """
    keys = list(key_cols)
    collisions = sorted(
        {f"{matched_prefix}{c}" for c in value_cols} & set(left.columns)
    )
    if collisions:
        raise ValueError(
            f"asof_join output columns {collisions} collide with left "
            "columns; pass matched_prefix to disambiguate"
        )
    payload = F.struct(*[F.col(c) for c in value_cols])
    r = right.select(
        *keys,
        F.col(ts_col).alias("__ts"),
        F.lit(0).alias("__side"),
        payload.alias("__payload"),
    )
    left_cols = [c for c in left.columns]
    l = left.select(
        *left_cols,
        F.col(ts_col).alias("__ts"),
        F.lit(1).alias("__side"),
        F.lit(None).cast(r.schema["__payload"].dataType).alias("__payload"),
    )
    # unionByName with missing columns filled null keeps left's extra
    # columns without projecting them onto right rows by hand.
    unioned = r.unionByName(l, allowMissingColumns=True)
    w = (
        Window.partitionBy(*keys)
        .orderBy("__ts", "__side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = unioned.withColumn(
        "__match", F.last("__payload", ignorenulls=True).over(w)
    )
    out = carried.filter(F.col("__side") == 1).select(
        *left_cols,
        *[
            F.col(f"__match.{c}").alias(f"{matched_prefix}{c}")
            for c in value_cols
        ],
    )
    return out


def range_join(
    left: DataFrame,
    right: DataFrame,
    key_cols: Sequence[str],
    point_col: str,
    lo_col: str,
    hi_col: str,
    *,
    bin_size: int,
) -> DataFrame:
    """Range (interval) join: left rows whose numeric ``point_col``
    falls inside a right row's ``[lo_col, hi_col]``, within equal
    ``key_cols`` — the "events inside this order's window" shape.

    Spark plans a naive inequality join as a broadcast-nested-loop
    (quadratic, executor-OOM at scale); the scale path is **bin
    bucketing**: right intervals explode to every ``bin_size``-wide
    bin they cover, left points compute their single bin, and the
    join becomes an equi-join on (keys, bin) with the exact
    ``BETWEEN`` re-applied as a post-filter. Each matching pair
    surfaces exactly once (the left row's bin is unique), so no
    dedup pass. Pick ``bin_size`` ≈ the typical interval width: the
    explode factor is ~(width/bin_size + 1) while bucket sizes stay
    ~point-density × bin_size.

    ``point_col``/``lo_col``/``hi_col`` must be numeric (cast
    timestamps with ``unix_micros`` — integer comparisons are also
    what keeps cross-engine oracle comparisons exact under nanosecond
    truncation). Non-key output column names must not collide.
    """
    keys = list(key_cols)
    r = right.withColumn(
        "__bin",
        F.explode(
            F.sequence(
                F.floor(F.col(lo_col) / bin_size),
                F.floor(F.col(hi_col) / bin_size),
            )
        ),
    )
    l = left.withColumn("__bin", F.floor(F.col(point_col) / bin_size))
    return (
        l.join(r, [*keys, "__bin"])
        .filter(
            (F.col(point_col) >= F.col(lo_col))
            & (F.col(point_col) <= F.col(hi_col))
        )
        .drop("__bin")
    )


def fuzzy_join(
    left: DataFrame,
    right: DataFrame,
    left_col: str,
    right_col: str,
    *,
    max_distance: int = 1,
) -> DataFrame:
    """Approximate string join: pairs whose edit distance is within
    ``max_distance`` — entity resolution for misspelled dimension
    keys (the reference's recode map assumes exact matches; real
    feeds have 'BRAZIL'/'BRASIL').

    Levenshtein is evaluated JVM-side (`F.levenshtein` since 1.5,
    with the threshold short-circuit arg since 3.5 — it abandons a
    pair as soon as the running distance exceeds the bound).

    The pair space is |L|×|R|: the right side is a broadcast
    dimension (an explicit ``broadcast()`` hint asserts the intent). For corpus-scale BOTH-sides-big fuzzy
    joins, block first (length bucket or first-char or an n-gram
    sketch, cf. the SimHash/MinHash operators) — an unblocked
    big-big fuzzy join is a deliberate non-feature here, not an
    oversight.
    """
    r = F.broadcast(right)
    dist = F.levenshtein(
        F.col(left_col), F.col(right_col), max_distance
    )
    # levenshtein(.., threshold) returns -1 when distance > threshold
    return left.join(
        r, (dist >= 0) & (dist <= max_distance), "inner"
    )


def _deletion_variants(col: Column, max_distance: int) -> Column:
    """All strings reachable from ``col`` by deleting ≤ ``max_distance``
    characters (the string itself included) — pure higher-order SQL
    functions, JVM-side, no UDF. |variants| = O(len^d)."""
    # build iteratively: level 0 = {s}; level k+1 = deletions of level k
    levels = [F.array(col)]
    for _ in range(max_distance):
        prev = levels[-1]
        levels.append(
            F.array_distinct(
                F.flatten(
                    F.transform(
                        prev,
                        lambda s: F.transform(
                            F.sequence(F.lit(1), F.greatest(F.length(s), F.lit(1))),
                            lambda i: F.concat(
                                F.substring(s, F.lit(1), i - 1),
                                F.substring(
                                    s, i + 1, F.length(s)
                                ),
                            ),
                        ),
                    )
                )
            )
        )
    out = levels[0]
    for lv in levels[1:]:
        out = F.array_union(out, lv)
    return out


def fuzzy_join_blocked(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    left_col: str,
    right_id: str,
    right_col: str,
    *,
    max_distance: int = 1,
    max_bucket_size: int | None = None,
    extra_on: Sequence[tuple[str, str]] = (),
) -> DataFrame:
    """BOTH-sides-big fuzzy join: pairs within ``max_distance`` edit
    distance, found via deletion-neighborhood blocking (FastSS /
    SymSpell) instead of the |L|×|R| loop :func:`fuzzy_join` runs.

    ``extra_on`` adds (left_col, right_col) EQUALITY keys to the
    variant equi-join — conjunctive blocking, the standard
    record-linkage lever when the name space is dense (a registry
    where every name has dozens of edit-distance neighbors): the
    candidate set shrinks by the blocking key's selectivity BEFORE
    any verify work, at the documented recall cost that a true pair
    disagreeing on a blocking key (or NULL-keyed — equality never
    matches NULL) is never considered.

    Pigeonhole completeness: two strings within edit distance d always
    share at least one member of their ≤d-deletion neighborhoods, so
    the equi-join on variants loses NO true pair; the exact
    ``levenshtein(…, max_distance)`` verify then kills the false
    candidates. Scale shape: Σ len^d variant rows per side shuffle on
    the variant key (same discipline as the MinHash bucket join —
    candidates are id pairs, payloads never fan out), pairs dedup on
    (left_id, right_id), and matched ids join the original rows back.
    ``max_distance`` ∈ {1, 2} — the neighborhood is len^d; beyond 2
    use the n-gram/MinHash operators.

    ``max_bucket_size`` optionally drops variant buckets larger than
    the bound (a hot variant shared by B×B strings is inherently
    quadratic; dropping it is the documented approximation for corpus
    scale — None keeps the join exact).

    ``left_id`` / ``right_id`` must be unique keys of their sides;
    non-id output columns must not collide.
    """
    if max_distance not in (1, 2):
        raise ValueError("fuzzy_join_blocked supports max_distance 1 or 2")
    clashes = sorted(set(left.columns) & set(right.columns))
    if clashes:
        raise ValueError(
            f"fuzzy_join_blocked: columns {clashes} appear on both "
            "sides; rename one side first"
        )
    lblk = [pair[0] for pair in extra_on]
    rblk = [pair[1] for pair in extra_on]
    blk = [f"__blk{i}" for i in range(len(extra_on))]
    lv = left.select(
        F.col(left_id).alias("__lid"),
        F.col(left_col).alias("__ls"),
        *[F.col(c).alias(k) for c, k in zip(lblk, blk)],
    ).select(
        "__lid",
        "__ls",
        *blk,
        F.explode(
            _deletion_variants(F.col("__ls"), max_distance)
        ).alias("__v"),
    )
    rv = right.select(
        F.col(right_id).alias("__rid"),
        F.col(right_col).alias("__rs"),
        *[F.col(c).alias(k) for c, k in zip(rblk, blk)],
    ).select(
        "__rid",
        "__rs",
        *blk,
        F.explode(
            _deletion_variants(F.col("__rs"), max_distance)
        ).alias("__v"),
    )
    if max_bucket_size is not None:
        sizes = (
            lv.groupBy("__v").agg(F.count(F.lit(1)).alias("__nl"))
            .join(
                rv.groupBy("__v").agg(F.count(F.lit(1)).alias("__nr")),
                "__v",
            )
            .filter(F.col("__nl") * F.col("__nr") <= max_bucket_size)
            .select("__v")
        )
        lv = lv.join(sizes, "__v")
        rv = rv.join(sizes, "__v")
    dist = F.levenshtein(F.col("__ls"), F.col("__rs"), max_distance)
    # Verify BEFORE deduplicating: the bounded levenshtein is a cheap
    # map-side evaluation on rows the variant join already holds,
    # while distinct is a shuffle — filtering first shrinks that
    # shuffle to the true pairs and narrows its rows to bare id pairs
    # (the same pair reached via several shared variants costs a few
    # extra early-exit edit-distance calls, not extra shuffle bytes).
    # Measured at sf0.1 on the ER registry: 2.5M wide rows → ~0.3M
    # 16-byte rows through the exchange.
    pairs = (
        lv.join(rv, ["__v", *blk])
        .filter((dist >= 0) & (dist <= max_distance))
        .select("__lid", "__rid")
        .distinct()
    )
    return (
        left.join(pairs, F.col(left_id) == F.col("__lid"))
        .join(right, F.col(right_id) == F.col("__rid"))
        .drop("__lid", "__rid")
    )


def overlap_join(
    left: DataFrame,
    right: DataFrame,
    key_cols: Sequence[str],
    left_lo: str,
    left_hi: str,
    right_lo: str,
    right_hi: str,
    *,
    bin_size: int,
) -> DataFrame:
    """Interval-OVERLAP join (interval×interval; the sibling of
    :func:`range_join`'s point-in-interval): pairs whose [lo, hi]
    ranges intersect — ``l.lo ≤ r.hi AND r.lo ≤ l.hi`` — under equal
    keys. Temporal overlap, reservation conflicts, genomic intervals.

    Both sides explode to the ``bin_size`` bins they span, join
    per (key, bin) — an equi-join, never a nested loop — and the
    exact predicate filters within the bin. A pair spanning several
    shared bins would match once PER shared bin, so the classic
    first-common-bin guard keeps exactly one: the match is kept only
    in bin ``max(floor(l.lo / bin), floor(r.lo / bin))`` — the first
    bin the two intervals share — making the join duplicate-free
    WITHOUT a distinct (no second shuffle).

    Non-key column names must be DISJOINT across the two sides
    (raised, not silently mis-resolved: the bound predicates
    reference both sides' lo/hi after the join, and a self-join with
    un-renamed columns would otherwise either throw an ambiguity
    error or — worse — resolve both references to one side and emit
    wrong pairs). Rename one side first for self-joins; the exact
    predicate is evaluated on side-tagged internal copies so it can
    never cross-resolve.

    Σ bins = Σ interval_length / bin_size per side: pick ``bin_size``
    near the typical interval length so each interval explodes to
    O(1) bins.
    """
    keys = list(key_cols)
    clashes = sorted(
        (set(left.columns) - set(keys)) & (set(right.columns) - set(keys))
    )
    if clashes:
        raise ValueError(
            f"overlap_join: non-key columns {clashes} appear on both "
            "sides; rename one side (self-joins must alias lo/hi)"
        )
    l = left.select(
        "*",
        F.col(left_lo).alias("__l_lo"),
        F.col(left_hi).alias("__l_hi"),
    ).withColumn(
        "__bin",
        F.explode(
            F.sequence(
                F.floor(F.col("__l_lo") / bin_size),
                F.floor(F.col("__l_hi") / bin_size),
            )
        ),
    )
    r = right.select(
        "*",
        F.col(right_lo).alias("__r_lo"),
        F.col(right_hi).alias("__r_hi"),
    ).withColumn(
        "__bin",
        F.explode(
            F.sequence(
                F.floor(F.col("__r_lo") / bin_size),
                F.floor(F.col("__r_hi") / bin_size),
            )
        ),
    )
    first_shared = F.greatest(
        F.floor(F.col("__l_lo") / bin_size),
        F.floor(F.col("__r_lo") / bin_size),
    )
    return (
        l.join(r, [*keys, "__bin"])
        .filter(
            (F.col("__l_lo") <= F.col("__r_hi"))
            & (F.col("__r_lo") <= F.col("__l_hi"))
            & (F.col("__bin") == first_shared)
        )
        .drop("__bin", "__l_lo", "__l_hi", "__r_lo", "__r_hi")
    )
