"""Analytics / EDA / dashboard operators.

Parity targets (reference SURVEY.md §2.5/§2.6): the EDA notebook's
profiling ops and the 10 Metabase dashboard queries —
value_counts (A3), scalar min/max (A5),
count-distinct KPIs (A6/A11), null profile (A7), summary stats (A8),
histogram (A10), grouped rankings (A12/A13), year×category series
(A14), sorts/top-k (T1-T4).

All are single hash-aggregate plans (partial + final phases, so
map-side combine happens automatically); top-k compiles to
``TakeOrderedAndProject`` — no full sort at scale.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from workshoop2_etl_spark.sources.readers import from_records


def value_counts(df: DataFrame, col: str, *, count_col: str = "n") -> DataFrame:
    """Frequency table, most frequent first, value asc on ties —
    deterministic total order (A3, reference dags/merge_to_dw.py:82,
    eda notebook cells 6-7)."""
    return (
        df.groupBy(col)
        .agg(F.count(F.lit(1)).alias(count_col))
        .orderBy(F.desc(count_col), F.asc(col))
    )


def null_profile(df: DataFrame, cols: Sequence[str] | None = None) -> DataFrame:
    """Per-column null counts in one pass (A7, reference eda cell 2
    ``df.isna().sum()``). One row out; columns keep their names."""
    cols = list(cols) if cols else df.columns
    return df.agg(
        *[F.sum(F.col(c).isNull().cast("long")).alias(c) for c in cols]
    )


def summary_stats(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """count / mean / std / min / max per numeric column (A8 —
    reference eda cell 2 ``describe()``). Exact aggregates only
    (quantiles live in :func:`histogram` territory; Spark's
    ``summary()`` uses approximate percentiles which can't be
    oracle-checked). Output: one row per column, stat columns."""
    aggs = []
    for c in cols:
        aggs.extend(
            [
                F.count(F.col(c)).alias(f"__count_{c}"),
                F.avg(F.col(c)).alias(f"__mean_{c}"),
                F.stddev_samp(F.col(c)).alias(f"__std_{c}"),
                F.min(F.col(c)).cast("double").alias(f"__min_{c}"),
                F.max(F.col(c)).cast("double").alias(f"__max_{c}"),
            ]
        )
    one_row = df.agg(*aggs)
    # Unpivot via stack(): ONE scan and one 1-row exchange regardless
    # of column count (the previous per-column agg + union shape was
    # N full scans — a non-starter at 100 TB).
    stack_args = ", ".join(
        f"'{c}', `__count_{c}`, `__mean_{c}`, `__std_{c}`, `__min_{c}`, `__max_{c}`"
        for c in cols
    )
    return one_row.selectExpr(
        f"stack({len(cols)}, {stack_args})"
        " as (column, count, mean, std, min, max)"
    )


def corr_matrix(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Pairwise Pearson correlation matrix in long form (the EDA
    notebook's ``df.corr()`` heatmap): one aggregate computes all
    C(n,2) co-moments in a single scan — never one pass per pair.
    Output: (col_a, col_b, corr), upper triangle incl. diagonal."""
    pairs = [
        (a, b) for i, a in enumerate(cols) for b in list(cols)[i:]
    ]
    one = df.agg(
        *[
            F.corr(a, b).alias(f"__c_{i}")
            for i, (a, b) in enumerate(pairs)
        ]
    )
    stack_args = ", ".join(
        f"'{a}', '{b}', `__c_{i}`" for i, (a, b) in enumerate(pairs)
    )
    return one.selectExpr(
        f"stack({len(pairs)}, {stack_args}) as (col_a, col_b, corr)"
    )


def grouped_quantiles(
    df: DataFrame,
    keys: Sequence[str],
    col: str,
    probs: Sequence[float],
) -> DataFrame:
    """Per-group exact quantiles (boxplot stats per category): one
    hash aggregate, probabilities exploded to long form. Output:
    keys + (p, q)."""
    plist = ", ".join(repr(float(p)) for p in probs)
    agg = df.groupBy(*keys).agg(
        F.expr(f"percentile({col}, array({plist}))").alias("__qs")
    )
    return agg.select(
        *keys, F.posexplode("__qs").alias("__i", "q")
    ).select(
        *keys,
        F.expr(f"array({plist})")[F.col("__i")].cast("double").alias("p"),
        "q",
    )


def quantiles(
    df: DataFrame, col: str, probs: Sequence[float]
) -> DataFrame:
    """Exact linear-interpolation quantiles (completes A8's describe
    beyond min/max): one row per probability, columns (p, q). Exact
    ``percentile`` so the result is oracle-comparable
    (``quantile_cont`` semantics); at 100 TB swap in
    ``approx_percentile`` — same shape, t-digest state, no sort."""
    plist = ", ".join(repr(float(p)) for p in probs)
    one = df.agg(
        F.expr(f"percentile({col}, array({plist}))").alias("__qs")
    )
    return one.select(
        F.posexplode("__qs").alias("__i", "q")
    ).select(
        F.expr(f"array({plist})")[F.col("__i")].cast("double").alias("p"), "q"
    )


def approx_quantiles(
    df: DataFrame, col: str, probs: Sequence[float], *, accuracy: int = 10000
) -> DataFrame:
    """The 100 TB path for :func:`quantiles`: ``approx_percentile``
    (KLL/GK-style sketch — bounded state per partition, merged on the
    driver-side final aggregate; no global sort, no full-column
    materialization). Rank error ≤ 1/``accuracy``. Same output shape
    (p, q) so callers can swap exact ↔ approximate per data volume."""
    plist = ", ".join(repr(float(p)) for p in probs)
    one = df.agg(
        F.expr(
            f"approx_percentile({col}, array({plist}), {accuracy})"
        ).alias("__qs")
    )
    return one.select(F.posexplode("__qs").alias("__i", "q")).select(
        F.expr(f"array({plist})")[F.col("__i")].cast("double").alias("p"),
        F.col("q").cast("double").alias("q"),
    )


def quantiles_ranked(
    df: DataFrame, col: str, probs: Sequence[float]
) -> DataFrame:
    """EXACT linear-interpolation quantiles at any scale (round 13).

    Spark's exact ``percentile`` aggregate funnels EVERY value into
    one aggregation buffer — measured 0.53 s → 9.0 s on a 10× data
    step (superlinear: a single task sorts the whole column), and at
    100 TB it simply does not complete. This form keeps
    ``quantile_cont`` semantics but distributes the order statistic:

    1. global ranks via :func:`..ids.assign_global_ids` (the
       range-partition prefix sum, never a single-partition sort);
    2. the ≤ 2·len(probs) boundary ranks ``floor/ceil(p·(n−1))``
       computed IN-PLAN from a 1-row count (no driver collect) and
       broadcast onto the ranked rows — one hash-join scan;
    3. ``q = v_lo + (v_hi − v_lo)·frac`` per probability.

    Same output shape (p, q) as :func:`quantiles` /
    :func:`approx_quantiles`; ties rank arbitrarily, which is
    irrelevant for order statistics (equal values interchange)."""
    spark = df.sparkSession
    from workshoop2_etl_spark.operators.ids import assign_global_ids

    vals = df.select(F.col(col).cast("double").alias("__v")).where(
        F.col("__v").isNotNull()
    )
    ranked = assign_global_ids(vals, "__v", id_name="__gid")
    n = vals.agg(F.count(F.lit(1)).alias("__n"))
    probs_df = from_records(
        spark, [(float(p),) for p in probs], "p double"
    )
    needs = (
        probs_df.crossJoin(F.broadcast(n))
        .select(
            "p",
            (
                F.col("p") * (F.col("__n") - F.lit(1)).cast("double")
            ).alias("__pos"),
        )
        .select(
            "p",
            "__pos",
            F.explode(
                F.array_distinct(
                    F.array(
                        F.floor("__pos").cast("long"),
                        F.ceil("__pos").cast("long"),
                    )
                )
            ).alias("__gid"),
        )
    )
    joined = ranked.join(F.broadcast(needs), "__gid")
    return (
        joined.groupBy("p", "__pos")
        .agg(
            F.min(
                F.when(
                    F.col("__gid") == F.floor("__pos").cast("long"),
                    F.col("__v"),
                )
            ).alias("__vlo"),
            F.min(
                F.when(
                    F.col("__gid") == F.ceil("__pos").cast("long"),
                    F.col("__v"),
                )
            ).alias("__vhi"),
        )
        .select(
            "p",
            (
                F.col("__vlo")
                + (F.col("__vhi") - F.col("__vlo"))
                * (F.col("__pos") - F.floor("__pos"))
            ).alias("q"),
        )
        .orderBy("p")
    )


def approx_count_distinct(
    df: DataFrame, col: str, *, rsd: float = 0.05, alias: str = "n_approx"
) -> DataFrame:
    """HyperLogLog count-distinct — the 100 TB variant of A6/A11:
    fixed-size sketch state, no shuffle of distinct values. rsd is
    the target relative standard error."""
    return df.agg(F.approx_count_distinct(col, rsd=rsd).alias(alias))


def histogram(
    df: DataFrame,
    col: str,
    *,
    bins: int = 30,
    lo: float | None = None,
    hi: float | None = None,
) -> DataFrame:
    """Equal-width binning + counts (A10, reference eda cell 5
    ``histplot(bins=30)``). With explicit ``lo``/``hi`` the plan is a
    single aggregate; without, min/max are computed first (two
    passes, matching matplotlib/seaborn semantics: the max lands in
    the last bin)."""
    if lo is None or hi is None:
        lo_v, hi_v = df.agg(F.min(col), F.max(col)).first()
        if lo is None:
            lo = float(lo_v) if lo_v is not None else 0.0
        if hi is None:
            hi = float(hi_v) if hi_v is not None else lo
    # Degenerate range (constant column): one bin holding everything,
    # mirroring matplotlib's expand-around-the-point behavior.
    width = (hi - lo) / bins if hi > lo else 1.0
    bin_expr = F.least(
        F.floor((F.col(col) - F.lit(lo)) / F.lit(width)).cast("int"),
        F.lit(bins - 1),
    )
    return (
        df.filter(F.col(col).isNotNull())
        .groupBy(bin_expr.alias("bin"))
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("bin_lo", F.round(F.lit(lo) + F.col("bin") * F.lit(width), 6))
        .select("bin", "bin_lo", "n")
        .orderBy("bin")
    )


def top_k(
    df: DataFrame,
    order: Sequence[Column | str],
    k: int,
) -> DataFrame:
    """Sort + limit (T1/T3) — Spark plans TakeOrderedAndProject: each
    partition keeps a k-heap, the driver merges; no global sort."""
    cols = [F.col(c) if isinstance(c, str) else c for c in order]
    return df.orderBy(*cols).limit(k)


def top_k_per_group(
    df: DataFrame,
    keys: Sequence[str],
    order: Sequence[Column],
    k: int,
    *,
    rank_col: str = "rank",
) -> DataFrame:
    """Top-k within each group via a ``row_number`` window — the
    package's one per-group top-k (the distributed form of the
    reference's eager ``nlargest``, EDA notebook cell 11).

    Spark plans the filter as ``WindowGroupLimit``: a partial limit
    per group below the exchange, so only the local top-k of each
    group shuffles, and a final one above it (``k`` up to
    ``spark.sql.optimizer.windowGroupLimitThreshold``, default 1000).
    ``rank_col`` is the 1-based int rank; make ``order`` a total order
    (append a unique id) for deterministic ties."""
    from pyspark.sql import Window

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) <= k)
    )


def crosstab_counts(df: DataFrame, row_key: str, col_key: str) -> DataFrame:
    """Two-dimensional count series (A14, the dashboard's
    "Nominations By Genre Over The Years") in long form — the
    scale-safe shape; pivot to wide only at presentation time."""
    return (
        df.groupBy(row_key, col_key)
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(row_key, col_key)
    )


def grouped_ols(
    df: DataFrame,
    group_cols: Sequence[str],
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Per-group simple linear regression (y = a + b·x) in closed
    form — the "thousands of small models in one pass" pattern:
    slope, intercept, and r² derive entirely from the five
    commutative sums (n, Σx, Σy, Σxy, Σx², Σy²), so ONE map-side
    partial-aggregated groupBy fits every group simultaneously; no
    iteration, no driver loop, no per-group collect.

    Degenerate groups (n < 2 or zero x-variance) return NULL slope/
    intercept/r² rather than ±inf (guarded denominators).

    Output: group cols, ``n``, ``slope``, ``intercept``, ``r2``.
    """
    gcols = list(group_cols)
    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    agg = df.groupBy(*gcols).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * y).alias("sxy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
    )
    n = F.col("n").cast("double")
    vx = n * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = n * F.col("syy") - F.col("sy") * F.col("sy")
    cov = n * F.col("sxy") - F.col("sx") * F.col("sy")
    slope = F.when((F.col("n") >= 2) & (vx > 0), cov / vx)
    intercept = (F.col("sy") - slope * F.col("sx")) / n
    r2 = F.when((F.col("n") >= 2) & (vx > 0) & (vy > 0), cov * cov / (vx * vy))
    return agg.select(
        *gcols,
        "n",
        slope.alias("slope"),
        intercept.alias("intercept"),
        r2.alias("r2"),
    )


def moment_stats(
    df: DataFrame,
    group_cols,
    value_col: str,
) -> DataFrame:
    """Per-group mean / variance / skewness / kurtosis in ONE
    aggregation pass from raw power sums (n, Σx, Σx², Σx³, Σx⁴) —
    the population ("biased") moment formulas spelled out explicitly:

        m2 = Σx²/n − μ²            (variance)
        m3 = Σx³/n − 3μΣx²/n + 2μ³
        m4 = Σx⁴/n − 4μΣx³/n + 6μ²Σx²/n − 3μ⁴
        skew = m3 / m2^1.5,  kurt = m4 / m2² − 3  (excess)

    Why explicit power sums instead of the built-ins: engines
    disagree on the DEFAULT estimator (Spark's ``skewness`` is the
    population g₁; DuckDB's is the sample G₁ with the
    √(n(n−1))/(n−2) correction), so cross-engine parity on built-ins
    silently compares different statistics. The spelled-out formula
    is the same number everywhere — and the five sums are map-side
    combinable, which the pairwise-update built-in implementations
    also are, so nothing is lost at scale. Degenerate groups
    (n < 2 or zero variance) yield NULL skew/kurt rather than ±inf.

    Returns group cols + ``n`` long, ``mean``, ``variance``,
    ``skewness``, ``kurtosis`` (all 6 dp).
    """
    gcols = [group_cols] if isinstance(group_cols, str) else list(group_cols)
    x = F.col(value_col).cast("double")
    agg = df.groupBy(*gcols).agg(
        F.count(x).alias("__n"),
        F.sum(x).alias("__s1"),
        F.sum(x * x).alias("__s2"),
        F.sum(x * x * x).alias("__s3"),
        F.sum(x * x * x * x).alias("__s4"),
    )
    n = F.col("__n")
    mu = F.col("__s1") / n
    m2 = F.col("__s2") / n - mu * mu
    m3 = (
        F.col("__s3") / n
        - 3.0 * mu * (F.col("__s2") / n)
        + 2.0 * mu * mu * mu
    )
    m4 = (
        F.col("__s4") / n
        - 4.0 * mu * (F.col("__s3") / n)
        + 6.0 * mu * mu * (F.col("__s2") / n)
        - 3.0 * mu * mu * mu * mu
    )
    ok = (n >= 2) & (m2 > 0)
    return agg.select(
        *gcols,
        n.cast("long").alias("n"),
        F.round(mu, 6).alias("mean"),
        F.round(m2, 6).alias("variance"),
        F.round(
            F.when(ok, m3 / F.pow(m2, F.lit(1.5))), 6
        ).alias("skewness"),
        F.round(
            F.when(ok, m4 / (m2 * m2) - 3.0), 6
        ).alias("kurtosis"),
    )
