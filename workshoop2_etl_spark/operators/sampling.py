"""Deterministic corpus sampling and splitting.

A training-data pipeline needs reproducible, id-stable selection — the
same document must land in the same split/sample on every run, on any
cluster layout, regardless of row order. Everything here keys off
``md5`` of the id (NOT ``rand()``, NOT ``xxhash64``): md5 is
order-independent, engine-portable (DuckDB computes the identical
digest, so every operator has an exact SQL oracle), and salting gives
independent re-draws.

Operators:

- :func:`hash_bucket` — stable int bucket from any id column;
- :func:`hash_split` — train/val/test assignment by bucket threshold
  (pure projection: scan-speed, no shuffle, resolution 1/buckets);
- :func:`stratified_sample` — exact per-stratum fraction via
  hash-ranked ``row_number`` (one shuffle on the strata key);
- :func:`token_budget_sample` — greedy budget fill per group in hash
  order (running-sum window), e.g. "2 B tokens per language".

Scale notes: ``hash_split`` is a narrow projection that runs at
scan speed at any size. The stratified sampler and
the budget sampler shuffle once on the group key and sort within
groups — the per-group sort is distributed (range-partitioned window),
but a single giant stratum degenerates to one partition's sort, the
same caveat as any per-key window; salt-free md5 ordering keeps the
sort keys uniformly distributed within each group.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from workshoop2_etl_spark.operators.analytics import top_k_per_group
from workshoop2_etl_spark.sources.readers import from_records


def hash_bucket(
    id_col: Column | str, *, buckets: int = 10_000, salt: str = ""
) -> Column:
    """Uniform, deterministic bucket in ``[0, buckets)`` from the md5
    of the (salted) id rendered as a string.

    The first 8 hex digits give 32 uniform bits — enough resolution
    for split thresholds; DuckDB reproduces it exactly as
    ``CAST(concat('0x', substr(md5(...), 1, 8)) AS BIGINT) % buckets``.
    """
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    h = F.md5(F.concat(F.lit(salt), c.cast("string")))
    return (F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % buckets).alias(
        "bucket"
    )


def hash_split(
    df: DataFrame,
    id_col: str,
    *,
    weights: dict[str, float] | None = None,
    out_col: str = "split",
    buckets: int = 10_000,
    salt: str = "",
) -> DataFrame:
    """Assign each row to a named split by hash-bucket threshold.

    ``weights`` maps split name → fraction (must sum to ≈1); the
    default is the conventional 80/10/10 train/val/test. Assignment is
    a pure projection — no shuffle, no state, resolution
    ``1/buckets`` — and is stable under reruns, repartitioning, and
    corpus growth (a document's split never changes when other
    documents are added, the property that keeps eval sets
    uncontaminated across corpus versions).
    """
    if weights is None:
        weights = {"train": 0.8, "val": 0.1, "test": 0.1}
    total = sum(weights.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"weights must sum to 1, got {total}")
    bucket = hash_bucket(id_col, buckets=buckets, salt=salt)
    expr = F.lit(None).cast("string")
    acc = 0.0
    names = list(weights)
    # Build thresholds first-to-last; the final split takes the
    # remainder so rounding never drops a bucket.
    conds = []
    for name in names[:-1]:
        acc += weights[name]
        conds.append((name, int(round(acc * buckets))))
    expr = F.lit(names[-1])
    for name, threshold in reversed(conds):
        expr = F.when(bucket < threshold, F.lit(name)).otherwise(expr)
    return df.withColumn(out_col, expr)


def stratified_sample(
    df: DataFrame,
    strata_cols: list[str],
    *,
    fraction: float,
    id_col: str,
    salt: str = "",
) -> DataFrame:
    """Sample ``fraction`` of each stratum, deterministically.

    Ranks rows within each stratum by (md5(id), id) and keeps
    ``row_number <= ceil(fraction * stratum_size)`` — the sample size
    per stratum is exact, at the cost of one shuffle on
    ``strata_cols`` and a per-stratum sort. Id-stable: a kept
    document stays kept on reruns.
    """
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    if not strata_cols:
        raise ValueError(
            "stratified_sample without strata_cols sorts the entire "
            "dataset in ONE partition; pass strata_cols, or hash_split "
            "for a shuffle-free unstratified sample"
        )
    h = F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string")))
    w = Window.partitionBy(*strata_cols)
    order = w.orderBy(h.asc(), F.col(id_col).asc())
    return (
        df.withColumn("__rn", F.row_number().over(order))
        .withColumn("__n", F.count(F.lit(1)).over(w))
        .filter(F.col("__rn") <= F.ceil(F.lit(fraction) * F.col("__n")))
        .drop("__rn", "__n")
    )


def mixture_sample(
    df: DataFrame,
    group_col: str,
    weights: dict[str, float],
    *,
    id_col: str,
    total: int | None = None,
    salt: str = "",
) -> DataFrame:
    """Resample the corpus to a target *mixture* over ``group_col``
    (the domain/source-weighting step of LLM data curation: "the blend
    is 60% web, 30% code, 10% academic").

    Each group gets a quota ``floor(weight_g × total)`` rows and keeps
    the first quota rows in ``(md5(salt‖id), id)`` order — id-stable
    like every sampler here: a kept document stays kept across reruns
    and cluster layouts. Groups not named in ``weights`` are dropped.

    ``total=None`` auto-sizes to the LARGEST corpus achievable at
    exactly this mixture: ``min_g floor(n_g / w_g)`` — the binding
    group is fully consumed, everything else downsamples to match
    (the standard "mix without upsampling" policy; repetition-based
    upweighting belongs to the epoch scheduler, not the sampler).
    With an explicit ``total``, a group short of quota underfills —
    check group sizes upstream if the blend must be exact.

    Scale: one tiny groupBy-count on ``group_col`` (broadcast back),
    then one shuffle of the kept groups on ``group_col`` for the
    per-group hash-order ``row_number``. Quota ranking concentrates
    each group in one partition's sort — fine for real source counts
    (dozens), same caveat as :func:`stratified_sample`.
    """
    if not weights:
        raise ValueError("weights must name at least one group")
    wsum = sum(weights.values())
    if wsum <= 0 or any(w < 0 for w in weights.values()):
        raise ValueError(f"weights must be positive, got {weights}")
    norm = {g: w / wsum for g, w in weights.items()}
    spark = df.sparkSession
    in_mix = df.filter(F.col(group_col).isin(list(norm)))
    counts = {
        r[0]: r[1]
        for r in in_mix.groupBy(group_col)
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    if total is None:
        feasible = [
            int(counts.get(g, 0) / w) for g, w in norm.items() if w > 0
        ]
        total = min(feasible) if feasible else 0
    # floor, not round: round() ties break differently across engines
    # (Python bankers vs SQL half-away) — floor of the identical IEEE
    # product is unambiguous, so the SQL oracle reproduces quotas bit
    # for bit.
    quotas = [(g, int(w * total)) for g, w in norm.items()]
    quota_df = F.broadcast(
        from_records(spark, quotas, f"`{group_col}` string, __quota long")
    )
    h = F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string")))
    w_grp = Window.partitionBy(group_col).orderBy(h.asc(), F.col(id_col).asc())
    return (
        in_mix.join(quota_df, group_col)
        .withColumn("__rn", F.row_number().over(w_grp))
        .filter(F.col("__rn") <= F.col("__quota"))
        .drop("__rn", "__quota")
    )


def token_budget_sample(
    df: DataFrame,
    id_col: str,
    *,
    weight_col: str,
    budget: int,
    group_cols: list[str] | None = None,
    salt: str = "",
    allow_global: bool = False,
) -> DataFrame:
    """Budget-capped sample: keep, per group, the maximal hash-order
    PREFIX whose running ``weight_col`` total stays within ``budget``.

    The canonical "sample N tokens per language" primitive for corpus
    mixing (weights are usually token counts, any additive weight
    works). One shuffle on ``group_cols``; the running total is a
    cumulative-sum window in (md5(id), id) order, so the kept set is a
    deterministic function of ids and weights — independent of
    partitioning and insert order. Semantics are prefix-truncation,
    not greedy bin-fill: the first row whose cumulative weight crosses
    the budget is dropped along with everything after it in hash
    order, so underfill is bounded by that row's weight. (True
    greedy-fill — skip the oversize row, keep later rows that still
    fit — depends on which rows were kept so far and is not a window
    expression; it would need a per-group ``applyInPandas`` fold.)
    """
    if not group_cols and not allow_global:
        # Same footgun as pack_chunks: an unpartitioned window is a
        # single-partition global sort of the whole corpus.
        raise ValueError(
            "token_budget_sample without group_cols sorts the entire "
            "dataset in ONE partition; pass group_cols or "
            "allow_global=True if that is intended"
        )
    h = F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string")))
    w = (
        Window.partitionBy(*(group_cols or []))
        .orderBy(h.asc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum(F.col(weight_col)).over(w)
    return df.withColumn("__cum", cum).filter(F.col("__cum") <= budget).drop(
        "__cum"
    )


def weighted_sample(
    df: DataFrame,
    id_col: str,
    *,
    weight_col: str,
    k: int,
    group_cols: list[str] | None = None,
    salt: str = "",
    allow_global: bool = False,
) -> DataFrame:
    """Weighted sampling WITHOUT replacement, deterministically:
    Efraimidis–Spirakis exponential races (Inf. Proc. Letters 97(5),
    2006) with md5-derived uniforms instead of ``rand()``.

    Each row gets the race key ``-ln(u)/w`` — an Exp(w) variate from
    the inversion method — and the k smallest keys per group win;
    P(row wins first) = wᵢ/Σw exactly, and the remaining draws are
    the without-replacement cascade. Because ``u`` comes from
    ``md5(salt‖id)`` (32 uniform bits, +0.5 to dodge ln(0)), the
    sample is a pure function of (ids, weights, salt): id-stable
    across reruns and cluster layouts like every sampler here, fresh
    draws via the salt, and exactly reproducible in ANSI SQL for the
    oracle. The last-ulp caveat: JVM ``Math.log`` and libm ``log``
    may differ in the final bit, which could flip a rank only when
    two race keys are within ~1e-15 relative — vanishing for real
    corpora (the deterministic id tie-break handles exact equality).

    Rows with weight ≤ 0 never win (key = +∞ via a guard), matching
    the ES convention. One shuffle on ``group_cols`` for the
    per-group top-k (:func:`operators.analytics.top_k_per_group`,
    which Spark plans with a per-partition ``WindowGroupLimit`` before
    the exchange). A global draw (``group_cols=None``) funnels the
    sort into one partition — same guard as the other samplers.
    """
    if not group_cols and not allow_global:
        raise ValueError(
            "weighted_sample without group_cols ranks the entire "
            "dataset in ONE partition; pass group_cols or "
            "allow_global=True if that is intended"
        )
    h = F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string")))
    u = (F.conv(F.substring(h, 1, 8), 16, 10).cast("long") + F.lit(0.5)) / F.lit(
        4294967296.0
    )
    wcol = F.col(weight_col).cast("double")
    key = F.when(wcol > 0, -F.log(u) / wcol).otherwise(F.lit(float("inf")))
    return top_k_per_group(
        df, group_cols or [], [key.asc(), F.col(id_col).asc()], k,
        rank_col="__rn",
    ).drop("__rn")


def kfold_assign(
    df: DataFrame,
    id_col: str,
    *,
    k: int = 5,
    out_col: str = "fold",
    salt: str = "",
) -> DataFrame:
    """Deterministic k-fold assignment: ``fold = md5-bucket(id) % k``
    — a pure projection (no shuffle) with every sampler's id-stable
    guarantee: a row's fold never changes with partitioning, row
    order, or corpus growth, so cross-validation train/holdout sets
    stay disjoint across reruns and engines (exact SQL oracle).

    Folds are binomially balanced (±√n noise), the right trade at
    scale; exact equal-size folds would need a global rank. Use
    ``salt`` for a fresh independent fold assignment.
    """
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    bucket = hash_bucket(id_col, buckets=1_000_003, salt=salt)
    return df.withColumn(out_col, (bucket % k).cast("int"))


def reservoir_sample(
    df: DataFrame,
    id_col: str,
    *,
    k: int,
    salt: str = "",
    key_col: str = "sample_key",
) -> DataFrame:
    """EXACT uniform k-of-N sample without a global window (round 13
    — rounds out the chapter: ``weighted_sample(group_cols=None)``
    funnels the whole dataset through ONE window partition and is
    gated behind ``allow_global``; this is the scale-safe global
    path).

    Every row draws a deterministic integer race key — the first 32
    md5 bits of ``salt‖id``, the repo's seeded-uniform contract — and
    the k smallest keys win: a pure function of (ids, salt), so the
    sample is id-stable across reruns and cluster layouts, nested
    across sizes (the top-k sample is a prefix of the top-(k+m)
    one), and INTEGER-exact cross-engine (no doubles, no ln — the
    one sampler here with zero last-ulp caveats).

    Scale shape: ``orderBy(key).limit(k)`` plans as
    TakeOrderedAndProject — per-partition bounded heaps merged on
    the driver, the distributed equivalent of reservoir sampling
    (Vitter's Algorithm R keeps a k-heap per scanner and merges;
    fixed race keys make the merge associative and deterministic).
    No full sort, no data shuffle, driver holds k rows.

    Returns the winning rows with the race key appended as
    ``key_col`` (ordered by it — the oracle states the same ORDER
    BY ... LIMIT)."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    key = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(salt), F.col(id_col).cast("string"))),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    return (
        df.withColumn(key_col, key)
        .orderBy(F.col(key_col).asc(), F.col(id_col).asc())
        .limit(k)
    )
