"""Market-basket analytics: co-occurrence pairs and association
rules (support / confidence / lift) over (basket, item) facts — the
classic retail companion to the star-schema dashboards (Agrawal &
Srikant, VLDB 1994 define the measures; pairs-only here, which is
what production recommenders actually ship).

Scale shape: each basket is one bucket of
:func:`~workshoop2_etl_spark.operators.pairs.bucket_pairs` — ONE
basket-keyed shuffle, pairs expanded in-row, no self-join. Pair
volume is bounded by Σ_b |basket_b|² — baskets are order-sized
(single digits), NOT corpus-sized. Item marginals are a separate
aggregate broadcast back onto the (far smaller) surviving pair
aggregate. No collect, no cross-join, no
per-item loop. A pathologically large basket would square — the
``max_basket`` guard drops those baskets loudly rather than letting
one degenerate basket explode quadratically (same policy as
``dedup.near_dedup``'s ``max_bucket_size``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from workshoop2_etl_spark.operators.pairs import both_orientations, bucket_pairs


def copurchase_pairs(
    df: DataFrame,
    *,
    basket_col: str,
    item_col: str,
    min_count: int = 2,
    max_basket: int = 1000,
) -> DataFrame:
    """Distinct co-occurring item pairs with their basket counts.

    Each basket is one bucket of
    :func:`~workshoop2_etl_spark.operators.pairs.bucket_pairs`, so an
    item repeated in a basket counts once; pairs are oriented
    ``item_a < item_b`` so each unordered pair appears once. Baskets
    larger than ``max_basket`` items are excluded (squared fan-out
    guard).

    Returns (``item_a``, ``item_b``, ``n_baskets`` long).
    """
    out = (
        bucket_pairs(df, [basket_col], item_col, max_bucket_size=max_basket)
        .groupBy(F.col("a").alias("item_a"), F.col("b").alias("item_b"))
        .agg(F.count(F.lit(1)).alias("n_baskets"))
    )
    if min_count > 1:
        out = out.filter(F.col("n_baskets") >= min_count)
    return out


def association_rules(
    df: DataFrame,
    *,
    basket_col: str,
    item_col: str,
    min_count: int = 2,
    max_basket: int = 1000,
) -> DataFrame:
    """Pairwise association rules a→b with the canonical measures:

        support(a→b)    = n(a,b) / N
        confidence(a→b) = n(a,b) / n(a)
        lift(a→b)       = confidence / (n(b) / N)

    Both directions of every surviving pair are emitted (confidence
    is asymmetric). N is the number of qualifying baskets (after the
    ``max_basket`` guard); item marginals count baskets containing
    the item. Measures are rounded to 6 dp so cross-engine float
    noise cannot reorder rankings.

    Returns (``antecedent``, ``consequent``, ``n_pair`` long,
    ``support``, ``confidence``, ``lift``).

    Plan: pair aggregate (bounded, see module docstring) ⋈ broadcast
    item marginals ⋈ one-row broadcast basket count.
    """
    b = df.select(
        F.col(basket_col).alias("__b"), F.col(item_col).alias("__i")
    ).distinct()
    if max_basket is not None:
        sizes = b.groupBy("__b").agg(F.count(F.lit(1)).alias("__sz"))
        b = b.join(
            sizes.filter(F.col("__sz") <= max_basket).select("__b"), "__b"
        )
    # b feeds three branches (pairs, marginals, total). Deliberately
    # NOT persisted here: the operator returns a lazy plan and could
    # never release the blocks; callers running it repeatedly can
    # persist the (basket,item) projection themselves. The recompute
    # is a distinct over two narrow columns.
    pairs = copurchase_pairs(
        b,
        basket_col="__b",
        item_col="__i",
        min_count=min_count,
        max_basket=None,  # already guarded upstream
    )
    marg = b.groupBy(F.col("__i").alias("__item")).agg(
        F.count(F.lit(1)).alias("__n_item")
    )
    total = b.agg(F.countDistinct("__b").alias("__n"))
    both = both_orientations(
        pairs.withColumnRenamed("n_baskets", "n_pair"),
        "item_a", "item_b", "antecedent", "consequent", "n_pair",
    )
    out = (
        both.join(
            F.broadcast(marg.withColumnRenamed("__n_item", "__n_ante")),
            F.col("antecedent") == F.col("__item"),
        )
        .drop("__item")
        .join(
            F.broadcast(marg.withColumnRenamed("__n_item", "__n_cons")),
            F.col("consequent") == F.col("__item"),
        )
        .drop("__item")
        .crossJoin(F.broadcast(total))
        .select(
            "antecedent",
            "consequent",
            "n_pair",
            F.round(F.col("n_pair") / F.col("__n"), 6).alias("support"),
            F.round(F.col("n_pair") / F.col("__n_ante"), 6).alias(
                "confidence"
            ),
            F.round(
                (F.col("n_pair") / F.col("__n_ante"))
                / (F.col("__n_cons") / F.col("__n")),
                6,
            ).alias("lift"),
        )
    )
    return out
