"""Pair kernels shared by the near-duplicate and co-occurrence
operators.

- :func:`bucket_pairs` — the "group into buckets, emit every pair in
  a bucket" step behind banded LSH, SimHash block search, the n-gram
  sketch, winnowing postings, embedding LSH and co-purchase pairs;
- :func:`both_orientations` — an undirected pair list as both
  directed edges, for graph operators and association rules.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Member x at position i pairs with every later member of the sorted
# bucket array: C(n, 2) (a, b) structs per bucket, built in-row.
_PAIRS_SQL = (
    "flatten(transform(__m, (x, i) ->"
    " transform(slice(__m, i + 2, greatest(size(__m) - i - 1, 0)),"
    " y -> struct(x AS a, y AS b))))"
)


def bucket_pairs(
    df: DataFrame,
    keys: Sequence[str],
    member: str | Column,
    *,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Every pair of distinct members that share a bucket, as columns
    ``(a, b)`` with ``a < b``.

    Shape: ONE aggregate per bucket (``keys``) collects its members
    into a deduplicated, sorted array; each array then emits its
    C(n, 2) pairs in-row with a higher-order transform. A
    self-equi-join on the bucket key would evaluate the member
    subtree once per join side (column pruning projects the two
    sides differently, so no ReusedExchange), shuffle it twice, and
    need a window sort to cap bucket sizes. Here the plan adds one
    Exchange, and the cost is Σ bucket², never n².

    ``max_bucket_size`` is a ``size()`` filter on the bucket array:
    a degenerate bucket (boilerplate text, a stop-gram, a huge
    basket) drops whole rather than going quadratic.

    Members are deduplicated before the sort, so pairs are strictly
    ordered and a member that occurs more than once in a bucket
    never pairs with itself. A struct member orders by its fields in
    turn: put the id first, and carry only values that are a function
    of the id (e.g. its fingerprint). Callers keep their own
    ``distinct()`` or pair count — a pair that shares several buckets
    is emitted once per bucket.
    """
    buckets = df.groupBy(*keys).agg(
        F.array_sort(F.array_distinct(F.collect_list(member))).alias("__m")
    )
    if max_bucket_size is not None:
        buckets = buckets.filter(F.size("__m") <= max_bucket_size)
    return (
        buckets.filter(F.size("__m") >= 2)
        .select(F.explode(F.expr(_PAIRS_SQL)).alias("__p"))
        .select("__p.a", "__p.b")
    )


def both_orientations(
    df: DataFrame, a: str, b: str, out_a: str, out_b: str, *carry: str
) -> DataFrame:
    """Each ``(a, b)`` row as the two rows ``(out_a, out_b)`` =
    ``(a, b)`` and ``(b, a)``, with the ``carry`` columns on both.

    One in-row explode, not a union of two projections: the union
    re-executes ``df``'s plan once per branch (only a base scan gets
    a ReusedExchange), and ``df`` is usually an aggregate such as
    :func:`~workshoop2_etl_spark.operators.basket.copurchase_pairs`.
    """

    def edge(x: str, y: str) -> Column:
        return F.struct(F.col(x).alias(out_a), F.col(y).alias(out_b), *carry)

    return df.select(
        F.explode(F.array(edge(a, b), edge(b, a))).alias("__e")
    ).select("__e.*")
