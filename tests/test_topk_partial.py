"""Per-group top-k (``analytics.top_k_per_group``, which Spark plans
with a partial ``WindowGroupLimit`` per partition before the
exchange): exactness on skewed multi-partition data, groups smaller
than k, and k validation."""

from __future__ import annotations

import pathlib

import pytest
from pyspark.sql import functions as F

import workshoop2_etl_spark
from workshoop2_etl_spark.operators.analytics import top_k_per_group

def _order():
    return [F.col("v").desc(), F.col("id").asc()]


def _df(spark, n=20_000, groups=10, parts=8):
    return (
        spark.range(n)
        .select(
            F.col("id"),
            (F.col("id") % groups).alias("g"),
            # skew: group 0 owns ~half the rows' largest values
            ((F.col("id") * 2654435761) % 1_000_003).alias("v"),
        )
        .repartition(parts)
    )


def test_exact_vs_plain_window(spark):
    """The per-partition limit Spark adds under the plain window is
    lossless: the answer equals a Python sort of the whole input."""
    df = _df(spark)
    out = top_k_per_group(df, ["g"], _order(), 5)
    got = sorted(map(tuple, out.select("g", "id", "v", "rank").collect()))
    by_g: dict[int, list] = {}
    for r in df.collect():
        by_g.setdefault(r["g"], []).append((-r["v"], r["id"]))
    want = sorted(
        (g, i, -nv, rank)
        for g, items in by_g.items()
        for rank, (nv, i) in enumerate(sorted(items)[:5], start=1)
    )
    assert got == want
    assert len(got) == 10 * 5


def test_groups_smaller_than_k(spark):
    df = spark.createDataFrame(
        [("a", 1, 1), ("a", 2, 2), ("b", 3, 3)], "g string, id long, v long"
    )
    got = top_k_per_group(df, ["g"], _order(), 10).collect()
    assert len(got) == 3  # every row survives when group < k


def test_k_validation(spark):
    df = spark.createDataFrame([("a", 1, 1)], "g string, id long, v long")
    with pytest.raises(ValueError, match="k must be"):
        top_k_per_group(df, ["g"], _order(), 0)


def test_top_k_per_group_is_the_only_per_group_top_k():
    """The Python map-side prune stays deleted, and the similarity
    operators rank through top_k_per_group, not pasted windows."""
    pkg = pathlib.Path(workshoop2_etl_spark.__file__).parent
    repo = pkg.parent
    sources = [
        *pkg.rglob("*.py"),
        *(repo / "tools").rglob("*.py"),
        *(repo / "perfbench").rglob("*.py"),
        repo / "bench.py",
    ]
    gone = ("top_k_per_group_partial", "partial_prune_topk")
    hits = [
        f"{path.relative_to(repo)}: {name}"
        for path in sources
        for name in gone
        if name in path.read_text()
    ]
    assert hits == []
    similarity = (pkg / "operators" / "similarity.py").read_text()
    assert "row_number(" not in similarity
