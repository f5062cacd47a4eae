"""Property-based tests for the round-6 operators: each new
distributed algorithm against an obviously-correct Python reference
over randomized inputs (continuing test_properties.py's strategy)."""

from __future__ import annotations

import math
from collections import Counter

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from workshoop2_etl_spark.operators.heavyhitters import heavy_hitters
from workshoop2_etl_spark.operators.timeseries import islands

_SETTINGS = dict(
    max_examples=10,  # each example runs Spark jobs — keep it tight
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)

ITEMS = st.sampled_from([f"i{k}" for k in range(12)])


@settings(**_SETTINGS)
@given(
    rows=st.lists(ITEMS, min_size=1, max_size=60),
    capacity=st.integers(min_value=1, max_value=6),
    parts=st.integers(min_value=1, max_value=4),
)
def test_heavy_hitters_exact_vs_counter(spark, rows, capacity, parts):
    """For ANY capacity, the MG candidate set plus verify must return
    exactly the items with count ≥ ceil(support·N), where support is
    chosen at the certification boundary 1/(capacity+1)... slightly
    above it, to keep the bound valid under float literals."""
    support = 1.0 / (capacity + 1) + 1e-9
    df = spark.createDataFrame(
        [(r,) for r in rows], "item string"
    ).repartition(parts)
    got = {
        (r["item"], r["n"])
        for r in heavy_hitters(
            df, "item", support=support, capacity=capacity
        ).collect()
    }
    counts = Counter(rows)
    thr = math.ceil(support * len(rows))
    want = {(i, n) for i, n in counts.items() if n >= thr}
    assert got == want


@settings(**_SETTINGS)
@given(
    ticks=st.lists(
        st.tuples(st.sampled_from(["u1", "u2"]), st.integers(0, 30)),
        min_size=1,
        max_size=40,
    )
)
def test_islands_vs_bruteforce(spark, ticks):
    df = spark.createDataFrame(ticks, "u string, t long")
    got = {
        (r["u"], r["island_start"], r["island_end"], r["length_ticks"])
        for r in islands(df, ["u"], "t").collect()
    }
    want = set()
    by_user: dict[str, set] = {}
    for u, t in ticks:
        by_user.setdefault(u, set()).add(t)
    for u, ts in by_user.items():
        run: list[int] = []
        for t in sorted(ts):
            if run and t == run[-1] + 1:
                run.append(t)
            else:
                if run:
                    want.add((u, run[0], run[-1], len(run)))
                run = [t]
        if run:
            want.add((u, run[0], run[-1], len(run)))
    assert got == want


@settings(**_SETTINGS)
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["g1", "g2"]),
            st.integers(0, 50),
            st.integers(0, 999),
        ),
        min_size=1,
        max_size=40,
    ),
    k=st.integers(min_value=1, max_value=4),
    parts=st.integers(min_value=1, max_value=4),
)
def test_partial_topk_vs_python(spark, rows, k, parts):
    """The per-group top-k, which Spark prunes per partition before
    the exchange, must equal a trivial Python sort for any data, k,
    and partitioning — the order key (v desc, uid asc) is total
    because uid is unique."""
    from pyspark.sql import functions as F

    from workshoop2_etl_spark.operators.analytics import top_k_per_group

    uniq = [(g, v, i) for i, (g, v, _) in enumerate(rows)]
    df = spark.createDataFrame(
        uniq, "g string, v long, uid long"
    ).repartition(parts)
    got = sorted(
        (r["g"], r["v"], r["uid"], r["rank"])
        for r in top_k_per_group(
            df, ["g"], [F.col("v").desc(), F.col("uid").asc()], k
        ).collect()
    )
    want = []
    by_g: dict[str, list] = {}
    for g, v, uid in uniq:
        by_g.setdefault(g, []).append((v, uid))
    for g, items in by_g.items():
        items.sort(key=lambda t: (-t[0], t[1]))
        for rank, (v, uid) in enumerate(items[:k], start=1):
            want.append((g, v, uid, rank))
    assert got == sorted(want)


@settings(**_SETTINGS)
@given(
    vals=st.lists(
        st.tuples(st.sampled_from(["a", "b"]), st.floats(0, 100)),
        min_size=1,
        max_size=40,
    ),
    splits=st.integers(min_value=2, max_value=4),
)
def test_incremental_merge_identity_random_splits(spark, vals, splits):
    from pyspark.sql import functions as F

    from workshoop2_etl_spark.operators.incremental import (
        aggregate_state,
        finalize_state,
        merge_states,
    )

    rows = [(g, v, i) for i, (g, v) in enumerate(vals)]
    df = spark.createDataFrame(rows, "g string, v double, i long")
    full = aggregate_state(df, ["g"], ["v"])
    shards = [
        aggregate_state(df.filter(F.col("i") % splits == s), ["g"], ["v"])
        for s in range(splits)
    ]
    merged = merge_states(["g"], ["v"], *shards)

    def rep(state):
        return {
            r["g"]: (r["n"], r["total_v"], r["lo_v"], r["hi_v"])
            for r in finalize_state(state, ["g"], ["v"]).collect()
        }

    a, b = rep(merged), rep(full)
    assert a.keys() == b.keys()
    for g in a:
        na, ta, la, ha = a[g]
        nb, tb, lb, hb = b[g]
        assert na == nb and la == lb and ha == hb
        # totals are rounded doubles — summation order may differ
        assert ta == pytest.approx(tb, abs=1e-6)


def test_moment_stats_matches_scipy_formulas(spark):
    """Power-sum moments vs numpy's population moments on random data,
    plus degenerate-group NULLs."""
    import numpy as np

    from workshoop2_etl_spark.operators.analytics import moment_stats

    rng = np.random.default_rng(21)
    xs = rng.gamma(2.0, 3.0, 500)  # skewed on purpose
    rows = [("g", float(v)) for v in xs] + [("solo", 1.0), ("flat", 2.0), ("flat", 2.0)]
    df = spark.createDataFrame(rows, "k string, x double")
    out = {r.k: r for r in moment_stats(df, "k", "x").collect()}
    mu = xs.mean()
    m2 = ((xs - mu) ** 2).mean()
    m3 = ((xs - mu) ** 3).mean()
    m4 = ((xs - mu) ** 4).mean()
    assert out["g"].mean == pytest.approx(round(mu, 6), abs=1e-6)
    assert out["g"].variance == pytest.approx(round(m2, 6), abs=1e-4)
    assert out["g"].skewness == pytest.approx(m3 / m2**1.5, abs=1e-4)
    assert out["g"].kurtosis == pytest.approx(m4 / m2**2 - 3.0, abs=1e-4)
    assert out["solo"].skewness is None  # n < 2
    assert out["flat"].skewness is None  # zero variance
