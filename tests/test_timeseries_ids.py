"""Unit + plan-shape tests for the round-5 operators: time-axis
analytics guards, global-id scalability (the no-single-partition
claim), and compaction file counts. Value-level correctness is proven
by the DuckDB oracle mirror (tests/test_oracle_parity.py)."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from workshoop2_etl_spark.operators.ids import assign_global_ids
from workshoop2_etl_spark.operators.timeseries import (
    ewma,
    funnel,
    resample_fill,
    retention_cohorts,
)
from workshoop2_etl_spark.sources.readers import read_parquet
from workshoop2_etl_spark.sources.writers import compact_parquet


def test_resample_fill_oversized_grid_raises(spark, sf_dir):
    ev = read_parquet(spark, f"{sf_dir}/events.parquet")
    # the guard is lazy (in-plan assert_true): plan construction is
    # side-effect-free and the failure surfaces at action time
    plan = resample_fill(
        ev,
        group_cols=["user_id"],
        ts_col="ts",
        value_col="value",
        step_seconds=1,
        max_buckets=100,
    )
    with pytest.raises(Exception, match="max_buckets"):
        plan.count()


def test_resample_fill_floors_pre_epoch_timestamps(spark):
    # truncation toward zero would put 1969-12-31T12:00 in bucket 0
    # (1970-01-01); floor puts it in bucket -1 (1969-12-31) — the
    # grid semantics and the DuckDB oracle's floor()
    from datetime import datetime

    df = spark.createDataFrame(
        [("g", datetime(1969, 12, 31, 12, 0, 0), 5.0),
         ("g", datetime(1970, 1, 1, 6, 0, 0), 7.0)],
        "g string, ts timestamp, value double",
    )
    rows = (
        resample_fill(
            df, group_cols=["g"], ts_col="ts", value_col="value",
            step_seconds=86400, agg="avg",
        )
        .orderBy("bucket_ts")
        .collect()
    )
    assert [r.bucket_ts for r in rows] == [
        datetime(1969, 12, 31, 0, 0), datetime(1970, 1, 1, 0, 0)
    ]
    assert [r.v for r in rows] == [5.0, 7.0]


def test_resample_fill_bad_agg_raises(spark, sf_dir):
    ev = read_parquet(spark, f"{sf_dir}/events.parquet")
    with pytest.raises(ValueError, match="unsupported agg"):
        resample_fill(
            ev, group_cols=["user_id"], ts_col="ts",
            value_col="value", agg="median",
        )


def test_funnel_counts_are_monotonic(spark, sf_dir):
    ev = read_parquet(spark, f"{sf_dir}/events.parquet")
    rows = (
        funnel(
            ev,
            actor_col="user_id",
            ts_col="ts",
            stage_col="event_type",
            stages=["signup", "view", "click", "purchase"],
        )
        .orderBy("stage_idx")
        .collect()
    )
    counts = [r.n_actors for r in rows]
    assert len(counts) == 4 and counts[0] > 0
    assert all(a >= b for a, b in zip(counts, counts[1:]))


def test_funnel_requires_two_stages(spark, sf_dir):
    ev = read_parquet(spark, f"{sf_dir}/events.parquet")
    with pytest.raises(ValueError, match="at least two"):
        funnel(
            ev, actor_col="user_id", ts_col="ts",
            stage_col="event_type", stages=["signup"],
        )


def test_retention_rejects_unknown_period(spark, sf_dir):
    ev = read_parquet(spark, f"{sf_dir}/events.parquet")
    with pytest.raises(ValueError, match="period"):
        retention_cohorts(
            ev, actor_col="user_id", ts_col="ts", period="month"
        )


def test_global_ids_dense_and_never_single_partition(spark, sf_dir):
    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    out = assign_global_ids(docs, "doc_id", num_partitions=8)
    # The whole point of the operator: no stage may funnel the data
    # through one partition the way OVER (ORDER BY …) would.
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" not in plan
    rows = out.select("doc_id", "gid").orderBy("doc_id").collect()
    n = len(rows)
    assert [r.gid for r in rows] == list(range(n))  # dense, rank-ordered


def test_global_ids_single_range_shuffle_beyond_sample_size(spark):
    """Regression for the two-job formulation: repartitionByRange
    seeds its boundary sampling from the runtime RDD id, so two
    separate executions of the same lineage can draw different
    boundaries once a partition holds more rows than
    rangeExchange.sampleSizePerPartition (default 100) — the old
    collect-then-rebuild offsets map could then mismatch the second
    partitioning. The single-plan formulation must stay dense at
    50k rows / 8 ranges (6250 rows per partition >> sample size),
    and its plan must contain exactly ONE range exchange subtree
    executed (the counts branch reuses it)."""
    df = (
        spark.range(50_000)
        # decorrelate key order from partition order so ranges matter
        .select(F.xxhash64("id").alias("k"))
        .distinct()
    )
    n = df.count()
    out = assign_global_ids(df, "k", num_partitions=8)
    rows = sorted(out.collect(), key=lambda r: r.k)
    assert [r.gid for r in rows] == list(range(n))
    # collect() above finalized the AQE plan in place — read it now
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the P-row offsets branch must coalesce, never exchange-to-one
    assert "Exchange SinglePartition" not in plan
    # the counts branch must READ the data branch's range shuffle,
    # not re-execute it (re-execution re-samples boundaries)
    assert "reused" in plan.lower()


def test_compact_parquet_reduces_file_count(spark, tmp_path):
    src = str(tmp_path / "fragmented")
    dst = str(tmp_path / "compacted")
    spark.range(20000).withColumn("x", F.rand(7)).repartition(64).write.parquet(src)
    n_before = len(glob.glob(os.path.join(src, "*.parquet")))
    assert n_before == 64
    compact_parquet(spark, src, dst, target_file_bytes=64 * 1024)
    n_after = len(glob.glob(os.path.join(dst, "*.parquet")))
    assert 1 <= n_after < n_before
    assert spark.read.parquet(dst).count() == 20000


def test_hll_union_estimate_within_error_envelope(spark, sf_dir):
    """Sharded HLL sketches unioned must estimate within the lgK=12
    HLL error envelope (~1.6% at 2 sigma; assert 5% for slack) of the
    exact distinct count — and must equal the estimate a single
    unsharded sketch would give (mergeability)."""
    import __spark_entry__ as e

    approx = (
        e.queries()["hll_shard_union_customers"](spark, sf_dir)
        .collect()[0][0]
    )
    from workshoop2_etl_spark.sources.readers import read_parquet
    from pyspark.sql import functions as F

    cust = read_parquet(spark, f"{sf_dir}/customer.parquet")
    exact = cust.select("c_custkey").distinct().count()
    assert abs(approx - exact) <= 0.05 * exact
    single = cust.agg(
        F.hll_sketch_estimate(
            F.hll_sketch_agg("c_custkey", F.lit(12))
        ).cast("long")
    ).collect()[0][0]
    assert approx == single  # union of shards == one global sketch


def test_python_datasource_partition_plan_is_balanced():
    from workshoop2_etl_spark.sources.synthetic import (
        SyntheticEventsReader,
    )

    r = SyntheticEventsReader(n_rows=10, n_partitions=4)
    bounds = [p.value for p in r.partitions()]
    assert bounds == [(0, 3), (3, 6), (6, 8), (8, 10)]
    sizes = [e - s for s, e in bounds]
    assert max(sizes) - min(sizes) <= 1
    # more partitions than rows collapses; zero rows is legal
    assert len(SyntheticEventsReader(n_rows=2, n_partitions=8).partitions()) == 2
    import pytest

    with pytest.raises(ValueError):
        SyntheticEventsReader(n_rows=-1, n_partitions=4)


def test_resample_fill_sum_agg_matches_independent_buckets(spark, sf_dir):
    import math

    from workshoop2_etl_spark.functions.text import epoch_micros
    from workshoop2_etl_spark.operators.timeseries import resample_fill

    ev = read_parquet(spark, f"{sf_dir}/events.parquet").filter(
        F.col("user_id") < 5
    )
    step = 86400
    s = resample_fill(
        ev, group_cols=["user_id"], ts_col="ts", value_col="value",
        step_seconds=step, agg="sum",
    )
    # Independent per-bucket ground truth: every bucket that actually
    # holds events must carry its own (unfilled) sum in the output.
    exp = (
        ev.withColumn(
            "bucket",
            F.floor(
                epoch_micros(ev, "ts") / F.lit(step * 1_000_000)
            ).cast("long"),
        )
        .groupBy("user_id", "bucket")
        .agg(F.sum("value").alias("exp"))
    )
    got = s.withColumn(
        "bucket",
        (F.unix_micros("bucket_ts") / F.lit(step * 1_000_000)).cast("long"),
    )
    rows = got.join(exp, ["user_id", "bucket"]).collect()
    assert len(rows) == exp.count()
    for r in rows:
        assert math.isclose(r.v, r.exp, rel_tol=1e-9)


def test_fuzzy_join_unbroadcast_path(spark):
    from workshoop2_etl_spark.operators.merge import fuzzy_join

    left = spark.createDataFrame([("kitten",), ("sittin",)], "a string")
    right = spark.createDataFrame([("sitting",), ("mitten",)], "b string")
    got = sorted(
        (r.a, r.b)
        for r in fuzzy_join(left, right, "a", "b", max_distance=2).collect()
    )
    # kitten↔sitting is distance 3 and must NOT match at bound 2
    assert got == [("kitten", "mitten"), ("sittin", "mitten"),
                   ("sittin", "sitting")]


def test_apply_cdc_rejects_missing_columns(spark):
    from workshoop2_etl_spark.operators.star import apply_cdc

    base = spark.createDataFrame([(1, "x")], "k long, v string")
    changes = spark.createDataFrame(
        [(1, "I", 1)], "k long, op string, seq long"
    )  # lacks v
    import pytest

    with pytest.raises(ValueError, match="lack base columns"):
        apply_cdc(base, changes, ["k"])


def test_compact_parquet_single_file_input(spark, tmp_path):
    src_dir = str(tmp_path / "one")
    spark.range(100).coalesce(1).write.parquet(src_dir)
    import glob as g

    single = g.glob(os.path.join(src_dir, "*.parquet"))[0]
    dst = str(tmp_path / "one_out")
    n = compact_parquet(spark, single, dst, target_file_bytes=10**9)
    assert n == 1
    assert spark.read.parquet(dst).count() == 100


def test_linear_interpolation_matches_pandas(spark):
    """fill='linear' against pandas interpolate(limit_direction=
    'forward') on a crafted series: leading gap NULL, interior gaps on
    the straight line (multi-bucket slope), trailing gap holds."""
    import datetime as dt

    import pandas as pd

    def t(h):
        return dt.datetime(2024, 1, 1) + dt.timedelta(hours=h)

    # observations at buckets 1, 4, 5 (1h step): leading gap bucket 0
    # absent (grid starts at first obs), gap 2-3 interpolates, and a
    # second group checks independence.
    rows = [
        ("a", t(1), 10.0),
        ("a", t(4), 40.0),
        ("a", t(5), 20.0),
        ("b", t(0), 5.0),
        ("b", t(3), 8.0),
    ]
    df = spark.createDataFrame(rows, "g string, ts timestamp, value double")
    out = resample_fill(
        df,
        group_cols=["g"],
        ts_col="ts",
        value_col="value",
        step_seconds=3600,
        fill="linear",
    )
    got = {
        (r["g"], r["bucket_ts"].hour): r["v"] for r in out.collect()
    }
    for g, obs in (("a", {1: 10.0, 4: 40.0, 5: 20.0}), ("b", {0: 5.0, 3: 8.0})):
        lo, hi = min(obs), max(obs)
        s = pd.Series(
            [obs.get(h) for h in range(lo, hi + 1)], dtype="float64"
        ).interpolate(method="linear", limit_direction="forward")
        for i, h in enumerate(range(lo, hi + 1)):
            assert got[(g, h)] == pytest.approx(s.iloc[i]), (g, h)


def test_attribution_tiebreak_and_no_prior_touch(spark):
    """Deterministic tie-break on (ts, id); a converter whose first
    event IS the conversion carries no credit; channel credited on one
    side only gets a zero on the other."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)

    def r(uid, sec, typ, eid):
        return (eid, t0 + dt.timedelta(seconds=sec), uid, typ)

    rows = [
        # user 1: ad(ts=0,id=2) vs email(ts=0,id=1) tie -> email first
        # by id; last touch before buy = ad (ts=5)
        r(1, 0, "email", 1),
        r(1, 0, "ad", 2),
        r(1, 5, "ad", 3),
        r(1, 10, "buy", 4),
        # user 2: converts with no prior event -> no credit
        r(2, 0, "buy", 5),
        # user 3: single pre-touch 'social' credits both sides
        r(3, 0, "social", 6),
        r(3, 1, "buy", 7),
        # user 4: never converts -> ignored
        r(4, 0, "email", 8),
    ]
    from workshoop2_etl_spark.operators.timeseries import attribution

    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    out = {
        r["channel"]: (r["n_first_touch"], r["n_last_touch"])
        for r in attribution(
            df,
            actor_col="user_id",
            ts_col="ts",
            channel_col="event_type",
            conversion_predicate=F.col("event_type") == "buy",
            tiebreak_cols=["event_id"],
        ).collect()
    }
    assert out == {"email": (1, 0), "ad": (0, 1), "social": (1, 1)}


def test_sliding_active_actors_matches_bruteforce(spark, sf_dir):
    """Fan-out + re-distinct recomposition equals the quadratic
    definition computed row-by-row in Python."""
    import collections

    from workshoop2_etl_spark.operators.timeseries import (
        sliding_active_actors,
    )

    ev = read_parquet(spark, f"{sf_dir}/events.parquet")
    pdf = ev.select(
        F.col("user_id"), F.col("ts").cast("date").alias("day")
    ).toPandas()
    pairs = {(u, d) for u, d in zip(pdf.user_id, pdf.day)}
    days = sorted({d for _, d in pairs})
    import datetime as dt

    expect = {}
    for day in days:
        lo = day - dt.timedelta(days=6)
        expect[day] = len({u for (u, d) in pairs if lo <= d <= day})
    got = {
        r["day"]: r["n_active"]
        for r in sliding_active_actors(
            ev, actor_col="user_id", ts_col="ts", window_days=7
        ).collect()
    }
    assert got == expect


def test_ewma_matches_python_loop(spark):
    """Recursion vs an explicit Python loop over randomized series."""
    import random

    rng = random.Random(7)
    rows = []
    for k in range(5):
        for t in range(rng.randrange(1, 40)):
            rows.append((f"k{k}", t, rng.uniform(-100, 100)))
    df = spark.createDataFrame(rows, "k string, t int, v double")
    alpha = 0.25
    got = {
        (r["k"], r["t"]): r["ewma"]
        for r in ewma(
            df, key_col="k", ts_col="t", value_col="v", alpha=alpha
        ).collect()
    }
    by_key = {}
    for k, t, v in sorted(rows):
        if k not in by_key:
            by_key[k] = v
        else:
            by_key[k] = alpha * v + (1.0 - alpha) * by_key[k]
        assert got[(k, t)] == pytest.approx(by_key[k], abs=1e-12), (k, t)


def test_ewma_tiebreak_deterministic_and_alpha_guard(spark):
    """Equal timestamps order by the tiebreak column; alpha validated."""
    df = spark.createDataFrame(
        [("a", 1, 1, 10.0), ("a", 1, 0, 0.0), ("a", 2, 2, 100.0)],
        "k string, t int, id int, v double",
    )
    out = {
        r["id" if False else "t"]: r["ewma"]
        for r in ewma(
            df,
            key_col="k",
            ts_col="t",
            value_col="v",
            alpha=0.5,
            tiebreak_cols=["id"],
        ).collect()
    }
    # order is (t=1,id=0) x=0 -> y=0; (t=1,id=1) x=10 -> y=5; (t=2) -> 52.5
    assert out[2] == pytest.approx(52.5)
    with pytest.raises(ValueError):
        ewma(df, key_col="k", ts_col="t", value_col="v", alpha=0.0)


def test_holt_matches_python_loop(spark):
    import random

    from workshoop2_etl_spark.operators.timeseries import holt

    rng = random.Random(3)
    rows = []
    for k in range(4):
        for t in range(rng.randrange(2, 30)):
            rows.append((f"k{k}", t, rng.uniform(-50, 50)))
    df = spark.createDataFrame(rows, "k string, t int, v double")
    a, b = 0.4, 0.3
    got = {
        (r.k, r.t): (r.level, r.trend, r.forecast)
        for r in holt(
            df, key_col="k", ts_col="t", value_col="v", alpha=a, beta=b
        ).collect()
    }
    state = {}
    for k, t, v in sorted(rows):
        if k not in state:
            state[k] = (v, 0.0)
        else:
            pl, pb = state[k]
            ln = a * v + (1.0 - a) * (pl + pb)
            state[k] = (ln, b * (ln - pl) + (1.0 - b) * pb)
        l, bb = state[k]
        gl, gb, gf = got[(k, t)]
        assert gl == pytest.approx(l, abs=1e-12)
        assert gb == pytest.approx(bb, abs=1e-12)
        assert gf == pytest.approx(l + bb, abs=1e-12)
    with pytest.raises(ValueError):
        holt(df, key_col="k", ts_col="t", value_col="v", alpha=0.5, beta=1.5)


def test_kaplan_meier_textbook_and_censoring(spark):
    from workshoop2_etl_spark.operators.timeseries import kaplan_meier

    # classic: events at 1,3,4; censored at 2,5
    df = spark.createDataFrame(
        [(1, 1), (2, 0), (3, 1), (4, 1), (5, 0)], "d int, e int"
    )
    out = {
        r.duration: r
        for r in kaplan_meier(df, duration_col="d", event_col="e").collect()
    }
    assert set(out) == {1, 3, 4}  # event times only
    assert out[1].n_risk == 5 and out[1].survival == pytest.approx(0.8)
    assert out[3].n_risk == 3 and out[3].survival == pytest.approx(0.533333)
    assert out[4].n_risk == 2 and out[4].survival == pytest.approx(0.266667)
    # censoring matters: treating censored as events changes the curve
    all_events = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 1), (5, 1)], "d int, e int"
    )
    out2 = {
        r.duration: r.survival
        for r in kaplan_meier(
            all_events, duration_col="d", event_col="e"
        ).collect()
    }
    assert out2[5] == 0.0  # everyone eventually dies -> curve hits zero
    assert out2[3] < out[3].survival


def test_ewma_and_holt_null_observations_carry(spark):
    """A NULL value must carry the smoothed state, not poison the
    rest of the key's series; leading NULLs stay NULL until the first
    observation seeds the state."""
    from workshoop2_etl_spark.operators.timeseries import holt

    df = spark.createDataFrame(
        [("a", 0, None), ("a", 1, 10.0), ("a", 2, None), ("a", 3, 30.0)],
        "k string, t int, v double",
    )
    e = {r.t: r.ewma for r in ewma(
        df, key_col="k", ts_col="t", value_col="v", alpha=0.5
    ).collect()}
    assert e[0] is None and e[1] == 10.0 and e[2] == 10.0 and e[3] == 20.0
    h = {r.t: (r.level, r.trend, r.forecast) for r in holt(
        df, key_col="k", ts_col="t", value_col="v", alpha=0.5, beta=0.5
    ).collect()}
    assert h[0] == (None, None, None)
    assert h[1] == (10.0, 0.0, 10.0)
    assert h[2] == (10.0, 0.0, 10.0)  # carried, not poisoned
    assert h[3] == (20.0, 5.0, 25.0)


def test_holt_winters_matches_python_loop(spark):
    import random

    from workshoop2_etl_spark.operators.timeseries import holt_winters

    rng = random.Random(13)
    m, a, b, g = 4, 0.4, 0.2, 0.3
    rows = [("k", t, rng.uniform(0, 100)) for t in range(37)]
    df = spark.createDataFrame(rows, "k string, t int, v double")
    got = {
        r.t: (r.level, r.trend, r.seasonal, r.fitted)
        for r in holt_winters(
            df, key_col="k", ts_col="t", value_col="v",
            period=m, alpha=a, beta=b, gamma=g,
        ).collect()
    }
    s = [0.0] * m
    for t, (_, _, x) in enumerate(rows):
        if t == 0:
            l, tr = x, 0.0
            assert got[0] == (x, 0.0, 0.0, None)
            continue
        sm = s[0]
        fit = l + tr + sm
        l_new = a * (x - sm) + (1 - a) * (l + tr)
        tr_new = b * (l_new - l) + (1 - b) * tr
        sv = g * (x - l_new) + (1 - g) * sm
        s = s[1:] + [sv]
        l, tr = l_new, tr_new
        gl, gt, gs, gf = got[t]
        assert gl == pytest.approx(l, abs=1e-9)
        assert gt == pytest.approx(tr, abs=1e-9)
        assert gs == pytest.approx(sv, abs=1e-9)
        assert gf == pytest.approx(fit, abs=1e-9)
    with pytest.raises(ValueError):
        holt_winters(
            df, key_col="k", ts_col="t", value_col="v",
            period=1, alpha=0.5, beta=0.1, gamma=0.1,
        )


def test_concurrency_profile_sweep_line(spark):
    from workshoop2_etl_spark.operators.timeseries import (
        concurrency_profile,
    )

    # [1,5) [2,4) [3,8) [4,6) [5,9): half-open — end at t meets start
    # at t without overlap (net collapses at ts=4 and ts=5)
    df = spark.createDataFrame(
        [(1, 5), (2, 4), (3, 8), (5, 9), (4, 6)], "s int, e int"
    )
    out = {
        r.ts: (r.net, r.n_active)
        for r in concurrency_profile(
            df, start_col="s", end_col="e", num_partitions=3
        ).collect()
    }
    assert out == {
        1: (1, 1), 2: (1, 2), 3: (1, 3), 4: (0, 3), 5: (0, 3),
        6: (-1, 2), 8: (-1, 1), 9: (-1, 0),
    }
    # randomized vs brute force under awkward partitioning
    import random

    rng = random.Random(23)
    iv = []
    for _ in range(120):
        a = rng.randrange(0, 500)
        iv.append((a, a + rng.randrange(1, 80)))
    df2 = spark.createDataFrame(iv, "s int, e int")
    prof = {
        r.ts: r.n_active
        for r in concurrency_profile(
            df2, start_col="s", end_col="e", num_partitions=7
        ).collect()
    }
    bounds = sorted({t for ab in iv for t in ab})
    for t in bounds:
        active = sum(1 for a, b in iv if a <= t < b)
        assert prof[t] == active, t
