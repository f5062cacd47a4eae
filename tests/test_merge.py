"""J1 parity tests: indicator reconstruction, empty-string key quirk,
many-to-many cross product (SURVEY.md §7 hard items b, c)."""

from __future__ import annotations

from workshoop2_etl_spark.operators.merge import (
    full_outer_with_indicator,
    merge_provenance_counts,
)


def _mk(spark, rows, schema):
    return spark.createDataFrame(rows, schema)


def test_indicator_values(spark):
    left = _mk(spark, [("k1", 10), ("k2", 20)], "key string, lv int")
    right = _mk(spark, [("k2", 200), ("k3", 300)], "key string, rv int")
    out = {r["key"]: r["_merge"] for r in full_outer_with_indicator(left, right, ["key"]).collect()}
    assert out == {"k1": "left_only", "k2": "both", "k3": "right_only"}


def test_null_keys_match_as_empty_string(spark):
    # The reference fillna("")s join keys BEFORE merging, so null keys
    # match each other (reference dags/merge_to_dw.py:63). Spark nulls
    # never equi-join, so normalization is part of the operator.
    left = _mk(spark, [(None, 1)], "key string, lv int")
    right = _mk(spark, [("  ", 2)], "key string, rv int")  # trims to ""
    rows = full_outer_with_indicator(left, right, ["key"]).collect()
    assert len(rows) == 1
    assert rows[0]["_merge"] == "both" and rows[0]["key"] == ""


def test_keys_normalized_trim_lower(spark):
    left = _mk(spark, [("  Rock ", 1)], "key string, lv int")
    right = _mk(spark, [("rock", 2)], "key string, rv int")
    rows = full_outer_with_indicator(left, right, ["key"]).collect()
    assert len(rows) == 1 and rows[0]["_merge"] == "both"


def test_many_to_many_cross_product(spark):
    # pandas outer merge with duplicate keys on both sides emits the
    # per-key cross product; Spark matches.
    left = _mk(spark, [("k", 1), ("k", 2)], "key string, lv int")
    right = _mk(spark, [("k", 10), ("k", 20), ("k", 30)], "key string, rv int")
    out = full_outer_with_indicator(left, right, ["key"])
    assert out.count() == 6
    assert all(r["_merge"] == "both" for r in out.collect())


def test_provenance_counts(spark):
    left = _mk(spark, [("a", 1), ("b", 1)], "key string, lv int")
    right = _mk(spark, [("b", 2), ("c", 2), ("d", 2)], "key string, rv int")
    merged = full_outer_with_indicator(left, right, ["key"])
    counts = {r["_merge"]: r["n"] for r in merge_provenance_counts(merged).collect()}
    assert counts == {"both": 1, "left_only": 1, "right_only": 2}


def test_composite_key_and_column_order(spark):
    left = _mk(spark, [("a", "x", 1)], "k1 string, k2 string, lv int")
    right = _mk(spark, [("a", "x", 9)], "k1 string, k2 string, rv int")
    out = full_outer_with_indicator(left, right, ["k1", "k2"])
    assert out.columns == ["k1", "k2", "lv", "rv", "_merge"]


def test_hot_keys_branch_value_identical(spark):
    # The salted hot branch must produce exactly the rows the plain
    # full outer does — including the ""-key cross product and the
    # one-sided rows.
    left = _mk(
        spark,
        [(None, 1), (None, 2), ("k1", 3), ("k2", 4)],
        "key string, lv int",
    )
    right = _mk(
        spark,
        [(None, 10), (None, 20), (None, 30), ("k2", 40), ("k3", 50)],
        "key string, rv int",
    )
    plain = full_outer_with_indicator(left, right, ["key"])
    hot = full_outer_with_indicator(left, right, ["key"], hot_keys=[("",)], hot_salt=4)
    key = lambda r: (r["key"], r["lv"], r["rv"], r["_merge"])
    assert sorted(map(key, plain.collect())) == sorted(map(key, hot.collect()))


def test_hot_keys_one_sided_group(spark):
    # Hot key present only on the left → left_only rows, no cross rows.
    left = _mk(spark, [("", 1), ("", 2), ("a", 3)], "key string, lv int")
    right = _mk(spark, [("a", 9)], "key string, rv int")
    out = full_outer_with_indicator(left, right, ["key"], hot_keys=[("",)])
    got = {(r["key"], r["lv"], r["rv"], r["_merge"]) for r in out.collect()}
    assert got == {
        ("", 1, None, "left_only"),
        ("", 2, None, "left_only"),
        ("a", 3, 9, "both"),
    }


def test_hot_keys_composite(spark):
    left = _mk(spark, [("", "", 1), ("a", "b", 2)], "k1 string, k2 string, lv int")
    right = _mk(spark, [("", "", 10), ("a", "b", 20)], "k1 string, k2 string, rv int")
    out = full_outer_with_indicator(
        left, right, ["k1", "k2"], hot_keys=[("", "")]
    )
    assert {r["_merge"] for r in out.collect()} == {"both"}
    assert out.count() == 2


def test_merge_pipeline_checkpoint_roundtrip(spark, tmp_path):
    from workshoop2_etl_spark.plans.pipelines import merge_pipeline

    left = _mk(spark, [("a", 1), ("b", 2)], "key string, lv int")
    right = _mk(spark, [("b", 20), ("c", 30)], "key string, rv int")
    ckpt = str(tmp_path / "merged_ckpt")
    out = merge_pipeline(left, right, ["key"], checkpoint_path=ckpt)
    # The returned frame reads FROM the checkpoint (scan, not join).
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    got = {(r["key"], r["_merge"]) for r in out.collect()}
    assert got == {("a", "left_only"), ("b", "both"), ("c", "right_only")}


def test_merge_pipeline_checkpoint_read_back_fires_no_job(
    spark, tmp_path, monkeypatch
):
    """The checkpoint is read back under the schema it was written
    with: the read-back runs no schema-inference job, and its schema
    and rows equal an inferred read of the same directory."""
    import uuid

    from pyspark.sql.readwriter import DataFrameReader

    from workshoop2_etl_spark.plans.pipelines import merge_pipeline

    sc = spark.sparkContext
    read_back_jobs = []
    original = DataFrameReader.parquet

    def parquet_in_own_group(self, *paths, **options):
        group = f"test-merge-read-back-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            return original(self, *paths, **options)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
            read_back_jobs.append(
                len(sc.statusTracker().getJobIdsForGroup(group))
            )

    left = _mk(spark, [("a", 1), ("b", 2)], "key string, lv int")
    right = _mk(spark, [("b", 20), ("c", 30)], "key string, rv int")
    ckpt = str(tmp_path / "merged_ckpt")
    monkeypatch.setattr(DataFrameReader, "parquet", parquet_in_own_group)
    out = merge_pipeline(left, right, ["key"], checkpoint_path=ckpt)
    monkeypatch.undo()
    assert read_back_jobs == [0]

    inferred = spark.read.parquet(ckpt)
    assert out.schema == inferred.schema
    assert sorted(map(tuple, out.collect())) == sorted(
        map(tuple, inferred.collect())
    )


def test_asof_join_backward_semantics(spark):
    """Exact-timestamp match counts; no prior right row → NULLs;
    latest prior right row wins."""
    from workshoop2_etl_spark.operators.merge import asof_join

    left = spark.createDataFrame(
        [
            (1, "k", 5),
            (2, "k", 10),   # exact match with right ts=10
            (3, "k", 11),
            (4, "k", 3),    # before any right row
            (5, "z", 100),  # key with no right rows at all
        ],
        "event_id long, key string, ts long",
    )
    right = spark.createDataFrame(
        [("k", 4, "a"), ("k", 10, "b"), ("k", 20, "c")],
        "key string, ts long, val string",
    )
    out = {
        r.event_id: r.val
        for r in asof_join(
            left, right, ["key"], "ts", value_cols=["val"]
        ).collect()
    }
    assert out == {1: "a", 2: "b", 3: "b", 4: None, 5: None}


def test_range_join_bins_exact(spark):
    """Bin bucketing must reproduce the exact BETWEEN semantics and
    emit each matching pair exactly once, including intervals that
    span multiple bins."""
    from workshoop2_etl_spark.operators.merge import range_join

    left = spark.createDataFrame(
        [(1, "k", 5), (2, "k", 10), (3, "k", 25), (4, "z", 5)],
        "pid long, key string, p long",
    )
    right = spark.createDataFrame(
        # interval 0..22 spans bins 0,1,2 at bin_size=10
        [(100, "k", 0, 22), (200, "k", 9, 11), (300, "z", 6, 7)],
        "rid long, key string, lo long, hi long",
    )
    out = range_join(left, right, ["key"], "p", "lo", "hi", bin_size=10)
    got = {(r.pid, r.rid) for r in out.collect()}
    assert got == {(1, 100), (2, 100), (2, 200)}  # 3,4 match nothing


def test_asof_join_matches_pandas_merge_asof(spark):
    """Property: asof_join == pandas.merge_asof on random inputs
    (unique right timestamps per key, allow_exact_matches=True)."""
    import random

    import pandas as pd

    rng = random.Random(11)
    keys = ["a", "b", "c"]
    left_rows = [
        (i, rng.choice(keys), rng.randrange(0, 200)) for i in range(120)
    ]
    right_ts = {(k, t) for k in keys for t in rng.sample(range(0, 200), 25)}
    right_rows = [
        (k, t, f"{k}{t}") for (k, t) in sorted(right_ts) if rng.random() < 0.8
    ]
    from workshoop2_etl_spark.operators.merge import asof_join

    left = spark.createDataFrame(left_rows, "event_id long, key string, ts long")
    right = spark.createDataFrame(right_rows, "key string, ts long, val string")
    got = {
        r.event_id: r.val
        for r in asof_join(left, right, ["key"], "ts", value_cols=["val"]).collect()
    }

    lp = pd.DataFrame(left_rows, columns=["event_id", "key", "ts"]).sort_values("ts")
    rp = pd.DataFrame(right_rows, columns=["key", "ts", "val"]).sort_values("ts")
    exp = pd.merge_asof(lp, rp, on="ts", by="key", direction="backward")
    expected = {
        int(r.event_id): (None if pd.isna(r.val) else r.val)
        for r in exp.itertuples()
    }
    assert got == expected


def test_overlap_join_raises_on_colliding_nonkey_columns(spark):
    # a self-join without renaming would silently mis-resolve the
    # bound predicates; the operator must refuse instead
    import pytest
    from pyspark.sql import functions as F

    from workshoop2_etl_spark.operators.merge import overlap_join

    iv = spark.createDataFrame(
        [(1, 0, 10)], "k long, lo long, hi long"
    )
    with pytest.raises(ValueError, match="both\\s+sides|both sides"):
        overlap_join(iv, iv, ["k"], "lo", "hi", "lo", "hi", bin_size=5)
    # renamed self-join works and finds the self-pair
    rn = iv.select(
        "k", F.col("lo").alias("rlo"), F.col("hi").alias("rhi")
    )
    got = overlap_join(
        iv, rn, ["k"], "lo", "hi", "rlo", "rhi", bin_size=5
    ).collect()
    assert len(got) == 1 and got[0].lo == 0 and got[0].rhi == 10


def test_fuzzy_join_blocked_matches_bruteforce(spark):
    """Deletion-neighborhood blocking must find EXACTLY the pairs the
    unblocked quadratic join finds (completeness + the exact verify),
    at distances 1 and 2."""
    from workshoop2_etl_spark.operators.merge import fuzzy_join_blocked

    words = ["kitten", "sitten", "sittin", "sitting", "mitten",
             "kitchen", "cat", "cart", "", "a"]
    left = spark.createDataFrame(
        [(i, w) for i, w in enumerate(words)], "lid long, ls string"
    )
    right = spark.createDataFrame(
        [(100 + i, w) for i, w in enumerate(words)], "rid long, rs string"
    )
    import itertools

    def lev(a, b):
        if len(a) < len(b):
            a, b = b, a
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    for d in (1, 2):
        got = sorted(
            (r.lid, r.rid)
            for r in fuzzy_join_blocked(
                left, right, "lid", "ls", "rid", "rs", max_distance=d
            ).collect()
        )
        want = sorted(
            (i, 100 + j)
            for (i, a), (j, b) in itertools.product(
                enumerate(words), enumerate(words)
            )
            if lev(a, b) <= d
        )
        assert got == want, f"d={d}"


def test_fuzzy_join_blocked_validates(spark):
    import pytest

    from workshoop2_etl_spark.operators.merge import fuzzy_join_blocked

    df = spark.createDataFrame([(1, "x")], "id long, s string")
    other = spark.createDataFrame([(2, "y")], "id2 long, s2 string")
    with pytest.raises(ValueError, match="max_distance"):
        fuzzy_join_blocked(df, other, "id", "s", "id2", "s2", max_distance=3)
    with pytest.raises(ValueError, match="both\\s+sides|both sides"):
        fuzzy_join_blocked(df, df, "id", "s", "id", "s")


def test_fuzzy_join_blocked_extra_on_restricts_candidates(spark):
    from workshoop2_etl_spark.operators.merge import fuzzy_join_blocked

    left = spark.createDataFrame(
        [(1, "bob", "x"), (2, "ann", "y")], ["lid", "lname", "lcity"]
    )
    right = spark.createDataFrame(
        [(10, "rob", "x"), (20, "anne", "z")], ["rid", "rname", "rcity"]
    )
    open_pairs = {
        (r.lid, r.rid)
        for r in fuzzy_join_blocked(
            left, right, "lid", "lname", "rid", "rname", max_distance=1
        ).collect()
    }
    assert open_pairs == {(1, 10), (2, 20)}
    blocked = {
        (r.lid, r.rid)
        for r in fuzzy_join_blocked(
            left, right, "lid", "lname", "rid", "rname",
            max_distance=1, extra_on=[("lcity", "rcity")],
        ).collect()
    }
    # ann↔anne disagree on the blocking key → never a candidate
    assert blocked == {(1, 10)}
