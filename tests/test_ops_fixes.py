"""Tests for round-2 hardening: single-pass summary_stats, histogram
degenerate ranges, empty recode map, and the P8 conditional column
default (``ensure_columns``)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from workshoop2_etl_spark.operators.analytics import histogram, summary_stats
from workshoop2_etl_spark.operators.cleaning import (
    ensure_columns,
    recode_with_default,
)


def test_summary_stats_values(spark):
    df = spark.createDataFrame(
        [(1.0, 10.0), (2.0, 20.0), (3.0, None)], "a double, b double"
    )
    rows = {r.column: r for r in summary_stats(df, ["a", "b"]).collect()}
    assert rows["a"]["count"] == 3 and rows["b"]["count"] == 2
    assert rows["a"].mean == pytest.approx(2.0)
    assert rows["b"].min == 10.0 and rows["b"].max == 20.0
    assert rows["a"].std == pytest.approx(1.0)


def test_summary_stats_single_scan(spark):
    df = spark.createDataFrame([(1.0, 2.0)], "a double, b double")
    plan = summary_stats(df, ["a", "b"])._jdf.queryExecution().optimizedPlan().toString()
    # One aggregate over one relation — no union of per-column scans.
    assert plan.lower().count("union") == 0


def test_histogram_constant_column(spark):
    df = spark.createDataFrame([(5.0,), (5.0,), (5.0,)], "v double")
    rows = histogram(df, "v", bins=10).collect()
    assert len(rows) == 1
    assert rows[0].bin == 0 and rows[0].n == 3 and rows[0].bin_lo == 5.0


def test_histogram_all_null_column(spark):
    df = spark.createDataFrame([(None,), (None,)], "v double")
    assert histogram(df, "v", bins=10).collect() == []


def test_recode_empty_mapping_takes_defaults(spark):
    df = spark.createDataFrame([("x",), ("y",)], "genre string")
    out = recode_with_default(
        df, "genre", {}, ["genero", "subgenero"], [F.lit("Otro"), F.col("genre")]
    )
    got = {r.genre: (r.genero, r.subgenero) for r in out.collect()}
    assert got == {"x": ("Otro", "x"), "y": ("Otro", "y")}


def test_recode_arity_mismatch_raises(spark):
    df = spark.createDataFrame([("x",)], "genre string")
    with pytest.raises(ValueError, match="arity"):
        recode_with_default(df, "genre", {"x": ("a", "b")}, ["one"], [None])


def test_ensure_columns_adds_only_missing(spark):
    df = spark.createDataFrame([("t1", None)], "track_name string, artists string")
    out = ensure_columns(
        df, {"artists": F.lit(""), "album": F.lit(""), "year": F.lit(0)}
    )
    assert set(out.columns) == {"track_name", "artists", "album", "year"}
    r = out.collect()[0]
    assert r.artists is None  # existing column untouched
    assert r.album == "" and r.year == 0


def test_rename_columns(spark):
    from workshoop2_etl_spark.operators.cleaning import rename_columns

    df = spark.createDataFrame([(1, "x")], "nominee string, artist string")
    out = rename_columns(df, {"nominee": "track_name", "artist": "artists"})
    assert out.columns == ["track_name", "artists"]
    with pytest.raises(ValueError, match="absent"):
        rename_columns(df, {"nope": "x"})


def test_seed_table_roundtrip(spark, tmp_path):
    from workshoop2_etl_spark.sources.writers import seed_table

    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    seed_table(df, "seeded_test_table")
    try:
        back = spark.table("seeded_test_table")
        assert sorted((r.id, r.v) for r in back.collect()) == [(1, "a"), (2, "b")]
    finally:
        spark.sql("DROP TABLE IF EXISTS seeded_test_table")


def test_read_csv_malformed_rows_null_not_crash(spark, tmp_path):
    # Declared-schema CSV reads are PERMISSIVE by default: a row whose
    # column can't cast lands as null, never an executor crash —
    # to_numeric(errors="coerce") file-level semantics.
    from pyspark.sql import types as T

    from workshoop2_etl_spark.sources.readers import read_csv

    p = tmp_path / "bad.csv"
    p.write_text("id,score\n1,10\n2,notanumber\n3,30\n")
    schema = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("score", T.LongType())]
    )
    rows = {r.id: r.score for r in read_csv(spark, str(p), schema).collect()}
    assert rows == {1: 10, 2: None, 3: 30}


def test_histogram_one_bound_all_null(spark):
    df = spark.createDataFrame([(None,), (None,)], "v double")
    # explicit lo, all-null column: must not crash, yields no bins
    assert histogram(df, "v", bins=5, lo=0.0).collect() == []


def test_exact_dedup_rejects_unknown_keep(spark):
    from workshoop2_etl_spark.operators.dedup import exact_dedup

    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError, match="keep"):
        exact_dedup(df, "text", "doc_id", keep="first")


# ---------------------------------------------------------------------------
# Round-3 hardening: cosine zero-norm guard, near-dedup cache hygiene
# ---------------------------------------------------------------------------

def test_cosine_zero_and_corrupt_vectors_never_rank(spark):
    """A zero-norm or NaN vector must yield NULL sim (not NaN) and
    never surface as a neighbor or near-dup pair."""
    from workshoop2_etl_spark.operators.similarity import (
        brute_force_topk,
        cosine,
    )

    df = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0]),
            (1, [0.9, 0.1, 0.0]),
            (2, [0.0, 0.0, 0.0]),          # zero norm
            (3, [float("nan"), 1.0, 0.0]),  # corrupt
        ],
        "vec_id long, embedding array<double>",
    )
    sims = df.select(
        "vec_id", cosine(F.array(F.lit(1.0), F.lit(0.0), F.lit(0.0)), "embedding").alias("s")
    ).collect()
    by_id = {r.vec_id: r.s for r in sims}
    assert by_id[2] is None and by_id[3] is None
    assert by_id[0] == pytest.approx(1.0)

    queries = df.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    top = brute_force_topk(df, queries, k=4).collect()
    got_ids = {r.vec_id for r in top}
    assert got_ids == {1}  # zero/NaN vectors dropped, not ranked first


def test_near_dedup_keep_releases_caches(spark):
    """near_dedup_keep must leave no cached lineages behind and return
    the same corpus filter as before the cache-hygiene change.

    Asserted as NO INCREASE over the pre-call persistent-RDD count,
    not a global zero: other operators legitimately return eagerly
    localCheckpoint'ed frames (PageRank's final ranks, the minhash
    pair set) whose blocks outlive their call by contract, and
    ``catalog.clearCache()`` does not touch checkpoint RDDs — a
    global-zero assert would fail on suite ordering, not on a leak
    in near_dedup_keep."""
    from workshoop2_etl_spark.operators.dedup import near_dedup_keep

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again"),
            (2, "the quick brown fox jumps over the lazy dog again"),
            # one trailing token changed → shingle Jaccard 7/9 ≈ 0.78,
            # high enough that ≥1 of the 16 bands collides
            (3, "the quick brown fox jumps over the lazy dog forever"),
            (4, "completely unrelated text about spark shuffle partitions"),
        ],
        "doc_id long, text string",
    )
    spark.catalog.clearCache()
    before = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    kept = near_dedup_keep(docs, "doc_id", "text", threshold=0.5)
    assert sorted(r.doc_id for r in kept.collect()) == [1, 4]
    after = spark.sparkContext._jsc.sc().getPersistentRDDs().size()
    assert after <= before


def test_approx_quantiles_within_rank_error(spark, sf_dir):
    """approx_percentile must land within the sketch's rank-error
    bound of the exact percentile on real data."""
    from workshoop2_etl_spark.operators.analytics import (
        approx_quantiles,
        quantiles,
    )
    from workshoop2_etl_spark.sources.readers import read_parquet

    orders = read_parquet(spark, f"{sf_dir}/orders.parquet")
    probs = [0.25, 0.5, 0.75, 0.95]
    exact = {r.p: r.q for r in quantiles(orders, "o_totalprice", probs).collect()}
    approx = {
        r.p: r.q
        for r in approx_quantiles(
            orders, "o_totalprice", probs, accuracy=10000
        ).collect()
    }
    n = orders.count()
    values = sorted(
        r.o_totalprice for r in orders.select("o_totalprice").collect()
    )
    for p in probs:
        # rank of the approximate answer must be within n/accuracy of
        # the target rank (the sketch's contract)
        import bisect

        rank = bisect.bisect_left(values, approx[p])
        assert abs(rank - p * n) <= n / 10000 + 2, (p, exact[p], approx[p])


def test_drop_table_clears_qualified_orphan(spark):
    """drop_table on a db-qualified name must clear the orphaned
    warehouse directory at <warehouse>/db.db/tbl, not <warehouse>/
    db.tbl, so a reseed after a dead session succeeds."""
    import os
    from urllib.parse import urlparse

    from workshoop2_etl_spark.sources.writers import drop_table, seed_table

    spark.sql("CREATE DATABASE IF NOT EXISTS wsdb_test")
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    wh = urlparse(warehouse).path or warehouse
    orphan = os.path.join(wh, "wsdb_test.db", "t_orphan")
    os.makedirs(orphan, exist_ok=True)
    drop_table(spark, "wsdb_test.t_orphan")
    assert not os.path.isdir(orphan)
    df = spark.createDataFrame([(1, "a")], "id long, v string")
    seed_table(df, "wsdb_test.t_orphan")  # would die LOCATION_ALREADY_EXISTS
    assert spark.table("wsdb_test.t_orphan").count() == 1
    drop_table(spark, "wsdb_test.t_orphan")
    spark.sql("DROP DATABASE IF EXISTS wsdb_test")


def test_asof_join_rejects_colliding_value_cols(spark):
    import pytest as _pytest

    from workshoop2_etl_spark.operators.merge import asof_join

    left = spark.createDataFrame([(1, "k", 5)], "event_id long, key string, ts long")
    right = spark.createDataFrame([("k", 4, 7)], "key string, ts long, event_id long")
    with _pytest.raises(ValueError, match="collide"):
        asof_join(left, right, ["key"], "ts", value_cols=["event_id"])
    # prefixed, the same call is legal
    out = asof_join(
        left, right, ["key"], "ts",
        value_cols=["event_id"], matched_prefix="r_",
    )
    assert out.columns == ["event_id", "key", "ts", "r_event_id"]


def test_pack_chunks_requires_grouping(spark):
    import pytest as _pytest

    from workshoop2_etl_spark.operators.chunking import pack_chunks

    chunks = spark.createDataFrame(
        [(1, 0, 300)], "doc_id long, chunk_no int, n_tokens int"
    )
    with _pytest.raises(ValueError, match="group_cols"):
        pack_chunks(chunks, "doc_id", budget=512)
