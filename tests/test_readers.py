"""The driver-side schema memo of ``read_parquet`` (``_SCHEMA_MEMO``):
one entry per local path, replayed only while the file's stat or the
directory's recursive listing is unchanged."""

from __future__ import annotations

import os
import uuid

import pytest

from workshoop2_etl_spark.sources import readers
from workshoop2_etl_spark.sources.readers import read_parquet
from workshoop2_etl_spark.sources.writers import write_parquet


def _jobs_fired(spark, fn):
    """``fn()`` under a fresh job group; returns its result and the
    number of Spark jobs that group ran."""
    sc = spark.sparkContext
    group = f"test-readers-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_rewritten_directory_reads_new_schema_and_rows(spark, tmp_path):
    path = str(tmp_path / "t")
    write_parquet(spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string"), path)
    first = read_parquet(spark, path)
    assert first.columns == ["id", "s"]
    assert read_parquet(spark, path).schema == first.schema  # memo replay
    entries = len(readers._SCHEMA_MEMO)

    write_parquet(spark.createDataFrame([(7, 1.5)], "k int, x double"), path)
    got = read_parquet(spark, path)
    assert got.schema == spark.read.parquet(path).schema
    assert got.columns == ["k", "x"]
    assert _rows(got) == [(7, 1.5)]
    # The rewrite replaced the path's entry instead of adding one.
    assert readers._SCHEMA_MEMO[os.path.realpath(path)][2] == got.schema
    assert len(readers._SCHEMA_MEMO) == entries


def test_part_file_added_by_hand_forces_reinference(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "t")
    write_parquet(spark.createDataFrame([(1,), (2,)], "id long"), path)
    read_parquet(spark, path)
    _, jobs = _jobs_fired(spark, lambda: read_parquet(spark, path))
    assert jobs == 0

    pq.write_table(pa.table({"id": pa.array([3], pa.int64())}), f"{path}/part-extra.parquet")
    got, jobs = _jobs_fired(spark, lambda: read_parquet(spark, path))
    assert jobs >= 1  # the new listing missed the memo: inference ran
    assert _rows(got) == [(1,), (2,), (3,)]


def test_partitioned_directory_replay_matches_inference(spark, sf_dir, tmp_path):
    path = str(tmp_path / "orders_by_status")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    write_parquet(orders, path, partition_by=["o_orderstatus"])
    read_parquet(spark, path)  # fills the memo
    replayed, jobs = _jobs_fired(spark, lambda: read_parquet(spark, path))
    assert jobs == 0
    inferred = spark.read.parquet(path)
    assert replayed.schema == inferred.schema
    assert replayed.columns[-1] == "o_orderstatus"
    assert _rows(replayed) == _rows(inferred)


def test_unchanged_directory_second_read_fires_no_job(spark, tmp_path):
    path = str(tmp_path / "t")
    write_parquet(spark.range(0, 100).selectExpr("id", "id % 7 AS k"), path)
    _, first_jobs = _jobs_fired(spark, lambda: read_parquet(spark, path))
    _, second_jobs = _jobs_fired(spark, lambda: read_parquet(spark, path))
    assert first_jobs >= 1
    assert second_jobs == 0


def test_glob_and_missing_paths_leave_no_entry(spark, tmp_path):
    path = str(tmp_path / "t")
    write_parquet(spark.createDataFrame([(1,)], "id long"), path)
    before = dict(readers._SCHEMA_MEMO)
    assert _rows(read_parquet(spark, f"{path}/*.parquet")) == [(1,)]
    with pytest.raises(Exception, match="PATH_NOT_FOUND|does not exist"):
        read_parquet(spark, str(tmp_path / "missing"))
    assert readers._SCHEMA_MEMO == before
