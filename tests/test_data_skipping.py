"""Storage-layout data skipping: range-clustered parquet must yield
(a) tight, near-disjoint row-group min/max spans — prunable by ANY
footer-reading engine — and (b) an actually-pruned Spark scan
(numOutputRows of the FileScan ≪ the unclustered twin's)."""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from workshoop2_etl_spark.sources.writers import cluster_parquet

N = 200_000
LO, HI = 100_000, 101_000  # 0.5% selectivity window on k


@pytest.fixture(scope="module")
def layouts(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("wsds"))
    df = spark.range(N).select(
        F.col("id").alias("k"), (F.col("id") * 7 % 1000).alias("v")
    )
    cluster_parquet(
        df, os.path.join(base, "clustered"), cluster_cols=["k"],
        n_files=8, rowgroup_bytes=64 * 1024,
    )
    # The unclustered twin models data with NO key/layout correlation
    # (arrival-ordered logs, hash-distributed ETL output): scrambling
    # by md5 makes every row group span ~the whole key domain.
    (
        df.repartition(8)
        .sortWithinPartitions(F.md5(F.col("k").cast("string")))
        .write.option("parquet.block.size", 64 * 1024)
        .mode("overwrite")
        .parquet(os.path.join(base, "hashed"))
    )
    return base


def _rowgroup_spans(path):
    spans = []
    for f in glob.glob(os.path.join(path, "*.parquet")):
        md = pq.ParquetFile(f).metadata
        for i in range(md.num_row_groups):
            st = md.row_group(i).column(0).statistics
            spans.append((st.min, st.max))
    return spans


def test_rowgroup_stats_tight(layouts):
    cl = _rowgroup_spans(os.path.join(layouts, "clustered"))
    ha = _rowgroup_spans(os.path.join(layouts, "hashed"))
    avg = lambda s: sum(b - a for a, b in s) / len(s)  # noqa: E731
    # Clustered groups each cover ~N/groups consecutive keys; hashed
    # groups span nearly the whole domain. Order of magnitude apart.
    assert avg(cl) * 10 < avg(ha)
    # Prunability for the test window: most clustered groups MISS it.
    missing = sum(1 for a, b in cl if b < LO or a > HI)
    assert missing >= 0.9 * len(cl)


def _scan_rows(spark, path):
    q = spark.read.parquet(path).filter(
        (F.col("k") >= LO) & (F.col("k") < HI)
    )
    q.collect()
    plan = q._jdf.queryExecution().executedPlan()
    leaves = plan.collectLeaves()
    total = 0
    for i in range(leaves.size()):
        node = leaves.apply(i)
        if "Scan" in node.getClass().getName():
            total += node.metrics().apply("numOutputRows").value()
    return total


def test_spark_scan_actually_prunes(spark, layouts):
    pruned = _scan_rows(spark, os.path.join(layouts, "clustered"))
    full = _scan_rows(spark, os.path.join(layouts, "hashed"))
    # The hashed layout reads ~everything (row-group stats useless);
    # the clustered layout touches only the covering groups. Require
    # ≥5× even allowing generous row-group boundaries.
    assert pruned * 5 <= full, (pruned, full)
    assert full >= 0.5 * N


def test_cluster_requires_cols(spark):
    df = spark.range(10)
    with pytest.raises(ValueError, match="cluster_cols"):
        cluster_parquet(df, "/tmp/never", cluster_cols=[])
