"""Global ranks and running totals without a global sort bottleneck.

``row_number() OVER (ORDER BY key)`` or ``sum(x) OVER (ORDER BY key)``
— the naive formulations — plan a single-partition window: every row
funnels through ONE task, the textbook scale failure.
:func:`running_sums` computes the same global running sums with the
classic two-phase range-partition prefix sum, and every global rank or
running total in the engine goes through it:

- :func:`assign_global_ids` (dense doc ids, and the order statistics
  of ``analytics.quantiles_ranked``);
- ``timeseries.concurrency_profile`` (sweep-line running sum);
- ``quality.ks_two_sample`` (empirical-CDF prefix sums).

Training pipelines want exactly these ids — stable, dense ``int64``
doc ids for shard addressing and example bookkeeping — and
``monotonically_increasing_id`` explicitly does NOT provide them
(non-contiguous, partition-layout-dependent).
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def running_sums(
    df: DataFrame,
    order_cols: Sequence[str],
    sums: Mapping[str, Column],
    *,
    num_partitions: int | None = None,
) -> DataFrame:
    """Return ``df`` plus one inclusive running-sum column per
    ``name -> Column`` in ``sums``, summed in global ``order_cols``
    order (ROWS frame: rows tied on ``order_cols`` each get their own,
    arbitrarily ordered, step).

    Two phases in ONE plan:

    1. range-repartition by ``order_cols`` into ``num_partitions``
       ranges (default: the default parallelism; Spark samples the
       boundaries, so ranges are balanced) and run each sum as a
       per-range window — parallel windows, one per range;
    2. total each sum per range (a P-row aggregate, P = #ranges),
       prefix-sum those totals over the range ids on one task (P
       longs — metadata, not data; ``coalesce(1)`` is a narrow pull
       whose output IS a single partition, so the window plans with
       no Exchange), broadcast-join the offsets back and add. Range
       ids are ordered by key range, so each range's offset is the
       sum of all ranges before it.

    The per-range rows and the per-range totals are two branches over
    the *same* range exchange. Spark's exchange reuse
    (``spark.sql.exchange.reuse`` and the AQE stage-reuse equivalent,
    both default-on) dedupes the identical subtrees, so the range
    shuffle executes ONCE and both branches read the same output.
    Correctness rides on that: ``repartitionByRange`` samples its
    boundaries with a seed derived from the runtime RDD id, so two
    separate executions of the same lineage may draw different
    boundaries once a partition holds more rows than the reservoir
    sample (~``spark.sql.execution.rangeExchange.sampleSizePerPartition``),
    and offsets totalled over one partitioning would then be added to
    rows of another. The offsets branch must therefore never re-run
    the range shuffle — no separate job, no driver collect of the
    totals. The subtrees are identical only if column pruning leaves
    them so: the totals branch reads just ``order_cols`` and the sum
    inputs, so a consumer that also keeps other columns of ``df`` gets
    two range exchanges (no ``ReusedExchange`` in the final plan),
    and its sums are wrong once those two samplings disagree. Pass
    only the columns the result needs and join the rest back by key.
    """
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    names = list(sums)
    runs = [f"__run{i}" for i in range(len(names))]
    offs = [f"__off{i}" for i in range(len(names))]
    ranged = df.repartitionByRange(n, *order_cols).withColumn(
        "__pid", F.spark_partition_id()
    )
    within = (
        Window.partitionBy("__pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = ranged.select(
        "*",
        *[F.sum(sums[c]).over(within).alias(r) for c, r in zip(names, runs)],
    )
    before = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        ranged.groupBy("__pid")
        .agg(*[F.sum(sums[c]).alias(o) for c, o in zip(names, offs)])
        .coalesce(1)
        .select(
            "__pid",
            *[
                F.coalesce(F.sum(o).over(before), F.lit(0)).alias(o)
                for o in offs
            ],
        )
    )
    return (
        local.join(F.broadcast(offsets), "__pid")
        .withColumns(
            {c: F.col(o) + F.col(r) for c, r, o in zip(names, runs, offs)}
        )
        .drop("__pid", *runs, *offs)
    )


def assign_global_ids(
    df: DataFrame,
    order_col: str,
    *,
    id_name: str = "gid",
    num_partitions: int | None = None,
) -> DataFrame:
    """Add a dense 0-based ``id_name`` column equal to each row's rank
    under ``order_col`` (which must be unique — duplicate keys get
    arbitrary but still unique ids within their tie group): the
    running count of :func:`running_sums`, minus one."""
    ranked = running_sums(
        df, [order_col], {id_name: F.lit(1)}, num_partitions=num_partitions
    )
    return ranked.withColumn(id_name, (F.col(id_name) - 1).cast("long"))
