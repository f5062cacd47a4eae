"""The benchmark's operations, written against the engine's public
functions only: ``sources.readers``, ``sources.writers``,
``plans.pipelines`` and the ``__spark_entry__.queries()`` registry.

The ETL load and the dashboard cards make up ``paper_etl``; the
registry queries make up ``registry_mix``. The runner in ``run.py``
owns rounds, timing, job groups and answer checks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from workshoop2_etl_spark.plans.pipelines import (
    DimSpec,
    clean_pipeline,
    merge_pipeline,
    star_pipeline,
)
from workshoop2_etl_spark.sources.readers import read_parquet
from workshoop2_etl_spark.sources.writers import write_parquet

#: Return-flag recode (the reference's genre map shape): two mapped
#: codes, ``N`` falls to the defaults ('Otro', original code).
FLAG_RECODE = {"A": ("Accepted", "accepted"), "R": ("Returned", "returned")}

#: The orders feed stops at this date, so lineitems of later orders
#: land in ``left_only`` and every ``_merge`` value occurs.
ORDERS_CUTOFF = "2001-01-01"

WAREHOUSE_TABLES = (
    "dim_priority",
    "dim_status",
    "dim_flag",
    "dim_customer",
    "fact_orders",
)

DIMS = (
    DimSpec("dim_priority", ["o_orderpriority"], "priority_id"),
    DimSpec("dim_status", ["o_orderstatus"], "status_id"),
    DimSpec("dim_flag", ["flag_group", "flag_sub"], "flag_id"),
    # Facts need a customer (the reference's null routing): lineitems
    # whose order is missing from the feed are FK misses.
    DimSpec("dim_customer", ["o_custkey"], "customer_id", required=True),
)

FACT_COLS = (
    "orderkey",
    "l_quantity",
    "l_extendedprice",
    "o_totalprice",
    "o_orderdate",
    "_merge",
)


def etl_load(spark: SparkSession, sf_dir: str, out_dir: str, tracer) -> None:
    """One full warehouse load into ``out_dir``: clean lineitem → outer
    merge with the orders feed and a parquet checkpoint → star schema →
    every table written as parquet."""
    with tracer.span("sources.read_parquet"):
        lineitem = read_parquet(spark, f"{sf_dir}/lineitem.parquet")
    with tracer.span("sources.read_parquet"):
        orders = read_parquet(spark, f"{sf_dir}/orders.parquet")
    with tracer.span("pipelines.clean_pipeline"):
        cleaned = clean_pipeline(
            lineitem.select(
                "l_orderkey", "l_partkey", "l_linenumber", "l_quantity",
                "l_extendedprice", "l_returnflag",
            ),
            required=["l_orderkey", "l_returnflag", "l_quantity"],
            recode_col="l_returnflag",
            recode_map=FLAG_RECODE,
            recode_out=["flag_group", "flag_sub"],
            recode_defaults=[F.lit("Otro"), F.col("l_returnflag")],
            dedup_key="l_orderkey",
            mode_col="l_quantity",
            order_cols=["l_linenumber", "l_partkey", "l_quantity"],
        )
    feed = orders.filter(F.col("o_orderdate") < F.lit(ORDERS_CUTOFF).cast("timestamp"))
    with tracer.span("pipelines.merge_pipeline"):
        merged = merge_pipeline(
            cleaned.withColumnRenamed("l_orderkey", "orderkey"),
            feed.withColumnRenamed("o_orderkey", "orderkey"),
            ["orderkey"],
            checkpoint_path=f"{out_dir}/merged",
        )
    with tracer.span("pipelines.star_pipeline"):
        dims, fact = star_pipeline(merged, DIMS, FACT_COLS)
    for name, df in (*dims.items(), ("fact_orders", fact)):
        with tracer.span("sources.write_parquet"):
            write_parquet(df, f"{out_dir}/{name}")


# ---------------------------------------------------------------------------
# Dashboard: the ten Metabase cards (SURVEY §3.3: A6, A11-A14 and the
# filter combo) over the star schema as written. Each card reads its
# tables the way a fresh dashboard request would.
# ---------------------------------------------------------------------------


def _cards():
    def kpi_customers(t):
        return t("fact_orders").agg(F.countDistinct("customer_id").alias("n_customers"))

    def kpi_customers_finished(t):
        return (
            t("fact_orders").join(t("dim_status"), "status_id")
            .filter(F.col("o_orderstatus") == "F")
            .agg(F.countDistinct("customer_id").alias("n_customers"))
        )

    def avg_price_by_priority(t):
        return (
            t("fact_orders").join(t("dim_priority"), "priority_id")
            .groupBy("o_orderpriority")
            .agg(
                F.round(F.avg("o_totalprice"), 4).alias("avg_price"),
                F.count(F.lit(1)).alias("n"),
            )
        )

    def top_customers(t):
        return (
            t("fact_orders").join(t("dim_customer"), "customer_id")
            .groupBy("o_custkey")
            .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
            .orderBy(F.desc("revenue"), F.asc("o_custkey"))
            .limit(15)
        )

    def year_flag_counts(t):
        return (
            t("fact_orders").join(t("dim_flag"), "flag_id")
            .groupBy(F.year("o_orderdate").alias("order_year"), "flag_group")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    def filter_combo(t):
        return (
            t("fact_orders").join(t("dim_status"), "status_id")
            .filter(
                (F.col("l_quantity") < 10)
                & (F.col("o_totalprice") > 400000)
                & (F.col("o_orderstatus") == "F")
            )
            .agg(F.count(F.lit(1)).alias("n"))
        )

    def revenue_by_status(t):
        return (
            t("fact_orders").join(t("dim_status"), "status_id")
            .groupBy("o_orderstatus")
            .agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
        )

    def flag_sub_counts(t):
        return (
            t("fact_orders").join(t("dim_flag"), "flag_id", "left")
            .groupBy("flag_sub")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    def merge_provenance(t):
        return t("fact_orders").groupBy("_merge").agg(F.count(F.lit(1)).alias("n"))

    def avg_quantity_by_flag(t):
        return (
            t("fact_orders").join(t("dim_flag"), "flag_id")
            .groupBy("flag_group")
            .agg(F.round(F.avg("l_quantity"), 4).alias("avg_qty"))
        )

    return {f.__name__: f for f in (
        kpi_customers, kpi_customers_finished, avg_price_by_priority,
        top_customers, year_flag_counts, filter_combo, revenue_by_status,
        flag_sub_counts, merge_provenance, avg_quantity_by_flag,
    )}


DASHBOARD_CARDS = _cards()


def build_card(spark: SparkSession, warehouse: str, name: str, tracer) -> DataFrame:
    """Card ``name`` over the warehouse directory, every table read anew."""

    def table(t: str) -> DataFrame:
        with tracer.span("sources.read_parquet"):
            return read_parquet(spark, f"{warehouse}/{t}")

    return DASHBOARD_CARDS[name](table)


# ---------------------------------------------------------------------------
# Registry mix: oracle-backed queries covering the operator layers the
# paper's ETL never touches.
# ---------------------------------------------------------------------------

REGISTRY_MIX = (
    "pagerank_fixed_point_copurchase",
    "entity_resolution_customers",
    "winnow_candidates_documents",
    "ngram_jaccard_pairs_documents",
    "triangles_copurchase_lineitem",
    "session_concurrency_events",
    "warc_pdf_extract_documents",
    "mode_or_first_lineitem",
)
