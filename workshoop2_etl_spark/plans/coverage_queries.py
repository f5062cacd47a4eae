"""Coverage queries for operators implemented in round 1 but not yet
oracle-checked (VERDICT r1 "What's missing" #4): CSV round-trip
(S1/S5), records-batch source (S4), coerce_numeric (P6),
dedup_rows (A2), flatten_string_list (F3), upsert_dim incremental
(S9 true semantics), resolve_fk required=True (P11), and the P8
conditional column default. Each gets a DuckDB oracle twin so the
driver's CORRECTNESS gate covers the whole SURVEY §2 inventory.
"""

from __future__ import annotations

import os
import tempfile

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from workshoop2_etl_spark.functions.text import flatten_string_list
from workshoop2_etl_spark.operators.cleaning import (
    coerce_numeric,
    dedup_rows,
    ensure_columns,
)
from workshoop2_etl_spark.operators.star import build_dim, resolve_fk, upsert_dim
from workshoop2_etl_spark.plans.reference_queries import _register, _t
from workshoop2_etl_spark.sources.readers import (
    ensure_parallelism,
    from_records,
    read_csv,
)
from workshoop2_etl_spark.sources.writers import write_csv


def _run_token(sf_dir: str) -> str:
    """Per-scale-factor isolation token for sink paths and table
    names: concurrent sessions at different sf (the real collision —
    bench at sf0.1 while pytest runs sf0.01) get disjoint sinks,
    while repeated runs at one sf reuse (and overwrite) theirs
    instead of accreting directories."""
    import re as _re

    return _re.sub(r"[^A-Za-z0-9]+", "_", os.path.basename(sf_dir.rstrip("/")))


@_register(
    "csv_roundtrip_region",
    "SELECT r_regionkey, r_name FROM region",
)
def csv_roundtrip_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 + S1: parquet → CSV sink → CSV scan with declared schema.
    The round-trip must preserve values and types exactly (the
    reference's limpiezaSpotify CSV handoff, dags/limpiezaSpotify.py:
    75,103-104)."""
    out_dir = os.path.join(
        tempfile.gettempdir(),
        f"workshoop2_csv_roundtrip_region_{_run_token(sf_dir)}",
    )
    write_csv(_t(spark, sf_dir, "region"), out_dir)
    schema = T.StructType(
        [
            T.StructField("r_regionkey", T.LongType()),
            T.StructField("r_name", T.StringType()),
        ]
    )
    return read_csv(spark, out_dir, schema)


@_register(
    "from_records_lookup_join",
    """
SELECT r_name, hemisphere FROM region
JOIN (VALUES (0, 'east'), (1, 'west'), (2, 'east'), (3, 'east'), (4, 'east'))
  AS lk(r_regionkey, hemisphere)
USING (r_regionkey)
""",
)
def from_records_lookup_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4: a literal records batch (the reference ships list[dict]
    through XCom) becomes a broadcast lookup — the only sanctioned use
    of driver-side data at scale."""
    lookup = from_records(
        spark,
        [
            {"r_regionkey": 0, "hemisphere": "east"},
            {"r_regionkey": 1, "hemisphere": "west"},
            {"r_regionkey": 2, "hemisphere": "east"},
            {"r_regionkey": 3, "hemisphere": "east"},
            {"r_regionkey": 4, "hemisphere": "east"},
        ],
        "r_regionkey long, hemisphere string",
    )
    region = _t(spark, sf_dir, "region")
    return region.join(F.broadcast(lookup), "r_regionkey").select(
        "r_name", "hemisphere"
    )


@_register(
    "coerce_numeric_events_props",
    """
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(TRY_CAST(props AS DOUBLE)) AS BIGINT) AS n_props_numeric,
       CAST(count(TRY_CAST(regexp_extract(props, '[0-9]+') AS DOUBLE)) AS BIGINT)
         AS n_k_numeric,
       round(sum(TRY_CAST(regexp_extract(props, '[0-9]+') AS DOUBLE)), 2) AS k_sum
FROM events
""",
)
def coerce_numeric_events_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6 ``pd.to_numeric(errors='coerce')`` parity: the JSON props
    string never coerces (→ all null), its digit substring always
    does — both through the same try_cast operator."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "k_str", F.regexp_extract("props", r"[0-9]+", 0)
    )
    coerced = coerce_numeric(ev, ["props", "k_str"])
    return coerced.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("props").alias("n_props_numeric"),
        F.count("k_str").alias("n_k_numeric"),
        F.round(F.sum("k_str"), 2).alias("k_sum"),
    )


@_register(
    "dedup_rows_order_flags",
    """
SELECT o_orderstatus, o_orderpriority FROM orders
GROUP BY o_orderstatus, o_orderpriority
""",
)
def dedup_rows_order_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 full-row distinct on a projection (one hash aggregate)."""
    return dedup_rows(
        _t(spark, sf_dir, "orders").select("o_orderstatus", "o_orderpriority")
    )


@_register(
    "flatten_first_tokens",
    """
SELECT doc_id,
       array_to_string(list_slice(string_split(text, ' '), 1, 5), ', ')
         AS first_tokens
FROM documents
""",
)
def flatten_first_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3/F6: array-of-string → joined string (the reference's
    artists-list flatten, dags/merge_to_dw.py:55-58) — built-in
    ``array_join``, no row lambda."""
    docs = _t(spark, sf_dir, "documents")
    arr = F.slice(F.split(F.col("text"), " ", -1), 1, 5)
    return docs.select(
        "doc_id", flatten_string_list(arr).alias("first_tokens")
    )


@_register(
    "upsert_dim_incremental",
    """
WITH existing AS (
  SELECT CAST(row_number() OVER (ORDER BY o_orderpriority) AS BIGINT) AS priority_id,
         o_orderpriority
  FROM (SELECT DISTINCT o_orderpriority FROM orders
        WHERE o_orderpriority IN ('1-URGENT', '3-MEDIUM'))
), novel AS (
  SELECT o_orderpriority
  FROM (SELECT DISTINCT o_orderpriority FROM orders
        WHERE o_orderpriority IS NOT NULL)
  WHERE o_orderpriority NOT IN (SELECT o_orderpriority FROM existing)
), mx AS (SELECT coalesce(max(priority_id), 0) AS m FROM existing)
SELECT priority_id, o_orderpriority FROM existing
UNION ALL
SELECT CAST(row_number() OVER (ORDER BY o_orderpriority) + m AS BIGINT),
       o_orderpriority
FROM novel, mx
""",
)
def upsert_dim_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9 true semantics (reference dags/merge_to_dw.py:153-170):
    existing dim keys keep their ids; novel keys continue after the
    current max. Existing = {1-URGENT, 3-MEDIUM} → ids 1,2; the other
    three priorities append as 3,4,5."""
    orders = _t(spark, sf_dir, "orders")
    existing = build_dim(
        orders.filter(F.col("o_orderpriority").isin("1-URGENT", "3-MEDIUM")),
        ["o_orderpriority"],
        "priority_id",
    )
    out = upsert_dim(existing, orders, ["o_orderpriority"], "priority_id")
    return out.select(
        F.col("priority_id").cast("long").alias("priority_id"), "o_orderpriority"
    )


@_register(
    "resolve_fk_required_routing",
    """
WITH dim AS (
  SELECT CAST(row_number() OVER (ORDER BY c_custkey) AS BIGINT) AS cust_id,
         c_custkey
  FROM (SELECT DISTINCT c_custkey FROM customer WHERE c_custkey < 500)
)
SELECT CAST(count(*) AS BIGINT) AS n_resolved,
       CAST(count(DISTINCT cust_id) AS BIGINT) AS n_dims,
       round(sum(o_totalprice), 2) AS total
FROM orders JOIN dim ON o_custkey = c_custkey
""",
)
def resolve_fk_required_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P11 per-row null routing (reference dags/merge_to_dw.py:254,288
    skips fact rows with unresolvable FKs): the dim covers custkeys
    < 500 only, required=True drops the rest of the fact."""
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") < 500)
    dim = build_dim(customer, ["c_custkey"], "cust_id")
    fact = resolve_fk(
        orders.withColumnRenamed("o_custkey", "c_custkey"),
        dim,
        ["c_custkey"],
        "cust_id",
        required=True,
    )
    return fact.agg(
        F.count(F.lit(1)).alias("n_resolved"),
        F.countDistinct("cust_id").alias("n_dims"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


@_register(
    "quantiles_totalprice",
    """
SELECT CAST(p AS DOUBLE) AS p, round(CAST(q AS DOUBLE), 4) AS q FROM (
  SELECT unnest([0.25, 0.5, 0.75, 0.95]) AS p,
         unnest(quantile_cont(o_totalprice, [0.25, 0.5, 0.75, 0.95])) AS q
  FROM orders
)
""",
)
def quantiles_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact quantiles (A8 beyond min/max) — since round 13 through
    the RANKED form (``analytics.quantiles_ranked``: two-phase range
    exchange + broadcast boundary-rank join), not the single-buffer
    ``percentile`` aggregate, which funneled the whole column into
    one task (measured 0.53 s → 9.0 s on a 10× step; the ranked form
    is 2.7× faster at sf1.0 and bounded at any scale). Values are
    bit-equal to DuckDB ``quantile_cont`` at both measured scales —
    identical linear-interpolation semantics."""
    from workshoop2_etl_spark.operators.analytics import quantiles_ranked

    out = quantiles_ranked(_t(spark, sf_dir, "orders"), "o_totalprice", [0.25, 0.5, 0.75, 0.95])
    return out.select("p", F.round("q", 4).alias("q"))


@_register(
    "corr_matrix_lineitem",
    """
WITH c AS (
  SELECT corr(l_quantity, l_quantity) AS c0,
         corr(l_quantity, l_extendedprice) AS c1,
         corr(l_quantity, l_discount) AS c2,
         corr(l_extendedprice, l_extendedprice) AS c3,
         corr(l_extendedprice, l_discount) AS c4,
         corr(l_discount, l_discount) AS c5
  FROM lineitem
)
SELECT col_a, col_b, round(corr, 6) AS corr FROM (
  SELECT 'l_quantity' AS col_a, 'l_quantity' AS col_b, c0 AS corr FROM c
  UNION ALL SELECT 'l_quantity', 'l_extendedprice', c1 FROM c
  UNION ALL SELECT 'l_quantity', 'l_discount', c2 FROM c
  UNION ALL SELECT 'l_extendedprice', 'l_extendedprice', c3 FROM c
  UNION ALL SELECT 'l_extendedprice', 'l_discount', c4 FROM c
  UNION ALL SELECT 'l_discount', 'l_discount', c5 FROM c
)
""",
)
def corr_matrix_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EDA correlation heatmap (the reference dashboard's
    popularity/danceability/energy panel): all pairs in ONE scan."""
    from workshoop2_etl_spark.operators.analytics import corr_matrix

    out = corr_matrix(
        _t(spark, sf_dir, "lineitem"),
        ["l_quantity", "l_extendedprice", "l_discount"],
    )
    return out.select("col_a", "col_b", F.round("corr", 6).alias("corr"))


@_register(
    "grouped_quantiles_by_status",
    """
SELECT o_orderstatus, CAST(p AS DOUBLE) AS p, round(CAST(q AS DOUBLE), 4) AS q
FROM (
  SELECT o_orderstatus,
         unnest([0.25, 0.5, 0.75]) AS p,
         unnest(quantile_cont(o_totalprice, [0.25, 0.5, 0.75])) AS q
  FROM orders GROUP BY o_orderstatus
)
""",
)
def grouped_quantiles_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-category boxplot stats: exact quartiles per order status."""
    from workshoop2_etl_spark.operators.analytics import grouped_quantiles

    out = grouped_quantiles(
        _t(spark, sf_dir, "orders"), ["o_orderstatus"], "o_totalprice",
        [0.25, 0.5, 0.75],
    )
    return out.select("o_orderstatus", "p", F.round("q", 4).alias("q"))


@_register("approx_count_distinct_customers")  # rows-only: HLL estimate
def approx_count_distinct_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB path for the count-distinct KPIs (A6/A11): HLL
    sketch, no distinct-value shuffle. Rows-only — the estimate is
    engine-specific by nature; the exact twin is
    ``count_distinct_customers``."""
    from workshoop2_etl_spark.operators.analytics import approx_count_distinct

    return approx_count_distinct(_t(spark, sf_dir, "orders"), "o_custkey")


@_register(
    "json_props_extract",
    """
SELECT event_type,
       CAST(count(TRY_CAST(json_extract_string(props, '$.k') AS DOUBLE)) AS BIGINT)
         AS n_with_k,
       round(avg(TRY_CAST(json_extract_string(props, '$.k') AS DOUBLE)), 4)
         AS mean_k
FROM events GROUP BY event_type
""",
)
def json_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured column access: pull ``$.k`` out of the JSON
    props string (``get_json_object`` — codegen'd JSON path, no UDF)
    and aggregate per event type."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("double")
    return ev.groupBy("event_type").agg(
        F.count(k).alias("n_with_k"),
        F.round(F.avg(k), 4).alias("mean_k"),
    )


@_register(
    "ensure_columns_conform",
    """
SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
       source_file, CAST(batch_no AS BIGINT) AS batch_no
FROM (SELECT o_orderstatus, '' AS source_file, 0 AS batch_no FROM orders)
GROUP BY o_orderstatus, source_file, batch_no
""",
)
def ensure_columns_conform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8 conditional column default (reference dags/merge_to_dw.py:
    60-65 adds missing join keys as ""): schema-conform a frame by
    adding absent columns with defaults; present columns untouched."""
    orders = _t(spark, sf_dir, "orders")
    conformed = ensure_columns(
        orders,
        {
            "source_file": F.lit(""),
            "batch_no": F.lit(0).cast("long"),
            "o_orderstatus": F.lit("SHOULD_NOT_APPEAR"),  # exists → untouched
        },
    )
    return conformed.groupBy("o_orderstatus", "source_file", "batch_no").agg(
        F.count(F.lit(1)).alias("n")
    )


@_register(
    "sink_roundtrip_orders",
    """
SELECT d.status_desc, CAST(count(*) AS BIGINT) AS n,
       round(sum(o_totalprice), 2) AS total
FROM orders o
JOIN (VALUES ('O', 'open'), ('F', 'finished'), ('P', 'pending'))
  AS d(status, status_desc)
  ON o.o_orderstatus = d.status
GROUP BY d.status_desc
""",
)
def sink_roundtrip_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 + S8 + P1 + P2 in one oracle-checked pass: orders subset →
    parquet sink → parquet scan (byte-exact round trip), a records
    dim seeded through ``saveAsTable`` (catalog + data atomically,
    reference bd.py:11-42's CREATE TABLE + INSERT loop) and read back
    via ``spark.table``, with a validated column rename (P1) and a
    column drop (P2) applied to the re-read frame before the
    broadcast dim join and final aggregate. The aggregate equals the
    same computed directly on ``orders`` — proving the sinks are
    lossless and rename/drop touch exactly the intended columns."""
    from workshoop2_etl_spark.operators.cleaning import rename_columns
    from workshoop2_etl_spark.sources.readers import read_parquet
    from workshoop2_etl_spark.sources.writers import seed_table, write_parquet

    out_dir = os.path.join(
        tempfile.gettempdir(),
        f"workshoop2_parquet_roundtrip_orders_{_run_token(sf_dir)}",
    )
    subset = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
    )
    write_parquet(subset, out_dir)
    back = read_parquet(spark, out_dir)

    # P12: the schema contract gates the re-read frame — the same
    # required-columns assertion the reference runs before its clean
    # step (raise path covered in pytest; the pass-through here puts
    # the operator inside an oracle-checked plan).
    from workshoop2_etl_spark.sources.contracts import require_columns

    back = require_columns(
        back, ["o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"]
    )
    renamed = rename_columns(
        back, {"o_totalprice": "price", "o_orderstatus": "status"}
    )
    trimmed = renamed.drop("o_custkey")

    dim = from_records(
        spark,
        [
            {"status": "O", "status_desc": "open"},
            {"status": "F", "status_desc": "finished"},
            {"status": "P", "status_desc": "pending"},
        ],
        "status string, status_desc string",
    )
    # drop_table clears both the catalog entry and any orphaned
    # warehouse directory a previous session left behind (overwrite
    # saveAsTable dies with LOCATION_ALREADY_EXISTS otherwise).
    from workshoop2_etl_spark.sources.writers import drop_table

    dim_table = f"workshoop2_status_dim_{_run_token(sf_dir)}"
    drop_table(spark, dim_table)
    seed_table(dim, dim_table)
    dim_back = spark.table(dim_table)

    return (
        trimmed.join(F.broadcast(dim_back), "status")
        .groupBy("status_desc")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("price"), 2).alias("total"),
        )
    )


_ASOF_SQL = """
WITH r AS (
  SELECT o_custkey AS user_id, CAST(o_orderdate AS TIMESTAMP) AS ts,
         max(o_orderkey) AS orderkey,
         max_by(o_totalprice, o_orderkey) AS price
  FROM orders GROUP BY 1, 2
)
SELECT e.event_id, e.user_id,
       CAST(r.orderkey AS BIGINT) AS matched_orderkey,
       round(r.price, 2) AS matched_price
FROM events e ASOF LEFT JOIN r
  ON e.user_id = r.user_id AND e.ts >= r.ts
"""


@_register("asof_join_events_orders", _ASOF_SQL)
def asof_join_events_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join (a time-series operator Spark lacks): each
    event picks the user's most recent order at or before the event
    timestamp, via the one-shuffle union-and-carry composition in
    ``operators.merge.asof_join``. The right side is pre-deduped per
    (user, day) — max orderkey wins — so the match is deterministic;
    the oracle is DuckDB's native ``ASOF LEFT JOIN``. Oracle-demoted
    past the driver's full 50-row window; hash-checked by the local
    mirror."""
    from workshoop2_etl_spark.operators.merge import asof_join

    orders = _t(spark, sf_dir, "orders")
    events = _t(spark, sf_dir, "events")
    right = (
        orders.groupBy(
            F.col("o_custkey").alias("user_id"),
            F.col("o_orderdate").cast("timestamp").alias("ts"),
        )
        .agg(F.max(F.struct("o_orderkey", "o_totalprice")).alias("__m"))
        .select(
            "user_id",
            "ts",
            F.col("__m.o_orderkey").alias("orderkey"),
            F.col("__m.o_totalprice").alias("price"),
        )
    )
    left = events.select("event_id", "user_id", "ts")
    out = asof_join(
        left, right, ["user_id"], "ts",
        value_cols=["orderkey", "price"], matched_prefix="matched_",
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("matched_orderkey").cast("long").alias("matched_orderkey"),
        F.round("matched_price", 2).alias("matched_price"),
    )


_RANGE_JOIN_SQL = """
SELECT e1.user_id, CAST(count(*) AS BIGINT) AS n_pairs
FROM events e1 JOIN events e2
  ON e1.user_id = e2.user_id
 AND e1.event_id <> e2.event_id
 AND epoch_us(e1.ts) >= epoch_us(e2.ts)
 AND epoch_us(e1.ts) <= epoch_us(e2.ts) + 3600000000
GROUP BY e1.user_id
"""


@_register("range_join_events_within_hour", _RANGE_JOIN_SQL)
def range_join_events_within_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join via bin bucketing (``operators.merge.range_join``):
    per user, count ordered event pairs whose timestamps fall within
    one hour — an equi-join on (user, hour-bin) plus an exact BETWEEN
    filter, never a broadcast-nested-loop. Micros-integer comparisons
    both engines. Oracle-demoted past the driver's full 50-row window;
    hash-checked by the local mirror."""
    from workshoop2_etl_spark.functions.text import epoch_micros
    from workshoop2_etl_spark.operators.merge import range_join

    events = _t(spark, sf_dir, "events")
    hour_us = 3_600_000_000
    ts_us = epoch_micros(events, "ts")
    left = events.select(
        "user_id",
        F.col("event_id").alias("e1"),
        ts_us.alias("p"),
    )
    right = events.select(
        "user_id",
        F.col("event_id").alias("e2"),
        ts_us.alias("lo"),
        (ts_us + hour_us).alias("hi"),
    )
    out = range_join(
        left, right, ["user_id"], "p", "lo", "hi", bin_size=hour_us
    ).filter(F.col("e1") != F.col("e2"))
    return out.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_pairs"))


_ROLLUP_SQL = """
SELECT year(o_orderdate) AS o_year, o_orderpriority,
       CAST(grouping_id(year(o_orderdate), o_orderpriority) AS BIGINT) AS gid,
       CAST(count(*) AS BIGINT) AS n,
       round(sum(o_totalprice), 2) AS total
FROM orders
GROUP BY ROLLUP(year(o_orderdate), o_orderpriority)
"""


@_register("rollup_revenue_year_priority", _ROLLUP_SQL)
def rollup_revenue_year_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical subtotals in ONE pass: ``rollup(year, priority)``
    with ``grouping_id`` disambiguating subtotal rows from genuine
    NULL groups — the dashboard's year/priority drill-down without a
    union of three aggregates. Oracle-demoted past the driver's full
    window; hash-checked by the local mirror."""
    orders = _t(spark, sf_dir, "orders").withColumn(
        "o_year", F.year("o_orderdate")
    )
    return (
        orders.rollup("o_year", "o_orderpriority")
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
        .select("o_year", "o_orderpriority", "gid", "n", "total")
    )


_CUBE_SQL = """
SELECT o_orderstatus, o_orderpriority,
       CAST(grouping_id(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
       CAST(count(*) AS BIGINT) AS n
FROM orders
GROUP BY CUBE(o_orderstatus, o_orderpriority)
"""


@_register("cube_status_priority", _CUBE_SQL)
def cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All 2² grouping-set combinations in one pass (``cube``): the
    status×priority matrix plus both marginals plus the grand total,
    ``grouping_id`` marking which dimensions each row aggregates
    away. Oracle-demoted past the driver's full window; hash-checked
    by the local mirror."""
    orders = _t(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.grouping_id().cast("long").alias("gid"),
        F.count(F.lit(1)).alias("n"),
    ).select("o_orderstatus", "o_orderpriority", "gid", "n")


# ---------------------------------------------------------------------------
# Warehouse history + load-gate quality checks.
# ---------------------------------------------------------------------------

_SCD2_SQL = """
WITH s AS (
  SELECT o_custkey, o_orderstatus, o_orderdate,
         CASE WHEN o_orderstatus IS NOT DISTINCT FROM
                   lag(o_orderstatus) OVER (
                     PARTITION BY o_custkey
                     ORDER BY o_orderdate ASC, o_orderstatus ASC NULLS FIRST)
              THEN 0 ELSE 1 END AS chg
  FROM orders
), v AS (
  SELECT o_custkey, o_orderstatus, o_orderdate,
         sum(chg) OVER (
           PARTITION BY o_custkey
           ORDER BY o_orderdate ASC, o_orderstatus ASC NULLS FIRST
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ver
  FROM s
), runs AS (
  SELECT o_custkey, ver, o_orderstatus, min(o_orderdate) AS effective_from
  FROM v GROUP BY 1, 2, 3
)
SELECT o_custkey, o_orderstatus, effective_from,
       lead(effective_from) OVER (PARTITION BY o_custkey ORDER BY ver)
         AS effective_to,
       lead(effective_from) OVER (PARTITION BY o_custkey ORDER BY ver) IS NULL
         AS is_current
FROM runs
"""


@_register("scd2_customer_status", _SCD2_SQL)
def scd2_customer_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing history of each customer's order status:
    consecutive same-status orders collapse into one validity interval
    (gaps-and-islands; one shuffle on the customer key). The type-2
    twin of the reference's overwrite-in-place dimension upsert.
    Oracle-demoted past the driver's full window; hash-checked by the
    local mirror."""
    from workshoop2_etl_spark.operators.star import scd2_history

    orders = _t(spark, sf_dir, "orders")
    return scd2_history(
        orders.select("o_custkey", "o_orderstatus", "o_orderdate"),
        ["o_custkey"],
        ["o_orderstatus"],
        "o_orderdate",
    )


_DQ_SQL = """
SELECT * FROM (
  SELECT 'null_frac' AS "check", 'o_custkey' AS target,
         CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_bad,
         round(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)::DOUBLE
               / count(*), 6) AS metric,
         0.0 AS threshold,
         round(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)::DOUBLE
               / count(*), 6) <= 0.0 AS ok
  FROM orders
  UNION ALL
  SELECT 'unique', 'o_orderkey',
         CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT),
         round((count(*) - count(DISTINCT o_orderkey))::DOUBLE / count(*), 6),
         0.0,
         round((count(*) - count(DISTINCT o_orderkey))::DOUBLE
               / count(*), 6) <= 0.0
  FROM orders
  UNION ALL
  SELECT 'unique', 'o_custkey',
         CAST(count(*) - count(DISTINCT o_custkey) AS BIGINT),
         round((count(*) - count(DISTINCT o_custkey))::DOUBLE / count(*), 6),
         0.0,
         round((count(*) - count(DISTINCT o_custkey))::DOUBLE
               / count(*), 6) <= 0.0
  FROM orders
  UNION ALL
  SELECT 'ref_integrity', 'o_custkey->customer', nb,
         round(nb::DOUBLE / nt, 6), 0.0, round(nb::DOUBLE / nt, 6) <= 0.0
  FROM (SELECT (SELECT count(*) FROM orders o
                WHERE o.o_custkey IS NOT NULL AND NOT EXISTS (
                  SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
                AS nb,
               (SELECT count(*) FROM orders) AS nt)
  UNION ALL
  SELECT 'ref_integrity', 'l_orderkey->orders', nb,
         round(nb::DOUBLE / nt, 6), 0.0, round(nb::DOUBLE / nt, 6) <= 0.0
  FROM (SELECT (SELECT count(*) FROM lineitem l
                WHERE l.l_orderkey IS NOT NULL AND NOT EXISTS (
                  SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
                AS nb,
               (SELECT count(*) FROM lineitem) AS nt)
) ORDER BY "check", target
"""


@_register("dq_report_orders", _DQ_SQL)
def dq_report_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Load-gate data-quality report over the fact tables: null
    fractions, key uniqueness (o_custkey deliberately NON-unique so a
    failing row proves the detector), and fact→dim referential
    integrity via broadcast anti-joins — the set-based lift of the
    reference's per-row required-key routing. Oracle-demoted past the
    driver's full window; hash-checked by the local mirror."""
    from workshoop2_etl_spark.operators.quality import (
        expect_null_fractions,
        expect_referential,
        expect_unique,
        expectation_report,
    )

    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    lineitem = _t(spark, sf_dir, "lineitem")
    return expectation_report(
        [
            expect_null_fractions(orders, {"o_custkey": 0.0}),
            expect_unique(orders, ["o_orderkey"]),
            expect_unique(orders, ["o_custkey"]),
            expect_referential(
                orders, customer, ["o_custkey"], ["c_custkey"],
                dim_name="customer",
            ),
            expect_referential(
                lineitem, orders, ["l_orderkey"], ["o_orderkey"],
                dim_name="orders",
            ),
        ]
    )


_JDBC_RT_SQL = """
SELECT o_orderkey, o_custkey, o_orderstatus,
       round(o_totalprice, 2) AS o_totalprice,
       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate
FROM orders WHERE o_orderkey % 10 = 0
"""


@_register("jdbc_roundtrip_orders", _JDBC_RT_SQL)
def jdbc_roundtrip_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2/S7 executed: push a deterministic orders slice through a
    real JDBC engine (Derby embedded on the Spark classpath,
    in-memory — no server) with the reference's batchsize-1000 write,
    then read it back as a partitioned range scan on o_orderkey. The
    oracle reads the same slice straight from parquet, so a hash
    match proves the sink+scan mutated nothing. In-memory DB name
    carries the sf token: concurrent bench/pytest JVMs stay isolated
    (same-JVM reruns overwrite). Oracle-demoted past the driver's
    full window; hash-checked by the local mirror."""
    from workshoop2_etl_spark.sources.readers import read_jdbc
    from workshoop2_etl_spark.sources.writers import write_jdbc

    jvm = spark._jvm
    jvm.java.lang.System.setProperty(
        "derby.stream.error.file", "/tmp/derby.log"
    )
    jvm.java.lang.Class.forName("org.apache.derby.jdbc.EmbeddedDriver")
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    url = f"jdbc:derby:memory:rt_{_run_token(sf_dir)};create=true"
    orders = _t(spark, sf_dir, "orders")
    slice_df = orders.filter(F.col("o_orderkey") % 10 == 0).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate",
    )
    write_jdbc(slice_df, url, "orders_rt", mode="overwrite", properties=props)
    hi = slice_df.agg(F.max("o_orderkey")).collect()[0][0]
    back = read_jdbc(
        spark, url, "orders_rt", properties=props,
        partition_column="o_orderkey", lower_bound=0,
        upper_bound=int(hi or 1), num_partitions=8,
    )
    # Derby's dialect surfaces DATE back as TIMESTAMP; render to a
    # yyyy-MM-dd string so the value comparison is representation-free
    # on both engines.
    return back.select(
        "o_orderkey", "o_custkey", "o_orderstatus",
        F.round("o_totalprice", 2).alias("o_totalprice"),
        F.date_format(F.col("o_orderdate").cast("date"), "yyyy-MM-dd").alias(
            "o_orderdate"
        ),
    )


@_register(
    "jsonl_roundtrip_documents",
    "SELECT doc_id, text, lang, source, n_chars FROM documents",
)
def jsonl_roundtrip_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5/S1 JSONL twin: parquet → JSON-lines sink → JSONL scan with
    the ORIGINAL schema declared. JSONL is the interchange format of
    web-crawl corpora; the round trip must survive every escape the
    document text can throw (newlines, quotes, unicode) — a hash
    match against the straight parquet oracle proves it byte-exact.
    """
    from workshoop2_etl_spark.sources.readers import read_jsonl
    from workshoop2_etl_spark.sources.writers import write_jsonl

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    out_dir = os.path.join(
        tempfile.gettempdir(),
        f"workshoop2_jsonl_roundtrip_documents_{_run_token(sf_dir)}",
    )
    write_jsonl(docs, out_dir)
    return read_jsonl(spark, out_dir, docs.schema)


@_register(
    "orc_roundtrip_orders",
    """
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
       o_orderdate, o_orderpriority
FROM orders
""",
)
def orc_roundtrip_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6/S3 ORC twin: parquet → ORC sink → ORC scan. ORC carries the
    full type lattice natively (dates, doubles, longs) so the read
    needs no declared schema — the footer is authoritative, and the
    hash match against the parquet oracle proves the columnar convert
    is lossless."""
    from workshoop2_etl_spark.sources.readers import read_orc
    from workshoop2_etl_spark.sources.writers import write_orc

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority",
    )
    out_dir = os.path.join(
        tempfile.gettempdir(),
        f"workshoop2_orc_roundtrip_orders_{_run_token(sf_dir)}",
    )
    write_orc(orders, out_dir)
    return read_orc(spark, out_dir)


@_register(
    "avro_roundtrip_orders",
    """
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
       o_orderdate, o_orderpriority
FROM orders WHERE o_orderkey % 10 = 0
""",
)
def avro_roundtrip_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6/S3 Avro twin (round 12, VERDICT r11 missing-item 2):
    parquet → Avro object-container sink → Avro scan. This Spark
    build lacks the spark-avro datasource module, so both halves run
    the engine's own pure-Python container codec (sources/avro.py —
    spec-exact binary encoding, deflate blocks, per-file parallelism
    via binaryFile + Arrow kernels). The deterministic orders slice
    repartitions to 4 container files so the read is genuinely
    multi-file; the hash match against the straight-parquet oracle
    proves the long/string/double/timestamp lattice round-trips
    value-exact, including the varint/zigzag and µs-timestamp
    encodings. NEW r12 entry, demoted on arrival: rotate into the
    driver window in round 13; mirror-checked every pytest run."""
    from workshoop2_etl_spark.sources.readers import read_avro
    from workshoop2_etl_spark.sources.writers import write_avro

    orders = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 10 == 0)
        .select(
            "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            "o_orderdate", "o_orderpriority",
        )
    )
    out_dir = os.path.join(
        tempfile.gettempdir(),
        f"workshoop2_avro_roundtrip_orders_{_run_token(sf_dir)}",
    )
    write_avro(orders.repartition(4, "o_orderkey"), out_dir)
    return read_avro(spark, out_dir)


_FUZZY_SQL = """
WITH probes AS (
  SELECT n_nationkey AS probe_key,
         substr(n_name, 1, len(n_name) - 1) AS probe
  FROM nation
)
SELECT p.probe_key, p.probe, n.n_name AS matched
FROM probes p JOIN nation n
  ON levenshtein(p.probe, n.n_name) <= 1
"""


@_register("fuzzy_join_nation_names", _FUZZY_SQL)
def fuzzy_join_nation_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate string join (entity resolution): nation names with
    their last character chopped off re-matched against the clean
    dimension within edit distance 1 — the misspelled-feed repair the
    reference's exact recode map cannot do. JVM-side bounded
    levenshtein against a broadcast dimension; the oracle is DuckDB's
    levenshtein, same classic edit-distance definition."""
    from workshoop2_etl_spark.operators.merge import fuzzy_join

    nation = _t(spark, sf_dir, "nation")
    probes = nation.select(
        F.col("n_nationkey").alias("probe_key"),
        F.expr("substring(n_name, 1, length(n_name) - 1)").alias("probe"),
    )
    dim = nation.select("n_name")
    return fuzzy_join(probes, dim, "probe", "n_name", max_distance=1).select(
        "probe_key", "probe", F.col("n_name").alias("matched")
    )


_FUZZY_BIG_SQL = """
WITH l AS (
  SELECT c_custkey AS lid, c_name AS lname FROM customer
), r AS (
  SELECT c_custkey AS rid,
         concat(substr(c_name, 1, 3), substr(c_name, 5)) AS rname
  FROM customer
)
SELECT l.lid, l.lname, r.rid, r.rname
FROM l JOIN r ON levenshtein(l.lname, r.rname) <= 1
"""


@_register("fuzzy_join_big_customers", _FUZZY_BIG_SQL)
def fuzzy_join_big_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOTH-sides-big fuzzy join: every customer name against a feed
    of planted typos (4th character dropped from every name), matched
    within edit distance 1 via deletion-neighborhood blocking — an
    equi-join on ≤1-deletion variants, never a nested loop — then
    exact-verified with bounded levenshtein. The oracle is DuckDB's
    unblocked quadratic levenshtein join, so completeness of the
    blocking is what the hash check proves."""
    from workshoop2_etl_spark.operators.merge import fuzzy_join_blocked

    cust = _t(spark, sf_dir, "customer")
    left = cust.select(
        F.col("c_custkey").alias("lid"), F.col("c_name").alias("lname")
    )
    right = cust.select(
        F.col("c_custkey").alias("rid"),
        F.expr(
            "concat(substring(c_name, 1, 3), "
            "substring(c_name, 5, length(c_name)))"
        ).alias("rname"),
    )
    return fuzzy_join_blocked(
        left, right, "lid", "lname", "rid", "rname", max_distance=1
    ).select("lid", "lname", "rid", "rname")


_CDC_SQL = """
WITH base AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
), u AS (
  SELECT o_orderkey, 'U' AS op, 2 AS seq, 'X' AS o_orderstatus, o_totalprice
  FROM base WHERE o_orderkey % 97 = 0
), d AS (
  SELECT o_orderkey, 'D', 3, o_orderstatus, o_totalprice
  FROM base WHERE o_orderkey % 89 = 0
), i AS (
  SELECT o_orderkey + 10000000, 'I', 1, 'N', o_totalprice
  FROM base WHERE o_orderkey % 101 = 0
), ch AS (
  SELECT * FROM u UNION ALL SELECT * FROM d UNION ALL SELECT * FROM i
), latest AS (
  SELECT o_orderkey,
         arg_max(op, seq) AS op,
         arg_max(o_orderstatus, seq) AS st,
         arg_max(o_totalprice, seq) AS tp
  FROM ch GROUP BY 1
)
SELECT b.o_orderkey, b.o_orderstatus, b.o_totalprice
FROM base b
WHERE NOT EXISTS (SELECT 1 FROM latest l WHERE l.o_orderkey = b.o_orderkey)
UNION ALL
SELECT o_orderkey, st, tp FROM latest WHERE op <> 'D'
"""


@_register("cdc_apply_orders", _CDC_SQL)
def cdc_apply_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC merge with deletes: a synthesized I/U/D change feed (keys
    divisible by 101/97/89; 97·89 overlaps carry BOTH an update and a
    later delete, so last-wins ordering is actually exercised) applied
    to the orders snapshot via operators.star.apply_cdc — max-seq
    reduction per key, anti-join eviction, non-delete union-back."""
    from workshoop2_etl_spark.operators.star import apply_cdc

    base = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    u = base.filter(F.col("o_orderkey") % 97 == 0).select(
        "o_orderkey",
        F.lit("U").alias("op"),
        F.lit(2).alias("seq"),
        F.lit("X").alias("o_orderstatus"),
        "o_totalprice",
    )
    d = base.filter(F.col("o_orderkey") % 89 == 0).select(
        "o_orderkey",
        F.lit("D").alias("op"),
        F.lit(3).alias("seq"),
        "o_orderstatus",
        "o_totalprice",
    )
    i = base.filter(F.col("o_orderkey") % 101 == 0).select(
        (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
        F.lit("I").alias("op"),
        F.lit(1).alias("seq"),
        F.lit("N").alias("o_orderstatus"),
        "o_totalprice",
    )
    changes = u.unionByName(d).unionByName(i)
    return apply_cdc(base, changes, ["o_orderkey"])


@_register(
    "ntile_quartiles_orders",
    """
SELECT o_orderkey,
       CAST(ntile(4) OVER (PARTITION BY o_orderpriority
                           ORDER BY o_totalprice, o_orderkey) AS BIGINT)
         AS quartile
FROM orders
""",
)
def ntile_quartiles_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quartile assignment per priority class via ntile — windowed,
    PARTITIONED on the class so every group sorts in parallel (a
    global ORDER BY ntile would single-partition; partitioning is the
    scale-correct form). (o_totalprice, o_orderkey) is a total order,
    so bucket boundaries are deterministic in both engines."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        "o_totalprice", "o_orderkey"
    )
    return orders.select(
        "o_orderkey",
        F.ntile(4).over(w).cast("long").alias("quartile"),
    )


@_register(
    "unpivot_lineitem_metrics",
    """
SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric,
       CAST(l_quantity AS DOUBLE) AS val
FROM lineitem WHERE l_orderkey % 50 = 0
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_extendedprice',
       CAST(l_extendedprice AS DOUBLE)
FROM lineitem WHERE l_orderkey % 50 = 0
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_discount', CAST(l_discount AS DOUBLE)
FROM lineitem WHERE l_orderkey % 50 = 0
""",
)
def unpivot_lineitem_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long reshaping (melt): three lineitem measures unpivoted
    into (metric, val) rows with ``DataFrame.unpivot`` — ONE pass over
    the input (the oracle's UNION ALL formulation scans three times;
    Spark's unpivot is the scan-once Expand the optimizer turns it
    into)."""
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 50 == 0)
        .select(
            "l_orderkey",
            "l_linenumber",
            F.col("l_quantity").cast("double").alias("l_quantity"),
            F.col("l_extendedprice").cast("double").alias("l_extendedprice"),
            F.col("l_discount").cast("double").alias("l_discount"),
        )
    )
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount"],
        "metric",
        "val",
    )


@_register(
    "semi_anti_customers",
    """
SELECT c.c_custkey, 'with_orders' AS cls FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
UNION ALL
SELECT c.c_custkey, 'no_orders' FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
""",
)
def semi_anti_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Existence-join coverage: LEFT SEMI (customers with ≥1 order)
    and LEFT ANTI (customers with none) unioned with a class label —
    the id-only probe never materializes order payloads, and the
    orders side reduces to its join key before the shuffle."""
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    keys = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey")
    )
    semi = cust.join(keys, "c_custkey", "left_semi").withColumn(
        "cls", F.lit("with_orders")
    )
    anti = cust.join(keys, "c_custkey", "left_anti").withColumn(
        "cls", F.lit("no_orders")
    )
    return semi.unionByName(anti)


_GSETS_SQL = """
SELECT o_orderpriority, o_orderstatus,
       CAST(grouping_id(o_orderpriority, o_orderstatus) AS BIGINT) AS gid,
       CAST(count(*) AS BIGINT) AS n,
       round(sum(o_totalprice), 2) AS total
FROM orders
GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
"""


@_register("grouping_sets_orders", _GSETS_SQL)
def grouping_sets_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary aggregation lattices via GROUPING SETS — the general
    form rollup/cube specialize (X27): per-priority totals,
    per-status totals, and the grand total in ONE Expand pass, with
    grouping_id disambiguating subtotal rows from genuine NULL
    groups."""
    orders = _t(spark, sf_dir, "orders")
    return orders.groupingSets(
        [["o_orderpriority"], ["o_orderstatus"], []],
        "o_orderpriority",
        "o_orderstatus",
    ).agg(
        F.grouping_id().cast("long").alias("gid"),
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


_PRANK_SQL = """
SELECT c_custkey,
       round(percent_rank() OVER (PARTITION BY c_mktsegment
                                  ORDER BY c_acctbal, c_custkey), 6)
         AS pr,
       round(cume_dist() OVER (PARTITION BY c_mktsegment
                               ORDER BY c_acctbal, c_custkey), 6)
         AS cd
FROM customer
"""


@_register("percent_rank_customers", _PRANK_SQL)
def percent_rank_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative-standing windows (percent_rank + cume_dist) per
    market segment — partitioned, so every segment ranks in parallel;
    (acctbal, custkey) is a total order, making both statistics
    deterministic."""
    cust = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return cust.select(
        "c_custkey",
        F.round(F.percent_rank().over(w), 6).alias("pr"),
        F.round(F.cume_dist().over(w), 6).alias("cd"),
    )


_HOF_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\s+'), t -> t != '') AS tk
  FROM documents
)
SELECT doc_id,
       CAST(len(list_filter(tk, t -> length(t) >= 6)) AS BIGINT)
         AS n_long_tokens,
       CAST(list_sum(list_transform(tk, t -> length(t))) AS BIGINT)
         AS total_chars,
       CAST(list_max(list_transform(tk, t -> length(t))) AS BIGINT)
         AS max_token_len
FROM toks
"""


@_register("array_hof_documents", _HOF_SQL)
def array_hof_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions as a first-class surface
    (transform / filter / aggregate — the same codegen'd lambda
    machinery the similarity and dedup operators build on), computed
    per document without a single explode-shuffle."""
    docs = _t(spark, sf_dir, "documents")
    tk = F.filter(F.split(F.col("text"), r"\s+"), lambda t: t != "")
    lens = F.transform(tk, lambda t: F.length(t))
    return docs.select(
        "doc_id",
        F.size(F.filter(tk, lambda t: F.length(t) >= 6))
        .cast("long")
        .alias("n_long_tokens"),
        F.aggregate(
            lens, F.lit(0), lambda acc, x: acc + x
        ).cast("long").alias("total_chars"),
        F.array_max(lens).cast("long").alias("max_token_len"),
    )


_INCR_SQL = """
SELECT o_orderstatus, o_orderpriority,
       CAST(count(*) AS BIGINT) AS n,
       round(sum(o_totalprice), 2) AS total_o_totalprice,
       min(o_totalprice) AS lo_o_totalprice,
       max(o_totalprice) AS hi_o_totalprice,
       round(sum(o_totalprice) / count(*), 4) AS avg_o_totalprice
FROM orders
GROUP BY o_orderstatus, o_orderpriority
"""


@_register("incremental_agg_orders", _INCR_SQL)
def incremental_agg_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance: the dashboard aggregate is
    REFRESHED from a persisted partial-aggregate state plus the new
    increment — state(base) ⊕ state(delta) — and must equal the
    oracle's full recompute over everything. The reference recomputes
    its warehouse rollups from scratch each DAG run
    (dags/merge_to_dw.py re-extracts the full tables per schedule);
    at 100 TB only the delta partition is scanned per refresh and the
    shuffle carries group rows, never fact rows. Split point is an
    arbitrary load boundary (orders before/after 1997-01-01)."""
    from workshoop2_etl_spark.operators.incremental import (
        aggregate_state,
        finalize_state,
        merge_states,
    )

    keys = ["o_orderstatus", "o_orderpriority"]
    vals = ["o_totalprice"]
    orders = _t(spark, sf_dir, "orders")
    cut = F.lit("1997-01-01").cast("date")
    base = aggregate_state(orders.filter(F.col("o_orderdate") < cut), keys, vals)
    delta = aggregate_state(orders.filter(F.col("o_orderdate") >= cut), keys, vals)
    return finalize_state(merge_states(keys, vals, base, delta), keys, vals)


_INCR_JOIN_SQL = """
SELECT c_mktsegment, o_orderpriority,
       CAST(count(*) AS BIGINT) AS n,
       round(sum(o_totalprice), 2) AS total_o_totalprice,
       min(o_totalprice) AS lo_o_totalprice,
       max(o_totalprice) AS hi_o_totalprice,
       round(sum(o_totalprice) / count(*), 4) AS avg_o_totalprice
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment, o_orderpriority
"""


@_register("incremental_join_agg_orders", _INCR_JOIN_SQL)
def incremental_join_agg_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a JOINED aggregate — the dashboard
    query grouped by a DIM attribute (customer segment) over FACT
    measures (order totals). Refresh path: only the delta fact
    partition is scanned, its rows broadcast-joined to the dim and
    partial-aggregated; the persisted base state is merged at group
    cardinality. Must equal the oracle's full fact⋈dim recompute —
    valid because join distributes over union for a fixed dim
    snapshot (see operators/incremental.py:join_agg_state for the
    dim-change caveat). Split point is the same arbitrary load
    boundary as incremental_agg_orders (1997-01-01)."""
    from workshoop2_etl_spark.operators.incremental import (
        finalize_state,
        join_agg_state,
        merge_states,
    )

    keys = ["c_mktsegment", "o_orderpriority"]
    vals = ["o_totalprice"]
    orders = _t(spark, sf_dir, "orders").withColumnRenamed(
        "o_custkey", "c_custkey"
    )
    dim = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    cut = F.lit("1997-01-01").cast("date")
    base = join_agg_state(
        orders.filter(F.col("o_orderdate") < cut), dim, "c_custkey",
        keys, vals,
    )
    delta = join_agg_state(
        orders.filter(F.col("o_orderdate") >= cut), dim, "c_custkey",
        keys, vals,
    )
    return finalize_state(merge_states(keys, vals, base, delta), keys, vals)


_INCR_DIMCHANGE_SQL = """
WITH new_dim AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % 7 = 0 THEN 'MIGRATED'
              ELSE c_mktsegment END AS c_mktsegment
  FROM customer
  WHERE c_custkey % 113 <> 5
)
SELECT c_mktsegment, o_orderpriority,
       CAST(count(*) AS BIGINT) AS n,
       round(sum(o_totalprice), 2) AS total_o_totalprice,
       min(o_totalprice) AS lo_o_totalprice,
       max(o_totalprice) AS hi_o_totalprice,
       round(sum(o_totalprice) / count(*), 4) AS avg_o_totalprice
FROM orders JOIN new_dim ON o_custkey = c_custkey
GROUP BY c_mktsegment, o_orderpriority
"""


@_register("incremental_join_agg_dimchange_orders", _INCR_DIMCHANGE_SQL)
def incremental_join_agg_dimchange_orders(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental JOINED-aggregate refresh when the DIM ITSELF
    changed between loads — the production path the round-7 operator
    only documented (VERDICT r7 item 5). Scenario: the segment
    dashboard state is maintained across a base + delta fact load
    against the OLD customer snapshot; then the dim takes an UPDATE
    (every 7th customer migrates to segment 'MIGRATED') and a DELETE
    (every 113th ≡ 5 customer is dropped). Because min/max are
    monoidal but not invertible, changed rows cannot be subtracted —
    refresh_join_agg_dim_change (operators/incremental.py) instead
    digest-diffs the two dim snapshots (8-byte xxhash64 full-outer
    join), finds the group tuples touched by changed-key fact rows
    under EITHER snapshot, keeps every other group's state untouched
    (anti-join), and re-derives only the affected groups from the
    fact under the new snapshot. The oracle recomputes everything
    from scratch against the new dim — refresh must equal full
    recompute exactly, including the brand-new 'MIGRATED' group and
    the deleted customers' vanished orders."""
    from workshoop2_etl_spark.operators.incremental import (
        finalize_state,
        join_agg_state,
        merge_states,
        refresh_join_agg_dim_change,
    )

    keys = ["c_mktsegment", "o_orderpriority"]
    vals = ["o_totalprice"]
    orders = _t(spark, sf_dir, "orders").withColumnRenamed(
        "o_custkey", "c_custkey"
    )
    old_dim = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    new_dim = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 113 != 5)
        .select(
            "c_custkey",
            F.when(F.col("c_custkey") % 7 == 0, F.lit("MIGRATED"))
            .otherwise(F.col("c_mktsegment"))
            .alias("c_mktsegment"),
        )
    )
    cut = F.lit("1997-01-01").cast("date")
    base = join_agg_state(
        orders.filter(F.col("o_orderdate") < cut), old_dim, "c_custkey",
        keys, vals,
    )
    delta = join_agg_state(
        orders.filter(F.col("o_orderdate") >= cut), old_dim, "c_custkey",
        keys, vals,
    )
    state = merge_states(keys, vals, base, delta)
    refreshed = refresh_join_agg_dim_change(
        state, orders, old_dim, new_dim, "c_custkey", keys, vals
    )
    return finalize_state(refreshed, keys, vals)


_TOPK_PARTIAL_SQL = """
SELECT l_suppkey, l_partkey, l_extendedprice, l_orderkey,
       CAST(rank AS BIGINT) AS rank
FROM (
  SELECT l_suppkey, l_partkey, l_extendedprice, l_orderkey,
         row_number() OVER (
           PARTITION BY l_suppkey
           ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
         ) AS rank
  FROM lineitem
) WHERE rank <= 3
"""


@_register("topk_pergroup_partial_lineitem", _TOPK_PARTIAL_SQL)
def topk_pergroup_partial_lineitem(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Top-3 line items per supplier by price
    (operators/analytics.py:top_k_per_group), which Spark plans as a
    partial ``WindowGroupLimit`` per partition BEFORE the exchange,
    so the shuffle carries each partition's local top-3 per supplier
    only — never the fact table. The answer is EXACT (total order via
    the (orderkey, linenumber) tiebreak), hence the plain window
    oracle."""
    from workshoop2_etl_spark.operators.analytics import top_k_per_group

    li = _t(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_partkey", "l_extendedprice", "l_orderkey",
        "l_linenumber",
    )
    out = top_k_per_group(
        li,
        ["l_suppkey"],
        [F.col("l_extendedprice").desc(), F.col("l_orderkey").asc(),
         F.col("l_linenumber").asc()],
        3,
    )
    return out.select(
        "l_suppkey", "l_partkey", "l_extendedprice", "l_orderkey",
        F.col("rank").cast("long").alias("rank"),
    )


_MAD_SQL = """
WITH med AS (
  SELECT event_type, median(value) AS med FROM events GROUP BY event_type
), dev AS (
  SELECT e.event_type, e.value, m.med
  FROM events e JOIN med m USING (event_type)
), mad AS (
  SELECT event_type, median(abs(value - med)) AS mad
  FROM dev GROUP BY event_type
)
SELECT d.event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CASE WHEN mad.mad > 0
                      AND abs(d.value - d.med) > 3.5 * 1.4826 * mad.mad
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       round(any_value(d.med), 4) AS med,
       round(any_value(mad.mad), 4) AS mad
FROM dev d JOIN mad USING (event_type)
GROUP BY d.event_type
"""


@_register("mad_outliers_events", _MAD_SQL)
def mad_outliers_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier gate: modified z-score (|x − med| > 3.5·1.4826·
    MAD) per event type over exact medians — the load-quality check
    that survives a corrupt feed (operators/quality.py:
    robust_outliers). Reported as per-group outlier counts."""
    from workshoop2_etl_spark.operators.quality import robust_outliers

    ev = _t(spark, sf_dir, "events")
    flagged = robust_outliers(ev, ["event_type"], "value", z=3.5)
    return flagged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("is_outlier").cast("long")).alias("n_outliers"),
        F.round(F.first("__med"), 4).alias("med"),
        F.round(F.first("__mad"), 4).alias("mad"),
    )


_PSI_SQL = """
WITH edges AS (
  SELECT quantile_cont(o_totalprice,
           [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS e
  FROM orders WHERE o_orderdate < DATE '1997-01-01'
), b AS (
  SELECT CAST(len(list_filter(e, x -> o_totalprice >= x)) AS INTEGER) AS bin
  FROM orders, edges WHERE o_orderdate < DATE '1997-01-01'
), c AS (
  SELECT CAST(len(list_filter(e, x -> o_totalprice >= x)) AS INTEGER) AS bin
  FROM orders, edges WHERE o_orderdate >= DATE '1997-01-01'
), bins AS (SELECT unnest(range(10)) AS bin),
nb AS (SELECT bin, count(*) AS n FROM b GROUP BY bin),
nc AS (SELECT bin, count(*) AS n FROM c GROUP BY bin),
j AS (
  SELECT bins.bin,
         CAST(coalesce(nb.n, 0) AS BIGINT) AS n_base,
         CAST(coalesce(nc.n, 0) AS BIGINT) AS n_current
  FROM bins LEFT JOIN nb USING (bin) LEFT JOIN nc USING (bin)
), t AS (SELECT sum(n_base) AS tb, sum(n_current) AS tc FROM j)
SELECT CAST(bin AS INTEGER) AS bin, n_base, n_current,
       round((greatest(n_current / tc, 1e-6) - greatest(n_base / tb, 1e-6))
             * ln(greatest(n_current / tc, 1e-6)
                  / greatest(n_base / tb, 1e-6)), 6) AS psi
FROM j, t
"""


@_register("psi_drift_orders", _PSI_SQL)
def psi_drift_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of order value, pre-1997 baseline
    vs post-1997 current — the distribution-drift alarm every scoring
    pipeline runs between corpus/model versions
    (operators/quality.py:psi_drift; exact baseline deciles, per-bin
    contributions, Σ = total PSI)."""
    from workshoop2_etl_spark.operators.quality import psi_drift

    orders = _t(spark, sf_dir, "orders")
    cut = F.lit("1997-01-01").cast("date")
    return psi_drift(
        orders.filter(F.col("o_orderdate") < cut),
        orders.filter(F.col("o_orderdate") >= cut),
        "o_totalprice",
    )


_SCD2_PIT_SQL = """
WITH s AS (
  SELECT o_custkey, o_orderstatus, o_orderdate,
         CASE WHEN o_orderstatus IS NOT DISTINCT FROM
                   lag(o_orderstatus) OVER (
                     PARTITION BY o_custkey
                     ORDER BY o_orderdate ASC, o_orderstatus ASC NULLS FIRST)
              THEN 0 ELSE 1 END AS chg
  FROM orders
), v AS (
  SELECT o_custkey, o_orderstatus, o_orderdate,
         sum(chg) OVER (
           PARTITION BY o_custkey
           ORDER BY o_orderdate ASC, o_orderstatus ASC NULLS FIRST
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ver
  FROM s
), runs AS (
  SELECT o_custkey, ver, o_orderstatus, min(o_orderdate) AS effective_from
  FROM v GROUP BY 1, 2, 3
), hist AS (
  SELECT o_custkey, o_orderstatus AS status_hist, effective_from,
         lead(effective_from) OVER (PARTITION BY o_custkey ORDER BY ver)
           AS effective_to
  FROM runs
), probe AS (
  SELECT o_orderkey, o_custkey, o_orderdate + INTERVAL 30 DAY AS asof
  FROM orders
)
SELECT coalesce(h.status_hist, 'NO-HISTORY') AS status_then,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(count(DISTINCT p.o_custkey) AS BIGINT) AS n_customers
FROM probe p
LEFT JOIN hist h
  ON p.o_custkey = h.o_custkey
 AND h.effective_from <= p.asof
 AND (h.effective_to IS NULL OR p.asof < h.effective_to)
GROUP BY 1
"""


@_register("scd2_pointintime_orders", _SCD2_PIT_SQL)
def scd2_pointintime_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (AS OF) lookup against the type-2 history: for
    every order, the status its customer's SCD2 interval showed 30
    days later — the audit/backfill query the type-2 dimension exists
    for. Equi-join on the customer key with the interval predicate as
    residual; the history side is dim-cardinality and broadcasts, so
    the fact table never shuffles. Intervals are half-open
    [from, to) with NULL to = current, guaranteeing each probe
    matches at most one interval."""
    from workshoop2_etl_spark.operators.star import scd2_history

    orders = _t(spark, sf_dir, "orders")
    hist = scd2_history(
        orders.select("o_custkey", "o_orderstatus", "o_orderdate"),
        ["o_custkey"],
        ["o_orderstatus"],
        "o_orderdate",
    ).select(
        F.col("o_custkey").alias("h_custkey"),
        F.col("o_orderstatus").alias("status_hist"),
        "effective_from",
        "effective_to",
    )
    probe = orders.select(
        "o_orderkey", "o_custkey", F.date_add("o_orderdate", 30).alias("asof")
    )
    joined = probe.join(
        F.broadcast(hist),
        (F.col("o_custkey") == F.col("h_custkey"))
        & (F.col("effective_from") <= F.col("asof"))
        & (F.col("effective_to").isNull() | (F.col("asof") < F.col("effective_to"))),
        "left",
    )
    return joined.groupBy(
        F.coalesce(F.col("status_hist"), F.lit("NO-HISTORY")).alias("status_then")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.countDistinct("o_custkey").alias("n_customers"),
    )


_OLS_SQL = """
WITH s AS (
  SELECT o_orderpriority,
         CAST(date_diff('day', DATE '1970-01-01', o_orderdate) AS DOUBLE) AS x,
         CAST(o_totalprice AS DOUBLE) AS y
  FROM orders
), a AS (
  SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
         sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
         sum(x * x) AS sxx, sum(y * y) AS syy
  FROM s GROUP BY o_orderpriority
)
SELECT o_orderpriority, n,
       round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
       round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 4)
         AS intercept,
       round(((n * sxy - sx * sy) * (n * sxy - sx * sy))
             / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
FROM a
"""


@_register("ols_trend_orders", _OLS_SQL)
def ols_trend_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority linear trend of order value over time — the
    "thousands of small models in one aggregation pass" pattern
    (operators/analytics.py:grouped_ols): slope/intercept/r² in
    closed form from five commutative sums, map-side combined; no
    iteration, no per-group collect."""
    from workshoop2_etl_spark.operators.analytics import grouped_ols

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.datediff("o_orderdate", F.lit("1970-01-01").cast("date")).alias("x"),
        F.col("o_totalprice").alias("y"),
    )
    out = grouped_ols(orders, ["o_orderpriority"], "x", "y")
    return out.select(
        "o_orderpriority",
        "n",
        F.round("slope", 6).alias("slope"),
        F.round("intercept", 4).alias("intercept"),
        F.round("r2", 6).alias("r2"),
    )


_CHISQ_SQL = """
WITH cells AS (
  SELECT event_type AS a, dayofweek(ts) AS b, count(*) AS o
  FROM events GROUP BY 1, 2
), ra AS (SELECT a, sum(o) AS r FROM cells GROUP BY a),
cb AS (SELECT b, sum(o) AS c FROM cells GROUP BY b),
t AS (SELECT sum(o) AS n FROM cells),
grid AS (SELECT ra.a, ra.r, cb.b, cb.c FROM ra CROSS JOIN cb),
j AS (
  SELECT grid.a, grid.b, coalesce(cells.o, 0) AS o, grid.r, grid.c, t.n,
         (coalesce(cells.o, 0) - grid.r * grid.c / t.n)
           * (coalesce(cells.o, 0) - grid.r * grid.c / t.n)
           / (grid.r * grid.c / t.n) AS contrib
  FROM grid LEFT JOIN cells ON grid.a = cells.a AND grid.b = cells.b, t
)
SELECT round(sum(contrib), 4) AS chi2,
       CAST((count(DISTINCT a) - 1) * (count(DISTINCT b) - 1) AS BIGINT)
         AS dof,
       CAST(any_value(n) AS BIGINT) AS n,
       round(sqrt(sum(contrib)
                  / (any_value(n) * (least(count(DISTINCT a),
                                           count(DISTINCT b)) - 1))), 6)
         AS cramers_v
FROM j
"""


@_register("chisq_events_weekday", _CHISQ_SQL)
def chisq_events_weekday(spark: SparkSession, sf_dir: str) -> DataFrame:
    """χ² independence of event type vs day-of-week — the categorical
    drift/association test beside PSI (operators/quality.py:
    chi_square_independence). The statistic is label-invariant, so
    Spark's 1-7 vs DuckDB's 0-6 dayofweek numbering is immaterial —
    both induce the same partition of rows into weekday cells."""
    from workshoop2_etl_spark.operators.quality import (
        chi_square_independence,
    )

    ev = _t(spark, sf_dir, "events").select(
        "event_type", F.dayofweek("ts").alias("dow")
    )
    return chi_square_independence(ev, "event_type", "dow")


_JOIN_HEALTH_SQL = """
WITH f AS (SELECT user_id AS k FROM events),
d AS (SELECT DISTINCT c_custkey AS k FROM customer WHERE c_custkey % 2 = 0),
n AS (
  SELECT CAST(count(*) AS BIGINT) AS n_fact,
         CAST(sum(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_null_keys
  FROM f
), o AS (
  SELECT CAST(count(*) AS BIGINT) AS n_orphans
  FROM f WHERE k IS NOT NULL AND k NOT IN (SELECT k FROM d)
), dd AS (
  SELECT CAST(coalesce(sum(CASE WHEN m > 1 THEN 1 ELSE 0 END), 0) AS BIGINT)
           AS n_dup_dim_keys
  FROM (SELECT k, count(*) AS m
        FROM customer JOIN d ON c_custkey = d.k GROUP BY k) z
), tp AS (
  SELECT CAST(k AS VARCHAR) AS top_key, CAST(count(*) AS BIGINT) AS top_key_n
  FROM f WHERE k IS NOT NULL
  GROUP BY k ORDER BY count(*) DESC, k LIMIT 1
)
SELECT n.n_fact, n.n_null_keys, o.n_orphans, dd.n_dup_dim_keys,
       tp.top_key, tp.top_key_n
FROM n, o, dd, tp
"""


@_register("join_health_events_customer", _JOIN_HEALTH_SQL)
def join_health_events_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-join key diagnostics (operators/quality.py:join_key_health)
    for events.user_id → an even-keyed customer dim: NULL keys,
    orphans (referential breakage — planted here by halving the dim),
    dim-key duplication (fan-out hazard), and the hottest key (skew
    probe) — the report a pipeline reads before paying for the join."""
    from workshoop2_etl_spark.operators.quality import join_key_health

    ev = _t(spark, sf_dir, "events")
    dim = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") % 2 == 0)
    return join_key_health(ev, "user_id", dim, "c_custkey")


_PS_SQL = """
SELECT o_orderpriority AS priority, o_orderstatus,
       CAST(count(*) AS BIGINT) AS n,
       round(sum(o_totalprice), 2) AS total
FROM orders
GROUP BY 1, 2
"""


@_register("pandas_api_orders", _PS_SQL)
def pandas_api_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pandas API on Spark (``pyspark.pandas``) — the onramp for the
    reference's users: its DAGs are literal pandas (rename /
    column-subset / groupby-agg, dags/merge_to_dw.py:52,68-69), and
    this entry runs exactly those idioms distributed, then drops to
    the DataFrame API at the boundary (``to_spark``). Distributed
    default index — no implicit global sort sneaks in."""
    import pyspark.pandas as ps

    ps.set_option("compute.default_index_type", "distributed")
    pdf = ps.read_parquet(f"{sf_dir}/orders.parquet")
    out = (
        pdf.rename(columns={"o_orderpriority": "priority"})
        [["priority", "o_orderstatus", "o_totalprice"]]
        .groupby(["priority", "o_orderstatus"])
        .agg(n=("o_totalprice", "count"), total=("o_totalprice", "sum"))
        .reset_index()
    )
    sdf = out.to_spark()
    return sdf.select(
        "priority", "o_orderstatus",
        F.col("n").cast("long").alias("n"),
        F.round("total", 2).alias("total"),
    )


_KANON_SQL = """
WITH g AS (
  SELECT c_mktsegment, c_nationkey, count(*) AS sz,
         count(DISTINCT c_acctbal) AS dv
  FROM customer GROUP BY 1, 2
)
SELECT CAST(sum(sz) AS BIGINT) AS n_rows,
       CAST(count(*) AS BIGINT) AS n_groups,
       CAST(min(sz) AS BIGINT) AS min_group_size,
       CAST(sum(CASE WHEN sz < 12 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_violating_groups,
       CAST(sum(CASE WHEN sz < 12 THEN sz ELSE 0 END) AS BIGINT)
         AS n_reidentifiable_rows,
       round(sum(CASE WHEN sz < 12 THEN sz ELSE 0 END) / sum(sz), 6)
         AS pct_reidentifiable,
       CAST(min(dv) AS BIGINT) AS min_l_diversity,
       CAST(sum(CASE WHEN dv < 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_low_diversity_groups
FROM g
"""


@_register("k_anonymity_customers", _KANON_SQL)
def k_anonymity_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity (k=12) + l-diversity (l=2) audit of customers
    under the (mktsegment, nationkey) quasi-identifier with acctbal
    sensitive — the privacy release gate
    (operators/quality.py:k_anonymity): one aggregate on the quasi
    key, one rollup of the dimension-scale group table."""
    from workshoop2_etl_spark.operators.quality import k_anonymity

    cust = _t(spark, sf_dir, "customer")
    return k_anonymity(
        cust,
        ["c_mktsegment", "c_nationkey"],
        k=12,
        sensitive_col="c_acctbal",
        l_threshold=2,
    )


def _benford_sql() -> str:
    from workshoop2_etl_spark.operators.quality import BENFORD_EXPECTED

    case = " ".join(
        f"WHEN {d} THEN {e!r}" for d, e in BENFORD_EXPECTED.items()
    )
    return f"""
WITH c AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders
), d AS (
  SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS BIGINT) AS digit,
         count(*) AS n
  FROM c WHERE cents > 0 GROUP BY 1
), t AS (
  SELECT sum(n) AS total FROM d
), x AS (
  SELECT count(*) FILTER (cents IS NULL OR cents <= 0) AS n_excluded FROM c
)
SELECT g.digit, CAST(COALESCE(d.n, 0) AS BIGINT) AS n,
       round(COALESCE(d.n, 0) / t.total, 6) AS observed,
       CASE g.digit {case} END AS expected,
       round(round(COALESCE(d.n, 0) / t.total, 6)
             - CASE g.digit {case} END, 6) AS deviation,
       CAST(x.n_excluded AS BIGINT) AS n_excluded
FROM generate_series(1, 9) g(digit)
LEFT JOIN d ON g.digit = d.digit CROSS JOIN t CROSS JOIN x
"""


@_register("benford_orders_totalprice", _benford_sql())
def benford_orders_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit of order totals — digit extracted
    from the exact integer cents (never float log10, whose last-ulp
    libm differences make floor(log10(1000)) engine-dependent);
    expected shares are module-level canonical constants shared
    verbatim by both engines (operators/quality.py:benford_audit)."""
    from workshoop2_etl_spark.operators.quality import benford_audit

    orders = _t(spark, sf_dir, "orders")
    return benford_audit(orders, "o_totalprice")


_KS_SQL = """
WITH a AS (
  SELECT o_totalprice AS v,
         (o_orderdate < TIMESTAMP '1998-01-01') AS g
  FROM orders
), d AS (
  SELECT v, sum(CASE WHEN g THEN 1 ELSE 0 END) AS ca,
         sum(CASE WHEN NOT g THEN 1 ELSE 0 END) AS cb
  FROM a GROUP BY 1
), t AS (
  SELECT sum(ca) AS na, sum(cb) AS nb FROM d
), c AS (
  SELECT v, sum(ca) OVER (ORDER BY v) AS cca,
         sum(cb) OVER (ORDER BY v) AS ccb
  FROM d
), s AS (
  SELECT v, abs(cca / (SELECT na FROM t) - ccb / (SELECT nb FROM t)) AS dd
  FROM c
)
SELECT (SELECT CAST(na AS BIGINT) FROM t) AS n_a,
       (SELECT CAST(nb AS BIGINT) FROM t) AS n_b,
       (SELECT max(dd) FROM s) AS ks_stat,
       (SELECT min(v) FROM s WHERE dd = (SELECT max(dd) FROM s)) AS ks_at
"""


@_register("ks_drift_orders", _KS_SQL)
def ks_drift_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov drift test on order totals,
    pre-1998 vs 1998+ (operators/quality.py:ks_two_sample): the
    empirical-CDF prefix sums run ``ids.running_sums`` — never a
    single-partition global window over the data. Per-value
    D is the same integer arithmetic on both engines, so the sup
    compares bit-equal unrounded."""
    from workshoop2_etl_spark.operators.quality import ks_two_sample

    orders = _t(spark, sf_dir, "orders")
    return ks_two_sample(
        orders,
        "o_totalprice",
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"),
    )


_MOMENTS_SQL = """
WITH a AS (
  SELECT o_orderpriority,
         count(o_totalprice) AS n,
         sum(o_totalprice) AS s1,
         sum(o_totalprice * o_totalprice) AS s2,
         sum(o_totalprice * o_totalprice * o_totalprice) AS s3,
         sum(o_totalprice * o_totalprice * o_totalprice * o_totalprice)
           AS s4
  FROM orders GROUP BY 1
)
SELECT o_orderpriority, CAST(n AS BIGINT) AS n,
       round(s1 / n, 6) AS mean,
       round(s2 / n - (s1 / n) * (s1 / n), 6) AS variance,
       round((s3 / n - 3.0 * (s1 / n) * (s2 / n)
              + 2.0 * (s1 / n) * (s1 / n) * (s1 / n))
             / pow(s2 / n - (s1 / n) * (s1 / n), 1.5), 6) AS skewness,
       round((s4 / n - 4.0 * (s1 / n) * (s3 / n)
              + 6.0 * (s1 / n) * (s1 / n) * (s2 / n)
              - 3.0 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n))
             / ((s2 / n - (s1 / n) * (s1 / n))
                * (s2 / n - (s1 / n) * (s1 / n))) - 3.0, 6) AS kurtosis
FROM a
"""


@_register("moment_stats_orders", _MOMENTS_SQL)
def moment_stats_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority distribution shape (mean/variance/skew/kurtosis)
    from explicit power sums in one pass — built-in skewness/kurtosis
    deliberately avoided because engines default to DIFFERENT
    estimators (population vs sample); the spelled-out formula is the
    same number everywhere (operators/analytics.py:moment_stats)."""
    from workshoop2_etl_spark.operators.analytics import moment_stats

    orders = _t(spark, sf_dir, "orders")
    return moment_stats(orders, "o_orderpriority", "o_totalprice")


_NESTED_SQL = """
WITH nested AS (
  SELECT o_orderkey, o_orderpriority,
         list({'qty': l_quantity, 'price': l_extendedprice,
               'disc': l_discount}) AS items
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  GROUP BY o_orderkey, o_orderpriority
), per_order AS (
  SELECT o_orderpriority,
         len(items) AS n_items,
         list_sum(list_transform(items,
                                 it -> it.price * (1 - it.disc)))
           AS order_rev,
         len(list_filter(items, it -> it.qty >= 40)) AS n_bulk
  FROM nested
)
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(n_items) AS BIGINT) AS n_items,
       round(sum(order_rev), 2) AS revenue,
       CAST(sum(n_bulk) AS BIGINT) AS n_bulk_items
FROM per_order GROUP BY 1
"""


@_register("nested_lineitems_orders", _NESTED_SQL)
def nested_lineitems_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-data surface: line items COLLECTED into an
    array-of-structs per order (the document-shaped layout denormalized
    feeds and exports use), then analyzed entirely with higher-order
    functions — per-order revenue via transform+aggregate over the
    nested array, bulk-item counts via filter — before one flat
    rollup. Proves collect → nested-compute → aggregate round-trips
    the same numbers as the flat join (the oracle's list_transform
    twin). The nest shuffles each order's items once; HOF evaluation
    is codegen'd, no explode back-and-forth."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    nested = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderkey", "o_orderpriority")
        .agg(
            F.collect_list(
                F.struct(
                    F.col("l_quantity").alias("qty"),
                    F.col("l_extendedprice").alias("price"),
                    F.col("l_discount").alias("disc"),
                )
            ).alias("items")
        )
    )
    per_order = nested.select(
        "o_orderpriority",
        F.size("items").alias("n_items"),
        F.aggregate(
            F.transform(
                "items", lambda it: it["price"] * (1 - it["disc"])
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("order_rev"),
        F.size(
            F.filter("items", lambda it: it["qty"] >= 40)
        ).alias("n_bulk"),
    )
    return per_order.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("n_items").cast("long").alias("n_items"),
        F.round(F.sum("order_rev"), 2).alias("revenue"),
        F.sum("n_bulk").cast("long").alias("n_bulk_items"),
    )


_GEOMEAN_SQL = """
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n,
       round(exp(avg(ln(o_totalprice))), 4) AS geo_mean
FROM orders WHERE o_totalprice > 0
GROUP BY 1
"""


@_register("geomean_grouped_agg_orders", _GEOMEAN_SQL)
def geomean_grouped_agg_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED_AGG pandas UDF surface (the one Arrow-UDF class the
    other operators don't exercise — scalar Arrow UDFs, mapInPandas,
    applyInPandas, and applyInPandasWithState all appear elsewhere):
    a custom geometric-mean aggregate evaluated per group over Arrow
    batches, next to built-in aggregates in the same agg() call. The
    log-mean-exp formulation is the numerically safe one (a direct
    product overflows at ~200 rows of 1e4-scale prices)."""
    import numpy as np

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def geo_mean(v: pd.Series) -> float:
        return float(np.exp(np.log(v.to_numpy(dtype=np.float64)).mean()))

    @pandas_udf("long")
    def n_rows(v: pd.Series) -> int:
        # GROUPED_AGG UDFs cannot mix with JVM aggregates in one
        # agg() (INVALID_PANDAS_UDF_PLACEMENT) — the count rides the
        # same Arrow batch instead of a second shuffle.
        return len(v)

    orders = _t(spark, sf_dir, "orders")
    return (
        orders.filter(F.col("o_totalprice") > 0)
        .groupBy("o_orderpriority")
        .agg(
            n_rows("o_totalprice").alias("n"),
            F.round(geo_mean("o_totalprice"), 4).alias("geo_mean"),
        )
    )


_ER_SQL = """
WITH RECURSIVE reg AS (
  SELECT c_custkey AS id, c_name AS name, c_acctbal, c_nationkey
  FROM customer
  UNION ALL
  SELECT c_custkey + 10000000,
         concat(substring(c_name, 1, 3), substring(c_name, 5, length(c_name))),
         c_acctbal, c_nationkey
  FROM customer WHERE c_custkey % 3 = 0
  UNION ALL
  -- NULL-attribute twins: every fifth customer re-entered TWICE with
  -- the acctbal lost (NULL) — once with a dropped character, once
  -- verbatim. The two re-entries pair with each other (edit distance
  -- 1, same nation) and BOTH have NULL acctbal, so the scoring branch
  -- where the attribute comparison sees NULL on both sides is
  -- exercised: NULL anywhere = disagreement (-8) = score 8 < 28 = NO
  -- match. An engine that treated NULL<=>NULL as agreement (+16)
  -- would match them (score 32) and diverge from this oracle.
  SELECT c_custkey + 20000000,
         concat(substring(c_name, 1, 3), substring(c_name, 5, length(c_name))),
         CAST(NULL AS DOUBLE), c_nationkey
  FROM customer WHERE c_custkey % 5 = 0
  UNION ALL
  SELECT c_custkey + 30000000, c_name, CAST(NULL AS DOUBLE), c_nationkey
  FROM customer WHERE c_custkey % 5 = 0
), pairs AS (
  SELECT a.id AS ida, b.id AS idb,
         CASE WHEN a.name = b.name THEN 24 ELSE 12 END
         + CASE WHEN a.c_acctbal = b.c_acctbal THEN 16 ELSE -8 END
         + CASE WHEN a.c_nationkey = b.c_nationkey THEN 4 ELSE -4 END
           AS score
  FROM reg a JOIN reg b
    ON a.id < b.id AND a.c_nationkey = b.c_nationkey
   AND levenshtein(a.name, b.name) <= 1
), matched AS (
  SELECT ida, idb FROM pairs WHERE score >= 28
), sym AS (
  SELECT ida AS s, idb AS d FROM matched
  UNION
  SELECT idb, ida FROM matched
), reach(node, seen) AS (
  SELECT s, s FROM sym
  UNION
  SELECT r.node, y.d FROM reach r JOIN sym y ON r.seen = y.s
)
SELECT node AS id, min(seen) AS entity_id,
       (node = min(seen)) AS is_canonical
FROM reach GROUP BY node
"""


@_register("entity_resolution_customers", _ER_SQL)
def entity_resolution_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution end to end (Fellegi–Sunter 1969): a dirty
    registry — every third customer re-entered with a dropped
    character under a fresh id, attributes copied — resolved back by
    deletion-neighborhood blocking CONJOINED with a nation blocking
    key (the serial-numbered names are dense — every name has ~30
    edit-distance-1 digit neighbors, so name-only blocking yields
    290k candidates at sf0.1; the nation key divides that by its
    25-way selectivity before any verify work — standard multi-key
    blocking, recall trade documented on the operator), integer
    agreement scoring (name within distance 1 is WEAK evidence on
    its own: same-nation digit neighbors score 12−8+4 < 28 because
    their copied acctbal DISagrees; true re-entries score
    12+16+4 ≥ 28), and union-find clustering. The oracle replays the
    quadratic levenshtein join + blocking + scoring, then computes
    REAL connected components over the matched pairs with a recursive
    transitive-closure CTE (min-reachable-id labeling) — structurally
    safe even if an accidental same-nation/equal-acctbal name pair
    chains clusters together, which grows likelier with sf. Round 8
    plants NULL-acctbal twin pairs (both sides NULL) so the
    NULL-attribute scoring branch is exercised against the oracle:
    NULL = disagreement, the pair must NOT match."""
    from workshoop2_etl_spark.operators.entity import resolve_entities

    cust = _t(spark, sf_dir, "customer")
    base = cust.select(
        F.col("c_custkey").cast("long").alias("id"),
        F.col("c_name").alias("name"),
        "c_acctbal",
        "c_nationkey",
    )
    typos = cust.filter(F.col("c_custkey") % 3 == 0).select(
        (F.col("c_custkey") + 10_000_000).cast("long").alias("id"),
        F.concat(
            F.substring("c_name", 1, 3),
            F.expr("substring(c_name, 5, length(c_name))"),
        ).alias("name"),
        "c_acctbal",
        "c_nationkey",
    )
    # NULL-attribute twins (round 8): every fifth customer re-entered
    # twice with NULL acctbal — a dropped-char copy and a verbatim
    # copy — so a candidate pair whose attribute comparison sees NULL
    # on BOTH sides is actually generated and scored. Under the locked
    # semantics (entity.py: plain `==`, NULL anywhere = disagreement)
    # the pair scores 12-8+4 = 8 < 28 and must NOT match; an
    # eqNullSafe regression would score it 32 and diverge from the
    # oracle hash.
    null_a = cust.filter(F.col("c_custkey") % 5 == 0).select(
        (F.col("c_custkey") + 20_000_000).cast("long").alias("id"),
        F.concat(
            F.substring("c_name", 1, 3),
            F.expr("substring(c_name, 5, length(c_name))"),
        ).alias("name"),
        F.lit(None).cast("double").alias("c_acctbal"),
        "c_nationkey",
    )
    null_b = cust.filter(F.col("c_custkey") % 5 == 0).select(
        (F.col("c_custkey") + 30_000_000).cast("long").alias("id"),
        F.col("c_name").alias("name"),
        F.lit(None).cast("double").alias("c_acctbal"),
        "c_nationkey",
    )
    reg = base.unionByName(typos).unionByName(null_a).unionByName(null_b)
    # The deletion-neighborhood blocking explode is CPU-bound narrow
    # work running on the union's ≤4 scan partitions (measured 3.4 s
    # of CPU over 4 tasks at sf0.1); the guard gives it the cluster's
    # parallelism and is a no-op at real registry sizes (r14 opt,
    # guide §1.2 per-task work / readers.ensure_parallelism).
    reg = ensure_parallelism(reg)
    out = resolve_entities(
        reg, "id", "name",
        agree_weights={"c_acctbal": (16, -8), "c_nationkey": (4, -4)},
        name_weights=(24, 12),
        threshold=28,
        max_distance=1,
        block_cols=("c_nationkey",),
    )
    return out.select(
        F.col("id").cast("long").alias("id"),
        F.col("entity_id").cast("long").alias("entity_id"),
        "is_canonical",
    )


_DP_SQL = """
WITH counts AS (
  SELECT o_orderpriority, count(*) AS n FROM orders GROUP BY 1
), noised AS (
  SELECT o_orderpriority, n,
         (CAST(concat('0x', substr(md5('dp' || chr(31) ||
                   coalesce(CAST(o_orderpriority AS VARCHAR), '<null>')),
                                   1, 8)) AS BIGINT) + 0.5)
           / 4294967296.0 AS u
  FROM counts
)
SELECT o_orderpriority,
       greatest(n * 1000000 + CAST(floor(
         -(1.0 / 0.5) * sign(u - 0.5) * ln(1.0 - 2.0 * abs(u - 0.5))
         * 1e6 + 0.5) AS BIGINT), 0) / 1e6 AS noisy_count
FROM noised
ORDER BY o_orderpriority
"""


@_register("dp_counts_orders", _DP_SQL)
def dp_counts_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private count release (Laplace mechanism,
    ε=0.5, sensitivity 1): order counts per priority perturbed with
    inverse-CDF Laplace noise from a seeded md5 uniform, quantized to
    integer micro-units before the add so the release replays
    bit-equal cross-engine. Deterministic seeding is the testability
    trade (documented on the operator — production swaps the salt for
    a per-release secret); the true counts never appear in the
    output."""
    from workshoop2_etl_spark.operators.quality import dp_noisy_counts

    return dp_noisy_counts(
        _t(spark, sf_dir, "orders"), ["o_orderpriority"],
        epsilon=0.5, salt="dp",
    ).orderBy("o_orderpriority")


_RFM_SQL = """
WITH anchor AS (SELECT max(o_orderdate) AS mx FROM orders),
base AS (
  SELECT o_custkey,
         date_diff('day', max(o_orderdate), (SELECT mx FROM anchor))
           AS recency_days,
         count(*) AS frequency,
         round(sum(o_totalprice), 2) AS monetary
  FROM orders GROUP BY o_custkey
), scored AS (
  SELECT o_custkey,
         ntile(5) OVER (ORDER BY recency_days ASC, o_custkey) AS r_score,
         ntile(5) OVER (ORDER BY frequency DESC, o_custkey) AS f_score,
         ntile(5) OVER (ORDER BY monetary DESC, o_custkey) AS m_score
  FROM base
)
SELECT r_score, f_score, m_score,
       CAST(count(*) AS BIGINT) AS n_customers
FROM scored GROUP BY 1, 2, 3
ORDER BY 1, 2, 3
"""


@_register("rfm_segments_orders", _RFM_SQL)
def rfm_segments_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation (recency / frequency / monetary quintiles) —
    the classic CRM cut a reference dashboard user graduates to.
    Quintiles are ntile(5) with a (metric, custkey) TOTAL order so
    tie placement is engine-deterministic; recency anchors to the
    dataset's max order date (a one-row broadcast, not a driver
    constant). The three global ntile windows run on the CUSTOMER
    DIMENSION (bounded, like percent_rank_customers) — at fact scale
    the two-phase X52 range scheme would replace them. Output is the
    bounded 5³ segment-count grid."""
    orders = _t(spark, sf_dir, "orders")
    anchor = orders.agg(F.max("o_orderdate").alias("__mx"))
    base = (
        orders.groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("__last"),
            F.count(F.lit(1)).alias("frequency"),
            F.round(F.sum("o_totalprice"), 2).alias("monetary"),
        )
        .crossJoin(F.broadcast(anchor))
        .withColumn("recency_days", F.datediff(F.col("__mx"), F.col("__last")))
    )
    scored = base.select(
        "o_custkey",
        F.ntile(5)
        .over(Window.orderBy(F.asc("recency_days"), F.asc("o_custkey")))
        .alias("r_score"),
        F.ntile(5)
        .over(Window.orderBy(F.desc("frequency"), F.asc("o_custkey")))
        .alias("f_score"),
        F.ntile(5)
        .over(Window.orderBy(F.desc("monetary"), F.asc("o_custkey")))
        .alias("m_score"),
    )
    return (
        scored.groupBy("r_score", "f_score", "m_score")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("r_score", "f_score", "m_score")
    )


_DYN_SQL = """
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n,
       round(sum(CASE WHEN o_orderpriority = '1-URGENT'
                      THEN o_totalprice * 2 ELSE o_totalprice END), 2)
         AS total
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@_register("dynamic_overwrite_orders", _DYN_SQL)
def dynamic_overwrite_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition overwrite round trip: orders land partitioned
    by priority, then ONLY the 1-URGENT partition is reloaded with
    doubled totals — static overwrite would wipe the other four
    partitions; the oracle (untouched partitions verbatim + the
    patched partition transformed) is exactly the
    touched-partitions-only contract. The per-write
    ``partitionOverwriteMode=dynamic`` option leaves the session
    default alone."""
    import os as _os
    import tempfile

    from workshoop2_etl_spark.sources.writers import (
        overwrite_partitions_dynamic,
        write_parquet,
    )

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    path = _os.path.join(
        tempfile.gettempdir(),
        f"workshoop2_dynamic_overwrite_{_run_token(sf_dir)}",
    )
    write_parquet(orders, path, partition_by=["o_orderpriority"])
    patch = orders.filter(F.col("o_orderpriority") == "1-URGENT").withColumn(
        "o_totalprice", F.col("o_totalprice") * 2
    )
    overwrite_partitions_dynamic(patch, path, partition_by=["o_orderpriority"])
    back = spark.read.parquet(path)
    return (
        back.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
        .orderBy("o_orderpriority")
    )


_BLOOM_SEMI_SQL = """
SELECT l_returnflag,
       CAST(count(*) AS BIGINT) AS n_lines,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
WHERE l_orderkey IN (
  SELECT o_orderkey FROM orders WHERE o_totalprice > 400000
)
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@_register("bloom_semijoin_lineitem", _BLOOM_SEMI_SQL)
def bloom_semijoin_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter semi-join (operators/bloomjoin.py): lineitem
    restricted to high-value orders, with the fact-side exchange
    pruned by a ~10-bit-per-key bitmap of the qualifying order keys
    BEFORE the confirming left-semi join. The regime this targets is
    the middle of the join spectrum — a build side too big to
    broadcast as rows but whose bloom filter fits (100 M keys ≈
    15 MB) — where it removes (1 - selectivity - fpp) of the fact
    shuffle; exactness is the confirming join's, not the filter's
    (no-false-negative invariant + FP-tolerance proven in
    tests/test_bloomjoin.py, shuffle pruning asserted there with
    broadcast disabled). Oracle: the plain IN-subquery twin."""
    from workshoop2_etl_spark.operators.bloomjoin import bloom_semi_join

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_extendedprice", "l_discount"
    )
    hot = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 400000)
        .select("o_orderkey")
    )
    return (
        bloom_semi_join(li, hot, "l_orderkey", "o_orderkey")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
        )
        .orderBy("l_returnflag")
    )


_SKEW_PROFILE_SQL = """
WITH c AS (SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id),
h AS (SELECT cnt AS size, count(*) AS n_at_size FROM c GROUP BY cnt),
r AS (SELECT size, sum(n_at_size) OVER (ORDER BY size) AS cum_keys FROM h),
s AS (SELECT CAST(sum(cnt) AS BIGINT) AS total_rows,
             CAST(count(*) AS BIGINT) AS n_keys,
             CAST(max(cnt) AS BIGINT) AS max_key_rows
      FROM c)
SELECT total_rows, n_keys, max_key_rows,
       (SELECT CAST(min(size) AS BIGINT) FROM r
         WHERE cum_keys >= (n_keys * 5000 + 9999) // 10000) AS p50_key_rows,
       (SELECT CAST(min(size) AS BIGINT) FROM r
         WHERE cum_keys >= (n_keys * 9000 + 9999) // 10000) AS p90_key_rows,
       (SELECT CAST(min(size) AS BIGINT) FROM r
         WHERE cum_keys >= (n_keys * 9900 + 9999) // 10000) AS p99_key_rows,
       total_rows / n_keys AS avg_key_rows,
       max_key_rows / (total_rows / n_keys) AS skew_ratio,
       (max_key_rows * n_keys + total_rows - 1) // total_rows
         AS recommended_salt
FROM s
"""


@_register("skew_profile_events", _SKEW_PROFILE_SQL)
def skew_profile_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew profile (operators/skew.py): exact rank-based
    quantiles of the per-user event-count distribution via the
    size-of-sizes histogram (the only data-sized shuffle is the key
    count; the quantile walk runs on the distinct-sizes frame, which
    is bounded and tiny), plus the integer-exact recommended salt
    factor the salted-join branch consumes. The quantile rule —
    smallest size with cumulative key-rank ≥ ceil(q·n_keys), integer
    arithmetic — is spelled out identically in engine and oracle, no
    percentile builtins (whose interpolation conventions differ)."""
    from workshoop2_etl_spark.operators.skew import skew_profile

    ev = _t(spark, sf_dir, "events")
    return skew_profile(ev, ["user_id"])


_HEAVY_KEYS_SQL = """
SELECT o_custkey, CAST(count(*) AS BIGINT) AS cnt
FROM orders
GROUP BY o_custkey
ORDER BY cnt DESC, o_custkey ASC
LIMIT 10
"""


@_register("heavy_keys_orders_custkey", _HEAVY_KEYS_SQL)
def heavy_keys_orders_custkey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 10 heaviest join keys (operators/skew.py heavy_keys):
    count desc then key asc — a TOTAL order, so boundary ties are
    engine-deterministic — through TakeOrderedAndProject (no global
    sort materializes). The companion to skew_profile: these are the
    keys a hot_keys salted branch would route."""
    from workshoop2_etl_spark.operators.skew import heavy_keys

    orders = _t(spark, sf_dir, "orders")
    return heavy_keys(orders, ["o_custkey"], top_n=10).select(
        "o_custkey", F.col("cnt").cast("long").alias("cnt")
    )


_CDC_READ_SQL = """
WITH base AS (
  SELECT o_orderkey, o_orderstatus,
         CAST(round(o_totalprice * 100) AS BIGINT) AS tp_cents
  FROM orders
), newt AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 97 = 0 THEN 'X' ELSE o_orderstatus END
           AS o_orderstatus,
         tp_cents + CASE WHEN o_orderkey % 97 = 0 THEN 1000 ELSE 0 END
           AS tp_cents
  FROM base WHERE o_orderkey % 89 <> 0
  UNION ALL
  SELECT o_orderkey + 100000000, 'NEW', tp_cents
  FROM base WHERE o_orderkey % 101 = 0
), gone AS (SELECT * FROM base EXCEPT ALL SELECT * FROM newt),
came AS (SELECT * FROM newt EXCEPT ALL SELECT * FROM base)
SELECT o_orderkey, o_orderstatus, tp_cents, 'delete' AS _change_type,
       CAST(1 AS INTEGER) AS _commit_version
FROM gone WHERE o_orderkey NOT IN (SELECT o_orderkey FROM newt)
UNION ALL
SELECT o_orderkey, o_orderstatus, tp_cents, 'update_preimage',
       CAST(1 AS INTEGER)
FROM gone WHERE o_orderkey IN (SELECT o_orderkey FROM newt)
UNION ALL
SELECT o_orderkey, o_orderstatus, tp_cents, 'insert', CAST(1 AS INTEGER)
FROM came WHERE o_orderkey NOT IN (SELECT o_orderkey FROM base)
UNION ALL
SELECT o_orderkey, o_orderstatus, tp_cents, 'update_postimage',
       CAST(1 AS INTEGER)
FROM came WHERE o_orderkey IN (SELECT o_orderkey FROM base)
"""


@_register("cdc_read_changes_orders", _CDC_READ_SQL)
def cdc_read_changes_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change data feed OUT of a versioned table (sources/versioned.py
    ``read_changes`` — Delta's table_changes verb): v0 is the orders
    snapshot in integer cents, v1 applies a CDC merge (updates for
    keys %97 at seq 2, deletes for %89 at seq 3 — delete outranks
    update on overlap keys by max-seq — inserts as key+1e8 for %101),
    and the feed is derived by SNAPSHOT DIFF: exceptAll both ways,
    classified against the key into insert / delete /
    update_preimage / update_postimage. Oracle replays the same
    modular transformation and the same multiset diff with EXCEPT ALL
    — any drift in the merge precedence, the time-travel reads, or
    the diff classification breaks the hash."""
    import shutil

    from workshoop2_etl_spark.sources.versioned import (
        create_table,
        merge_cdc,
        read_changes,
    )

    base = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100)
        .cast("bigint")
        .alias("tp_cents"),
    )
    table_dir = os.path.join(
        tempfile.gettempdir(),
        f"workshoop2_cdc_read_{_run_token(sf_dir)}",
    )
    shutil.rmtree(table_dir, ignore_errors=True)
    create_table(base, table_dir)
    upd = base.filter(F.col("o_orderkey") % 97 == 0).select(
        "o_orderkey",
        F.lit("X").alias("o_orderstatus"),
        (F.col("tp_cents") + 1000).alias("tp_cents"),
        F.lit("U").alias("op"),
        F.lit(2).alias("seq"),
    )
    dele = base.filter(F.col("o_orderkey") % 89 == 0).select(
        "o_orderkey",
        "o_orderstatus",
        "tp_cents",
        F.lit("D").alias("op"),
        F.lit(3).alias("seq"),
    )
    ins = base.filter(F.col("o_orderkey") % 101 == 0).select(
        (F.col("o_orderkey") + 100000000).alias("o_orderkey"),
        F.lit("NEW").alias("o_orderstatus"),
        "tp_cents",
        F.lit("I").alias("op"),
        F.lit(1).alias("seq"),
    )
    merge_cdc(
        spark,
        table_dir,
        upd.unionByName(dele).unionByName(ins),
        ["o_orderkey"],
    )
    return read_changes(
        spark, table_dir, 0, 1, key_cols=["o_orderkey"]
    ).orderBy("o_orderkey", "_change_type")


_AUTO_SALT_SQL = """
WITH l AS (
  SELECT 100000 // (o_orderkey + 1) AS zkey,
         CAST(round(o_totalprice * 100) AS BIGINT) AS tp_cents
  FROM orders
), r AS (
  SELECT zkey, CAST(count(*) AS BIGINT) AS n_cust
  FROM (SELECT 100000 // (c_custkey + 1) AS zkey FROM customer)
  GROUP BY zkey
), m AS (
  SELECT COALESCE(l.zkey, r.zkey) AS zkey,
         l.tp_cents,
         r.n_cust,
         CASE WHEN r.zkey IS NULL THEN 'left_only'
              WHEN l.zkey IS NULL THEN 'right_only'
              ELSE 'both' END AS provenance
  FROM l FULL OUTER JOIN r ON l.zkey = r.zkey
)
SELECT zkey,
       provenance,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(COALESCE(sum(tp_cents), 0) AS BIGINT) AS tp_cents,
       CAST(COALESCE(max(n_cust), 0) AS BIGINT) AS n_cust
FROM m
GROUP BY zkey, provenance
ORDER BY zkey, provenance
"""


@_register("auto_salt_join_orders", _AUTO_SALT_SQL)
def auto_salt_join_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured-skew auto-salted join (operators/skew.py
    auto_salted_full_outer — round-8 VERDICT task 4): the join key is
    a deterministic Zipf-style map ``zkey = 100000 div (o_orderkey+1)``
    (key v covers shifted orderkeys in (100000/(v+1), 100000/v], so key 1
    holds ~half the fact rows — a power-law head by construction, no
    RNG). The operator profiles the left side (ONE collected summary
    row + ≤10 heavy-key rows — never a key-sized collect), measures
    skew_ratio >> threshold, and routes the measured hot keys through
    the salted inner ∪ anti ∪ anti decomposition with the measured
    split factor. Result rows are IDENTICAL to the plain full outer
    join — the oracle is exactly that plain join — which is the
    operator's contract: salting changes task layout, not answers.
    tests/test_skew.py asserts the salted branch actually fired with
    the measured factor on this same shape."""
    from workshoop2_etl_spark.operators.skew import auto_salted_full_outer

    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    left = orders.select(
        F.expr("100000 div (o_orderkey + 1)").alias("zkey"),
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias(
            "tp_cents"
        ),
    )
    right = (
        customer.select(F.expr("100000 div (c_custkey + 1)").alias("zkey"))
        .groupBy("zkey")
        .agg(F.count(F.lit(1)).cast("long").alias("n_cust"))
    )
    merged = auto_salted_full_outer(
        left,
        right,
        ["zkey"],
        indicator_col="provenance",
        normalize_keys=False,
    )
    return (
        merged.groupBy("zkey", "provenance")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.coalesce(F.sum("tp_cents"), F.lit(0))
            .cast("long")
            .alias("tp_cents"),
            F.coalesce(F.max("n_cust"), F.lit(0))
            .cast("long")
            .alias("n_cust"),
        )
        .orderBy("zkey", "provenance")
    )


@_register(
    "xml_roundtrip_orders",
    """
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
       o_orderdate, o_orderpriority
FROM orders WHERE o_orderkey % 10 = 5
""",
)
def xml_roundtrip_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X225 (round 13, VERDICT r12 missing-item 5): generic
    declared-schema XML source/sink — parquet → row-per-element XML
    documents → declared-schema scan (``sources/xmlio.py``, thin
    calls to Spark's built-in ``xml`` data source with fixed
    options). The deterministic orders slice repartitions to 4
    documents so the read is genuinely multi-file; the hash match
    against the straight-parquet oracle proves the
    long/string/double/date lattice round-trips value-exact
    (NULL-as-absent-element). Write and read both run on the JVM; no
    Python worker starts (pinned by
    ``tests/test_plan_shapes.py::test_xml_roundtrip_runs_no_python``)."""
    from workshoop2_etl_spark.sources.xmlio import read_xml, write_xml

    orders = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 10 == 5)
        .select(
            "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            "o_orderdate", "o_orderpriority",
        )
    )
    out_dir = os.path.join(
        tempfile.gettempdir(),
        f"workshoop2_xml_roundtrip_orders_{_run_token(sf_dir)}",
    )
    write_xml(orders.repartition(4, "o_orderkey"), out_dir)
    return read_xml(spark, out_dir, orders.schema)
