"""Registry entries for the round-5 additions: time-axis analytics
(gap-filled resampling, funnels, retention cohorts), scalable global
id assignment, BM25 ranked retrieval, and small-file compaction.

Every entry here is oracle-backed (DuckDB twin) and demoted past the
driver's 50-row window — hash-checked by the local mirror
(tests/test_oracle_parity.py).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from workshoop2_etl_spark.operators.ids import assign_global_ids
from workshoop2_etl_spark.operators.textstats import bm25_search
from workshoop2_etl_spark.operators.timeseries import (
    funnel,
    resample_fill,
    retention_cohorts,
)
from workshoop2_etl_spark.plans.coverage_queries import _run_token
from workshoop2_etl_spark.plans.reference_queries import _register, _t
from workshoop2_etl_spark.sources.synthetic import (
    synth_oracle_sql as _synth_oracle_base,
)

_RESAMPLE_SQL = """
WITH b AS (
  SELECT user_id,
         CAST(floor(epoch_us(CAST(ts AS TIMESTAMP)) / 21600000000) AS BIGINT)
           AS bucket,
         avg(value) AS v
  FROM events GROUP BY 1, 2
), s AS (
  SELECT user_id, min(bucket) AS lo, max(bucket) AS hi FROM b GROUP BY 1
), g AS (
  SELECT user_id, unnest(range(lo, hi + 1)) AS bucket FROM s
)
SELECT g.user_id,
       make_timestamp(g.bucket * 21600000000) AS bucket_ts,
       round(last_value(b.v IGNORE NULLS)
               OVER (PARTITION BY g.user_id ORDER BY g.bucket
                     ROWS UNBOUNDED PRECEDING), 4) AS v
FROM g LEFT JOIN b ON g.user_id = b.user_id AND g.bucket = b.bucket
"""


@_register("resample_fill_events", _RESAMPLE_SQL)
def resample_fill_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user 6-hour resample of event values (bucket mean) with
    forward fill over each user's span — the time-axis densification
    every monitoring/feature pipeline needs. Oracle: DuckDB
    range-unnest grid + IGNORE NULLS last_value window."""
    ev = _t(spark, sf_dir, "events")
    out = resample_fill(
        ev,
        group_cols=["user_id"],
        ts_col="ts",
        value_col="value",
        step_seconds=21600,
        agg="avg",
    )
    return out.select("user_id", "bucket_ts", F.round("v", 4).alias("v"))


_FUNNEL_SQL = """
WITH m AS (
  SELECT user_id,
    min(CASE WHEN event_type = 'signup' THEN ts END) AS m0,
    min(CASE WHEN event_type = 'view' THEN ts END) AS m1,
    min(CASE WHEN event_type = 'click' THEN ts END) AS m2,
    min(CASE WHEN event_type = 'purchase' THEN ts END) AS m3
  FROM events GROUP BY user_id
), c AS (
  SELECT
    CAST(sum(CASE WHEN m0 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n0,
    CAST(sum(CASE WHEN m0 < m1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
    CAST(sum(CASE WHEN m0 < m1 AND m1 < m2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
    CAST(sum(CASE WHEN m0 < m1 AND m1 < m2 AND m2 < m3 THEN 1 ELSE 0 END)
         AS BIGINT) AS n3
  FROM m
)
SELECT CAST(0 AS BIGINT) AS stage_idx, 'signup' AS stage, n0 AS n_actors FROM c
UNION ALL SELECT 1, 'view', n1 FROM c
UNION ALL SELECT 2, 'click', n2 FROM c
UNION ALL SELECT 3, 'purchase', n3 FROM c
"""


@_register("funnel_conversion_events", _FUNNEL_SQL)
def funnel_conversion_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """signup → view → click → purchase ordered funnel: an actor
    reaches stage k iff their first touches of stages 1..k are
    strictly time-ordered. One aggregation pass (per-stage min
    timestamps), no self-joins."""
    ev = _t(spark, sf_dir, "events")
    return funnel(
        ev,
        actor_col="user_id",
        ts_col="ts",
        stage_col="event_type",
        stages=["signup", "view", "click", "purchase"],
    )


_RETENTION_SQL = """
WITH f AS (
  SELECT user_id,
         min(CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE))
           AS cohort
  FROM events GROUP BY 1
), a AS (
  SELECT DISTINCT user_id,
         CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE) AS active
  FROM events
)
SELECT f.cohort,
       CAST(date_diff('day', f.cohort, a.active) / 7 AS BIGINT) AS offset,
       CAST(count(*) AS BIGINT) AS n_actors
FROM a JOIN f USING (user_id)
GROUP BY 1, 2
"""


@_register("retention_cohorts_events", _RETENTION_SQL)
def retention_cohorts_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention triangle: users cohorted by first-activity
    week, counted in each week they return (offset 0 = cohort week).
    Both engines week-truncate to Monday, so day-difference / 7 is
    exact."""
    ev = _t(spark, sf_dir, "events")
    return retention_cohorts(
        ev, actor_col="user_id", ts_col="ts", period="week"
    )


@_register(
    "global_ids_documents",
    """
SELECT doc_id,
       CAST(row_number() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS gid
FROM documents
""",
)
def global_ids_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense 0-based global ids by doc_id rank via the two-phase
    range-partition scheme — numbering identical to a global
    row_number, computed without ever funneling the data through one
    partition (the oracle's OVER (ORDER BY …) does exactly that, which
    is why the operator exists)."""
    docs = _t(spark, sf_dir, "documents")
    return assign_global_ids(docs, "doc_id").select("doc_id", "gid")


_BM25_SQL = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split(lower(text), ' '), x -> x <> '') AS ts
  FROM documents
), posting AS (
  SELECT doc_id, len(ts) AS dl, t.term, count(*) AS tf
  FROM toks, unnest(ts) AS t(term)
  WHERE t.term IN ('spark', 'join', 'window')
  GROUP BY 1, 2, 3
), dfreq AS (
  SELECT term, count(*) AS df FROM posting GROUP BY 1
), stats AS (
  SELECT count(*) AS n, avg(len(ts)) AS avgdl FROM toks
)
SELECT p.doc_id,
       round(sum(ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5))
                 * p.tf * 2.2
                 / (p.tf + 1.2 * (1 - 0.75 + 0.75 * p.dl / s.avgdl))), 6)
         AS score
FROM posting p JOIN dfreq d ON p.term = d.term CROSS JOIN stats s
GROUP BY p.doc_id
ORDER BY score DESC, p.doc_id ASC
LIMIT 20
"""


@_register("bm25_search_documents", _BM25_SQL)
def bm25_search_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-20 for the query {spark, join, window}: ranked
    retrieval over the corpus, postings pruned to the query terms
    before any shuffle. Scores rounded to 6 dp in BOTH engines before
    the (score desc, doc_id asc) top-k, so float-associativity noise
    cannot reorder ties."""
    docs = _t(spark, sf_dir, "documents")
    return bm25_search(
        docs, "doc_id", "text", ["spark", "join", "window"], k=20
    )


@_register(
    "compact_roundtrip_orders",
    """
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
       o_orderdate, o_orderpriority
FROM orders
""",
)
def compact_roundtrip_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction proof: rewrite the orders dataset into
    ~512 KB files and hash the re-read against the original — row
    content survives the round-robin repartition byte-exactly even
    though row order does not (the driver compare sorts)."""
    from workshoop2_etl_spark.sources.writers import compact_parquet

    src = os.path.join(sf_dir, "orders.parquet")
    dst = os.path.join(
        tempfile.gettempdir(),
        f"workshoop2_compact_orders_{_run_token(sf_dir)}",
    )
    compact_parquet(spark, src, dst, target_file_bytes=512 * 1024)
    return spark.read.parquet(dst).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority",
    )


_TRANSITIONS_SQL = """
WITH o AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev
  FROM events
)
SELECT prev AS from_state, event_type AS to_state,
       CAST(count(*) AS BIGINT) AS n
FROM o WHERE prev IS NOT NULL
GROUP BY 1, 2
"""


@_register("transitions_events", _TRANSITIONS_SQL)
def transitions_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order event-type transition counts per user timeline
    (Markov bigrams): one lag window over (user, ts, event_id) + one
    count aggregate. event_id tie-breaks equal timestamps so the
    sequence — and therefore the counts — are deterministic."""
    from workshoop2_etl_spark.operators.timeseries import transition_counts

    ev = _t(spark, sf_dir, "events")
    return transition_counts(
        ev,
        actor_col="user_id",
        ts_col="ts",
        state_col="event_type",
        order_tiebreak=["event_id"],
    )


_OVERLAP_SQL = """
WITH iv AS (
  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS lo,
         epoch_us(CAST(ts AS TIMESTAMP)) + 1800000000 AS hi
  FROM events
)
SELECT a.user_id, CAST(count(*) AS BIGINT) AS n_overlaps
FROM iv a JOIN iv b
  ON a.user_id = b.user_id AND a.event_id < b.event_id
 AND a.lo <= b.hi AND b.lo <= a.hi
GROUP BY a.user_id
"""


@_register("overlap_join_events", _OVERLAP_SQL)
def overlap_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap self-join: each event becomes a 30-minute
    interval; count intersecting interval pairs per user (a.id < b.id
    orders the pair once). Bin-bucketed equi-join with the
    first-common-bin dedup guard — never a nested loop, never a
    distinct."""
    from workshoop2_etl_spark.functions.text import epoch_micros
    from workshoop2_etl_spark.operators.merge import overlap_join

    ev = _t(spark, sf_dir, "events")
    half_hour_us = 1_800_000_000
    us = epoch_micros(ev, "ts")
    left = ev.select(
        "user_id",
        F.col("event_id").alias("ea"),
        us.alias("a_lo"),
        (us + half_hour_us).alias("a_hi"),
    )
    right = ev.select(
        "user_id",
        F.col("event_id").alias("eb"),
        us.alias("b_lo"),
        (us + half_hour_us).alias("b_hi"),
    )
    out = overlap_join(
        left, right, ["user_id"], "a_lo", "a_hi", "b_lo", "b_hi",
        bin_size=half_hour_us,
    ).filter(F.col("ea") < F.col("eb"))
    return out.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_overlaps")
    )


_MOM_SQL = """
WITH m AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS mon,
         round(sum(o_totalprice), 2) AS revenue
  FROM orders GROUP BY 1
)
SELECT mon, revenue,
       round(100.0 * (revenue - lag(revenue) OVER (ORDER BY mon))
             / lag(revenue) OVER (ORDER BY mon), 4) AS pct_change
FROM m
"""


@_register("mom_revenue_growth", _MOM_SQL)
def mom_revenue_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue growth: aggregate FIRST (months are
    bounded cardinality at any data scale), then a lag window over the
    tiny monthly series — the global-order window is safe precisely
    because it runs on the aggregate, never the fact table."""
    orders = _t(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.date_trunc("month", "o_orderdate").cast("date").alias("mon")
    ).agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    w = Window.orderBy("mon")
    prev = F.lag("revenue").over(w)
    return monthly.select(
        "mon",
        "revenue",
        F.round(100.0 * (F.col("revenue") - prev) / prev, 4).alias(
            "pct_change"
        ),
    )


_SYNTH_AGG_SQL = """
WITH s AS ({base})
SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       round(sum(value), 3) AS value_sum,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM s GROUP BY event_type
"""


@_register(
    "python_datasource_synthetic",
    _SYNTH_AGG_SQL.format(base=_synth_oracle_base(5000)),
)
def python_datasource_synthetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom connector through Spark 4's Python DataSource API: the
    deterministic synthetic events source read as a first-class
    ``format()``, partition planning and all, then aggregated per
    event type. Oracle: the closed-form generator reproduced in
    DuckDB over ``range(n)`` — connector output is a pure function,
    proven cross-engine."""
    from workshoop2_etl_spark.sources.synthetic import (
        register_synthetic_source,
    )

    register_synthetic_source(spark)
    df = (
        spark.read.format("synthetic_events")
        .option("rows", "5000")
        .option("numPartitions", "8")
        .load()
    )
    return df.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 3).alias("value_sum"),
        F.count_distinct("user_id").cast("long").alias("n_users"),
    )


@_register("hll_shard_union_customers")  # rows-only: approx sketch
def hll_shard_union_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE distinct-count sketches (Apache DataSketches HLL,
    built into Spark 3.5+): one compact sketch per nation shard,
    unioned into a corpus-wide estimate — the 100 TB pattern where
    every shard summarizes locally and only sketch bytes cross the
    wire (re-aggregatable, unlike approx_count_distinct's one-shot).
    Rows-only (estimates have no SQL twin); the pytest bound asserts
    the estimate lands within HLL's error envelope of the exact
    count."""
    cust = _t(spark, sf_dir, "customer")
    shards = cust.groupBy("c_nationkey").agg(
        F.hll_sketch_agg("c_custkey", F.lit(12)).alias("sk")
    )
    return shards.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk"))
        .cast("long")
        .alias("approx_distinct_customers")
    )


_WINSORIZE_SQL = """
WITH b AS (
  SELECT quantile_cont(o_totalprice, 0.01) AS lo,
         quantile_cont(o_totalprice, 0.99) AS hi
  FROM orders
)
SELECT o_orderkey,
       round(CASE WHEN o_totalprice < lo THEN lo
                  WHEN o_totalprice > hi THEN hi
                  ELSE o_totalprice END, 2) AS clipped
FROM orders, b
"""


@_register("winsorize_orders_totalprice", _WINSORIZE_SQL)
def winsorize_orders_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlier clipping to the exact [p1, p99] band (winsorization —
    the numeric-cleaning step before any scale-sensitive model).
    EXACT percentiles with linear interpolation on both engines —
    since round 13 via ``analytics.quantiles_ranked`` (the two-phase
    range-exchange order statistic) instead of the single-buffer
    ``percentile`` aggregate that sorted the whole column in one
    task (measured 0.89 s → 11.3 s on a 10× step); the one-row bound
    frame broadcasts, the fact table never shuffles."""
    from workshoop2_etl_spark.operators.analytics import quantiles_ranked

    orders = _t(spark, sf_dir, "orders")
    qs = quantiles_ranked(orders, "o_totalprice", [0.01, 0.99])
    bounds = qs.agg(
        F.min(F.when(F.col("p") == 0.01, F.col("q"))).alias("lo"),
        F.max(F.when(F.col("p") == 0.99, F.col("q"))).alias("hi"),
    )
    return (
        orders.crossJoin(F.broadcast(bounds))
        .select(
            "o_orderkey",
            F.round(
                F.when(F.col("o_totalprice") < F.col("lo"), F.col("lo"))
                .when(F.col("o_totalprice") > F.col("hi"), F.col("hi"))
                .otherwise(F.col("o_totalprice")),
                2,
            ).alias("clipped"),
        )
    )


_ROLLING_SQL = """
WITH d AS (
  SELECT o_orderdate AS day, sum(o_totalprice) AS rev
  FROM orders GROUP BY 1
)
SELECT CAST(day AS DATE) AS day,
       round(sum(rev) OVER (
         ORDER BY day RANGE BETWEEN INTERVAL 6 DAY PRECEDING
                            AND CURRENT ROW), 2) AS rev_7d
FROM d
"""


@_register("rolling_7d_revenue", _ROLLING_SQL)
def rolling_7d_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day rolling revenue via a RANGE-frame window over the DAILY
    aggregate (calendar range, not row count — gaps in the date axis
    still window correctly). Aggregate first: the global-order window
    runs on ≤ one row per day at any data scale."""
    orders = _t(spark, sf_dir, "orders")
    daily = orders.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.sum("o_totalprice").alias("rev")
    )
    w = (
        Window.orderBy(F.col("day").cast("timestamp").cast("long"))
        .rangeBetween(-6 * 86400, 0)
    )
    return daily.select(
        "day", F.round(F.sum("rev").over(w), 2).alias("rev_7d")
    )


_ZSCORE_SQL = """
WITH s AS (
  SELECT avg(l_extendedprice) AS mu, stddev_samp(l_extendedprice) AS sd
  FROM lineitem
)
SELECT l_orderkey, l_linenumber,
       round((l_extendedprice - mu) / sd, 6) AS z
FROM lineitem, s
WHERE l_orderkey % 20 = 0
"""


@_register("zscore_lineitem_price", _ZSCORE_SQL)
def zscore_lineitem_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-score feature normalization: corpus mean/stddev as a one-row
    broadcast, standardization as a narrow projection (the fact table
    never shuffles). Sample stddev on both engines; output bounded to
    a twentieth of the keys for the hash compare."""
    li = _t(spark, sf_dir, "lineitem")
    stats = li.agg(
        F.avg("l_extendedprice").alias("mu"),
        F.stddev_samp("l_extendedprice").alias("sd"),
    )
    return (
        li.filter(F.col("l_orderkey") % 20 == 0)
        .crossJoin(F.broadcast(stats))
        .select(
            "l_orderkey",
            "l_linenumber",
            F.round(
                (F.col("l_extendedprice") - F.col("mu")) / F.col("sd"), 6
            ).alias("z"),
        )
    )


_STREAKS_SQL = """
WITH d AS (
  SELECT DISTINCT user_id,
         CAST(floor(epoch_us(ts) / 86400000000) AS BIGINT) AS day
  FROM events
), g AS (
  SELECT user_id, day,
         day - row_number() OVER (PARTITION BY user_id ORDER BY day) AS grp
  FROM d
), isl AS (
  SELECT user_id, min(day) AS island_start, max(day) AS island_end,
         CAST(count(*) AS BIGINT) AS length_ticks
  FROM g GROUP BY user_id, grp
), rk AS (
  SELECT *, row_number() OVER (
    PARTITION BY user_id ORDER BY length_ticks DESC, island_start
  ) AS r
  FROM isl
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_islands,
       CAST(sum(length_ticks) AS BIGINT) AS n_active_days,
       max(CASE WHEN r = 1 THEN length_ticks END) AS longest_days,
       DATE '1970-01-01'
         + CAST(max(CASE WHEN r = 1 THEN island_start END) AS INTEGER)
         AS longest_start
FROM rk GROUP BY user_id
"""


@_register("activity_streaks_events", _STREAKS_SQL)
def activity_streaks_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-and-islands: per-user runs of CONSECUTIVE active days
    collapsed via the tick − row_number constant-group trick (one
    window + one aggregate, partition-parallel by user — no
    self-join, no iteration), reported as islands / total active days
    / longest streak with earliest-start tie-break. Day ticks come
    from epoch-microsecond floor division so both timestamp flavors
    (LTZ / NTZ, see functions.text.epoch_micros) agree with the
    oracle's epoch_us."""
    from workshoop2_etl_spark.functions.text import epoch_micros
    from workshoop2_etl_spark.operators.timeseries import longest_streaks

    ev = _t(spark, sf_dir, "events")
    days = ev.select(
        "user_id",
        F.floor(epoch_micros(ev, "ts") / F.lit(86_400_000_000)).alias("day"),
    )
    out = longest_streaks(days, ["user_id"], "day")
    return out.select(
        "user_id",
        "n_islands",
        F.col("n_active_ticks").alias("n_active_days"),
        F.col("longest_len").alias("longest_days"),
        F.date_add(
            F.lit("1970-01-01").cast("date"),
            F.col("longest_start").cast("int"),
        ).alias("longest_start"),
    )


_CLUSTERED_SQL = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       round(sum(value), 2) AS total_value
FROM events
WHERE epoch_us(ts) >= (SELECT min(epoch_us(ts)) FROM events)
                      + CAST(floor(0.45 * (SELECT max(epoch_us(ts)) - min(epoch_us(ts))
                                           FROM events)) AS BIGINT)
  AND epoch_us(ts) <  (SELECT min(epoch_us(ts)) FROM events)
                      + CAST(floor(0.55 * (SELECT max(epoch_us(ts)) - min(epoch_us(ts))
                                           FROM events)) AS BIGINT)
GROUP BY event_type
"""


@_register("clustered_scan_events", _CLUSTERED_SQL)
def clustered_scan_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storage-layout round trip: rewrite events RANGE-CLUSTERED on
    event time (writers.cluster_parquet — range exchange +
    in-partition sort, small row groups), then answer a 10%%-of-span
    time-window aggregate from the clustered copy. Correctness is the
    oracle (identical answer from the original layout); the PRUNING —
    the clustered scan touching ~10%% of row groups where the hashed
    layout touches all — is measured in tests/test_data_skipping.py.
    The time bounds are derived from the data (min/max epoch), so the
    query is scale-factor-portable."""
    import os as _os
    import tempfile as _tempfile

    from workshoop2_etl_spark.functions.text import epoch_micros
    from workshoop2_etl_spark.sources.writers import cluster_parquet

    ev = _t(spark, sf_dir, "events")
    us = epoch_micros(ev, "ts")
    ev_us = ev.withColumn("__us", us)
    dst = _os.path.join(
        _tempfile.gettempdir(),
        f"workshoop2_clustered_events_{_run_token(sf_dir)}",
    )
    cluster_parquet(
        ev_us, dst, cluster_cols=["__us"], rowgroup_bytes=256 * 1024
    )
    back = spark.read.parquet(dst)
    # Two-scalar driver hop (cf. ids.py / sampling.py's bounded
    # fetches): literal bounds are what lets the predicate reach the
    # parquet reader as PushedFilters and actually prune row groups —
    # a column-reference bound would filter post-scan.
    b = back.agg(F.min("__us").alias("lo"), F.max("__us").alias("hi")).collect()[0]
    lo, hi = b["lo"], b["hi"]
    start = lo + int(0.45 * (hi - lo))
    end = lo + int(0.55 * (hi - lo))
    framed = back.filter(
        (F.col("__us") >= F.lit(start)) & (F.col("__us") < F.lit(end))
    )
    return framed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


_ATTRIBUTION_SQL = """
WITH conv AS (
  SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS conv_ts
  FROM events WHERE event_type = 'purchase' GROUP BY 1
), touches AS (
  SELECT e.user_id,
         first(e.event_type ORDER BY e.ts, e.event_id) AS first_ch,
         last(e.event_type ORDER BY e.ts, e.event_id) AS last_ch
  FROM events e JOIN conv c ON e.user_id = c.user_id
  WHERE CAST(e.ts AS TIMESTAMP) < c.conv_ts
  GROUP BY e.user_id
), f AS (
  SELECT first_ch AS channel, CAST(count(*) AS BIGINT) AS n_first_touch
  FROM touches GROUP BY 1
), l AS (
  SELECT last_ch AS channel, CAST(count(*) AS BIGINT) AS n_last_touch
  FROM touches GROUP BY 1
)
SELECT COALESCE(f.channel, l.channel) AS channel,
       CAST(COALESCE(n_first_touch, 0) AS BIGINT) AS n_first_touch,
       CAST(COALESCE(n_last_touch, 0) AS BIGINT) AS n_last_touch
FROM f FULL OUTER JOIN l ON f.channel = l.channel
"""


@_register("attribution_events", _ATTRIBUTION_SQL)
def attribution_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch / last-touch conversion attribution: which event
    type opened, and which closed, each user's path to their first
    purchase. min_by/max_by on the (ts, event_id) struct makes both
    touches deterministic under timestamp ties; the oracle's ordered
    first()/last() aggregates mirror the same total order."""
    from workshoop2_etl_spark.operators.timeseries import attribution

    ev = _t(spark, sf_dir, "events")
    return attribution(
        ev,
        actor_col="user_id",
        ts_col="ts",
        channel_col="event_type",
        conversion_predicate=F.col("event_type") == "purchase",
        tiebreak_cols=["event_id"],
    )


_ACTIVE7D_SQL = """
WITH d AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
), days AS (
  SELECT DISTINCT day FROM d
)
SELECT days.day, CAST(count(DISTINCT d.user_id) AS BIGINT) AS n_active
FROM days JOIN d ON d.day BETWEEN days.day - 6 AND days.day
GROUP BY 1
"""


@_register("active_users_7d_events", _ACTIVE7D_SQL)
def active_users_7d_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct active users per observed day (the
    DAU/WAU family). Sliding COUNT(DISTINCT) has no window-function
    form, so the scalable shape is bounded contribution fan-out over
    actor-days (x7 on distinct pairs, not events) + re-distinct +
    per-day count; the oracle is the quadratic range-join DuckDB can
    afford at test scale — agreement proves the fan-out recomposition
    exact."""
    from workshoop2_etl_spark.operators.timeseries import (
        sliding_active_actors,
    )

    ev = _t(spark, sf_dir, "events")
    return sliding_active_actors(
        ev, actor_col="user_id", ts_col="ts", window_days=7
    )


_INTERP_SQL = """
WITH b AS (
  SELECT user_id,
         CAST(floor(epoch_us(CAST(ts AS TIMESTAMP)) / 21600000000) AS BIGINT)
           AS bucket,
         avg(value) AS v
  FROM events GROUP BY 1, 2
), s AS (
  SELECT user_id, min(bucket) AS lo, max(bucket) AS hi FROM b GROUP BY 1
), g AS (
  SELECT user_id, unnest(range(lo, hi + 1)) AS bucket FROM s
), j AS (
  SELECT g.user_id, g.bucket, b.v,
         last_value(b.v IGNORE NULLS) OVER wp AS prev_v,
         last_value(CASE WHEN b.v IS NOT NULL THEN g.bucket END IGNORE NULLS)
           OVER wp AS prev_b,
         first_value(b.v IGNORE NULLS) OVER wn AS next_v,
         first_value(CASE WHEN b.v IS NOT NULL THEN g.bucket END IGNORE NULLS)
           OVER wn AS next_b
  FROM g LEFT JOIN b ON g.user_id = b.user_id AND g.bucket = b.bucket
  WINDOW wp AS (PARTITION BY g.user_id ORDER BY g.bucket
                ROWS UNBOUNDED PRECEDING),
         wn AS (PARTITION BY g.user_id ORDER BY g.bucket
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT user_id,
       make_timestamp(bucket * 21600000000) AS bucket_ts,
       floor((CASE WHEN v IS NOT NULL THEN v
                   WHEN prev_v IS NOT NULL AND next_v IS NOT NULL
                     THEN prev_v + (next_v - prev_v) * (bucket - prev_b)
                          / (next_b - prev_b)
                   ELSE prev_v END) * 10000 + 0.5) / 10000 AS v
FROM j
"""


@_register("interpolate_linear_events", _INTERP_SQL)
def interpolate_linear_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user 6-hour resample with LINEAR interpolation across gaps
    (straight line between the nearest observed bucket on each side;
    trailing gaps hold, leading gaps stay NULL) — the sibling of
    resample_fill_events for continuous signals. Identical IEEE
    expression order on both engines makes the doubles bit-equal
    (verified: max |Δ| = 0.0 unrounded at sf0.01); the 4-dp cut uses
    an EXPLICIT floor(x·10⁴+½)/10⁴ on both sides because engine
    round() builtins disagree at half-boundaries (Spark HALF_UP on
    the shortest-decimal repr vs DuckDB's scaled-multiply round) —
    and interpolated midpoints hit .xxxx5 structurally."""
    ev = _t(spark, sf_dir, "events")
    out = resample_fill(
        ev,
        group_cols=["user_id"],
        ts_col="ts",
        value_col="value",
        step_seconds=21600,
        agg="avg",
        fill="linear",
    )
    return out.select(
        "user_id",
        "bucket_ts",
        (F.floor(F.col("v") * 10000 + F.lit(0.5)) / 10000).alias("v"),
    )


_EWMA_SQL = """
WITH r AS (
  SELECT user_id, ts, event_id, CAST(value AS DOUBLE) AS x,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS rn
  FROM events
), l AS (
  SELECT user_id, list(x ORDER BY ts, event_id) AS xs FROM r GROUP BY user_id
)
SELECT r.user_id, r.ts, r.x AS value,
       list_reduce(l.xs[1:r.rn], (acc, x) -> 0.3 * x + (1.0 - 0.3) * acc)
         AS ewma
FROM r JOIN l ON r.user_id = l.user_id
"""


@_register("ewma_value_events", _EWMA_SQL)
def ewma_value_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponential smoothing (α=0.3, adjust=False) of event
    values in event order — the denoised signal monitoring and
    feature pipelines layer on raw metrics. The engine runs the O(n)
    per-key recursion (one shuffle + a codegen'd higher-order fold);
    the oracle replays the IDENTICAL left-fold (per-row prefix
    list_reduce, same `α·x + (1−α)·acc` operand order, `(1.0 − 0.3)`
    spelled out because the literal 0.7 is one ulp away) — so the
    doubles are BIT-EQUAL and the compare runs unrounded. A 4-dp
    closed-form oracle was tried first and hit 5 genuine half-boundary
    collisions at sf0.01; exact-recursion replay is the stable shape
    (cf. interpolate_linear_events on engine round() divergence)."""
    from workshoop2_etl_spark.operators.timeseries import ewma

    ev = _t(spark, sf_dir, "events")
    return ewma(
        ev,
        key_col="user_id",
        ts_col="ts",
        value_col="value",
        alpha=0.3,
        tiebreak_cols=["event_id"],
    )


_VERSIONED_SQL = """
WITH v0 AS (
  SELECT 0 AS version, count(*) AS n_orders,
         round(sum(o_totalprice), 2) AS total_price
  FROM orders WHERE o_orderdate < TIMESTAMP '1996-01-01'
), v1 AS (
  SELECT 1, count(*), round(sum(o_totalprice), 2)
  FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01'
), v2 AS (
  SELECT 2, count(*), round(sum(o_totalprice), 2)
  FROM orders WHERE o_orderdate >= TIMESTAMP '2000-01-01'
), v3 AS (
  SELECT 3, count(*), round(sum(o_totalprice), 2)
  FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01'
)
SELECT CAST(version AS BIGINT) AS version,
       CAST(n_orders AS BIGINT) AS n_orders, total_price
FROM (SELECT * FROM v0 UNION ALL SELECT * FROM v1
      UNION ALL SELECT * FROM v2 UNION ALL SELECT * FROM v3)
"""


@_register("versioned_timetravel_orders", _VERSIONED_SQL)
def versioned_timetravel_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Versioned-table lifecycle proof (sources/versioned.py): create
    (pre-1996 orders) → append (1996) → logical overwrite (2000+) →
    rollback to the append. Every version is then TIME-TRAVEL-READ
    and aggregated; the oracle recomputes each snapshot straight from
    the date predicates — manifests, immutable file sets, and the
    roll-forward rollback must all reproduce the base table's math
    exactly."""
    import shutil

    from pyspark.sql import functions as F

    from workshoop2_etl_spark.sources.versioned import (
        commit_append,
        commit_overwrite,
        create_table,
        read_version,
        rollback,
    )

    orders = _t(spark, sf_dir, "orders")
    t = os.path.join(
        tempfile.gettempdir(),
        f"workshoop2_versioned_orders_{_run_token(sf_dir)}",
    )
    shutil.rmtree(t, ignore_errors=True)
    d96 = F.lit("1996-01-01").cast("timestamp")
    d97 = F.lit("1997-01-01").cast("timestamp")
    d00 = F.lit("2000-01-01").cast("timestamp")
    create_table(orders.filter(F.col("o_orderdate") < d96), t)       # v0
    commit_append(
        orders.filter(
            (F.col("o_orderdate") >= d96) & (F.col("o_orderdate") < d97)
        ),
        t,
    )                                                                # v1
    commit_overwrite(orders.filter(F.col("o_orderdate") >= d00), t)  # v2
    rollback(t, 1)                                                   # v3
    parts = [
        read_version(spark, t, v)
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
        .select(
            F.lit(v).cast("long").alias("version"), "n_orders", "total_price"
        )
        for v in range(4)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


_SCHEMA_EVO_SQL = """
SELECT o_orderkey, o_totalprice, CAST(NULL AS VARCHAR) AS channel
FROM orders WHERE o_orderkey % 10 = 0
UNION ALL
SELECT o_orderkey, o_totalprice, 'web' AS channel
FROM orders WHERE o_orderkey % 10 = 5
ORDER BY o_orderkey
"""


@_register("schema_evolution_orders", _SCHEMA_EVO_SQL)
def schema_evolution_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Versioned-table SCHEMA EVOLUTION end to end (round 12 —
    sources/versioned.py: manifests record each version's schema and
    reads plan with it): v0 holds an orders slice WITHOUT the
    ``channel`` column; v1 appends a second slice WITH it under the
    explicit ``merge_schema=True`` opt-in (the unguarded append
    refuses — pytest pins that plus retype/drop refusals and
    per-version schema pinning). The latest read must NULL-fill the
    new column for every pre-evolution file while the evolved rows
    carry their values — the Delta ADD COLUMN semantics, stated
    closed-form by the oracle. A wrong manifest schema, a read that
    ignores it, or NULL-fill leakage into the new rows all break the
    hash. NEW r12 entry, demoted on arrival: rotate into the driver
    window in round 13; mirror-checked every pytest run."""
    import shutil

    from pyspark.sql import functions as F

    from workshoop2_etl_spark.sources.versioned import (
        commit_append,
        create_table,
        read_version,
    )

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    t = os.path.join(
        tempfile.gettempdir(),
        f"workshoop2_schema_evo_{_run_token(sf_dir)}",
    )
    shutil.rmtree(t, ignore_errors=True)
    create_table(orders.filter(F.col("o_orderkey") % 10 == 0), t)  # v0
    widened = orders.filter(F.col("o_orderkey") % 10 == 5).withColumn(
        "channel", F.lit("web")
    )
    commit_append(widened, t, merge_schema=True)  # v1: ADD COLUMN
    return read_version(spark, t, None).orderBy("o_orderkey")


_HOLT_SQL = """
WITH RECURSIVE r AS (
  SELECT user_id, ts, CAST(value AS DOUBLE) AS x,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS rn
  FROM events
), s AS (
  SELECT user_id, ts, x, rn, x AS l, CAST(0.0 AS DOUBLE) AS b
  FROM r WHERE rn = 1
  UNION ALL
  SELECT r.user_id, r.ts, r.x, r.rn,
         0.3 * r.x + (1.0 - 0.3) * (s.l + s.b) AS l,
         0.2 * ((0.3 * r.x + (1.0 - 0.3) * (s.l + s.b)) - s.l)
           + (1.0 - 0.2) * s.b AS b
  FROM r JOIN s ON r.user_id = s.user_id AND r.rn = s.rn + 1
)
SELECT user_id, ts, x AS value, l AS level, b AS trend,
       l + b AS forecast
FROM s
"""


@_register("holt_trend_events", _HOLT_SQL)
def holt_trend_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user Holt double exponential smoothing (α=0.3, β=0.2):
    level + linear trend + one-step forecast per event
    (operators/timeseries.py:holt). The oracle replays the identical
    two-state recursion as a RECURSIVE CTE stepping rn → rn+1 with
    the same operand order — level, trend, and forecast all compare
    BIT-EQUAL unrounded, the strongest cross-engine statement an
    iterative recurrence can make."""
    from workshoop2_etl_spark.operators.timeseries import holt

    ev = _t(spark, sf_dir, "events")
    return holt(
        ev,
        key_col="user_id",
        ts_col="ts",
        value_col="value",
        alpha=0.3,
        beta=0.2,
        tiebreak_cols=["event_id"],
    )


_KM_SQL = """
WITH life AS (
  SELECT o_custkey,
         date_diff('day', min(o_orderdate), max(o_orderdate)) AS duration,
         CASE WHEN max(o_orderdate) < TIMESTAMP '2001-05-01'
              THEN 1 ELSE 0 END AS event
  FROM orders GROUP BY o_custkey
), per_t AS (
  SELECT duration, sum(event) AS d, count(*) AS tot
  FROM life GROUP BY duration
), t AS (
  SELECT sum(tot) AS n FROM per_t
), stepped AS (
  SELECT duration, d,
         CAST(t.n - COALESCE(sum(tot) OVER (ORDER BY duration
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS n_risk,
         tot
  FROM per_t, t
), curve AS (
  SELECT duration, d, n_risk,
         max(CASE WHEN d = n_risk THEN 1 ELSE 0 END)
           OVER w AS dead,
         sum(ln(CASE WHEN d = n_risk THEN 1.0
                     ELSE 1.0 - d / n_risk END)) OVER w AS lnsum
  FROM stepped
  WINDOW w AS (ORDER BY duration
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT duration, n_risk, CAST(d AS BIGINT) AS n_events,
       CASE WHEN dead = 1 THEN 0.0 ELSE round(exp(lnsum), 6) END AS survival
FROM curve WHERE d > 0
"""


@_register("kaplan_meier_customers", _KM_SQL)
def kaplan_meier_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-lifetime survival curve (Kaplan–Meier product-limit):
    lifetime = days between a customer's first and last order;
    customers whose last order falls within the dataset's final three
    months are right-CENSORED (still active — naive avg-lifetime
    would count them as churned, biasing lifetimes down). Data-sized
    work is one per-customer + one per-duration aggregate; the
    cumulative product runs over the distinct-duration table
    (time-resolution-bounded) — operators/timeseries.py:kaplan_meier."""
    from workshoop2_etl_spark.operators.timeseries import kaplan_meier

    orders = _t(spark, sf_dir, "orders")
    life = orders.groupBy("o_custkey").agg(
        F.datediff(F.max("o_orderdate"), F.min("o_orderdate")).alias(
            "duration"
        ),
        F.when(
            F.max("o_orderdate") < F.lit("2001-05-01").cast("timestamp"),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("event"),
    )
    return kaplan_meier(life, duration_col="duration", event_col="event")


_LAKEHOUSE_SQL = """
WITH base AS (
  SELECT * FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'
), ins AS (
  SELECT * FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01'
), kept_base AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 100 = 0 THEN o_totalprice + 1000.0
              ELSE o_totalprice END AS p
  FROM base WHERE o_orderkey % 97 <> 0
), kept_ins AS (
  SELECT o_orderkey, o_totalprice AS p FROM ins WHERE o_orderkey % 97 <> 0
), final AS (
  SELECT * FROM kept_base UNION ALL SELECT * FROM kept_ins
)
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       round(sum(p), 2) AS total_price,
       CAST((SELECT count(*) FROM base) AS BIGINT) AS n_v0
FROM final
"""


@_register("lakehouse_roundtrip_orders", _LAKEHOUSE_SQL)
def lakehouse_roundtrip_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lakehouse lifecycle end-to-end, ONE composed oracle: a
    CHECK-constrained CREATE of the pre-1998 snapshot (expectations
    ride the write, sources/versioned.py:commit_with_expectations), a
    CDC MERGE (1998+ inserts, +1000 price updates on keys %100,
    deletes on keys %97 — delete outranks update by sequence), a
    COMPACT rewrite, then the final snapshot aggregated alongside a
    TIME-TRAVEL read of v0 — while the oracle recomputes the same
    state straight from date predicates and modular arithmetic. Any
    drift in manifests, merge precedence, compaction, or time travel
    breaks the hash."""
    import shutil

    from workshoop2_etl_spark.sources.versioned import (
        commit_with_expectations,
        compact_table,
        merge_cdc,
        read_version,
    )

    orders = _t(spark, sf_dir, "orders")
    t = os.path.join(
        tempfile.gettempdir(),
        f"workshoop2_lakehouse_orders_{_run_token(sf_dir)}",
    )
    shutil.rmtree(t, ignore_errors=True)
    d98 = F.lit("1998-01-01").cast("timestamp")
    base = orders.filter(F.col("o_orderdate") < d98)
    commit_with_expectations(
        base,
        t,
        {
            "price_positive": "o_totalprice > 0",
            "key_present": "o_orderkey IS NOT NULL",
        },
        op="create",
    )
    inserts = orders.filter(F.col("o_orderdate") >= d98).select(
        "*", F.lit("I").alias("op"), F.lit(1).cast("long").alias("seq")
    )
    updates = base.filter(F.col("o_orderkey") % 100 == 0).select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        (F.col("o_totalprice") + 1000.0).alias("o_totalprice"),
        "o_orderdate",
        "o_orderpriority",
        F.lit("U").alias("op"),
        F.lit(2).cast("long").alias("seq"),
    )
    deletes = orders.filter(F.col("o_orderkey") % 97 == 0).select(
        "*", F.lit("D").alias("op"), F.lit(3).cast("long").alias("seq")
    )
    changes = inserts.unionByName(updates).unionByName(deletes)
    merge_cdc(spark, t, changes, ["o_orderkey"])
    compact_table(spark, t, target_files=4)
    final = read_version(spark, t).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )
    v0 = read_version(spark, t, 0).agg(
        F.count(F.lit(1)).alias("n_v0")
    )
    return final.crossJoin(F.broadcast(v0)).select(
        "n_rows", "total_price", "n_v0"
    )


_HW_SQL = """
WITH RECURSIVE r AS (
  SELECT o_orderpriority AS pri, o_orderdate AS day,
         CAST(CAST(round(sum(o_totalprice) * 100) AS BIGINT) AS DOUBLE)
           AS x,
         row_number() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_orderdate) AS rn
  FROM orders GROUP BY 1, 2
), s AS (
  SELECT pri, day, x, rn, x AS l,
         CAST(0.0 AS DOUBLE) AS b, CAST(0.0 AS DOUBLE) AS sv,
         CAST(NULL AS DOUBLE) AS fit,
         CAST([0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0] AS DOUBLE[]) AS sarr
  FROM r WHERE rn = 1
  UNION ALL
  SELECT r.pri, r.day, r.x, r.rn,
         0.3 * (r.x - s.sarr[1]) + (1.0 - 0.3) * (s.l + s.b) AS l,
         0.1 * ((0.3 * (r.x - s.sarr[1]) + (1.0 - 0.3) * (s.l + s.b))
                - s.l) + (1.0 - 0.1) * s.b AS b,
         0.2 * (r.x - (0.3 * (r.x - s.sarr[1])
                       + (1.0 - 0.3) * (s.l + s.b)))
           + (1.0 - 0.2) * s.sarr[1] AS sv,
         s.l + s.b + s.sarr[1] AS fit,
         s.sarr[2:] || [0.2 * (r.x - (0.3 * (r.x - s.sarr[1])
                                      + (1.0 - 0.3) * (s.l + s.b)))
                        + (1.0 - 0.2) * s.sarr[1]] AS sarr
  FROM r JOIN s ON r.pri = s.pri AND r.rn = s.rn + 1
)
SELECT pri AS o_orderpriority, day AS o_orderdate, x AS cents,
       l AS level, b AS trend, sv AS seasonal, fit AS fitted
FROM s
"""


@_register("holt_winters_daily_revenue", _HW_SQL)
def holt_winters_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive Holt–Winters (m=7, weekly seasonality) over each
    order priority's DAILY revenue series — level, trend, seasonal
    index, and the one-step forecast per day
    (operators/timeseries.py:holt_winters). The daily series is fed
    as EXACT integer cents, so the triple recursion — including the
    rolling seasonal vector — replays BIT-EQUAL against the oracle's
    RECURSIVE CTE carrying the list state: the strongest cross-engine
    statement a seasonal forecaster can make, and the vector-state
    capstone of the EWMA→Holt fold family."""
    from workshoop2_etl_spark.operators.timeseries import holt_winters

    orders = _t(spark, sf_dir, "orders")
    daily = orders.groupBy("o_orderpriority", "o_orderdate").agg(
        F.round(F.sum("o_totalprice") * 100)
        .cast("long")
        .cast("double")
        .alias("cents")
    )
    return holt_winters(
        daily,
        key_col="o_orderpriority",
        ts_col="o_orderdate",
        value_col="cents",
        period=7,
        alpha=0.3,
        beta=0.1,
        gamma=0.2,
    )


_CONCURRENCY_SQL = """
WITH m AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
         CASE WHEN lag(CAST(ts AS TIMESTAMP)) OVER w IS NULL
                OR CAST(ts AS TIMESTAMP) - lag(CAST(ts AS TIMESTAMP)) OVER w
                   > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_s
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP))
), s AS (
  SELECT user_id, ts,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM m
), sess AS (
  SELECT min(ts) AS session_start,
         max(ts) + INTERVAL 30 MINUTE AS session_end
  FROM s GROUP BY user_id, sid
), deltas AS (
  SELECT ts, CAST(sum(d) AS BIGINT) AS net FROM (
    SELECT session_start AS ts, 1 AS d FROM sess
    UNION ALL
    SELECT session_end AS ts, -1 AS d FROM sess
  ) GROUP BY ts
), c AS (
  SELECT ts, net,
         sum(net) OVER (ORDER BY ts ROWS UNBOUNDED PRECEDING) AS n_active
  FROM deltas
)
SELECT CAST((SELECT count(*) FROM sess) AS BIGINT) AS n_sessions,
       CAST((SELECT count(*) FROM c) AS BIGINT) AS n_boundaries,
       CAST((SELECT max(n_active) FROM c) AS BIGINT) AS max_concurrent,
       (SELECT min(ts) FROM c
        WHERE n_active = (SELECT max(n_active) FROM c)) AS peak_ts
"""


@_register("session_concurrency_events", _CONCURRENCY_SQL)
def session_concurrency_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions: 30-minute-gap sessions swept as
    half-open intervals (+1/−1 boundaries, exact integer running sum
    via ``ids.running_sums`` — never a sampled-instants
    approximation or a single-partition window;
    operators/timeseries.py:concurrency_profile). Reports session
    count, distinct boundaries, the maximum concurrency, and the
    earliest instant achieving it — all integers/timestamps, exact
    on both engines."""
    from pyspark.sql import functions as F

    from workshoop2_etl_spark.operators.timeseries import (
        concurrency_profile,
    )

    ev = _t(spark, sf_dir, "events")
    sess = (
        ev.groupBy(
            F.session_window("ts", "30 minutes").alias("w"), "user_id"
        )
        .agg(F.count(F.lit(1)).alias("__n"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
        )
    )
    prof = concurrency_profile(
        sess, start_col="session_start", end_col="session_end"
    )
    mx = prof.agg(F.max("n_active").alias("__mx"))
    peak = (
        prof.crossJoin(F.broadcast(mx))
        .filter(F.col("n_active") == F.col("__mx"))
        .agg(F.min("ts").alias("peak_ts"))
    )
    counts = prof.agg(F.count(F.lit(1)).alias("n_boundaries"))
    n_sess = sess.agg(F.count(F.lit(1)).alias("n_sessions"))
    return (
        n_sess.crossJoin(F.broadcast(counts))
        .crossJoin(F.broadcast(mx.select(F.col("__mx").alias("max_concurrent"))))
        .crossJoin(F.broadcast(peak))
        .select("n_sessions", "n_boundaries", "max_concurrent", "peak_ts")
    )
