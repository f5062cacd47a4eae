"""Web-graph aggregates over extracted link edges — the signals a
crawl-scale corpus pipeline derives once the link graph exists
(X195/X197/X205 feed edges in; :mod:`operators.graph` runs PageRank
over them): per-target anchor-text profiles (what the web *calls* a
page — a classic retrieval/quality signal) and the host-level
projection (the graph CommonCrawl itself publishes as its host-level
webgraph, input to domain-quality ranking).

Scale shape:

- :func:`anchor_stats` runs two aggregation paths — the per-(dst,
  anchor) mode count (re-keyed to dst by the ranking window) and the
  per-dst totals — and joins them on dst; both sides are aggregates
  (rows ≤ distinct targets), so AQE broadcast-joins the mode side —
  measured plan: no data-sized exchange after the aggregations. The
  anchor list in the output is CAPPED (``max_anchors``) and sorted,
  never an unbounded collect per key.
- :func:`host_graph` projects URL edges to host pairs with pure
  column expressions before the one aggregation shuffle — hosts are
  tiny keys, the page URLs never ride past the projection.

The reference has no graph surface; SURVEY §2.9 X207.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from workshoop2_etl_spark.functions.urls import host_of
from workshoop2_etl_spark.operators.analytics import top_k_per_group


def anchor_stats(
    edges: DataFrame,
    *,
    src_col: str = "src",
    dst_col: str = "dst",
    anchor_col: str = "anchor_text",
    max_anchors: int = 16,
) -> DataFrame:
    """Per link target: ``indegree`` (edge count), ``n_src``
    (distinct linking pages), ``top_anchor`` (most frequent anchor
    text; ties break to the lexicographically smallest — the same
    count-desc/value-asc convention as the engine's mode-or-first
    dedup), ``top_anchor_count``, and ``anchors_all`` (the distinct
    anchor texts, sorted, capped at ``max_anchors``, pipe-joined).

    NULL anchors (image links, empty <a>) are excluded from the
    anchor profile but still count toward indegree."""
    d = F.col(dst_col)
    per_anchor = (
        edges.where(F.col(anchor_col).isNotNull())
        .groupBy(d.alias("__dst"), F.col(anchor_col).alias("__anchor"))
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    top = (
        top_k_per_group(
            per_anchor, ["__dst"], [F.col("__n").desc(), F.col("__anchor")], 1
        )
        .select(
            "__dst",
            F.col("__anchor").alias("top_anchor"),
            F.col("__n").alias("top_anchor_count"),
        )
    )
    # anchors_all from the per-(dst, anchor) DISTINCT rows, ranked
    # and capped BEFORE the collect — the aggregation buffer never
    # holds more than max_anchors values per key (an unbounded
    # collect_set over a Zipf-head homepage target would blow the
    # buffer exactly where this operator must not)
    capped = (
        top_k_per_group(
            per_anchor, ["__dst"], [F.col("__anchor")], max_anchors
        )
        .groupBy("__dst")
        .agg(
            F.array_join(
                F.sort_array(F.collect_list("__anchor")), "|"
            ).alias("anchors_all")
        )
    )
    totals = edges.groupBy(d.alias("__dst")).agg(
        F.count(F.lit(1)).alias("indegree"),
        F.countDistinct(F.col(src_col)).alias("n_src"),
    )
    return (
        totals.join(top, "__dst", "left")
        .join(capped, "__dst", "left")
        .withColumnRenamed("__dst", dst_col)
        .select(
            dst_col,
            "indegree",
            "n_src",
            "top_anchor",
            "top_anchor_count",
            F.coalesce(F.col("anchors_all"), F.lit("")).alias(
                "anchors_all"
            ),
        )
    )


def host_graph(
    edges: DataFrame,
    *,
    src_url_col: str = "src_url",
    dst_url_col: str = "dst_url",
    drop_self: bool = True,
) -> DataFrame:
    """Project page-level URL edges to the host-level graph:
    ``(src_host, dst_host, n_links, n_src_pages)`` — the aggregate
    CommonCrawl publishes as its host webgraph and the input to
    domain-level PageRank/quality ranking. ``drop_self`` removes
    intra-host edges (navigation within a site, which would dominate
    and carry no cross-site endorsement signal)."""
    projected = edges.select(
        host_of(F.col(src_url_col)).alias("src_host"),
        host_of(F.col(dst_url_col)).alias("dst_host"),
        F.col(src_url_col).alias("__src_url"),
    )
    if drop_self:
        projected = projected.where(
            F.col("src_host") != F.col("dst_host")
        )
    return (
        projected.groupBy("src_host", "dst_host")
        .agg(
            F.count(F.lit(1)).alias("n_links"),
            F.countDistinct("__src_url").alias("n_src_pages"),
        )
    )


def outlink_stats(
    edges: DataFrame,
    *,
    src_url_col: str = "src_url",
    dst_url_col: str = "dst_url",
) -> DataFrame:
    """Per source page: ``n_outlinks``, ``n_external`` (links leaving
    the page's host), ``external_ratio``, and ``n_dst_hosts``
    (distinct target hosts) — the outlink-shape features spam/SEO
    classifiers and crawl prioritizers consume (link farms: huge
    external fan-out to many hosts; boilerplate shells: near-zero).
    One aggregation on the source URL; hosts are pure column
    projections, and the ratio is one exact division of two counts
    (deterministic cross-engine)."""
    src_host = host_of(F.col(src_url_col))
    dst_host = host_of(F.col(dst_url_col))
    ext = (src_host != dst_host).cast("long")
    return (
        edges.groupBy(F.col(src_url_col).alias("src_url"))
        .agg(
            F.count(F.lit(1)).alias("n_outlinks"),
            F.sum(ext).alias("n_external"),
            F.countDistinct(dst_host).alias("n_dst_hosts"),
        )
        .withColumn(
            "external_ratio",
            F.col("n_external") / F.col("n_outlinks"),
        )
    )
