"""Registry entries for market-basket and co-occurrence-graph
analytics over the lineitem fact: pairwise association rules
(support / confidence / lift) and the triangle census of the
co-purchase graph. Both oracle-backed (DuckDB twins) and demoted past
the driver's 50-row window — hash-checked by the local mirror
(tests/test_oracle_parity.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from workshoop2_etl_spark.operators.basket import association_rules
from workshoop2_etl_spark.operators.dedup import tokens_expr
from workshoop2_etl_spark.operators.graph import triangle_count
from workshoop2_etl_spark.operators.pairs import both_orientations
from workshoop2_etl_spark.plans.reference_queries import _register, _t


_RULES_SQL = """
WITH b AS (
  SELECT DISTINCT l_orderkey AS bk, l_partkey AS it FROM lineitem
), p AS (
  SELECT x.it AS i1, y.it AS i2, count(*) AS n
  FROM b x JOIN b y ON x.bk = y.bk AND x.it < y.it
  GROUP BY 1, 2 HAVING count(*) >= 2
), m AS (
  SELECT it, count(*) AS nm FROM b GROUP BY 1
), t AS (
  SELECT count(DISTINCT bk) AS n FROM b
), bidir AS (
  SELECT i1 AS a, i2 AS c, n FROM p
  UNION ALL
  SELECT i2, i1, n FROM p
)
SELECT a AS antecedent, c AS consequent, CAST(bidir.n AS BIGINT) AS n_pair,
       round(bidir.n / t.n, 6) AS support,
       round(bidir.n / ma.nm, 6) AS confidence,
       round((bidir.n / ma.nm) / (mc.nm / t.n), 6) AS lift
FROM bidir JOIN m ma ON bidir.a = ma.it JOIN m mc ON bidir.c = mc.it CROSS JOIN t
ORDER BY lift DESC, antecedent ASC, consequent ASC
LIMIT 100
"""


@_register("association_rules_lineitem", _RULES_SQL)
def association_rules_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 co-purchase rules by lift over order baskets (pairs in
    ≥2 baskets). The pair shuffle is Σ basket² — baskets are
    order-sized, so a small constant × the fact table; marginals and
    the basket count broadcast back onto the surviving pair aggregate
    (operators/basket.py). (rounded lift desc, antecedent, consequent)
    is a total order, so the cut is deterministic."""
    li = _t(spark, sf_dir, "lineitem")
    out = association_rules(
        li, basket_col="l_orderkey", item_col="l_partkey", min_count=2
    )
    return out.orderBy(
        F.desc("lift"), F.asc("antecedent"), F.asc("consequent")
    ).limit(100)


_TRI_SQL = """
WITH b AS (
  SELECT DISTINCT l_orderkey AS bk, l_partkey AS it FROM lineitem
), p AS (
  SELECT x.it AS a, y.it AS bb, count(*) AS n
  FROM b x JOIN b y ON x.bk = y.bk AND x.it < y.it
  GROUP BY 1, 2 HAVING count(*) >= 2
), e AS (
  SELECT a, bb FROM p
), w AS (
  SELECT e1.a, e1.bb, e2.bb AS c FROM e e1 JOIN e e2 ON e1.bb = e2.a
), tri AS (
  SELECT 1 FROM w JOIN e ON w.a = e.a AND w.c = e.bb
)
SELECT (SELECT CAST(count(*) AS BIGINT)
        FROM (SELECT a AS v FROM e UNION SELECT bb FROM e)) AS n_nodes,
       (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
       (SELECT CAST(count(*) AS BIGINT) FROM w) AS n_wedges,
       (SELECT CAST(count(*) AS BIGINT) FROM tri) AS n_triangles
"""


@_register("triangles_copurchase_lineitem", _TRI_SQL)
def triangles_copurchase_lineitem(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Triangle census of the co-purchase graph (parts sharing ≥2
    order baskets): the join-based a<b<c formulation — wedges via one
    equi-join on the middle vertex, closed by the (a,c) edge probe
    (operators/graph.py:triangle_count; degree-ordered orientation is
    the documented skew path at scale)."""
    from workshoop2_etl_spark.operators.basket import copurchase_pairs

    li = _t(spark, sf_dir, "lineitem")
    edges = copurchase_pairs(
        li, basket_col="l_orderkey", item_col="l_partkey", min_count=2
    ).select(F.col("item_a").alias("src"), F.col("item_b").alias("dst"))
    return triangle_count(edges)


def _lpa_sql(iterations: int) -> str:
    """UNROLLED label-propagation oracle: synchronous LPA with a
    fixed round count is a chain of identical (join → count → ranked
    argmax) blocks, and every quantity is an INTEGER (neighbor-label
    counts, smallest-label tie-break) — so unrolling one CTE per
    round gives DuckDB the exact computation, no recursion, no float
    order-dependence. This is what makes a 'no SQL twin' iterative
    algorithm oracle-checkable when the round count is fixed."""
    rounds = []
    for i in range(1, iterations + 1):
        rounds.append(
            f"""l{i} AS (
  SELECT n, l FROM (
    SELECT s.u AS n, lab.l AS l,
           row_number() OVER (
             PARTITION BY s.u ORDER BY count(*) DESC, lab.l ASC
           ) AS rn
    FROM sym s JOIN l{i - 1} lab ON s.v = lab.n
    GROUP BY s.u, lab.l
  ) WHERE rn = 1
)"""
        )
    return (
        """
WITH b AS (
  SELECT DISTINCT l_orderkey AS bk, l_partkey AS it FROM lineitem
), p AS (
  SELECT x.it AS a, y.it AS bb
  FROM b x JOIN b y ON x.bk = y.bk AND x.it < y.it
  GROUP BY 1, 2 HAVING count(*) >= 3
), sym AS (
  SELECT a AS u, bb AS v FROM p UNION SELECT bb, a FROM p
), l0 AS (
  SELECT DISTINCT u AS n, u AS l FROM sym
), """
        + ",\n".join(rounds)
        + f"""
SELECT l AS label, CAST(count(*) AS BIGINT) AS n_members
FROM l{iterations}
GROUP BY l HAVING count(*) >= 2
ORDER BY n_members DESC, label ASC
LIMIT 50
"""
    )


@_register("label_propagation_copurchase", _lpa_sql(4))
def label_propagation_copurchase(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Product communities by synchronous label propagation over the
    co-purchase graph (parts co-ordered ≥3 times). ORACLE-BACKED
    since round 8: a fixed-round synchronous LPA is a chain of
    identical integer-arithmetic blocks (neighbor-label counts,
    smallest-label ties), so the DuckDB twin UNROLLS one CTE per
    round (``_lpa_sql``) and hash-matches the engine's
    join→count→min_by rounds exactly — no float order-dependence
    anywhere. The deterministic tie-break remains property-tested
    against a Python reference in tests/test_graph.py. Community
    sizes summarize the result so the output is stable and small."""
    from workshoop2_etl_spark.operators.basket import copurchase_pairs
    from workshoop2_etl_spark.operators.graph import label_propagation

    li = _t(spark, sf_dir, "lineitem")
    edges = copurchase_pairs(
        li, basket_col="l_orderkey", item_col="l_partkey", min_count=3
    ).select(
        F.col("item_a").alias("src"), F.col("item_b").alias("dst")
    )
    labels = label_propagation(edges, iterations=4)
    return (
        labels.groupBy("label")
        .agg(F.count(F.lit(1)).alias("n_members"))
        .filter(F.col("n_members") >= 2)
        .orderBy(F.desc("n_members"), F.asc("label"))
        .limit(50)
    )


def _kcore_sql(k: int, rounds: int) -> str:
    """UNROLLED k-core oracle (same idea as ``_lpa_sql``, different
    convergence shape): Seidman's peel is pure integer arithmetic
    (degree counts) AND idempotent at its fixpoint — peeling an
    already-peeled core changes nothing — so unrolling MORE rounds
    than the peel needs is harmless and exact. ``rounds`` is a
    generous static bound; if a graph ever needed more, the engine
    side raises on non-convergence first (graph.py k_core), and a
    divergent pair would fail the hash — no silent drift possible."""
    # AS MATERIALIZED is load-bearing: DuckDB inlines plain CTEs per
    # reference, and each peel round references its predecessor three
    # times — 3^rounds re-evaluations of the base scan without it
    # (observed as a too-many-open-files blowup at 30 rounds).
    blocks = []
    for i in range(1, rounds + 1):
        blocks.append(
            f"""s{i} AS MATERIALIZED (
  SELECT u FROM e{i - 1} GROUP BY u HAVING count(*) >= {k}
), e{i} AS MATERIALIZED (
  SELECT e.u, e.v FROM e{i - 1} e
  JOIN s{i} a ON e.u = a.u JOIN s{i} b ON e.v = b.u
)"""
        )
    return (
        r"""
WITH t AS MATERIALIZED (
  SELECT doc_id, unnest(list_distinct(list_filter(
           string_split_regex(lower(text), '\s+'), x -> x != '')))
         AS word
  FROM documents
), p AS MATERIALIZED (
  SELECT x.word AS a, y.word AS bb
  FROM t x JOIN t y ON x.doc_id = y.doc_id AND x.word < y.word
  GROUP BY 1, 2 HAVING count(*) >= 20
), e0 AS MATERIALIZED (
  SELECT a AS u, bb AS v FROM p UNION ALL SELECT bb, a FROM p
), """
        + ",\n".join(blocks)
        + f"""
SELECT u AS node, CAST(count(*) AS BIGINT) AS degree
FROM e{rounds}
GROUP BY u ORDER BY degree DESC, node ASC
LIMIT 50
"""
    )


@_register("kcore_word_cooccurrence", _kcore_sql(8, 30))
def kcore_word_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 8-core of the word co-occurrence graph (Seidman 1983):
    vocabulary that survives iterated deletion of low-degree nodes —
    the dense core a keyword extractor or graph embedding would seed
    from. The substrate is words co-occurring in ≥ 20 documents
    (vocabulary-bounded at ANY corpus scale, unlike the co-purchase
    graph, which thins out as the catalog grows — measured: its
    4-core is empty at sf0.1). ORACLE-BACKED since round 8: the peel
    is integer arithmetic and idempotent at its fixpoint, so the
    DuckDB twin UNROLLS a generous 30 peel rounds (``_kcore_sql``) —
    extra rounds past convergence are no-ops, and the engine side
    raises on non-convergence, so the pair cannot silently diverge.
    Order-independence stays property-tested against a Python peel in
    tests/test_graph.py. Output: surviving nodes with in-core
    degrees, top 50."""
    from workshoop2_etl_spark.operators.basket import copurchase_pairs
    from workshoop2_etl_spark.operators.graph import k_core

    docs = _t(spark, sf_dir, "documents")
    edges = copurchase_pairs(
        docs.select(
            "doc_id",
            F.explode(F.array_distinct(tokens_expr("text"))).alias("word"),
        ),
        basket_col="doc_id",
        item_col="word",
        min_count=20,
    ).select(F.col("item_a").alias("src"), F.col("item_b").alias("dst"))
    core = k_core(edges, k=8)
    deg = (
        core.select(F.col("src").alias("node"))
        .unionByName(core.select(F.col("dst").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    return deg.orderBy(F.desc("degree"), F.asc("node")).limit(50)


def _pagerank_fp_sql(iterations: int, scale: int = 10**9) -> str:
    """Unrolled fixed-point PageRank oracle — the third iterative
    family member to get the unrolled-CTE treatment (after _lpa_sql
    and _kcore_sql), and the one that needed an OPERATOR designed for
    it: float PageRank's per-node sums are order-dependent in the
    last ulp, so only the integer-micro-unit variant
    (graph.pagerank_fixed_point) has a cross-engine-exact twin."""
    rounds = []
    for i in range(1, iterations + 1):
        rounds.append(
            f"""r{i} AS MATERIALIZED (
  SELECT e.v AS n,
         (150 * CAST({scale} AS BIGINT)) // (1000 * (SELECT c FROM nn))
         + (850 * sum(r.r // d.deg)) // 1000 AS r
  FROM sym e JOIN r{i - 1} r ON e.u = r.n JOIN deg d ON e.u = d.u
  GROUP BY e.v
)"""
        )
    return (
        """
WITH b AS MATERIALIZED (
  SELECT DISTINCT l_orderkey AS bk, l_partkey AS it FROM lineitem
), p AS MATERIALIZED (
  SELECT x.it AS a, y.it AS bb
  FROM b x JOIN b y ON x.bk = y.bk AND x.it < y.it
  GROUP BY 1, 2 HAVING count(*) >= 3
), sym AS MATERIALIZED (
  SELECT a AS u, bb AS v FROM p UNION SELECT bb, a FROM p
), deg AS MATERIALIZED (
  SELECT u, count(*) AS deg FROM sym GROUP BY u
), nn AS MATERIALIZED (
  SELECT count(DISTINCT u) AS c FROM sym
), r0 AS MATERIALIZED (
  SELECT DISTINCT u AS n, """
        + f"CAST({scale} AS BIGINT) // (SELECT c FROM nn) AS r FROM sym\n), "
        + ",\n".join(rounds)
        + f"""
SELECT n AS node, CAST(r AS BIGINT) AS pr FROM r{iterations}
ORDER BY pr DESC, node ASC LIMIT 20
"""
    )


@_register("pagerank_fixed_point_copurchase", _pagerank_fp_sql(5))
def pagerank_fixed_point_copurchase(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Bit-reproducible PageRank over the co-purchase graph
    (operators/graph.py ``pagerank_fixed_point``): the power
    iteration in pure int64 micro-units — floor-divided
    contributions, exact order-independent sums — so the 5-round
    unrolled DuckDB twin hash-matches EXACTLY, which float PageRank's
    ulp-order-dependent sums never could (that boundary keeps
    textrank rows-only). Symmetrized edges → no dangling mass; top-20
    by (rank desc, node asc), a total order."""
    from workshoop2_etl_spark.operators.basket import copurchase_pairs
    from workshoop2_etl_spark.operators.graph import pagerank_fixed_point

    li = _t(spark, sf_dir, "lineitem")
    pairs = copurchase_pairs(
        li, basket_col="l_orderkey", item_col="l_partkey", min_count=3
    )
    sym = both_orientations(pairs, "item_a", "item_b", "src", "dst")
    ranks = pagerank_fixed_point(sym, iterations=5)
    return (
        ranks.select("node", F.col("rank").alias("pr"))
        .orderBy(F.desc("pr"), F.asc("node"))
        .limit(20)
    )


def _textrank_fp_sql(iterations: int, scale: int = 10**9) -> str:
    """Fixed-point TextRank oracle: the word co-occurrence substrate
    (same tokenization pairing as ``_kcore_sql``) under the unrolled
    integer PageRank of ``_pagerank_fp_sql`` — giving the rows-only
    float textrank an oracle-backed twin ranked by the same graph."""
    rounds = []
    for i in range(1, iterations + 1):
        rounds.append(
            f"""r{i} AS MATERIALIZED (
  SELECT e.v AS n,
         (150 * CAST({scale} AS BIGINT)) // (1000 * (SELECT c FROM nn))
         + (850 * sum(r.r // d.deg)) // 1000 AS r
  FROM sym e JOIN r{i - 1} r ON e.u = r.n JOIN deg d ON e.u = d.u
  GROUP BY e.v
)"""
        )
    return (
        r"""
WITH t AS MATERIALIZED (
  SELECT doc_id, unnest(list_distinct(list_filter(
           string_split_regex(lower(text), '\s+'), x -> x != '')))
         AS word
  FROM documents
), p AS MATERIALIZED (
  SELECT x.word AS a, y.word AS bb
  FROM t x JOIN t y ON x.doc_id = y.doc_id AND x.word < y.word
  GROUP BY 1, 2 HAVING count(*) >= 20
), sym AS MATERIALIZED (
  SELECT a AS u, bb AS v FROM p UNION SELECT bb, a FROM p
), deg AS MATERIALIZED (
  SELECT u, count(*) AS deg FROM sym GROUP BY u
), nn AS MATERIALIZED (
  SELECT count(DISTINCT u) AS c FROM sym
), r0 AS MATERIALIZED (
  SELECT DISTINCT u AS n, """
        + f"CAST({scale} AS BIGINT) // (SELECT c FROM nn) AS r FROM sym\n), "
        + ",\n".join(rounds)
        + f"""
SELECT n AS word, CAST(r AS BIGINT) AS pr FROM r{iterations}
ORDER BY pr DESC, word ASC LIMIT 20
"""
    )


@_register("textrank_fixed_point_documents", _textrank_fp_sql(5))
def textrank_fixed_point_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Fixed-point TextRank: corpus keywords as the top-20
    integer-PageRank words of the co-occurrence graph (words sharing
    ≥20 documents — the vocabulary-bounded substrate kcore uses).
    The oracle-backed twin of the rows-only float
    ``textrank_keywords_documents``: int64 micro-unit ranks make the
    5-round unrolled DuckDB replay hash-exact."""
    from workshoop2_etl_spark.operators.basket import copurchase_pairs
    from workshoop2_etl_spark.operators.graph import pagerank_fixed_point

    docs = _t(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id",
        F.explode(F.array_distinct(tokens_expr("text"))).alias("word"),
    )
    pairs = copurchase_pairs(
        words, basket_col="doc_id", item_col="word", min_count=20
    )
    sym = both_orientations(pairs, "item_a", "item_b", "src", "dst")
    ranks = pagerank_fixed_point(sym, iterations=5)
    return (
        ranks.select(
            F.col("node").alias("word"), F.col("rank").alias("pr")
        )
        .orderBy(F.desc("pr"), F.asc("word"))
        .limit(20)
    )
