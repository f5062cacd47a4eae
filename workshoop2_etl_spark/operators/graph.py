"""Iterative graph algorithms as DataFrame loops: PageRank, and
TextRank keyword extraction built on it.

The iterative-algorithm class (PageRank, label propagation, k-core)
is where naive Spark code dies of LINEAGE: each iteration's plan
contains every prior iteration's joins, so iteration k plans O(k)
shuffles and the driver eventually OOMs on the plan tree itself. The
loop here truncates lineage with an eager ``localCheckpoint`` per
iteration — each iteration's physical work is exactly one join + one
aggregate, regardless of k. (Same discipline as the distributed
min-label propagation in ``dedup.connected_components``.)

Scale: ranks and degrees shuffle on the node key; edge fan-out is the
join — at 100 TB of edges this is the standard Pregel-in-DataFrames
formulation with per-superstep materialization. The dangling-mass
scalar is a one-row broadcast cross-join, not a driver collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from workshoop2_etl_spark.operators.dedup import tokens_expr
from workshoop2_etl_spark.operators.pairs import both_orientations
from workshoop2_etl_spark.sources.readers import from_records


def pagerank(
    edges: DataFrame,
    *,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str | None = None,
    damping: float = 0.85,
    iterations: int = 10,
    small_graph_edges: int = 200_000,
) -> DataFrame:
    """PageRank over a directed edge list (uniform teleport, dangling
    mass redistributed uniformly — the textbook power iteration):

    r'(v) = (1−d)/N + d · (Σ_{u→v} r(u)·w(u→v)/W(u) + dangling/N)

    With ``weight_col`` each edge carries a positive weight and a
    node's mass splits proportionally (W(u) = Σ outgoing weights);
    without it every edge weighs 1 (plain out-degree split). A
    MULTIGRAPH — repeated (src, dst) rows — therefore has exactly the
    ranks of its weighted collapse ``groupBy(src, dst).count()``:
    collapse repeated edges BEFORE calling when the edge list can
    carry duplicates (see :func:`textrank_keywords`), because each
    power-iteration superstep joins the full edge list and a
    multigraph edge list grows with the CORPUS while the weighted one
    is bounded by distinct pairs.

    Returns (``node``, ``rank`` double); Σ rank = 1 at every step.
    Deterministic: same edges → same ranks (floating-point sums are
    aggregated per node; cross-engine parity is checked by property
    test against a numpy power iteration, not an SQL oracle —
    iteration is exactly what SQL can't express... except via
    recursive CTEs, which cannot re-aggregate per step).

    Two physical strategies behind one contract (cf. Spark's own
    broadcast-vs-shuffle join threshold):

    - ``|edges| ≤ small_graph_edges`` — ONE bounded collect of the
      edge list, a numpy power iteration on the driver, one
      parallelize back. Iteration is a per-superstep cluster round
      trip (checkpoint job + broadcast + several stages — hundreds of
      ms EACH, independent of data size); on a small graph that
      scheduling overhead IS the cost, and 10 supersteps of it buys
      nothing a millisecond of numpy doesn't. The threshold bounds
      driver memory explicitly (200k edge triples ≈ a few MB).
    - larger — the Pregel-in-DataFrames loop: per-superstep join +
      aggregate with an eager ``localCheckpoint`` lineage cut.
      (Deferring the cut to every k-th superstep is NOT an
      optimization: each superstep references the previous ranks
      twice — dangling branch + contribution branch — so an
      uncheckpointed subtree re-executes combinatorially, measured
      3× slower at k=5.)

    Callers feeding a collapsed multigraph (see
    :func:`textrank_keywords`) usually land in the first branch even
    for huge corpora, because the collapse is vocabulary-bounded.
    Pass ``small_graph_edges=0`` to force the distributed loop.
    """
    w_expr = (
        F.col(weight_col).cast("double")
        if weight_col is not None
        else F.lit(1.0)
    )
    if small_graph_edges and small_graph_edges > 0:
        # One cheap count decides the strategy; the collect below is
        # bounded by the threshold the caller chose.
        if edges.limit(small_graph_edges + 1).count() <= small_graph_edges:
            return _pagerank_local(
                edges.select(
                    F.col(src_col).alias("s"),
                    F.col(dst_col).alias("d"),
                    w_expr.alias("w"),
                ),
                damping=damping,
                iterations=iterations,
            )
    nodes = (
        edges.select(F.col(src_col).alias("node"))
        .union(edges.select(F.col(dst_col).alias("node")))
        .distinct()
        .persist()
    )
    n_nodes = nodes.count()  # one driver scalar, reused every step
    out_deg = edges.groupBy(F.col(src_col).alias("node")).agg(
        F.sum(w_expr).alias("__deg")
    )
    # (src, dst, w/out_strength) — the transition fragment, reused
    # each step.
    trans = (
        edges.select(
            F.col(src_col).alias("node"),
            F.col(dst_col).alias("__dst"),
            w_expr.alias("__ew"),
        )
        .join(out_deg, "node")
        .select(
            "node", "__dst", (F.col("__ew") / F.col("__deg")).alias("__w")
        )
        .persist()
    )
    has_out = out_deg.select("node")
    ranks = nodes.select("node", F.lit(1.0 / n_nodes).alias("rank"))
    prev = None
    for _ in range(iterations):
        dangling = (
            ranks.join(has_out, "node", "left_anti")
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("__dm"))
        )
        contribs = (
            trans.join(ranks, "node")
            .groupBy(F.col("__dst").alias("node"))
            .agg(F.sum(F.col("rank") * F.col("__w")).alias("__c"))
        )
        ranks = (
            nodes.join(contribs, "node", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                (
                    F.lit((1.0 - damping) / n_nodes)
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("__c"), F.lit(0.0))
                        + F.col("__dm") / n_nodes
                    )
                ).alias("rank"),
            )
            # Eager lineage cut: without this, iteration k's plan
            # embeds all k-1 prior joins and planning time explodes.
            .localCheckpoint(eager=True)
        )
        # Release the superseded iteration's checkpoint blocks NOW:
        # leaving k generations of rank blocks to the ContextCleaner
        # pressures the block manager for the rest of the session
        # (measured as a broad slowdown across later queries).
        if prev is not None:
            prev.unpersist()
        prev = ranks
    trans.unpersist()
    nodes.unpersist()
    return ranks


def _pagerank_local(swd: DataFrame, *, damping: float, iterations: int) -> DataFrame:
    """Driver-side power iteration for threshold-bounded edge lists:
    one collect, dense numpy iterations, one parallelize. Bit-for-bit
    it is the same recurrence the distributed loop runs (per-node
    float sums; the property tests hold both paths to the same numpy
    reference at 1e-12)."""
    import numpy as np

    spark = swd.sparkSession
    rows = swd.collect()
    node_type = swd.schema["s"].dataType
    out_schema = T.StructType(
        [
            T.StructField("node", node_type),
            T.StructField("rank", T.DoubleType()),
        ]
    )
    ids = sorted({r.s for r in rows} | {r.d for r in rows})
    n = len(ids)
    if n == 0:
        return from_records(spark, [], out_schema)
    idx = {v: i for i, v in enumerate(ids)}
    src = np.fromiter((idx[r.s] for r in rows), dtype=np.int64, count=len(rows))
    dst = np.fromiter((idx[r.d] for r in rows), dtype=np.int64, count=len(rows))
    w = np.fromiter((r.w for r in rows), dtype=np.float64, count=len(rows))
    out_w = np.zeros(n)
    np.add.at(out_w, src, w)
    # transition weight w/W(u); nodes with zero out-strength dangle
    with np.errstate(divide="ignore", invalid="ignore"):
        tw = np.where(out_w[src] > 0, w / out_w[src], 0.0)
    r = np.full(n, 1.0 / n)
    dangle_mask = out_w == 0
    for _ in range(iterations):
        contrib = np.zeros(n)
        np.add.at(contrib, dst, r[src] * tw)
        dangling = r[dangle_mask].sum()
        r = (1.0 - damping) / n + damping * (contrib + dangling / n)
    return from_records(
        spark, [(v, float(r[idx[v]])) for v in ids], out_schema
    )


def pagerank_fixed_point(
    edges: DataFrame,
    *,
    src_col: str = "src",
    dst_col: str = "dst",
    iterations: int = 5,
    scale: int = 10**9,
    damping_permille: int = 850,
    small_graph_edges: int = 200_000,
) -> DataFrame:
    """BIT-REPRODUCIBLE PageRank: the power iteration in pure int64
    micro-units — every quantity exact, every sum order-independent —
    for pipelines where "same corpus → byte-identical ranks" matters
    more than the last float digit (artifact diffing, cached-feature
    invalidation, regulatory replay). :func:`pagerank` keeps the
    float semantics; this is the reproducibility variant, and its
    integer arithmetic is what makes a fixed-iteration UNROLLED SQL
    oracle exact (the float version's per-node sums are
    order-dependent in the last ulp, so no cross-engine hash can pin
    them — the same boundary that keeps textrank rows-only).

    Per iteration, with ranks summing ≈ ``scale``:

        r'(v) = (1000−d)·scale div (1000·N)
              + d · Σ_{u→v} (r(u) div deg(u)) div 1000

    Integer floor-division loses ≤1 unit per term (total mass decays
    by ≤ (N + in-edges) units per round — at scale 10⁹ a relative
    error < 10⁻⁴ for any graph this engine feeds it, stated rather
    than hidden). Input edges are treated as DIRECTED and must have
    no SINK nodes (every dst also appears as a src, i.e. every node
    has out-degree ≥ 1 — symmetrized graphs satisfy this trivially);
    sinks raise, because silently dropping their mass would diverge
    from the documented recurrence. Nodes with no IN-edges are fine:
    each superstep re-anchors on the full node set (left join +
    coalesce-to-0, exactly like :func:`pagerank`), so a source-only
    node keeps its teleport mass and keeps contributing. Same
    per-superstep lineage discipline as :func:`pagerank`
    (join + aggregate + eager localCheckpoint).

    Returns (``node``, ``rank`` long — micro-units of ``scale``).

    Same two physical strategies as :func:`pagerank`, and here the
    local branch is not merely faster but EXACTLY equivalent: integer
    sums are order-independent, so the driver-side loop produces the
    same bytes the distributed supersteps would (asserted by the
    python-replay test, which replays the identical recurrence).
    ``small_graph_edges=0`` forces the distributed loop.
    """
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    if not 0 < damping_permille < 1000:
        raise ValueError(
            f"damping_permille must be in (0, 1000), got {damping_permille}"
        )
    # persist: the edge derivation feeds five actions (node count,
    # dangling check, size probe, collect-or-loop) — without it each
    # re-executes the caller's (possibly expensive) upstream aggregate
    e = (
        edges.select(
            F.col(src_col).alias("__u"), F.col(dst_col).alias("__v")
        )
        .distinct()
        .persist()
    )
    deg = e.groupBy("__u").agg(F.count(F.lit(1)).alias("__deg"))
    nodes = (
        e.select(F.col("__u").alias("__n"))
        .unionByName(e.select(F.col("__v").alias("__n")))
        .distinct()
    )
    n_nodes = nodes.count()
    dangling = nodes.join(
        deg.withColumnRenamed("__u", "__n"), "__n", "left_anti"
    ).count()
    if dangling:
        e.unpersist()
        raise ValueError(
            f"pagerank_fixed_point: {dangling} dangling node(s) — "
            "symmetrize the graph or route through pagerank()"
        )
    tele = ((1000 - damping_permille) * scale) // (1000 * n_nodes)
    if small_graph_edges and small_graph_edges > 0:
        n_edges = e.count()
        if n_edges <= small_graph_edges:
            # bounded collect; pure-integer loop == the distributed
            # supersteps byte-for-byte (order-independent sums)
            spark = edges.sparkSession
            pairs = [(r["__u"], r["__v"]) for r in e.collect()]
            e.unpersist()
            degs: dict = {}
            for u, _ in pairs:
                degs[u] = degs.get(u, 0) + 1
            node_list = sorted({u for u, _ in pairs} | {v for _, v in pairs})
            r = {u: scale // n_nodes for u in node_list}
            for _ in range(iterations):
                contrib = {u: 0 for u in node_list}
                for u, v in pairs:
                    contrib[v] += r[u] // degs[u]
                r = {
                    u: tele + (damping_permille * contrib[u]) // 1000
                    for u in node_list
                }
            node_type = e.schema["__u"].dataType
            out_schema = T.StructType(
                [
                    T.StructField("node", node_type),
                    T.StructField("rank", T.LongType()),
                ]
            )
            return from_records(
                spark, [(u, r[u]) for u in node_list], out_schema
            )
    # Anchor frame for every superstep: re-deriving ranks from
    # contrib alone would drop nodes with zero in-edges (source-only
    # nodes pass the sink guard but receive no contributions).
    node_frame = nodes.localCheckpoint(eager=True)
    ranks = node_frame.withColumn(
        "__r", F.lit(scale // n_nodes).cast("long")
    ).localCheckpoint(eager=True)
    ewd = e.join(deg, "__u").localCheckpoint(eager=True)
    e.unpersist()
    for _ in range(iterations):
        contrib = (
            ewd.join(ranks.withColumnRenamed("__n", "__u"), "__u")
            .select(
                F.col("__v").alias("__n"),
                F.expr("__r div __deg").alias("__c"),
            )
            .groupBy("__n")
            .agg(F.sum("__c").alias("__s"))
        )
        new_ranks = node_frame.join(contrib, "__n", "left").select(
            "__n",
            (
                F.lit(tele)
                + F.expr(
                    f"({damping_permille} * coalesce(__s, 0L)) div 1000"
                )
            ).cast("long").alias("__r"),
        )
        old = ranks
        ranks = new_ranks.localCheckpoint(eager=True)
        old.unpersist()
    node_frame.unpersist()
    return ranks.select(
        F.col("__n").alias("node"), F.col("__r").alias("rank")
    )


def textrank_keywords(
    df: DataFrame,
    text_col: str,
    *,
    k: int = 15,
    damping: float = 0.85,
    iterations: int = 10,
    min_count: int = 1,
) -> DataFrame:
    """TextRank (Mihalcea & Tarau 2004) keyword extraction: adjacent
    lower-cased tokens form co-occurrence edges (both directions, the
    undirected-graph convention), PageRank ranks the vocabulary, top-k
    keywords come back as (``token``, ``rank``, ``rk``).

    The co-occurrence multigraph — one edge row per adjacent token
    OCCURRENCE — is collapsed to ``(src, dst, weight=count)`` before
    ranking: a multigraph's PageRank equals its weighted collapse's
    (mass splits by edge count either way), and the collapse bounds
    every power-iteration superstep by distinct VOCABULARY pairs
    instead of corpus token count. At 100× the corpus the raw edge
    list grows 100× (and its hottest keys — stopword adjacencies —
    grow with it, a skewed repeated join); the weighted edge list
    saturates near vocabulary².

    ``min_count`` optionally prunes pairs seen fewer times (a cheap
    stopword-independent noise cut — co-occurrence counts follow a
    Zipf tail of hapax pairs). The default 1 keeps the exact graph.

    Ties break on ascending token after a 8-dp round so float noise
    cannot reorder equal-rank words.
    """
    toks = tokens_expr(text_col)
    pairs = df.select(toks.alias("__t")).select(
        F.posexplode("__t").alias("__i", "src"),
        F.col("__t"),
    )
    fwd = pairs.select(
        # F.get: NULL past the last token (ANSI mode makes [] throw)
        "src", F.get(F.col("__t"), F.col("__i") + 1).alias("dst")
    ).filter(F.col("dst").isNotNull())
    # Collapse occurrences to weighted pairs BEFORE mirroring: one
    # aggregate on the corpus-sized list, then the mirror union is
    # already vocabulary-bounded. (a→b and b→a counts are symmetric
    # in total but aggregated separately — same rows either way.)
    wfwd = fwd.groupBy("src", "dst").agg(
        F.count(F.lit(1)).alias("__cnt")
    )
    if min_count > 1:
        wfwd = wfwd.filter(F.col("__cnt") >= min_count)
    # Persist the collapsed pairs: pagerank derives both its node set
    # and its transition list from `edges`, and without the cache each
    # would re-run the corpus-sized shingle + aggregate.
    wfwd = wfwd.persist()
    edges = wfwd.union(
        wfwd.select(F.col("dst"), F.col("src"), F.col("__cnt"))
    )
    ranks = pagerank(
        edges,
        weight_col="__cnt",
        damping=damping,
        iterations=iterations,
    )
    # ranks is checkpoint-materialized by pagerank's final lineage
    # cut, so the collapsed pairs can be released immediately.
    wfwd.unpersist()
    return (
        ranks.select(
            F.col("node").alias("token"),
            F.round("rank", 8).alias("rank"),
        )
        .orderBy(F.desc("rank"), F.asc("token"))
        .limit(k)
        # row_number over ≤k rows — the single partition is the
        # already-limited result, not the vocabulary.
        .withColumn(
            "rk",
            F.row_number()
            .over(Window.orderBy(F.desc("rank"), F.asc("token")))
            .cast("long"),
        )
    )


def triangle_count(
    edges: DataFrame,
    *,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Global triangle census of an undirected graph given as a
    deduplicated oriented edge list (``src < dst`` per edge — callers
    with both directions should orient first): the canonical
    robustness metric for co-occurrence graphs and the textbook
    join-based formulation (triangle ⇔ edges (a,b), (b,c), (a,c) with
    a < b < c, each triangle counted exactly once).

    Two equi-joins — (a,b)⋈(b,c) on b fans out to wedges, then the
    closing (a,c) probe is a semi-join-shaped equi-join. Wedge count
    is Σ_v deg⁺(v)², so at scale the classic mitigation is
    DEGREE-ORDERED orientation (point each edge at the higher-degree
    endpoint, bounding deg⁺ by √m): callers with skewed graphs should
    pre-orient by (degree, id) instead of raw id; the join pipeline
    here is identical either way, and AQE's skew split covers the
    moderate case.

    Returns one row: (``n_nodes``, ``n_edges``, ``n_wedges``,
    ``n_triangles`` — all long).
    """
    e = edges.select(
        F.col(src_col).alias("a"), F.col(dst_col).alias("b")
    ).filter(F.col("a") < F.col("b"))
    e2 = e.select(F.col("a").alias("b"), F.col("b").alias("c"))
    wedges = e.join(e2, "b").select("a", "b", "c")
    closing = e.select(
        F.col("a").alias("a"), F.col("b").alias("c")
    )
    tri = wedges.join(closing, ["a", "c"])
    nodes = e.select(F.col("a").alias("v")).union(
        e.select(F.col("b").alias("v"))
    ).distinct()
    counts = (
        tri.agg(F.count(F.lit(1)).alias("n_triangles"))
        .crossJoin(F.broadcast(wedges.agg(F.count(F.lit(1)).alias("n_wedges"))))
        .crossJoin(F.broadcast(e.agg(F.count(F.lit(1)).alias("n_edges"))))
        .crossJoin(F.broadcast(nodes.agg(F.count(F.lit(1)).alias("n_nodes"))))
    )
    return counts.select("n_nodes", "n_edges", "n_wedges", "n_triangles")


def label_propagation(
    edges: DataFrame,
    *,
    src_col: str = "src",
    dst_col: str = "dst",
    iterations: int = 5,
) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan
    et al. 2007): every node starts as its own label; each round,
    every node adopts the most frequent label among its neighbors
    (ties broken by SMALLEST label — the deterministic variant; the
    original's random tie-break is not reproducible). Fixed
    ``iterations`` rather than convergence detection: synchronous
    LPA can oscillate on bipartite structures, and a fixed round
    count is the standard, deterministic cutoff.

    The third member of this module's iterative family, with the same
    lineage discipline as :func:`pagerank`: per round, ONE edge⋈label
    join + ONE (node, label) count aggregate + ONE per-node argmax —
    all keyed on node ids — then an eager ``localCheckpoint`` cut, so
    round k's physical plan stays O(1). Undirected: edges are
    symmetrized internally.

    Returns (``node``, ``label``) — nodes sharing a label form a
    community. Isolated nodes (no edges) are absent, as in
    ``dedup.duplicate_clusters``.
    """
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    sym = (
        both_orientations(edges, src_col, dst_col, "__u", "__v")
        .filter(F.col("__u") != F.col("__v"))
        .distinct()
        .persist()
    )
    labels = (
        sym.select(F.col("__u").alias("__n"))
        .distinct()
        .withColumn("__l", F.col("__n"))
        .localCheckpoint(eager=True)
    )
    for _ in range(iterations):
        neigh = sym.join(
            labels.withColumnRenamed("__n", "__v"), "__v"
        ).select(F.col("__u").alias("__n"), "__l")
        # per-node argmax label: count desc, label asc — min_by over
        # a (negated count, label) struct, one aggregate, no window
        counted = neigh.groupBy("__n", "__l").agg(
            F.count(F.lit(1)).alias("__c")
        )
        new_labels = counted.groupBy("__n").agg(
            F.min_by(
                F.col("__l"), F.struct(F.negate(F.col("__c")), F.col("__l"))
            ).alias("__l")
        )
        old = labels
        labels = new_labels.localCheckpoint(eager=True)
        # the new checkpoint is already materialized — the superseded
        # round's blocks can go (same release discipline as pagerank)
        old.unpersist()
    sym.unpersist()
    return labels.select(
        F.col("__n").alias("node"), F.col("__l").alias("label")
    )


def k_core(
    edges: DataFrame,
    *,
    k: int,
    src_col: str = "src",
    dst_col: str = "dst",
    max_iterations: int = 50,
) -> DataFrame:
    """The k-core of an undirected graph: the maximal subgraph where
    every node has degree ≥ k — the classic peel (Seidman 1983):
    repeatedly delete nodes of degree < k until none remain; the
    result is unique regardless of deletion order, which is what
    makes the batch-synchronous loop below correct.

    Per round: one degree aggregate over the surviving edge set, one
    semi-join keeping edges whose BOTH endpoints survive, and an
    eager ``localCheckpoint`` lineage cut (this module's discipline).
    The fixpoint test is one scalar count per round — deletion
    cascades at most ``max_iterations`` deep (a chain graph peels one
    node per round; real graphs converge in a handful).

    Returns the surviving edges (``src_col``, ``dst_col``), one row
    per input edge direction kept. Empty when the graph has no
    k-core.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    cur = (
        edges.select(
            F.col(src_col).alias("__u"), F.col(dst_col).alias("__v")
        )
        .filter(F.col("__u") != F.col("__v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_edges = cur.count()
    converged = n_edges == 0
    for _ in range(max_iterations):
        if n_edges == 0:
            converged = True
            break
        deg = (
            cur.select(F.col("__u").alias("__n"))
            .unionByName(cur.select(F.col("__v").alias("__n")))
            .groupBy("__n")
            .agg(F.count(F.lit(1)).alias("__d"))
        )
        keep = deg.filter(F.col("__d") >= k).select("__n")
        pruned = (
            cur.join(
                keep.withColumnRenamed("__n", "__u"), "__u", "left_semi"
            )
            .join(
                keep.withColumnRenamed("__n", "__v"), "__v", "left_semi"
            )
            .localCheckpoint(eager=True)
        )
        n_after = pruned.count()
        cur.unpersist()
        cur = pruned
        if n_after == n_edges:
            converged = True
            break
        n_edges = n_after
    if not converged:
        raise RuntimeError(
            f"k_core did not reach a fixpoint within "
            f"max_iterations={max_iterations}; the result would NOT be "
            f"a k-core (nodes of degree < {k} still present). Raise "
            f"max_iterations — deletion cascades (e.g. long chains) "
            f"peel one layer per round."
        )
    return cur.select(
        F.col("__u").alias(src_col), F.col("__v").alias(dst_col)
    )
