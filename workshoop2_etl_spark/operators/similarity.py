"""Similarity search over embedding columns (``array<float>``).

Two paths, per the standard ANN playbook:

- :func:`brute_force_topk` — exact cosine top-k. The query set
  broadcasts; the corpus is scanned once; per-query top-k via
  :func:`operators.analytics.top_k_per_group` over (query, sim). The
  baseline and the oracle-checkable path.
- :func:`hyperplane_buckets` / :func:`lsh_topk` — random-hyperplane
  LSH: 100 TB path. Each vector gets an ``L``-table signature of
  ``p`` sign bits; candidates share a bucket in ≥1 table, exact
  cosine re-ranks candidates only. Recall is tunable via (L, p).
- :func:`embedding_neardup` — near-duplicate vector pairs above a
  cosine threshold, via the same buckets (never all-pairs).

Scoring (cosine, dot, norms) is built-in array math (``zip_with`` /
``aggregate`` / ``sqrt``) inside codegen. The per-vector matrix
kernels — hyperplane bucketing, IVF centroid assignment, PQ encoding
and ADC scoring, cluster profiles and random projection — are
Arrow-batched ``pandas_udf``s over numpy, one matmul per batch. The
IVF quantizer trains with distributed ``KMeans``; the PQ codebooks
train on the driver from a bounded sample (``max_train`` rows). The
hyperplanes are a deterministic seeded
matrix, so plans are reproducible across runs and sessions.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from workshoop2_etl_spark.operators.analytics import top_k_per_group
from workshoop2_etl_spark.operators.pairs import bucket_pairs
from workshoop2_etl_spark.sources.readers import from_records


def _as_double(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Dot product of two numeric arrays, in double precision."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity of two array columns (double precision —
    matches DuckDB ``list_cosine_similarity`` on ``DOUBLE[]``).

    NULL (never NaN) when either vector is null, zero-norm, or
    contains NaN: Spark orders NaN *above* every double, so an
    unguarded 0/0 would make one corrupt vector the #1 neighbor of
    every query and a false pair under any ``sim >= t`` filter.
    NULLs instead sort last under ``desc`` and fail threshold
    predicates — corrupt vectors drop out."""
    ad, bd = _as_double(a), _as_double(b)
    denom = l2_norm(ad) * l2_norm(bd)
    return F.when((denom > 0) & ~F.isnan(denom), dot(ad, bd) / denom)


def _by_sim(id_col: str) -> list[Column]:
    """The neighbor order: most similar first, ties on ascending id."""
    return [F.desc("sim"), F.asc(id_col)]


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 10,
    include_self: bool = False,
) -> DataFrame:
    """Exact cosine top-k neighbors for each query vector.

    ``queries`` must have (``query_id_col``, ``vec_col``) and is
    **broadcast** (query sets are small by definition); the corpus is
    scanned once with no shuffle before the per-query top-k window.
    Ties break on ascending neighbor id — a total order, so results
    are deterministic and oracle-comparable.

    Output: ``query_id``, ``{id_col}`` (neighbor), ``sim``, ``rank``.
    """
    q = queries.select(
        F.col(query_id_col), F.col(vec_col).alias("__qvec")
    )
    joined = corpus.select(F.col(id_col), F.col(vec_col)).crossJoin(F.broadcast(q))
    if not include_self:
        joined = joined.filter(F.col(id_col) != F.col(query_id_col))
    scored = joined.withColumn("sim", cosine(vec_col, "__qvec")).filter(
        F.col("sim").isNotNull()  # zero-norm/corrupt vectors: never neighbors
    )
    return top_k_per_group(scored, [query_id_col], _by_sim(id_col), k).select(
        query_id_col, id_col, "sim", "rank"
    )


def _coerce_vec(v, dim: int) -> np.ndarray:
    """Null-safe vector coercion for batch kernels: None or
    wrong-length embeddings become the zero vector (bucketing to a
    harmless constant bucket) rather than crashing np.stack with an
    opaque executor error."""
    if v is None:
        return np.zeros(dim)
    arr = np.asarray(v, dtype=np.float64)
    if arr.shape != (dim,):
        return np.zeros(dim)
    return arr


def _hyperplanes(num_tables: int, num_planes: int, dim: int, seed: int = 42) -> np.ndarray:
    """Deterministic L×p×dim Gaussian hyperplane matrix."""
    rng = np.random.default_rng(seed)
    return rng.standard_normal((num_tables, num_planes, dim))


def hyperplane_buckets(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    dim: int,
    num_tables: int = 4,
    num_planes: int = 12,
    seed: int = 42,
) -> DataFrame:
    """Attach LSH bucket ids: one ``bucket_{t}`` int column per table,
    the sign-bit signature of the vector against ``num_planes``
    hyperplanes. Vectors with equal bucket in any table are candidate
    neighbors (cosine-LSH: P[bit equal] = 1 − θ/π).

    Computed by an Arrow-batched Pandas UDF: the signature is one
    (batch × dim) @ (dim × L·p) matmul per Arrow batch — the rare
    case where a vectorized UDF beats built-ins, because the
    expression-tree formulation (L·p literal plane arrays × lambda
    aggregates) blows past codegen limits and falls back to
    interpreted evaluation (~6 s per call at 5k vectors; the matmul
    is milliseconds and scales linearly per partition at 100 TB).
    """
    from pyspark.sql.functions import pandas_udf

    planes = _hyperplanes(num_tables, num_planes, dim, seed)
    flat = planes.reshape(num_tables * num_planes, dim).T  # dim × L·p
    weights = (2 ** np.arange(num_planes)).astype(np.int64)

    @pandas_udf("array<long>")
    def _buckets(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:  # Arrow can deliver empty batches
            return pd.Series([], dtype=object)
        mat = np.stack(vs.map(lambda v: _coerce_vec(v, dim)))
        bits = (mat @ flat >= 0).reshape(len(vs), num_tables, num_planes)
        ids = bits @ weights  # n × L bucket ids
        return pd.Series(list(ids))

    out = df.withColumn("__buckets", _buckets(F.col(vec_col)))
    for t in range(num_tables):
        out = out.withColumn(f"bucket_{t}", F.col("__buckets")[t])
    return out.drop("__buckets")


def bucket_assignments(
    df: DataFrame,
    id_col: str,
    *,
    vec_col: str = "embedding",
    dim: int,
    num_tables: int = 4,
    num_planes: int = 12,
    seed: int = 42,
) -> DataFrame:
    """Long-format LSH bucket assignments: one ``(id, table, bucket)``
    row per table. ONE narrow pass computes all L signatures; the
    explode emits L small rows per vector, and candidate search
    becomes a single equi-join on ``(table, bucket)`` — not L
    re-computed per-table joins."""
    b = hyperplane_buckets(
        df, vec_col=vec_col, dim=dim, num_tables=num_tables,
        num_planes=num_planes, seed=seed,
    )
    buckets = F.array(*[F.col(f"bucket_{t}") for t in range(num_tables)])
    return b.select(
        F.col(id_col), F.posexplode(buckets).alias("__table", "__bucket")
    )


def exact_pair_count_upper_bound(n: int, num_tables: int, num_planes: int) -> float:
    """Expected candidate-pair upper bound for uniformly-bucketed data:
    L · C(n/2^p, 2) · 2^p — the sizing arithmetic for picking (L, p)
    so the verify stage stays ≪ n²."""
    buckets = 2 ** num_planes
    per_bucket = n / buckets
    return num_tables * buckets * per_bucket * (per_bucket - 1) / 2


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    dim: int,
    k: int = 10,
    num_tables: int = 4,
    num_planes: int = 12,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: exact cosine re-rank over LSH candidates.

    Candidates = corpus rows sharing ≥1 bucket with the query across
    the L tables — one broadcast equi-join on ``(table, bucket)``
    over long-format assignments (the corpus is bucketed exactly
    once). Candidate rows carry ids only; embeddings join back after
    dedup, so the candidate shuffle is 16 bytes/row no matter the
    vector width. May return fewer than ``k`` rows per query
    (recall < 1 is the LSH trade; raise L or lower p for recall).
    """
    lsh_args = dict(
        vec_col=vec_col, dim=dim, num_tables=num_tables,
        num_planes=num_planes, seed=seed,
    )
    cb = bucket_assignments(corpus, id_col, **lsh_args)
    qb = bucket_assignments(queries, query_id_col, **lsh_args)
    cand = (
        cb.join(F.broadcast(qb), ["__table", "__bucket"])
        .select(query_id_col, id_col)
        .dropDuplicates([query_id_col, id_col])
        .filter(F.col(id_col) != F.col(query_id_col))
    )
    scored = (
        cand.join(corpus.select(id_col, vec_col), id_col)
        .join(
            F.broadcast(
                queries.select(query_id_col, F.col(vec_col).alias("__qvec"))
            ),
            query_id_col,
        )
        .withColumn("sim", cosine(vec_col, "__qvec"))
        .filter(F.col("sim").isNotNull())
    )
    return top_k_per_group(scored, [query_id_col], _by_sim(id_col), k).select(
        query_id_col, id_col, "sim", "rank"
    )


def ivf_assign(
    df: DataFrame,
    centroids: np.ndarray,
    *,
    vec_col: str = "embedding",
    out_col: str = "cluster",
    n_probe: int = 1,
) -> DataFrame:
    """Assign each vector its ``n_probe`` nearest centroids (cosine),
    as an int array column. One matmul per Arrow batch — same
    vectorized-UDF rationale as :func:`hyperplane_buckets`."""
    from pyspark.sql.functions import pandas_udf

    c = np.asarray(centroids, dtype=np.float64)
    cn = c / np.linalg.norm(c, axis=1, keepdims=True)

    @pandas_udf("array<int>")
    def _assign(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:  # Arrow can deliver empty batches
            return pd.Series([], dtype=object)
        dim = c.shape[1]
        mat = np.stack(vs.map(lambda v: _coerce_vec(v, dim)))
        mat = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
        sims = mat @ cn.T
        top = np.argsort(-sims, axis=1)[:, :n_probe].astype(np.int32)
        return pd.Series(list(top))

    return df.withColumn(out_col, _assign(F.col(vec_col)))


def ivf_build(
    corpus: DataFrame,
    *,
    vec_col: str = "embedding",
    n_clusters: int = 16,
    seed: int = 42,
    max_iter: int = 20,
    sample_fraction: float | None = None,
) -> np.ndarray:
    """Train the IVF coarse quantizer (seeded k-means over the corpus;
    ``pyspark.ml.clustering.KMeans``, distributed Lloyd iterations).
    Returns the centroid matrix — small (k × dim), lives on the
    driver and broadcasts into the assignment UDF. At 100 TB pass
    ``sample_fraction`` so the quantizer trains on a seeded sample
    (k-means centroids stabilize long before the full corpus is
    seen); assignment stays a full narrow pass either way."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    if sample_fraction is not None:
        corpus = corpus.sample(fraction=sample_fraction, seed=seed)
    feat = corpus.select(
        array_to_vector(_as_double(vec_col)).alias("features")
    )
    model = KMeans(k=n_clusters, seed=seed, maxIter=max_iter).fit(feat)
    return np.array(model.clusterCenters())


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 10,
    n_clusters: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """IVF approximate top-k: corpus partitioned into ``n_clusters``
    inverted lists by nearest centroid; each query probes its
    ``n_probe`` closest lists and re-ranks exactly (cosine).

    Cost per query is the probed lists' sizes (~n_probe/n_clusters of
    the corpus), not |corpus|; recall comes from probing multiple
    lists. The standard trade vs LSH: IVF adapts to the data's
    cluster structure (k-means), LSH is data-independent.

    Pass ``centroids`` (from :func:`ivf_build`, built once) when
    serving repeated query batches — retraining the quantizer per
    call is the dominant cost for hot paths.
    """
    if centroids is None:
        centroids = ivf_build(
            corpus, vec_col=vec_col, n_clusters=n_clusters, seed=seed
        )
    cb = ivf_assign(
        corpus, centroids, vec_col=vec_col, out_col="__cl", n_probe=1
    ).select(id_col, vec_col, F.col("__cl")[0].alias("__cluster"))
    qb = (
        ivf_assign(
            queries, centroids, vec_col=vec_col, out_col="__probes",
            n_probe=n_probe,
        )
        .select(
            query_id_col,
            F.col(vec_col).alias("__qvec"),
            F.explode("__probes").alias("__cluster"),
        )
    )
    scored = (
        cb.join(F.broadcast(qb), "__cluster")
        .filter(F.col(id_col) != F.col(query_id_col))
        .withColumn("sim", cosine(vec_col, "__qvec"))
        .filter(F.col("sim").isNotNull())
    )
    return top_k_per_group(scored, [query_id_col], _by_sim(id_col), k).select(
        query_id_col, id_col, "sim", "rank"
    )


def semantic_dedup(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_clusters: int = 16,
    seed: int = 42,
    centroids: np.ndarray | None = None,
    keep: str = "typical",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space with the IVF
    coarse quantizer, then within each cluster drop every vector that
    is within ``threshold`` cosine of a higher-ranked one.

    Rank is (similarity-to-centroid, id) — ``keep='typical'`` ranks
    the most central vector first (survivors are cluster prototypes);
    ``keep='atypical'`` ranks ascending, matching the paper's
    keep-low-centroid-similarity variant (survivors are the diverse
    outliers). Either way the greedy scan is expressed as ONE
    within-cluster self-join — pair (a, b) drops the lower-ranked b
    when ``cos(a, b) ≥ threshold`` — not an iterative loop: greedy-
    by-rank needs no transitive closure because every drop is
    justified by one surviving witness... with the standard SemDeDup
    caveat that a dropped a would still drop b (witnesses may
    themselves be dropped), which matches the paper's "remove all but
    one per ε-ball, scanning in rank order" semantics.

    Cost is Σ cluster_size² pairs, NEVER all-pairs: size ``n_clusters``
    so clusters average ≲ a few thousand vectors (n_clusters ≈ n/1000;
    the paper uses 50k clusters for 5B embeddings). The quantizer
    trains on a seeded sample via :func:`ivf_build`; pass prebuilt
    ``centroids`` to reuse one quantizer across corpus shards.

    Returns the deduplicated corpus (original columns).
    """
    if keep not in ("typical", "atypical"):
        raise ValueError(f"keep must be 'typical' or 'atypical', got {keep!r}")
    if centroids is None:
        centroids = ivf_build(
            df, vec_col=vec_col, n_clusters=n_clusters, seed=seed
        )
    c = np.asarray(centroids, dtype=np.float64)
    spark = df.sparkSession
    cent = from_records(
        spark,
        [(i, [float(x) for x in c[i]]) for i in range(len(c))],
        "__cluster int, __cvec array<double>",
    )
    ranked = (
        ivf_assign(df, c, vec_col=vec_col, out_col="__cl", n_probe=1)
        .select(id_col, vec_col, F.col("__cl")[0].alias("__cluster"))
        .join(F.broadcast(cent), "__cluster")
        .withColumn("__csim", cosine(vec_col, "__cvec"))
    )
    # Within-cluster pair scoring is ONE dense matmul per cluster via
    # applyInPandas — not a self-join with per-pair `cosine()`: the
    # higher-order-function expression costs ~µs per array element
    # interpreted in Catalyst, so Σ size² pairs × dim element-ops
    # dominates wall-clock (measured 12s → <2s at 2k×64 / 16
    # clusters), while BLAS does the identical flops in milliseconds.
    # Memory per task is one (block × size) slab of the similarity
    # matrix, bounded by the column blocking below; with the sizing
    # rule n_clusters ≈ n/1000 a cluster is a few thousand rows → a
    # few MB. The shuffle is the same one the window variant needed
    # (hash by cluster); ordering is done inside each pandas group.
    asc_rank = keep == "atypical"
    thr = float(threshold)

    def _dropped_ids(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pdf.iloc[0:0][["__id"]].rename(columns={"__id": "__dropped"})
        if len(pdf) < 2:
            return empty
        pdf = pdf.sort_values(
            ["__csim", "__id"], ascending=[asc_rank, True]
        ).reset_index(drop=True)
        vecs = np.array(pdf["__vec"].tolist(), dtype=np.float64)
        norms = np.linalg.norm(vecs, axis=1)
        # cosine() semantics: zero-norm / non-finite vectors yield NULL
        # sims — they neither drop anything nor get dropped.
        valid = (norms > 0) & np.isfinite(norms)
        idx = np.flatnonzero(valid)
        if idx.size < 2:
            return empty
        unit = vecs[idx] / norms[idx, None]
        m = idx.size
        dropped_mask = np.zeros(m, dtype=bool)
        block = 2048
        for lo_b in range(0, m, block):
            hi_b = min(lo_b + block, m)
            sims = unit @ unit[lo_b:hi_b].T  # (m, block)
            # witness a must outrank b: row index < column's global index
            outranks = np.arange(m)[:, None] < np.arange(lo_b, hi_b)[None, :]
            dropped_mask[lo_b:hi_b] = ((sims >= thr) & outranks).any(axis=0)
        out = pdf.loc[idx[dropped_mask], ["__id"]]
        return out.rename(columns={"__id": "__dropped"})

    id_type = ranked.schema[id_col].dataType.simpleString()
    dropped = (
        ranked.select(
            "__cluster",
            F.col(id_col).alias("__id"),
            F.col(vec_col).alias("__vec"),
            "__csim",
        )
        .groupBy("__cluster")
        .applyInPandas(_dropped_ids, f"__dropped {id_type}")
        .select(F.col("__dropped").alias(id_col))
    )
    return df.join(dropped, id_col, "left_anti")


def embedding_neardup(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int,
    threshold: float = 0.95,
    num_tables: int = 6,
    num_planes: int = 14,
    seed: int = 42,
) -> DataFrame:
    """Near-duplicate vector pairs (cosine ≥ threshold) via LSH
    buckets: the id pairs sharing a (table, bucket), dedup,
    exact-cosine filter. Quadratic only within buckets (and the
    plane count bounds expected bucket size)."""
    # Id-only pair generation: candidate rows are two longs,
    # embeddings join back once per side after dedup.
    b = bucket_assignments(
        df, id_col, vec_col=vec_col, dim=dim, num_tables=num_tables,
        num_planes=num_planes, seed=seed,
    )
    pairs = (
        bucket_pairs(b, ["__table", "__bucket"], id_col)
        .select(F.col("a").alias("__ida"), F.col("b").alias("__idb"))
        .dropDuplicates(["__ida", "__idb"])
    )
    va = df.select(F.col(id_col).alias("__ida"), F.col(vec_col).alias("__va"))
    vb = df.select(F.col(id_col).alias("__idb"), F.col(vec_col).alias("__vb"))
    return (
        pairs.join(va, "__ida")
        .join(vb, "__idb")
        .withColumn("sim", cosine("__va", "__vb"))
        .filter(F.col("sim") >= threshold)
        .select(
            F.col("__ida").alias(f"{id_col}_a"),
            F.col("__idb").alias(f"{id_col}_b"),
            "sim",
        )
    )


def pq_build(
    corpus: DataFrame,
    *,
    vec_col: str = "embedding",
    m: int = 8,
    n_codes: int = 256,
    seed: int = 42,
    max_train: int = 65_536,
    kmeans_iters: int = 20,
) -> np.ndarray:
    """Train product-quantization codebooks (Jégou, Douze, Schmid,
    "Product Quantization for Nearest Neighbor Search", TPAMI 2011):
    the (L2-normalized) vector splits into ``m`` subvectors, each
    quantized against its own ``n_codes``-centroid codebook, so a
    vector stores as ``m`` small ints (dim×4 bytes → m bytes at
    n_codes ≤ 256 — 32× for dim-64 float32).

    Training is a BOUNDED driver hop: ``max_train`` sample rows
    (collect is capped regardless of corpus size — at 100 TB the
    codebooks, like the IVF quantizer, train on a sample and serve
    the whole corpus), then seeded per-subspace Lloyd in numpy.
    Returns ``(m, n_codes, dim//m)`` float64; tiny, broadcasts into
    the encode/score UDFs.
    """
    rows = corpus.select(_as_double(vec_col).alias("v")).limit(max_train).collect()
    mat = np.array([r["v"] for r in rows], dtype=np.float64)
    if mat.ndim != 2 or mat.shape[0] == 0:
        raise ValueError("pq_build: empty or ragged training sample")
    dim = mat.shape[1]
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    mat = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
    dsub = dim // m
    rng = np.random.default_rng(seed)
    books = np.empty((m, n_codes, dsub))
    for j in range(m):
        sub = mat[:, j * dsub : (j + 1) * dsub]
        init = rng.choice(len(sub), size=min(n_codes, len(sub)), replace=False)
        cents = sub[init].copy()
        if len(cents) < n_codes:  # tiny corpora: pad with jitter
            pad = sub[rng.integers(0, len(sub), n_codes - len(cents))]
            cents = np.vstack([cents, pad + rng.normal(0, 1e-6, pad.shape)])
        for _ in range(kmeans_iters):
            d2 = ((sub[:, None, :] - cents[None, :, :]) ** 2).sum(-1)
            assign = d2.argmin(1)
            for c in range(n_codes):
                mask = assign == c
                if mask.any():
                    cents[c] = sub[mask].mean(0)
                else:  # empty cluster → reseed on a random point
                    cents[c] = sub[rng.integers(0, len(sub))]
        books[j] = cents
    return books


def pq_assign(
    df: DataFrame,
    codebooks: np.ndarray,
    *,
    vec_col: str = "embedding",
    out_col: str = "pq_code",
) -> DataFrame:
    """Encode each (normalized) vector as its ``m`` nearest-subcentroid
    ids — one vectorized matmul batch per subspace, narrow pass."""
    from pyspark.sql.functions import pandas_udf

    books = np.asarray(codebooks, dtype=np.float64)
    m, n_codes, dsub = books.shape
    dim = m * dsub
    # argmin ||x - c||² = argmax (x·c − ||c||²/2): precompute norms.
    half_norms = (books ** 2).sum(-1) / 2.0  # (m, n_codes)

    @pandas_udf("array<int>")
    def _encode(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series([], dtype=object)
        x = np.stack(vs.map(lambda v: _coerce_vec(v, dim)))
        x = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
        codes = np.empty((len(x), m), dtype=np.int32)
        for j in range(m):
            sub = x[:, j * dsub : (j + 1) * dsub]
            scores = sub @ books[j].T - half_norms[j]
            codes[:, j] = scores.argmax(1)
        return pd.Series(list(codes))

    return df.withColumn(out_col, _encode(F.col(vec_col)))


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    k: int = 10,
    n_clusters: int = 16,
    n_probe: int = 4,
    m: int = 8,
    n_codes: int = 256,
    seed: int = 42,
    refine: int = 4,
    centroids: np.ndarray | None = None,
    codebooks: np.ndarray | None = None,
) -> DataFrame:
    """IVF-PQ approximate top-k — the memory-bound 100 TB serving
    path: IVF inverted lists bound WHICH vectors each query scores
    (n_probe/n_clusters of the corpus), PQ codes bound WHAT the
    candidate shuffle carries (m small ints per row instead of the
    raw vector — 32× smaller at dim 64/m 8), and asymmetric distance
    computation (ADC) scores candidates from an m×n_codes lookup
    table per query without touching any raw corpus vector.

    The ADC top-``refine·k`` per query then re-ranks EXACTLY (one
    id-join back to raw vectors, cosine) — the standard two-stage
    recall recovery; ``refine=1`` disables nothing but the margin.
    Pass prebuilt ``centroids``/``codebooks`` to reuse quantizers
    across shards/batches (cf. ivf_build's contract).

    Returns (query_id, id, sim, rank) with EXACT cosine sims on the
    approximate candidate set — same shape as the other topk paths.
    """
    if centroids is None:
        centroids = ivf_build(
            corpus, vec_col=vec_col, n_clusters=n_clusters, seed=seed
        )
    if codebooks is None:
        codebooks = pq_build(
            corpus, vec_col=vec_col, m=m, n_codes=n_codes, seed=seed
        )
    books = np.asarray(codebooks, dtype=np.float64)
    mm, n_codes_eff, dsub = books.shape
    dim = mm * dsub

    cb = ivf_assign(
        corpus, centroids, vec_col=vec_col, out_col="__cl", n_probe=1
    ).select(id_col, vec_col, F.col("__cl")[0].alias("__cluster"))
    cb = pq_assign(cb, books, vec_col=vec_col, out_col="__code").drop(vec_col)

    # Per-query ADC lookup tables: lut[j][c] = q_j · codebook[j][c]
    # on the normalized query — tiny (Q × m × n_codes), broadcast
    # into the scoring UDF closure.
    qrows = queries.select(
        F.col(query_id_col).alias("qid"), _as_double(vec_col).alias("v")
    ).collect()
    luts = {}
    for r in qrows:
        q = np.asarray(r["v"], dtype=np.float64)
        q = q / max(np.linalg.norm(q), 1e-12)
        luts[r["qid"]] = np.stack(
            [books[j] @ q[j * dsub : (j + 1) * dsub] for j in range(mm)]
        )

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _adc(qids: pd.Series, codes: pd.Series) -> pd.Series:
        if len(qids) == 0:
            return pd.Series([], dtype=float)
        out = np.empty(len(qids))
        code_mat = np.stack(codes.map(np.asarray))
        rows = np.arange(mm)
        for i, qid in enumerate(qids):
            out[i] = luts[qid][rows, code_mat[i]].sum()
        return pd.Series(out)

    qb = ivf_assign(
        queries, centroids, vec_col=vec_col, out_col="__probes",
        n_probe=n_probe,
    ).select(query_id_col, F.explode("__probes").alias("__cluster"))

    cand = (
        cb.join(F.broadcast(qb), "__cluster")
        .filter(F.col(id_col) != F.col(query_id_col))
        .withColumn("__adc", _adc(F.col(query_id_col), F.col("__code")))
    )
    shortlist = top_k_per_group(
        cand, [query_id_col], [F.desc("__adc"), F.asc(id_col)], refine * k
    ).select(query_id_col, id_col)
    rescored = (
        shortlist.join(corpus.select(id_col, vec_col), id_col)
        .join(
            F.broadcast(
                queries.select(query_id_col, F.col(vec_col).alias("__qvec"))
            ),
            query_id_col,
        )
        .withColumn("sim", cosine(vec_col, "__qvec"))
        .filter(F.col("sim").isNotNull())
    )
    return top_k_per_group(rescored, [query_id_col], _by_sim(id_col), k).select(
        query_id_col, id_col, "sim", "rank"
    )


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    query_id_col: str = "query_id",
    k: int = 10,
) -> DataFrame:
    """Hard-negative mining for contrastive training: for each query
    (anchor), the ``k`` most cosine-similar corpus vectors with a
    DIFFERENT label — near misses are the negatives that sharpen a
    contrastive objective (in-batch random negatives are mostly easy;
    retrieval training mines the hard ones, cf. DPR, Karpukhin et al.
    2020, arXiv:2004.04906 §4.2).

    Same plan shape as :func:`brute_force_topk` — the (small by
    definition) anchor set broadcasts with its labels, the corpus
    scans once, the label-mismatch predicate filters before the
    per-anchor top-k window — plus the anchor itself is excluded by
    id. Swap the corpus side for :func:`ivf_topk`'s inverted lists
    when the corpus no longer brute-forces (the mining predicate
    composes the same way: filter label != anchor label before the
    re-rank).

    Output: ``query_id``, ``{id_col}``, ``neg_label``, ``sim``,
    ``rank`` (dense ranks 1..k, ties broken on ascending id).
    """
    q = queries.select(
        F.col(query_id_col),
        F.col(vec_col).alias("__qvec"),
        F.col(label_col).alias("__qlabel"),
    )
    joined = (
        corpus.select(id_col, vec_col, label_col)
        .crossJoin(F.broadcast(q))
        .filter(
            (F.col(id_col) != F.col(query_id_col))
            & ~F.col(label_col).eqNullSafe(F.col("__qlabel"))
        )
    )
    scored = joined.withColumn("sim", cosine(vec_col, "__qvec")).filter(
        F.col("sim").isNotNull()
    )
    return (
        top_k_per_group(scored, [query_id_col], _by_sim(id_col), k)
        .select(
            query_id_col,
            id_col,
            F.col(label_col).alias("neg_label"),
            "sim",
            "rank",
        )
    )


def cluster_profile(
    corpus: DataFrame,
    centroids: "np.ndarray",
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Data-map of an embedding corpus over a trained k-means
    quantizer: per cluster, the member count, mean/min cosine to the
    centroid (cohesion), and the id of the most central member (the
    cluster's exemplar).

    The curation view behind cluster-balanced sampling and SemDeDup-
    style pruning: skewed cluster sizes reveal mode collapse in the
    corpus, low mean cohesion reveals junk clusters. One assignment
    pass (vectorized UDF, centroids broadcast) + one aggregate on the
    cluster key; nothing is collected.

    Output: ``cluster``, ``n_members``, ``mean_sim``, ``min_sim``,
    ``exemplar_id`` (max-sim member, min-id tie-break).
    """
    assigned = ivf_assign(
        corpus.select(id_col, vec_col), centroids, vec_col=vec_col,
        out_col="__cl", n_probe=1,
    ).select(
        id_col,
        F.col("__cl")[0].alias("cluster"),
        F.col(vec_col).alias("__v"),
    )
    import pandas as pd  # noqa: F401 — pandas_udf dependency is implicit

    from pyspark.sql.functions import pandas_udf

    cents = centroids.astype("float64")
    norms = (cents ** 2).sum(axis=1) ** 0.5
    norms[norms == 0] = 1.0
    cents_n = cents / norms[:, None]

    @pandas_udf("double")
    def _sim_to_centroid(vecs: "pd.Series", cls: "pd.Series") -> "pd.Series":
        out = []
        for v, c in zip(vecs, cls):
            if v is None:
                out.append(None)
                continue
            vv = np.asarray(v, dtype="float64")
            n = float((vv ** 2).sum()) ** 0.5
            if n == 0 or not np.isfinite(n):
                out.append(None)
                continue
            out.append(float(vv @ cents_n[int(c)]) / n)
        return pd.Series(out, dtype="float64")

    sims = assigned.withColumn(
        "sim", _sim_to_centroid(F.col("__v"), F.col("cluster"))
    ).filter(F.col("sim").isNotNull())
    return (
        sims.groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.round(F.avg("sim"), 4).alias("mean_sim"),
            F.round(F.min("sim"), 4).alias("min_sim"),
            F.min(
                F.struct((-F.col("sim")).alias("s"), F.col(id_col).alias("i"))
            )["i"].alias("exemplar_id"),
        )
        .orderBy("cluster")
    )


def cluster_balanced_sample(
    corpus: DataFrame,
    centroids: "np.ndarray",
    per_cluster: int,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    salt: str = "",
) -> DataFrame:
    """Diversity sampling: up to ``per_cluster`` rows from every
    k-means cluster, selected by md5 rank — deterministic, id-stable,
    and re-drawable via ``salt`` (the same contract as
    ``sampling.hash_split``). Equal-per-cluster draws flatten the
    corpus's mode distribution — the cheap version of coreset /
    k-center selection for training-set diversity.

    One assignment pass + one per-cluster rank window (bounded by
    cluster size; no global sort). Output: the sampled rows with
    their ``cluster``.
    """
    if per_cluster < 1:
        raise ValueError(f"per_cluster must be >= 1, got {per_cluster}")
    assigned = ivf_assign(
        corpus, centroids, vec_col=vec_col, out_col="__cl", n_probe=1
    ).withColumn("cluster", F.col("__cl")[0]).drop("__cl")
    order = [
        F.md5(F.concat_ws("|", F.col(id_col).cast("string"), F.lit(salt))),
        F.col(id_col),
    ]
    return top_k_per_group(
        assigned, ["cluster"], order, per_cluster, rank_col="__rn"
    ).drop("__rn")


def rrf_fuse(
    ranked: dict[str, DataFrame],
    *,
    id_col: str,
    rank_col: str = "rank",
    c: int = 60,
    k: int | None = None,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack, Clarke & Büttcher, SIGIR 2009)
    of N ranked retrieval lists — the standard hybrid-search combiner
    for lexical (BM25) + dense (ANN) branches, robust because it only
    consumes RANKS, never the incomparable raw scores:

        rrf(d) = Σ_lists 1 / (c + rank_list(d))

    ``ranked`` maps a list name to a DataFrame carrying (``id_col``,
    ``rank_col``); each list's rank column comes back as
    ``{name}_rank`` (NULL where the list didn't surface the doc), so
    the fused row explains itself. Ties break on ascending id.

    Plan shape: the inputs are top-k lists — k·N rows total,
    dimension-sized BY CONSTRUCTION no matter the corpus size — so
    the union + one aggregate is metadata-scale; everything heavy
    already happened inside the branch retrievers. ``k`` optionally
    truncates the fused list (TakeOrderedAndProject).
    """
    if not ranked:
        raise ValueError("rrf_fuse needs at least one ranked list")
    parts = []
    names = list(ranked)
    for name, df in ranked.items():
        parts.append(
            df.select(
                F.col(id_col),
                F.lit(name).alias("__list"),
                F.col(rank_col).cast("long").alias("__rank"),
            )
        )
    allp = parts[0]
    for p in parts[1:]:
        allp = allp.unionByName(p)
    aggs = [
        F.round(
            F.sum(1.0 / (F.lit(float(c)) + F.col("__rank"))), 6
        ).alias("rrf")
    ] + [
        F.max(
            F.when(F.col("__list") == n, F.col("__rank"))
        ).alias(f"{n}_rank")
        for n in names
    ]
    out = (
        allp.groupBy(id_col)
        .agg(*aggs)
        .orderBy(F.desc("rrf"), F.asc(id_col))
    )
    return out.limit(k) if k is not None else out


def mmr_rerank(
    candidates: DataFrame,
    *,
    query_id_col: str = "query_id",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rel_col: str = "sim",
    k: int = 10,
    lam: float = 0.7,
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein,
    SIGIR 1998): greedily pick, per query, the candidate maximizing

        λ · rel(q, d) − (1−λ) · max_{s ∈ selected} cos(d, s)

    — relevance traded against redundancy, the diversity pass run on
    a retriever's shortlist before showing results or building
    RAG/training contexts.

    ``candidates`` is a SHORTLIST (query_id, id, vec, rel) — the
    output of :func:`brute_force_topk`/:func:`ivf_topk` joined back to
    its vectors — so each per-query group is k′ rows by construction.
    The greedy loop is inherently sequential per query, so it runs as
    one vectorized numpy kernel per query group via ``applyInPandas``
    (groups are independent → executor-parallel across queries; the
    O(k·k′) pair matrix is tiny because k′ is). Deterministic: ties
    break on (score desc, id asc); float comparisons see identical
    operand orders on every engine pass.

    Returns (``query_id_col``, ``id_col``, ``mmr_score`` double,
    ``rank`` long) — ``mmr_score`` is the marginal objective at
    selection time (first pick: λ·rel).
    """
    import pandas as pd  # noqa: F811 — local, matches module import

    if not 0.0 <= lam <= 1.0:
        raise ValueError(f"lam must be in [0, 1], got {lam}")
    out_schema = (
        f"{query_id_col} long, {id_col} long, mmr_score double, rank long"
    )

    def _greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            [rel_col, id_col], ascending=[False, True]
        ).reset_index(drop=True)
        vecs = np.stack(
            [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
        )
        norms = np.linalg.norm(vecs, axis=1)
        norms[norms == 0] = 1.0
        unit = vecs / norms[:, None]
        sims = unit @ unit.T  # k'×k' candidate-candidate cosine
        rel = pdf[rel_col].to_numpy(dtype=np.float64)
        ids = pdf[id_col].to_numpy()
        n = len(pdf)
        chosen: list[int] = []
        scores: list[float] = []
        remaining = list(range(n))
        for _ in range(min(k, n)):
            if not chosen:
                marg = lam * rel[remaining]
            else:
                red = sims[np.ix_(remaining, chosen)].max(axis=1)
                marg = lam * rel[remaining] - (1.0 - lam) * red
            # argmax with (score desc, id asc) tie-break
            best = min(
                range(len(remaining)),
                key=lambda i: (-marg[i], ids[remaining[i]]),
            )
            chosen.append(remaining[best])
            scores.append(float(marg[best]))
            remaining.pop(best)
        return pd.DataFrame(
            {
                query_id_col: pdf[query_id_col].iloc[0],
                id_col: ids[chosen],
                "mmr_score": scores,
                "rank": np.arange(1, len(chosen) + 1, dtype=np.int64),
            }
        )

    return candidates.groupBy(query_id_col).applyInPandas(
        _greedy, schema=out_schema
    )


def random_projection(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    dim: int,
    out_dim: int,
    seed: int = 42,
    out_col: str = "rp",
) -> DataFrame:
    """Johnson–Lindenstrauss random projection: multiply each vector
    by a seeded Gaussian matrix scaled 1/√out_dim — pairwise
    Euclidean geometry is preserved within (1±ε) for
    out_dim = O(log n / ε²) (the JL lemma), making the projected
    column a drop-in cheaper substrate for ANN candidate generation
    or storage (4× at 64→16 dims) with exact re-rank on the original
    vectors downstream.

    One (batch × dim) @ (dim × out_dim) matmul per Arrow batch —
    same vectorized-UDF rationale as :func:`hyperplane_buckets`; the
    matrix is deterministic from (seed, dim, out_dim) so any
    executor, session, or engine reproduces identical projections.
    """
    from pyspark.sql.functions import pandas_udf

    if out_dim < 1 or out_dim > dim:
        raise ValueError(f"out_dim must be in [1, {dim}], got {out_dim}")
    rng = np.random.default_rng(seed)
    mat = rng.standard_normal((dim, out_dim)) / np.sqrt(out_dim)

    @pandas_udf("array<double>")
    def _proj(vs: pd.Series) -> pd.Series:
        if len(vs) == 0:
            return pd.Series([], dtype=object)
        stacked = np.stack([_coerce_vec(v, dim) for v in vs])
        out = stacked @ mat
        return pd.Series(list(out))

    return df.withColumn(out_col, _proj(F.col(vec_col)))
