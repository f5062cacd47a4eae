"""Model registry: persist trained artifacts as versioned tables
(round 13 — closes the train-once/apply-everywhere loop for every
trainer the engine carries).

The engine trains six artifact kinds — the X217 quality classifier
(``(bucket, weight)`` + bias), the X224 language model (``(lang,
bucket, weight)`` + per-lang biases), X104 BPE merges, X223
unigram pieces, and (round 14) the two ANN quantizers: X117's IVF
k-means centroids and X92's product-quantization codebooks — the
artifacts whose SHARING is correctness-critical, since PQ codes and
inverted lists written by one job are only readable against the
same quantizer. A real pipeline trains them ONCE on a sample and
applies them across every job and every cluster; that only works if
the artifact survives storage bit-exactly. This module stores each
artifact in the engine's OWN versioned-table format
(:mod:`..sources.versioned`) — so models get time travel, history,
and rollback for free (re-train = new version; a bad model rolls
back like any bad data commit) — and reloads it into exactly the
structure the apply path consumes.

Bit-exactness contract: weights/logprobs are already quantized to
integer micro-units by the trainers (the repo's cross-engine rule),
so round-tripping through parquet doubles is exact; merge ranks and
piece strings are exact by type. The oracle-backed registry entry
re-scores a corpus through a SAVED-then-LOADED model against the
same closed-form oracle the direct train→score path pins — a
persistence layer that altered one weight would break the hash.

Layout per kind (one row-table each, scalars carried as constant
columns — a versioned table needs no sidecar):

- ``classifier``: (bucket int, weight double, bias double)
- ``langid``: (lang string, bucket int, weight double, bias double)
- ``bpe``: (rank int, left string, right string)
- ``unigram``: (piece string, logprob double)
- ``ivf``: (cluster int, centroid array<double>)
- ``pq``: (subspace int, code int, centroid array<double>)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from workshoop2_etl_spark.sources.readers import from_records
from workshoop2_etl_spark.sources.versioned import (
    commit_overwrite,
    create_table,
    current_version,
    read_version,
)

__all__ = [
    "save_classifier",
    "load_classifier",
    "save_langid",
    "load_langid",
    "save_bpe",
    "load_bpe",
    "save_unigram",
    "load_unigram",
    "save_ivf",
    "load_ivf",
    "save_pq",
    "load_pq",
]


def _publish(df: DataFrame, table_dir: str) -> int:
    if current_version(table_dir) is None:
        return create_table(df, table_dir)
    return commit_overwrite(df, table_dir)


def save_classifier(
    weights: DataFrame, bias: float, table_dir: str
) -> int:
    """Persist an X217 ``(bucket, weight)`` model + bias. Returns the
    committed version (re-training commits a NEW version — roll back
    a bad model exactly like bad data).

    A model with ZERO surviving weight rows still carries its bias
    (it scores ``sigmoid(bias)`` everywhere): a NULL-bucket carrier
    row — the same convention :func:`save_langid` uses — keeps the
    table non-empty so the bias survives the round trip."""
    spark = weights.sparkSession
    rows = weights.select(
        F.col("bucket").cast("int"),
        F.col("weight").cast("double"),
        F.lit(float(bias)).alias("bias"),
    )
    carrier = from_records(
        spark,
        [(None, None, float(bias))], "bucket int, weight double, bias double"
    )
    if rows.limit(1).count() == 0:
        rows = carrier
    return _publish(rows, table_dir)


def load_classifier(
    spark: SparkSession, table_dir: str, version: int | None = None
):
    """→ (weights DataFrame(bucket, weight), bias float) — exactly
    the surface ``linear_text_classifier`` consumes; ``version``
    time-travels to an older model."""
    df = read_version(spark, table_dir, version)
    bias_row = df.select("bias").limit(1).collect()
    bias = float(bias_row[0]["bias"]) if bias_row else 0.0
    weights = df.where(F.col("bucket").isNotNull()).select(
        "bucket", "weight"
    )
    return weights, bias


def save_langid(
    weights: DataFrame, biases: dict[str, float], table_dir: str
) -> int:
    """Persist an X224 multinomial language model: the per-lang bias
    joins each lang's weight rows as a constant column (langs with
    zero surviving weights keep one NULL-bucket carrier row so the
    bias is never lost)."""
    spark = weights.sparkSession
    bias_df = from_records(
        spark,
        [(lg, float(b)) for lg, b in sorted(biases.items())],
        "lang string, bias double",
    )
    rows = bias_df.join(
        weights.select(
            "lang",
            F.col("bucket").cast("int"),
            F.col("weight").cast("double"),
        ),
        "lang",
        "left",
    ).select("lang", "bucket", "weight", "bias")
    return _publish(rows, table_dir)


def load_langid(
    spark: SparkSession, table_dir: str, version: int | None = None
):
    """→ (weights DataFrame(lang, bucket, weight), biases dict) —
    the ``language_classify`` surface."""
    df = read_version(spark, table_dir, version)
    biases = {
        r["lang"]: float(r["bias"])
        for r in df.select("lang", "bias").distinct().collect()
    }
    weights = df.where(F.col("bucket").isNotNull()).select(
        "lang", "bucket", "weight"
    )
    return weights, biases


def save_bpe(
    spark: SparkSession, merges: list[tuple[str, str]], table_dir: str
) -> int:
    """Persist X104 merge rules; rank (= list position) is the
    model."""
    rows = [(i, a, b) for i, (a, b) in enumerate(merges)]
    df = from_records(
        spark,
        rows or [(None, None, None)],
        "rank int, left string, right string",
    )
    return _publish(df, table_dir)


def load_bpe(
    spark: SparkSession, table_dir: str, version: int | None = None
) -> list[tuple[str, str]]:
    df = read_version(spark, table_dir, version)
    rows = df.where(F.col("rank").isNotNull()).orderBy("rank").collect()
    return [(r["left"], r["right"]) for r in rows]


def save_unigram(
    spark: SparkSession, pieces: dict[str, float], table_dir: str
) -> int:
    """Persist X223 unigram pieces (logprobs are micro-exact doubles,
    so parquet round-trips them bit-identically)."""
    df = from_records(
        spark, sorted(pieces.items()), "piece string, logprob double"
    )
    return _publish(df, table_dir)


def load_unigram(
    spark: SparkSession, table_dir: str, version: int | None = None
) -> dict[str, float]:
    df = read_version(spark, table_dir, version)
    return {
        r["piece"]: float(r["logprob"])
        for r in df.select("piece", "logprob").collect()
    }


def save_ivf(spark: SparkSession, centroids, table_dir: str) -> int:
    """Persist an IVF coarse quantizer (X117's ``ivf_build`` k×dim
    centroid matrix) as ``(cluster int, centroid array<double>)``
    rows.  Index build and query sides MUST share one quantizer —
    a rebuilt k-means gives different clusters and silently ruins
    recall — so the registry is the hand-off point between jobs.
    Doubles round-trip parquet bit-exactly, so reload is
    bit-identical (pytest-pinned)."""
    import numpy as np

    c = np.asarray(centroids, dtype=np.float64)
    rows = [(i, [float(v) for v in c[i]]) for i in range(len(c))]
    df = from_records(
        spark, rows, "cluster int, centroid array<double>"
    )
    return _publish(df, table_dir)


def load_ivf(
    spark: SparkSession, table_dir: str, version: int | None = None
):
    """→ the (k, dim) float64 centroid matrix, exactly the surface
    ``ivf_assign``/``ivf_topk``/``semantic_dedup`` consume."""
    import numpy as np

    df = read_version(spark, table_dir, version)
    rows = df.select("cluster", "centroid").orderBy("cluster").collect()
    return np.array([r["centroid"] for r in rows], dtype=np.float64)


def save_pq(spark: SparkSession, codebooks, table_dir: str) -> int:
    """Persist X92's product-quantization codebooks (``pq_build``'s
    (m, n_codes, dsub) array) as ``(subspace int, code int,
    centroid array<double>)`` rows — same sharing contract as
    :func:`save_ivf`: PQ codes stored by one job are only decodable
    against the SAME codebooks."""
    import numpy as np

    b = np.asarray(codebooks, dtype=np.float64)
    rows = [
        (j, c, [float(v) for v in b[j, c]])
        for j in range(b.shape[0])
        for c in range(b.shape[1])
    ]
    df = from_records(
        spark, rows, "subspace int, code int, centroid array<double>"
    )
    return _publish(df, table_dir)


def load_pq(
    spark: SparkSession, table_dir: str, version: int | None = None
):
    """→ the (m, n_codes, dsub) float64 codebook array, the
    ``pq_assign``/``ivfpq_topk`` surface."""
    import numpy as np

    df = read_version(spark, table_dir, version)
    rows = df.select("subspace", "code", "centroid").orderBy(
        "subspace", "code"
    ).collect()
    m = 1 + max(r["subspace"] for r in rows)
    n_codes = 1 + max(r["code"] for r in rows)
    out = np.empty((m, n_codes, len(rows[0]["centroid"])))
    for r in rows:
        out[r["subspace"], r["code"]] = r["centroid"]
    return out
