"""Benchmark decontamination: flag or drop training documents that
overlap an evaluation set.

The standard defense against test-set leakage (GPT-3 appendix C,
PaLM §8, Llama 2 §A.6): a training document is contaminated when it
shares at least one word ``n``-gram (n=13 by convention) with any
benchmark document. At corpus scale the shape that works is:

1. shingle the (small) benchmark side into DISTINCT hashed n-grams —
   md5 of the space-joined window, so the join key is a fixed-width
   digest, never the raw n-gram text;
2. broadcast that digest set (benchmarks are ~1e5–1e7 shingles — MBs,
   not GBs — well under the broadcast threshold even for a suite of
   evals);
3. explode the corpus into hashed shingles map-side and semi-join
   against the broadcast set — the 100 TB side never shuffles; the
   explode is transient (projected to (id, digest) pairs only).

Per-document shingling is the same guarded transform/slice pattern as
:func:`~workshoop2_etl_spark.operators.textstats.repetition_stats`
(md5, engine-portable, so the whole operator has an exact DuckDB
oracle).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _hashed_shingles(text_col: str, ngram: int) -> Column:
    """Array of md5(space-joined word ``ngram``-gram) over lower-cased
    whitespace tokens; empty when the document is shorter than
    ``ngram`` tokens (guarding Spark's descending sequence(1, 0))."""
    toks = f"filter(split(lower({text_col}), '\\\\s+'), t -> t != '')"
    return F.expr(
        f"if(size({toks}) < {ngram}, array(), "
        f"transform(sequence(1, size({toks}) - {ngram - 1}), "
        f"i -> md5(array_join(slice({toks}, i, {ngram}), ' '))))"
    )


def benchmark_shingles(
    benchmark: DataFrame, text_col: str, *, ngram: int = 13
) -> DataFrame:
    """Distinct hashed ``ngram``-shingles of the benchmark corpus —
    one column ``__shingle``. Computed once and broadcast by
    :func:`decontaminate`; reuse the returned frame across corpus
    shards to avoid re-shingling the eval suite per run."""
    return (
        benchmark.select(
            F.explode(_hashed_shingles(text_col, ngram)).alias("__shingle")
        )
        .distinct()
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    *,
    ngram: int = 13,
    mode: str = "filter",
    out_col: str = "contaminated",
) -> DataFrame:
    """Drop (``mode='filter'``) or flag (``mode='flag'``) corpus
    documents sharing any word ``ngram``-gram with ``benchmark``.

    ``benchmark`` may be raw documents (same ``text_col``) or an
    already-shingled frame from :func:`benchmark_shingles` (detected
    by its single ``__shingle`` column). The benchmark shingle set is
    broadcast, so the corpus explode never shuffles on the digest.
    """
    if mode not in ("filter", "flag"):
        raise ValueError(f"mode must be 'filter' or 'flag', got {mode!r}")
    if benchmark.columns == ["__shingle"]:
        bench = benchmark
    else:
        bench = benchmark_shingles(benchmark, text_col, ngram=ngram)
    bench = F.broadcast(bench)
    doc_shingles = corpus.select(
        F.col(id_col),
        F.explode(_hashed_shingles(text_col, ngram)).alias("__shingle"),
    )
    dirty_ids = (
        doc_shingles.join(bench, "__shingle", "left_semi")
        .select(id_col)
        .distinct()
    )
    if mode == "filter":
        return corpus.join(dirty_ids, id_col, "left_anti")
    return corpus.join(
        dirty_ids.withColumn(out_col, F.lit(True)), id_col, "left"
    ).withColumn(out_col, F.coalesce(F.col(out_col), F.lit(False)))
