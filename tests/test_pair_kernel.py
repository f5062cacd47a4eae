"""Callers of the bucket-pair kernel (operators/pairs.py) on an input
where one id occurs twice as an exact duplicate row: the repeated id
pairs with the other id, never with itself."""

from __future__ import annotations

import pytest

TEXT = (
    "the quick brown fox jumps over the lazy dog while the slow grey"
    " cat watches from the warm kitchen window"
)


def _docs(spark):
    return spark.createDataFrame(
        [(1, TEXT), (1, TEXT), (2, TEXT)], "doc_id long, text string"
    )


def _lsh(spark):
    from workshoop2_etl_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    sigs = minhash_signatures(_docs(spark), "doc_id", "text")
    return lsh_candidate_pairs(sigs, "doc_id"), "doc_id_a", "doc_id_b"


def _simhash(spark):
    from workshoop2_etl_spark.operators.dedup import simhash_neardup_pairs

    fps = spark.createDataFrame(
        [(1, 12345), (1, 12345), (2, 12345)], "doc_id long, simhash long"
    )
    return simhash_neardup_pairs(fps, "doc_id"), "doc_id_a", "doc_id_b"


def _ngram(spark):
    from workshoop2_etl_spark.operators.dedup import ngram_jaccard_neardup

    out = ngram_jaccard_neardup(_docs(spark), "doc_id", "text")
    return out, "doc_id_a", "doc_id_b"


def _winnow(spark):
    from workshoop2_etl_spark.operators.dedup import winnow_candidates

    out = winnow_candidates(_docs(spark), "doc_id", "text", k=8, w=4)
    return out, "id_a", "id_b"


def _embedding(spark):
    from workshoop2_etl_spark.operators.similarity import embedding_neardup

    vec = [1.0, 0.5, -0.25, 2.0]
    emb = spark.createDataFrame(
        [(1, vec), (1, vec), (2, vec)], "vec_id long, embedding array<double>"
    )
    out = embedding_neardup(emb, dim=4, num_tables=2, num_planes=2)
    return out, "vec_id_a", "vec_id_b"


def _copurchase(spark):
    from workshoop2_etl_spark.operators.basket import copurchase_pairs

    li = spark.createDataFrame(
        [(10, 1), (10, 1), (10, 2)], "basket long, item long"
    )
    out = copurchase_pairs(li, basket_col="basket", item_col="item", min_count=1)
    return out, "item_a", "item_b"


CALLERS = {
    "lsh_candidate_pairs": _lsh,
    "simhash_neardup_pairs": _simhash,
    "ngram_jaccard_neardup": _ngram,
    "winnow_candidates": _winnow,
    "embedding_neardup": _embedding,
    "copurchase_pairs": _copurchase,
}


@pytest.mark.parametrize("caller", sorted(CALLERS))
def test_repeated_id_never_pairs_with_itself(spark, caller):
    out, a, b = CALLERS[caller](spark)
    pairs = [(r[a], r[b]) for r in out.collect()]
    assert (1, 2) in pairs  # the repeated id still pairs with the other
    assert [p for p in pairs if p[0] == p[1]] == []
