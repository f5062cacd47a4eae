"""Semantic tests for the curation operators (DSIR importance
resampling, linear classifier inference) on planted frames — the
oracle-parity run proves cross-engine agreement, these prove the
selection actually PREFERS target-like documents."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from workshoop2_etl_spark.operators.curation import (
    dsir_logweights,
    dsir_resample,
    hashed_ngram_buckets,
    linear_text_classifier,
)


@pytest.fixture()
def planted(spark):
    # Target (t=True) talks about cats; pool has cat-like docs and
    # number-station noise. DSIR must rank cat-like pool docs above
    # the noise.
    # DSIR weights are UNNORMALIZED log-likelihood-ratio sums (the
    # paper's form), so cross-document comparisons are only fair at
    # equal feature counts — all non-empty pool docs here are six
    # tokens long.
    rows = [
        (0, "the cat sat on the mat", True),
        (1, "a cat and another cat on a mat", True),
        (2, "a cat sat on a mat", False),
        (3, "cat on the mat the cat", False),
        (4, "zq7 xv9 qqj wop lrm vnz", False),
        (5, "9a8 b7c d6e f5g h4i j3k", False),
        (6, "", False),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text", "is_t"])


def test_dsir_prefers_target_like_docs(planted):
    w = {
        r["doc_id"]: r["logw_micro"]
        for r in dsir_logweights(
            planted, "doc_id", "text", F.col("is_t"), n_buckets=256
        ).collect()
    }
    # cat-vocabulary pool docs strictly outrank the noise docs
    assert min(w[2], w[3]) > max(w[4], w[5])
    # featureless doc gets exactly zero (empty product)
    assert w[6] == 0


def test_dsir_resample_deterministic_and_topk(planted):
    a = dsir_resample(
        planted, "doc_id", "text", F.col("is_t"), k=3, n_buckets=256
    ).collect()
    b = dsir_resample(
        planted, "doc_id", "text", F.col("is_t"), k=3, n_buckets=256
    ).collect()
    assert [r["doc_id"] for r in a] == [r["doc_id"] for r in b]
    assert len(a) == 3
    # keys are sorted descending and key = logw + gumbel holds per row
    keys = [r["key_micro"] for r in a]
    assert keys == sorted(keys, reverse=True)


def test_hashed_buckets_in_range_and_bigram_count(spark):
    df = spark.createDataFrame([(1, "one two three")], ["id", "text"])
    row = df.select(
        hashed_ngram_buckets("text", n_buckets=64).alias("b")
    ).head()
    # 3 unigrams + 2 bigrams
    assert len(row["b"]) == 5
    assert all(0 <= x < 64 for x in row["b"])
    uni_only = df.select(
        hashed_ngram_buckets("text", n_buckets=64, bigrams=False).alias("b")
    ).head()
    assert len(uni_only["b"]) == 3


def test_classifier_known_score(spark):
    # Single word "hello" hashed into a known bucket; weight 2.0 on
    # that bucket → z = 2.0, score = sigmoid(2).
    docs = spark.createDataFrame([(1, "hello"), (2, "")], ["id", "text"])
    bucket = docs.filter("id = 1").select(
        F.explode(
            hashed_ngram_buckets("text", n_buckets=32, bigrams=True)
        ).alias("b")
    ).head()["b"]
    weights = spark.createDataFrame([(int(bucket), 2.0)], ["bucket", "weight"])
    out = {
        r["id"]: r
        for r in linear_text_classifier(
            docs, weights, "id", "text", n_buckets=32, bias=0.5
        ).collect()
    }
    assert out[1]["n_feats"] == 1
    assert out[1]["score"] == pytest.approx(
        1.0 / (1.0 + math.exp(-2.5)), abs=1e-9
    )
    # featureless doc: z = bias
    assert out[2]["n_feats"] == 0
    assert out[2]["score"] == pytest.approx(
        1.0 / (1.0 + math.exp(-0.5)), abs=1e-9
    )


def test_classifier_unknown_buckets_weigh_zero(spark):
    docs = spark.createDataFrame([(1, "alpha beta gamma")], ["id", "text"])
    weights = spark.createDataFrame(
        [(0, 0.0)], ["bucket", "weight"]
    ).filter("bucket < 0")  # empty model
    row = linear_text_classifier(
        docs, weights, "id", "text", n_buckets=32
    ).head()
    assert row["z"] == 0.0 and row["score"] == 0.5


def test_per_domain_cap_shares_budget_across_subdomains(spark):
    """Subdomains draw from ONE registrable-domain budget; best-first
    order and the exact-cap guarantee hold."""
    from workshoop2_etl_spark.operators.curation import per_domain_cap

    rows = [
        (i, f"http://{sub}.x.com/p{i}", score)
        for i, (sub, score) in enumerate(
            [("www", 9), ("blog", 8), ("media", 7), ("www", 6), ("a", 5)]
        )
    ] + [(10, "http://only.y.com/p", 1)]
    df = spark.createDataFrame(rows, "id long, url string, score long")
    out = per_domain_cap(
        df,
        url_col="url",
        order_by=[("score", False), ("id", True)],
        k=2,
    ).collect()
    by_domain = {}
    for r in out:
        by_domain.setdefault(r["domain"], []).append(r["id"])
    assert sorted(by_domain["x.com"]) == [0, 1]  # scores 9 and 8 win
    assert by_domain["y.com"] == [10]  # under-cap domain keeps all


def test_per_domain_cap_matches_plain_window(spark):
    """The shuffle-bounded path is EXACT: identical survivors to a
    plain row_number window on randomized data."""
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from workshoop2_etl_spark.operators.curation import per_domain_cap

    rng = random.Random(11)
    rows = [
        (
            i,
            f"http://s{rng.randrange(4)}.d{rng.randrange(6)}.com/p{i}",
            rng.randrange(100),
        )
        for i in range(300)
    ]
    df = spark.createDataFrame(
        rows, "id long, url string, score long"
    ).repartition(8)
    got = {
        r["id"]
        for r in per_domain_cap(
            df,
            url_col="url",
            order_by=[("score", False), ("id", True)],
            k=3,
        ).collect()
    }
    from workshoop2_etl_spark.functions.urls import registrable_domain

    w = Window.partitionBy(registrable_domain(F.col("url"))).orderBy(
        F.col("score").desc(), F.col("id")
    )
    want = {
        r["id"]
        for r in df.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .collect()
    }
    assert got == want


def test_train_text_classifier_separable_and_degradation(spark):
    """Separable planted classes -> 100% train-set accuracy through
    the real inference path; random (non-separable) labels -> near
    chance; retraining is bit-deterministic; empty input raises."""
    import pytest

    from workshoop2_etl_spark.operators.curation import (
        linear_text_classifier,
        train_text_classifier,
    )

    words = ["alpha beta", "gamma delta", "epsilon zeta", "eta theta"]
    rows = [
        (i, words[i % 4] + (" qgood qgood" if i % 2 == 0 else " qbad qbad"))
        for i in range(120)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    y = F.col("doc_id") % 2 == 0
    weights, bias = train_text_classifier(
        df, "doc_id", "text", y, n_buckets=1024, sample_n=120, epochs=8
    )
    scored = linear_text_classifier(
        df, weights, "doc_id", "text", bias=bias, n_buckets=1024
    )
    acc = scored.select(
        (
            (F.col("score") > 0.5).cast("int")
            == (F.col("doc_id") % 2 == 0).cast("int")
        ).cast("int").alias("ok")
    ).agg(F.avg("ok")).collect()[0][0]
    assert acc == 1.0

    # determinism: identical weights + bias on retrain
    w2, b2 = train_text_classifier(
        df, "doc_id", "text", y, n_buckets=1024, sample_n=120, epochs=8
    )
    assert b2 == bias
    assert sorted(map(tuple, weights.collect())) == sorted(
        map(tuple, w2.collect())
    )

    # degradation: labels independent of text -> near-chance accuracy
    # (md5-derived pseudo-label over the id, text carries no signal)
    noise_y = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10) % 2 == 0
    nrows = [(i, words[i % 4]) for i in range(120)]
    ndf = spark.createDataFrame(nrows, "doc_id long, text string")
    nw, nb = train_text_classifier(
        ndf, "doc_id", "text", noise_y, n_buckets=1024, sample_n=120,
        epochs=8,
    )
    nscored = linear_text_classifier(
        ndf, nw, "doc_id", "text", bias=nb, n_buckets=1024
    )
    nacc = nscored.select(
        (
            (F.col("score") > 0.5).cast("int")
            == F.when(noise_y, 1).otherwise(0)
        ).cast("int").alias("ok")
    ).agg(F.avg("ok")).collect()[0][0]
    assert 0.3 <= nacc <= 0.85  # text has only 4 variants: no signal

    with pytest.raises(ValueError, match="empty"):
        train_text_classifier(
            df.where("doc_id < 0"), "doc_id", "text", y
        )
    with pytest.raises(ValueError, match=">= 1"):
        train_text_classifier(df, "doc_id", "text", y, sample_n=0)


def test_linear_classifier_feature_cap_matches_trainer(spark):
    """r12 ADVICE (curation.py:314): inference accepts the trainer's
    max_feats_per_doc and applies the identical first-N slice, so a
    long document's train and apply feature sets agree; short
    documents are unaffected by the cap."""
    import pandas as pd

    from workshoop2_etl_spark.operators.curation import (
        linear_text_classifier,
    )

    long_text = " ".join(f"w{i}" for i in range(400))  # 799 feats
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, long_text)], "id long, text string"
    )
    w = spark.createDataFrame(
        [(b, 0.001 * (b % 7 - 3)) for b in range(512)],
        "bucket int, weight double",
    )
    capped = {
        r["id"]: r
        for r in linear_text_classifier(
            docs, w, "id", "text", max_feats_per_doc=512
        ).collect()
    }
    full = {
        r["id"]: r
        for r in linear_text_classifier(docs, w, "id", "text").collect()
    }
    # short doc: cap is a no-op
    assert capped[1]["n_feats"] == full[1]["n_feats"]
    assert capped[1]["score"] == full[1]["score"]
    # long doc: exactly the first 512 features enter the logit
    assert full[2]["n_feats"] == 799
    assert capped[2]["n_feats"] == 512


def test_trained_langid_confusion_matrix(spark):
    """X224 (round 13): one-vs-rest char-n-gram language ID trained
    on a planted separable multilingual fixture classifies every
    document correctly — a diagonal confusion matrix — and retrains
    bit-identically."""
    from workshoop2_etl_spark.operators.curation import (
        language_classify,
        train_language_classifier,
    )
    from workshoop2_etl_spark.operators.textstats import LANG_STOPWORDS

    langs = sorted(LANG_STOPWORDS)
    rows = []
    for i in range(200):
        lg = langs[i % 4]
        marker = " ".join(LANG_STOPWORDS[lg]) + " "
        rows.append((i, lg, marker * 3 + f"document body {i}"))
    df = spark.createDataFrame(rows, "doc_id long, lang_true string, text string")
    w1, b1 = train_language_classifier(
        df, "doc_id", "text", "lang_true", langs, sample_n=150, epochs=6
    )
    w2, b2 = train_language_classifier(
        df, "doc_id", "text", "lang_true", langs, sample_n=150, epochs=6
    )
    assert b1 == b2
    assert sorted(map(tuple, w1.collect())) == sorted(map(tuple, w2.collect()))
    pred = language_classify(df, w1, b1, "doc_id", "text")
    conf = (
        df.join(pred, "doc_id")
        .groupBy("lang_true", "lang_pred")
        .count()
        .collect()
    )
    off_diag = [r for r in conf if r["lang_true"] != r["lang_pred"]]
    assert off_diag == []
    assert sum(r["count"] for r in conf) == 200


def test_trained_langid_featureless_tiebreak(spark):
    """Documents shorter than the n-gram window carry zero features:
    every logit equals its bias and the lexicographically first
    language wins — documented, deterministic, never NULL."""
    from workshoop2_etl_spark.operators.curation import (
        language_classify,
    )

    df = spark.createDataFrame([(1, "ab")], "doc_id long, text string")
    w = spark.createDataFrame(
        [("en", 0, 0.5), ("es", 0, 0.5)], "lang string, bucket int, weight double"
    )
    out = language_classify(
        df, w, {"en": 0.0, "es": 0.0}, "doc_id", "text"
    ).collect()[0]
    assert out["n_feats"] == 0
    assert out["lang_pred"] == "en"


def test_per_domain_cap_orders_nulls_as_spark_does(spark):
    """Nulls sort first under an ascending order and last under a
    descending one, as in a SQL window."""
    from workshoop2_etl_spark.operators.curation import per_domain_cap

    rows = [
        (10, "http://a.com/10", None),
        (11, "http://a.com/11", 5),
        (12, "http://a.com/12", 7),
        (13, "http://b.com/13", 3),
        (14, "http://b.com/14", None),
    ]
    df = spark.createDataFrame(rows, "id long, url string, v long").coalesce(1)

    def kept(ascending):
        out = per_domain_cap(
            df, url_col="url", order_by=[("v", ascending)], k=1
        )
        return sorted(r["id"] for r in out.collect())

    assert kept(True) == [10, 14]
    assert kept(False) == [12, 13]


def test_per_domain_cap_keeps_longs_exact_next_to_nulls(spark):
    """A kept long above 2**53 next to a null in the same column comes
    back exact (no float round trip)."""
    from workshoop2_etl_spark.operators.curation import per_domain_cap

    big = 2**53 + 1
    df = spark.createDataFrame(
        [(1, "http://a.com/1", big), (2, "http://b.com/2", None)],
        "id long, url string, n long",
    ).coalesce(1)
    out = per_domain_cap(df, url_col="url", order_by=[("id", True)], k=1)
    assert {r["id"]: r["n"] for r in out.collect()} == {1: big, 2: None}
