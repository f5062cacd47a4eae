"""Semantic tests for the LLM-pipeline operators on synthetic frames
with *actual* duplicates / near-duplicates (the testdata documents
table has none, so the oracle-parity run alone can't prove the dedup
semantics fire)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from workshoop2_etl_spark.operators.dedup import (
    duplicate_groups,
    exact_dedup,
    lsh_candidate_pairs,
    minhash_signatures,
    near_dedup_minhash,
    simhash,
    verify_jaccard,
)
from workshoop2_etl_spark.operators.similarity import (
    brute_force_topk,
    cosine,
    embedding_neardup,
    lsh_topk,
)
from workshoop2_etl_spark.operators.textstats import (
    fingerprint,
    language_id,
    quality_score,
    token_stats,
    word_frequencies,
)

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2, "the quick brown fox jumps over the lazy dog near the river bank"),  # exact dup of 1
    (3, "the quick brown fox jumps over the lazy dog near the river delta"),  # near dup of 1
    (4, "completely different content about spark query engines and shuffles"),
    (5, "el rapido zorro marron salta sobre el perro perezoso que duerme"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string").cache()


def test_exact_dedup_keeps_min_id(docs):
    kept = exact_dedup(docs, "text", "doc_id")
    ids = sorted(r.doc_id for r in kept.collect())
    assert ids == [1, 3, 4, 5]  # doc 2 collapsed into doc 1


def test_exact_dedup_keep_max(docs):
    kept = exact_dedup(docs, "text", "doc_id", keep="max")
    ids = sorted(r.doc_id for r in kept.collect())
    assert ids == [2, 3, 4, 5]


def test_duplicate_groups_counts(docs):
    groups = {r.keep_id: r.n_dups for r in duplicate_groups(docs, "text", "doc_id").collect()}
    assert groups == {1: 2, 3: 1, 4: 1, 5: 1}


def test_minhash_signature_shape_and_determinism(docs):
    sigs = minhash_signatures(docs, "doc_id", "text", num_hashes=16)
    assert sigs.columns == ["doc_id"] + [f"h{i}" for i in range(16)]
    a = {r.doc_id: tuple(r)[1:] for r in sigs.collect()}
    b = {r.doc_id: tuple(r)[1:] for r in minhash_signatures(docs, "doc_id", "text", num_hashes=16).collect()}
    assert a == b  # seeded hashes → reproducible
    # identical docs → identical signatures; near-dups agree on most mins
    assert a[1] == a[2]
    agree = sum(x == y for x, y in zip(a[1], a[3]))
    assert agree >= 8  # docs 1 and 3 share 10/12 3-shingles


def test_lsh_pairs_and_jaccard_verify(docs):
    sigs = minhash_signatures(docs, "doc_id", "text", num_hashes=16)
    cands = lsh_candidate_pairs(sigs, "doc_id", num_hashes=16, bands=8)
    pairs = {(r.doc_id_a, r.doc_id_b) for r in cands.collect()}
    assert (1, 2) in pairs  # exact dups always collide
    assert (1, 3) in pairs  # near dups collide in >=1 band w.h.p.
    verified = verify_jaccard(cands, docs, "doc_id", "text")
    j = {(r.doc_id_a, r.doc_id_b): r.jaccard for r in verified.collect()}
    assert j[(1, 2)] == pytest.approx(1.0)
    assert 0.5 < j[(1, 3)] < 1.0


def test_near_dedup_threshold_filters(docs):
    pairs = near_dedup_minhash(docs, "doc_id", "text", threshold=0.99, num_hashes=16, bands=8)
    assert {(r.doc_id_a, r.doc_id_b) for r in pairs.collect()} == {(1, 2)}


def test_lsh_bucket_size_guard(docs):
    sigs = minhash_signatures(docs, "doc_id", "text", num_hashes=16)
    none_allowed = lsh_candidate_pairs(sigs, "doc_id", num_hashes=16, bands=8, max_bucket_size=1)
    assert none_allowed.count() == 0  # every bucket with a pair exceeds size 1


def test_simhash_identical_docs_equal_fingerprints(docs):
    fp = {r.doc_id: r.simhash for r in simhash(docs, "doc_id", "text").collect()}
    assert fp[1] == fp[2]
    # near-dup differs in few bits; unrelated differs in many
    ham = lambda a, b: bin((a ^ b) & ((1 << 63) - 1)).count("1")
    assert ham(fp[1], fp[3]) < ham(fp[1], fp[4])


VECS = [
    (0, [1.0, 0.0, 0.0, 0.0]),
    (1, [0.99, 0.1, 0.0, 0.0]),   # near 0
    (2, [0.0, 1.0, 0.0, 0.0]),
    (3, [0.0, 0.98, 0.2, 0.0]),   # near 2
    (4, [0.0, 0.0, 0.0, 1.0]),
]


@pytest.fixture(scope="module")
def vecs(spark):
    return spark.createDataFrame(VECS, "vec_id long, embedding array<double>").cache()


def test_cosine_expr(spark):
    df = spark.createDataFrame(
        [([1.0, 0.0], [0.0, 1.0]), ([1.0, 1.0], [1.0, 1.0])], "a array<double>, b array<double>"
    )
    vals = [r.c for r in df.select(cosine("a", "b").alias("c")).collect()]
    assert vals[0] == pytest.approx(0.0)
    assert vals[1] == pytest.approx(1.0)


def test_brute_force_topk_exact(vecs):
    queries = vecs.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = brute_force_topk(vecs, queries, k=2)
    rows = sorted(out.collect(), key=lambda r: r.rank)
    assert [r.vec_id for r in rows] == [1, 2]  # nearest first, det. tie-break
    assert rows[0].sim > 0.99


def test_lsh_topk_subset_of_exact(vecs):
    queries = vecs.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    approx = lsh_topk(vecs, queries, dim=4, k=2, num_tables=8, num_planes=2)
    got = {r.vec_id for r in approx.collect()}
    assert got <= {1, 2, 3, 4} and 1 in got  # near-identical vec always bucket-collides


def test_embedding_neardup_finds_close_pairs(vecs):
    pairs = embedding_neardup(vecs, dim=4, threshold=0.9, num_tables=8, num_planes=2)
    got = {(r.vec_id_a, r.vec_id_b) for r in pairs.collect()}
    assert (0, 1) in got and (2, 3) in got
    assert all(a < b for a, b in got)


def test_token_stats(spark):
    df = spark.createDataFrame([(1, "Hello world, 42 times!")], "doc_id long, text string")
    r = token_stats(df, "text", id_cols=["doc_id"]).collect()[0]
    assert r.n_tokens_ws == 4
    # hello|world|,|4|2|times|! → letters runs=3, digits=2, marks=2
    assert r.n_tokens_bpe == 7
    assert r.n_tokens_distinct == 4


def test_word_frequencies(spark):
    df = spark.createDataFrame([(1, "a b a"), (2, "A c")], "doc_id long, text string")
    freq = {r.token: r.n for r in word_frequencies(df, "text").collect()}
    assert freq == {"a": 3, "b": 1, "c": 1}


def test_language_id(docs):
    pred = {r.doc_id: r.lang_pred for r in language_id(docs, "text").collect()}
    assert pred[1] == "en"
    assert pred[5] == "es"


def test_quality_score_bounds(docs):
    out = quality_score(docs, "text")
    for r in out.collect():
        assert 0.0 <= r.quality <= 1.0
        assert r.punct_ratio < 0.1  # plain prose


def test_fingerprint_stability_and_discrimination(docs):
    fp = {r.doc_id: r.fingerprint for r in fingerprint(docs, "text").collect()}
    assert fp[1] == fp[2]  # identical text → identical sketch
    assert fp[1] != fp[4]
    # bottom-k overlap between near-dups exceeds unrelated docs
    s1, s3, s4 = (set(fp[i].split(",")) for i in (1, 3, 4))
    assert len(s1 & s3) > len(s1 & s4)


def test_ivf_topk_exact_on_separated_clusters(spark):
    # Two well-separated clusters: IVF with enough probes must return
    # exactly what brute force returns.
    import random

    from workshoop2_etl_spark.operators.similarity import ivf_topk

    random.seed(7)
    rows = []
    for i in range(30):
        base = [5.0, 0.0, 0.0, 0.0] if i % 2 == 0 else [0.0, 0.0, 5.0, 0.0]
        rows.append((i, [v + random.uniform(-0.3, 0.3) for v in base]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = df.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = brute_force_topk(df, queries, k=5)
    approx = ivf_topk(df, queries, k=5, n_clusters=2, n_probe=2)
    key = lambda r: (r.query_id, r.rank, r.vec_id)
    assert sorted(map(key, exact.collect())) == sorted(map(key, approx.collect()))


def test_ivf_topk_deterministic(spark):
    from workshoop2_etl_spark.operators.similarity import ivf_topk

    df = spark.createDataFrame(VECS, "vec_id long, embedding array<double>")
    queries = df.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    a = sorted((r.query_id, r.vec_id, r.rank) for r in ivf_topk(df, queries, k=3, n_clusters=2, n_probe=2).collect())
    b = sorted((r.query_id, r.vec_id, r.rank) for r in ivf_topk(df, queries, k=3, n_clusters=2, n_probe=2).collect())
    assert a == b


def test_duplicate_clusters_chain_and_triangle(spark):
    from workshoop2_etl_spark.operators.dedup import duplicate_clusters

    # chain 1-2-3-4 (tests multi-hop propagation) + triangle 10-11-12
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12)],
        "doc_id_a long, doc_id_b long",
    )
    got = {r.doc_id: r.cluster_id for r in duplicate_clusters(pairs, "doc_id").collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10}


def test_near_dedup_keep_filters_corpus(spark, docs):
    from workshoop2_etl_spark.operators.dedup import near_dedup_keep

    kept = near_dedup_keep(docs, "doc_id", "text", threshold=0.5, num_hashes=16, bands=8)
    ids = sorted(r.doc_id for r in kept.collect())
    # docs 1,2 exact dups and 3 a near-dup of 1 -> one representative (1);
    # 4 and 5 unrelated survive.
    assert ids == [1, 4, 5]


def test_duplicate_clusters_empty_pairs(spark):
    from workshoop2_etl_spark.operators.dedup import duplicate_clusters

    pairs = spark.createDataFrame([], "doc_id_a long, doc_id_b long")
    assert duplicate_clusters(pairs, "doc_id").count() == 0


def test_lsh_topk_empty_partitions(spark):
    # Repartitioned input with empty partitions must not crash the
    # vectorized bucketing UDF (empty Arrow batches).
    df = spark.createDataFrame(VECS, "vec_id long, embedding array<double>").repartition(16)
    queries = df.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = lsh_topk(df, queries, dim=4, k=2, num_tables=4, num_planes=2)
    assert out.count() >= 0


def test_lsh_topk_null_embedding_row(spark):
    # A null embedding must not crash the batch kernel; it buckets to
    # a constant and simply scores nothing meaningful.
    rows = VECS + [(99, None)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = df.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = lsh_topk(df, queries, dim=4, k=3, num_tables=4, num_planes=2)
    assert out.count() >= 0


# ---------------------------------------------------------------------------
# Round 3: SimHash pair search + TF-IDF
# ---------------------------------------------------------------------------

def test_simhash_neardup_pairs_planted_flips(spark):
    """Fingerprints differing by 1-3 bits pair up; >3 bits do not —
    even when the far pair shares a block (popcount verify rejects)."""
    from workshoop2_etl_spark.operators.dedup import simhash_neardup_pairs

    base = 0x0123456789ABCDEF & ((1 << 63) - 1)
    rows = [
        (1, base),
        (2, base ^ 0b1),                     # hamming 1
        (3, base ^ (1 << 20) ^ (1 << 40)),   # hamming 2 from base
        # 4 flipped bits packed into one 16-bit block: still shares
        # the other 3 blocks with base → candidate, must be rejected
        (4, base ^ 0b1111),
        (5, (~base) & ((1 << 63) - 1)),      # hamming 63 — no pair
    ]
    fps = spark.createDataFrame(rows, "doc_id long, simhash long")
    got = {
        (r.doc_id_a, r.doc_id_b): r.hamming
        for r in simhash_neardup_pairs(fps, "doc_id", max_hamming=3).collect()
    }
    assert got[(1, 2)] == 1
    assert got[(1, 3)] == 2
    assert got[(2, 3)] == 3
    assert (1, 4) not in got  # hamming 4: candidate via shared blocks,
    assert got[(2, 4)] == 3   # ...rejected; but 2^4 = 0b1110 is a real pair
    assert all(5 not in pair for pair in got)


def test_simhash_neardup_pairs_on_documents(spark, sf_dir):
    """Planted exact duplicates in the documents table must surface
    as hamming-0 pairs."""
    from workshoop2_etl_spark.operators.dedup import (
        simhash,
        simhash_neardup_pairs,
    )
    from workshoop2_etl_spark.sources.readers import read_parquet

    docs = read_parquet(spark, f"{sf_dir}/documents.parquet")
    fps = simhash(docs, "doc_id", "text")
    pairs = simhash_neardup_pairs(fps, "doc_id", max_hamming=3)
    zero = pairs.filter(F.col("hamming") == 0).count()
    assert zero > 0


def test_tf_idf_small_corpus(spark):
    """Hand-checked TF-IDF on a 3-doc corpus (smooth idf)."""
    import math

    from workshoop2_etl_spark.operators.textstats import tf_idf

    docs = spark.createDataFrame(
        [
            (1, "apple banana apple"),
            (2, "banana cherry"),
            (3, "cherry cherry cherry"),
        ],
        "doc_id long, text string",
    )
    got = {
        (r.doc_id, r.term): (r.tf, r.df, r.tfidf)
        for r in tf_idf(docs, "doc_id", "text").collect()
    }
    def w(tf, df, n=3):
        return tf * (math.log((n + 1) / (df + 1)) + 1)

    assert got[(1, "apple")][0] == 2 and got[(1, "apple")][1] == 1
    assert got[(1, "apple")][2] == pytest.approx(w(2, 1))
    assert got[(2, "banana")][2] == pytest.approx(w(1, 2))
    assert got[(3, "cherry")][2] == pytest.approx(w(3, 2))
    assert len(got) == 5


def test_ngram_jaccard_neardup_finds_planted_pairs(docs):
    """Sketch blocking must surface the exact and near dup; verify
    step must reject unrelated docs sharing no long char shingle."""
    from workshoop2_etl_spark.operators.dedup import ngram_jaccard_neardup

    pairs = {
        (r.doc_id_a, r.doc_id_b): r.jaccard
        for r in ngram_jaccard_neardup(
            docs, "doc_id", "text", threshold=0.3
        ).collect()
    }
    assert pairs[(1, 2)] == pytest.approx(1.0)   # exact dup
    assert 0.5 < pairs[(1, 3)] < 1.0             # near dup
    assert all({4, 5}.isdisjoint(p) for p in pairs)  # unrelated never pair


def test_corpus_pipeline_composition(spark):
    """Quality gate drops junk, language filter keeps 'en', exact dup
    collapses, near-dup collapses — one lazy composition."""
    from workshoop2_etl_spark.plans.pipelines import corpus_pipeline

    rows = list(DOCS) + [
        (6, "@@ ## $$ %% ^^ && ** (( )) !!"),  # punctuation junk
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    kept = corpus_pipeline(
        docs, min_quality=0.5, langs=["en"], neardup_threshold=0.5
    )
    ids = sorted(r.doc_id for r in kept.collect())
    # 2 = exact dup of 1; 3 = near dup of 1; 4 = below the 10-token
    # length gate (quality 0.49); 5 = spanish; 6 = junk ('und')
    assert ids == [1]


def test_ivf_prebuilt_quantizer_identical_and_sampled_build(spark):
    """Passing a prebuilt quantizer must give byte-identical results
    to per-call training (same seed); sampled training still returns
    a usable (k × dim) centroid matrix."""
    import random

    from workshoop2_etl_spark.operators.similarity import ivf_build, ivf_topk

    random.seed(3)
    rows = [
        (i, [random.uniform(-1, 1) for _ in range(8)]) for i in range(60)
    ]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = corpus.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    fresh = ivf_topk(corpus, queries, k=5, n_clusters=4, n_probe=2)
    cents = ivf_build(corpus, n_clusters=4)
    reused = ivf_topk(
        corpus, queries, k=5, n_clusters=4, n_probe=2, centroids=cents
    )
    key = lambda r: (r.query_id, r.rank, r.vec_id, round(r.sim, 10))
    assert sorted(map(key, fresh.collect())) == sorted(map(key, reused.collect()))

    sampled = ivf_build(corpus, n_clusters=4, sample_fraction=0.5)
    assert sampled.shape == (4, 8)


def test_chunk_documents_splits_and_preserves_tokens(spark):
    from workshoop2_etl_spark.operators.chunking import chunk_documents

    long_text = " ".join(f"w{i}" for i in range(300))
    docs = spark.createDataFrame(
        [(1, long_text), (2, "just five little tokens here"), (3, "   ")],
        "doc_id long, text string",
    )
    rows = sorted(
        (r.doc_id, r.chunk_no, r.n_tokens)
        for r in chunk_documents(docs, "doc_id", "text", max_tokens=128).collect()
    )
    assert rows == [(1, 0, 128), (1, 1, 128), (1, 2, 44), (2, 0, 5)]
    # concatenating chunks reproduces the token stream
    texts = {
        (r.doc_id, r.chunk_no): r.chunk_text
        for r in chunk_documents(docs, "doc_id", "text", max_tokens=128).collect()
    }
    rebuilt = " ".join(texts[(1, i)] for i in range(3))
    assert rebuilt == long_text


def test_pack_chunks_first_fit_bins(spark):
    from workshoop2_etl_spark.operators.chunking import pack_chunks

    chunks = spark.createDataFrame(
        [
            # (doc, chunk, tokens): running exclusive cumsum → bin
            (1, 0, 300),  # excl 0    → bin 0
            (1, 1, 300),  # excl 300  → bin 0
            (2, 0, 300),  # excl 600  → bin 1
            (3, 0, 500),  # excl 900  → bin 1
            (4, 0, 100),  # excl 1400 → bin 2
        ],
        "doc_id long, chunk_no int, n_tokens int",
    )
    got = {
        (r.doc_id, r.chunk_no): r.bin_id
        for r in pack_chunks(chunks, "doc_id", budget=512, allow_global=True).collect()
    }
    assert got == {(1, 0): 0, (1, 1): 0, (2, 0): 1, (3, 0): 1, (4, 0): 2}


def test_repetition_stats_measures(spark):
    from workshoop2_etl_spark.operators.textstats import repetition_stats

    rows = [
        (1, "a b a b a b"),            # top bigram 'a b' 3/5, dup tokens 4/6
        (2, "x\ny\nx\n\nz"),           # duplicate line 'x' -> 1/4
        (3, ""),                        # empty doc: all zeros
        (4, "one two"),                 # single bigram
        (5, "solo"),                    # shorter than the ngram: no grams
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r
        for r in repetition_stats(df, "text", id_cols=["doc_id"]).collect()
    }
    assert out[1].n_tokens == 6
    assert out[1].dup_token_frac == round(1 - 2 / 6, 4)
    assert out[1].top_ngram_share == round(3 / 5, 4)
    assert out[1].dup_line_frac == 0.0
    assert out[2].dup_line_frac == 0.25
    assert out[2].dup_token_frac == 0.25
    assert out[3].n_tokens == 0
    assert (out[3].dup_token_frac, out[3].top_ngram_share, out[3].dup_line_frac) == (
        0.0,
        0.0,
        0.0,
    )
    assert out[4].top_ngram_share == 1.0
    assert out[5].top_ngram_share == 0.0


def test_hash_split_deterministic_and_stable(spark):
    from workshoop2_etl_spark.operators.sampling import hash_split

    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    out = hash_split(df, "doc_id")
    counts = {r.split: r.n for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert set(counts) == {"train", "val", "test"}
    # 80/10/10 within binomial noise on 2000 draws
    assert 1480 <= counts["train"] <= 1700
    assert 100 <= counts["val"] <= 300
    assert 100 <= counts["test"] <= 300
    # id-stable: the assignment of ids 0..999 is unchanged when the
    # corpus doubles (eval-set stability across corpus versions)
    small = {r.doc_id: r.split for r in hash_split(
        spark.range(0, 1000).withColumnRenamed("id", "doc_id"), "doc_id").collect()}
    big = {r.doc_id: r.split for r in out.filter(F.col("doc_id") < 1000).collect()}
    assert small == big
    with pytest.raises(ValueError, match="sum to 1"):
        hash_split(df, "doc_id", weights={"a": 0.5, "b": 0.4})


def test_stratified_sample_exact_fraction(spark):
    from workshoop2_etl_spark.operators.sampling import stratified_sample

    df = spark.createDataFrame(
        [(i, "en" if i % 3 else "de") for i in range(300)], "doc_id long, lang string"
    )
    out = stratified_sample(df, ["lang"], fraction=0.1, id_col="doc_id")
    got = out.groupBy("lang").agg(F.count("*").alias("n")).collect()
    import math
    expect = {"en": math.ceil(0.1 * 200), "de": math.ceil(0.1 * 100)}
    assert {r.lang: r.n for r in got} == expect
    # deterministic: same kept set on rerun
    ids1 = sorted(r.doc_id for r in out.collect())
    ids2 = sorted(r.doc_id for r in stratified_sample(
        df, ["lang"], fraction=0.1, id_col="doc_id").collect())
    assert ids1 == ids2
    # salting redraws a different set
    ids3 = sorted(r.doc_id for r in stratified_sample(
        df, ["lang"], fraction=0.1, id_col="doc_id", salt="v2").collect())
    assert ids1 != ids3
    with pytest.raises(ValueError, match="strata_cols"):
        stratified_sample(df, [], fraction=0.1, id_col="doc_id")


def test_token_budget_sample_prefix_semantics(spark):
    from workshoop2_etl_spark.operators.sampling import token_budget_sample

    df = spark.createDataFrame(
        [(i, "en", 10) for i in range(100)], "doc_id long, lang string, w long"
    )
    out = token_budget_sample(df, "doc_id", weight_col="w", budget=250, group_cols=["lang"])
    # exactly 25 rows of weight 10 fit in a 250 budget
    assert out.count() == 25
    # kept set is the hash-order prefix: rerun identical
    assert sorted(r.doc_id for r in out.collect()) == sorted(
        r.doc_id
        for r in token_budget_sample(
            df, "doc_id", weight_col="w", budget=250, group_cols=["lang"]
        ).collect()
    )
    with pytest.raises(ValueError, match="group_cols"):
        token_budget_sample(df, "doc_id", weight_col="w", budget=250)


def test_redact_pii_patterns_and_counts(spark):
    from workshoop2_etl_spark.operators.redaction import redact_pii

    rows = [
        (1, "mail jane.doe+x@corp.example.org or bob@x.io now"),
        (2, "call 555-123-4567 or 800.555.1234 today"),
        (3, "host 192.168.1.254 and 10.0.0.1 up"),
        (4, "clean text with no identifiers at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: r
        for r in redact_pii(df, "text", count_cols=True).collect()
    }
    assert out[1].text == "mail <EMAIL> or <EMAIL> now"
    assert out[1].n_email == 2
    assert out[2].text == "call <PHONE> or <PHONE> today"
    assert out[2].n_phone == 2
    assert out[3].text == "host <IP> and <IP> up"
    assert out[3].n_ipv4 == 2
    assert out[4].text == rows[3][1]
    assert (out[4].n_email, out[4].n_phone, out[4].n_ipv4) == (0, 0, 0)


def test_normalize_text_idempotent(spark):
    from workshoop2_etl_spark.operators.redaction import normalize_text

    rows = [(1, "\t  a\x00b\tc\r\nd   e \x7f ")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    once = normalize_text(df, "text", out_col="n1")
    twice = normalize_text(once, "n1", out_col="n2")
    r = twice.collect()[0]
    assert r.n1 == "ab c d e"
    assert r.n2 == r.n1  # idempotent
    low = normalize_text(df, "text", lowercase=True).collect()[0]
    assert low.text == "ab c d e"


def test_decontaminate_flags_ngram_overlap(spark):
    from workshoop2_etl_spark.operators.decontam import (
        benchmark_shingles,
        decontaminate,
    )

    bench = spark.createDataFrame(
        [(100, "what is the capital of france answer paris")],
        "qid long, text string",
    )
    corpus = spark.createDataFrame(
        [
            # contains the full benchmark 8-gram -> contaminated
            (1, "trivia dump what is the capital of france answer paris end"),
            # partial overlap only (7 of 8 words) -> clean
            (2, "what is the capital of france answer berlin"),
            (3, "entirely unrelated text about spark shuffles and joins"),
            # shorter than the ngram -> clean by definition
            (4, "tiny doc"),
        ],
        "doc_id long, text string",
    )
    flagged = {
        r.doc_id: r.contaminated
        for r in decontaminate(
            corpus, bench, "doc_id", "text", ngram=8, mode="flag"
        ).collect()
    }
    assert flagged == {1: True, 2: False, 3: False, 4: False}
    kept = decontaminate(corpus, bench, "doc_id", "text", ngram=8, mode="filter")
    assert sorted(r.doc_id for r in kept.collect()) == [2, 3, 4]
    # pre-shingled benchmark reuse path
    sh = benchmark_shingles(bench, "text", ngram=8)
    kept2 = decontaminate(corpus, sh, "doc_id", "text", ngram=8, mode="filter")
    assert sorted(r.doc_id for r in kept2.collect()) == [2, 3, 4]
    with pytest.raises(ValueError, match="mode"):
        decontaminate(corpus, bench, "doc_id", "text", mode="nope")


def test_decontaminate_benchmark_broadcasts(spark):
    from workshoop2_etl_spark.operators.decontam import decontaminate

    bench = spark.createDataFrame([(1, "a b c d e f g h i j k l m")], "qid long, text string")
    corpus = spark.createDataFrame([(1, "x y z")], "doc_id long, text string")
    plan = (
        decontaminate(corpus, bench, "doc_id", "text", mode="flag")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_semantic_dedup_drops_near_duplicates(spark):
    import numpy as np

    from workshoop2_etl_spark.operators.similarity import semantic_dedup

    rng = np.random.default_rng(7)
    base_a = rng.standard_normal(16)
    base_b = rng.standard_normal(16)
    rows = []
    # two tight duplicate groups around distant anchors + singletons
    for i, anchor in [(0, base_a), (1, base_a), (2, base_a), (10, base_b), (11, base_b)]:
        v = anchor + rng.standard_normal(16) * 0.01
        rows.append((i, [float(x) for x in v]))
    for i in range(20, 24):  # unrelated singletons
        rows.append((i, [float(x) for x in rng.standard_normal(16)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    kept = semantic_dedup(df, threshold=0.95, n_clusters=3, seed=1)
    kept_ids = sorted(r.vec_id for r in kept.collect())
    # one survivor per duplicate group, all singletons intact
    assert len([i for i in kept_ids if i < 3]) == 1
    assert len([i for i in kept_ids if i in (10, 11)]) == 1
    assert all(i in kept_ids for i in range(20, 24))
    # deterministic across reruns
    kept2 = sorted(
        r.vec_id
        for r in semantic_dedup(df, threshold=0.95, n_clusters=3, seed=1).collect()
    )
    assert kept_ids == kept2
    with pytest.raises(ValueError, match="keep"):
        semantic_dedup(df, keep="nope")


def test_ensure_parallelism_noop_when_wide(spark):
    from workshoop2_etl_spark.sources.readers import ensure_parallelism

    narrow = spark.range(1000).coalesce(1)
    widened = ensure_parallelism(narrow)
    assert widened.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    # already at/above target: the SAME frame comes back, no extra shuffle
    wide = spark.range(1000).repartition(spark.sparkContext.defaultParallelism)
    assert ensure_parallelism(wide) is wide
    assert ensure_parallelism(narrow, min_partitions=1) is narrow


def test_line_dedup_keeps_first_occurrence_corpus_wide(spark):
    from workshoop2_etl_spark.operators.dedup import line_dedup

    df = spark.createDataFrame(
        [
            (1, "copyright acme\nreal content one\n\nreal content two"),
            (2, "copyright acme\nother stuff"),
            (3, "copyright acme"),
        ],
        "doc_id int, text string",
    )
    out = {r["doc_id"]: r for r in line_dedup(df, "doc_id", "text").collect()}
    # doc 1 keeps everything (first occurrence of every line; the
    # blank line is dropped as an empty unit, not deduplicated)
    assert out[1]["text_dedup"] == "copyright acme\nreal content one\nreal content two"
    assert out[1]["n_units"] == 3 and out[1]["n_kept"] == 3
    # doc 2 loses the boilerplate header, keeps its own content
    assert out[2]["text_dedup"] == "other stuff"
    assert out[2]["n_units"] == 2 and out[2]["n_kept"] == 1
    # doc 3 was ONLY boilerplate: survives as a row with empty text
    assert out[3]["text_dedup"] == "" and out[3]["n_kept"] == 0


def test_line_dedup_normalize_matches_key_keeps_verbatim(spark):
    from workshoop2_etl_spark.operators.dedup import line_dedup

    df = spark.createDataFrame(
        [(1, "Header Line"), (2, "  header line  ")],
        "doc_id int, text string",
    )
    out = {r["doc_id"]: r for r in
           line_dedup(df, "doc_id", "text", normalize=True).collect()}
    assert out[1]["text_dedup"] == "Header Line"  # verbatim, not lowercased
    assert out[2]["n_kept"] == 0  # matched via normalized key
    raw = {r["doc_id"]: r for r in line_dedup(df, "doc_id", "text").collect()}
    assert raw[2]["n_kept"] == 1  # without normalize they differ


def test_mixture_sample_quotas_and_determinism(spark):
    from workshoop2_etl_spark.operators.sampling import mixture_sample

    rows = [(i, "web") for i in range(40)] + \
           [(i + 100, "code") for i in range(10)] + \
           [(i + 200, "junk") for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id int, source string")
    out = mixture_sample(
        df, "source", {"web": 0.8, "code": 0.2}, id_col="doc_id"
    )
    by_src = {r[0]: r[1] for r in out.groupBy("source").count().collect()}
    # binding group: code (10/0.2 = 50 total) -> 40 web + 10 code
    assert by_src == {"web": 40, "code": 10}
    # unnamed groups are dropped
    assert out.filter("source = 'junk'").count() == 0
    # id-stable: same kept set on a different partitioning
    a = {r[0] for r in out.select("doc_id").collect()}
    b = {
        r[0]
        for r in mixture_sample(
            df.repartition(7), "source", {"web": 0.8, "code": 0.2},
            id_col="doc_id",
        ).select("doc_id").collect()
    }
    assert a == b


def test_mixture_sample_explicit_total_and_validation(spark):
    import pytest

    from workshoop2_etl_spark.operators.sampling import mixture_sample

    df = spark.createDataFrame(
        [(i, "a") for i in range(10)] + [(i + 50, "b") for i in range(10)],
        "doc_id int, source string",
    )
    out = mixture_sample(
        df, "source", {"a": 0.5, "b": 0.5}, id_col="doc_id", total=8
    )
    by = {r[0]: r[1] for r in out.groupBy("source").count().collect()}
    assert by == {"a": 4, "b": 4}
    with pytest.raises(ValueError, match="weights"):
        mixture_sample(df, "source", {}, id_col="doc_id")
    with pytest.raises(ValueError, match="positive"):
        mixture_sample(df, "source", {"a": -1.0}, id_col="doc_id")


def test_compression_ratio_orders_text_regimes(spark):
    from workshoop2_etl_spark.operators.textstats import compression_ratio

    import random

    rng = random.Random(7)
    noise = "".join(rng.choice("abcdefghijklmnopqrstuvwxyz ") for _ in range(2000))
    rows = [
        (1, "spam " * 400),        # highly repetitive
        (2, noise),                # near-random
        (3, None),                 # null-safe
        (4, ""),                   # empty
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in compression_ratio(df, "text").collect()}
    assert got[1]["ratio"] < 0.05            # template text collapses
    assert got[2]["ratio"] > 0.5             # noise barely compresses
    assert got[1]["ratio"] < got[2]["ratio"]
    assert got[3]["raw_bytes"] == 0 and got[4]["raw_bytes"] == 0
    # deterministic across runs
    again = {r["doc_id"]: r["ratio"] for r in compression_ratio(df, "text").collect()}
    assert all(abs(again[k] - got[k]["ratio"]) < 1e-12 for k in again)


def test_char_entropy_regimes(spark):
    from workshoop2_etl_spark.operators.textstats import char_entropy

    rows = [(1, "aaaaaaaa"), (2, "abababab"), (3, "abcdefgh")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["entropy_bits"] for r in char_entropy(df, "text").collect()}
    assert got[1] == 0.0          # single symbol
    assert abs(got[2] - 1.0) < 1e-9   # two symbols, uniform
    assert abs(got[3] - 3.0) < 1e-9   # eight symbols, uniform


def test_corpus_diff_all_statuses(spark):
    from workshoop2_etl_spark.operators.dedup import corpus_diff

    old = spark.createDataFrame(
        [(1, "same"), (2, "will change"), (3, "will vanish"), (4, None)],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(1, "same"), (2, "changed!"), (5, "brand new"), (4, None)],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["status"] for r in corpus_diff(old, new).collect()}
    assert got == {
        1: "unchanged", 2: "changed", 3: "removed", 5: "added",
        4: "unchanged",  # NULL content on both sides hashes equal
    }


def test_with_load_metrics_zero_extra_pass(spark):
    from pyspark.sql import functions as SF

    from workshoop2_etl_spark.operators.quality import with_load_metrics

    df = spark.createDataFrame(
        [(1, 5.0), (2, None), (3, 7.0)], "id long, v double"
    )
    observed, obs = with_load_metrics(
        df,
        {
            "n_rows": SF.count(SF.lit(1)),
            "n_null_v": SF.sum(SF.col("v").isNull().cast("long")),
            "sum_v": SF.sum("v"),
        },
    )
    got = observed.collect()  # ONE job materializes rows AND metrics
    assert len(got) == 3
    m = obs.get
    assert m["n_rows"] == 3 and m["n_null_v"] == 1 and m["sum_v"] == 12.0

    import pytest as _pytest

    with _pytest.raises(ValueError, match="metrics"):
        with_load_metrics(df, {})


# ---------------------------------------------------------------------------
# Exact-substring dedup (duplicate_spans / remove_duplicate_spans)
# ---------------------------------------------------------------------------

def _span_docs(spark):
    # A 60-char boilerplate licence block shared by docs 1..3, planted
    # at offsets ≡ 0 (mod 5) — strided windows are phase-sensitive
    # (see the duplicate_spans docstring), so aligned copies are the
    # case the operator detects. Doc 4 is clean. window=20/stride=5
    # tiles the block so every occurrence after the first is covered.
    boiler = "this content is licensed under creative commons attribution."
    assert len(boiler) == 60
    pre1 = "alpha beta gamma odd"           # 20 chars → phase 0
    pre2 = "totally different opening words towards "  # 40 chars → phase 0
    assert len(pre1) % 5 == 0 and len(pre2) % 5 == 0
    return spark.createDataFrame(
        [
            (1, pre1 + boiler + " unique tail one here."),
            (2, pre2 + boiler),
            (3, boiler + " and a fresh ending follows the shared block."),
            (4, "no shared passages in this document at all, honest text."),
        ],
        "doc_id long, text string",
    )


def test_duplicate_spans_planted_boilerplate(spark):
    from workshoop2_etl_spark.operators.dedup import duplicate_spans

    docs = _span_docs(spark)
    spans = {
        r.doc_id: (r.span_start, r.span_end)
        for r in duplicate_spans(
            docs, "doc_id", "text", window=20, stride=5
        ).collect()
    }
    # Doc 1 holds the global first occurrence — no spans there; docs
    # 2 and 3 each get exactly one merged span covering their copy of
    # the block (window tiling can overhang by < stride+window chars).
    assert 1 not in spans and 4 not in spans
    assert set(spans) == {2, 3}
    for doc_id, (start, end) in spans.items():
        text = {r.doc_id: r.text for r in docs.collect()}[doc_id]
        block_at = text.index("this content is licensed")
        assert start <= block_at + 5  # span reaches the block's head
        assert end >= block_at + 55  # ...and nearly its tail
        assert end - start <= 60 + 25  # bounded overhang


def test_remove_duplicate_spans_reassembles_in_order(spark):
    from workshoop2_etl_spark.operators.dedup import (
        duplicate_spans,
        remove_duplicate_spans,
    )

    docs = _span_docs(spark)
    spans = duplicate_spans(docs, "doc_id", "text", window=20, stride=5)
    out = {
        r.doc_id: r.cleaned_text
        for r in remove_duplicate_spans(
            docs, spans, "doc_id", "text"
        ).collect()
    }
    orig = {r.doc_id: r.text for r in docs.collect()}
    # First occurrence and the clean doc are untouched.
    assert out[1] == orig[1]
    assert out[4] == orig[4]
    # Cut docs: equal to original with the span sliced out — segments
    # stay in original order, prefix and suffix survive.
    for r in spans.collect():
        t = orig[r.doc_id]
        assert out[r.doc_id] == t[: r.span_start] + t[r.span_end :]
    assert out[2].startswith("totally different opening words")
    assert "creative commons" not in out[2]
    assert out[3].endswith("follows the shared block.")


# ---------------------------------------------------------------------------
# LM perplexity (stupid backoff) + CCNet buckets
# ---------------------------------------------------------------------------

def test_lm_perplexity_backoff_branches(spark):
    """Seen-bigram, unigram-backoff, and OOV branches each score as
    the closed-form stupid-backoff formula says."""
    import math

    from workshoop2_etl_spark.operators.textstats import lm_perplexity

    docs = spark.createDataFrame(
        [
            # Training doc: "a b a b" → U: a=2,b=2 (N=4); B: ab=2, ba=1.
            (0, "a b a b"),
            # Scored: "a b" → seen bigram: ln(2/2) = 0.
            (1, "a b"),
            # Scored: "b b" → unseen bigram, b known: ln(0.4*2/4).
            (3, "b b"),
            # Scored: "a z" → z OOV: ln(0.4/4).
            (5, "a z"),
            # One token → no bigrams → NULL xent.
            (7, "a"),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r.xent
        for r in lm_perplexity(
            docs, "doc_id", "text", train_pred=(F.col("doc_id") % 2 == 0)
        ).collect()
    }
    assert out[1] == pytest.approx(0.0)
    assert out[3] == pytest.approx(-math.log(0.4 * 2 / 4))
    assert out[5] == pytest.approx(-math.log(0.4 / 4))
    assert out[7] is None
    # The training doc scores itself: bigrams ab,ba,ab →
    # ln(2/2), ln(1/2), ln(2/2) → xent = ln(2)/3.
    assert out[0] == pytest.approx(math.log(2) / 3)


def test_perplexity_buckets_tertiles_and_short(spark):
    from workshoop2_etl_spark.operators.textstats import perplexity_buckets

    scored = spark.createDataFrame(
        [(i, float(i)) for i in range(1, 10)] + [(99, None)],
        "doc_id long, xent double",
    )
    out = {r.doc_id: r.bucket for r in perplexity_buckets(scored).collect()}
    # percentile([1..9], 1/3) = 3.667, 2/3 → 6.333
    assert [out[i] for i in range(1, 10)] == (
        ["head"] * 3 + ["middle"] * 3 + ["tail"] * 3
    )
    assert out[99] == "short"


def test_hard_negatives_excludes_same_label_and_self(spark):
    from workshoop2_etl_spark.operators.similarity import hard_negatives

    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0], "a"),
            (1, [0.99, 0.1], "a"),   # nearest overall — same label, excluded
            (2, [0.95, 0.3], "b"),   # nearest different-label
            (3, [0.0, 1.0], "b"),
            (4, [0.5, 0.5], None),   # NULL label: differs from 'a'
        ],
        "vec_id long, embedding array<double>, label string",
    )
    anchors = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding", "label"
    )
    rows = sorted(
        hard_negatives(emb, anchors, k=3).collect(), key=lambda r: r.rank
    )
    ids = [r.vec_id for r in rows]
    assert 1 not in ids and 0 not in ids  # same-label + self excluded
    assert ids[0] == 2                    # hard negative ranks first
    assert 4 in ids                       # NULL label counts as different


# ---------------------------------------------------------------------------
# Winnowing fingerprints (alignment-robust near-dup candidates)
# ---------------------------------------------------------------------------

def test_winnow_candidates_alignment_robust(spark):
    """The guarantee strided windows lack: a shared passage is found
    at ANY offset phase (docs 1/2/3 plant the same 40-char block at
    offsets 7, 13, 0 — no two congruent mod anything)."""
    from workshoop2_etl_spark.operators.dedup import winnow_candidates

    shared = "the licensed boilerplate block goes here"
    assert len(shared) == 40
    docs = spark.createDataFrame(
        [
            (1, "x" * 7 + shared + "small tail"),
            (2, "y" * 13 + shared),
            (3, shared + " completely fresh ending text"),
            (4, "nothing shared with the others at all in this document"),
        ],
        "doc_id long, text string",
    )
    pairs = {
        (r.id_a, r.id_b)
        for r in winnow_candidates(
            docs, "doc_id", "text", k=8, w=4, min_shared=2
        ).collect()
    }
    assert {(1, 2), (1, 3), (2, 3)} <= pairs
    assert not any(4 in p for p in pairs)


def test_winnow_fingerprints_density_and_short_docs(spark):
    from workshoop2_etl_spark.operators.dedup import winnow_fingerprints

    docs = spark.createDataFrame(
        [
            (1, "abcdefghijklmnopqrstuvwxyz0123456789"),  # 36 chars
            (2, "abcdefg"),   # 7 chars < k → no fingerprints
            (3, "abcdefghi"), # 9 chars → 2 grams < w → exactly one
        ],
        "doc_id long, text string",
    )
    fp = winnow_fingerprints(docs, "doc_id", "text", k=8, w=4)
    by_doc = {}
    for r in fp.collect():
        by_doc.setdefault(r.doc_id, []).append((r.off, r.gram_hash))
    assert 2 not in by_doc
    assert len(by_doc[3]) == 1
    # ~2n/(w+1) density: 29 grams, w=4 → expect ≥ 26/ (4+1) ≈ 5..15
    n1 = len(by_doc[1])
    assert 5 <= n1 <= 15
    # offsets are valid gram starts and hashes are 32-hex
    for off, gh in by_doc[1]:
        assert 0 <= off <= 36 - 8
        assert len(gh) == 32 and int(gh, 16) >= 0


def test_winnow_stop_gram_guard(spark):
    """A gram shared by more docs than max_postings is dropped before
    the pair join (the quadratic guard)."""
    from workshoop2_etl_spark.operators.dedup import winnow_candidates

    block = "boilerplate block everywhere"
    docs = spark.createDataFrame(
        [(i, f"doc {i} prefix " + block) for i in range(6)],
        "doc_id long, text string",
    )
    open_pairs = winnow_candidates(
        docs, "doc_id", "text", k=8, w=4, min_shared=1, max_postings=50
    ).count()
    guarded = winnow_candidates(
        docs, "doc_id", "text", k=8, w=4, min_shared=1, max_postings=2
    ).count()
    assert open_pairs > 0
    assert guarded < open_pairs


# ---------------------------------------------------------------------------
# k-means data map + cluster-balanced sampling
# ---------------------------------------------------------------------------

def _two_cluster_vecs(spark):
    import random

    random.seed(11)
    rows = []
    for i in range(40):
        base = [5.0, 0.0, 0.0, 0.0] if i % 2 == 0 else [0.0, 0.0, 5.0, 0.0]
        rows.append((i, [v + random.uniform(-0.2, 0.2) for v in base]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_cluster_profile_planted_clusters(spark):
    from workshoop2_etl_spark.operators.similarity import (
        cluster_profile,
        ivf_build,
    )

    vecs = _two_cluster_vecs(spark)
    cents = ivf_build(vecs, n_clusters=2, seed=1)
    prof = cluster_profile(vecs, cents).collect()
    assert len(prof) == 2
    assert sorted(r.n_members for r in prof) == [20, 20]
    for r in prof:
        assert r.mean_sim > 0.99          # tight planted clusters
        assert r.min_sim <= r.mean_sim
        # exemplar belongs to its own cluster's parity class
        members = set(range(0, 40, 2)) if r.exemplar_id % 2 == 0 else set(
            range(1, 40, 2)
        )
        assert r.exemplar_id in members


def test_cluster_balanced_sample_cap_determinism_salt(spark):
    from workshoop2_etl_spark.operators.similarity import (
        cluster_balanced_sample,
        ivf_build,
    )

    vecs = _two_cluster_vecs(spark)
    cents = ivf_build(vecs, n_clusters=2, seed=1)
    s1 = cluster_balanced_sample(vecs, cents, per_cluster=3)
    s2 = cluster_balanced_sample(vecs, cents, per_cluster=3)
    ids1 = sorted(r.vec_id for r in s1.collect())
    assert ids1 == sorted(r.vec_id for r in s2.collect())  # deterministic
    from collections import Counter

    per = Counter(r.cluster for r in s1.collect())
    assert set(per.values()) == {3}  # exactly 3 per cluster
    s3 = cluster_balanced_sample(vecs, cents, per_cluster=3, salt="v2")
    assert sorted(r.vec_id for r in s3.collect()) != ids1  # salt redraws
    with pytest.raises(ValueError):
        cluster_balanced_sample(vecs, cents, per_cluster=0)


def test_mmr_matches_python_greedy(spark):
    """MMR vs an independent pure-Python greedy over random shortlists."""
    import math
    import random

    from workshoop2_etl_spark.operators.similarity import mmr_rerank

    rng = random.Random(11)
    rows = []
    for q in range(3):
        for i in range(12):
            rows.append(
                (
                    q,
                    100 * q + i,
                    [rng.uniform(-1, 1) for _ in range(8)],
                    round(rng.uniform(0, 1), 6),
                )
            )
    df = spark.createDataFrame(
        rows, "query_id long, vec_id long, embedding array<double>, sim double"
    )
    lam, k = 0.6, 5
    got = {
        (r.query_id, r["rank"]): (r.vec_id, r.mmr_score)
        for r in mmr_rerank(df, k=k, lam=lam).collect()
    }

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na, nb = math.sqrt(sum(x * x for x in a)), math.sqrt(sum(x * x for x in b))
        return d / (na * nb) if na and nb else 0.0

    for q in range(3):
        cand = [(v, e, s) for (qq, v, e, s) in rows if qq == q]
        cand.sort(key=lambda t: (-t[2], t[0]))
        chosen = []
        for rank in range(1, k + 1):
            best = None
            for v, e, s in cand:
                if any(v == cv for cv, _, _ in chosen):
                    continue
                red = max((cos(e, ce) for _, ce, _ in chosen), default=None)
                marg = lam * s if red is None else lam * s - (1 - lam) * red
                if best is None or marg > best[3] + 1e-12 or (
                    abs(marg - best[3]) <= 1e-12 and v < best[0]
                ):
                    best = (v, e, s, marg)
            chosen.append((best[0], best[1], best[3]))
            gv, gs = got[(q, rank)]
            assert gv == best[0], (q, rank)
            assert gs == pytest.approx(best[3], abs=1e-9)


def test_mmr_prefers_diverse_over_redundant(spark):
    """Planted geometry: two near-identical high-relevance vectors and
    one orthogonal medium one — MMR must pick the orthogonal vector
    second, while plain relevance ranking would not."""
    from workshoop2_etl_spark.operators.similarity import mmr_rerank

    rows = [
        (0, 1, [1.0, 0.0], 0.99),
        (0, 2, [0.999, 0.01], 0.98),  # redundant twin of #1
        (0, 3, [0.0, 1.0], 0.60),  # diverse
    ]
    df = spark.createDataFrame(
        rows, "query_id long, vec_id long, embedding array<double>, sim double"
    )
    out = [
        r.vec_id
        for r in mmr_rerank(df, k=3, lam=0.5)
        .orderBy("rank")
        .collect()
    ]
    assert out == [1, 3, 2]
    with pytest.raises(ValueError):
        mmr_rerank(df, k=3, lam=1.5)


def test_rrf_fuse_fusion_math_and_membership(spark):
    """Doc in both lists outranks better-single-list docs per RRF; the
    per-list rank columns surface membership; empty input raises."""
    from workshoop2_etl_spark.operators.similarity import rrf_fuse

    lex = spark.createDataFrame(
        [(10, 1), (11, 2), (12, 3)], "doc_id long, rank long"
    )
    dense = spark.createDataFrame(
        [(12, 1), (13, 2)], "doc_id long, rank long"
    )
    out = {
        r.doc_id: r
        for r in rrf_fuse(
            {"lexical": lex, "dense": dense}, id_col="doc_id"
        ).collect()
    }
    # doc 12: 1/63 + 1/61 beats doc 10's 1/61 alone
    assert out[12].rrf == pytest.approx(
        round(1 / 63 + 1 / 61, 6)
    )
    assert out[12].lexical_rank == 3 and out[12].dense_rank == 1
    assert out[10].dense_rank is None
    top = sorted(out.values(), key=lambda r: (-r.rrf, r.doc_id))
    assert top[0].doc_id == 12
    with pytest.raises(ValueError):
        rrf_fuse({}, id_col="doc_id")


def test_phrase_search_overlaps_and_order(spark):
    from workshoop2_etl_spark.operators.textstats import phrase_search

    df = spark.createDataFrame(
        [
            (1, "a b a b a"),      # "a b a" overlapping anchors at 0 and 2
            (2, "b a a b"),        # no "a b a"
            (3, "a  b a"),         # multi-space split still one match
            (4, "x y z"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.n_occurrences for r in phrase_search(
        df, "doc_id", "text", ["a", "b", "a"]
    ).collect()}
    assert out == {1: 2, 3: 1}
    single = {r.doc_id: r.n_occurrences for r in phrase_search(
        df, "doc_id", "text", ["b"]
    ).collect()}
    assert single == {1: 2, 2: 2, 3: 1}
    import pytest as _pytest

    with _pytest.raises(ValueError):
        phrase_search(df, "doc_id", "text", [])


def test_ctfidf_planted_clusters(spark):
    """Two clusters with distinct vocabularies: each cluster's top
    terms are its own distinctive words, never the shared filler."""
    import math

    from workshoop2_etl_spark.operators.textstats import ctfidf_topic_terms

    rows = [
        (0, "alpha beta common common"),
        (0, "alpha beta common"),
        (1, "gamma delta common common"),
        (1, "gamma delta common"),
    ]
    df = spark.createDataFrame(rows, "cluster int, text string")
    out = ctfidf_topic_terms(df, "cluster", "text", k=2)
    top = {
        c: [r.term for r in sorted(g, key=lambda r: r.rk)]
        for c, g in __import__("itertools").groupby(
            sorted(out.collect(), key=lambda r: (r.cluster, r.rk)),
            key=lambda r: r.cluster,
        )
    }
    assert set(top[0]) == {"alpha", "beta"}
    assert set(top[1]) == {"gamma", "delta"}
    # hand-check one weight: tf(alpha,0)=2, f(alpha)=2, A=7 (14 toks/2)
    w = {(r.cluster, r.term): r.weight for r in out.collect()}
    assert w[(0, "alpha")] == pytest.approx(
        round(2 * math.log(1.0 + 7.0 / 2.0), 6)
    )


def test_random_projection_jl_distortion_and_determinism(spark):
    import itertools
    import math

    import numpy as np

    from workshoop2_etl_spark.operators.similarity import random_projection

    rng = np.random.default_rng(9)
    vecs = [(i, list(map(float, rng.standard_normal(64)))) for i in range(40)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    out = {
        r.vec_id: np.array(r.rp)
        for r in random_projection(
            df, dim=64, out_dim=24, seed=7
        ).collect()
    }
    orig = {i: np.array(v) for i, v in vecs}
    ratios = []
    for a, b in itertools.combinations(range(40), 2):
        d0 = np.linalg.norm(orig[a] - orig[b])
        d1 = np.linalg.norm(out[a] - out[b])
        ratios.append(d1 / d0)
    # JL at out_dim=24: distortion concentrated near 1 — generous caps
    assert 0.4 < min(ratios) and max(ratios) < 1.8
    assert abs(sum(ratios) / len(ratios) - 1.0) < 0.15
    # determinism: same seed → identical doubles
    again = {
        r.vec_id: np.array(r.rp)
        for r in random_projection(df, dim=64, out_dim=24, seed=7).collect()
    }
    assert all(np.array_equal(out[i], again[i]) for i in range(40))
    import pytest as _pytest

    with _pytest.raises(ValueError):
        random_projection(df, dim=64, out_dim=0)


def test_allpairs_jaccard_exact_at_boundary(spark):
    from workshoop2_etl_spark.operators.dedup import allpairs_jaccard

    docs = spark.createDataFrame(
        [(1, "p q r s"), (2, "p q r t u"), (3, "a b c d")],
        ["id", "text"],
    )
    got = {
        (r.id_a, r.id_b): (r.n_inter, r.n_union)
        for r in allpairs_jaccard(docs, "id", "text", tau=0.6).collect()
    }
    # {p q r s} vs {p q r t u}: ∩=3, ∪=6 → 0.5 < 0.6 → absent
    assert got == {}
    got = {
        (r.id_a, r.id_b): (r.n_inter, r.n_union)
        for r in allpairs_jaccard(docs, "id", "text", tau=0.5).collect()
    }
    # exactly at the τ=0.5 boundary → INCLUDED (inclusive threshold)
    assert got == {(1, 2): (3, 6)}


def test_allpairs_jaccard_tau_boundary_integer_product(spark):
    from workshoop2_etl_spark.operators.dedup import allpairs_jaccard

    # τ·n an exact integer (0.2·5=1): float ceil overshoot would
    # shorten prefixes and silently drop this minimal-overlap pair
    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a v w x y")], ["id", "text"]
    )
    pairs = allpairs_jaccard(docs, "id", "text", tau=0.2).collect()
    assert len(pairs) == 0  # J = 1/9 < 0.2 — but candidates existed
    docs2 = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c w x")], ["id", "text"]
    )
    got = allpairs_jaccard(docs2, "id", "text", tau=0.42).collect()
    # J = 3/7 ≈ 0.4286 ≥ 0.42 → must be found
    assert len(got) == 1 and got[0]["n_inter"] == 3


def test_allpairs_jaccard_guards(spark):
    import pytest as _pt

    from workshoop2_etl_spark.operators.dedup import allpairs_jaccard

    docs = spark.createDataFrame([(1, "a b")], ["id", "text"])
    with _pt.raises(ValueError):
        allpairs_jaccard(docs, "id", "text", tau=0.0)
    # identical docs share a hot token; bucket cap drops the bucket
    hot = spark.createDataFrame(
        [(i, "common x%d" % i) for i in range(10)], ["id", "text"]
    )
    open_pairs = allpairs_jaccard(hot, "id", "text", tau=0.4).count()
    capped = allpairs_jaccard(
        hot, "id", "text", tau=0.4, max_bucket_size=2
    ).count()
    assert capped <= open_pairs


def test_unicode_normalize_forms(spark):
    """NFC via the Arrow row kernel: composes decomposed sequences,
    leaves compatibility forms (ligatures, full-width) alone, passes
    NULLs through and keeps the other columns in place."""
    from workshoop2_etl_spark.operators.textstats import nfc_normalize

    rows = [
        (0, "caf" + "e\u0301", 10),  # decomposed acute
        (1, "\ufb01le", 11),  # fi ligature (NFC keeps it)
        (2, "\uff21BC", 12),  # full-width A (NFC keeps it)
        (3, None, 13),
    ]
    df = spark.createDataFrame(rows, "i long, t string, n long")
    out = nfc_normalize(df, "t")
    assert out.columns == ["i", "t", "n"]
    nfc = {r["i"]: (r["t"], r["n"]) for r in out.collect()}
    assert nfc[0] == ("caf\u00e9", 10)
    assert nfc[1] == ("\ufb01le", 11)
    assert nfc[2] == ("\uff21BC", 12)
    assert nfc[3] == (None, 13)


def test_script_profile_counts_and_tiebreak(spark):
    """Script histograms count the right blocks; dominant breaks
    ties by SCRIPT_RANGES priority (empty text -> latin)."""
    from workshoop2_etl_spark.operators.textstats import script_profile

    df = spark.createDataFrame(
        [
            (1, "abc привет"),   # 3 latin vs 6 cyrillic
            (2, "ab пр"),        # 2 vs 2 tie -> latin by priority
            (3, ""),             # all zero -> latin
            (4, "你好世界 ok"),   # 4 cjk vs 2 latin
            (5, None),           # null-safe
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in script_profile(df, "text").collect()}
    assert out[1]["n_latin"] == 3 and out[1]["n_cyrillic"] == 6
    assert out[1]["dominant_script"] == "cyrillic"
    assert out[2]["dominant_script"] == "latin"
    assert out[3]["dominant_script"] == "latin"
    assert out[4]["n_cjk"] == 4 and out[4]["dominant_script"] == "cjk"
    assert out[5]["n_latin"] == 0 and out[5]["dominant_script"] == "latin"
    # reserved output names collide -> raise, never duplicate columns
    import pytest as _pytest

    clash = df.withColumn("n_latin", df.doc_id)
    with _pytest.raises(ValueError, match="n_latin"):
        script_profile(clash, "text")


def test_chunk_documents_stride_overlap(spark):
    """stride < max_tokens gives overlapping windows: adjacent
    chunks share max_tokens - stride tokens; default stride keeps
    the old non-overlapping behavior; stride must be >= 1."""
    import pytest

    from workshoop2_etl_spark.operators.chunking import chunk_documents

    text = " ".join(f"t{i}" for i in range(10))
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    out = {
        r["chunk_no"]: r
        for r in chunk_documents(
            df, "doc_id", "text", max_tokens=4, stride=2
        ).collect()
    }
    assert out[0]["chunk_text"] == "t0 t1 t2 t3"
    assert out[1]["chunk_text"] == "t2 t3 t4 t5"  # 2-token overlap
    assert out[4]["chunk_text"] == "t8 t9" and out[4]["n_tokens"] == 2
    assert len(out) == 5  # starts 0,2,4,6,8
    plain = chunk_documents(df, "doc_id", "text", max_tokens=4).collect()
    assert [r["chunk_text"] for r in sorted(plain, key=lambda r: r["chunk_no"])] == [
        "t0 t1 t2 t3", "t4 t5 t6 t7", "t8 t9",
    ]
    with pytest.raises(ValueError):
        chunk_documents(df, "doc_id", "text", max_tokens=4, stride=0)
    # stride > max_tokens would leave tokens covered by NO window —
    # an explicit contract violation, not a silent gap (ADVICE r11)
    with pytest.raises(ValueError, match="skip"):
        chunk_documents(df, "doc_id", "text", max_tokens=4, stride=6)


def test_split_sentences_rules(spark):
    """Terminator+whitespace splits; trailing terminator without
    whitespace does not; empty/None texts yield no rows; sentences
    are trimmed."""
    from workshoop2_etl_spark.operators.textstats import split_sentences

    df = spark.createDataFrame(
        [
            (1, "One. Two!  Three? Dr.Smith stays."),
            (2, ""),
            (3, None),
            (4, "No terminator here"),
        ],
        "doc_id long, text string",
    )
    rows = split_sentences(df, "text").collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r["sentence"])
    assert by_doc[1] == ["One.", "Two!", "Three?", "Dr.Smith stays."]
    assert 2 not in by_doc and 3 not in by_doc
    assert by_doc[4] == ["No terminator here"]


def test_nfc_normalize(spark):
    """X239: composition-form variants normalize to one canonical
    string (in place and via out_col), NULLs survive, and a text
    already in NFC is untouched."""
    decomposed = "cafe\u0301 A\u030a"  # e+combining, A+ring
    composed = "caf\u00e9 \u00c5"
    df = spark.createDataFrame(
        [(1, decomposed), (2, composed), (3, "plain"), (4, None)],
        "id long, text string",
    )
    from workshoop2_etl_spark.operators.textstats import nfc_normalize

    rows = {r["id"]: r["text"] for r in nfc_normalize(df).collect()}
    assert rows[1] == rows[2] == composed
    assert rows[3] == "plain" and rows[4] is None
    out = {
        r["id"]: (r["text"], r["norm"])
        for r in nfc_normalize(df, out_col="norm").collect()
    }
    assert out[1] == (decomposed, composed)  # original kept alongside
