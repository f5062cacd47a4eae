"""Text analysis for training-data pipelines over a documents table.

- :func:`token_stats` — whitespace + BPE-ish regex token counts;
- :func:`word_frequencies` — corpus term frequencies (the classic
  word-count, one explode + one hash aggregate);
- :func:`language_id` — n-gram/stopword-hit heuristic language
  classifier (deterministic, SQL-expressible for oracle parity);
- :func:`quality_score` — length/punctuation/stopword-ratio quality
  heuristics in one projection;
- :func:`fingerprint` — bottom-k document fingerprint over hashed
  character shingles (a MinHash-style sketch usable for containment
  and near-dup grouping);
- :func:`nfc_normalize` — Unicode NFC canonical composition (the
  normalize-before-hashing step every dedup pipeline needs; a per-row
  Python hop on the Arrow row shell, since Spark has no built-in
  normalizer).

All pure column expressions (one narrow projection per operator, no
shuffle except the word-count aggregate) — at 100 TB these run at
scan speed inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from workshoop2_etl_spark.operators.analytics import top_k_per_group
from workshoop2_etl_spark.operators.dedup import tokens_expr
from workshoop2_etl_spark.operators.rows import map_rows

#: BPE-ish tokenization: letter runs | single digits | single
#: non-alnum marks — a crude approximation of byte-pair pretoken
#: splitting (GPT-2-style splits digits and punctuation apart).
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"

#: Tiny per-language stopword inventories for the heuristic
#: classifier. Word-boundary regexes; extend per deployment.
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "it"],
    "es": ["el", "la", "de", "que", "y", "los", "las", "una"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit"],
    "fr": ["le", "la", "les", "des", "est", "une", "dans", "pour"],
}


def nfc_normalize(
    df: DataFrame, text_col: str = "text", *, out_col: str | None = None
) -> DataFrame:
    """Unicode NFC normalization (round 14) — the canonical first
    step of a dedup/quality pipeline: visually identical strings in
    different composition forms ("é" composed vs "e"+U+0301
    decomposed) hash apart and silently survive exact dedup,
    fingerprinting, and token statistics unless the corpus is
    normalized first.

    Spark has no built-in Unicode normalizer, so this is the rare
    in-policy Python hop: stdlib ``unicodedata.normalize('NFC')`` per
    value on the Arrow row shell (:func:`operators.rows.map_rows`), so
    every other column passes through as Arrow, untouched.
    ``text_col`` is replaced in place (column order kept) unless
    ``out_col`` names a new column. DuckDB's ``nfc_normalize`` is the
    oracle twin — both sides implement the same published Unicode
    canonical composition (UAX #15), which the planted-fixture entries
    pin cross-engine."""
    import unicodedata

    def norm(t):
        return (None if t is None else unicodedata.normalize("NFC", t),)

    target = out_col or text_col
    keep = [c for c in df.columns if c != target]
    out = map_rows(
        df, [text_col], norm, [T.StructField(target, T.StringType())],
        keep=keep,
    )
    return out.select(*df.columns) if target == text_col else out


def whitespace_token_count(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.filter(F.split(c, r"\s+"), lambda t: t != ""))


def bpe_ish_token_count(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(c, F.lit(BPE_ISH_PATTERN), F.lit(0)))


def token_stats(
    df: DataFrame, text_col: str, *, id_cols: list[str] | None = None
) -> DataFrame:
    """Per-document token statistics: char count, whitespace tokens,
    BPE-ish tokens, distinct whitespace tokens."""
    toks = tokens_expr(text_col)
    keep = id_cols if id_cols is not None else [c for c in df.columns if c != text_col]
    return df.select(
        *keep,
        F.length(text_col).alias("n_chars_actual"),
        whitespace_token_count(text_col).alias("n_tokens_ws"),
        bpe_ish_token_count(text_col).alias("n_tokens_bpe"),
        F.size(F.array_distinct(toks)).alias("n_tokens_distinct"),
    )


def word_frequencies(
    df: DataFrame, text_col: str, *, min_count: int = 1
) -> DataFrame:
    """Corpus term frequencies: lower-cased whitespace tokens →
    (token, n), most frequent first (token asc on ties — total
    order). The shuffle carries (token, partial-count) pairs thanks
    to map-side partial aggregation."""
    toks = tokens_expr(text_col)
    return (
        df.select(F.explode(toks).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= min_count)
        .orderBy(F.desc("n"), F.asc("token"))
    )


def _stopword_hits(text: Column, words: list[str]) -> Column:
    pattern = r"\b(" + "|".join(words) + r")\b"
    return F.size(F.regexp_extract_all(F.lower(text), F.lit(pattern), F.lit(0)))


def language_id(
    df: DataFrame,
    text_col: str,
    *,
    out_col: str = "lang_pred",
    keep_scores: bool = False,
) -> DataFrame:
    """Heuristic language ID by stopword-hit counting.

    Each language in :data:`LANG_STOPWORDS` gets a hit count; the
    prediction is the highest-count language with deterministic
    priority-order tie-break (dict order), or ``'und'`` when no
    stopword matched. Exactly replicable in ANSI SQL (chained CASE
    over the same counts) for the oracle.
    """
    text = F.col(text_col)
    langs = list(LANG_STOPWORDS)
    scores = {lg: _stopword_hits(text, LANG_STOPWORDS[lg]) for lg in langs}
    out = df
    for lg in langs:
        out = out.withColumn(f"__s_{lg}", scores[lg])
    pred = F.lit("und")
    # Build CASE from last priority to first: earlier langs win ties.
    for lg in reversed(langs):
        cond = (F.col(f"__s_{lg}") > 0)
        for other in langs:
            if langs.index(other) < langs.index(lg):
                cond = cond & (F.col(f"__s_{lg}") > F.col(f"__s_{other}"))
            elif langs.index(other) > langs.index(lg):
                cond = cond & (F.col(f"__s_{lg}") >= F.col(f"__s_{other}"))
        pred = F.when(cond, F.lit(lg)).otherwise(pred)
    out = out.withColumn(out_col, pred)
    if keep_scores:
        return out.withColumnsRenamed({f"__s_{lg}": f"score_{lg}" for lg in langs})
    return out.drop(*[f"__s_{lg}" for lg in langs])


def quality_score(
    df: DataFrame, text_col: str, *, out_col: str = "quality"
) -> DataFrame:
    """Document quality heuristics, one projection:

    - ``n_tokens`` — whitespace token count;
    - ``mean_token_len`` — characters per token;
    - ``punct_ratio`` — non-alnum-non-space chars / chars;
    - ``stopword_ratio`` — English stopword hits / tokens;
    - ``quality`` — [0,1] composite: length in a sane band, low
      punctuation noise, natural-language stopword density.

    The composite mirrors the C4/Gopher-style rule-of-thumb filters
    (length bounds, symbol ratio, stopword presence) in a single
    codegen'd expression.
    """
    text = F.col(text_col)
    n_chars = F.length(text)
    n_tokens = whitespace_token_count(text)
    punct = F.length(F.regexp_replace(text, r"[A-Za-z0-9\s]", ""))
    stop_hits = _stopword_hits(text, LANG_STOPWORDS["en"])
    mean_tok = F.when(n_tokens > 0, n_chars / n_tokens).otherwise(F.lit(0.0))
    punct_ratio = F.when(n_chars > 0, punct / n_chars).otherwise(F.lit(0.0))
    stop_ratio = F.when(n_tokens > 0, stop_hits / n_tokens).otherwise(F.lit(0.0))
    length_ok = (n_tokens >= 10) & (n_tokens <= 100000)
    tok_len_ok = (mean_tok >= 2.0) & (mean_tok <= 12.0)
    score = (
        length_ok.cast("double") * 0.4
        + tok_len_ok.cast("double") * 0.2
        + (punct_ratio <= 0.2).cast("double") * 0.2
        + F.least(stop_ratio * F.lit(4.0), F.lit(1.0)) * 0.2
    )
    return df.select(
        *df.columns,
        n_tokens.alias("n_tokens"),
        F.round(mean_tok, 4).alias("mean_token_len"),
        F.round(punct_ratio, 4).alias("punct_ratio"),
        F.round(stop_ratio, 4).alias("stopword_ratio"),
        F.round(score, 4).alias(out_col),
    )


def fingerprint(
    df: DataFrame,
    text_col: str,
    *,
    ngram: int = 8,
    k: int = 8,
    out_col: str = "fingerprint",
) -> DataFrame:
    """Bottom-k sketch over hashed character ``ngram``-shingles.

    Every position yields an ``md5(substr(text, i, ngram))``; the
    fingerprint is the k lexicographically-smallest hashes joined
    with ','. Documents sharing most of their content share most of
    their bottom-k set (the sketch estimates Jaccard/containment).
    md5 is used (not xxhash64) so the sketch is reproducible in any
    engine — it's a per-document narrow op, never a join key at
    volume, so the wider hash costs nothing at scale.
    """
    expr = (
        f"array_join(slice(array_sort(array_distinct("
        f"transform(sequence(1, greatest(length({text_col}) - {ngram} + 1, 1)),"
        f" i -> md5(substring({text_col}, i, {ngram}))))), 1, {k}), ',')"
    )
    return df.withColumn(out_col, F.expr(expr))


def repetition_stats(
    df: DataFrame,
    text_col: str,
    *,
    id_cols: list[str] | None = None,
    ngram: int = 2,
    line_sep: str = "\n",
) -> DataFrame:
    """Gopher-style repetition measures per document (Rae et al. 2021,
    "Scaling Language Models", Table A1 — the repetition-removal family
    of quality filters; see also C4, Raffel et al. 2020 §2.2).

    Output columns (each alongside ``id_cols``):

    - ``n_tokens`` — lower-cased whitespace token count;
    - ``dup_token_frac`` — fraction of tokens that are repeats of an
      earlier token (``1 - distinct/total``);
    - ``top_ngram_share`` — occurrences of the single most frequent
      word ``ngram``-gram divided by the number of ``ngram``-grams
      (high ⇒ boilerplate / TEMPLATED text);
    - ``dup_line_frac`` — fraction of ``line_sep``-separated lines
      that are duplicates of an earlier line.

    Everything is a per-document narrow expression — no explode, no
    shuffle, runs at scan speed. The most-frequent-n-gram count uses
    sort-then-longest-run (``array_sort`` + one ``aggregate`` fold,
    O(d log d) per doc) instead of the explode → groupBy → window
    formulation, which would shuffle |corpus tokens| rows on a
    (doc, ngram) key at 100 TB for a per-document statistic.
    """
    keep = id_cols if id_cols is not None else [c for c in df.columns if c != text_col]
    # Staged projections: each array is computed ONCE and then
    # referenced as a plain attribute. Inlining the tokenizer
    # expression at every use site looks equivalent but is not —
    # Catalyst's CollapseProject will not merge projections when that
    # would duplicate expensive expressions, and measured cost drops
    # ~5× versus the single-expression formulation.
    staged = df.select(
        *keep,
        F.expr(
            f"filter(split(lower({text_col}), '\\\\s+'), t -> t != '')"
        ).alias("__toks"),
        F.expr(
            f"filter(transform(split({text_col}, '{line_sep}'), "
            f"l -> trim(l)), l -> l != '')"
        ).alias("__lines"),
    ).select(
        *keep,
        "__toks",
        "__lines",
        # Spark's sequence(1, 0) yields a DESCENDING [1, 0] rather
        # than an empty array, and slice() rejects start 0 — guard
        # short documents with an explicit size check.
        F.expr(
            f"if(size(__toks) < {ngram}, array(), "
            f"transform(sequence(1, size(__toks) - {ngram - 1}), "
            f"i -> array_join(slice(__toks, i, {ngram}), ' ')))"
        ).alias("__grams"),
    )
    # Longest run in the sorted n-gram array == count of the most
    # frequent n-gram; O(d log d) per doc, no explode/shuffle.
    top_run = F.expr(
        "aggregate(array_sort(__grams), "
        "named_struct('prev', '', 'run', 0L, 'best', 0L), "
        "(a, x) -> named_struct("
        "  'prev', x, "
        "  'run', if(x = a.prev, a.run + 1L, 1L), "
        "  'best', greatest(a.best, if(x = a.prev, a.run + 1L, 1L))), "
        "a -> a.best)"
    )
    n_tokens = F.size("__toks")
    n_grams = F.size("__grams")
    n_lines = F.size("__lines")
    return staged.select(
        *keep,
        n_tokens.alias("n_tokens"),
        F.round(
            F.when(
                n_tokens > 0,
                1.0 - F.size(F.array_distinct("__toks")) / n_tokens,
            ).otherwise(F.lit(0.0)),
            4,
        ).alias("dup_token_frac"),
        F.round(
            F.when(n_grams > 0, top_run / n_grams).otherwise(F.lit(0.0)),
            4,
        ).alias("top_ngram_share"),
        F.round(
            F.when(
                n_lines > 0,
                1.0 - F.size(F.array_distinct("__lines")) / n_lines,
            ).otherwise(F.lit(0.0)),
            4,
        ).alias("dup_line_frac"),
    )


def tf_idf(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    min_df: int = 1,
    cache_registry: list | None = None,
) -> DataFrame:
    """Per-(document, term) TF-IDF weights over lower-cased whitespace
    terms, with the smooth-idf formula ``tf · (ln((N+1)/(df+1)) + 1)``
    (sklearn's ``TfidfTransformer(smooth_idf=True)`` convention —
    strictly positive, division-safe).

    Plan shape: one explode → (doc, term) count aggregate; document
    frequency as a second aggregate on term joined back; corpus size
    as a broadcast one-row aggregate cross-join, so the whole thing
    stays ONE lazy plan (no driver-side count action). The df join
    shuffles on ``term`` — hot stopword terms are exactly the AQE
    skew-join case, and a window-over-term formulation was rejected
    deliberately: it would put every row of a billion-doc term in one
    partition, while the groupBy side partial-aggregates map-side.

    The ``tf`` frame feeds two consumers (the join's left side and the
    document-frequency aggregate); Catalyst does not reuse the
    subtree, so by default the corpus is tokenized twice — an
    embarrassingly-parallel recompute with no extra shuffle, usually
    the right trade. Pass ``cache_registry`` (a list; the persisted
    frame is appended for the caller to unpersist after materializing)
    to tokenize once at the cost of caching |doc×term| rows.

    Output: ``{id_col}``, ``term``, ``tf``, ``df``, ``tfidf``.
    """
    terms = tokens_expr(text_col)
    tf = (
        df.select(F.col(id_col), F.explode(terms).alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    if cache_registry is not None:
        tf = tf.persist()
        cache_registry.append(tf)
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    if min_df > 1:
        dfreq = dfreq.filter(F.col("df") >= min_df)
    n_docs = df.agg(F.count(F.lit(1)).alias("__n_docs"))
    return (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.col("tf")
            * (F.log((F.col("__n_docs") + 1) / (F.col("df") + 1)) + 1),
        )
        .select(id_col, "term", "tf", "df", "tfidf")
    )


def bm25_search(
    df: DataFrame,
    id_col: str,
    text_col: str,
    query_terms: list[str],
    *,
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 top-k retrieval for a fixed bag of query terms
    (Robertson & Zaragoza 2009) — the ranked-search sibling of
    :func:`tf_idf`, making the corpus *queryable*, not just scorable.

    score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)),
    idf(t) = ln(1 + (N−df+0.5)/(df+0.5)).

    Plan shape: the query terms prune the exploded (doc, term) stream
    BEFORE any shuffle (an ``isin`` filter on a handful of literals —
    at 100 TB this is the difference between shuffling every posting
    and shuffling only the query terms' postings); per-term document
    frequencies and corpus stats (N, avgdl) are one-row/`|q|`-row
    broadcast aggregates; the final top-k is a global
    ``TakeOrderedAndProject``, never a full sort. Ties break on
    ascending ``{id_col}``; the score is rounded to 6 dp first so
    float-associativity noise cannot reorder equal-scoring documents.

    Output: (``{id_col}``, ``score`` double) — top ``k`` by
    (score desc, id asc).
    """
    terms = tokens_expr(text_col)
    q = [t.lower() for t in query_terms]
    posting = (
        df.select(
            F.col(id_col),
            F.size(terms).alias("__dl"),
            F.explode(terms).alias("term"),
        )
        .filter(F.col("term").isin(q))
        .groupBy(id_col, "__dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = posting.groupBy("term").agg(
        F.count(F.lit(1)).alias("df")
    )
    stats = df.agg(
        F.count(F.lit(1)).alias("__n"),
        F.avg(F.size(terms)).alias("__avgdl"),
    )
    idf = F.log(
        1.0
        + (F.col("__n") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    denom = F.col("tf") + k1 * (
        1.0 - b + b * F.col("__dl") / F.col("__avgdl")
    )
    return (
        posting.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn("__s", idf * F.col("tf") * (k1 + 1.0) / denom)
        .groupBy(id_col)
        .agg(F.round(F.sum("__s"), 6).alias("score"))
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )


def char_entropy(
    df: DataFrame, text_col: str, *, id_col: str = "doc_id"
) -> DataFrame:
    """Per-document Shannon entropy of the character distribution
    (bits/char) — the cheap gibberish/boilerplate signal: natural
    text sits ≈4 bits, single-char spam ≈0, uniform random ≈6+.

    Pure DataFrame plan: explode to (doc, char) → per-doc char
    counts → −Σ p·log₂p folded in one keyed aggregate. Both shuffles
    key on the document id (high-cardinality, uniform — no skew),
    and the char-count intermediate is bounded by |doc| × alphabet,
    not corpus × alphabet.
    """
    chars = F.filter(
        F.split(F.lower(F.col(text_col)), ""), lambda c: c != ""
    )
    counts = (
        df.select(F.col(id_col), F.explode(chars).alias("__c"))
        .groupBy(id_col, "__c")
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    tot = Window.partitionBy(id_col)
    p = F.col("__n") / F.sum("__n").over(tot)
    return (
        counts.withColumn("__plogp", -p * F.log2(p))
        .groupBy(id_col)
        .agg(F.round(F.sum("__plogp"), 4).alias("entropy_bits"))
    )


def compression_ratio(
    df: DataFrame, text_col: str, *, id_col: str = "doc_id", level: int = 6
) -> DataFrame:
    """DEFLATE compression ratio per document (compressed/raw bytes)
    — the Gopher-style (Rae et al. 2021, arXiv:2112.11446 §A1.1)
    repetition/boilerplate signal: highly repetitive or templated
    text compresses far below natural prose, near-random noise
    barely compresses at all.

    zlib is stdlib (always present) and deterministic for a given
    level, so the value is reproducible — but no SQL engine exposes
    DEFLATE, hence rows-only registration with property tests
    instead of a DuckDB twin. One C call per document on the Arrow
    row shell (:func:`operators.rows.map_rows`); ``id_col`` passes
    through unconverted.
    """
    import zlib

    def ratio(text):
        nraw = len(raw := (text or "").encode("utf-8"))
        ncmp = len(zlib.compress(raw, level))
        return nraw, ncmp, ncmp / (nraw or 1)

    return map_rows(
        df,
        [text_col],
        ratio,
        [
            T.StructField("raw_bytes", T.LongType()),
            T.StructField("compressed_bytes", T.LongType()),
            T.StructField("ratio", T.DoubleType()),
        ],
        keep=[id_col],
    )


def lm_perplexity(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    train_pred: Column,
    alpha: float = 0.4,
) -> DataFrame:
    """Bigram language-model cross-entropy per document, CCNet-style
    (Wenzek et al. 2020, arXiv:1911.00359: score every document with
    an LM trained on a *reference* corpus; low perplexity ≈ clean
    prose, high ≈ noise/boilerplate/gibberish).

    ``train_pred`` selects the reference rows the counts are trained
    on (CCNet trains on Wikipedia and scores Common Crawl; here any
    boolean column expression — the registered query trains on the
    even-``doc_id`` half so the backoff paths actually fire on the
    scored half). Scoring is stupid backoff (Brants et al. 2007):

    - bigram seen in training:  ln( B(w1,w2) / U(w1) )
    - else unigram seen:        ln( alpha · U(w2) / N )
    - else (OOV):               ln( alpha / N )

    Cross-entropy = −mean(ln p) over the document's bigrams (nats);
    documents with fewer than two tokens get NULL.

    Scale: unigram counts are vocabulary-bounded (a natural-language
    vocab broadcasts even at 100 TB — Zipf saturates); the bigram
    count table shuffle-joins on its (w1, w2) key with map-side
    combine, skewed pairs handled by AQE. Tokenization is one regex
    split per side; no Python per row.

    Output: the input rows plus ``xent`` (nats, NULL for short docs).
    """
    text = F.col(text_col)
    toks = F.filter(
        F.split(F.lower(text), "[^a-z]+"), lambda t: t != ""
    )
    base = df.select(
        F.col(id_col),
        toks.alias("__toks"),
        F.coalesce(train_pred, F.lit(False)).alias("__train"),
    )
    bigrams = F.when(
        F.size("__toks") >= 2,
        F.expr(
            "transform(sequence(1, size(__toks) - 1),"
            " i -> struct(__toks[i - 1] AS w1, __toks[i] AS w2))"
        ),
    ).otherwise(F.array())

    train_toks = base.filter("__train").select(
        F.explode("__toks").alias("__w")
    )
    uni = train_toks.groupBy("__w").agg(F.count(F.lit(1)).alias("__c1"))
    # One scalar: total training tokens. Broadcast, never collected.
    total = uni.agg(F.sum("__c1").alias("__n"))
    big = (
        base.filter("__train")
        .select(F.explode(bigrams).alias("__b"))
        .select("__b.w1", "__b.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("__c2"))
    )

    doc_bigrams = base.select(
        F.col(id_col), F.explode(bigrams).alias("__b")
    ).select(id_col, "__b.w1", "__b.w2")
    u1 = uni.select(F.col("__w").alias("w1"), F.col("__c1").alias("__u1"))
    u2 = uni.select(F.col("__w").alias("w2"), F.col("__c1").alias("__u2"))
    scored = (
        doc_bigrams.join(big, ["w1", "w2"], "left")
        .join(F.broadcast(u1), "w1", "left")
        .join(F.broadcast(u2), "w2", "left")
        .crossJoin(F.broadcast(total))
    )
    lp = (
        F.when(
            F.col("__c2").isNotNull(), F.log(F.col("__c2") / F.col("__u1"))
        )
        .when(
            F.col("__u2").isNotNull(),
            F.log(F.lit(alpha) * F.col("__u2") / F.col("__n")),
        )
        .otherwise(F.log(F.lit(alpha) / F.col("__n")))
    )
    per_doc = scored.groupBy(id_col).agg((-F.avg(lp)).alias("xent"))
    return df.join(per_doc, id_col, "left")


def perplexity_buckets(
    scored: DataFrame,
    *,
    xent_col: str = "xent",
    out_col: str = "bucket",
    decimals: int = 4,
) -> DataFrame:
    """CCNet's head/middle/tail split: tertile thresholds on the
    (rounded) cross-entropy, NULL scores → ``'short'``.

    Rounding BEFORE the threshold computation makes the bucketing
    engine-reproducible: both Spark and an oracle see bit-identical
    inputs to the same linear-interpolation percentile, so the
    comparison ``xent <= t`` cannot flip on 1e-16 summation-order
    noise. Thresholds are a single two-double broadcast (the
    psi_drift scalar-hop pattern) — no global sort, no driver loop.
    """
    r = F.round(F.col(xent_col), decimals)
    rounded = scored.withColumn(xent_col, r)
    thr = rounded.agg(
        F.expr(
            f"percentile({xent_col}, array(1.0D/3.0D, 2.0D/3.0D))"
        ).alias("__t")
    )
    return (
        rounded.crossJoin(F.broadcast(thr))
        .withColumn(
            out_col,
            F.when(F.col(xent_col).isNull(), F.lit("short"))
            .when(F.col(xent_col) <= F.col("__t")[0], F.lit("head"))
            .when(F.col(xent_col) <= F.col("__t")[1], F.lit("middle"))
            .otherwise(F.lit("tail")),
        )
        .drop("__t")
    )


def phrase_search(
    df: DataFrame,
    id_col: str,
    text_col: str,
    phrase: list[str],
) -> DataFrame:
    """Exact token-phrase search via positional-posting intersection —
    the inverted-index complement to :func:`bm25_search`'s bag-of-words
    scoring (phrases are what LIKE '%…%' scans can't do at scale:
    a substring scan reads every byte of every document; posting
    intersection touches only the phrase terms' positions).

    Tokenization matches the module convention (lowercase, split on
    whitespace). A document matches at anchor position p when
    token[p+i] == phrase[i] for all i; occurrences may overlap
    (anchors are counted independently, the standard positional-index
    semantics).

    Plan shape: ONE posexplode pass filtered to the phrase's terms
    BEFORE any shuffle — the posting stream entering the joins is
    |phrase| terms' occurrences, not the corpus; each conjunct is an
    (id, anchor)-keyed equi-join carrying (id, pos) pairs only. The
    final count groups by document. At 100 TB this is the
    make-or-break difference from a LIKE scan.

    Returns (``{id_col}``, ``n_occurrences`` long), matches only.
    """
    if len(phrase) < 1:
        raise ValueError("phrase must have at least one term")
    terms = [t.lower() for t in phrase]
    toks = tokens_expr(text_col)
    postings = (
        df.select(F.col(id_col), toks.alias("__t"))
        .select(F.col(id_col), F.posexplode("__t").alias("__p", "__term"))
        .filter(F.col("__term").isin(terms))
    )
    anchors = postings.filter(F.col("__term") == terms[0]).select(
        id_col, F.col("__p").alias("__a")
    )
    for i, t in enumerate(terms[1:], start=1):
        nxt = postings.filter(F.col("__term") == t).select(
            id_col, (F.col("__p") - i).alias("__a")
        )
        anchors = anchors.join(nxt, [id_col, "__a"])
    return anchors.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_occurrences")
    )


def ctfidf_topic_terms(
    df: DataFrame,
    cluster_col: str,
    text_col: str,
    *,
    k: int = 5,
    min_cluster_tf: int = 1,
) -> DataFrame:
    """Class-based TF-IDF topic descriptors (c-TF-IDF, the BERTopic
    labeling step — Grootendorst 2022): treat each cluster's
    concatenated documents as one pseudo-document and score

        W(t, c) = tf(t, c) · ln(1 + A / f(t))

    where tf(t,c) is the term's count inside cluster c, f(t) its
    corpus-wide count, and A the average token count per cluster —
    frequent-in-cluster but rare-in-corpus terms win, which is what
    makes the top-k a human-readable label for an embedding cluster.

    Plan shape: one explode → (cluster, term) aggregate (the only
    data-sized shuffle); f(t) and A derive from THAT aggregate
    (vocabulary-bounded, never re-scanning the corpus); the top-k per
    cluster is a window over the vocabulary-sized score table. Ties
    break on ascending term after a 6-dp round.

    Returns (``{cluster_col}``, ``term``, ``weight``, ``rk`` long).
    """
    toks = tokens_expr(text_col)
    ct = (
        df.select(F.col(cluster_col), F.explode(toks).alias("term"))
        .groupBy(cluster_col, "term")
        .agg(F.count(F.lit(1)).alias("__tf"))
    )
    if min_cluster_tf > 1:
        ct = ct.filter(F.col("__tf") >= min_cluster_tf)
    corpus_f = ct.groupBy("term").agg(F.sum("__tf").alias("__f"))
    avg_tokens = ct.groupBy(cluster_col).agg(
        F.sum("__tf").alias("__ctoks")
    ).agg(F.avg("__ctoks").alias("__a"))
    weighted = (
        ct.join(corpus_f, "term")
        .crossJoin(F.broadcast(avg_tokens))
        .withColumn(
            "weight",
            F.round(
                F.col("__tf") * F.log(1.0 + F.col("__a") / F.col("__f")), 6
            ),
        )
    )
    order = [F.desc("weight"), F.asc("term")]
    return top_k_per_group(
        weighted, [cluster_col], order, k, rank_col="rk"
    ).select(cluster_col, "term", "weight", F.col("rk").cast("long"))


def pmi_collocations(
    df: DataFrame,
    text_col: str,
    *,
    min_count: int = 5,
    k: int = 30,
) -> DataFrame:
    """Pointwise-mutual-information collocations (Church & Hanks
    1990): adjacent token pairs scored by how much more often they
    co-occur than independence predicts —

        PMI(a,b) = ln( P(a,b) / (P(a)·P(b)) )

    with P(a,b) over adjacent-pair positions and P(·) over token
    positions. High-PMI pairs are the corpus's multiword expressions
    ("hash join", "sort merge") — the phrase-discovery complement to
    :func:`phrase_search`, which needs the phrase given.

    ``min_count`` drops rare pairs (PMI's known pathology: a 1-count
    pair of two 1-count tokens maxes the score on pure noise).

    Plan: one explode pass builds pair counts (corpus-sized
    aggregate, the only big shuffle); unigram counts re-aggregate
    from the PAIR table's margins... no — from a second explode of
    the same tokens column, both vocabulary-bounded after their
    aggregates; totals are one-row broadcasts. Ties break on
    (pair count desc, a, b) after a 6-dp round.

    Returns (``a``, ``b``, ``n_pair`` long, ``pmi`` double) — top
    ``k`` by (pmi desc, a asc, b asc).
    """
    toks = tokens_expr(text_col)
    base = df.select(toks.alias("__t"))
    pairs = (
        base.select(
            F.posexplode("__t").alias("__i", "a"),
            F.col("__t"),
        )
        .select("a", F.get(F.col("__t"), F.col("__i") + 1).alias("b"))
        .filter(F.col("b").isNotNull())
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_pair"))
    )
    if min_count > 1:
        pairs = pairs.filter(F.col("n_pair") >= min_count)
    uni = (
        base.select(F.explode("__t").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n_tok"))
    )
    n_tokens = uni.agg(F.sum("n_tok").alias("__nt"))
    n_pairs = (
        base.select(
            F.greatest(F.size("__t") - 1, F.lit(0)).alias("__np")
        ).agg(F.sum("__np").alias("__npairs"))
    )
    scored = (
        pairs.join(
            F.broadcast(uni.withColumnRenamed("tok", "a").withColumnRenamed("n_tok", "__na")),
            "a",
        )
        .join(
            F.broadcast(uni.withColumnRenamed("tok", "b").withColumnRenamed("n_tok", "__nb")),
            "b",
        )
        .crossJoin(F.broadcast(n_tokens))
        .crossJoin(F.broadcast(n_pairs))
        .withColumn(
            "pmi",
            F.round(
                F.log(
                    (F.col("n_pair") / F.col("__npairs"))
                    / (
                        (F.col("__na") / F.col("__nt"))
                        * (F.col("__nb") / F.col("__nt"))
                    )
                ),
                6,
            ),
        )
    )
    return (
        scored.select("a", "b", "n_pair", "pmi")
        .orderBy(F.desc("pmi"), F.asc("a"), F.asc("b"))
        .limit(k)
    )


#: Unicode script ranges for :func:`script_profile` — literal BMP
#: character ranges so the SAME class works in Java regex (Spark) and
#: RE2 (DuckDB/oracle). Order is the dominant-script tie-break
#: priority.
SCRIPT_RANGES: list[tuple[str, str]] = [
    ("latin", "[A-Za-zÀ-ɏ]"),
    ("cjk", "[一-鿿぀-ヿ가-힯]"),
    ("cyrillic", "[Ѐ-ӿ]"),
    ("greek", "[Ͱ-Ͽ]"),
    ("arabic", "[؀-ۿ]"),
]


def script_profile(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document Unicode script histogram + dominant script — the
    multilingual-corpus routing signal (which tokenizer, which
    quality battery, which dedup shingle size) that n-gram language
    ID can't provide for unseen languages: character counts per
    major script block (``n_latin``, ``n_cjk``, ``n_cyrillic``,
    ``n_greek``, ``n_arabic``) and ``dominant_script`` (highest
    count; ties break by :data:`SCRIPT_RANGES` order, so an
    all-zero/empty text reports 'latin'). Counts are
    ``regexp_count`` over literal BMP ranges — whole-stage codegen,
    no UDF, and the identical character class replays in the RE2
    oracle. One projection, no shuffle.

    The output names (``n_<script>``, ``dominant_script``) are
    reserved: an input already carrying one would make the appended
    select emit duplicate column names and the dominant-script
    comparison ambiguous at analysis time, so that collision raises
    up front (the same guard other operators apply to their
    ``__``-prefixed internals)."""
    reserved = {f"n_{n}" for n, _ in SCRIPT_RANGES} | {"dominant_script"}
    clash = sorted(reserved & set(df.columns))
    if clash:
        raise ValueError(
            f"script_profile output columns {clash} already exist in the "
            "input; rename or drop them first"
        )
    text = F.coalesce(F.col(text_col), F.lit(""))
    counts = {
        name: F.regexp_count(text, F.lit(pat)).cast("long")
        for name, pat in SCRIPT_RANGES
    }
    names = [n for n, _ in SCRIPT_RANGES]
    dominant = None
    for i in range(len(names) - 1, -1, -1):
        c = F.col(f"n_{names[i]}")
        if dominant is None:
            dominant = F.lit(names[i])
        else:
            later = [F.col(f"n_{m}") for m in names[i + 1 :]]
            ge_all = c >= later[0]
            for o in later[1:]:
                ge_all = ge_all & (c >= o)
            dominant = F.when(ge_all, F.lit(names[i])).otherwise(dominant)
    out = df.select(
        *df.columns, *[counts[n].alias(f"n_{n}") for n in names]
    )
    return out.withColumn("dominant_script", dominant)


def split_sentences(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Rule-based sentence segmentation as PURE columns: a sentence
    ends at ``.``/``!``/``?`` followed by whitespace. One row per
    sentence (``sent_no`` 0-based, ``sentence`` trimmed); documents
    with no sentences yield no rows. The rule is deliberately the
    deterministic regex form — it mis-splits abbreviations ("Dr.
    Smith") but replays EXACTLY in any engine, which is what a
    sentence-level dedup/decontamination key needs (both sides of a
    corpus comparison must split identically, or the keys never
    match). A smarter splitter would be an Arrow kernel; this is the
    cross-engine-stable default. Split + explode, no UDF, no
    shuffle.

    The U+001E unit-separator control char is stripped from the
    input first — it is the internal split marker (RE2 has no
    lookbehind, so both engines mark-then-split), and a literal
    occurrence would forge a sentence boundary (hypothesis-found).
    Stripping a C0 control char is standard text sanitization,
    applied identically in the oracle."""
    marked = F.regexp_replace(
        F.regexp_replace(
            F.coalesce(F.col(text_col), F.lit("")), "\x1e", ""
        ),
        "([.!?])[ \\t\\r\\n\\f]+",
        "$1\x1e",
    )
    # trim the FULL whitespace class on both ends — engine trim()
    # strips spaces only, which would let a bare "\r" survive as a
    # "sentence" (hypothesis-found)
    wtrim = lambda s: F.regexp_replace(  # noqa: E731
        s, "^[ \\t\\r\\n\\f]+|[ \\t\\r\\n\\f]+$", ""
    )
    sents = F.filter(
        F.transform(F.split(marked, "\x1e"), wtrim),
        lambda s: s != "",
    )
    ids = [c for c in df.columns if c != text_col]
    return df.select(
        *ids, F.posexplode(sents).alias("sent_no", "sentence")
    )
