"""Declarative data-quality expectations — the load-gate the
reference runs implicitly.

The reference's warehouse loader enforces quality row-by-row while
merging (dags/merge_to_dw.py: required-key routing drops rows with
missing FKs; the per-row try/except around dimension inserts is its
uniqueness check). This module lifts those checks into an explicit,
set-based expectation suite a pipeline can run BEFORE loading — the
Great-Expectations-shaped primitive every production ETL grows:

- **null fraction** per column vs a threshold (one aggregate pass
  over the table — map-side partial aggregation, no data shuffle);
- **key uniqueness** (``count(*) - count(distinct key)`` — one exact
  distinct; swap for ``approx_count_distinct`` at 100 TB when ±2%
  suffices);
- **referential integrity** fact→dim (broadcast anti-join on the
  dimension's keys; null FKs are excluded here — they belong to the
  null-fraction check — so each violation is a *dangling* reference).

Every check yields one row ``(check, target, n_bad, metric,
threshold, ok)``; the suite unions them into a single lazy report
DataFrame — no driver-side collects, one job when materialized.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from workshoop2_etl_spark.operators.ids import running_sums


def _finish(df: DataFrame, check: str, target: str, threshold: float) -> DataFrame:
    """Attach the report columns to a 1-row (n_bad, metric) frame."""
    return df.select(
        F.lit(check).alias("check"),
        F.lit(target).alias("target"),
        F.col("n_bad").cast("bigint").alias("n_bad"),
        F.round(F.col("metric"), 6).cast("double").alias("metric"),
        F.lit(float(threshold)).alias("threshold"),
        (F.round(F.col("metric"), 6) <= threshold).alias("ok"),
    )


def expect_null_fractions(
    df: DataFrame, max_null_frac: dict[str, float]
) -> DataFrame:
    """One row per column: fraction of NULLs vs its threshold.

    All columns share a single aggregate pass (partial aggregation —
    the scan streams once however many columns are checked).
    """
    if not max_null_frac:
        raise ValueError("max_null_frac must name at least one column")
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in max_null_frac:
        aggs.append(
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"__null_{c}")
        )
    agg = df.agg(*aggs)
    out = None
    for c, thr in max_null_frac.items():
        row = agg.select(
            F.col(f"__null_{c}").alias("n_bad"),
            (F.col(f"__null_{c}") / F.col("__n")).alias("metric"),
        )
        piece = _finish(row, "null_frac", c, thr)
        out = piece if out is None else out.unionByName(piece)
    return out


def expect_unique(df: DataFrame, key_cols: Sequence[str]) -> DataFrame:
    """Surplus rows beyond one per distinct key (0 ⇢ key is unique).

    ``metric`` is the surplus fraction of all rows; threshold 0 means
    strictly unique. Exact distinct costs one shuffle of the key
    column only; at 100 TB swap in ``approx_count_distinct`` if ±2%
    is acceptable.
    """
    keys = list(key_cols)
    if not keys:
        raise ValueError("key_cols must not be empty")
    key = F.struct(*[F.col(k) for k in keys]) if len(keys) > 1 else F.col(keys[0])
    row = df.agg(
        (F.count(F.lit(1)) - F.countDistinct(key)).alias("n_bad"),
        (
            (F.count(F.lit(1)) - F.countDistinct(key)) / F.count(F.lit(1))
        ).alias("metric"),
    )
    return _finish(row, "unique", ",".join(keys), 0.0)


def expect_referential(
    fact: DataFrame,
    dim: DataFrame,
    fk_cols: Sequence[str],
    pk_cols: Sequence[str],
    *,
    dim_name: str = "dim",
) -> DataFrame:
    """Dangling-FK count: fact rows whose (non-null) FK misses the
    dimension. Broadcast anti-join — the 100 TB fact side never
    shuffles; dimensions are small by construction (star.py)."""
    fks, pks = list(fk_cols), list(pk_cols)
    if len(fks) != len(pks) or not fks:
        raise ValueError("fk_cols and pk_cols must align and be non-empty")
    non_null = fact.select(*fks).where(
        F.expr(" AND ".join(f"{c} IS NOT NULL" for c in fks))
    )
    cond = [non_null[f] == dim[p] for f, p in zip(fks, pks)]
    dangling = non_null.join(
        F.broadcast(dim.select(*pks).distinct()), cond, "left_anti"
    )
    total = fact.agg(F.count(F.lit(1)).alias("__n"))
    row = (
        dangling.agg(F.count(F.lit(1)).alias("n_bad"))
        .crossJoin(F.broadcast(total))
        .select("n_bad", (F.col("n_bad") / F.col("__n")).alias("metric"))
    )
    target = ",".join(fks) + "->" + dim_name
    return _finish(row, "ref_integrity", target, 0.0)


def expectation_report(checks: Sequence[DataFrame]) -> DataFrame:
    """Union the per-check report frames into one ordered report."""
    if not checks:
        raise ValueError("no checks given")
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out.orderBy("check", "target")


def robust_outliers(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    *,
    z: float = 3.5,
) -> DataFrame:
    """Flag outliers by the modified z-score (Iglewicz & Hoaglin 1993):
    ``|x − median| > z · 1.4826 · MAD`` per group — the robust twin of
    mean/stddev gating (one corrupt feed value moves a mean; it takes
    50% corruption to move a median, which is exactly the property a
    load gate wants).

    Exact medians via the ``percentile`` aggregate (not approx): two
    group-keyed aggregation passes (median, then median absolute
    deviation against it) with the per-group stats — group-cardinality
    rows — broadcast back onto the facts. A zero-MAD group (over half
    the values identical) flags nothing, by convention.

    Returns the input rows plus ``__med``, ``__mad``, ``is_outlier``.
    """
    gcols = list(group_cols)
    med = df.groupBy(*gcols).agg(
        F.percentile(value_col, F.lit(0.5)).alias("__med")
    )
    dev = df.join(F.broadcast(med), gcols)
    mad = (
        dev.withColumn("__ad", F.abs(F.col(value_col) - F.col("__med")))
        .groupBy(*gcols)
        .agg(F.percentile("__ad", F.lit(0.5)).alias("__mad"))
    )
    return (
        dev.join(F.broadcast(mad), gcols)
        .withColumn(
            "is_outlier",
            (F.col("__mad") > 0)
            & (
                F.abs(F.col(value_col) - F.col("__med"))
                > F.lit(z) * F.lit(1.4826) * F.col("__mad")
            ),
        )
    )


def psi_drift(
    base: DataFrame,
    current: DataFrame,
    value_col: str,
    *,
    n_bins: int = 10,
    eps: float = 1e-6,
) -> DataFrame:
    """Population Stability Index between a baseline and a current
    sample of ``value_col`` — the standard drift alarm for feature /
    score distributions (PSI < 0.1 stable, > 0.25 shifted).

    Bin edges are the baseline's EXACT interior quantiles
    (``percentile``, n_bins−1 edges — a bounded driver hop of
    n_bins−1 doubles, then literal comparisons so both scans stay
    narrow); each side reduces to per-bin counts (shuffle carries
    n_bins rows), and PSI folds as Σ (p−q)·ln(p/q) with both shares
    floored at ``eps`` so empty bins contribute a finite, documented
    penalty instead of ±inf.

    Returns one row per bin: ``bin, n_base, n_current, psi`` (the
    bin's contribution; total PSI = sum over bins).
    """
    if n_bins < 2:
        raise ValueError(f"n_bins must be >= 2, got {n_bins}")
    qs = [i / n_bins for i in range(1, n_bins)]
    edges = base.agg(
        F.percentile(value_col, F.array(*[F.lit(q) for q in qs])).alias("e")
    ).collect()[0]["e"]

    def binned(df: DataFrame, out: str) -> DataFrame:
        b = sum(
            (F.col(value_col) >= F.lit(float(e))).cast("int") for e in edges
        )
        return (
            df.select(b.alias("bin"))
            .groupBy("bin")
            .agg(F.count(F.lit(1)).alias(out))
        )

    nb = binned(base, "n_base")
    nc = binned(current, "n_current")
    allbins = base.sparkSession.range(n_bins).select(
        F.col("id").cast("int").alias("bin")
    )
    joined = (
        allbins.join(nb, "bin", "left").join(nc, "bin", "left")
        .fillna(0, ["n_base", "n_current"])
    )
    tot = joined.agg(
        F.sum("n_base").alias("tb"), F.sum("n_current").alias("tc")
    )
    p = F.greatest(F.col("n_current") / F.col("tc"), F.lit(eps))
    q = F.greatest(F.col("n_base") / F.col("tb"), F.lit(eps))
    return (
        joined.crossJoin(F.broadcast(tot))
        .withColumn("psi", (p - q) * F.log(p / q))
        .select("bin", "n_base", "n_current", F.round("psi", 6).alias("psi"))
    )


def chi_square_independence(
    df: DataFrame, col_a: str, col_b: str
) -> DataFrame:
    """Pearson χ² test of independence between two categorical
    columns — the categorical sibling of :func:`psi_drift` (is the
    event mix the same across segments / weekdays / corpus
    versions?).

    One contingency aggregate (shuffle carries |A|×|B| cells), then
    the statistic folds from observed vs expected =
    row_total·col_total/N. Returns a single row:
    ``chi2, dof, n, cramers_v`` (effect size — χ²/(N·min(|A|,|B|)−1)
    under the hood, comparable across table sizes). The p-value needs
    the incomplete-gamma function — compare χ² against the caller's
    critical value, or feed dof into scipy where available.
    """
    cells = df.groupBy(
        F.col(col_a).alias("__a"), F.col(col_b).alias("__b")
    ).agg(F.count(F.lit(1)).alias("__o"))
    rows = cells.groupBy("__a").agg(F.sum("__o").alias("__ra"))
    colsum = cells.groupBy("__b").agg(F.sum("__o").alias("__cb"))
    tot = cells.agg(F.sum("__o").alias("__n"))
    # The sum runs over the FULL |A|×|B| grid — an unobserved cell
    # contributes (0−E)²/E = E, which is exactly what makes perfect
    # association reach χ² = N·(min(k)−1). Marginals are small
    # (category cardinality), so the grid cross-join broadcasts.
    grid = F.broadcast(rows).crossJoin(F.broadcast(colsum))
    j = (
        grid.join(cells, ["__a", "__b"], "left")
        .fillna(0, ["__o"])
        .crossJoin(F.broadcast(tot))
    )
    e = F.col("__ra") * F.col("__cb") / F.col("__n")
    contrib = (F.col("__o") - e) * (F.col("__o") - e) / e
    agg = j.agg(
        F.sum(contrib).alias("chi2"),
        F.countDistinct("__a").alias("ka"),
        F.countDistinct("__b").alias("kb"),
        F.first("__n").alias("n"),
    )
    dof = (F.col("ka") - 1) * (F.col("kb") - 1)
    v = F.sqrt(
        F.col("chi2")
        / (F.col("n") * (F.least(F.col("ka"), F.col("kb")) - 1))
    )
    return agg.select(
        F.round("chi2", 4).alias("chi2"),
        dof.cast("long").alias("dof"),
        F.col("n").cast("long").alias("n"),
        F.round(v, 6).alias("cramers_v"),
    )


def join_key_health(
    fact: DataFrame,
    fact_key: str,
    dim: DataFrame,
    dim_key: str,
) -> DataFrame:
    """Pre-join diagnostics for a fact→dim key — the checks that
    predict the three classic join disasters BEFORE paying for the
    join: NULL keys (silently dropped by inner joins), orphans (fact
    keys missing from the dim — referential breakage), duplicated dim
    keys (fan-out row explosion), and key skew (one hot key owning a
    partition at shuffle time).

    One row out: ``n_fact, n_null_keys, n_orphans, n_dup_dim_keys,
    top_key, top_key_n`` — each from a bounded aggregate; the orphan
    check is a left-anti join against the DISTINCT dim keys (dim-side
    shuffle only), and the hot-key probe is a count-desc/key-asc
    ``first`` (deterministic tie-break).
    """
    fk = F.col(fact_key)
    n_fact = fact.agg(
        F.count(F.lit(1)).alias("n_fact"),
        F.sum(fk.isNull().cast("long")).alias("n_null_keys"),
    )
    orphans = (
        fact.filter(fk.isNotNull())
        .join(dim.select(F.col(dim_key).alias(fact_key)).distinct(),
              fact_key, "left_anti")
        .agg(F.count(F.lit(1)).alias("n_orphans"))
    )
    dup_dim = (
        dim.groupBy(dim_key)
        .agg(F.count(F.lit(1)).alias("__m"))
        .agg(
            F.sum((F.col("__m") > 1).cast("long")).alias("n_dup_dim_keys")
        )
    )
    top = (
        fact.filter(fk.isNotNull())
        .groupBy(fk.alias("__k"))
        .agg(F.count(F.lit(1)).alias("__n"))
        .orderBy(F.desc("__n"), F.asc("__k"))
        .limit(1)
        .select(
            F.col("__k").cast("string").alias("top_key"),
            F.col("__n").alias("top_key_n"),
        )
    )
    return (
        n_fact.crossJoin(F.broadcast(orphans))
        .crossJoin(F.broadcast(dup_dim))
        .crossJoin(F.broadcast(top))
    )


def with_load_metrics(
    df: DataFrame, metrics: dict[str, "F.Column"], *, name: str = "load"
):
    """Attach in-flight metrics to a plan via Spark's Observation API
    — named aggregates evaluated DURING whatever job materializes the
    frame (accumulator-backed), so a load can report row counts, null
    counts, and sums with ZERO extra scans; the alternative (a
    separate ``agg`` job) re-reads the source.

    Returns ``(observed_df, observation)``: materialize the frame
    (write/collect), then read ``observation.get`` — the dict of
    metric values for exactly the rows that job processed. This is
    the mechanism a production sink wraps so every load ships its own
    audit row (cf. the DQ expectation suite, which gates BEFORE a
    load; this measures the load itself).
    """
    from pyspark.sql import Observation

    if not metrics:
        raise ValueError("metrics must name at least one aggregate")
    obs = Observation(name)
    observed = df.observe(obs, *[c.alias(n) for n, c in metrics.items()])
    return observed, obs


#: Gopher rule defaults (Rae et al. 2021, arXiv:2112.11446 Sec A1.1).
#: The canonical web-filtering thresholds; every one is a parameter
#: because corpus policy differs (the registered query keeps them).
GOPHER_DEFAULTS = {
    "min_words": 50,
    "max_words": 100_000,
    "min_mean_word_len": 3.0,
    "max_mean_word_len": 10.0,
    "max_symbol_word_ratio": 0.1,
    "max_bullet_line_frac": 0.90,
    "max_ellipsis_line_frac": 0.30,
    "min_alpha_word_frac": 0.80,
    "min_stopword_hits": 2,
}


def gopher_rules(
    df: DataFrame,
    text_col: str,
    *,
    id_col: str = "doc_id",
    stopwords: Sequence[str] = (
        "the", "be", "to", "of", "and", "that", "have", "with",
    ),
    **overrides,
) -> DataFrame:
    """The Gopher quality-rule battery (Rae et al. 2021, §A1.1) as
    one narrow projection — per-document booleans for each rule plus
    the conjunctive ``gopher_pass``. Never a silent filter:
    downstream picks which rules gate and which merely annotate.

    Rules (thresholds overridable, defaults are the paper's): word
    count bounds, mean word length bounds, symbol-to-word ratio
    (``#`` and ``...`` hits per word), bullet-started and
    ellipsis-ended line fractions, alphabetic-word fraction, and a
    minimum distinct-stopword hit count (the "contains common words
    at all" gibberish gate).

    Everything is built-in column expressions over one tokenization —
    zero joins, zero shuffles, zero Python: the gate runs at scan
    speed and composes into any pipeline stage. SQL-expressible, so
    the oracle replays every rule bit-for-bit. Line rules degrade
    gracefully on newline-free corpora (0/1-line documents pass
    unless genuinely bullet/ellipsis shaped).
    """
    t = dict(GOPHER_DEFAULTS)
    unknown = set(overrides) - set(t)
    if unknown:
        raise ValueError(f"unknown gopher thresholds: {sorted(unknown)}")
    t.update(overrides)
    text = F.col(text_col)
    words = F.filter(F.split(text, r"\s+"), lambda w: w != "")
    n_words = F.size(words)
    mean_wlen = F.when(
        n_words > 0,
        F.aggregate(
            words, F.lit(0).cast("long"), lambda a, w: a + F.length(w)
        )
        / n_words,
    )
    symbol_hits = F.regexp_count(text, F.lit(r"\.\.\.|#"))
    lines = F.filter(F.split(text, "\n"), lambda line: F.trim(line) != "")
    n_lines = F.size(lines)
    bullet_frac = F.when(
        n_lines > 0,
        F.size(
            F.filter(lines, lambda line: F.trim(line).rlike(r"^[*\-•]"))
        )
        / n_lines,
    )
    ellipsis_frac = F.when(
        n_lines > 0,
        F.size(
            F.filter(lines, lambda line: F.rtrim(line).rlike(r"\.\.\.$"))
        )
        / n_lines,
    )
    alpha_frac = F.when(
        n_words > 0,
        F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]"))) / n_words,
    )
    stop_hits = F.size(
        F.array_intersect(
            F.array_distinct(F.transform(words, lambda w: F.lower(w))),
            F.array(*[F.lit(s) for s in stopwords]),
        )
    )
    ok_word_count = (n_words >= t["min_words"]) & (n_words <= t["max_words"])
    ok_mean_wlen = (mean_wlen >= t["min_mean_word_len"]) & (
        mean_wlen <= t["max_mean_word_len"]
    )
    ok_symbol = (
        F.coalesce(
            F.when(n_words > 0, symbol_hits / n_words), F.lit(0.0)
        )
        <= t["max_symbol_word_ratio"]
    )
    ok_bullets = (
        F.coalesce(bullet_frac, F.lit(0.0)) <= t["max_bullet_line_frac"]
    )
    ok_ellipses = (
        F.coalesce(ellipsis_frac, F.lit(0.0)) <= t["max_ellipsis_line_frac"]
    )
    ok_alpha = (
        F.coalesce(alpha_frac, F.lit(1.0)) >= t["min_alpha_word_frac"]
    )
    ok_stop = stop_hits >= t["min_stopword_hits"]
    return df.select(
        F.col(id_col),
        n_words.cast("long").alias("n_words"),
        F.round(mean_wlen, 4).alias("mean_word_len"),
        F.coalesce(ok_word_count, F.lit(False)).alias("ok_word_count"),
        F.coalesce(ok_mean_wlen, F.lit(False)).alias("ok_mean_word_len"),
        ok_symbol.alias("ok_symbol_ratio"),
        ok_bullets.alias("ok_bullets"),
        ok_ellipses.alias("ok_ellipses"),
        ok_alpha.alias("ok_alpha_words"),
        ok_stop.alias("ok_stopwords"),
        (
            F.coalesce(ok_word_count, F.lit(False))
            & F.coalesce(ok_mean_wlen, F.lit(False))
            & ok_symbol
            & ok_bullets
            & ok_ellipses
            & ok_alpha
            & ok_stop
        ).alias("gopher_pass"),
    )


def k_anonymity(
    df: DataFrame,
    quasi_cols: Sequence[str],
    *,
    k: int = 5,
    sensitive_col: str | None = None,
    l_threshold: int = 2,
) -> DataFrame:
    """k-anonymity audit (Sweeney 2002) over a quasi-identifier
    combination — the privacy gate a training-data release runs
    before shipping user-derived tables: every row whose
    quasi-identifier group has fewer than ``k`` members is
    re-identifiable by linkage.

    With ``sensitive_col``, also reports l-diversity (Machanavajjhala
    et al. 2007): groups whose sensitive attribute takes fewer than
    ``l_threshold`` distinct values leak the attribute even when
    k-anonymous (the homogeneity attack).

    One aggregate on the quasi key (group sizes + distinct sensitive
    counts in the same pass), one bounded rollup of the group table —
    group cardinality is the product of quasi-identifier domains,
    dimension-scale by construction. NULL quasi values form their own
    group (Spark groupBy semantics), matching the linkage model: NULL
    is an observable value to an attacker.

    Returns ONE row: ``n_rows``, ``n_groups``, ``min_group_size``,
    ``n_violating_groups``, ``n_reidentifiable_rows`` (all long),
    ``pct_reidentifiable`` (6 dp) — plus, when ``sensitive_col`` is
    set, ``min_l_diversity`` and ``n_low_diversity_groups``.
    """
    if not quasi_cols:
        raise ValueError("k_anonymity needs at least one quasi column")
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    aggs = [F.count(F.lit(1)).alias("__sz")]
    if sensitive_col is not None:
        aggs.append(F.countDistinct(F.col(sensitive_col)).alias("__div"))
    groups = df.groupBy(*[F.col(c) for c in quasi_cols]).agg(*aggs)
    out_aggs = [
        F.sum("__sz").cast("long").alias("n_rows"),
        F.count(F.lit(1)).alias("n_groups"),
        F.min("__sz").cast("long").alias("min_group_size"),
        F.sum((F.col("__sz") < k).cast("long")).alias("n_violating_groups"),
        F.sum(
            F.when(F.col("__sz") < k, F.col("__sz")).otherwise(0)
        ).cast("long").alias("n_reidentifiable_rows"),
        F.round(
            F.sum(
                F.when(F.col("__sz") < k, F.col("__sz")).otherwise(0)
            )
            / F.sum("__sz"),
            6,
        ).alias("pct_reidentifiable"),
    ]
    if sensitive_col is not None:
        out_aggs += [
            F.min("__div").cast("long").alias("min_l_diversity"),
            F.sum(
                (F.col("__div") < l_threshold).cast("long")
            ).alias("n_low_diversity_groups"),
        ]
    return groups.agg(*out_aggs)


#: First-digit expected shares log10(1 + 1/d), rounded once here and
#: shared VERBATIM by the Spark plan and the DuckDB oracle literal —
#: engines' libm log() implementations can disagree in the last ulp,
#: so the canonical constants live in exactly one place.
BENFORD_EXPECTED = {
    d: round(__import__("math").log10(1.0 + 1.0 / d), 6) for d in range(1, 10)
}


def benford_audit(
    df: DataFrame,
    value_col: str,
    *,
    decimals: int = 2,
) -> DataFrame:
    """Benford's-law first-significant-digit audit of a positive
    numeric column — the classic fabricated-data / unit-mixing alarm
    for financial facts (naturally-growing magnitudes follow
    P(d) = log10(1+1/d); hand-entered or synthesized ones usually
    don't).

    The digit is extracted WITHOUT float log/division: the value is
    scaled to an exact integer (``round(x·10^decimals)`` — lossless
    for money-typed data) and the integer's first decimal character
    taken. That makes the digit bit-identical across engines;
    ``floor(x / 10^floor(log10 x))`` does not (log10(1000) is
    2.999… in some libms). Non-positive and sub-resolution values
    are excluded (reported via ``n_excluded``).

    Returns 9 rows: ``digit`` (1–9 long), ``n`` long, ``observed``
    share (6 dp), ``expected`` share (the module-level canonical
    constants), ``deviation`` = observed − expected (6 dp), plus the
    constant ``n_excluded`` for auditability. Digits absent from the
    data still get their row (n=0) — a missing digit is the loudest
    possible Benford violation.
    """
    scale = 10 ** decimals
    cents = F.round(F.col(value_col) * scale).cast("long")
    base = df.select(cents.alias("__c"))
    counted = (
        base.filter(F.col("__c") > 0)
        .select(
            F.substring(F.col("__c").cast("string"), 1, 1)
            .cast("long")
            .alias("digit")
        )
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    spark = df.sparkSession
    digits = spark.range(1, 10).select(F.col("id").alias("digit"))
    expected_map = F.create_map(
        *[
            F.lit(x)
            for d, e in BENFORD_EXPECTED.items()
            for x in (d, e)
        ]
    )
    excluded = base.agg(
        F.sum(
            (F.col("__c").isNull() | (F.col("__c") <= 0)).cast("long")
        ).alias("n_excluded")
    )
    total = counted.agg(F.sum("n").alias("__total"))
    return (
        digits.join(counted, "digit", "left")
        .select("digit", F.coalesce(F.col("n"), F.lit(0)).alias("n"))
        .crossJoin(F.broadcast(total))
        .crossJoin(F.broadcast(excluded))
        .select(
            "digit",
            "n",
            F.round(F.col("n") / F.col("__total"), 6).alias("observed"),
            expected_map[F.col("digit")].alias("expected"),
            F.round(
                F.round(F.col("n") / F.col("__total"), 6)
                - expected_map[F.col("digit")],
                6,
            ).alias("deviation"),
            F.col("n_excluded"),
        )
    )


def ks_two_sample(
    df: DataFrame,
    value_col: str,
    group_col,
    *,
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov statistic between the two
    groups selected by the boolean ``group_col`` expression — the
    distribution-shape drift test beside :func:`psi_drift`'s binned
    score: D = sup_x |F_a(x) − F_b(x)|, computed over EVERY distinct
    value (no binning, no approximation).

    Scalable shape: the empirical CDFs are global prefix sums of the
    per-value counts over value-ordered distinct values —
    ``ids.running_sums``, never a single-partition sort.

    Returns ONE row: ``n_a``, ``n_b`` (long), ``ks_stat`` (double —
    the per-value D values are exact rationals evaluated identically
    on any engine, so the max compares bit-equal), ``ks_at`` (the
    smallest value achieving the max, deterministic under ties).
    """
    flag = group_col if not isinstance(group_col, str) else F.col(group_col)
    agg = (
        df.select(F.col(value_col).alias("__v"), flag.alias("__g"))
        .filter(F.col("__v").isNotNull() & F.col("__g").isNotNull())
        .groupBy("__v")
        .agg(
            F.sum(F.col("__g").cast("long")).alias("__ca"),
            F.sum((~F.col("__g")).cast("long")).alias("__cb"),
        )
    )
    totals = agg.agg(
        F.sum("__ca").cast("long").alias("n_a"),
        F.sum("__cb").cast("long").alias("n_b"),
    )
    cdf = (
        running_sums(
            agg, ["__v"], {"__ra": F.col("__ca"), "__rb": F.col("__cb")},
            num_partitions=num_partitions,
        )
        .crossJoin(F.broadcast(totals))
        .select(
            "__v",
            "n_a",
            "n_b",
            F.abs(
                F.col("__ra") / F.col("n_a") - F.col("__rb") / F.col("n_b")
            ).alias("__d"),
        )
    )
    return cdf.groupBy("n_a", "n_b").agg(
        F.max("__d").alias("ks_stat"),
        F.min_by(
            F.col("__v"), F.struct(F.negate(F.col("__d")), F.col("__v"))
        ).alias("ks_at"),
    )


def dp_noisy_counts(
    df: DataFrame,
    group_cols: Sequence[str],
    *,
    epsilon: float = 1.0,
    salt: str = "dp",
) -> DataFrame:
    """Differentially-private count release (Laplace mechanism,
    Dwork et al. 2006): per-group counts perturbed with
    Lap(Δf/ε) noise, Δf = 1 for counting queries — the standard
    mechanism behind privacy-preserving aggregate exports, beside the
    :func:`k_anonymity` audit that decides whether raw groups may be
    released at all.

    The Laplace draw inverts the CDF of a uniform derived from the
    md5 of the (salted) group key — DETERMINISTIC, so tests and
    cross-engine oracles replay it exactly. That determinism is the
    testability trade, stated plainly: real DP requires the noise
    seed to be secret and non-reusable (a replayable seed lets an
    adversary subtract the noise), so production callers must swap
    ``salt`` for a per-release secret. Everything else — sensitivity,
    scale, the ε accounting — is the real mechanism.

    Noise quantizes to integer micro-units before the add (the repo's
    cross-engine recipe), and the released count is clamped at 0.
    Output: ``group_cols…, noisy_count`` (double, micro-resolution).
    The TRUE count never leaves the operator.
    """
    if epsilon <= 0:
        raise ValueError(f"epsilon must be > 0, got {epsilon}")
    cols = list(group_cols)
    if not cols:
        raise ValueError("group_cols must name at least one column")
    counts = df.groupBy(*cols).agg(F.count(F.lit(1)).alias("__n"))
    # NULL group values are normalized to a sentinel BEFORE keying so a
    # NULL group gets its own distinct seed (concat_ws would silently
    # skip NULLs, aliasing NULL with adjacent-value groups); the oracle
    # SQL applies the identical coalesce.
    key = F.concat_ws(
        "\x1f",
        F.lit(salt),
        *[
            F.coalesce(F.col(c).cast("string"), F.lit("<null>"))
            for c in cols
        ],
    )
    u = (
        F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("long")
        + F.lit(0.5)
    ) / F.lit(4294967296.0)
    # inverse-CDF Laplace: -(1/eps)*sign(u-.5)*ln(1-2|u-.5|)
    centered = u - F.lit(0.5)
    mag = F.lit(1.0) - F.lit(2.0) * F.abs(centered)
    noise = -(F.lit(1.0 / epsilon)) * F.signum(centered) * F.log(mag)
    noise_micro = F.floor(noise * 1e6 + F.lit(0.5)).cast("long")
    return counts.select(
        *cols,
        (
            F.greatest(
                F.col("__n") * F.lit(1_000_000) + noise_micro, F.lit(0)
            )
            / F.lit(1e6)
        ).alias("noisy_count"),
    )
