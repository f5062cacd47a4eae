"""Round-6 property-test wave 2: the session's new operators vs
obvious independent Python references on seeded randomized inputs —
the same discipline as test_properties_aggregates, extended to the
basket/graph/survival/search additions."""

from __future__ import annotations

import itertools
import random

import pytest

SEEDS = [3, 17]


@pytest.mark.parametrize("seed", SEEDS)
def test_triangle_count_random_graph_vs_bruteforce(spark, seed):
    from workshoop2_etl_spark.operators.graph import triangle_count

    rng = random.Random(seed)
    n = 14
    edges = sorted(
        {
            (a, b)
            for a in range(n)
            for b in range(a + 1, n)
            if rng.random() < 0.3
        }
    )
    df = spark.createDataFrame(edges, "src long, dst long")
    r = triangle_count(df).collect()[0]
    eset = set(edges)
    tri = sum(
        1
        for a, b, c in itertools.combinations(range(n), 3)
        if (a, b) in eset and (b, c) in eset and (a, c) in eset
    )
    assert r.n_triangles == tri
    assert r.n_edges == len(edges)


@pytest.mark.parametrize("seed", SEEDS)
def test_association_rules_random_baskets_vs_bruteforce(spark, seed):
    from workshoop2_etl_spark.operators.basket import association_rules

    rng = random.Random(seed)
    items = "abcdefg"
    rows = []
    baskets = {}
    for b in range(40):
        basket = {it for it in items if rng.random() < 0.35}
        baskets[b] = basket
        rows += [(b, it) for it in basket]
    # brute force
    n_b = sum(1 for b in baskets.values() if b)  # baskets with items
    from collections import Counter

    item_n = Counter()
    pair_n = Counter()
    for b in baskets.values():
        for it in b:
            item_n[it] += 1
        for x, y in itertools.combinations(sorted(b), 2):
            pair_n[(x, y)] += 1
    df = spark.createDataFrame(rows, "bk long, it string")
    got = {
        (r.antecedent, r.consequent): r
        for r in association_rules(
            df, basket_col="bk", item_col="it", min_count=2
        ).collect()
    }
    expect_pairs = {p: c for p, c in pair_n.items() if c >= 2}
    assert set(got) == {
        *[(a, c) for (a, c) in expect_pairs],
        *[(c, a) for (a, c) in expect_pairs],
    }
    for (a, c), r in got.items():
        np = pair_n[tuple(sorted((a, c)))]
        assert r.n_pair == np
        assert r.support == pytest.approx(round(np / n_b, 6))
        assert r.confidence == pytest.approx(round(np / item_n[a], 6))
        assert r.lift == pytest.approx(
            round((np / item_n[a]) / (item_n[c] / n_b), 6)
        )


@pytest.mark.parametrize("seed", SEEDS)
def test_kaplan_meier_random_censoring_vs_reference(spark, seed):
    from workshoop2_etl_spark.operators.timeseries import kaplan_meier

    rng = random.Random(seed)
    subjects = [
        (rng.randrange(1, 15), 1 if rng.random() < 0.7 else 0)
        for _ in range(60)
    ]
    df = spark.createDataFrame(subjects, "d int, e int")
    got = {
        r.duration: (r.n_risk, r.n_events, r.survival)
        for r in kaplan_meier(df, duration_col="d", event_col="e").collect()
    }
    # reference product-limit
    times = sorted({d for d, e in subjects if e == 1})
    s = 1.0
    for t in times:
        n_risk = sum(1 for d, _ in subjects if d >= t)
        d_t = sum(1 for d, e in subjects if d == t and e == 1)
        s *= 1.0 - d_t / n_risk
        gr, gd, gs = got[t]
        assert gr == n_risk and gd == d_t
        assert gs == pytest.approx(round(s, 6), abs=2e-6)
    assert set(got) == set(times)


@pytest.mark.parametrize("seed", SEEDS)
def test_phrase_search_random_corpus_vs_bruteforce(spark, seed):
    from workshoop2_etl_spark.operators.textstats import phrase_search

    rng = random.Random(seed)
    vocab = ["x", "y", "z"]
    docs = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randrange(3, 25))))
        for i in range(30)
    ]
    phrase = ["x", "y", "x"]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r.doc_id: r.n_occurrences
        for r in phrase_search(df, "doc_id", "text", phrase).collect()
    }
    for i, text in docs:
        toks = text.split()
        n = sum(
            1
            for p in range(len(toks) - len(phrase) + 1)
            if toks[p : p + len(phrase)] == phrase
        )
        assert got.get(i, 0) == n, (i, text)


@pytest.mark.parametrize("seed", SEEDS)
def test_moment_stats_random_groups(spark, seed):
    import numpy as np

    from workshoop2_etl_spark.operators.analytics import moment_stats

    rng = np.random.default_rng(seed)
    rows = []
    groups = {}
    for g in range(3):
        xs = rng.normal(rng.uniform(-5, 5), rng.uniform(0.5, 3), 80)
        groups[f"g{g}"] = xs
        rows += [(f"g{g}", float(v)) for v in xs]
    df = spark.createDataFrame(rows, "k string, x double")
    out = {r.k: r for r in moment_stats(df, "k", "x").collect()}
    for g, xs in groups.items():
        mu = xs.mean()
        m2 = ((xs - mu) ** 2).mean()
        m3 = ((xs - mu) ** 3).mean()
        m4 = ((xs - mu) ** 4).mean()
        assert out[g].variance == pytest.approx(m2, abs=1e-4)
        assert out[g].skewness == pytest.approx(m3 / m2**1.5, abs=1e-4)
        assert out[g].kurtosis == pytest.approx(m4 / m2**2 - 3, abs=1e-4)
