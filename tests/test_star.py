"""Star-schema builder tests: surrogate-key determinism, upsert
stability, FK resolution with null routing (SURVEY.md §7 item d)."""

from __future__ import annotations

from workshoop2_etl_spark.operators.star import build_dim, resolve_fk, upsert_dim
from workshoop2_etl_spark.plans.pipelines import DimSpec, star_pipeline


def test_build_dim_deterministic_keys(spark):
    src = spark.createDataFrame(
        [("beta",), ("alpha",), ("beta",), (None,)], "name string"
    )
    dim = build_dim(src, ["name"], "id").collect()
    got = {r["name"]: r["id"] for r in dim}
    assert got == {"alpha": 1, "beta": 2}  # ordered by natural key; nulls dropped


def test_build_dim_repartition_invariant(spark):
    src = spark.createDataFrame([(f"n{i:03d}",) for i in range(50)], "name string")
    a = {(r["name"], r["id"]) for r in build_dim(src, ["name"], "id").collect()}
    b = {
        (r["name"], r["id"])
        for r in build_dim(src.repartition(7), ["name"], "id").collect()
    }
    assert a == b  # stable across partitionings, unlike monotonically_increasing_id


def test_upsert_dim_preserves_existing_ids(spark):
    existing = spark.createDataFrame([(1, "alpha"), (2, "zeta")], "id int, name string")
    src = spark.createDataFrame([("alpha",), ("beta",), ("gamma",)], "name string")
    out = {r["name"]: r["id"] for r in upsert_dim(existing, src, ["name"], "id").collect()}
    assert out["alpha"] == 1 and out["zeta"] == 2  # untouched
    assert out["beta"] == 3 and out["gamma"] == 4  # continue after max, nk order


def test_resolve_fk_required_drops_unresolved(spark):
    dim = spark.createDataFrame([(1, "a")], "id int, name string")
    facts = spark.createDataFrame([("a", 10), ("zz", 20)], "name string, v int")
    out = resolve_fk(facts, dim, ["name"], "id", required=True)
    rows = out.collect()
    assert len(rows) == 1 and rows[0]["id"] == 1


def test_star_pipeline_end_to_end(spark):
    src = spark.createDataFrame(
        [("song1", "art1", 2020), ("song2", "art1", 2021), ("song1", "art2", None)],
        "song string, artist string, year int",
    )
    dims, fact = star_pipeline(
        src,
        [
            DimSpec("dim_song", ["song"], "song_id"),
            DimSpec("dim_artist", ["artist"], "artist_id"),
        ],
        fact_cols=["year"],
    )
    assert dims["dim_song"].count() == 2
    assert dims["dim_artist"].count() == 2
    rows = fact.collect()
    assert len(rows) == 3
    assert set(fact.columns) == {"song_id", "artist_id", "year"}


def test_scd2_history_collapses_runs(spark):
    from datetime import date

    from workshoop2_etl_spark.operators.star import scd2_history

    snaps = spark.createDataFrame(
        [
            # key 1: A,A,B,B,A — three runs
            (1, "A", date(2024, 1, 1)),
            (1, "A", date(2024, 1, 2)),
            (1, "B", date(2024, 1, 3)),
            (1, "B", date(2024, 1, 4)),
            (1, "A", date(2024, 1, 5)),
            # key 2: single run incl. a null attr snapshot opening it
            (2, None, date(2024, 2, 1)),
            (2, None, date(2024, 2, 2)),
            (2, "C", date(2024, 2, 3)),
        ],
        "k int, status string, ts date",
    )
    out = scd2_history(snaps, ["k"], ["status"], "ts")
    rows = sorted(
        out.collect(), key=lambda r: (r["k"], r["effective_from"])
    )
    k1 = [(r["status"], r["effective_from"], r["effective_to"], r["is_current"])
          for r in rows if r["k"] == 1]
    assert k1 == [
        ("A", date(2024, 1, 1), date(2024, 1, 3), False),
        ("B", date(2024, 1, 3), date(2024, 1, 5), False),
        ("A", date(2024, 1, 5), None, True),
    ]
    k2 = [(r["status"], r["is_current"]) for r in rows if r["k"] == 2]
    assert k2 == [(None, False), ("C", True)]  # null runs are first-class


def test_scd2_history_same_day_double_change_deterministic(spark):
    from datetime import date

    from workshoop2_etl_spark.operators.star import scd2_history

    # Two different statuses inside one ts granule: both runs share
    # effective_from; lead() must follow version order, not ts order.
    snaps = spark.createDataFrame(
        [(1, "A", date(2024, 1, 1)), (1, "B", date(2024, 1, 1))],
        "k int, status string, ts date",
    )
    out = scd2_history(snaps, ["k"], ["status"], "ts").collect()
    by_status = {r["status"]: r for r in out}
    assert len(out) == 2
    # Tie-break orders attributes ascending: A before B.
    assert by_status["A"]["effective_to"] == date(2024, 1, 1)
    assert by_status["A"]["is_current"] is False
    assert by_status["B"]["effective_to"] is None
    assert by_status["B"]["is_current"] is True


def test_scd2_history_validates_args(spark):
    import pytest

    from workshoop2_etl_spark.operators.star import scd2_history

    df = spark.createDataFrame([(1, "A", 1)], "k int, s string, ts int")
    with pytest.raises(ValueError, match="natural_keys"):
        scd2_history(df, [], ["s"], "ts")


def test_apply_cdc_rejects_unknown_and_null_ops(spark):
    import pytest
    from py4j.protocol import Py4JJavaError

    from workshoop2_etl_spark.operators.star import apply_cdc

    base = spark.createDataFrame([(1, "x")], "k long, v string")
    bad_verb = spark.createDataFrame(
        [(2, "UPSERT", 1, "y")], "k long, op string, seq long, v string"
    )
    with pytest.raises(Exception, match="I/U/D"):
        apply_cdc(base, bad_verb, ["k"]).collect()
    null_op = spark.createDataFrame(
        [(1, None, 1, "y")], "k long, op string, seq long, v string"
    )
    # unvalidated, a NULL op silently deletes (op != 'D' is NULL-false)
    with pytest.raises(Exception, match="NULL"):
        apply_cdc(base, null_op, ["k"]).collect()


def test_apply_cdc_unbroadcast_changes_same_result(spark):
    from workshoop2_etl_spark.operators.star import apply_cdc

    base = spark.createDataFrame(
        [(i, f"v{i}") for i in range(20)], "k long, v string"
    )
    changes = spark.createDataFrame(
        [(1, "D", 1, None), (2, "U", 2, "nv"), (99, "I", 3, "new")],
        "k long, op string, seq long, v string",
    )
    a = {(r.k, r.v) for r in apply_cdc(base, changes, ["k"]).collect()}
    assert (99, "new") in a and (2, "nv") in a
    assert not any(k == 1 for k, _ in a)
