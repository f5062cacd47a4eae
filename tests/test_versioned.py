"""Versioned-table (time-travel) source tests: snapshot isolation via
manifests, append/overwrite/rollback lineage, optimistic publish."""

from __future__ import annotations

import os

import pytest

from workshoop2_etl_spark.sources.versioned import (
    VersionConflict,
    commit_append,
    commit_overwrite,
    create_table,
    current_version,
    history,
    read_version,
    rollback,
)


def _df(spark, lo, hi):
    return spark.range(lo, hi).selectExpr("id", "id * 10 AS v")


def test_create_append_time_travel(spark, tmp_path):
    t = str(tmp_path / "tbl")
    assert create_table(_df(spark, 0, 5), t) == 0
    assert commit_append(_df(spark, 5, 8), t) == 1
    assert current_version(t) == 2 - 1
    assert sorted(r.id for r in read_version(spark, t, 0).collect()) == list(
        range(5)
    )
    assert sorted(r.id for r in read_version(spark, t).collect()) == list(
        range(8)
    )
    ops = [m["op"] for m in history(t)]
    assert ops == ["create", "append"]


def test_overwrite_keeps_old_versions_readable(spark, tmp_path):
    t = str(tmp_path / "tbl")
    create_table(_df(spark, 0, 4), t)
    commit_overwrite(_df(spark, 100, 103), t)
    assert sorted(r.id for r in read_version(spark, t, 0).collect()) == [
        0,
        1,
        2,
        3,
    ]
    assert sorted(r.id for r in read_version(spark, t, 1).collect()) == [
        100,
        101,
        102,
    ]


def test_rollback_is_roll_forward(spark, tmp_path):
    t = str(tmp_path / "tbl")
    create_table(_df(spark, 0, 3), t)          # v0
    commit_overwrite(_df(spark, 50, 51), t)    # v1 (the "bad" load)
    v = rollback(t, 0)                         # v2 restores v0's files
    assert v == 2 and current_version(t) == 2
    assert sorted(r.id for r in read_version(spark, t).collect()) == [0, 1, 2]
    # the bad version remains auditable
    assert sorted(r.id for r in read_version(spark, t, 1).collect()) == [50]
    assert history(t)[2]["op"] == "rollback:0"


def test_optimistic_publish_conflict(spark, tmp_path):
    t = str(tmp_path / "tbl")
    create_table(_df(spark, 0, 2), t)
    with pytest.raises(VersionConflict):
        create_table(_df(spark, 0, 2), t)
    # simulate the race: writer A built its commit against parent v0,
    # but another writer published v1 first — A's publish of v1 must
    # conflict (never silently renumber, which would drop B's files)
    from workshoop2_etl_spark.sources.versioned import _commit, _publish

    _publish(t, 1, {"version": 1, "parent": 0, "op": "append", "files": []})
    with pytest.raises(VersionConflict):
        _commit(_df(spark, 2, 4), t, "append", parent=0, base_files=[])
    # a retry that re-reads the new parent succeeds as v2
    assert commit_append(_df(spark, 2, 4), t) == 2


def test_reader_never_sees_unpublished_files(spark, tmp_path):
    """Data files written without a manifest are invisible — the
    snapshot-isolation core."""
    t = str(tmp_path / "tbl")
    create_table(_df(spark, 0, 3), t)
    # orphan data write (simulates a crashed commit: files, no manifest)
    _df(spark, 900, 905).write.parquet(os.path.join(t, "data", "orphan"))
    assert sorted(r.id for r in read_version(spark, t).collect()) == [0, 1, 2]


def test_append_missing_table_raises(spark, tmp_path):
    with pytest.raises(FileNotFoundError):
        commit_append(_df(spark, 0, 1), str(tmp_path / "nope"))


def test_merge_cdc_publishes_new_version(spark, tmp_path):
    t = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "id long, v string"
    )
    create_table(base, t)
    changes = spark.createDataFrame(
        [(2, "B", "U", 1), (3, None, "D", 2), (4, "d", "I", 3)],
        "id long, v string, op string, seq long",
    )
    from workshoop2_etl_spark.sources.versioned import merge_cdc

    v = merge_cdc(spark, t, changes, ["id"])
    assert v == 1
    got = {
        (r.id, r.v) for r in read_version(spark, t).collect()
    }
    assert got == {(1, "a"), (2, "B"), (4, "d")}
    # pre-merge snapshot still readable
    assert {r.id for r in read_version(spark, t, 0).collect()} == {1, 2, 3}


def test_foreach_batch_sink_exactly_once(spark, tmp_path):
    from workshoop2_etl_spark.sources.versioned import (
        foreach_batch_versioned_sink,
    )

    t = str(tmp_path / "tbl")
    sink = foreach_batch_versioned_sink(t)
    sink(_df(spark, 0, 3), 0)
    sink(_df(spark, 3, 5), 1)
    assert sorted(r.id for r in read_version(spark, t).collect()) == list(
        range(5)
    )
    # Spark replays batch 1 after a crash/restart: must be a NO-OP
    sink(_df(spark, 3, 5), 1)
    assert current_version(t) == 1
    assert sorted(r.id for r in read_version(spark, t).collect()) == list(
        range(5)
    )
    # a genuinely new batch still lands
    sink(_df(spark, 5, 6), 2)
    assert sorted(r.id for r in read_version(spark, t).collect()) == list(
        range(6)
    )


def test_foreach_batch_sink_through_real_stream(spark, tmp_path):
    """End-to-end: a file stream writes into the versioned table via
    foreachBatch + checkpoint; a second availableNow activation with
    no new input commits nothing new."""
    import os

    from workshoop2_etl_spark.sources.versioned import (
        foreach_batch_versioned_sink,
    )

    src = str(tmp_path / "src")
    _df(spark, 0, 10).write.parquet(src)
    t = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")
    schema = spark.read.parquet(src).schema

    def run():
        stream = spark.readStream.schema(schema).parquet(src)
        q = (
            stream.writeStream.foreachBatch(
                foreach_batch_versioned_sink(t)
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)

    run()
    v1 = current_version(t)
    assert sorted(r.id for r in read_version(spark, t).collect()) == list(
        range(10)
    )
    run()  # no new files -> no new version
    assert current_version(t) == v1


def test_commit_with_expectations_pass_and_fail_invisible(spark, tmp_path):
    from workshoop2_etl_spark.sources.versioned import (
        ExpectationViolation,
        commit_with_expectations,
    )

    t = str(tmp_path / "tbl")
    good = _df(spark, 1, 6)  # ids 1..5, v = 10*id
    v = commit_with_expectations(
        good, t, {"id_positive": "id > 0", "v_bounds": "v <= 50"}, op="create"
    )
    assert v == 0
    assert history(t)[0]["expectations"]["id_positive"] == "id > 0"
    # violating append: nothing becomes visible
    bad = spark.createDataFrame([(0, None), (7, 70)], "id long, v long")
    with pytest.raises(ExpectationViolation) as ei:
        commit_with_expectations(
            bad, t, {"id_positive": "id > 0", "v_nonnull": "v IS NOT NULL"}
        )
    # id=0 violates id_positive once; v NULL violates v_nonnull once
    assert ei.value.counts == {"id_positive": 1, "v_nonnull": 1}
    assert current_version(t) == 0
    assert sorted(r.id for r in read_version(spark, t).collect()) == [
        1, 2, 3, 4, 5,
    ]


def test_compact_then_vacuum_lifecycle(spark, tmp_path):
    from workshoop2_etl_spark.sources.versioned import (
        compact_table,
        vacuum,
    )

    t = str(tmp_path / "tbl")
    create_table(_df(spark, 0, 50).repartition(6), t)      # v0: 6 files
    commit_append(_df(spark, 50, 100).repartition(6), t)   # v1: +6
    v2 = compact_table(spark, t, target_files=2)           # v2: 2 files
    assert v2 == 2
    assert sorted(r.id for r in read_version(spark, t).collect()) == list(
        range(100)
    )
    n_files_v2 = len(history(t)[2]["files"])
    assert n_files_v2 <= 2
    # vacuum with no retention arg removes only orphans -> nothing yet
    assert vacuum(t) == []
    assert sorted(r.id for r in read_version(spark, t, 0).collect()) == list(
        range(50)
    )
    # retention=1 keeps only the compacted snapshot; old files drop
    deleted = vacuum(t, keep_versions=1)
    assert deleted  # pre-compaction files reclaimed
    assert sorted(r.id for r in read_version(spark, t).collect()) == list(
        range(100)
    )
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        read_version(spark, t, 0)  # time travel truncated, explicitly


def test_vacuum_reclaims_expectation_orphans(spark, tmp_path):
    from workshoop2_etl_spark.sources.versioned import (
        ExpectationViolation,
        commit_with_expectations,
        vacuum,
    )

    t = str(tmp_path / "tbl")
    create_table(_df(spark, 1, 5), t)
    with pytest.raises(ExpectationViolation):
        commit_with_expectations(
            spark.createDataFrame([(0, 0)], "id long, v long"),
            t,
            {"pos": "id > 0"},
        )
    deleted = vacuum(t)
    assert deleted  # the failed commit's orphan files are gone
    assert sorted(r.id for r in read_version(spark, t).collect()) == [
        1, 2, 3, 4,
    ]


def test_history_and_revacuum_survive_truncation(spark, tmp_path):
    """history() and a WIDER later vacuum must tolerate the gap a
    tighter earlier vacuum left."""
    from workshoop2_etl_spark.sources.versioned import vacuum

    t = str(tmp_path / "tbl")
    create_table(_df(spark, 0, 5), t)
    for lo in (5, 10, 15):
        commit_append(_df(spark, lo, lo + 5), t)
    vacuum(t, keep_versions=1)
    assert [m["version"] for m in history(t)] == [3]
    # wider retention on the truncated table: no crash, nothing to do
    assert vacuum(t, keep_versions=3) == []
    assert sorted(r.id for r in read_version(spark, t).collect()) == list(
        range(20)
    )


def test_foreach_batch_upsert_merges_and_replays_noop(spark, tmp_path):
    """Round 11 (crawl x lakehouse): the streaming UPSERT sink merges
    by key (re-crawl replaces, never appends), keeps the pre-merge
    snapshot time-travel readable, dedups within a batch, and treats
    a replayed batch id as a no-op."""
    from workshoop2_etl_spark.sources.versioned import (
        foreach_batch_versioned_upsert,
    )

    t = str(tmp_path / "tbl")
    sink = foreach_batch_versioned_upsert(t, ["url"])
    w1 = spark.createDataFrame(
        [("u1", "v1-a"), ("u2", "v1-b"), ("u3", "v1-c")],
        "url string, content string",
    )
    sink(w1, 0)
    # wave 2: u2 re-crawled, u4 new, u4 fetched TWICE in one batch
    w2 = spark.createDataFrame(
        [("u2", "v2-b"), ("u4", "v2-d"), ("u4", "v2-d-dup")],
        "url string, content string",
    )
    sink(w2, 1)
    cur = {
        r["url"]: r["content"] for r in read_version(spark, t).collect()
    }
    assert cur == {
        "u1": "v1-a",
        "u2": "v2-b",  # replaced, not duplicated
        "u3": "v1-c",
        "u4": "v2-d",  # within-batch dedup keeps the sort-first row
    }
    # time travel: pre-recrawl snapshot intact
    v0 = {
        r["url"]: r["content"]
        for r in read_version(spark, t, 0).collect()
    }
    assert v0 == {"u1": "v1-a", "u2": "v1-b", "u3": "v1-c"}
    # crash/restart replay of batch 1: no-op, no third version
    sink(w2, 1)
    assert current_version(t) == 1
    assert {
        r["url"]: r["content"] for r in read_version(spark, t).collect()
    } == cur


def test_foreach_batch_upsert_through_restarted_stream(spark, tmp_path):
    """Checkpoint-restart: a second availableNow activation over the
    same source commits nothing; adding a source file upserts once."""
    import os

    from pyspark.sql import functions as F

    from workshoop2_etl_spark.sources.versioned import (
        foreach_batch_versioned_upsert,
    )

    src = str(tmp_path / "src")
    os.makedirs(src)
    spark.createDataFrame(
        [("u1", "a"), ("u2", "b")], "url string, content string"
    ).coalesce(1).write.parquet(f"{src}/f1")
    t = str(tmp_path / "tbl")
    ckpt = str(tmp_path / "ckpt")

    def run():
        stream = spark.readStream.schema(
            "url string, content string"
        ).parquet(f"{src}/*")
        q = (
            stream.writeStream.foreachBatch(
                foreach_batch_versioned_upsert(t, ["url"])
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)

    run()
    assert current_version(t) == 0
    run()  # restart, no new input: nothing commits
    assert current_version(t) == 0
    spark.createDataFrame(
        [("u2", "B2")], "url string, content string"
    ).coalesce(1).write.parquet(f"{src}/f2")
    run()  # restart with one new file: exactly one upsert commit
    assert current_version(t) == 1
    assert {
        r["url"]: r["content"] for r in read_version(spark, t).collect()
    } == {"u1": "a", "u2": "B2"}


def test_schema_evolution_additive_append(spark, tmp_path):
    """ADD COLUMN semantics (round 12): an append with a new column
    requires the merge_schema opt-in, old files read the new column
    as NULL, time travel pins each version's own column set, and
    rollback restores the old schema."""
    import pytest
    from pyspark.sql import functions as F

    from workshoop2_etl_spark.sources.versioned import (
        commit_append,
        create_table,
        read_version,
        rollback,
    )

    t = str(tmp_path / "evo")
    v0_df = spark.createDataFrame(
        [(1, "a"), (2, "b")], "k long, v string"
    )
    create_table(v0_df, t)

    widened = spark.createDataFrame(
        [(3, "c", "web")], "k long, v string, channel string"
    )
    # silent widening refused without the opt-in
    with pytest.raises(ValueError, match="merge_schema"):
        commit_append(widened, t)
    v1 = commit_append(widened, t, merge_schema=True)

    latest = read_version(spark, t, v1)
    assert latest.columns == ["k", "v", "channel"]
    got = {r.k: r.channel for r in latest.collect()}
    assert got == {1: None, 2: None, 3: "web"}  # old files NULL-fill

    # time travel pins v0's schema: no channel column there
    assert read_version(spark, t, 0).columns == ["k", "v"]

    # identical-schema appends still work, and the evolved schema
    # persists for batches WITHOUT the new column? No — a missing
    # column is a drop relative to the evolved schema and refuses.
    with pytest.raises(ValueError, match="missing columns"):
        commit_append(v0_df, t)
    # the caller's fix is explicit NULL-filling, which appends fine
    filled = v0_df.withColumn("channel", F.lit(None).cast("string"))
    commit_append(filled, t)

    # retyping refuses outright
    retyped = spark.createDataFrame(
        [(9, "x", 1.0)], "k long, v string, channel double"
    )
    with pytest.raises(ValueError, match="retyped"):
        commit_append(retyped, t)

    # rollback to v0 restores the pre-evolution schema
    rollback(t, 0)
    assert read_version(spark, t).columns == ["k", "v"]
