"""Tests of the benchmark itself: the percentile rule, metric names,
span self-time arithmetic, and that each workload's answer check
rejects a deliberately corrupted answer.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import oracle  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402
from tracing import Span, self_time_by_name, self_times  # noqa: E402


# --- percentile rule -------------------------------------------------------

@pytest.mark.parametrize(
    "n, want",
    [(0, None), (19, None), (20, 50.0), (99, 50.0), (100, 90.0),
     (999, 90.0), (1000, 99.0), (10000, 99.9)],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, want):
    assert stats.tail_percentile(n) == want


def test_percentile_is_nearest_rank():
    values = [float(v) for v in range(1, 101)]
    assert stats.percentile(values, 50) == 50.0
    assert stats.percentile(values, 90) == 90.0
    assert stats.percentile([3.0], 99) == 3.0


# --- metric names ----------------------------------------------------------

def _benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_are_valid_and_match_benchmark_json():
    bench = _benchmark_json()
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert e2e == run.END_TO_END
    assert layer == run.per_layer_units()
    for name in [*e2e, *layer, *(w["name"] for w in bench["workloads"])]:
        assert stats.valid_name(name), name
    assert sorted(w["name"] for w in bench["workloads"]) == sorted(run.WORKLOADS)


@pytest.mark.parametrize("name", ["op s", "", "_lead", "a/b", "x" * 65])
def test_invalid_metric_names_are_rejected(name):
    assert not stats.valid_name(name)


# --- span self time --------------------------------------------------------

def test_self_time_subtracts_the_union_of_children_clipped_to_parent():
    spans = [
        Span(0, "op", 0.0, 10.0, None, 1),
        Span(1, "build", 1.0, 3.0, 0, 1),
        Span(2, "read", 2.0, 5.0, 0, 1),   # overlaps the previous child
        Span(3, "write", 8.0, 12.0, 0, 1),  # overhangs the parent
        Span(4, "read", 1.5, 2.5, 1, 1),   # grandchild
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - (4.0 + 2.0))
    assert st[1] == pytest.approx(2.0 - 1.0)
    assert st[4] == pytest.approx(1.0)
    by_name = self_time_by_name(spans)
    assert by_name["read"] == pytest.approx(3.0 + 1.0)
    # Each span's self time stands alone: overlapping siblings (1 s)
    # and the overhang (2 s) are not charged to the parent.
    assert sum(by_name.values()) == pytest.approx(10.0 + 1.0 + 2.0)


def test_overhead_share_pairs_each_traced_op_with_its_own_untraced_twins():
    names = ["a", "b", "a", "b", "a", "b"]
    lat = [1.0, 10.0, 1.1, 11.0, 1.0, 10.0]
    traced = [False, False, True, True, False, False]
    assert run.overhead_share(names, lat, traced) == pytest.approx(0.1)


@pytest.mark.parametrize(
    "text, want",
    [
        ("1,234", 1234.0),
        ("12 ms", 0.012),
        ("1.5 s", 1.5),
        ("total (min, med, max (stageId: taskId))\n3.0 KiB (1.0 KiB, 1.0 KiB, 1.0 KiB (stage 1.0: task 2))", 3072.0),
        ("total (min, med, max (stageId: taskId))\n441 ms (74 ms, 125 ms, 128 ms (stage 0.0: task 0))", 0.441),
    ],
)
def test_status_store_metric_text_is_parsed_to_base_units(text, want):
    from accounting import parse_metric

    assert parse_metric(text) == pytest.approx(want)


# --- answer checks reject corrupted answers --------------------------------

@pytest.fixture(scope="module")
def tiny_inputs(tmp_path_factory):
    from tools.gen_scaledata import gen

    out = str(tmp_path_factory.mktemp("sf0.001"))
    gen(0.001, out, 3)
    return out


@pytest.fixture(scope="module")
def spark():
    from workshoop2_etl_spark.session import get_session

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    session = get_session(
        app_name="perfbench-tests", master="local[2]",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    yield session
    session.stop()


@pytest.fixture(scope="module")
def warehouse(spark, tiny_inputs, tmp_path_factory):
    from tracing import NullTracer
    from workloads import etl_load

    out = str(tmp_path_factory.mktemp("wh") / "load")
    etl_load(spark, tiny_inputs, out, NullTracer())
    return out


def test_etl_check_accepts_the_load_and_rejects_a_corrupted_one(tiny_inputs, warehouse, tmp_path):
    expected = oracle.etl_expected(tiny_inputs)
    assert all(v for k, v in expected.items() if k.startswith("merge_")), expected
    assert oracle.check_etl(expected, oracle.etl_written(warehouse)) == []
    broken = str(tmp_path / "broken")
    shutil.copytree(warehouse, broken)
    part = sorted(glob.glob(f"{broken}/fact_orders/*.parquet"))[0]
    pq.write_table(pq.read_table(part).slice(1), part)  # lose one fact row
    assert oracle.check_etl(expected, oracle.etl_written(broken))


def test_dashboard_check_rejects_a_corrupted_card(spark, warehouse):
    from tracing import NullTracer
    from workloads import build_card

    want = oracle.dashboard_hashes(warehouse)
    got = build_card(spark, warehouse, "avg_price_by_priority", NullTracer()).toPandas()
    assert oracle.same_answer(got, want["avg_price_by_priority"])
    got.loc[0, "n"] += 1
    assert not oracle.same_answer(got, want["avg_price_by_priority"])


def test_checker_runs_the_duckdb_side_in_a_child_process():
    import pandas as pd
    from accounting import PeakRss
    from tools.verify_entries import _hash

    frame = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.5, 2.5]})
    want = {"same": _hash(frame), "short": _hash(frame)}
    with PeakRss() as rss:
        got = run.Checker(rss)("mismatched", {"same": frame, "short": frame.iloc[1:]}, want)
    assert got == ["short"]


def test_registry_check_rejects_a_corrupted_answer(spark, tiny_inputs):
    from __spark_entry__ import queries

    name = "mode_or_first_lineitem"
    want = oracle.registry_hashes(tiny_inputs, [name])
    got = queries()[name](spark, tiny_inputs).toPandas()
    assert oracle.same_answer(got, want[name])
    assert not oracle.same_answer(got.iloc[1:], want[name])
