#!/usr/bin/env python3
"""Benchmark of the engine on the paper's workload and a registry mix.

    python3 perfbench/run.py --workload paper_etl --seed 1 --seconds 10 --trace 0

Run from the repository root. Inputs come from ``tools/gen_scaledata``
with the given seed and are cached under ``.benchdata/perfbench``. One
closed-loop client in one driver process on ``local[nproc]``: the
workload warms up (its answers are checked there), then ops run back
to back in whole rounds: as many as take ``--seconds`` on the reference
box (at least one).

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end ones; ``--trace 1`` alternates traced and untraced rounds
and reports the per-layer metrics, including the tracing overhead.
A readable summary goes to stderr.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import pickle
import random
import shutil
import subprocess
import sys
import tempfile
import time
import traceback

import stats
from tracing import NullTracer, Tracer, self_time_by_name, total_time_by_name

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".benchdata", "perfbench")

#: Scale factor of the generated inputs. A run is mostly a cold JVM's
#: warm-up; at sf 0.1 one cold registry round alone takes ~50 s on the
#: reference box, more than a run can spend.
SF = 0.01
CPUS = len(os.sched_getaffinity(0))
#: Driver heap: ample at sf 0.01 and small enough for a shared host.
DRIVER_MEM = "2g"

END_TO_END = {
    "op_s_p50": "s",
    "ops_per_s": "1/s",
    "rows_per_s": "rows/s",
    "peak_rss_mb": "MB",
    "setup_s": "s",
}

#: Spans whose Spark jobs count as plan construction, and as execution.
BUILD_SPANS = ("plans.build", "pipelines.clean_pipeline", "pipelines.star_pipeline")
EXEC_SPANS = ("exec.action", "pipelines.merge_pipeline", "sources.write_parquet")


def per_layer_units() -> dict[str, str]:
    from workloads import REGISTRY_MIX

    units = {
        "session.get_session_s": "s",
        "sources.read_parquet_s": "s",
        "sources.read_calls": "count",
        "sources.read_jobs": "count",
        "sources.write_parquet_s": "s",
        "sources.bytes_written": "B",
        "sources.files_written": "count",
        "sources.write_amplification": "ratio",
        "pipelines.clean_pipeline_s": "s",
        "pipelines.merge_pipeline_s": "s",
        "pipelines.star_pipeline_s": "s",
        "pipelines.merge_both": "count",
        "pipelines.merge_left_only": "count",
        "pipelines.merge_right_only": "count",
        "pipelines.fk_miss": "count",
        "plans.build_s": "s",
        "plans.build_self_s": "s",
        "plans.build_jobs": "count",
        "plans.build_share": "ratio",
        "catalyst.plan_s": "s",
        "exec.action_s": "s",
        "exec.jobs": "count",
        "exec.stages": "count",
        "exec.tasks": "count",
        "exec.task_run_s": "s",
        "exec.task_cpu_s": "s",
        "exec.gc_s": "s",
        "exec.shuffle_write_bytes": "B",
        "exec.shuffle_read_bytes": "B",
        "exec.spill_bytes": "B",
        "exec.core_util": "ratio",
        "exec.scan_s": "s",
        "exec.agg_build_s": "s",
        "exec.broadcast_build_s": "s",
        "exec.sort_s": "s",
        "exec.python_bytes_sent": "B",
    }
    units.update({f"operators.{q}_s": "s" for q in REGISTRY_MIX})
    units.update({"paper_etl.load_s": "s", "paper_etl.card_s": "s", "paper_etl.load_share": "ratio"})
    units.update(
        {
            "trace.op_s_p50_traced": "s",
            "trace.op_s_p50_untraced": "s",
            "trace.overhead_share": "ratio",
        }
    )
    return units


# ---------------------------------------------------------------------------
# Workloads
# ---------------------------------------------------------------------------


class Workload:
    """``round`` orders one round of ops; ``run`` executes one op (timed
    by the caller); ``check`` returns problems with the op's answer and
    is never timed. ``checker`` runs the DuckDB side of a check."""

    #: Nominal round time on the reference 4-core box, seconds.
    ROUND_S: float

    def __init__(self, spark, sf_dir: str, checker) -> None:
        self.spark = spark
        self.sf_dir = sf_dir
        self.checker = checker
        self.wrong: dict[str, str] = {}
        self.layer: dict[str, float] = {}
        self.rows: dict[str, int] = {}

    def round(self, rng: random.Random) -> list[str]:
        raise NotImplementedError

    def warm_up(self, checks) -> None:
        raise NotImplementedError

    def run(self, name: str, tracer) -> None:
        raise NotImplementedError

    def check(self, name: str) -> list[str]:
        return [self.wrong[name]] if name in self.wrong else []

    def input_rows(self, name: str) -> int:
        """Declared input rows of one op, from the parquet footers."""
        return self.rows[name]


def run_frame(build, tracer) -> None:
    """Build a query, then execute it to the noop sink."""
    with tracer.span("plans.build"):
        df = build()
    with tracer.span("exec.action"):
        df.write.mode("overwrite").format("noop").save()


class PaperEtl(Workload):
    """The paper's workload as a whole. A round is one full warehouse
    load into a fresh directory, then passes over the ten dashboard
    cards, each pass in its own seeded order and each card built from
    scratch over ``read_parquet`` as a fresh dashboard request would."""

    #: Card passes per load. A sampling choice, not a traffic model:
    #: the pass right after a load is the slowest and varies most from
    #: run to run, and with three passes (thirty card samples a round)
    #: the median falls among the later ones. The load stays in every
    #: round, so ``ops_per_s`` and ``rows_per_s`` carry it
    #: (``paper_etl.load_share`` says how much of the timed window).
    CARD_PASSES = 3
    ROUND_S = 17.0

    def __init__(self, spark, sf_dir: str, checker, expected: dict) -> None:
        import oracle
        from workloads import DASHBOARD_CARDS

        super().__init__(spark, sf_dir, checker)
        self.cards = list(DASHBOARD_CARDS)
        self.expected = expected
        inputs = [f"{sf_dir}/{t}.parquet" for t in ("lineitem", "orders")]
        self.rows = {"load": sum(oracle.parquet_rows(f) for f in inputs)}
        self.in_bytes = sum(os.path.getsize(f) for f in inputs)
        self.loads = 0
        self.warehouse = ""

    def round(self, rng: random.Random) -> list[str]:
        order = ["load"]
        for _ in range(self.CARD_PASSES):
            cards = list(self.cards)
            rng.shuffle(cards)
            order += cards
        return order

    def warm_up(self, checks) -> None:
        """One round: a load and every card, each answer checked."""
        import oracle
        from workloads import build_card

        self.run("load", NullTracer())
        with checks:
            problems = self.check("load")
            if problems:
                raise RuntimeError(f"warm-up load wrong: {problems}")
            want = self.checker("dashboard_hashes", self.warehouse)
        got = {}
        for name in self.cards:
            try:
                got[name] = build_card(self.spark, self.warehouse, name, NullTracer()).toPandas()
            except Exception as exc:
                traceback.print_exc(file=sys.stderr)
                self.wrong[name] = f"{name}: raised {exc!r}"
        with checks:
            for name in self.checker("mismatched", got, want):
                self.wrong[name] = f"{name}: answer differs from DuckDB"
            for name in self.cards:
                self.rows[name] = sum(
                    oracle.parquet_rows(f"{self.warehouse}/{t}") for t in _card_tables(name)
                )

    def run(self, name: str, tracer) -> None:
        from workloads import build_card, etl_load

        if name == "load":
            self.loads += 1
            self.warehouse = os.path.join(WORK, f"warehouse{self.loads}")
            etl_load(self.spark, self.sf_dir, self.warehouse, tracer)
        else:
            run_frame(lambda: build_card(self.spark, self.warehouse, name, tracer), tracer)

    def check(self, name: str) -> list[str]:
        """A load is checked against the DuckDB figures every time; a
        card's answer was checked in warm-up."""
        import oracle

        if name != "load":
            return super().check(name)
        shutil.rmtree(os.path.join(WORK, f"warehouse{self.loads - 1}"), ignore_errors=True)
        got = self.checker("etl_written", self.warehouse)
        files = glob.glob(f"{self.warehouse}/**/*.parquet", recursive=True)
        written = sum(os.path.getsize(f) for f in files)
        self.layer = {
            "pipelines.merge_both": got["merge_both"],
            "pipelines.merge_left_only": got["merge_left_only"],
            "pipelines.merge_right_only": got["merge_right_only"],
            "pipelines.fk_miss": got["fk_miss"],
            "sources.bytes_written": written,
            "sources.files_written": len(files),
            "sources.write_amplification": written / self.in_bytes,
        }
        return oracle.check_etl(self.expected, got)

def _card_tables(name: str) -> list[str]:
    import oracle

    sql = oracle.DASHBOARD_SQL[name]
    return [t for t in oracle.WAREHOUSE_TABLES if t in sql]


class RegistryMix(Workload):
    """Each op is one oracle-backed registry query to the noop sink."""

    #: Input tables each mix query reads (declared rows per op).
    TABLES = {
        "pagerank_fixed_point_copurchase": ("lineitem",),
        "entity_resolution_customers": ("customer",),
        "winnow_candidates_documents": ("documents",),
        "ngram_jaccard_pairs_documents": ("documents",),
        "triangles_copurchase_lineitem": ("lineitem",),
        "session_concurrency_events": ("events",),
        "warc_pdf_extract_documents": ("documents",),
        "mode_or_first_lineitem": ("lineitem",),
    }

    ROUND_S = 12.0

    def __init__(self, spark, sf_dir: str, checker, expected: dict) -> None:
        import oracle
        from __spark_entry__ import queries
        from workloads import REGISTRY_MIX

        super().__init__(spark, sf_dir, checker)
        self.want = expected
        self.queries = queries()
        self.rows = {
            q: sum(oracle.parquet_rows(f"{sf_dir}/{t}.parquet") for t in self.TABLES[q])
            for q in REGISTRY_MIX
        }

    def round(self, rng: random.Random) -> list[str]:
        from workloads import REGISTRY_MIX

        order = list(REGISTRY_MIX)
        rng.shuffle(order)
        return order

    def warm_up(self, checks) -> None:
        """One round: every query collected and its answer checked."""
        from workloads import REGISTRY_MIX

        got = {}
        for name in REGISTRY_MIX:
            try:
                got[name] = self.queries[name](self.spark, self.sf_dir).toPandas()
            except Exception as exc:
                traceback.print_exc(file=sys.stderr)
                self.wrong[name] = f"{name}: raised {exc!r}"
        with checks:
            for name in self.checker("mismatched", got, self.want):
                self.wrong[name] = f"{name}: answer differs from its oracle_sql twin"

    def run(self, name: str, tracer) -> None:
        run_frame(lambda: self.queries[name](self.spark, self.sf_dir), tracer)

WORKLOADS = {"paper_etl": PaperEtl, "registry_mix": RegistryMix}


class Checker:
    """Runs one of ``oracle.COMMANDS`` in a short-lived child process
    with the memory sampler paused, so neither DuckDB nor the memory it
    leaves behind counts in ``peak_rss_mb``."""

    def __init__(self, rss) -> None:
        self.rss = rss

    def __call__(self, command: str, *args):
        env = dict(os.environ, PYTHONPATH=os.pathsep.join([ROOT, HERE]))
        with self.rss.paused():
            out = subprocess.run(
                [sys.executable, os.path.join(HERE, "oracle.py"), command],
                input=pickle.dumps(args), capture_output=True, env=env, cwd=ROOT, timeout=120,
            )
        if out.returncode != 0:
            raise RuntimeError(f"oracle {command} failed:\n{out.stderr.decode()[-4000:]}")
        return json.loads(out.stdout)


class Stopwatch:
    """Context manager summing the time spent inside it (answer checks,
    which set-up time excludes)."""

    def __init__(self) -> None:
        self.total = 0.0

    def __enter__(self):
        self._t = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.total += time.perf_counter() - self._t


# ---------------------------------------------------------------------------
# Runner
# ---------------------------------------------------------------------------


def prepare_inputs(seed: int) -> str:
    from tools.gen_scaledata import gen

    sf_dir = os.path.join(WORK, f"sf{SF}-seed{seed}")
    if not os.path.exists(os.path.join(sf_dir, "GENERATED.json")):
        shutil.rmtree(sf_dir, ignore_errors=True)
        gen(SF, sf_dir, seed)
    return sf_dir


def expected_answers(workload: str, sf_dir: str, checker) -> dict:
    if workload == "registry_mix":
        from workloads import REGISTRY_MIX

        return checker("registry_hashes", sf_dir, REGISTRY_MIX)
    return checker("etl_expected", sf_dir)


def keep_files_in_checkout() -> None:
    """Point every temp and scratch dir of this process, the JVMs it
    launches and their Python workers into ``WORK``."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"


def start_session():
    from workshoop2_etl_spark.session import get_session

    return get_session(
        app_name="perfbench",
        master=f"local[{CPUS}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(WORK, "spark-warehouse"),
        },
    )


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [ROOT, HERE]
    keep_files_in_checkout()
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    try:
        from accounting import PeakRss, SparkAccounting, stop_session
    except ImportError as exc:
        print(f"perfbench: cannot import the engine from {ROOT}: {exc}", file=sys.stderr)
        return 2

    wall = {"start": time.perf_counter()}
    sf_dir = prepare_inputs(args.seed)
    for stale in glob.glob(os.path.join(WORK, "warehouse*")):
        shutil.rmtree(stale)
    wall["inputs"] = time.perf_counter()
    null = NullTracer()
    acct = None
    tracer = null

    with PeakRss() as rss:
        checker = Checker(rss)
        expected = expected_answers(args.workload, sf_dir, checker)
        wall["expected"] = t0 = time.perf_counter()
        checks = Stopwatch()
        if args.trace:
            tracer = Tracer()
        with tracer.span("session.get_session"):
            spark = start_session()
        try:
            workload = WORKLOADS[args.workload](spark, sf_dir, checker, expected)
            workload.warm_up(checks)
            wall["warm-up"] = time.perf_counter()
            setup_s = wall["warm-up"] - t0 - checks.total
            if args.trace:
                acct = SparkAccounting(spark)
                tracer.on_enter = lambda s: _tag_jobs(acct, s)
                tracer.on_exit = lambda s: _untag_jobs(acct, tracer, s)
            result = measure(workload, args, tracer, null, acct)
            wall["timed"] = time.perf_counter()
        finally:
            if acct is not None:
                acct.close()
            stop_session(spark)
    wall["stop"] = time.perf_counter()
    lat = result["latencies"]
    attempted = result["attempted"]
    failed = result["failed"]
    ok = [t for t, good in lat if good]
    window = sum(t for t, _ in lat)
    metrics: dict[str, tuple[float, str]] = {}
    if args.trace:
        metrics = layer_metrics(tracer, result)
    elif ok:
        values = {
            "op_s_p50": stats.median(ok),
            "ops_per_s": len(ok) / window,
            "rows_per_s": result["rows"] / window,
            "peak_rss_mb": rss.peak / 2**20,
            "setup_s": setup_s,
        }
        metrics = {k: (values[k], unit) for k, unit in END_TO_END.items()}
    print_summary(args, metrics, attempted, failed, result, workload.wrong, wall)
    if args.trace:
        tracer.dump(os.path.join(WORK, f"trace-{args.workload}-seed{args.seed}.jsonl"))
    report = {
        "correct": failed == 0 and not workload.wrong,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(report))
    return 0


def _tag_jobs(acct, span) -> None:
    phase = _phase(span.name)
    if phase is not None:
        acct.start_phase(phase, f"op{span.op}/{span.id}")


def _untag_jobs(acct, tracer, span) -> None:
    if _phase(span.name) is None:
        return
    # Jobs after a nested span belong to the enclosing span again.
    for sid in reversed(tracer.stack):
        outer = tracer.spans[sid]
        if _phase(outer.name) is not None:
            acct.start_phase(_phase(outer.name), f"op{outer.op}/{outer.id}")
            return
    acct.end_phase()


def _phase(name: str) -> str | None:
    if name == "sources.read_parquet":
        return "read"
    if name in BUILD_SPANS:
        return "build"
    if name in EXEC_SPANS:
        return "exec"
    return None


def measure(workload, args, tracer, null, acct) -> dict:
    """Whole rounds of ops in a seeded order: ``--seconds`` over the
    workload's nominal round time, so every run times the same work
    whatever the machine's speed that minute (a time-based stop flips
    between round counts on a round boundary). In a traced run every
    other round is traced, starting untraced, and there are at least
    three rounds, so every traced op has an untraced twin on either
    side of it."""
    rng = random.Random(args.seed)
    latencies: list[tuple[float, bool]] = []
    traced: list[bool] = []
    names: list[str] = []
    counters: list[dict[str, float]] = []
    layer: dict[str, float] = {}
    attempted = failed = rows = 0
    rounds = max(1, round(args.seconds / workload.ROUND_S))
    if args.trace:
        rounds = max(3, rounds)
    for rnd in range(rounds):
        order = workload.round(rng)
        trace_round = bool(args.trace) and rnd % 2 == 1
        for name in order:
            op_tracer = tracer if trace_round else null
            if trace_round:
                tracer.op = len(latencies)
            attempted += 1
            good = True
            t = time.perf_counter()
            try:
                workload.run(name, op_tracer)
            except Exception:
                traceback.print_exc(file=sys.stderr)
                good = False
            dt = time.perf_counter() - t
            if good:
                try:
                    problems = workload.check(name)
                except Exception as exc:
                    problems = [f"{name}: answer check raised {exc!r}"]
                if problems:
                    print("\n".join(problems), file=sys.stderr)
                    good = False
            if good:
                rows += workload.input_rows(name)
            else:
                failed += 1
            latencies.append((dt, good))
            traced.append(trace_round)
            names.append(name)
            if acct is not None:
                got = acct.collect()
                if trace_round:
                    counters.append(got)
            layer.update(workload.layer)
    return {
        "latencies": latencies,
        "traced": traced,
        "names": names,
        "counters": counters,
        "layer": layer,
        "attempted": attempted,
        "failed": failed,
        "rows": rows,
    }


def layer_metrics(tracer, result: dict) -> dict[str, tuple[float, str]]:

    units = per_layer_units()
    values = {name: 0.0 for name in units}
    spans = tracer.spans
    setup = [s for s in spans if s.name == "session.get_session"]
    values["session.get_session_s"] = setup[0].end - setup[0].start
    lat = result["latencies"]
    traced_lat = [t for (t, _), tr in zip(lat, result["traced"]) if tr]
    untraced_lat = [t for (t, _), tr in zip(lat, result["traced"]) if not tr]
    n = max(1, len(traced_lat))
    op_spans = [s for s in spans if s.op is not None]
    totals = total_time_by_name(op_spans)
    top = [s for s in op_spans if s.parent is None]
    values["sources.read_parquet_s"] = totals.get("sources.read_parquet", 0.0) / n
    values["sources.read_calls"] = sum(s.name == "sources.read_parquet" for s in op_spans) / n
    values["sources.write_parquet_s"] = totals.get("sources.write_parquet", 0.0) / n
    for name in ("clean_pipeline", "merge_pipeline", "star_pipeline"):
        values[f"pipelines.{name}_s"] = totals.get(f"pipelines.{name}", 0.0) / n
    values["plans.build_s"] = sum(
        s.end - s.start for s in top if s.name in BUILD_SPANS or s.name == "sources.read_parquet"
    ) / n
    # Query construction net of the reads nested inside it.
    values["plans.build_self_s"] = self_time_by_name(op_spans).get("plans.build", 0.0) / n
    values["exec.action_s"] = sum(s.end - s.start for s in top if s.name in EXEC_SPANS) / n
    summed: dict[str, float] = {}
    for c in result["counters"]:
        for k, v in c.items():
            summed[k] = summed.get(k, 0.0) + v
    values["sources.read_jobs"] = summed.get("read.jobs", 0.0) / n
    values["catalyst.plan_s"] = summed.get("catalyst.plan_s", 0.0) / n
    values["plans.build_jobs"] = (summed.get("build.jobs", 0.0) + summed.get("read.jobs", 0.0)) / n
    for key in ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
                "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"):
        values[f"exec.{key}"] = summed.get(f"exec.{key}", 0.0) / n
    for key in ("exec.scan_s", "exec.agg_build_s", "exec.broadcast_build_s",
                "exec.sort_s", "exec.python_bytes_sent"):
        values[key] = summed.get(key, 0.0) / n
    if traced_lat:
        values["plans.build_share"] = values["plans.build_s"] / (sum(traced_lat) / n)
    if values["exec.action_s"]:
        values["exec.core_util"] = values["exec.task_run_s"] / (values["exec.action_s"] * CPUS)
    values.update(result["layer"])
    # The program's own op times: untraced ops only.
    by_name: dict[str, list[float]] = {}
    for (t, _), name, tr in zip(lat, result["names"], result["traced"]):
        if tr:
            continue
        key = "paper_etl.load_s" if name == "load" else f"operators.{name}_s"
        if key not in values:
            key = "paper_etl.card_s"
        by_name.setdefault(key, []).append(t)
    for key, ts in by_name.items():
        values[key] = stats.median(ts)
    if "paper_etl.load_s" in by_name:
        values["paper_etl.load_share"] = sum(by_name["paper_etl.load_s"]) / sum(untraced_lat)
    if traced_lat and untraced_lat:
        values["trace.op_s_p50_traced"] = stats.median(traced_lat)
        values["trace.op_s_p50_untraced"] = stats.median(untraced_lat)
        values["trace.overhead_share"] = overhead_share(
            result["names"], [t for t, _ in lat], result["traced"]
        )
    return {k: (float(v), units[k]) for k, v in values.items()}


def overhead_share(names: list[str], lat: list[float], traced: list[bool]) -> float:
    """Median over traced ops of (latency / median untraced latency of
    the same op name) - 1: pairs each traced op with its untraced twins
    in the neighbouring rounds, so warm-up drift and the op mix cancel."""

    untraced: dict[str, list[float]] = {}
    for name, t, tr in zip(names, lat, traced):
        if not tr:
            untraced.setdefault(name, []).append(t)
    ratios = [
        t / stats.median(untraced[name]) - 1.0
        for name, t, tr in zip(names, lat, traced)
        if tr and name in untraced
    ]
    return stats.median(ratios)


def print_summary(args, metrics, attempted, failed, result, wrong, wall) -> None:

    out = sys.stderr
    ok = [t for t, good in result["latencies"] if good]
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace} "
          f"cores={CPUS} sf={SF}", file=out)
    for name, (value, unit) in metrics.items():
        print(f"  {name:<46} {value:14.6g} {unit}", file=out)
    print(f"  {'failed_share':<46} {failed / max(1, attempted):14.6g} ratio", file=out)
    steps = list(wall.items())
    print(f"  {'wall time per step (s)':<46} " + " ".join(
        f"{k}={t - t_prev:.1f}" for (_, t_prev), (k, t) in zip(steps, steps[1:])
    ), file=out)
    print(f"  {'op latencies (s)':<46} " + " ".join(
        f"{n}={t:.3f}" for (t, _), n in zip(result["latencies"], result["names"])
    ), file=out)
    p = stats.tail_percentile(len(ok))
    if p is not None and p > 50:
        print(f"  {'op_s_p%g' % p:<46} {stats.percentile(ok, p):14.6g} s (n={len(ok)})", file=out)
    for problem in wrong.values():
        print(f"  WRONG {problem}", file=out)


if __name__ == "__main__":
    sys.exit(main())
