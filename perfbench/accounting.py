"""Spark accounting read from outside the program: job groups per op
phase, the status tracker, the status store's stage rows and SQL
node metrics, each executed query's own planning tracker, and the
resident memory of the whole process tree.

Stage rows come from ``tools/stage_probe._stage_rows``, so the bench
and the probe read the status store one way.
"""

from __future__ import annotations

import contextlib
import os
import re
import signal
import threading
import time

from tools.stage_probe import _stage_rows

#: SQL node-metric rollups: (metric key, node-name prefix or None for
#: any node, metric name as the status store labels it).
NODE_ROLLUPS = (
    ("exec.scan_s", "Scan", "scan time"),
    ("exec.agg_build_s", None, "time in aggregation build"),
    ("exec.broadcast_build_s", "BroadcastExchange", "time to build"),
    ("exec.sort_s", "Sort", "sort time"),
    ("exec.python_bytes_sent", None, "data sent to Python workers"),
)

_UNITS = {
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_VALUE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]+)?")


def parse_metric(text: str) -> float:
    """Total of one formatted SQL metric value: ``"1,234"``, ``"12 ms"``
    or ``"total (min, med, max ...)\\n3.1 MiB (...)"``. Sizes come back
    in bytes, times in seconds."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = _VALUE.match(text)
    if m is None:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1)


class PlanningListener:
    """A ``QueryExecutionListener`` (called from the JVM through py4j)
    that sums the optimizer and planner time of every query Spark runs,
    as that query's own ``QueryPlanningTracker`` recorded it."""

    PHASES = ("optimization", "planning")

    def __init__(self) -> None:
        self.ms = 0

    def onSuccess(self, func_name, qe, duration_ns) -> None:
        phases = qe.tracker().phases()
        for name in self.PHASES:
            phase = phases.get(name)
            if phase.isDefined():
                self.ms += phase.get().durationMs()

    def onFailure(self, func_name, qe, exception) -> None:
        self.onSuccess(func_name, qe, 0)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


class SparkAccounting:
    """Per-op counters: each phase runs under its own job group; after
    the op, jobs → stages → stage rows, new SQL executions → node
    metrics, and the planning time of the queries run are summed into
    one dict. ``close`` before the session stops."""

    def __init__(self, spark) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        self.sc = spark.sparkContext
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self._groups: list[tuple[str, str]] = []
        self._last_stage = -1
        self._exec_seen = self.sql_store.executionsCount()
        ensure_callback_server_started(self.sc._gateway)
        self._listeners = spark._jsparkSession.listenerManager()
        self._planning = PlanningListener()
        self._listeners.register(self._planning)

    def close(self) -> None:
        self._listeners.unregister(self._planning)

    def start_phase(self, phase: str, group: str) -> None:
        self.sc.setJobGroup(group, phase)
        self._groups.append((phase, group))

    def end_phase(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def collect(self) -> dict[str, float]:
        """Counters for the phases since the last call."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        tracker = self.sc.statusTracker()
        stage_phase: dict[int, str] = {}
        out: dict[str, float] = {}
        for phase, group in self._groups:
            jobs = tracker.getJobIdsForGroup(group)
            out[f"{phase}.jobs"] = out.get(f"{phase}.jobs", 0) + len(jobs)
            for j in jobs:
                info = tracker.getJobInfo(j)
                for sid in info.stageIds if info else ():
                    stage_phase[sid] = phase
        self._groups = []
        rows = _stage_rows(self.sc, self._last_stage)
        if rows:
            self._last_stage = max(r["stage"] for r in rows)
        for r in rows:
            phase = stage_phase.get(r["stage"])
            if phase is None:
                continue
            for key, val in (
                ("stages", 1),
                ("tasks", r["tasks"]),
                ("task_run_s", r["run_ms"] / 1e3),
                ("task_cpu_s", r["cpu_ms"] / 1e3),
                ("gc_s", r["gc_ms"] / 1e3),
                ("shuffle_write_bytes", r["shuf_w"]),
                ("shuffle_read_bytes", r["shuf_r"]),
                ("spill_bytes", r["spill_disk"]),
            ):
                out[f"{phase}.{key}"] = out.get(f"{phase}.{key}", 0) + val
        out.update(self._node_metrics())
        out["catalyst.plan_s"] = self._planning.ms / 1e3
        self._planning.ms = 0
        return out

    def _node_metrics(self) -> dict[str, float]:
        out = {key: 0.0 for key, _, _ in NODE_ROLLUPS}
        count = self.sql_store.executionsCount()
        if count <= self._exec_seen:
            return out
        execs = self.sql_store.executionsList(self._exec_seen, count - self._exec_seen)
        self._exec_seen = count
        for i in range(execs.size()):
            eid = execs.apply(i).executionId()
            values = self.sql_store.executionMetrics(eid)
            nodes = self.sql_store.planGraph(eid).allNodes()
            for n in range(nodes.size()):
                node = nodes.apply(n)
                name = node.name()
                metrics = node.metrics()
                for m in range(metrics.size()):
                    metric = metrics.apply(m)
                    for key, prefix, label in NODE_ROLLUPS:
                        if metric.name() != label:
                            continue
                        if prefix is not None and not name.startswith(prefix):
                            continue
                        text = values.get(metric.accumulatorId())
                        if text is not None and not isinstance(text, str):
                            text = text.get() if text.isDefined() else None
                        if text:
                            out[key] += parse_metric(text)
        return out


def descendants(root: int) -> set[int]:
    """``root`` and every process below it."""
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # Field 4 (ppid) follows the parenthesised command name.
        parent[int(entry)] = int(stat.rsplit(")", 1)[1].split()[1])
    tree = {root}
    grew = True
    while grew:
        grew = False
        for pid, ppid in parent.items():
            if ppid in tree and pid not in tree:
                tree.add(pid)
                grew = True
    return tree


def _tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` and all its descendants."""
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue
    return total


class PeakRss:
    """Samples the process tree's resident memory on a daemon thread
    (driver, JVM and Python workers) and keeps the peak."""

    def __init__(self, interval_s: float = 0.5) -> None:
        self.peak = 0
        self._interval = interval_s
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while True:
            with self._lock:
                self.peak = max(self.peak, _tree_rss_bytes(me))
            if self._stop.wait(self._interval):
                return

    @contextlib.contextmanager
    def paused(self):
        """No samples while inside: for helper processes whose memory
        is not the program's (the answer checks)."""
        with self._lock:
            yield

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, _tree_rss_bytes(os.getpid()))


def stop_session(spark, timeout_s: float = 60.0) -> None:
    """Stop Spark and wait until the JVM and the Python workers it
    forked have exited; terminate any still running at the deadline."""
    gateway = spark.sparkContext._gateway
    children = descendants(os.getpid()) - {os.getpid()}
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=timeout_s)
    deadline = time.monotonic() + timeout_s
    while True:
        alive = {pid for pid in children if os.path.exists(f"/proc/{pid}")}
        if not alive or time.monotonic() > deadline:
            break
        time.sleep(0.1)
    for pid in alive:
        os.kill(pid, signal.SIGTERM)
