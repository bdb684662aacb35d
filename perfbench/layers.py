"""Per-layer counters read from Spark's own stores, plus the process RSS probe.

Nothing here changes how the engine runs: every reader looks at state Spark
keeps anyway.

- SQL status store (``sharedState().statusStore()``, live with the UI off):
  per-execution plan-graph metrics, submission and completion times.
- Status tracker (job groups): jobs, stages and tasks an operation ran.
- RDD storage info: persistent RDDs an operation pinned (lineage cuts).
- JVM GC beans: collection time inside operation windows.
- ``/proc``: resident set size of the Spark JVM and its Python workers.
"""

from __future__ import annotations

import os
import re
import threading
from collections import Counter

# Which SQL metric feeds which per-layer counter: (metric name, node-name
# prefix or "" for any node, counter). Values are summed over every node of
# every execution an operation ran.
SQL_METRICS: list[tuple[str, str, str]] = [
    ("scan time", "", "sources.scan_ms"),
    ("size of files read", "", "sources.bytes_read"),
    ("number of files read", "", "sources.files_read"),
    ("written output", "", "sources.bytes_written"),
    ("number of written files", "", "sources.files_written"),
    ("duration", "WholeStageCodegen", "operators.codegen_ms"),
    ("time in aggregation build", "", "operators.agg_build_ms"),
    ("shuffle bytes written", "", "operators.shuffle_bytes_written"),
    ("shuffle records written", "", "operators.shuffle_records_written"),
    ("fetch wait time", "", "operators.shuffle_fetch_wait_ms"),
    ("spill size", "", "operators.spill_bytes"),
    ("data size", "BroadcastExchange", "operators.broadcast_bytes"),
    ("time to build", "BroadcastExchange", "operators.broadcast_build_ms"),
    ("data sent to Python workers", "", "llmprep.python_bytes_sent"),
    ("data returned from Python workers", "", "llmprep.python_bytes_returned"),
]
# Output rows of a node that exchanged data with Python workers.
PYTHON_ROWS = "llmprep.python_rows"

_SIZE = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}
_TIME_MS = {"ms": 1.0, "s": 1000.0, "m": 60_000.0, "min": 60_000.0, "h": 3_600_000.0}
_VALUE = re.compile(r"(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """A status-store metric string as a number in base units (bytes, ms or
    a count). Multi-task metrics read ``total (min, med, max ...)\\n<total>
    (...)``; the total is the first value after the header line."""
    lines = text.strip().splitlines()
    body = lines[1] if len(lines) > 1 and lines[0].startswith("total") else lines[0]
    m = _VALUE.search(body)
    if m is None:
        raise ValueError(f"unparseable metric value {text!r}")
    number = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _SIZE:
        return number * _SIZE[unit]
    if unit in _TIME_MS:
        return number * _TIME_MS[unit]
    return number


class SqlHarvester:
    """Reads SQL executions that finished since the previous harvest.

    Execution ids are dense, so an id missing from the store between the
    last harvested id and the newest one was evicted by
    ``spark.sql.ui.retainedExecutions`` before it could be read."""

    def __init__(self, spark):
        self._store = spark._jsparkSession.sharedState().statusStore()
        self._bus = spark.sparkContext._jsc.sc().listenerBus()
        self.next_id = self._max_id() + 1
        self.evicted = 0

    def _max_id(self) -> int:
        ex = self._store.executionsList()
        return max((ex.apply(k).executionId() for k in range(ex.size())), default=-1)

    def harvest(self) -> list[dict]:
        """Drain the listener bus, then read every new execution: its times
        (epoch ms) and its per-layer metric sums."""
        self._bus.waitUntilEmpty(30_000)
        ex = self._store.executionsList()
        rows = {}
        for k in range(ex.size()):
            e = ex.apply(k)
            if e.executionId() >= self.next_id:
                rows[e.executionId()] = e
        if not rows:
            return []
        top = max(rows)
        self.evicted += (top - self.next_id + 1) - len(rows)
        self.next_id = top + 1
        return [self._read(eid, rows[eid]) for eid in sorted(rows)]

    def _read(self, eid: int, e) -> dict:
        values = self._store.executionMetrics(eid)
        counters: Counter = Counter()
        nodes = self._store.planGraph(eid).allNodes().iterator()
        while nodes.hasNext():
            node = nodes.next()
            name = node.name()
            python_node = False
            rows = 0.0
            metrics = node.metrics().iterator()
            while metrics.hasNext():
                metric = metrics.next()
                got = values.get(metric.accumulatorId())
                if not got.isDefined():
                    continue
                mname = metric.name()
                if mname == "number of output rows":
                    rows = parse_metric(got.get())
                for metric_name, prefix, key in SQL_METRICS:
                    if mname == metric_name and name.startswith(prefix):
                        counters[key] += parse_metric(got.get())
                        python_node |= key.startswith("llmprep.")
            if python_node:
                counters[PYTHON_ROWS] += rows
        done = e.completionTime()
        return {
            "id": eid,
            "root": e.rootExecutionId(),
            "description": e.description()[:120],
            "start_ms": e.submissionTime(),
            "end_ms": done.get().getTime() if done.isDefined() else None,
            "counters": dict(counters),
        }


def job_counts(spark, group: str) -> dict[str, float]:
    """Jobs, stages that ran tasks, and tasks of one job group."""
    tracker = spark.sparkContext.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages: set[int] = set()
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        if info is not None:
            stages.update(int(s) for s in info.stageIds)
    tasks = 0
    ran = 0
    for sid in stages:
        info = tracker.getStageInfo(sid)
        if info is not None and info.numCompletedTasks > 0:
            ran += 1
            tasks += info.numCompletedTasks
    return {"operators.jobs": len(jobs), "operators.stages": ran, "operators.tasks": tasks}


def pinned_rdds(spark) -> dict[str, float]:
    """Persistent RDDs and their stored bytes, read before the cache clear."""
    jsc = spark.sparkContext._jsc
    infos = jsc.sc().getRDDStorageInfo()
    return {
        "lineage.cut_rdds": len(jsc.getPersistentRDDs()),
        "lineage.cut_bytes": float(sum(i.memSize() + i.diskSize() for i in infos)),
    }


def gc_millis(spark) -> int:
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans)


def process_tree(root: int) -> set[int]:
    """``root`` and all its live descendants."""
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        parent[int(entry)] = int(raw.rsplit(")", 1)[1].split()[1])
    tree = {root}
    grew = True
    while grew:
        grew = False
        for pid, ppid in parent.items():
            if ppid in tree and pid not in tree:
                tree.add(pid)
                grew = True
    return tree


def _rss_tree_bytes(root: int) -> int:
    """Summed RSS of ``root`` and all its descendants."""
    total = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
        except OSError:
            continue
    return total


class RssSampler:
    """Samples the RSS of the Spark JVM and its Python workers every
    ``interval`` seconds while started; ``peak_mb`` is the largest sum seen.
    Spikes shorter than the interval can be missed."""

    def __init__(self, jvm_pid: int, interval: float = 0.1):
        self._pid = jvm_pid
        self._interval = interval
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self.peak_bytes = 0

    def _loop(self) -> None:
        while True:
            self.peak_bytes = max(self.peak_bytes, _rss_tree_bytes(self._pid))
            if self._stop.wait(self._interval):
                return

    def __enter__(self) -> "RssSampler":
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / (1024 * 1024)
