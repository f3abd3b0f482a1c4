"""Per-layer measurement taken from outside the program.

* ``StatusStore`` reads Spark's own SQL metrics back from the session's
  ``SQLAppStatusStore`` (populated with the UI disabled) for the SQL
  executions a pass started: Python worker init and run time, bytes
  crossing the Arrow boundary, file scan, shuffle, spill, and writes.
* ``RssSampler`` samples the resident memory of the whole process tree
  (driver, JVM, Python workers) from ``/proc``, shared pages counted once;
  ``process_tree_cpu_s`` reads the tree's CPU time and ``host_cpu_ticks``
  the time the hypervisor took from this host.
* ``time_per_doc`` times a call into one of the package's public functions
  on a fixed driver-side batch.

Nothing here reaches into ``safe_zone_spark``.
"""

from __future__ import annotations

import os
import re
import statistics
import threading
import time
from dataclasses import dataclass, field

MIB = 1024.0 * 1024.0

_UNIT_SCALE = {
    "B": 1.0, "KiB": 1024.0, "MiB": MIB, "GiB": MIB * 1024, "TiB": MIB * MIB,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_MAX_TASK_STAGE = re.compile(r"\(stage (\d+)\.\d+: task \d+\)")


def parse_metric(text: str, metric_type: str) -> float:
    """A formatted SQL metric as a number in base units (count, bytes or
    seconds). Spark formats a multi-task metric as
    ``total (min, med, max (stageId: taskId))\\n<total> (<min>, ...)``
    and a single value as ``<value>``; sums carry thousands separators."""
    head = text.strip().splitlines()[-1].split(" (", 1)[0].strip().replace(",", "")
    if metric_type == "sum":
        return float(head)
    number, unit = head.split()
    return float(number) * _UNIT_SCALE[unit]


@dataclass
class Execution:
    """One finished SQL execution and its plan-node metrics."""

    id: int
    duration_s: float
    plan: str
    # (node name, metric name) -> value in base units, summed over nodes
    metrics: dict[tuple[str, str], float] = field(default_factory=dict)
    # stage ids of the tasks that reported the MapInPandas maxima
    python_stages: set[int] = field(default_factory=set)

    def total(self, node_prefix: str, metric: str) -> float:
        return sum(v for (node, name), v in self.metrics.items()
                   if node.startswith(node_prefix) and name == metric)


def _scala_iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


class StatusStore:
    """Read-back of the SQL status store of one Spark session."""

    def __init__(self, spark):
        self._spark = spark
        self._store = spark._jsparkSession.sharedState().statusStore()

    def last_id(self) -> int:
        return max((e.executionId() for e in _scala_iter(self._store.executionsList())),
                   default=-1)

    def executions_since(self, marker: int, timeout_s: float = 20.0) -> list[Execution]:
        """Every execution with id > ``marker``, once the listener has
        recorded its end (it runs asynchronously from the action)."""
        deadline = time.monotonic() + timeout_s
        while True:
            new = [e for e in _scala_iter(self._store.executionsList())
                   if e.executionId() > marker]
            if all(e.completionTime().isDefined() for e in new):
                return [self._read(e) for e in sorted(new, key=lambda e: e.executionId())]
            if time.monotonic() > deadline:
                raise TimeoutError(f"SQL executions after {marker} did not finish")
            time.sleep(0.02)

    def _read(self, e) -> Execution:
        eid = e.executionId()
        values = self._store.executionMetrics(eid)
        ex = Execution(
            id=eid,
            duration_s=(e.completionTime().get().getTime() - e.submissionTime()) / 1000.0,
            plan=e.physicalPlanDescription() or "",
        )
        for node in _scala_iter(self._store.planGraph(eid).allNodes()):
            for m in _scala_iter(node.metrics()):
                v = values.get(m.accumulatorId())
                if not v.isDefined() or m.metricType() not in (
                        "sum", "size", "timing", "nsTiming"):
                    continue
                text = v.get()
                key = (node.name(), m.name())
                ex.metrics[key] = ex.metrics.get(key, 0.0) + parse_metric(text, m.metricType())
                if node.name() == "MapInPandas":
                    ex.python_stages.update(int(s) for s in _MAX_TASK_STAGE.findall(text))
        return ex

    def num_tasks(self, stage_ids) -> int:
        tracker = self._spark.sparkContext.statusTracker()
        total = 0
        for sid in stage_ids:
            info = tracker.getStageInfo(sid)
            total += info.numTasks if info is not None else 0
        return total


def crossing_and_io(store: StatusStore, execs: list[Execution]) -> dict[str, float]:
    """Layer metrics every workload has: the Python crossing, file scan,
    shuffle and spill, summed over the executions of one pass."""

    def total(node_prefix: str, metric: str) -> float:
        return sum(e.total(node_prefix, metric) for e in execs)

    spill = sum(v for e in execs for (_, name), v in e.metrics.items()
                if name == "spill size")
    salted = any("REPARTITION_BY_NUM" in e.plan and "xxhash64(url" in e.plan
                 for e in execs)
    return {
        "crossing.python_init_s": total("MapInPandas", "time to initialize Python workers"),
        "crossing.python_run_s": total("MapInPandas", "time to run Python workers"),
        "crossing.to_python_mib": total("MapInPandas", "data sent to Python workers") / MIB,
        "crossing.from_python_mib":
            total("MapInPandas", "data returned from Python workers") / MIB,
        "crossing.tasks": float(store.num_tasks(
            set().union(*(e.python_stages for e in execs)))),
        "io.scan_s": total("Scan parquet", "scan time"),
        "io.scan_mib": total("Scan parquet", "size of files read") / MIB,
        "plans.pipeline.salted": 1.0 if salted else 0.0,
        "plans.pipeline.shuffle_write_mib": total("Exchange", "shuffle bytes written") / MIB,
        "exec.spill_mib": spill / MIB,
    }


def median_metrics(samples: list[dict[str, float]]) -> dict[str, float]:
    """Per-key median over passes."""
    return {k: statistics.median(s[k] for s in samples) for k in samples[0]}


def time_per_doc(fn, n_docs: int, repeats: int = 3) -> float:
    """Median wall time of ``fn()`` over ``repeats`` calls, in microseconds
    per document."""
    times = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times) / n_docs * 1e6


def process_tree(root_pid: int) -> dict[int, list[str]]:
    """``/proc/<pid>/stat`` fields after the command name, for ``root_pid``
    and all its descendants."""
    stats: dict[int, list[str]] = {}
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # the process ended while we listed /proc
        stats[int(name)] = fields
        children.setdefault(int(fields[1]), []).append(int(name))
    tree, todo = {}, [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        if pid in stats:
            tree[pid] = stats[pid]
    return tree


_CLOCK_TICKS = os.sysconf("SC_CLK_TCK")


def process_tree_cpu_s(root_pid: int) -> float:
    """CPU seconds (user + system) used so far by ``root_pid`` and its
    descendants, including descendants that ended and were waited for.
    Time the hypervisor gave to other guests is not in it."""
    return sum(sum(int(f) for f in fields[11:15])
               for fields in process_tree(root_pid).values()) / _CLOCK_TICKS


def host_cpu_ticks() -> tuple[int, int]:
    """(stolen, total) clock ticks of all CPUs since boot, from ``/proc/stat``:
    stolen ticks are time the hypervisor ran other guests on our CPUs."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def process_tree_rss_bytes(root_pid: int) -> int:
    """Resident bytes of ``root_pid`` and all its descendants, each page
    counted once: the sum of their proportional set sizes (forked Python
    workers share their parent's pages, which a sum of RSS would count
    once per worker)."""
    total = 0
    for pid in process_tree(root_pid):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue  # the process ended
    return total


class RssSampler:
    """Background sampler of the process tree's resident memory.
    ``take_peak`` returns the peak since its previous call, so a caller can
    read one peak per timed pass."""

    def __init__(self, interval_s: float = 0.5):
        self._interval = interval_s
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)
        self._peak = 0

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            rss = process_tree_rss_bytes(pid)
            with self._lock:
                self._peak = max(self._peak, rss)
            self._stop.wait(self._interval)

    def take_peak(self) -> int:
        with self._lock:
            peak, self._peak = self._peak, 0
        return peak

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
