"""Corpus-safety benchmark: one workload per run, in one Python process, as a
closed loop with one client and one pass in flight at a time.

    python3 perfbench/run.py --workload clean_short --seed 42 --seconds 5 --trace 0

Run it from the root of a checkout. It starts ``local[<cores>]`` Spark with a
session sized for the host, builds (or reuses) the seeded input, and sets up
three times (session start, input, the workload's crossing on one input
file) to report the median set-up time. After one untimed pass over the
whole input it repeats timed passes for ``--seconds`` (at least three) and
checks the outputs outside the timed passes. Every line but the last names
a metric with its unit, ending with ``failed_ratio``; the last line is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` alternates
untraced and traced passes; a traced pass also reads Spark's SQL metrics
back from the status store inside its timed interval, and the difference of
the two median pass times is reported as ``trace.overhead_s``. It reports
the per-layer metrics, including driver-side timings of the package's
public functions on a fixed sample of the workload's input.

Everything the run writes stays under ``.perfbench/`` in the checkout:
cached inputs (keyed by workload, size and seed, reused only when their
``_SUCCESS`` marker is present), pass outputs and Spark's temporary files.
The exit status is 0 only when every warm-up, timed pass and output check
succeeded.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
SETUPS = 3
MIN_PASSES = 3
MIN_TRACED_PASSES = 2  # of each kind in a traced run
MAX_CONSECUTIVE_FAILURES = 3
MIB = 1024.0 * 1024.0

E2E_UNITS = {"setup_s": "s", "cpu_s": "s", "docs_per_cpu_s": "1/s",
             "input_mib_per_cpu_s": "MiB/s", "peak_rss_mib": "MiB"}
# Printed, but not in the result: on a shared VM, wall time moves with the
# CPU time other guests take from this host (`steal`), far more than CPU
# time does.
WALL_UNITS = {"wall_s": "s", "docs_per_s": "1/s", "input_mib_per_s": "MiB/s"}

_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[{time.perf_counter() - _T0:7.2f} s] {msg}", file=sys.stderr, flush=True)


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("clean_short", "commit_pii_long"))
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def host_memory_mib() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def build_session(tmp_dir: str):
    """``local[<cores>]`` with one shuffle partition per core, AQE on, Arrow
    batches of 10k rows, and a driver heap of a quarter of host memory, at
    most 2 GiB (the inputs are tens of MiB), so the JVM fits beside one
    Python worker per core. The heap is committed and touched at start, so
    the JVM's resident size does not drift with GC timing and
    ``peak_rss_mib`` moves with what the program allocates."""
    from pyspark.sql import SparkSession

    cores = len(os.sched_getaffinity(0))
    heap_mib = max(1024, min(2048, host_memory_mib() // 4))
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", f"{heap_mib}m")
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp_dir} -Xms{heap_mib}m -XX:+AlwaysPreTouch")
        .config("spark.local.dir", tmp_dir)
        .config("spark.sql.warehouse.dir", os.path.join(STATE, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


class Tally:
    """Operations attempted and failed; a failure is reported, never skipped."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def run(self, label: str, fn) -> bool:
        """Run ``fn``, which raises or returns a list of problems."""
        self.attempted += 1
        try:
            problems = fn() or []
        except Exception:  # counted as a failed operation, traceback kept
            print(f"[FAIL] {label}", file=sys.stderr)
            traceback.print_exc(file=sys.stderr)
            self.failed += 1
            return False
        for problem in problems:
            print(f"[FAIL] {label}: {problem}", file=sys.stderr)
        self.failed += bool(problems)
        return not problems


@dataclass
class Passes:
    """What a loop of timed passes measured, one entry per successful pass."""

    walls: list[float] = field(default_factory=list)
    cpus: list[float] = field(default_factory=list)
    rss_peaks: list[int] = field(default_factory=list)
    layers: list[dict[str, float]] = field(default_factory=list)


class Bench:
    """One workload in one process: set-ups, timed passes, checks."""

    def __init__(self, wl, seed: int, tally: Tally, rss):
        self.wl = wl
        self.seed = seed
        self.tally = tally
        self.rss = rss
        self.tmp_dir = os.path.join(STATE, "tmp")
        self.out_root = fresh_dir(os.path.join(STATE, "out", wl.name))
        self.spark = None
        self.path = None
        self.n_docs = self.html_bytes = 0
        self.store = None
        self.last_dir = None  # output of the last timed pass
        self.steal_ratio = 0.0  # share of host CPU time stolen during the passes

    def setup(self) -> float:
        """Session start, input generation or reuse, and a warm-up: the
        workload's crossing on one input file, which starts the Python
        workers and loads their models."""
        from pyspark.sql import functions as F

        from perfbench.layers import StatusStore

        t0 = time.perf_counter()
        if self.spark is not None:
            self.spark.stop()
        self.spark = build_session(self.tmp_dir)
        log(f"  session {time.perf_counter() - t0:.2f} s")
        self.path = self.wl.ensure_inputs(self.spark, os.path.join(STATE, "inputs"),
                                          self.seed)
        row = self.spark.read.parquet(self.path).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.length("html")).alias("html_bytes")).first()
        self.n_docs, self.html_bytes = row["n"], row["html_bytes"]
        log(f"  input {time.perf_counter() - t0:.2f} s")
        warm_input = os.path.join(self.path, "part-00000-*-c000.*")
        self.tally.run("warm-up", lambda: self.wl.warm(self.spark, warm_input))
        elapsed = time.perf_counter() - t0
        self.store = StatusStore(self.spark)
        return elapsed

    def settle(self) -> None:
        """One untimed pass over the whole input after the set-ups, so the
        first timed pass does not pay JIT compilation of the full-size path."""
        settle_dir = fresh_dir(os.path.join(self.out_root, "settle"))
        self.tally.run("settle pass", lambda: self.wl.run_pass(self.spark, self.path,
                                                               settle_dir))
        shutil.rmtree(settle_dir, ignore_errors=True)

    def passes(self, seconds: float, trace: bool) -> tuple[Passes, Passes]:
        """Closed loop of timed passes for ``seconds``, then until each kind
        has its minimum count. With ``trace`` every other pass is traced: it
        also reads its SQL metrics back inside its timed interval. Both kinds
        see the same warm-up and host load, so the difference of their
        medians is the tracing overhead. Returns (untraced, traced)."""
        from perfbench.layers import crossing_and_io, host_cpu_ticks, process_tree_cpu_s

        wl, spark = self.wl, self.spark
        plain, traced = Passes(), Passes()
        least = MIN_TRACED_PASSES if trace else MIN_PASSES
        failures = 0
        stolen0, ticks0 = host_cpu_ticks()
        start = time.perf_counter()
        while ((time.perf_counter() - start < seconds or len(plain.walls) < least
                or (trace and len(traced.walls) < least))
               and failures < MAX_CONSECUTIVE_FAILURES):
            is_traced = trace and len(plain.walls) > len(traced.walls)
            out = traced if is_traced else plain
            if self.last_dir:
                shutil.rmtree(self.last_dir, ignore_errors=True)
            self.last_dir = pass_dir = fresh_dir(
                os.path.join(self.out_root, f"pass{self.tally.attempted}"))
            marker = self.store.last_id() if is_traced else None
            execs = []

            def one_pass():
                wl.run_pass(spark, self.path, pass_dir)
                if is_traced:
                    execs.extend(self.store.executions_since(marker))

            self.rss.take_peak()
            cpu0 = process_tree_cpu_s(os.getpid())
            t0 = time.perf_counter()
            if not self.tally.run("timed pass", one_pass):
                failures += 1
                continue
            out.walls.append(time.perf_counter() - t0)
            out.cpus.append(process_tree_cpu_s(os.getpid()) - cpu0)
            out.rss_peaks.append(self.rss.take_peak())
            failures = 0
            if is_traced:
                layer = crossing_and_io(self.store, execs)
                layer.update(commit_layers(execs, pass_dir, self.html_bytes))
                out.layers.append(layer)
        stolen, ticks = host_cpu_ticks()
        self.steal_ratio = (stolen - stolen0) / max(1, ticks - ticks0)
        for kind, p in (("untraced", plain), ("traced", traced)):
            if p.walls:
                log(f"{kind} passes {[round(w, 3) for w in p.walls]} s, "
                    f"CPU {[round(c, 2) for c in p.cpus]} s")
        return plain, traced

    def resume(self, last_dir: str) -> float | None:
        """Time the resumable workload's second call on the last pass's
        output, which must process 0 units."""
        if not hasattr(self.wl, "resume"):
            return 0.0
        t0 = time.perf_counter()
        if self.tally.run("resume", lambda: self.wl.resume(self.spark, self.path, last_dir)):
            return time.perf_counter() - t0
        return None

    def check(self, last_dir: str, expected: dict):
        """Output checks; returns the input sample (with the oracle's
        expected values) for the driver-side timings."""
        sample = None

        def check():
            nonlocal sample
            sample = self.wl.sample_inputs(self.spark, self.path)
            return self.wl.check(self.spark, self.path, self.seed, expected, last_dir,
                                 sample)

        self.tally.run("output check", check)
        return sample

    def function_timings(self, sample) -> dict[str, float]:
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        schema = to_arrow_schema(self.wl.crossing(self.spark, self.path).schema)
        return self.wl.function_timings(sample, lambda frame: pa.Table.from_pandas(
            frame[schema.names], schema=schema, preserve_index=False))

    def close(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            stop_jvm()
        shutil.rmtree(self.out_root, ignore_errors=True)


def stop_jvm(timeout_s: float = 60.0) -> None:
    """Stop the JVM PySpark launched and wait until it and every process it
    started (the Python worker daemon and its workers) have ended."""
    from pyspark import SparkContext

    from perfbench.layers import process_tree

    gateway = SparkContext._gateway
    if gateway is None:
        return
    descendants = set(process_tree(os.getpid())) - {os.getpid()}
    gateway.shutdown()
    gateway.proc.stdin.close()  # the gateway server exits on EOF
    gateway.proc.wait(timeout_s)
    SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + timeout_s
    while descendants := {pid for pid in descendants if is_running(pid)}:
        if time.monotonic() > deadline:
            log(f"killing processes left after the JVM stopped: {sorted(descendants)}")
            for pid in descendants:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, signal.SIGKILL)
            return
        time.sleep(0.05)


def is_running(pid: int) -> bool:
    """Whether ``pid`` exists and has not ended (a zombie has ended)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def commit_layers(execs, pass_dir: str, html_bytes: int) -> dict[str, float]:
    """``run_with_manifest``'s SQL executions by role: materializing the
    persisted transform (the unit count), the unit-partitioned output write
    and the manifest append. All zero for a pass that commits nothing."""
    from perfbench.workloads import dir_bytes

    output = os.path.join(pass_dir, "output")
    manifest = os.path.join(pass_dir, "manifest")
    inserts = [e for e in execs if "InsertIntoHadoopFsRelationCommand" in e.plan]
    writes = [e for e in inserts if output in e.plan]
    appends = [e for e in inserts if manifest in e.plan]
    persists = [e for e in execs if e not in inserts and "InMemoryRelation" in e.plan]

    def metric(name: str) -> float:
        return sum(v for e in inserts for (_, m), v in e.metrics.items() if m == name)

    return {
        "plans.pipeline.persist_s": sum(e.duration_s for e in persists),
        "plans.pipeline.write_s": sum(e.duration_s for e in writes),
        "plans.pipeline.manifest_s": sum(e.duration_s for e in appends),
        "sinks.files_written": metric("number of written files"),
        "sinks.bytes_written_mib": metric("written output") / MIB,
        "sinks.bytes_written_per_input_byte":
            dir_bytes(pass_dir) / html_bytes if inserts else 0.0,
    }


def unit_of(metric: str) -> str:
    for suffix, unit in (("_us_per_doc", "us"), ("_per_doc", "count"), ("_ratio", "ratio"),
                         ("_per_input_byte", "ratio"), ("_mib", "MiB"), ("_s", "s")):
        if metric.endswith(suffix):
            return unit
    return "count"


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "safe_zone_spark", "__init__.py")):
        print(f"no safe_zone_spark package under {ROOT}: run from a checkout",
              file=sys.stderr)
        return 2
    os.makedirs(os.path.join(STATE, "tmp"), exist_ok=True)
    os.makedirs(os.path.join(STATE, "inputs"), exist_ok=True)
    # inherited by the JVM and its Python workers, which import the package
    # and perfbench.corpus from the checkout
    os.environ["TMPDIR"] = os.path.join(STATE, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)

    from perfbench.layers import RssSampler, median_metrics
    from perfbench.workloads import WORKLOADS

    with open(os.path.join(HERE, "expected.json")) as f:
        expected = json.load(f)
    tally = Tally()
    with RssSampler() as rss:
        bench = Bench(WORKLOADS[args.workload], args.seed, tally, rss)
        try:
            setup_s = []
            for k in range(SETUPS):
                setup_s.append(bench.setup())
                log(f"setup {k}: {setup_s[-1]:.2f} s")
            bench.settle()
            plain, traced = bench.passes(args.seconds, args.trace)
            timed = traced if args.trace else plain
            resume_s = bench.resume(bench.last_dir)
            sample = bench.check(bench.last_dir, expected)
            log("output check done")
            if not timed.walls or (args.trace and (
                    sample is None or resume_s is None or not plain.walls)):
                print("nothing to report: see the failures above", file=sys.stderr)
                return 1
            wall = statistics.median(timed.walls)
            if args.trace:
                metrics = median_metrics(timed.layers)
                metrics["plans.pipeline.resume_s"] = resume_s
                metrics.update(bench.function_timings(sample))
                metrics["trace.overhead_s"] = wall - statistics.median(plain.walls)
                units = {k: unit_of(k) for k in metrics}
            else:
                cpu = statistics.median(timed.cpus)
                metrics = {
                    "setup_s": statistics.median(setup_s),
                    "cpu_s": cpu,
                    "docs_per_cpu_s": bench.n_docs / cpu,
                    "input_mib_per_cpu_s": bench.html_bytes / MIB / cpu,
                    "peak_rss_mib": statistics.median(timed.rss_peaks) / MIB,
                }
                units = E2E_UNITS
            walls = {"wall_s": wall, "docs_per_s": bench.n_docs / wall,
                     "input_mib_per_s": bench.html_bytes / MIB / wall}
        finally:
            bench.close()

    print(f"workload {args.workload} seed {args.seed}: {bench.n_docs} docs, "
          f"{bench.html_bytes / MIB:.1f} MiB html, {len(timed.walls)} timed passes "
          f"(median of {'traced ' if args.trace else ''}passes), "
          f"setups {[round(s, 2) for s in setup_s]} s, "
          f"{bench.steal_ratio:.1%} of host CPU time stolen during the passes")
    for name, value in metrics.items():
        print(f"{name:40s} {value:.6g} {units[name]}")
    for name, value in walls.items():
        print(f"{name:40s} {value:.6g} {WALL_UNITS[name]} (not bounded)")
    print(f"{'failed_ratio':40s} {tally.failed / tally.attempted:.6g} "
          f"({tally.failed}/{tally.attempted} operations)")
    correct = tally.failed == 0
    print(json.dumps({
        "correct": correct,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
