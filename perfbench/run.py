#!/usr/bin/env python3
"""Sketch benchmark: one workload, one process, one SparkSession at
local[nproc].

    python3 perfbench/run.py --workload qdigest_ints --seed 7 --seconds 20 --trace 0

Closed loop, one client: queries of the workload run back to back.
Run from the root of a checkout. Set-up starts the session, builds the
fixture from the seed and warms up until queries are steady; the
session is then timed for ``--seconds``. Every query result is checked
against exact answers kept from generation; a failed check counts as a
failed operation.

``--trace 0`` prints the end-to-end metrics of BENCHMARK.json.
``--trace 1`` times half the window untraced, restarts the session
with the event log on, times the other half with the workload's jobs
in one job group, runs the driver-side probes and prints the per-layer
metrics; ``layers.json`` says which layer each one measures and on
which workloads it must be measured (a missing or zero value there
fails the run). A metric outside its workloads reads 0: its layer did
not run, or has no probe in that workload.
Per-query samples, steal ticks, load and the layer profile go to
``.perfbench_out/<workload>-s<seed>-t<trace>.json``; stdout ends with
one JSON line.
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
import tempfile
import time
import tracemalloc
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

WARM_SECONDS = 5.0  # warm-up time after the first query of a session
WARM_STEADY = 0.10  # then steady once a query is within 10% of the one before
WARM_MAX = 12  # warm-up queries at most
MIN_SAMPLES = 3
CLK_TCK = os.sysconf("SC_CLK_TCK")
MAX_LINE = 2000


# ----------------------------------------------------------------- host
def host_session_size() -> tuple[int, str]:
    """Cores from the affinity mask, driver heap from MemTotal (a fifth,
    1-4 GiB): the package's get_spark defaults assume a 32-core host."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return cores, f"{max(1, min(4, mem_kb // (5 << 20)))}g"


def steal_ticks() -> int:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def proc_table() -> dict[int, tuple[int, int, str]]:
    """pid -> (ppid, CPU ticks incl. reaped children, state)."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        rest = stat[stat.rindex(")") + 2 :].split()
        out[int(d)] = (int(rest[1]), sum(int(x) for x in rest[11:15]), rest[0])
    return out


def descendants(table, root: int) -> list[int]:
    children = defaultdict(list)
    for pid, (ppid, _, _) in table.items():
        children[ppid].append(pid)
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children[pid])
    return out


def tree_cpu_s() -> float:
    """CPU-seconds of this process and everything it started (the JVM
    and its Python workers)."""
    table = proc_table()
    return sum(table[p][1] for p in descendants(table, os.getpid())) / CLK_TCK


# -------------------------------------------------------------- session
class Session:
    """Starts and stops the SparkSession; owns the JVM it launches."""

    def __init__(self, work: str):
        self.cores, mem = host_session_size()
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        os.environ["TMPDIR"] = tempfile.tempdir = tmp
        os.environ["SPARK_LOCAL_DIRS"] = tmp
        os.environ["SPARK_DRIVER_MEM"] = mem
        self.base = {
            "spark.local.dir": tmp,
            # no hsperfdata file: HotSpot writes it under /tmp regardless.
            # The heap starts at its full size: growing it from the
            # default keeps queries getting cheaper for minutes, well
            # past any affordable warm-up.
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{mem}",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # one read partition per parquet file
            "spark.sql.files.openCostInBytes": str(128 << 20),
        }
        self.spark = None

    def start(self, extra: dict | None = None):
        from q_digest_spark.plans.session import get_spark

        self.stop()
        self.spark = get_spark("perfbench", cores=self.cores, extra={**self.base, **(extra or {})})
        return self.spark

    def stop(self) -> None:
        """Stop the SparkContext (flushing its event log); the JVM stays."""
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        """Stop Spark, end the JVM and wait for every process it started."""
        from pyspark import SparkContext

        table = proc_table()
        started = [p for p in descendants(table, os.getpid()) if p != os.getpid()]
        self.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = SparkContext._jvm = None
        wait_gone(started, 30)


def wait_gone(pids, timeout: float) -> None:
    deadline = time.monotonic() + timeout
    while True:
        table = proc_table()
        alive = [p for p in pids if p in table and table[p][2] != "Z"]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(p, signal.SIGKILL)
            deadline = time.monotonic() + 10
        time.sleep(0.1)


# ------------------------------------------------------------ measuring
class Runner:
    def __init__(self, wl, sess: Session, seed: int, work: str):
        self.wl = wl
        self.sess = sess
        self.seed = seed
        self.work = work
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.fx = None

    def run_query(self):
        """One checked query; returns (output, wall seconds, tree CPU
        seconds, driver heap MB), all measured around the query alone.
        The heap figure is the peak of the driver's Python allocations
        above where the query started (collected rows, decoded and
        merged sketches), read while tracemalloc is on, else 0."""
        tracing = tracemalloc.is_tracing()
        if tracing:
            tracemalloc.reset_peak()
            heap0 = tracemalloc.get_traced_memory()[0]
        c0, t0 = tree_cpu_s(), time.perf_counter()
        out = self.wl.query(self.sess.spark, self.fx)
        wall = time.perf_counter() - t0
        cpu = tree_cpu_s() - c0
        heap = (tracemalloc.get_traced_memory()[1] - heap0) / 1e6 if tracing else 0.0
        self.attempted += 1
        errs = self.wl.check(self.fx, out)
        if errs:
            self.failed += 1
            self.errors.extend(errs[:5])
        return out, wall, cpu, heap

    def warm_up(self) -> list[float]:
        """Query until steady: at least WARM_SECONDS after the first
        (cold) query, then until one runs within WARM_STEADY of the one
        before."""
        times = [self.run_query()[1]]
        while len(times) < WARM_MAX:
            times.append(self.run_query()[1])
            if sum(times[1:]) >= WARM_SECONDS and abs(times[-1] - times[-2]) <= WARM_STEADY * times[-2]:
                break
        return times

    def setup(self) -> dict:
        """Start the session, build the fixture from the seed and warm
        up to steady state."""
        fx_dir = os.path.join(self.work, "fixture")
        os.makedirs(fx_dir)
        t0 = time.perf_counter()
        self.sess.start()
        t1 = time.perf_counter()
        self.fx = self.wl.build(self.sess.spark, fx_dir, self.seed)
        t2 = time.perf_counter()
        warm = self.warm_up()
        return {
            "setup_s": time.perf_counter() - t0,
            "session_s": t1 - t0,
            "fixture_s": t2 - t1,
            "generate_s": self.fx.generate_s,
            "warm_up_s": warm,
        }

    def window(self, seconds: float, group: str | None = None) -> dict:
        """Time queries back to back for ``seconds``, tracing the
        driver's Python allocations."""
        spark = self.sess.spark
        if group is not None:
            spark.sparkContext.setJobGroup(group, group)
        steal0, load0 = steal_ticks(), os.getloadavg()[0]
        wall, cpu, heap = [], [], []
        out = None
        tracemalloc.start()
        end = time.perf_counter() + seconds
        while len(wall) < MIN_SAMPLES or time.perf_counter() < end:
            out, w, c, h = self.run_query()
            wall.append(w)
            cpu.append(c)
            heap.append(h)
        tracemalloc.stop()
        return {
            "wall_s": wall,
            "wall_quartiles": statistics.quantiles(wall, n=4),
            "cpu_s": cpu,
            "cpu_quartiles": statistics.quantiles(cpu, n=4),
            "steal_ticks": steal_ticks() - steal0,
            "load": [load0, os.getloadavg()[0]],
            "driver_heap_mb": heap,
            "out": out,
        }


def tail(values) -> tuple[float, float]:
    """Highest percentile with at least ten samples beyond it, and never
    below the upper quartile when there are fewer than forty samples."""
    q = max(0.75, 1 - 10 / len(values))
    s = sorted(values)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return q, s[lo] + (s[hi] - s[lo]) * (pos - lo)


def metric_units() -> dict:
    """Metric name -> unit, for each trace mode, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {mode: {m["name"]: m["unit"] for m in spec[key]} for mode, key in ((0, "end_to_end"), (1, "per_layer"))}


def emit(values: dict, units: dict, runner, correct: bool) -> None:
    """Print the result line: every value with all its digits, or with
    six significant digits where that keeps the line under MAX_LINE.
    A metric the run did not produce reads 0."""
    for fmt in (float, lambda v: float(f"{v:.6g}")):
        line = json.dumps(
            {
                "correct": correct and runner.failed == 0,
                "attempted": runner.attempted,
                "failed": runner.failed,
                "metrics": {n: {"value": fmt(values.get(n, 0.0)), "unit": u} for n, u in units.items()},
            },
            separators=(",", ":"),
        )
        if len(line) < MAX_LINE:
            print(line, flush=True)
            return
    raise RuntimeError(f"result line is {len(line)} characters")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    import workloads  # imports q_digest_spark from the checkout

    wl = workloads.WORKLOADS[args.workload]
    units = metric_units()[args.trace]
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    work = os.path.join(ROOT, ".perfbench_work", f"{tag}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    sess = Session(work)
    record: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                    "cores": sess.cores, "seconds": args.seconds}
    correct = True
    try:
        runner = Runner(wl, sess, args.seed, work)
        setup = runner.setup()
        record["setup"] = setup
        window_s = args.seconds if not args.trace else args.seconds / 2
        plain = runner.window(window_s)
        fx = runner.fx
        query_s = statistics.median(plain["wall_s"])
        if not args.trace:
            q, tail_s = tail(plain["wall_s"])
            rbytes = wl.result_bytes(sess.spark, fx, plain["out"])
            values = {
                "query_s": query_s,
                "query_s_tail": tail_s,
                "rows_per_s": fx.rows / query_s,
                "cpu_s": statistics.median(plain["cpu_s"]),
                "setup_s": setup["setup_s"],
                "driver_peak_mb": statistics.median(plain["driver_heap_mb"]),
                "result_bytes": rbytes,
            }
            record["tail_quantile"] = q
        else:
            values = trace_run(runner, wl, setup, window_s, query_s, work, record)
            missing = missing_layers(wl.name, values)
            record["missing_layers"] = missing
            record["not_measured"] = sorted(set(units) - set(values))
            correct = not missing
        plain.pop("out")
        record["untraced"] = plain
        record["errors"] = runner.errors[:50]
        record["metrics"] = values
    finally:
        sess.close()
        shutil.rmtree(work, ignore_errors=True)
    with open(os.path.join(out_dir, f"{tag}.json"), "w") as f:
        json.dump(record, f, indent=1, default=float)
    emit(values, units, runner, correct)
    return 0


def missing_layers(workload: str, values: dict) -> list[str]:
    """Metrics layers.json says this workload measures that the run did
    not produce, or produced as 0 where 0 is not a valid reading (a
    plan-string pattern in eventlog.py that stopped matching shows here)."""
    with open(os.path.join(HERE, "layers.json")) as f:
        spec = json.load(f)["metrics"]
    return [
        name
        for name, m in spec.items()
        if workload in m["on"] and (name not in values or (values[name] == 0 and not m.get("can_be_zero")))
    ]


def trace_run(runner, wl, setup, window_s, untraced_query_s, work, record) -> dict:
    """Traced half of a ``--trace 1`` run: event log on, workload jobs
    tagged with a job group, driver merges timed, then the driver-side
    layer probes."""
    import eventlog
    import workloads
    from q_digest_spark.sketches import HLL, CountMin, QDigest

    log_dir = os.path.join(work, "events")
    os.makedirs(log_dir)
    spark = runner.sess.start(
        {"spark.eventLog.enabled": "true", "spark.eventLog.compress": "false", "spark.eventLog.dir": log_dir}
    )
    spark.sparkContext.setJobGroup("warmup", "warmup")
    runner.warm_up()
    driver_merges = [(cls, name) for cls in (QDigest, HLL, CountMin) for name in ("merge", "from_bytes")]
    with workloads.MethodTimer(driver_merges) as merges:
        traced = runner.window(window_s, group="workload")
    n = len(traced["wall_s"])
    spark.sparkContext.setJobGroup("probe", "probe")
    values = dict(wl.probe(spark, runner.fx, traced.pop("out")))
    record["traced"] = traced
    runner.sess.stop()
    values.update(eventlog.layer_metrics(log_dir, "workload", n))
    values["driver.final_merge_s"] = merges.seconds / n
    values["session.start_s"] = setup["session_s"]
    if wl.makes_pages:
        values["sources.pages_generate_s"] = setup["generate_s"]
    values["trace.overhead_ratio"] = statistics.median(traced["wall_s"]) / untraced_query_s
    record["profile"] = dict(values)
    return values


if __name__ == "__main__":
    sys.exit(main())
