"""Seeded, self-checking benchmark of the curation job and the dedup store.

Run from the repository root:

    python3 perfbench/run.py --workload chat_curation --seed 1 --seconds 20 --trace 0

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.  See
``perfbench/README.md`` for what each workload and metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

SETUP_CYCLES = 2  # set-up is repeated and its median reported
DRIVER_MEMORY = "2g"

END_TO_END = {
    "docs_per_cpu_s": "1/s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "delivery_cpu_p50_s": "s",
    "delivery_cpu_tail_s": "s",
    "store_bytes_per_doc_byte": "B/B",
}

LAYERS = (
    "session",
    "sources.io",
    "operators.conversation",
    "plans.pipeline",
    "functions.cleaners",
    "functions.filters",
    "operators.dedup",
    "operators.sampling",
    "operators.dedup_store",
    "cli",
)
COUNTER_UNITS = {
    "busy_s": "s",
    "driver_gap_s": "s",
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "one_task_stages": "count",
    "task_cpu_s": "s",
    "shuffle_bytes": "B",
    "spill_bytes": "B",
}
LAYER_EXTRAS = {
    "session.start_s": ("s", "lower"),
    "sources.io.read_s": ("s", "lower"),
    "sources.io.write_s": ("s", "lower"),
    "sources.io.bytes_written": ("B", "lower"),
    "operators.conversation.rows_out": ("count", "higher"),
    "plans.pipeline.plan_s": ("s", "lower"),
    "operators.dedup.dropped_frac": ("frac", "higher"),
    "operators.dedup.planted_recall": ("frac", "higher"),
    "operators.sampling.shuffle_s": ("s", "lower"),
    "operators.dedup_store.build_s": ("s", "lower"),
    "operators.dedup_store.probe_s": ("s", "lower"),
    "operators.dedup_store.extend_s": ("s", "lower"),
    "operators.dedup_store.compact_s": ("s", "lower"),
    "operators.dedup_store.files": ("count", "lower"),
    "operators.dedup_store.probe_hit_frac": ("frac", "higher"),
    "cli.plan_s": ("s", "lower"),
    "trace_overhead_s": ("s", "lower"),
    "wall.docs_per_s": ("1/s", "higher"),
    "wall.delivery_p50_s": ("s", "lower"),
    "wall.delivery_tail_s": ("s", "lower"),
}


def per_layer_spec() -> dict[str, tuple[str, str]]:
    """Every per-layer metric name -> (unit, better)."""
    from perfbench.workloads import FILTER_NAMES

    spec = {
        f"{layer}.{c}": (unit, "lower") for layer in LAYERS for c, unit in COUNTER_UNITS.items()
    }
    spec.update(LAYER_EXTRAS)
    for name in FILTER_NAMES:
        spec[f"functions.filters.{name}.busy_s"] = ("s", "lower")
        spec[f"functions.filters.{name}.kept_frac"] = ("frac", "higher")
    return spec


# -- measurement helpers ----------------------------------------------------


def tail(latencies: list[float]) -> tuple[float, str]:
    """The highest percentile with at least ten samples beyond it or, in a
    run too short for that, with at least a quarter of them beyond it."""
    import numpy as np

    n = len(latencies)
    for p in (99, 95, 90, 75):
        if n * (100 - p) / 100 >= min(10, n / 4):
            return float(np.percentile(latencies, p)), f"p{p}"
    raise AssertionError("unreachable: p75 always qualifies")


class ProcessTree:
    """Samples this process tree from ``/proc`` in a background thread: its
    peak resident memory, and on request the CPU time it has used.

    Resident memory counts this process, the driver JVM it launched and
    every Python process below them (the workers).  Other processes are left
    out: the JVM starts helpers (``chmod``) with vfork, and until it execs
    such a child reports the JVM's own resident memory, which would count it
    twice.  CPU time counts every process in the tree, including the CPU of
    children that have ended, except the sampler thread and the JVM's JIT
    compiler threads: how much the JIT still compiles after warm-up varies
    from one operation to the next by up to a fifth of the operation's
    CPU."""

    def __init__(self, interval: float = 0.05):
        self.interval = interval
        self.peak = 0
        self._own_cpu = 0.0  # CPU seconds of the sampler thread so far
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._tick = os.sysconf("SC_CLK_TCK")

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)

    @staticmethod
    def walk() -> list[tuple[int, int | None, list[str]]]:
        """(pid, parent, fields of /proc/<pid>/stat after the command name)
        of this process and every process below it."""
        stats: dict[int, list[str]] = {}
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
                ppid = int(fields[1])
            except (OSError, IndexError, ValueError):
                continue  # the process ended while we looked
            stats[int(name)] = fields
            children.setdefault(ppid, []).append(int(name))
        me = os.getpid()
        found, todo = [], [(me, None)]
        while todo:
            pid, parent = todo.pop()
            todo += [(child, pid) for child in children.get(pid, [])]
            if pid in stats:
                found.append((pid, parent, stats[pid]))
        return found

    def sample(self) -> int:
        """Resident bytes of this process, its JVM and the Python workers."""
        me, total = os.getpid(), 0
        for pid, parent, _ in self.walk():
            try:
                with open(f"/proc/{pid}/cmdline", "rb") as f:
                    exe = os.path.basename(f.read().split(b"\0", 1)[0]).decode()
                if pid != me and not exe.startswith("python") and not (
                    parent == me and exe == "java"
                ):
                    continue
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                continue  # the process ended while we looked
        return total

    def cpu_s(self) -> float:
        """User and system CPU seconds the tree has used so far, less the
        sampler's own and the JVM's JIT compiler threads'.  Reaped children
        count through their parent's cutime and cstime."""
        ticks = sum(
            sum(int(f[i]) for i in (11, 12, 13, 14)) - self._jit_ticks(pid)
            for pid, _, f in self.walk()
        )
        return ticks / self._tick - self._own_cpu

    @staticmethod
    def _jit_ticks(pid: int) -> int:
        """CPU ticks of the JIT compiler threads of ``pid`` (0 if it is not
        a JVM).  The JVM keeps these threads for its whole life
        (``-XX:-UseDynamicNumberOfCompilerThreads``), so none of their time
        leaves the sum with an exited thread."""
        total = 0
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            return 0
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/comm") as f:
                    if "CompilerThre" not in f.read():  # "C2 CompilerThre(ad0)"
                        continue
                with open(f"/proc/{pid}/task/{tid}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
                total += int(fields[11]) + int(fields[12])
            except (OSError, IndexError, ValueError):
                continue  # the thread ended while we looked
        return total

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, self.sample())
            self._own_cpu = time.thread_time()
            self._stop.wait(self.interval)


def host_steal_s() -> float:
    """CPU seconds the hypervisor has taken from this machine's CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def configure_env(work: str, ncpu: int) -> dict[str, str]:
    """Keep Spark's scratch files inside the work directory; return the
    extra session config."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        {
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": tmp,
            "SPARK_GRAFT_CPUS": str(ncpu),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEMORY,
            "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "warehouse"),
            # the short JVM spark-submit runs to build the driver command
            "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            # Python workers import the package from this checkout
            "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        }
    )
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": tmp,
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads"
        ),
    }


def timed_ops(spark, wl, n: int, tree: ProcessTree, log) -> tuple[list[float], list[float], int]:
    """Closed loop: run operations 0 .. n-1 one after another, timing each
    (wall and process-tree CPU) and checking its output.  The count is
    fixed, so every run does the same work however fast the host is."""
    latencies, cpu, failed = [], [], 0
    for i in range(n):
        c0 = tree.cpu_s()
        t0 = time.perf_counter()
        try:
            wl.op(spark, i)
            latencies.append(time.perf_counter() - t0)
            cpu.append(tree.cpu_s() - c0)
            errors = wl.errors(spark, i)
        except Exception:  # an operation that raises counts as failed
            errors = [traceback.format_exc()]
        if errors:
            failed += 1
            log(f"operation {i} failed: " + "; ".join(errors[:5]))
    return latencies, cpu, failed


def run(args, work: str, log) -> dict:
    from chat_data_pipeline_spark import get_spark
    from perfbench import gen
    from perfbench.spans import COUNTERS, SpanRecorder
    from perfbench.workloads import FILTER_NAMES, WORKLOAD_TYPES

    ncpu = len(os.sched_getaffinity(0))
    conf = configure_env(work, ncpu)
    manifest = gen.generate(args.workload, args.seed, os.path.join(work, "inputs"))
    wl = WORKLOAD_TYPES[args.workload](manifest, work)

    sessions, setup_times, spark = [], [], None
    try:
        for _ in range(1 if args.trace else SETUP_CYCLES):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            started = time.time()
            spark = get_spark(app_name="perfbench", master=f"local[{ncpu}]", extra_conf=conf)
            session_end = time.time()
            # a stopped session stays referenced so no later one reuses its id()
            sessions.append(spark)
            # Python workers, codegen and the package's plan memos are per
            # session, and the timed operations run in the last one
            wl.warm_up(spark)
            wl.prepare(spark)
            setup_times.append(time.perf_counter() - t0)
        steal0 = host_steal_s()
        with ProcessTree() as tree:
            n = wl.ops(bool(args.trace))
            latencies, cpu, failed = timed_ops(spark, wl, n, tree, log)
        attempted = n
        if not latencies:
            return {"correct": False, "attempted": attempted, "failed": failed, "metrics": {}}
        tail_s, tail_p = tail(latencies)
        log(
            f"{len(latencies)} operations; the tails are {tail_p}; "
            f"latencies {[round(s, 3) for s in latencies]}; cpu {[round(s, 2) for s in cpu]}; "
            f"host steal {host_steal_s() - steal0:.2f} CPU-s; "
            f"set-up cycles {[round(s, 3) for s in setup_times]}"
        )
        wall = {
            "wall.docs_per_s": wl.docs_per_op() * len(latencies) / sum(latencies),
            "wall.delivery_p50_s": statistics.median(latencies),
            "wall.delivery_tail_s": tail_s,
        }
        if not args.trace:
            values = {
                "docs_per_cpu_s": wl.docs_per_op() * len(cpu) / sum(cpu),
                "setup_s": statistics.median(setup_times),
                "peak_rss_mb": tree.peak / 2**20,
                "delivery_cpu_p50_s": statistics.median(cpu),
                "delivery_cpu_tail_s": tail(cpu)[0],
                "store_bytes_per_doc_byte": wl.store_ratio(),
            }
            metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}
            return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}

        rec = SpanRecorder(spark)
        rec.add_span("session", started, session_end, start_s=session_end - started)
        attempted += 1
        try:
            trace_errors = wl.traced(spark, rec)
        except Exception:
            trace_errors = [traceback.format_exc()]
        if trace_errors:
            failed += 1
            log("traced pass failed: " + "; ".join(trace_errors[:5]))
        os.makedirs(os.path.join(ROOT, "perfbench", "traces"), exist_ok=True)
        rec.to_json(os.path.join(ROOT, "perfbench", "traces", f"{args.workload}-{args.seed}.json"))
        layers = rec.by_layer()

        def get(layer: str, key: str) -> float:
            return float(layers.get(layer, {}).get(key, 0.0))

        def frac(layer: str) -> float:
            rows_in = get(layer, "rows_in")
            return get(layer, "rows_out") / rows_in if rows_in else 0.0

        values = {f"{layer}.{c}": get(layer, c) for layer in LAYERS for c in COUNTERS}
        for name in LAYER_EXTRAS:
            layer, key = name.rsplit(".", 1) if "." in name else ("", name)
            values[name] = get(layer, key)
        for name in FILTER_NAMES:
            values[f"functions.filters.{name}.busy_s"] = get(f"functions.filters.{name}", "busy_s")
            values[f"functions.filters.{name}.kept_frac"] = frac(f"functions.filters.{name}")
        if get("operators.dedup", "rows_in"):
            values["operators.dedup.dropped_frac"] = 1.0 - frac("operators.dedup")
        values.update(wl.values)
        values.update(wall)
        replay = [s for s in rec.spans[wl.replay_from : wl.replay_to] if s.parent is None]
        values["trace_overhead_s"] = sum(s.wall for s in replay) - wl.untraced_wall(latencies)
        spec = per_layer_spec()
        metrics = {k: {"value": values[k], "unit": spec[k][0]} for k in spec}
        return {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": metrics,
        }
    finally:
        if spark is not None:
            spark.stop()
        stop_jvm()


def stop_jvm(timeout: float = 60.0) -> None:
    """End the driver JVM this process launched and wait for it to exit
    (it exits when its stdin closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=timeout)


def main(argv: list[str] | None = None) -> int:
    from perfbench.gen import WORKLOADS

    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True, choices=WORKLOADS)
    parser.add_argument("--seed", type=int, required=True)
    # accepted for the harness; each workload runs a fixed number of
    # operations, sized so the timed part takes about this long
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)

    def log(msg: str) -> None:
        print(f"perfbench: {msg}", file=sys.stderr, flush=True)

    try:
        import pyspark  # noqa: F401

        import chat_data_pipeline_spark  # noqa: F401
    except ImportError as exc:
        log(f"cannot import the package under test from {ROOT}: {exc}")
        return 2
    work = os.path.join(ROOT, "perfbench", "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        result = run(args, work, log)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
