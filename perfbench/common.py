"""Shared plumbing for the benchmark: run context, spans, memory, result.

Everything a run writes goes under ``<checkout>/.perfbench_work``: the
per-run scratch directory (Spark local dirs, checkpoints, tables,
warehouse, derby.log), removed when the run ends, and ``traces/``, which
keeps one JSON file per run.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import tempfile
import threading
import time
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data")
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
# Twice what the fixtures need (runs with 1g pass too), and small enough
# for a host whose memory other machines share.
DRIVER_MEM = "2g"


def ncpus() -> int:
    return len(os.sched_getaffinity(0))


def process_start_time() -> float:
    """Wall-clock time at which this process started (from /proc)."""
    with open("/proc/self/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    start_ticks = int(fields[19])  # field 22 overall: starttime
    with open("/proc/stat") as f:
        btime = next(int(ln.split()[1]) for ln in f if ln.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def percentile(xs, q: float) -> float:
    """Nearest-rank percentile, ``q`` in [0, 1]."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of no samples")
    return s[min(len(s) - 1, max(0, math.ceil(q * len(s)) - 1))]


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


class Tracer:
    """In-memory spans: name, start, end, parent and the query or cycle
    id they belong to. Disabled tracers record nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield None
            return
        sp = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": op,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(sp)
        self._stack.append(sp["id"])
        try:
            yield sp
        finally:
            sp["end"] = time.time()
            self._stack.pop()


class Run:
    """One benchmark process: pinned environment, scratch directory,
    Spark session and the tracer."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 tiny: bool):
        self.t_start = process_start_time()
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.tiny = tiny
        self.tracer = Tracer(trace)
        self._cpu0 = _cpu_ticks()
        self._rss = RssSampler(os.getpid())
        self._rss.start()
        self.spark = None
        self.meta: dict = {}  # run summary, printed
        self.detail: dict = {}  # per-query / per-cycle rows, trace file only
        os.makedirs(WORK_ROOT, exist_ok=True)
        self.work = tempfile.mkdtemp(prefix=f"{workload}-", dir=WORK_ROOT)
        # Everything Spark, its Python workers and the package write
        # through tempfile, java.io.tmpdir or the cwd lands in self.work.
        os.environ.update({
            "TMPDIR": self.work,
            "SPARK_LOCAL_DIRS": os.path.join(self.work, "spark-local"),
            "SPARK_GRAFT_CPUS": str(ncpus()),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
            ),
        })
        tempfile.tempdir = self.work
        os.chdir(self.work)

    def sf_dir(self, big: bool = False) -> str:
        """The fixture directory: sf0.001 in tiny mode, else sf0.01
        (``big`` selects the sf0.1 customer table of the ingest base)."""
        if self.tiny:
            return os.path.join(DATA, "sf0.001")
        return os.path.join(DATA, "sf0.1" if big else "sf0.01")

    def start_spark(self):
        from go_http_data_pipeline_spark.session import get_spark

        t0 = time.perf_counter()
        with self.tracer.span("session.get_spark"):
            self.spark = get_spark(
                f"perfbench-{self.workload}",
                extra_conf={
                    "spark.ui.showConsoleProgress": "false",
                    "spark.sql.warehouse.dir": os.path.join(self.work, "spark-warehouse"),
                    "spark.driver.extraJavaOptions": (
                        f'-Djava.io.tmpdir="{self.work}" -Dderby.system.home="{self.work}"'
                    ),
                },
            )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.get_spark_ms = (time.perf_counter() - t0) * 1000.0
        return self.spark

    def stamp(self, sf: str) -> dict:
        """CPU count plus the fingerprints (bench.py's helpers) of the
        fixture directory ``sf`` and of the package code."""
        import bench

        return {
            "workload": self.workload,
            "seed": self.seed,
            "seconds": self.seconds,
            "cpus": ncpus(),
            "sf_dir": os.path.relpath(sf, ROOT),
            "fixture_sig": bench._fixture_sig(sf),
            "code_sig": bench._code_sig(),
        }

    def steal_share(self) -> float:
        """Share of host CPU time stolen from this machine since the run
        started: a noisy-neighbour guard for reading the timings."""
        d = [b - a for a, b in zip(self._cpu0, _cpu_ticks())]
        return d[7] / sum(d) if sum(d) else 0.0

    def exclude_from_rss(self, pid: int) -> None:
        self._rss.exclude.add(pid)

    def peak_rss_mb(self) -> float:
        """Peak of the summed RSS of this process and its descendants
        (the driver JVM and the Python workers), sampled since the run
        started; the load generator is excluded."""
        self._rss.stop()
        return self._rss.peak_kb / 1024.0

    def close(self) -> None:
        """Stop Spark and its JVM, wait for it, remove the scratch dir."""
        if self._rss.is_alive():
            self._rss.stop()
        if self.spark is not None:
            from pyspark import SparkContext

            self.spark.stop()
            gw = SparkContext._gateway
            if gw is not None:
                proc = getattr(gw, "proc", None)
                gw.shutdown()
                if proc is not None:
                    proc.stdin.close()
                    proc.wait(timeout=60)
                SparkContext._gateway = None
                SparkContext._jvm = None
            self.spark = None
        os.chdir(ROOT)
        shutil.rmtree(self.work, ignore_errors=True)

    def write_trace(self) -> str:
        tdir = os.path.join(WORK_ROOT, "traces")
        os.makedirs(tdir, exist_ok=True)
        path = os.path.join(
            tdir, f"{self.workload}-seed{self.seed}-{int(time.time())}.json"
        )
        with open(path, "w") as f:
            json.dump({"meta": self.meta, "spans": self.tracer.spans, **self.detail}, f)
        return path


def _descendants(pid: int) -> list[int]:
    """``pid`` and every process below it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def _cpu_ticks() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE_KB
    except (OSError, ValueError, IndexError):
        return 0


_PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024


class RssSampler(threading.Thread):
    """Samples the summed RSS of a process tree every ``interval`` s."""

    def __init__(self, root: int, interval: float = 0.5):
        super().__init__(daemon=True)
        self.root, self.interval = root, interval
        self.exclude: set[int] = set()
        self.peak_kb = 0
        self._halt = threading.Event()

    def run(self):
        while not self._halt.wait(self.interval):
            pids = [p for p in _descendants(self.root) if p not in self.exclude]
            self.peak_kb = max(self.peak_kb, sum(_rss_kb(p) for p in pids))

    def stop(self) -> None:
        self._halt.set()
        self.join()


def result_line(kind: str, values: dict[str, float], correct: bool,
                attempted: int, failed: int) -> str:
    """The final stdout line: every ``kind`` metric of BENCHMARK.json
    ("end_to_end" or "per_layer"), by name, with its unit."""
    spec = load_spec()[kind]
    missing = [m["name"] for m in spec if m["name"] not in values]
    if missing:
        raise RuntimeError(f"metrics not measured: {missing}")
    metrics = {
        m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
        for m in spec
    }
    return json.dumps({
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": metrics,
    })
