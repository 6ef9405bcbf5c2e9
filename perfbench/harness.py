"""Run context shared by the workloads: containment of every file the run
writes, Spark session set-up, memory sampling, checks and sample statistics.
"""

from __future__ import annotations

import os
import shutil
import statistics
import threading
import time
from pathlib import Path

# Spark task threads: two of the 4-core host's cores, leaving the rest to the
# driver, the JIT and GC; measured steadier run to run than local[4]
CORES = 2
DRIVER_MEMORY = "1g"
STATE_DIR = ".perfbench"  # under the checkout root; gitignored


def contain(root: Path) -> Path:
    """Point every scratch location Spark, the JVM and Python use into
    `<root>/.perfbench/work`, and clear the A/B switches so the library runs
    its default code paths. Must run before pyspark is imported."""
    work = root / STATE_DIR / "work"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_MASTER"] = f"local[{CORES}]"
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        f"--conf spark.local.dir={work}/spark-local",
        f"--conf spark.sql.warehouse.dir={work}/warehouse",
        f"--driver-java-options '-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData'",
        "pyspark-shell",
    ])
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return work


def start_session():
    """The library's own session factory."""
    from lantern_extras_spark import get_spark

    spark = get_spark("perfbench", shuffle_partitions=CORES)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_up(spark) -> None:
    """The lazy set-up a first user call would otherwise pay: JVM code paths
    and the Python worker pool."""
    spark.range(0, 64, 1, CORES).count()
    spark.range(0, 64, 1, CORES).mapInPandas(lambda it: it, "id long").count()


def shutdown_jvm() -> None:
    """Stop the JVM that pyspark launched and wait for it (its Python
    workers are its children and end with it)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


class RssSampler:
    """Peak summed RSS of this process and all its descendants (the JVM and
    its Python workers), sampled from /proc every `interval` seconds."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _tree_rss(self) -> int:
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, ()))
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                pass
        return total

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self._tree_rss())
            self._stop.wait(self.interval)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_bytes = max(self.peak_bytes, self._tree_rss())
        return self.peak_bytes / 2**20


def cpu_ticks() -> list[int]:
    """Host-wide CPU time counters from /proc/stat (user, nice, system,
    idle, iowait, irq, softirq, steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests in between."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(sum(d), 1)


def parquet_files(path: str) -> list[str]:
    return sorted(os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs
                  if f.endswith(".parquet"))


def read_parquet(path: str, columns: list[str] | None = None):
    """A Spark output directory (partition columns not included), read with
    pyarrow: checks read results without running the program."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    files = parquet_files(path)
    if not files:
        raise FileNotFoundError(f"no parquet files under {path}")
    return pa.concat_tables([pq.read_table(f, columns=columns) for f in files])


def median(xs) -> float:
    return float(statistics.median(xs))


def tail(xs) -> dict | None:
    """The highest percentile with at least ten samples above it."""
    n = len(xs)
    if n < 11:
        return None
    s = sorted(xs)
    i = n - 11
    return {"value": s[i], "pct": round(100.0 * i / (n - 1), 1), "n": n}


class Run:
    """What one benchmark run accumulates: operation counts, check results,
    samples and the metrics it finally reports."""

    def __init__(self, work: Path, seed: int, seconds: float, size: str, tracer):
        self.work = work
        self.seed, self.seconds, self.size = seed, seconds, size
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.checks: list[dict] = []
        self.values: dict[str, float] = {}  # end-to-end values, by metric name
        self.extra: dict[str, dict] = {}  # workload-specific metrics, not gated
        self.layer_extra: dict[str, float] = {}  # per-layer extras (recall, pairs, ...)
        self.rounds = 0
        self.info: dict = {}

    def span(self, *a, **kw):
        return self.tracer.span(*a, **kw)

    def path(self, *parts) -> str:
        p = self.work.joinpath(*parts)
        p.parent.mkdir(parents=True, exist_ok=True)
        return str(p)

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.checks.append({"check": name, "ok": bool(ok), "detail": detail})

    @property
    def correct(self) -> bool:
        return bool(self.checks) and all(c["ok"] for c in self.checks)

    def deadline(self) -> float:
        return time.perf_counter() + self.seconds

    def report(self, name: str, value, unit: str, n: int | None = None,
               pct: float | None = None) -> None:
        """A workload-specific metric: printed and recorded, not gated."""
        rec = {"value": value, "unit": unit}
        if n is not None:
            rec["n"] = n
        if pct is not None:
            rec["pct"] = pct
        self.extra[name] = rec

    def report_latency(self, name: str, samples_ms: list[float]) -> None:
        """`<name>_p50_ms` and `<name>_tail_ms` (when ≥ 11 samples)."""
        if not samples_ms:
            return
        self.report(f"{name}_p50_ms", median(samples_ms), "ms", n=len(samples_ms))
        t = tail(samples_ms)
        if t:
            self.report(f"{name}_tail_ms", t["value"], "ms", n=t["n"], pct=t["pct"])
