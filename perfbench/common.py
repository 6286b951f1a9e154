"""Helpers shared by the workloads: statistics, the isolated run directory,
the Spark session's lifetime, peak-RSS sampling and the run record."""

from __future__ import annotations

import os
import platform
import shutil
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = "stockpulse_batch_realtime_etl_spark"
#: Heap for the single local-mode JVM, well below a 15 GiB host.
DRIVER_MEM = "2g"


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def engine_present() -> bool:
    return (ROOT / PACKAGE).is_dir() and (ROOT / "__spark_entry__.py").is_file()


class RunDir:
    """A fresh directory inside the checkout for one run: temp files, Spark
    local dirs, checkpoints and sinks.  Nothing is shared between runs, so
    the engine's own temp-dir caches start cold every time."""

    def __init__(self, workload: str, seed: int):
        base = ROOT / ".perfbench_runs"
        self.path = base / f"{workload}-s{seed}-{os.getpid()}-{time.time_ns()}"
        self.records = base / "records"
        for sub in ("tmp", "local", "data"):
            (self.path / sub).mkdir(parents=True, exist_ok=True)
        self.records.mkdir(parents=True, exist_ok=True)

    def sub(self, *parts: str) -> str:
        p = self.path.joinpath("data", *parts)
        p.mkdir(parents=True, exist_ok=True)
        return str(p)

    def cleanup(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


def isolate_env(run: RunDir, cpus: int) -> None:
    """Environment the engine and its JVM inherit; set before the JVM starts."""
    import tempfile

    tmp = str(run.path / "tmp")
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=str(run.path / "local"),
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        TZ="UTC",
        PYTHONPATH=os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
        ),
    )
    time.tzset()
    tempfile.tempdir = None  # re-read TMPDIR
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))


def spark_conf(run: RunDir) -> dict[str, str]:
    tmp = str(run.path / "tmp")
    return {
        "spark.sql.warehouse.dir": str(run.path / "data" / "warehouse"),
        # a fixed-size heap: G1 otherwise grows it at moments that differ
        # from run to run, and peak memory would measure that timing
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"),
    }


def _children(pid: int) -> list[int]:
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        if ppid == pid:
            out.append(int(d))
    return out


def descendants(pid: int) -> list[int]:
    todo, seen = [pid], []
    while todo:
        p = todo.pop()
        for c in _children(p):
            seen.append(c)
            todo.append(c)
    return seen


def pss_bytes(pids: list[int]) -> int:
    """Proportional set size: pages shared by forked Python workers are
    split between them instead of counted once per process."""
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (OSError, IndexError, ValueError):
            pass
    return total


class RssSampler:
    """Peak memory (PSS) of the driver JVM plus its Python workers."""

    def __init__(self, jvm_pid: int, every_s: float = 0.25, rescan_s: float = 1.0):
        self.jvm_pid, self.every_s, self.rescan_s = jvm_pid, every_s, rescan_s
        self.peak = self.samples = 0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pids, scanned = [], 0.0
        while not self._stop.is_set():
            if time.time() - scanned > self.rescan_s:
                pids, scanned = [self.jvm_pid, *descendants(self.jvm_pid)], time.time()
            self.peak = max(self.peak, pss_bytes(pids))
            self.samples += 1
            self._stop.wait(self.every_s)

    def __enter__(self):
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join()


def start_spark(run: RunDir):
    """The engine's own session factory, with run-local directories."""
    from stockpulse_batch_realtime_etl_spark.session import get_spark

    spark = get_spark(app_name="perfbench", extra_conf=spark_conf(run))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_process(spark):
    return spark.sparkContext._gateway.proc


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM and every worker it forked."""
    from pyspark import SparkContext

    proc = jvm_process(spark)
    kids = descendants(proc.pid)
    spark.stop()
    gw = SparkContext._gateway
    try:
        gw.shutdown()
    except Exception:
        pass
    try:
        proc.stdin.close()  # the JVM exits when its stdin closes
    except Exception:
        pass
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.time() + 15
    for pid in kids:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except OSError:
                pass


def loadavg() -> list[float]:
    return [round(x, 2) for x in os.getloadavg()]


def git_commit() -> str:
    try:
        out = subprocess.run(
            ["git", "-C", str(ROOT), "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
        return out.stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def describe(spark, args) -> dict:
    """Self-describing record of the run's configuration."""
    import pyspark

    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "spark_graft_cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
        "nproc": len(os.sched_getaffinity(0)),
        "machine_cpus": os.cpu_count(),
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "spark_version": pyspark.__version__,
        "python_version": platform.python_version(),
        "git_commit": git_commit(),
    }
