"""Process plumbing for the benchmark: the work directory inside the
checkout, a Spark session sized to the machine, the environment record,
and a resident-memory sampler.

Nothing here runs at import time; ``prepare_process_env`` must be called
before pyspark is imported, because the JVM and the Python workers
inherit the environment it sets.
"""

from __future__ import annotations

import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import threading

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_work")
CPUS = 4  # every workload runs at local[4]
DRIVER_MEM_CAP_MB = 4096


def driver_memory_mb() -> int:
    """A quarter of physical RAM, between 1 GB and 4 GB: the JVM heap plus
    the Python driver and workers must fit with room to spare, so that
    Spark spills instead of the kernel killing the process (the package
    default of 48g does not fit a 15 GB machine)."""
    total_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return int(min(DRIVER_MEM_CAP_MB, max(1024, total_mb // 4)))


def prepare_process_env(run_dir: str) -> None:
    """Keep every file the run writes inside ``run_dir`` and put the
    checkout on the Python workers' path (executors otherwise fail with
    ``ModuleNotFoundError: binlake_spark`` when started from elsewhere)."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    # the same directory as spark.local.dir, which SPARK_LOCAL_DIRS overrides
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_spark(run_dir: str, mem_mb: int, traced: bool):
    from binlake_spark.session import get_spark

    conf = {
        "spark.driver.memory": f"{mem_mb}m",
        # A run lasts about a minute.  With the JVM's defaults it never
        # reaches a steady state in that time: the heap grows from 1/64 of
        # RAM, and the optimising (C2) JIT kept making a wire cycle faster
        # for ten cycles in a row (284 -> 345 ev/s over 100 s on a 4-vCPU
        # AMD EPYC VM), so a run's figures depended on how far the warm-up
        # had got.  A heap sized up front and the C1 JIT alone run at one
        # speed from the first cycle.  C1 alone gets a 48 MB code cache,
        # which the stream workload fills, and a full cache turns the JIT
        # off, so the cache gets the size the default JIT has.
        "spark.driver.extraJavaOptions": (
            f"-Xms{mem_mb}m -XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m"
        ),
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        # the traced run reads per-stage metrics back from the status
        # store, so it must keep every stage of the run; untraced runs
        # keep Spark's defaults
        conf["spark.ui.retainedJobs"] = "100000"
        conf["spark.ui.retainedStages"] = "100000"
    spark = get_spark("perfbench", cpus=CPUS, shuffle_partitions=CPUS, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark, shutdown_jvm: bool) -> None:
    """Stop the session; with ``shutdown_jvm`` also end the gateway JVM
    and wait for it, so no process outlives the run."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if not shutdown_jvm or gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def cpu_times() -> list[int]:
    """The machine's summed CPU time counters (the ``cpu`` line of
    /proc/stat); empty where there is no /proc/stat."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return []


def steal_frac(before: list[int], after: list[int]) -> float | None:
    """Share of the CPU time between two ``cpu_times`` readings that the
    hypervisor gave to other guests (the noise a shared host adds)."""
    if len(before) < 8 or len(after) < 8:
        return None
    d = [b - a for a, b in zip(before, after)]
    total = sum(d[:8])  # user..steal; guest time is already in user
    return round(d[7] / total, 4) if total else None


def median(xs) -> float:
    xs = [x for x in xs if x is not None]
    return float(statistics.median(xs)) if xs else 0.0


def file_bytes(root: str, rel_paths) -> int:
    return sum(
        os.path.getsize(p)
        for p in (os.path.join(root, r) for r in rel_paths)
        if os.path.exists(p)
    )


def rmtree(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


def print_line(tag: str, obj) -> None:
    print(f"{tag} {json.dumps(obj, sort_keys=True)}", flush=True)


# --------------------------------------------------------------------- #
# environment record
# --------------------------------------------------------------------- #
def _mount_of(path: str) -> dict:
    """Filesystem type and mount options of the mount holding ``path``
    (the longest matching mount point in /proc/mounts)."""
    real = os.path.realpath(path)
    best = {"mount": "", "fstype": "?", "options": "?"}
    try:
        with open("/proc/mounts") as f:
            for line in f:
                parts = line.split()
                if len(parts) < 4:
                    continue
                mnt = parts[1].replace("\\040", " ")
                inside = real == mnt or real.startswith(mnt.rstrip("/") + "/")
                if inside and len(mnt) >= len(best["mount"]):
                    best = {"mount": mnt, "fstype": parts[2], "options": parts[3]}
    except OSError:
        pass
    return best


def environment(seed: int, mem_mb: int, run_dir: str) -> dict:
    import pyarrow
    import pyspark

    fs = _mount_of(run_dir)
    return {
        "nproc": os.cpu_count(),
        "local_cpus": CPUS,
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "driver_memory_mb": mem_mb,
        "seed": seed,
        "work_fs": fs["fstype"],
        "work_mount": fs["mount"],
        "work_mount_options": fs["options"],
    }


# --------------------------------------------------------------------- #
# resident memory of the driver, the JVM and the Python workers
# --------------------------------------------------------------------- #
def _rss_tree_kb(root_pid: int) -> int:
    """Summed VmRSS of ``root_pid`` and all its descendants."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        pid = int(name)
        ppid = kb = 0
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("PPid:"):
                        ppid = int(line.split()[1])
                    elif line.startswith("VmRSS:"):
                        kb = int(line.split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(pid)
        rss[pid] = kb
    total, stack = 0, [root_pid]
    while stack:
        pid = stack.pop()
        total += rss.get(pid, 0)
        stack.extend(children.get(pid, ()))
    return total


class RssSampler:
    """Background sampler of the process tree's summed resident memory;
    ``peak_mb`` is the largest sample."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, _rss_tree_kb(pid))
            self._stop.wait(self.interval_s)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0
