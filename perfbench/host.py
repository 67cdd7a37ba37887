"""Engine shape and host-noise instruments: the Spark session the benchmark
runs on, CPU steal, the first-touch page-fault probe, and peak summed RSS of
the process tree (driver, JVM and Python workers)."""

from __future__ import annotations

import os
import threading

# Driver JVM heap: local mode runs every task in this JVM, but the Python
# workers do the index work and the JVM only moves Arrow batches of at most
# ~25k rows, so 1 GiB is ample and leaves a 15 GB host to the workers and
# other tenants.  The heap is committed and touched at start so the JVM's
# share of peak RSS does not depend on when its collector runs.
DRIVER_MEMORY = "1g"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def engine_shape() -> dict:
    n = nproc()
    return {
        "master": f"local[{n}]",
        "shuffle_partitions": 2 * n,
        "driver_memory": DRIVER_MEMORY,
    }


def start_spark(work_dir: str, root: str):
    """A local SparkSession whose scratch, temp and warehouse dirs all sit in
    ``work_dir``; Python workers inherit ``root`` on PYTHONPATH."""
    from quickwit_spark.mem import tune_allocator, worker_env

    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    tune_allocator()
    os.environ.update(worker_env())
    os.environ["TMPDIR"] = tmp
    # the env var wins over spark.local.dir, so set it rather than inherit one
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    from pyspark.sql import SparkSession

    shape = engine_shape()
    spark = (
        SparkSession.builder.master(shape["master"])
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(shape["shuffle_partitions"]))
        .config("spark.driver.memory", shape["driver_memory"])
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch")
        .config("spark.sql.warehouse.dir", os.path.join(work_dir, "warehouse"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate ``cpu`` line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]:
    # guest time is already counted in user/nice
    return vals[7], sum(vals[:8])


def steal_share(start: tuple[int, int], end: tuple[int, int]) -> float:
    total = end[1] - start[1]
    return (end[0] - start[0]) / total if total > 0 else 0.0


def _tree_rss_kb(root_pid: int) -> dict[str, int]:
    """RSS of a process tree in KiB: the root ("driver"), java processes
    ("jvm") and every other descendant ("workers")."""
    children: dict[int, list[int]] = {}
    rss: dict[int, tuple[str, int]] = {}
    page_kb = os.sysconf("SC_PAGE_SIZE") // 1024
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                comm, rest = f.read().rsplit(")", 1)
        except OSError:  # exited while listing
            continue
        fields = rest.split()
        pid = int(name)
        children.setdefault(int(fields[1]), []).append(pid)
        rss[pid] = (comm.split("(", 1)[1], int(fields[21]) * page_kb)
    out = {"driver": 0, "jvm": 0, "workers": 0}
    todo = [root_pid]
    while todo:
        pid = todo.pop()
        comm, kb = rss.get(pid, ("", 0))
        out["driver" if pid == root_pid else "jvm" if comm == "java" else "workers"] += kb
        todo += children.get(pid, [])
    return out


class RssSampler:
    """Samples the summed RSS of this process and all its descendants every
    0.25 s on a daemon thread; ``peak_mb`` is the largest sum."""

    def __init__(self):
        self.peak_kb = 0
        self.peak_parts_kb: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            parts = _tree_rss_kb(pid)
            self.peak_kb = max(self.peak_kb, sum(parts.values()))
            for k, v in parts.items():
                self.peak_parts_kb[k] = max(self.peak_parts_kb.get(k, 0), v)
            self._stop.wait(0.25)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024
