"""Spark session lifecycle for the benchmark: one local[nproc] session per
set-up, every scratch file inside the checkout, and a full stop that waits
for the JVM and its Python workers to exit.

Each set-up launches a fresh JVM (a stopped SparkContext would otherwise
reuse the old gateway), so every set-up sample pays what a CLI invocation
pays: JVM start, session creation and the Python-worker fork.
"""

from __future__ import annotations

import os
import time
from pathlib import Path


def n_cores() -> int:
    return len(os.sched_getaffinity(0))


def task_slots() -> int:
    """Half the cores run tasks; the other half keep the driver thread, the
    JVM's compiler and GC threads and the Python driver off the task cores,
    so a host that steals CPU time slows a run less."""
    return max(1, n_cores() // 2)


def start_session(work: Path):
    """A local[task_slots()] session whose local dirs, JVM temp dir and
    warehouse all live under `work`, configured like the repository's
    bench.py (one shuffle partition per task slot, ParallelGC) but with a
    fixed 2 GB heap, so heap resizing does not vary from run to run. The JIT
    stops at C1: with the C2 compiler the warm job kept speeding up by up to
    a quarter over many iterations, by a different amount in every run. The
    UI is off: stage metrics come from the in-process status store."""
    from pyspark.sql import SparkSession

    tmp = work / "tmp"
    local = work / "spark-local"
    for d in (tmp, local):
        d.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    # in local mode SPARK_LOCAL_DIRS, when set, wins over spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    return (
        SparkSession.builder.master(f"local[{task_slots()}]")
        .appName("perfbench")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", str(task_slots()))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "2g")
        .config("spark.local.dir", str(local))
        .config("spark.sql.warehouse.dir", str(work / "warehouse"))
        .config("spark.driver.extraJavaOptions",
                f"-XX:+UseParallelGC -Xms2g -XX:TieredStopAtLevel=1 -Djava.io.tmpdir={tmp}")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )


def prefork_python_workers(spark) -> None:
    """Fork one reused Python worker per task slot (one Arrow job), so the
    first job does not pay the fork."""
    n = task_slots()

    def ident(batches):
        yield from batches

    spark.range(n, numPartitions=n).mapInPandas(ident, "id long") \
        .write.format("noop").mode("overwrite").save()


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    return proc.pid if proc is not None else None


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def cpu_times() -> list[int]:
    """The aggregate `cpu` line of /proc/stat: user, nice, system, idle,
    iowait, irq, softirq, steal, ... in clock ticks."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of the host CPU time between two cpu_times() readings that the
    hypervisor gave to other guests: slow bands of this host show here."""
    d = [b - a for a, b in zip(before[:8], after[:8])]
    return d[7] / max(sum(d), 1)


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """Sum of VmHWM over the JVM and every process below it (the Python
    worker daemon and its forked workers)."""
    pid = jvm_pid()
    if pid is None:
        return 0.0
    return sum(_vm_hwm_kb(p) for p in [pid] + descendants(pid)) / 1024.0


def stop_session(spark) -> None:
    """Stop Spark, shut the gateway JVM down and wait until it and every
    process it started have exited."""
    from pyspark import SparkContext

    pid = jvm_pid()
    below = descendants(pid) if pid is not None else []
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 - a JVM that ignores shutdown
                proc.kill()
                proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None
    _wait_gone(below, 20)
    for p in below:
        if _alive(p):
            try:
                os.kill(p, 9)
            except OSError:
                pass
    _wait_gone(below, 10)


def _alive(pid: int) -> bool:
    """True while the process exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            state = fh.read().rsplit(")", 1)[1].split()[0]
    except (OSError, IndexError):
        return False
    return state not in ("Z", "X")


def _wait_gone(pids: list[int], seconds: float) -> None:
    deadline = time.monotonic() + seconds
    while any(_alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.1)
