"""Host settings, the SparkSession, and the processes behind it.

The settings come from the host, not from the program's defaults, and are
recorded here rather than in BENCHMARK.json, whose keys are fixed.
"""

from __future__ import annotations

import os
import subprocess
import time

# The benchmark declares the CPUs it was calibrated on and refuses to run
# on fewer: local[C] with C above the usable CPUs would time
# oversubscription, not the program.
CORES = 4
# Driver heap as a share of MemTotal, within [2, 8] GiB: the program's
# 48g default lets the local-mode JVM grow until the kernel OOM-kills it
# on a 16 GB host.
HEAP_SHARE = 0.25


def usable_cpus() -> int:
    return len(os.sched_getaffinity(0))


def driver_mem() -> str:
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{min(8, max(2, int(kb * HEAP_SHARE / 2**20)))}g"


def configure(cores: int, root: str, scratch: str) -> None:
    """Environment the JVM and its Python workers inherit.  Spark's local
    and temp directories go under ``scratch``, which the caller removes."""
    tmp = os.path.join(scratch, "tmp")
    local = os.path.join(scratch, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = driver_mem()
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # Python workers import logdag_spark from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    # one BLAS thread per Python worker: C workers x C BLAS threads would
    # oversubscribe the C task slots
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[var] = "1"
    if cores < usable_cpus():
        os.sched_setaffinity(0, sorted(os.sched_getaffinity(0))[:cores])


def start_spark(cores: int, extra: dict[str, str] | None = None):
    """One local-mode driver with ``cores`` task slots."""
    from logdag_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        # same split size as bench.py: many small splits keep task waves even
        "spark.sql.files.maxPartitionBytes": "8388608",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
        **(extra or {}),
    }
    return get_spark(app_name="perfbench", cores=cores,
                     shuffle_partitions=cores, extra_conf=conf)


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name (state, ppid, ...)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None


def _start_time(pid: int) -> str | None:
    st = _stat(pid)
    return st[19] if st else None


def process_tree(root: int) -> list[int]:
    """``root`` and its live descendants, from /proc."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        st = _stat(int(d)) if d.isdigit() else None
        if st:
            kids.setdefault(int(st[1]), []).append(int(d))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def _gateway_proc():
    from pyspark import SparkContext

    return SparkContext._gateway.proc


def peak_rss_mb() -> tuple[float, float]:
    """VmHWM of the JVM, and summed over its Python workers."""
    jvm, *workers = process_tree(_gateway_proc().pid)
    return _vm_hwm_mb(jvm), sum(_vm_hwm_mb(p) for p in workers)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for every process it had."""
    from pyspark import SparkContext

    proc = _gateway_proc()
    workers = {pid: _start_time(pid) for pid in process_tree(proc.pid)[1:]}
    spark.stop()
    SparkContext._gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    # Python workers exit once the JVM is gone; a pid is ours only while
    # its start time matches, so a reused pid is never signalled
    deadline = time.monotonic() + 20
    for pid, started in workers.items():
        while _start_time(pid) == started and time.monotonic() < deadline:
            time.sleep(0.05)
        if _start_time(pid) == started:
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass
