"""Host facts, a SparkSession fitted to the host, process-tree RSS
sampling and a shutdown that waits for the JVM to exit.

Everything here is set from outside the package: ``get_spark`` is called
with an explicit master, shuffle-partition count and extra configuration.
"""

from __future__ import annotations

import os
import subprocess
import sys
import threading
import time

# Fixed so a run on a bigger or smaller host plans the same stages.
SHUFFLE_PARTITIONS = 8
DRIVER_MEMORY_CAP_MB = 1536


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def spark_threads() -> int:
    """Spark's task threads: half the CPUs, at least one. The JVM's JIT and
    GC threads and the Python driver get the other half. On a 4-vCPU shared
    host, ``local[4]`` ran a ``batch_validate`` operation in 3.9 s on 11 CPU
    seconds and ``local[2]`` in 3.5 s on 8: the operation is bound by the
    driver and by contention, not by task slots. With all four vCPUs busy, a
    vCPU the hypervisor takes away stalls a task and its whole stage, and
    the spread of ten runs exceeded 0.25 of their median."""
    return max(1, nproc() // 2)


def mem_total_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def code_sha(root: str) -> str | None:
    """``git rev-parse HEAD`` of the checkout; None outside a repository."""
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=root, capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def cpu_ticks() -> tuple[int, int]:
    """(all, steal) clock ticks of the host's CPUs since boot. Steal is the
    time a virtual machine's CPUs were ready to run but the hypervisor ran
    something else: on a shared host it shows a noisy window."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return sum(fields), fields[7] if len(fields) > 7 else 0


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    ticks = after[0] - before[0]
    return (after[1] - before[1]) / ticks if ticks > 0 else 0.0


def host_record(root: str) -> dict:
    return {
        "nproc": nproc(),
        "spark_threads": spark_threads(),
        "mem_total_mb": mem_total_mb(),
        "loadavg_before": list(os.getloadavg()),
        "code_sha": code_sha(root),
    }


def prepare_env(scratch: str) -> None:
    """Process environment the JVM and its Python workers inherit."""
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(spark_threads())
    # SPARK_LOCAL_DIRS would override spark.local.dir
    os.environ.pop("SPARK_LOCAL_DIRS", None)
    os.environ["TMPDIR"] = tmp
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    # Python workers import the package from the checkout root
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )


def start_session(scratch: str, eventlog_dir: str | None = None):
    """``get_spark`` on ``local[spark_threads()]`` with a driver heap below
    host RAM, a fixed shuffle-partition count and every Spark file under ``scratch``.
    The heap starts at its full size: a heap that grows as the JVM sees fit
    makes peak RSS differ by hundreds of MB between identical runs.
    With ``eventlog_dir`` the event log is on, uncompressed and in one file."""
    from avro_conversions_spark.session import get_spark

    driver_mb = min(DRIVER_MEMORY_CAP_MB, mem_total_mb() // 4)
    tmp = os.path.join(scratch, "tmp")
    conf = {
        "spark.driver.memory": f"{driver_mb}m",
        # no hsperfdata file: the JVM would write it under /tmp
        "spark.driver.extraJavaOptions": f"-Xms{driver_mb}m -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.local.dir": os.path.join(scratch, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "false",
    }
    if eventlog_dir is not None:
        os.makedirs(eventlog_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.abspath(eventlog_dir),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return get_spark(
        app_name="validator-benchmark",
        master=f"local[{spark_threads()}]",
        shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf=conf,
    )


def shutdown_jvm(timeout: float = 60.0) -> None:
    """Stop the active SparkContext, then close the py4j gateway and wait
    until the JVM process has exited (killing it after ``timeout``)."""
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context  # noqa: SLF001
    if sc is not None:
        sc.stop()
    gateway = SparkContext._gateway  # noqa: SLF001
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 — the JVM may already be gone
        pass
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=timeout)
    SparkContext._gateway = None  # noqa: SLF001
    SparkContext._jvm = None  # noqa: SLF001


_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")
_PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024


def tree_usage(root_pid: int) -> tuple[float, int]:
    """(CPU seconds, RSS in kB) summed over ``root_pid`` and all its
    descendants. With paravirtual steal accounting, as on a KVM guest, the
    CPU seconds leave out the time the hypervisor stole."""
    children: dict[int, list[int]] = {}
    usage: dict[int, tuple[float, int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue  # the process exited while being read
        # fields after the parenthesised command name, which may hold spaces
        f = stat[stat.rindex(")") + 2 :].split()
        pid = int(entry)
        ticks = int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])  # utime stime cutime cstime
        usage[pid] = (ticks * _TICK_S, int(f[21]) * _PAGE_KB)
        children.setdefault(int(f[1]), []).append(pid)
    cpu, rss, stack = 0.0, 0, [root_pid]
    while stack:
        pid = stack.pop()
        c, r = usage.get(pid, (0.0, 0))
        cpu, rss = cpu + c, rss + r
        stack.extend(children.get(pid, ()))
    return cpu, rss


class RssSampler:
    """Samples the summed RSS of this process and all its descendants
    (Python driver, JVM, Python workers) until stopped, and keeps the peak
    that lasted from one sample to the next.

    A single sample does not count: while the JVM spawns a helper process,
    the child shares the JVM's address space and reads as a second JVM. In
    one run of ten that doubled the peak."""

    def __init__(self, interval_s: float = 0.1) -> None:
        self.interval_s = interval_s
        self.peak_kb = 0
        self._last_kb: int | None = None
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def observe(self, kb: int) -> None:
        if self._last_kb is not None:
            self.peak_kb = max(self.peak_kb, min(self._last_kb, kb))
        self._last_kb = kb

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.observe(tree_usage(pid)[1])
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.observe(tree_usage(os.getpid())[1])

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def now() -> float:
    """Wall clock in epoch seconds: the clock Spark's event log uses."""
    return time.time()
