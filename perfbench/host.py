"""Session launch environment, memory readings and the calibration probe."""

from __future__ import annotations

import gc
import os
import resource
import time


def driver_mem() -> str:
    """A Spark driver heap that fits this host: a sixth of RAM, 1-4 GiB. (The
    package default, 16g, is more than many hosts have.)"""
    with open("/proc/meminfo") as f:
        kib = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{max(1, min(4, kib // (6 << 20)))}g"


def pin_cpus(n: int = 2) -> None:
    """Run this process, and everything it starts, on at most ``n`` of its
    CPUs. On a 4-vCPU VM of a shared host, ingest runs (2k-row waves)
    alternating between all four vCPUs and two took 3.7 s a wave with
    20-24% of the VM's time stolen by the hypervisor on four, and 2.3 s
    with 1-6% stolen on two. On one, JVM background threads compete with
    the driver (4.1-4.6 s a wave)."""
    os.sched_setaffinity(0, sorted(os.sched_getaffinity(0))[:n])


def launch_env(root: str, work: str) -> dict[str, str]:
    """Environment for the JVM and its Python workers, set before the
    session starts: parallelism from this process's CPUs, a heap that fits
    the host, the package importable by Python workers, and every scratch
    directory inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    path = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    return {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": driver_mem(),
        "PYTHONPATH": os.pathsep.join(path),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "TMPDIR": tmp,
    }


def session_conf(work: str) -> dict[str, str]:
    """Session settings of the benchmark. The heap is committed and touched
    at its full size from the start: a heap that grows in steps changes GC
    timing, and with it op latency and peak RSS, from one run to the next.
    The price is that the heap counts in ``peak_rss_mb`` at its full size
    whatever the program keeps in it; traced runs report what it keeps
    (``jvm.live_heap_mb``).
    The serial collector with a fixed young generation keeps GC frequency
    the same from run to run; G1 sizes its young generation from the pause
    times it sees. On a 4-vCPU VM, serve's ``latency_s`` spread 0.19
    (IQR/median of ten runs) under G1 and 0.10 over five runs with this.
    No JVM perf-data file is written outside ``work``."""
    tmp = os.path.join(work, "tmp")
    java = (f"-Xms{driver_mem()} -XX:+AlwaysPreTouch -XX:+UseSerialGC -Xmn256m"
            f" -XX:-UsePerfData -Djava.io.tmpdir={tmp}")
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": java,
    }


def jvm_pid(spark) -> int:
    """The session's JVM: the gateway process itself, which spark-submit
    execs into java."""
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/comm") as f:
        comm = f.read().strip()
    if comm != "java":
        raise RuntimeError(f"gateway process {pid} is {comm!r}, not java")
    return pid


def peak_rss_mb(jvm: int) -> float:
    """Peak RSS of this Python process plus its JVM, in MiB."""
    kib = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    with open(f"/proc/{jvm}/status") as f:
        kib += next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return kib / 1024


def live_heap_mb(spark) -> float:
    """JVM heap in use after full collections, in MiB: what the program
    and Spark still hold at the end of the run (caches, retained plans and
    status data). The second collection frees what Spark's cleaner
    released after the first (broadcasts, shuffle state)."""
    gc.collect()  # release the JVM objects that dead Python proxies pin
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    time.sleep(0.5)
    jvm.java.lang.System.gc()
    mem = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return mem.getHeapMemoryUsage().getUsed() / 2**20


def calibration_probe(spark) -> float:
    """Constant work that no change to the package moves: the work of
    bench.py's ``calibration_probe`` (a codegen'd JVM aggregation plus a
    Python arithmetic loop) with a third of its rows, half its loop and
    three passes instead of four. bench.py's probe takes 1-4 s per
    reading on a 4-vCPU VM; at two readings a run, that is 5-10% of a
    benchmark run. Min of 2 warm passes, in s."""

    def once() -> float:
        t0 = time.perf_counter()
        spark.range(10_000_000).selectExpr("sum(id * 2654435761 % 1000003) as s").first()
        acc = 0
        for i in range(1_000_000):
            acc += i * i
        return time.perf_counter() - t0

    once()
    return min(once(), once())

