"""Process-level plumbing for the benchmark.

- keeps every file Spark, the JVM and Python write inside the
  benchmark's work directory;
- measures set-up time from process start (``/proc/self/stat``), so
  interpreter start, package import and session start all count;
- reads peak resident memory and CPU time of this process and of its
  JVM from ``/proc`` (psutil is not a dependency);
- stamps a run with cores, loadavg and hypervisor steal.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
APP = "perfbench"
DRIVER_MEM = "1g"


def prepare(work_dir: str) -> None:
    """Point every temp location at ``work_dir``. Call before pyspark
    is imported: the gateway and the JVM read these at launch."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work_dir, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    # half the cores run tasks: the workloads are bound by per-job
    # overhead outside the tasks (scheduling, planning, py4j, JIT), and
    # leaving the other half to the JVM's service threads and to Python
    # made runs both faster and less sensitive to hypervisor steal
    os.environ["SPARK_GRAFT_CPUS"] = str(max(1, len(os.sched_getaffinity(0)) // 2))
    # a 1g heap instead of the package's 8g keeps the benchmark small on
    # a shared machine; set, not defaulted, so the caller's environment
    # does not change what is measured
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def spark_conf(work_dir: str, event_log_dir: str | None = None) -> dict[str, str]:
    tmp = os.path.join(work_dir, "tmp")
    conf = {
        # the heap starts at its maximum: G1 otherwise grows it at
        # moments that depend on timing, and peak memory followed them
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEM}",
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + event_log_dir
        # one plain JSON-lines file per application, readable without zstd
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    return conf


def since_process_start() -> float:
    """Seconds since this process was created (10 ms resolution)."""
    with open("/proc/self/stat") as f:
        # field 22 (starttime) counts clock ticks since boot; the comm
        # field may hold spaces, so split after its closing paren
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def setup(work_dir: str, event_log_dir: str | None = None, on_phase=None):
    """Import the registry and start the session; returns the session.
    ``on_phase(name)`` wraps each step (a tracing hook)."""
    from contextlib import nullcontext

    phase = on_phase or (lambda name: nullcontext())
    with phase("registry.import"):
        from music_streaming_etl_spark.plans import registry  # noqa: F401
    with phase("session.start"):
        from music_streaming_etl_spark.session import get_spark

        spark = get_spark(APP, extra_conf=spark_conf(work_dir, event_log_dir))
    return spark


def jvm_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def stop(spark) -> None:
    """Stop the session and wait for the JVM to exit: it exits when its
    stdin (a pipe from this process) closes."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident set of this Python process plus its JVM, in MiB."""
    kb = _vm_hwm_kb(os.getpid())
    pid = jvm_pid(spark)
    if pid is not None:
        kb += _vm_hwm_kb(pid)
    return kb / 1024.0


def cpu_s(spark) -> float:
    """CPU seconds (user + system) used so far by this Python process
    and its JVM, exited threads included. With paravirtual time
    accounting the kernel charges no hypervisor steal to a process, so
    this does not grow while the VM waits for a physical core."""
    ticks = 0
    for pid in (os.getpid(), jvm_pid(spark)):
        if pid is not None:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            ticks += int(fields[11]) + int(fields[12])
    return ticks / os.sysconf("SC_CLK_TCK")


def _cpu_ticks() -> tuple[int, int]:
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    # user..steal only: guest time is already inside user/nice
    return (vals[7] if len(vals) > 7 else 0), sum(vals[:8])


class Stamp:
    """Cores, loadavg before/after and steal % over a run — a run taken
    during a steal episode reads as noisy, not as a regression."""

    def __init__(self) -> None:
        self.load_before = os.getloadavg()[0]
        self.ticks = _cpu_ticks()

    def finish(self) -> dict:
        steal1, total1 = _cpu_ticks()
        dt = total1 - self.ticks[1]
        steal = 100.0 * (steal1 - self.ticks[0]) / dt if dt > 0 else -1.0
        return {
            "cores": len(os.sched_getaffinity(0)),
            "spark_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
            "driver_mem": os.environ.get("SPARK_DRIVER_MEM"),
            "loadavg_before": self.load_before,
            "loadavg_after": os.getloadavg()[0],
            "steal_pct": steal,
            "steal_warn": steal > 0.25,
        }
