"""Helpers shared by the orchestrator, the system process and the load
generator: machine sizing, order statistics and process-tree memory."""

from __future__ import annotations

import os
import platform
import shlex
import subprocess

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def nproc() -> int:
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else (os.cpu_count() or 1)


def phys_mem_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_mem_mb() -> int:
    """Spark driver heap: an eighth of physical memory, 1-4 GiB. The
    system runs driver and executors in one JVM and shares the box with
    the load generator and the Python workers."""
    return max(1024, min(phys_mem_mb() // 8, 4096))


def spark_env(run_dir: str) -> dict[str, str]:
    """Environment for a process that starts Spark: machine-derived
    cores and heap through the program's own ``SPARK_GRAFT_*`` knobs,
    and every scratch location inside ``run_dir``."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=str(nproc()),
        SPARK_GRAFT_DRIVER_MEM=f"{driver_mem_mb()}m",
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        TMPDIR=tmp,
        PYTHONPATH=ROOT + os.pathsep + env.get("PYTHONPATH", ""),
        PYSPARK_SUBMIT_ARGS=shlex.join(
            [
                "--conf", "spark.ui.showConsoleProgress=false",
                "--conf", f"spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
                # JVM scratch inside the run directory, no hsperfdata in
                # /tmp; the whole heap up front, so peak memory does not
                # depend on when the collector chose to grow it (grown on
                # demand, peak RSS varied ~20% run to run)
                "--driver-java-options",
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{driver_mem_mb()}m",
                "pyspark-shell",
            ]
        ),
    )
    env.pop("SPARK_GRAFT_INITIAL_PARTS", None)
    return env


def machine_info() -> dict:
    def _java() -> str:
        try:
            out = subprocess.run(
                ["java", "-version"], capture_output=True, text=True, timeout=30
            )
            return (out.stderr or out.stdout).splitlines()[0]
        except (OSError, subprocess.TimeoutExpired, IndexError):
            return "unknown"

    try:
        import pyspark

        spark_version = pyspark.__version__
    except ImportError:
        spark_version = "missing"
    return {
        "cores": nproc(),
        "mem_mb": phys_mem_mb(),
        "driver_mem_mb": driver_mem_mb(),
        "java": _java(),
        "python": platform.python_version(),
        "spark": spark_version,
        "platform": platform.platform(),
    }


# -- statistics ---------------------------------------------------------------


def pct(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    k = (len(xs) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail_q(n: int) -> float:
    """Highest of p99/p95/p90/p75/p50 with at least ten samples beyond it."""
    for q in (99.0, 95.0, 90.0, 75.0):
        if n * (100.0 - q) / 100.0 >= 10:
            return q
    return 50.0


# -- process-tree memory ------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_peak_rss_mb(pid: int | None = None) -> dict[str, float]:
    """Peak resident set (VmHWM) in MB over ``pid`` and its live
    descendants — the Python driver, its JVM and the Python workers —
    summed per executable name. Short-lived helpers the JVM forks (to
    run ``chmod``, say) start as copies of the JVM and are skipped."""
    root = pid or os.getpid()
    kids = _children()
    todo, out = [root], {}
    while todo:
        p = todo.pop()
        todo.extend(kids.get(p, []))
        try:
            with open(f"/proc/{p}/status") as fh:
                fields = dict(line.split(":", 1) for line in fh if ":" in line)
        except OSError:
            continue
        name = fields.get("Name", "").strip()
        if "VmHWM" in fields and name.startswith(("java", "python")):
            out[name] = out.get(name, 0.0) + int(fields["VmHWM"].split()[0]) / 1024.0
    return out
