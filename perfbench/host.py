"""Host fitting and ambient telemetry.

The engine reads its parallelism, heap and scratch directories from
environment variables; :func:`fit_environment` sets them from the CPUs
this process may use and the memory that is free, so the benchmark never
asks for more than the host has.
"""

from __future__ import annotations

import os
import resource
from pathlib import Path


def cpu_count() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # pragma: no cover - non-Linux
        return os.cpu_count() or 1


def mem_available_mb() -> float:
    try:
        for line in Path("/proc/meminfo").read_text().splitlines():
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 4096.0


def driver_heap_mb(available_mb: float) -> int:
    """1 GiB, or a quarter of free memory when that is less (but at least
    512 MiB): the workloads are sized to fit in 1 GiB, and a heap of fixed
    size keeps the JVM's resident set from depending on how much memory
    other tenants of the host happen to leave free."""
    return int(min(1024, max(512, available_mb // 4)))


def fit_environment(repo_root: Path, work_dir: Path) -> dict[str, str]:
    """Set the engine's host knobs; returns what was set."""
    local, tmp = work_dir / "spark-local", work_dir / "tmp"
    local.mkdir(parents=True, exist_ok=True)
    tmp.mkdir(parents=True, exist_ok=True)
    py_path = os.environ.get("PYTHONPATH", "")
    heap = driver_heap_mb(mem_available_mb())
    env = {
        "SPARK_GRAFT_CPUS": str(cpu_count()),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap}m",
        # the engine default pre-touches the whole heap; without it the
        # JVM's resident set shows what the workload really uses. The heap
        # starts at its full size, so its growth does not vary from run to
        # run
        "SPARK_GRAFT_DRIVER_JAVA_OPTS": f"-XX:+UseParallelGC -Xms{heap}m",
        # temporary files of every JVM (the launcher's too) and of Python
        # go to the work directory
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "TMPDIR": str(tmp),
        "SPARK_LOCAL_DIRS": str(local),
        # Python UDF workers are forked by the JVM and only see the package
        # through PYTHONPATH, never through the driver's sys.path
        "PYTHONPATH": os.pathsep.join(p for p in (str(repo_root), py_path) if p),
        "PYTHONDONTWRITEBYTECODE": "1",
    }
    os.environ.update(env)
    return env


def steal_ticks() -> int:
    """Hypervisor steal ticks from ``/proc/stat`` (field 8 of ``cpu``), or
    -1 if the file cannot be read."""
    try:
        with open("/proc/stat") as fh:
            for line in fh:
                if line.startswith("cpu "):
                    return int(line.split()[8])
    except (OSError, IndexError, ValueError):
        pass
    return -1


def steal_delta(before: int, after: int) -> int:
    """Ticks stolen between two reads; -1 when either read failed."""
    if before < 0 or after < 0:
        return -1
    return after - before


def load_1m() -> float:
    try:
        return os.getloadavg()[0]
    except OSError:
        return -1.0


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Peak resident set of this Python process plus that of the JVM."""
    total = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    if jvm_pid:
        try:
            for line in Path(f"/proc/{jvm_pid}/status").read_text().splitlines():
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1]) / 1024.0
        except OSError:
            pass
    return total


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds (user and system, including reaped children) spent by
    ``root_pid`` and every process below it: the driver, the JVM it
    launched and the JVM's Python workers."""
    procs: dict[int, tuple[int, int]] = {}
    for d in Path("/proc").iterdir():
        if not d.name.isdigit():
            continue
        try:
            # fields after the parenthesised command name, from "state"
            fields = (d / "stat").read_text().rsplit(")", 1)[1].split()
        except OSError:  # the process has exited
            continue
        procs[int(d.name)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        total += procs.get(pid, (0, 0))[1]
        todo.extend(children.get(pid, []))
    return total / os.sysconf("SC_CLK_TCK")

