"""Shared helpers: host labels, process-tree accounting, statistics and
the result line."""

from __future__ import annotations

import json
import math
import os
import signal
import time
from pathlib import Path

CLK_TCK = os.sysconf("SC_CLK_TCK")
# A failed operation counts as missing every latency limit: it enters the
# samples as +inf, and a statistic that lands on it is printed as this.
FAILED_LATENCY = 1e9


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (``q`` in [0, 100])."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    frac = pos - lo
    if frac == 0:
        return xs[lo]
    if math.isinf(xs[lo + 1]):
        return math.inf
    return xs[lo] + (xs[lo + 1] - xs[lo]) * frac


def median(values: list[float]) -> float:
    return percentile(values, 50.0)


def finite(x: float) -> float:
    return FAILED_LATENCY if math.isinf(x) else x


# -- /proc readers ---------------------------------------------------------


def cpu_times() -> list[int]:
    """Aggregate ``cpu`` line of /proc/stat, in clock ticks."""
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of host CPU time stolen by the hypervisor between two
    /proc/stat readings (field 8 is steal)."""
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta[:8])
    return delta[7] / total if total > 0 else 0.0


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(v) for v in f.read().split()[:3]]


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def process_tree(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_cpu_s(root: int) -> float:
    """User+system CPU seconds of the tree, reaped children included."""
    total = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(v) for v in fields[11:15])  # utime stime cutime cstime
    return total / CLK_TCK


def tree_hwm_mb(root: int) -> tuple[float, dict[str, float]]:
    """Summed peak resident set (VmHWM) over the process tree, in MB,
    and its split by process name."""
    by_name: dict[str, float] = {}
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                status = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue
        if "VmHWM" in status:
            name = status["Name"].strip()
            by_name[name] = by_name.get(name, 0.0) + int(status["VmHWM"].split()[0]) / 1024.0
    return sum(by_name.values()), by_name


def memory_layers(by_name: dict[str, float]) -> dict[str, float]:
    """Peak RSS split into the JVM (Spark) and the Python processes
    (driver or server, and Spark's Python workers)."""
    return {
        "memory.jvm_hwm_mb": sum(v for k, v in by_name.items() if k == "java"),
        "memory.python_hwm_mb": sum(v for k, v in by_name.items() if k.startswith("python")),
    }


def reap(pids: list[int], grace_s: float = 30.0) -> None:
    """Wait up to ``grace_s`` for ``pids`` to exit, then SIGTERM and
    finally SIGKILL what is left; returns once every one is gone."""
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        if sig is not None:
            for pid in pids:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        deadline = time.monotonic() + grace_s
        while time.monotonic() < deadline:
            pids = [p for p in pids if _alive(p)]
            if not pids:
                return
            time.sleep(0.05)
        grace_s = 10.0


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def dir_usage(path: str) -> tuple[int, float]:
    """(top-level entries, MB on disk) under ``path``."""
    size = 0
    p = Path(path)
    if not p.exists():
        return 0, 0.0
    entries = sum(1 for _ in p.iterdir())
    for f in p.rglob("*"):
        try:
            if f.is_file() and not f.is_symlink():
                size += f.stat().st_size
        except OSError:
            continue
    return entries, size / 1e6


def program_env(root: Path, work: Path) -> dict[str, str]:
    """Environment for the program under test: the checkout on
    PYTHONPATH (Spark hands it to its Python workers; without it every
    UDF fails with ModuleNotFoundError), and TMPDIR, Spark's local dirs
    and the JVM's temp files inside ``work``."""
    tmp = work / "tmp"
    local = work / "spark-local"
    tmp.mkdir(parents=True, exist_ok=True)
    local.mkdir(parents=True, exist_ok=True)
    return {
        "PYTHONPATH": os.pathsep.join(
            p for p in (str(root), os.environ.get("PYTHONPATH")) if p),
        "TMPDIR": str(tmp),
        "SPARK_LOCAL_DIRS": str(local),
        # keep the JVM's temp files and perf data out of the system temp dir
        "JDK_JAVA_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }


def git_commit(root: Path) -> str | None:
    """HEAD commit when the checkout is a git work tree, else None."""
    head = root / ".git" / "HEAD"
    try:
        ref = head.read_text().strip()
        if ref.startswith("ref: "):
            return (root / ".git" / ref[5:]).read_text().strip()
        return ref
    except OSError:
        return None


class HostLabels:
    """Self-labelling record for one run: steal, load, cores, seed."""

    def __init__(self, root: Path, seed: int, cpus: int) -> None:
        self._stat0 = cpu_times()
        self.record = {
            "seed": seed,
            "git_commit": git_commit(root),
            "nproc": os.cpu_count(),
            "affinity_cores": len(os.sched_getaffinity(0)),
            "local_cores": cpus,
            "loadavg_start": loadavg(),
        }

    def finish(self) -> dict:
        self.record["loadavg_end"] = loadavg()
        self.record["steal_share"] = round(steal_share(self._stat0, cpu_times()), 4)
        return self.record


def result_line(correct: bool, attempted: int, failed: int,
                metrics: dict[str, tuple[float, str]]) -> str:
    return json.dumps({
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": finite(v), "unit": u} for k, (v, u) in metrics.items()},
    })
