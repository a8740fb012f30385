"""Host facts the benchmark records next to every number: the CPUs a
process may run on, taskset pinning of the Spark JVM's process tree,
peak RSS, hypervisor steal and stray JVMs."""

from __future__ import annotations

import os
import subprocess


def allowed_cpus() -> list[int]:
    return sorted(os.sched_getaffinity(0))


def process_start_time() -> float:
    """Wall-clock time this process started, from /proc (field 22 of
    /proc/self/stat is the start in clock ticks after boot)."""
    with open("/proc/self/stat") as f:
        ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + ticks / os.sysconf("SC_CLK_TCK")


def descendants(pid: int) -> list[int]:
    """pid and every process below it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def _status_field(pid: int | str, key: str, task: str | None = None) -> str | None:
    path = f"/proc/{pid}/task/{task}/status" if task else f"/proc/{pid}/status"
    try:
        with open(path) as f:
            for line in f:
                if line.startswith(key + ":"):
                    return line.split(":", 1)[1].strip()
    except OSError:
        return None
    return None


def cpus_allowed_lists(root: int) -> set[str]:
    """Distinct Cpus_allowed_list values over every thread of every
    process in the tree below root."""
    seen: set[str] = set()
    for pid in descendants(root):
        try:
            tasks = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tasks:
            v = _status_field(pid, "Cpus_allowed_list", tid)
            if v is not None:
                seen.add(v)
    return seen


def pin_tree(root: int, cpus: list[int]) -> None:
    """taskset every thread of every process in the tree to cpus."""
    spec = ",".join(str(c) for c in cpus)
    for pid in descendants(root):
        subprocess.run(["taskset", "-a", "-p", "-c", spec, str(pid)],
                       capture_output=True, check=False)


def cpu_list_str(cpus: list[int]) -> str:
    """The kernel's Cpus_allowed_list spelling of a CPU set (0-3,5)."""
    parts, start = [], None
    for i, c in enumerate(cpus):
        if start is None:
            start = c
        if i + 1 == len(cpus) or cpus[i + 1] != c + 1:
            parts.append(str(start) if start == c else f"{start}-{c}")
            start = None
    return ",".join(parts)


def peak_rss_mb(root: int) -> float:
    """Sum of VmHWM (the kernel's peak resident set) over the tree."""
    kb = 0
    for pid in descendants(root):
        v = _status_field(pid, "VmHWM")
        if v:
            kb += int(v.split()[0])
    return kb / 1024.0


def steal_jiffies() -> int:
    """Machine-wide hypervisor steal (field 8 of the cpu line)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def stray_jvms() -> list[int]:
    """Java processes that are not ours, alive before we start."""
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit() or int(name) == os.getpid():
            continue
        try:
            with open(f"/proc/{name}/comm") as f:
                if f.read().strip() == "java":
                    out.append(int(name))
        except OSError:
            continue
    return out

