"""Host and process-tree accounting: CPU seconds, peak memory, load.

Process-tree CPU is the repository's own accounting, ``bench.py:_cpu_s``.
Importing ``bench.py`` as a module would run its top level, which creates
a scratch directory under ``/dev/shm``; the benchmark writes only inside
its checkout, so it loads just that one function from bench.py's source.
"""

from __future__ import annotations

import ast
import glob
import os


def load_tree_cpu(repo_root: str):
    """→ bench.py's ``_cpu_s``: CPU seconds of this process and every live
    descendant (the JVM and its Python workers), reaped children included."""
    path = os.path.join(repo_root, "bench.py")
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    fn = next(n for n in tree.body if isinstance(n, ast.FunctionDef) and n.name == "_cpu_s")
    ns = {"os": os}
    exec(compile(ast.Module(body=[fn], type_ignores=[]), path, "exec"), ns)
    return ns["_cpu_s"]


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(") ", 1)[1].split()
    except (OSError, IndexError):
        return None


def descendants(root: int | None = None) -> list[int]:
    """Live descendants of ``root`` (default: this process)."""
    root = os.getpid() if root is None else root
    parent = {}
    for path in glob.glob("/proc/[0-9]*/stat"):
        pid = int(path.split("/")[2])
        st = _stat(pid)
        if st is not None:
            parent[pid] = int(st[1])
    out = []
    for pid in parent:
        p, seen = parent.get(pid), set()
        while p and p > 1 and p not in seen:
            seen.add(p)
            if p == root:
                out.append(pid)
                break
            p = parent.get(p)
    return sorted(out)


def jvm_pid() -> int | None:
    for pid in descendants():
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().strip() == "java":
                    return pid
        except OSError:
            continue
    return None


def proc_cpu_s(pid: int | None) -> float:
    """utime + stime of one process (0 when it is gone)."""
    st = _stat(pid) if pid else None
    if st is None:
        return 0.0
    return (int(st[11]) + int(st[12])) / float(os.sysconf("SC_CLK_TCK"))


def tree_peak_rss_mb() -> float:
    """Sum of the peak resident sets (VmHWM) of this process and its live
    descendants."""
    total_kb = 0
    for pid in [os.getpid()] + descendants():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def reset_peak_rss() -> None:
    """Restart every tree member's VmHWM at its current resident set, so a
    later reading is the peak of what ran in between."""
    for pid in [os.getpid()] + descendants():
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            continue


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine, from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:9]]
    return vals[7], sum(vals)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def load1() -> float:
    return os.getloadavg()[0]
