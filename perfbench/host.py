"""Host facts the benchmark sizes itself from and records beside every result.

Everything here reads ``/proc`` or the affinity mask of the calling process;
nothing starts Spark. The child process pins itself with :func:`pin_cores`
before the JVM starts, so the JVM and every thread it spawns inherit the mask.
"""

from __future__ import annotations

import hashlib
import os
import platform
import subprocess


class HostTooSmall(RuntimeError):
    """A level asked for more cores (or memory) than this process may use."""


def allowed_cpus() -> list[int]:
    return sorted(os.sched_getaffinity(0))


def cores_for_level(level: str | int) -> list[int]:
    """CPU ids for a core level: ``"all"`` = every CPU in the affinity mask,
    an int = that many CPUs from the front of the mask. Asking for more CPUs
    than the mask holds raises instead of silently clamping (``taskset`` and
    ``sched_setaffinity`` clamp without a word, so an "8-core" level on a
    4-CPU host would quietly measure 4 cores)."""
    cpus = allowed_cpus()
    if level == "all":
        return cpus
    n = int(level)
    if n < 1:
        raise ValueError(f"a core level needs at least 1 core, got {n}")
    if n > len(cpus):
        raise HostTooSmall(
            f"core level {n} exceeds the {len(cpus)} CPUs this process may run on "
            f"(affinity mask {cpus})"
        )
    return cpus[:n]


def pin_cores(cpus: list[int]) -> None:
    """Pin the calling process and check the kernel kept exactly that mask."""
    os.sched_setaffinity(0, set(cpus))
    got = allowed_cpus()
    if got != sorted(cpus):
        raise HostTooSmall(f"asked to pin to {sorted(cpus)}, kernel kept {got}")


def meminfo_kb() -> dict[str, int]:
    out = {}
    with open("/proc/meminfo") as fh:
        for line in fh:
            k, v = line.split(":", 1)
            out[k] = int(v.split()[0])
    return out


def memory_plan(working_set_mb: int) -> dict[str, int]:
    """Driver heap and the working-set budget, both from MemAvailable.

    The heap gets an eighth of what is free, clamped to 1-2 GB (a heap that
    fills up gives a steady peak RSS; 2 GB holds every workload); the feed and
    table files (written inside the checkout, often on tmpfs-backed storage)
    may use at most another quarter. A workload whose planned working set
    does not fit raises instead of pushing the host into swap or OOM."""
    avail_mb = meminfo_kb()["MemAvailable"] // 1024
    heap_mb = max(1024, min(2048, avail_mb // 8))
    budget_mb = avail_mb // 4
    if working_set_mb > budget_mb:
        raise HostTooSmall(
            f"planned working set {working_set_mb} MB exceeds the {budget_mb} MB "
            f"budget (a quarter of MemAvailable={avail_mb} MB)"
        )
    return {"driver_heap_mb": heap_mb, "working_set_budget_mb": budget_mb,
            "mem_available_mb": avail_mb}


def _cpu_model() -> str:
    try:
        with open("/proc/cpuinfo") as fh:
            for line in fh:
                if line.startswith("model name"):
                    return line.split(":", 1)[1].strip()
    except OSError:
        pass
    return platform.processor() or "unknown"


def engine_revision(root: str) -> str:
    """Git SHA of the engine when the checkout is a git repository, else a
    SHA-256 over the package sources (the benchmark also runs from plain
    exported trees)."""
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "--show-toplevel", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
        lines = out.stdout.split()
        # only the checkout's own repository counts, not an enclosing one
        if out.returncode == 0 and len(lines) == 2 and os.path.realpath(lines[0]) == os.path.realpath(root):
            return "git:" + lines[1]
    except (OSError, subprocess.SubprocessError):
        pass
    h = hashlib.sha256()
    pkg = os.path.join(root, "openmrs_module_epts_etl_spark")
    for dirpath, dirnames, filenames in os.walk(pkg):
        dirnames.sort()
        for name in sorted(filenames):
            if name.endswith(".py"):
                p = os.path.join(dirpath, name)
                h.update(os.path.relpath(p, root).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return "src-sha256:" + h.hexdigest()[:16]


def fingerprint(root: str) -> dict:
    mem = meminfo_kb()
    return {
        "nproc": len(allowed_cpus()),
        "cpu_count": os.cpu_count(),
        "mem_total_mb": mem["MemTotal"] // 1024,
        "cpu_model": _cpu_model(),
        "engine": engine_revision(root),
    }


# ------------------------------------------------------------ process tree
def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # comm may hold spaces/parens: split after the last ')'
    return raw[raw.rfind(")") + 2 :].split()


def tree_pids(root_pid: int) -> list[int]:
    """``root_pid`` and all its descendants (one /proc scan)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is not None:
            children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root_pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root_pid: int) -> float:
    """User+system CPU seconds of the process tree, reaped children included."""
    total = 0
    for pid in tree_pids(root_pid):
        st = _stat(pid)
        if st is not None:
            # fields 14-17 (1-based) = utime stime cutime cstime; st starts at field 3
            total += sum(int(x) for x in st[11:15])
    return total / _TICK


def tree_peak_rss_mb(root_pid: int) -> float:
    """Sum of per-process peak RSS (VmHWM) over the tree: the JVM and the
    Python driver. An upper bound on the tree's simultaneous peak."""
    kb = 0
    for pid in tree_pids(root_pid):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0
