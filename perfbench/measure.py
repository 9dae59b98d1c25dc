"""Summary statistics and box-state probes shared by the workloads."""

from __future__ import annotations

import math
import os
import statistics

# Tail ladder, in per-mille: a tail is reported at the highest of these
# that leaves at least TAIL_MIN_BEYOND samples above it.
TAIL_LADDER_PERMILLE = (999, 990, 900)
TAIL_MIN_BEYOND = 10


def tail_permille(n: int) -> int | None:
    """Highest ladder percentile (per-mille) with >= 10 of ``n`` samples
    beyond it, or None when ``n`` is too small for any tail."""
    for pm in TAIL_LADDER_PERMILLE:
        if n * (1000 - pm) >= TAIL_MIN_BEYOND * 1000:
            return pm
    return None


def percentile(values: list[float], pm: int) -> float:
    """Linear-interpolated percentile at ``pm`` per-mille."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    pos = (len(xs) - 1) * pm / 1000
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return statistics.median(values)


def read_cpu_times(path: str = "/proc/stat") -> tuple[int, int, int] | None:
    """(idle incl. iowait, steal, total) jiffies of the aggregate cpu line;
    None where /proc/stat is absent."""
    try:
        with open(path) as f:
            fields = f.readline().split()
    except OSError:
        return None
    if not fields or fields[0] != "cpu":
        return None
    v = [int(x) for x in fields[1:9]]  # user nice system idle iowait irq softirq steal
    v += [0] * (8 - len(v))
    return v[3] + v[4], v[7], sum(v)


def box_share(before, after) -> dict[str, float]:
    """Idle and steal shares of the CPU time between two read_cpu_times."""
    if before is None or after is None or after[2] <= before[2]:
        return {"idle_frac": 0.0, "steal_frac": 0.0}
    total = after[2] - before[2]
    return {
        "idle_frac": (after[0] - before[0]) / total,
        "steal_frac": (after[1] - before[1]) / total,
    }


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process in MiB; 0.0 if unreadable."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def dir_mb(*paths: str) -> float:
    """Bytes under the given directories, in MiB."""
    total = 0
    for p in paths:
        for root, _, files in os.walk(p):
            for name in files:
                try:
                    total += os.path.getsize(os.path.join(root, name))
                except OSError:
                    pass
    return total / (1 << 20)


def _proc_table() -> dict[int, tuple[int, int]]:
    """pid → (parent pid, CPU ticks: user + system, including reaped
    children) for every live process."""
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # the process ended while we listed
        table[int(name)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    return table


def _tree(root_pid: int, table: dict[int, tuple[int, int]]) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def alive(pid: int) -> bool:
    """True while ``pid`` runs; an exited, unreaped process counts as ended."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def descendants(root_pid: int) -> list[int]:
    """Live processes started, directly or not, by ``root_pid``."""
    return _tree(root_pid, _proc_table())[1:]


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds (user + system, including reaped children) used so far
    by ``root_pid`` and every live descendant. On a shared virtual
    machine this excludes most of the time other guests steal, which
    wall time includes."""
    table = _proc_table()
    ticks = sum(table[pid][1] for pid in _tree(root_pid, table) if pid in table)
    return ticks / os.sysconf("SC_CLK_TCK")
