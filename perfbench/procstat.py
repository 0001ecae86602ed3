"""Process-tree and host counters read from /proc: the driver process
tree's CPU time and resident memory, and the host's load and steal."""

from __future__ import annotations

import os


def tree_pids(root: int) -> list[int]:
    """``root`` and all its live descendants, ``root`` first."""
    parent: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        parent.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(parent.get(pid, []))
    return out


def alive(pid: int) -> bool:
    """True while ``pid`` runs (a zombie has finished)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def tree_pss_bytes(root: int) -> int:
    """Resident memory of ``root`` and all its descendants, each shared page
    split among the processes sharing it (PSS).  Python workers are forked
    from one daemon, so summing plain RSS would count the pages they share
    once per worker."""
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (OSError, IndexError, ValueError):
            continue
    return total


def tree_cpu_seconds(root: int) -> float:
    """CPU time (user + system) of ``root`` and all its descendants, with
    that of their exited and reaped children.  The kernel does not charge
    a task for time the hypervisor stole from its CPU, so this is the work
    done, not the time waited for a CPU."""
    ticks = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        except (OSError, IndexError, ValueError):
            continue
    return ticks / os.sysconf("SC_CLK_TCK")


def host_sample() -> dict:
    """load1 and the cumulative CPU jiffies (total, steal) of the host."""
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    return {"load1": load1, "jiffies": sum(cpu[:8]), "steal": cpu[7]}


def steal_share(before: dict, after: dict) -> float:
    return (after["steal"] - before["steal"]) / max(after["jiffies"] - before["jiffies"], 1)


def fmt_host(tag: str, before: dict, after: dict | None = None) -> str:
    if after is None:
        share = before["steal"] / max(before["jiffies"], 1)
        return f"host {tag}: load1={before['load1']:.2f} steal_since_boot={share:.2%}"
    share = steal_share(before, after)
    return f"host {tag}: load1={after['load1']:.2f} steal_during_run={share:.2%}"
