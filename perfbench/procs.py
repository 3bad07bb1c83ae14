"""Resource readings of this process and its descendants, from /proc."""

from __future__ import annotations

import os


def proc_tree() -> dict[int, list[str]]:
    """``/proc/<pid>/stat`` fields (after the command name) of this
    process and all its descendants: the JVM and its Python workers."""
    stats: dict[int, list[str]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    stats[int(d)] = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
    tree, frontier = {os.getpid()}, [os.getpid()]
    while frontier:
        pid = frontier.pop()
        for child, fields in stats.items():
            if int(fields[1]) == pid and child not in tree:
                tree.add(child)
                frontier.append(child)
    return {pid: stats[pid] for pid in tree if pid in stats}


def tree_cpu_s() -> float:
    """CPU seconds used so far by the process tree, reaped children included."""
    tick = os.sysconf("SC_CLK_TCK")
    return sum(sum(int(f) for f in fields[11:15]) for fields in proc_tree().values()) / tick


def tree_peak_rss_mb() -> float:
    """Sum of peak resident memory (VmHWM) over the process tree."""
    kb = 0
    for pid in proc_tree():
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            continue
    return kb / 1024.0
