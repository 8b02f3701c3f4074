"""Resident memory of this process and the processes it started (the
Spark JVM and its Python workers), read from /proc."""

from __future__ import annotations

import os


def process_tree(pid: int) -> list[int]:
    """``pid`` and all of its descendants, from /proc."""
    parent = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                stat = open(f"/proc/{entry}/stat").read()
            except OSError:
                continue
            parent[int(entry)] = int(stat.rsplit(")", 1)[1].split()[1])
    tree, frontier = [pid], [pid]
    while frontier:
        frontier = [c for c, p in parent.items() if p in frontier]
        tree += frontier
    return tree


def reset_peaks() -> None:
    """Reset the high-water resident size of every process in the tree
    to its current size, so a later ``peak_rss_mb`` leaves out what
    set-up and input generation touched before."""
    for pid in process_tree(os.getpid()):
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass


def peak_rss_mb() -> dict[str, float]:
    """High-water resident size of the tree by process name, in MB."""
    out: dict[str, float] = {}
    for pid in process_tree(os.getpid()):
        try:
            status = dict(line.split(":", 1) for line in open(f"/proc/{pid}/status"))
        except OSError:
            continue
        name = status["Name"].strip()
        out[name] = out.get(name, 0.0) + int(status.get("VmHWM", "0 kB").split()[0]) / 1024.0
    return out
