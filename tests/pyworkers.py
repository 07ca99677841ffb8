"""The pyspark Python worker processes under a process, read from /proc.

The JVM starts one ``pyspark.daemon`` per worker pool, and each daemon
forks the workers that run tasks. A fork keeps the daemon's command
line, so both carry ``pyspark.daemon``: a daemon's parent is the JVM,
a worker's parent is its daemon.
"""

from __future__ import annotations

import os
from pathlib import Path


def descendants(root: int) -> list[tuple[int, int]]:
    """(pid, parent pid) of every live process under ``root``, each
    parent before its children."""
    children: dict[int, list[int]] = {}
    for d in Path("/proc").iterdir():
        if not d.name.isdigit():
            continue
        try:
            stat = (d / "stat").read_text()
        except OSError:
            continue
        ppid = int(stat.rpartition(")")[2].split()[1])
        children.setdefault(ppid, []).append(int(d.name))
    out, todo = [], [root]
    while todo:
        parent = todo.pop()
        kids = children.get(parent, [])
        out.extend((kid, parent) for kid in kids)
        todo.extend(kids)
    return out


def python_workers(root: int | None = None) -> list[dict]:
    """The pyspark daemons under ``root`` (default: this process) and the
    workers they forked, with what each maps. ``daemon`` is true for a
    daemon and false for a worker."""
    found = []
    for pid, ppid in descendants(os.getpid() if root is None else root):
        try:
            if b"pyspark.daemon" not in Path(f"/proc/{pid}/cmdline").read_bytes():
                continue
            maps = Path(f"/proc/{pid}/maps").read_text()
        except OSError:
            continue
        found.append(
            {
                "pid": pid,
                "daemon": ppid not in {w["pid"] for w in found},
                "pandas": "/pandas/" in maps,
                "pyarrow": "/pyarrow/" in maps,
            }
        )
    return found
