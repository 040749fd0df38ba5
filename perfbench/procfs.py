"""What the benchmark reads about the engine's processes from /proc."""

from __future__ import annotations

import os

CLK_TCK = os.sysconf("SC_CLK_TCK")


def read(path: str) -> str:
    try:
        with open(path, "rb") as fh:
            return fh.read().decode(errors="replace")
    except OSError:
        return ""


def stat_table() -> dict[int, list[str]]:
    """pid -> the /proc/<pid>/stat fields after the command name, so that
    [0] is the state, [1] the parent pid, [2] the process group, [3] the
    session and [11:15] utime, stime, cutime and cstime in clock ticks."""
    out = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            text = read(f"/proc/{d}/stat")
            if text:
                out[int(d)] = text.rsplit(")", 1)[1].split()
    return out


def descendants(root: int, table: dict[int, list[str]]) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, fields in table.items():
        kids.setdefault(int(fields[1]), []).append(pid)
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def is_python_worker(pid: int) -> bool:
    return "pyspark.daemon" in read(f"/proc/{pid}/cmdline")


def python_worker_cpu_s(root: int) -> float:
    """CPU seconds the Spark Python workers under ``root`` have used: each
    live worker's own time plus, through cutime/cstime, that of the
    workers its daemon has already reaped."""
    table = stat_table()
    ticks = sum(
        sum(int(x) for x in table[pid][11:15])
        for pid in descendants(root, table)
        if is_python_worker(pid)
    )
    return ticks / CLK_TCK
