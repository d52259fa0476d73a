"""Process-tree and host counters read from /proc (Linux).

The measured program is one driver Python process, the JVM it launches
and the Python workers the JVM forks. All of them descend from the
driver, so the benchmark reads the driver's process tree: CPU from
``stat`` (own plus reaped children, so exited workers still count),
bytes written to storage from ``io`` and peak memory from ``status``.
"""

from __future__ import annotations

import os

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # comm (field 2) may hold spaces; fields after the closing paren are fixed
    return raw[raw.rindex(")") + 2 :].split()


def tree(root: int) -> list[int]:
    """``root`` and every live descendant."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        st = _stat(int(entry))
        if st is not None:
            children.setdefault(int(st[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def kind(pid: int, root: int) -> str:
    """``driver`` (the root), ``jvm`` or ``pyworkers`` (everything else:
    the pyspark daemon and the workers it forks)."""
    if pid == root:
        return "driver"
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            argv0 = fh.read().split(b"\0", 1)[0]
    except OSError:
        return "pyworkers"
    return "jvm" if os.path.basename(argv0) == b"java" else "pyworkers"


def cpu_s(pid: int) -> float:
    """User + system CPU of ``pid`` and of its reaped children."""
    st = _stat(pid)
    if st is None:
        return 0.0
    return sum(int(x) for x in st[11:15]) / CLK_TCK


def write_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/io") as fh:
            for line in fh:
                if line.startswith("write_bytes:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(key):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of one process, in MB."""
    return _status_kb(pid, "VmHWM:") * 1024 / 1e6


def rss_mb(pid: int) -> float:
    return _status_kb(pid, "VmRSS:") * 1024 / 1e6


def snapshot(root: int) -> dict:
    """Per-kind CPU seconds and storage write bytes of the tree right now."""
    out = {k: {"cpu_s": 0.0, "write_bytes": 0} for k in ("driver", "jvm", "pyworkers")}
    for pid in tree(root):
        k = out[kind(pid, root)]
        k["cpu_s"] += cpu_s(pid)
        k["write_bytes"] += write_bytes(pid)
    return out


def host_jiffies() -> dict:
    """Host-wide CPU time split from the first line of /proc/stat, in s."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    user, nice, system, idle, iowait, irq, softirq, steal = f[:8]
    return {
        "busy_s": (user + nice + system + irq + softirq) / CLK_TCK,
        "steal_s": steal / CLK_TCK,
    }
