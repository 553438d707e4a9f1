"""Memory and storage probes read from /proc and the file system."""

from __future__ import annotations

import os
import time


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:          # the process ended while we looked
            continue
        # the command name may hold spaces; ppid follows its closing paren
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class PeakRss:
    """Peak resident memory of this process and all its descendants (the
    JVM and the Python workers): the sum of each live process's VmHWM,
    sampled at phase boundaries, maximum over samples. Summing per-process
    high-water marks can overstate a peak the processes never reached
    together; it never understates one they did."""

    def __init__(self):
        self.peak_mb = 0.0

    def sample(self) -> float:
        kids = _children()
        todo, total = [os.getpid()], 0
        while todo:
            pid = todo.pop()
            total += _hwm_kb(pid)
            todo.extend(kids.get(pid, []))
        self.peak_mb = max(self.peak_mb, total / 1024.0)
        return total / 1024.0


def wait_for_children(timeout: float) -> None:
    """Block until this process has no live child process."""
    deadline = time.monotonic() + timeout
    while True:
        kids = [
            pid for pid in _children().get(os.getpid(), [])
            if _state(pid) not in ("Z", None)
        ]
        if not kids:
            return
        if time.monotonic() > deadline:
            raise RuntimeError(f"child processes still running: {kids}")
        time.sleep(0.1)


def _state(pid: int) -> str | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            stat = fh.read()
    except OSError:
        return None
    return stat[stat.rindex(")") + 2:].split()[0]


def tree_bytes(path: str) -> int:
    """Bytes of all regular files under ``path``."""
    total = 0
    for d, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(d, f)
            if not os.path.islink(p):
                total += os.path.getsize(p)
    return total
