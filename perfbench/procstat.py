"""CPU time and resident memory of the engine's processes, from /proc.

The engine's processes are this driver process and its descendants: the
Spark JVM and the Python worker daemon with its forked workers. CPU time
is user + system; a descendant that exits while the daemon reaps it moves
its time into the parent's cutime/cstime, so the tree sum stays complete.
"""

from __future__ import annotations

import os
import signal
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int):
    try:
        with open(f"/proc/{pid}/stat") as fh:
            s = fh.read()
    except OSError:
        return None
    # the command name may hold spaces: split after its closing ')'
    f = s[s.rindex(")") + 2:].split()
    # fields from 'state' on: ppid=1, utime=11, stime=12, cutime=13, cstime=14
    if f[0] == "Z":  # exited; its time is in the parent once reaped
        return None
    return int(f[1]), int(f[11]) + int(f[12]), int(f[13]) + int(f[14])


def descendants(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st is not None:
                children.setdefault(st[0], []).append(int(d))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def cpu_seconds() -> float:
    """User + system seconds used so far by this process (without its
    reaped children) and by every live descendant (with theirs)."""
    me = _stat(os.getpid())
    ticks = me[1] if me else 0
    for pid in descendants():
        st = _stat(pid)
        if st is not None:
            ticks += st[1] + st[2]
    return ticks / _TICK


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _is_jvm(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip() == "java"
    except OSError:
        return False


def reset_peaks() -> None:
    """Reset VmHWM to the current resident set in this process and every
    descendant (``5`` to /proc/<pid>/clear_refs)."""
    for pid in [os.getpid()] + descendants():
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as fh:
                fh.write("5")
        except OSError:
            pass


def peak_rss_mb() -> dict:
    """Peak resident set (VmHWM) in MB of the driver, the JVM and the
    Python workers, and their sum."""
    out = {"driver": _hwm_kb(os.getpid()) / 1024.0, "jvm": 0.0, "workers": 0.0}
    for pid in descendants():
        out["jvm" if _is_jvm(pid) else "workers"] += _hwm_kb(pid) / 1024.0
    out["total"] = out["driver"] + out["jvm"] + out["workers"]
    return out


def _reap_children() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def reap_descendants(timeout: float = 20.0) -> None:
    """Wait for every descendant to exit; kill what is left at the end."""
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        _reap_children()
        if not descendants():
            return
        time.sleep(0.1)
    for pid in descendants():
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + 5.0
    while time.monotonic() < deadline:
        _reap_children()
        if not descendants():
            return
        time.sleep(0.1)
