"""CPU time and peak memory of a process tree, read from ``/proc``.

The tree is a root pid and all its descendants: the benchmark's level
process, the Spark driver JVM it launches, the Python worker daemon and its
forked workers.  A worker that exits hands its CPU time to the parent that
reaps it (``cutime``/``cstime``), so summing own plus reaped-children time
over the live tree counts every process exactly once.
"""

from __future__ import annotations

import ctypes
import os
import signal
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may contain spaces: fields restart after the last ')'
    return raw[raw.rindex(")") + 2:].split()


def tree(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def cpu_seconds(root: int) -> float:
    """user+sys of the tree, including reaped children, in seconds."""
    total = 0
    for pid in tree(root):
        st = _stat(pid)
        if st is not None:
            # utime, stime, cutime, cstime are fields 14-17 (1-based)
            total += sum(int(x) for x in st[11:15])
    return total / _TICK


def peak_rss_mb(root: int) -> tuple[float, float]:
    """Sums of VmHWM over the live tree, in MB: all of it, and the JVMs."""
    kb = jvm_kb = 0
    for pid in tree(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                status = dict(line.split(":", 1) for line in f)
        except OSError:
            continue
        if "VmHWM" in status:  # kernel threads and zombies have none
            hwm = int(status["VmHWM"].split()[0])
            kb += hwm
            if status["Name"].strip() == "java":
                jvm_kb += hwm
    return kb / 1024.0, jvm_kb / 1024.0


def host_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine, from ``/proc/stat``.

    Steal is time the hypervisor ran someone else while this machine's
    CPUs had work: the benchmark's main source of run-to-run noise.
    """
    with open("/proc/stat") as f:
        fields = f.readline().split()[1:9]
    ticks = [int(x) for x in fields]
    return ticks[7], sum(ticks)


def kill_group(pgid: int, timeout: float = 20.0) -> None:
    """SIGKILL every process of group ``pgid`` and wait until none is left."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        alive = False
        for name in os.listdir("/proc"):
            st = _stat(int(name)) if name.isdigit() else None
            # field 5 is the process group; zombies are already gone
            if st is not None and int(st[2]) == pgid and st[0] != "Z":
                alive = True
                break
        if not alive:
            return
        time.sleep(0.05)


def become_subreaper() -> None:
    """Make this process the parent of every orphaned descendant.

    A process whose parent dies is handed to the nearest subreaper ancestor
    instead of init, so ``reap_descendants`` can find and wait for all of
    them: the Spark driver JVM once its level process is killed, the worker
    daemon (which moves to a process group of its own), and any process
    ``multiprocessing`` leaves behind.
    """
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(36, 1, 0, 0, 0) != 0:  # PR_SET_CHILD_SUBREAPER
        err = ctypes.get_errno()
        raise OSError(err, f"prctl(PR_SET_CHILD_SUBREAPER): {os.strerror(err)}")


def reap_descendants(timeout: float = 60.0) -> bool:
    """SIGKILL every descendant and reap each one; True when none is left.

    Reaping, not only killing, is what makes sure a process has ended: a
    multi-threaded JVM shows as a zombie while its threads still tear
    down, and ``waitpid`` returns it only after the last of them is gone.
    """
    me = os.getpid()
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        for pid in tree(me)[1:]:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            return True
        time.sleep(0.05)
    return False
