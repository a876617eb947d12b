"""CPU and memory of the benchmark's process tree, read from ``/proc``.

No sampler thread: callers take a :func:`cpu` snapshot at each span
boundary and subtract. The tree is this driver process, its JVM child and
the JVM's Python workers (the ``pyspark.daemon`` process and the workers it
forks). CPU of workers that already exited is counted through the daemon's
``cutime``/``cstime``, which include every child it reaped.
"""

from __future__ import annotations

import os
import resource

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:  # the process exited between listing and reading
        return None
    # field 2 (comm) is parenthesised and may hold spaces: split after it,
    # so index i holds field i + 2 (ppid 2, utime 12, stime 13, cutime 14)
    return [str(pid)] + raw[raw.rindex(")") + 2 :].split()


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                kids.setdefault(int(st[2]), []).append(int(name))
    return kids


def descendants() -> list[int]:
    """Every live process below this one."""
    kids = _children()
    out, todo = [], list(kids.get(os.getpid(), []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def cpu() -> dict[str, float]:
    """Cumulative CPU seconds: ``driver`` (this process), ``jvm`` and
    ``py_worker`` (everything the JVM forked, reaped children included)."""
    ru = resource.getrusage(resource.RUSAGE_SELF)
    out = {"driver": ru.ru_utime + ru.ru_stime, "jvm": 0.0, "py_worker": 0.0}
    kids = _children()
    for jvm in kids.get(os.getpid(), []):
        st = _stat(jvm)
        if st is None or "java" not in _cmdline(jvm):
            continue
        out["jvm"] += (int(st[12]) + int(st[13])) / _TICK
        todo = list(kids.get(jvm, []))
        while todo:
            pid = todo.pop()
            st = _stat(pid)
            if st is None:
                continue
            out["py_worker"] += sum(int(x) for x in st[12:16]) / _TICK
            # a reaped child's time is already in its parent's cutime
            todo.extend(kids.get(pid, []))
    return out


def vm_hwm_mb(pids: list[int]) -> float:
    """Sum of peak resident set (``VmHWM``) over ``pids``, in MiB."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024
