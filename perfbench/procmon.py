"""Process-tree CPU and memory, host-speed probe and run provenance.

The engine's cost is paid by the JVM that PySpark launches and by the
Python worker daemon and workers it forks.  All of them are descendants of
the JVM, so their CPU seconds and resident memory are read from ``/proc``
by walking that tree.  A process that exits is reaped by its parent and its
CPU time moves into the parent's ``cutime``/``cstime``, so the tree sum of
``utime + stime + cutime + cstime`` stays monotone across worker restarts.
"""

from __future__ import annotations

import ctypes
import os
import platform
import signal
import subprocess
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PR_SET_CHILD_SUBREAPER = 36  # prctl(2)


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2:].split()


def tree(root: int) -> dict[int, str]:
    """pid -> role ('jvm' or 'py') for ``root`` and all its descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out = {root: "jvm"}
    todo = [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out[c] = "py"
            todo.append(c)
    return out


def cpu_seconds(root: int) -> float:
    total = 0
    for pid in tree(root):
        st = _stat(pid)
        if st is not None:
            # fields 14-17 of proc(5): utime stime cutime cstime
            total += sum(int(x) for x in st[11:15])
    return total / _TICK


def reset_peaks(root: int) -> None:
    """Reset the kernel's resident high-water mark (VmHWM) of the JVM and
    its descendants to their current RSS (proc(5), clear_refs value 5)."""
    for pid in tree(root):
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass  # the process exited


def peak_rss(root: int) -> dict[str, int]:
    """High-water resident memory (VmHWM, bytes) since ``reset_peaks`` of
    the JVM and the sum over its Python descendants.  The kernel keeps the
    mark per process, so no sampling can miss a short peak; a sum of
    per-process peaks can exceed the peak of the sum."""
    out = {"jvm": 0, "py": 0}
    for pid, role in tree(root).items():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        out[role] += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    out["sum"] = out["jvm"] + out["py"]
    return out


def adopt_orphans() -> None:
    """Make this process a child subreaper (prctl(2)): a descendant whose
    parent exits -- a Python worker outliving the JVM, say -- is re-parented
    here instead of to init, so ``stop_descendants`` still finds it and can
    wait for it."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace").strip()
    except OSError:
        return ""


def _reap() -> None:
    """Collect the exit status of every child that has ended."""
    try:
        while os.waitpid(-1, os.WNOHANG)[0]:
            pass
    except ChildProcessError:
        pass  # no children left


def _below(me: int) -> list[int]:
    return [pid for pid in tree(me) if pid != me]


def stop_descendants(grace: float = 10.0) -> list[str]:
    """Stop every process still running below this one and wait until each
    has ended: SIGTERM, then SIGKILL for any left after ``grace`` seconds.
    Returns the command lines of the processes it found (normally none)."""
    me = os.getpid()
    _reap()
    found = [f"{pid} {_cmdline(pid)}" for pid in _below(me)]
    for sig in (signal.SIGTERM, signal.SIGKILL):
        left = _below(me)
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass  # ended meanwhile
        deadline = time.monotonic() + grace
        while left and time.monotonic() < deadline:
            time.sleep(0.05)
            _reap()
            left = _below(me)
        if not left:
            return found
    raise RuntimeError(f"processes still running after SIGKILL: {left}")


def host_probe() -> float:
    """Seconds for a fixed pure-Python loop: a host-speed reading kept as
    provenance only, never used to normalise a metric."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(1_500_000):
        acc = (acc + i * i) % 1_000_003
    return time.perf_counter() - t0


def steal_ticks() -> int:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def git_head(root) -> str | None:
    if not (root / ".git").exists():
        return None
    r = subprocess.run(["git", "-C", str(root), "rev-parse", "HEAD"],
                       capture_output=True, text=True)
    return r.stdout.strip() or None


def versions() -> dict[str, str]:
    import pandas
    import pyarrow
    import pyspark

    return {"python": platform.python_version(), "pyspark": pyspark.__version__,
            "pyarrow": pyarrow.__version__, "pandas": pandas.__version__}
