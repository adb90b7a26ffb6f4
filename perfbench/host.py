"""Host facts and process-tree accounting read from /proc.

The benchmark's driver process starts the Spark JVM, which starts the
pyspark daemon, which forks the Python workers. CPU time and peak memory
are summed over that whole tree, so Python-worker work that JVM metrics
cannot see is counted too.
"""

from __future__ import annotations

import os

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_bytes() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(v) for v in fh.read().split()[:3]]


def steal_seconds() -> float:
    """CPU time the hypervisor gave to other guests, all CPUs summed."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / _CLK_TCK


def host_facts() -> dict:
    return {"nproc": nproc(), "mem_total_bytes": mem_total_bytes(),
            "loadavg": loadavg(), "steal_s": steal_seconds()}


def _stat(pid: int) -> tuple[int, str, list[str]] | None:
    """(ppid, comm, fields after comm) of ``pid``, or None once it exited."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except (FileNotFoundError, ProcessLookupError):
        return None
    # comm may hold spaces and parentheses; it ends at the last ')'
    lpar, rpar = raw.index("("), raw.rindex(")")
    rest = raw[rpar + 2:].split()
    return int(rest[1]), raw[lpar + 1:rpar], rest


def process_tree(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and every live descendant."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is not None:
            children.setdefault(st[0], []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def cpu_seconds(pids: list[int]) -> float:
    """utime + stime of ``pids`` plus what their reaped children used.

    Python workers that exit are reaped by the pyspark daemon, so their
    time lands in the daemon's cutime/cstime and is still counted."""
    ticks = 0
    for pid in pids:
        st = _stat(pid)
        if st is not None:
            f = st[2]
            ticks += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return ticks / _CLK_TCK


def tree_cpu_seconds() -> float:
    return cpu_seconds(process_tree())


def jit_cpu_seconds() -> float:
    """CPU time of the JVM's JIT compiler threads in the process tree."""
    ticks = 0
    for pid in process_tree():
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except FileNotFoundError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/stat") as fh:
                    raw = fh.read()
            except FileNotFoundError:
                continue
            comm = raw[raw.index("(") + 1:raw.rindex(")")]
            if comm.startswith(("C1 Compiler", "C2 Compiler")):
                f = raw[raw.rindex(")") + 2:].split()
                ticks += int(f[11]) + int(f[12])
    return ticks / _CLK_TCK


def python_worker_pids() -> list[int]:
    """The pyspark daemon and its forked workers: python processes in the
    tree below the JVM (the driver's own interpreter is excluded)."""
    me = os.getpid()
    return [pid for pid in process_tree()
            if pid != me and (_stat(pid) or (0, ""))[1].startswith("python")]


def become_subreaper() -> None:
    """Have orphaned descendants (the JVM's children once the JVM exits)
    reparented to this process rather than to init, so that
    ``end_descendants`` still sees them."""
    import ctypes

    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(36, 1, 0, 0, 0) != 0:  # PR_SET_CHILD_SUBREAPER
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _reap() -> None:
    """Collect the exit status of every child that has ended."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def end_descendants(grace_s: float = 20.0) -> None:
    """Wait until no descendant of this process is left: SIGTERM those
    still running after ``grace_s``, SIGKILL them after twice that, and
    reap every one that ends."""
    import signal
    import time

    me = os.getpid()
    t0 = time.monotonic()
    while True:
        _reap()
        left = [p for p in process_tree() if p != me]
        if not left:
            return
        waited = time.monotonic() - t0
        sig = (signal.SIGKILL if waited > 2 * grace_s else
               signal.SIGTERM if waited > grace_s else None)
        for pid in left if sig is not None else ():
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        if waited > 3 * grace_s:
            raise RuntimeError(f"processes {left} did not end")
        time.sleep(0.05)


def tree_peak_rss_bytes() -> int:
    """Sum of VmHWM (peak resident set) over the live process tree."""
    total = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (FileNotFoundError, ProcessLookupError):
            continue
    return total
