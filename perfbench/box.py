"""Box-level probes: a fixed-work CPU canary, load average, and peak
resident memory of this process and its JVM, all read from /proc
(psutil is not required)."""

from __future__ import annotations

import glob
import hashlib
import os
import time


def canary() -> float:
    """Fixed CPU work in the driver (best of 3), to read box waves."""
    buf = bytes(range(256)) * 4096
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        h = b""
        for _ in range(40):
            h = hashlib.sha256(buf + h).digest()
        sum(i * i for i in range(200_000))
        best = min(best, time.perf_counter() - t0)
    return best


def loadavg1() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def cpu_ticks() -> list[int]:
    """The box's CPU time counters (the first line of /proc/stat)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of the vCPUs' busy time the host took (steal) between two
    ``cpu_ticks`` readings."""
    d = [b - a for a, b in zip(before, after)]
    busy = sum(d) - d[3] - d[4]     # all but idle and iowait
    return d[7] / busy if busy else 0.0


def proc_tree(root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as fh:
                txt = fh.read()
        except OSError:
            continue
        pid = int(stat.split("/")[2])
        ppid = int(txt.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _cpu_clock(pid: int) -> int:
    """clockid of ``pid``'s process-wide CPU clock (clock_getcpuclockid)."""
    return ((~pid) << 3) | 2


class CpuMeter:
    """CPU seconds spent by this process and every process it started:
    the JVM and Spark's Python workers.

    Each process is read from the kernel's process CPU clock (all its
    threads, nanosecond resolution), plus the user and system time of
    the children it has already reaped. On a paravirtualised guest the
    kernel leaves out the time the host took from a vCPU (steal), so
    these readings do not swing with the host's load the way wall time
    does.

    The JVM's JIT compiler threads are read on their own (``jit``) and
    left out of ``read``: compilation goes on for minutes after the JVM
    starts, in bursts whose size and timing differ from run to run, and
    it is the largest single user of CPU in a run. The JVM is started
    with ``-XX:-UseDynamicNumberOfCompilerThreads`` so those threads
    live as long as it does.

    ``refresh`` rescans the process tree; ``read`` and ``jit`` reuse the
    last scan, so they are cheap enough to call around every operation.
    """

    def __init__(self) -> None:
        self.pids: list[int] = []
        self.jit_tasks: list[str] = []
        self.refresh()

    def refresh(self) -> "CpuMeter":
        self.pids = proc_tree(os.getpid())
        self.jit_tasks = []
        for pid in self.pids:
            for task in glob.glob(f"/proc/{pid}/task/*"):
                try:
                    with open(f"{task}/comm") as fh:
                        if fh.read().startswith(("C1 Compiler",
                                                 "C2 Compiler")):
                            self.jit_tasks.append(task)
                except OSError:
                    continue
        return self

    def jit(self) -> float:
        total = 0
        for task in self.jit_tasks:
            try:
                with open(f"{task}/schedstat") as fh:
                    total += int(fh.read().split()[0])
            except OSError:
                continue
        return total / 1e9

    def settle_jit(self, max_s: float = 3.0) -> float:
        """Wait until the JIT compilers go quiet (under 4% of a core for
        0.25 s), at most ``max_s``; returns the time waited. Methods
        queued for compilation by the work done so far are then
        compiled before the next timed step starts, however fast the
        compilers ran on this host."""
        t0 = time.monotonic()
        j0 = self.jit()
        while time.monotonic() - t0 < max_s:
            time.sleep(0.25)
            j1 = self.jit()
            if j1 - j0 < 0.01:
                break
            j0 = j1
        return time.monotonic() - t0

    def read(self) -> float:
        total = 0.0
        for pid in self.pids:
            try:
                total += time.clock_gettime(_cpu_clock(pid))
                with open(f"/proc/{pid}/stat") as fh:
                    f = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue        # exited since the last scan
            total += (int(f[13]) + int(f[14])) / _HZ   # cutime, cstime
        return total - self.jit()


_HZ = os.sysconf("SC_CLK_TCK")


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set size of ``pid`` (VmHWM), 0 if it is gone."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def jvm_pids() -> list[int]:
    """The JVM(s) this process started."""
    out = []
    for pid in proc_tree(os.getpid())[1:]:
        try:
            with open(f"/proc/{pid}/comm") as fh:
                if fh.read().strip() == "java":
                    out.append(pid)
        except OSError:
            continue
    return out
