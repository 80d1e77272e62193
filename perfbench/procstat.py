"""Process-tree accounting from ``/proc`` and the machine-load context.

The benchmark's CPU and memory figures cover every process the run owns:
this Python driver, the JVM it launches, the pyspark daemon the JVM forks
and the Python workers the daemon forks.  ``getrusage(RUSAGE_SELF)`` sees
only the first of these.
"""

from __future__ import annotations

import os

_CLK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            # the command name may hold spaces and parentheses: split after it
            return fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        if f is not None:
            children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


#: HotSpot's JIT compiler threads (names cut to 15 characters by the kernel)
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _comm(path: str) -> str:
    with open(f"{path}/comm") as fh:
        return fh.read().strip()


def cpu_seconds(pids: list[int]) -> dict[int, float]:
    """User+system CPU of each process, including its reaped children."""
    out = {}
    for pid in pids:
        f = _stat_fields(pid)
        if f is not None:
            # fields after the name: utime=11 stime=12 cutime=13 cstime=14
            out[pid] = sum(int(x) for x in f[11:15]) / _CLK
    return out


def jit_seconds(pid: int) -> dict[tuple[int, int], float]:
    """CPU of each live JIT compiler thread of ``pid``, keyed by (pid, tid)."""
    out = {}
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            if _comm(f"/proc/{pid}/task/{tid}").startswith(JIT_THREADS):
                with open(f"/proc/{pid}/task/{tid}/stat") as fh:
                    f = fh.read().rsplit(")", 1)[1].split()
                out[(pid, int(tid))] = (int(f[11]) + int(f[12])) / _CLK
        except OSError:
            continue
    return out


class TreeCpu:
    """CPU the process tree below ``root`` has used so far, as one number,
    so that the difference of two readings is the CPU spent in between: a
    process that exited and was reaped in between left its whole CPU in
    its parent's ``cutime``, and its own earlier reading cancels the part
    already counted; a new process counts from zero.

    The JVM's JIT compiler threads are left out: they compile for minutes
    after start-up, at a pace that differs from run to run, and their CPU
    is start-up cost rather than the work being measured.  HotSpot starts
    and ends compiler threads as needed, and an ended thread's CPU stays in
    the JVM's total, so each thread's highest reading stays subtracted
    after it is gone (CPU it spent after its last reading is counted)."""

    def __init__(self, root: int) -> None:
        self.root = root
        self._jit: dict[tuple[int, int], float] = {}

    def read(self) -> float:
        pids = descendants(self.root)
        jit: dict[tuple[int, int], float] = {}
        for pid in pids:
            try:
                if _comm(f"/proc/{pid}") == "java":
                    jit.update(jit_seconds(pid))
            except OSError:
                continue
        return self.total(cpu_seconds(pids), jit)

    def total(self, cpu: dict[int, float], jit: dict[tuple[int, int], float]) -> float:
        """Tree CPU from per-process readings, less every JIT thread's
        highest reading so far."""
        for k, v in jit.items():
            self._jit[k] = max(self._jit.get(k, 0.0), v)
        return sum(cpu.values()) - sum(self._jit.values())


def tree_peak_rss_mb(root: int) -> dict[str, float]:
    """Peak resident set (``VmHWM``) of the live tree in MiB, split into
    the driver (``root``), the JVM and the Python workers (everything else:
    the pyspark daemon and the workers it forks), plus their sum."""
    out = {"driver": 0.0, "jvm": 0.0, "workers": 0.0}
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/comm") as fh:
                comm = fh.read().strip()
            with open(f"/proc/{pid}/status") as fh:
                kb = next((int(line.split()[1]) for line in fh if line.startswith("VmHWM:")), 0)
        except OSError:
            continue
        kind = "driver" if pid == root else "jvm" if comm == "java" else "workers"
        out[kind] += kb / 1024.0
    out["total"] = sum(out.values())
    return out


def load_context() -> dict:
    """CPUs available, 1-minute load average and running processes other
    than this one, so that a run made on a loaded machine says so."""
    running = 0
    me = os.getpid()
    for name in os.listdir("/proc"):
        if name.isdigit() and int(name) != me:
            f = _stat_fields(int(name))
            if f is not None and f[0] == "R":
                running += 1
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg_1m": round(os.getloadavg()[0], 2),
        "running_procs": running,
    }


def cpu_ticks() -> tuple[int, int]:
    """Steal and total ticks of the machine's CPUs so far, from
    ``/proc/stat``.  Steal is time the hypervisor ran other guests on this
    machine's virtual CPUs; a run with a high steal share between its start
    and end was slowed by load outside the machine."""
    with open("/proc/stat") as fh:
        # cpu user nice system idle iowait irq softirq steal guest guest_nice
        f = [int(x) for x in fh.readline().split()[1:9]]
    return f[7], sum(f)


def is_alive(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie waiting to be reaped."""
    f = _stat_fields(pid)
    return f is not None and f[0] != "Z"
