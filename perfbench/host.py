"""Host records: CPU time, CPU steal and peak resident memory. No
normalisation — the figures are reported as measured on the host that
ran them."""

from __future__ import annotations

import os


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) from the aggregate ``cpu`` line of ``/proc/stat``.
    The total sums the first 8 fields (user..steal): guest time is
    already counted inside user and nice."""
    try:
        with open("/proc/stat") as fh:
            vals = [int(v) for v in fh.readline().split()[1:9]]
    except OSError:
        return 0, 0
    return vals[7], sum(vals)


def steal_frac(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total > 0 else 0.0


def _vm_hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this driver process plus the JVM."""
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    return (_vm_hwm_kb("self") + _vm_hwm_kb(jvm_pid)) / 1024.0


_TICK = os.sysconf("SC_CLK_TCK")
# the JVM's JIT compiler threads: their work is warm-up that a long-lived
# session amortises, and it runs behind the op on its own schedule
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _stat(path: str) -> tuple[str, list[str]] | None:
    try:
        with open(path) as fh:
            text = fh.read()
    except OSError:
        return None
    comm, _, rest = text.partition("(")[2].rpartition(")")
    return comm, rest.split()


def cpu_sample() -> dict:
    """CPU clock ticks used so far by this process and every descendant
    (the JVM, its launcher, the Python workers), keyed per process, and
    per thread inside a JVM so that its JIT compiler threads are left out.
    A process's own ticks include what it collected from ended children.
    Time the hypervisor takes from the guest (steal) is in none of them."""
    procs: dict[int, tuple[int, int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = _stat(f"/proc/{entry}/stat")
            if st is not None:
                # after the name: state, ppid, ..., utime..cstime at 11..14
                procs[int(entry)] = (int(st[1][1]), sum(int(v) for v in st[1][11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    out: dict = {}
    todo = [os.getpid()]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        threads = {}
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            tids = []
        jvm = False
        for tid in tids:
            st = _stat(f"/proc/{pid}/task/{tid}/stat")
            if st is not None:
                jvm |= st[0] in _JIT_THREADS
                if st[0] not in _JIT_THREADS:
                    threads[(pid, int(tid))] = int(st[1][11]) + int(st[1][12])
        if jvm:
            out.update(threads)
        elif pid in procs:
            out[pid] = procs[pid][1]
    return out


def cpu_s(before: dict, after: dict) -> float:
    """CPU seconds between two :func:`cpu_sample` calls. A process or
    thread that started in between counts whole; one that ended loses
    its share."""
    return sum(max(v - before.get(k, 0), 0) for k, v in after.items()) / _TICK
