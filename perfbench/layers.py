"""Readings taken from outside the engine: the process tree in ``/proc``,
host steal time, a fixed CPU probe, and Spark's status store.

Nothing here imports the engine package; the Spark readers take the
session as an argument.
"""

from __future__ import annotations

import os
import time

_CLK_TCK = os.sysconf("SC_CLK_TCK")
# Every JVM the engine launches carries this conf on its command line
# (session.get_spark sets it), which is how a stray one is recognised.
JVM_MARKER = b"spark.dbms_query_optimizer_spark.origin"


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2 :].split()


def _pids() -> list[int]:
    return [int(p) for p in os.listdir("/proc") if p.isdigit()]


def process_tree(root: int) -> list[int]:
    """``root`` and every live descendant."""
    children: dict[int, list[int]] = {}
    for pid in _pids():
        f = _stat_fields(pid)
        if f is not None:
            children.setdefault(int(f[1]), []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s(root: int) -> float:
    """User+system CPU seconds of the tree, including reaped children."""
    ticks = 0
    for pid in process_tree(root):
        f = _stat_fields(pid)
        if f is not None:
            # utime, stime, cutime, cstime
            ticks += sum(int(x) for x in f[11:15])
    return ticks / _CLK_TCK


# Thread names (``comm``, cut to 15 characters) of HotSpot's JIT compilers
# and of its garbage collector.
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")
GC_PREFIXES = ("GC Thread", "G1 ", "VM Thread")


def _thread_group(comm: str) -> str:
    if comm in JIT_THREADS:
        return "jit"
    return "gc" if comm.startswith(GC_PREFIXES) else "jvm"


class CpuMeter:
    """User+system CPU of the process tree below ``root``, by group: the
    JVM's JIT compiler threads (``jit``), its garbage collector (``gc``),
    its other threads (``jvm``) and every other process of the tree,
    reaped children included (``proc``).

    The JVM's threads are read one by one from ``/proc/<jvm>/task``, so the
    compiler threads can be told apart. A thread that exits between two
    readings loses its CPU since the first one. HotSpot starts and retires
    C2 threads as its queue grows and drains, which is why the JIT share
    is read per thread and not as the process total minus the rest."""

    def __init__(self, root: int, jvm: int) -> None:
        self.root, self.jvm = root, jvm

    def read(self) -> dict[tuple, tuple[str, int]]:
        """Key -> (group, ticks) for every live thread of the JVM and
        every other live process of the tree."""
        out: dict[tuple, tuple[str, int]] = {}
        for pid in process_tree(self.root):
            f = _stat_fields(pid)
            if f is None:
                continue
            if pid != self.jvm:
                out[("p", pid)] = ("proc", sum(int(x) for x in f[11:15]))
                continue
            # children the JVM has reaped; its own threads follow
            out[("c", pid)] = ("proc", int(f[13]) + int(f[14]))
            task = f"/proc/{pid}/task"
            try:
                tids = os.listdir(task)
            except OSError:
                continue
            for tid in tids:
                try:
                    with open(f"{task}/{tid}/stat") as fh:
                        raw = fh.read()
                except OSError:
                    continue
                comm = raw[raw.index("(") + 1 : raw.rindex(")")]
                tf = raw[raw.rindex(")") + 2 :].split()
                out[("t", int(tid))] = (_thread_group(comm), int(tf[11]) + int(tf[12]))
        return out

    @staticmethod
    def delta(before: dict, after: dict) -> dict[str, float]:
        """CPU seconds per group between two readings."""
        out = dict.fromkeys(("jit", "gc", "jvm", "proc"), 0.0)
        for key, (group, ticks) in after.items():
            out[group] += (ticks - before.get(key, (group, 0))[1]) / _CLK_TCK
        return out


def tree_peak_rss_mb(root: int) -> float:
    """Sum over the live tree of each process's peak resident set."""
    kb = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0


def host_cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies over all CPUs, from ``/proc/stat``."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice],
    # and guest time is already counted inside user/nice
    return vals[7], sum(vals[:8])


def steal_frac(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total > 0 else 0.0


def cpu_probe_s() -> float:
    """Seconds a fixed pure-Python loop takes. The code never changes, so
    its time moves only with the host; it explains spread and is never
    used to correct a reading."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(1_500_000):
        acc = (acc + i * i) % 1_000_003
    return time.perf_counter() - t0


def engine_jvms() -> list[int]:
    """Pids of live JVMs started by the engine's session factory."""
    out = []
    for pid in _pids():
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                cmd = fh.read()
        except OSError:
            continue
        if b"SparkSubmit" in cmd and JVM_MARKER in cmd:
            out.append(pid)
    return out


def wait_gone(pids: list[int], timeout_s: float) -> list[int]:
    """Wait until none of ``pids`` is alive; return the survivors."""
    deadline = time.monotonic() + timeout_s
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        time.sleep(0.2)
        alive = [p for p in alive if (_stat_fields(p) or ["Z"])[0] != "Z"]
    return alive


SPARK_COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "executor_run_s",
    "executor_cpu_s",
    "jvm_gc_s",
    "job_s",
)


class SparkStatus:
    """Job-id bookkeeping and per-job metrics from the status store.

    With one client, every job whose id lies between the id counter read
    at an op's start and at its end belongs to that op; job groups are
    not used because threads lose them."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self._sc = sc._jsc.sc()
        self._jvm = sc._jvm
        self._gateway = sc._gateway

    def next_job_id(self) -> int:
        return self._sc.dagScheduler().nextJobId()

    def counters(self, first_job: int, end_job: int) -> dict[str, float]:
        """Sum the metrics of jobs ``first_job .. end_job-1`` over the
        stages that ran (skipped stages reused a shuffle and did no work)."""
        self._sc.listenerBus().waitUntilEmpty(30_000)
        store = self._sc.statusStore()
        out = dict.fromkeys(SPARK_COUNTERS, 0.0)
        seen: set[int] = set()
        no_status = self._jvm.java.util.ArrayList()
        no_quantiles = self._gateway.new_array(self._jvm.double, 0)
        for jid in range(first_job, end_job):
            job = store.job(jid)
            out["jobs"] += 1
            if job.submissionTime().isDefined() and job.completionTime().isDefined():
                out["job_s"] += (
                    job.completionTime().get().getTime() - job.submissionTime().get().getTime()
                ) / 1e3
            it = job.stageIds().iterator()
            while it.hasNext():
                sid = it.next()
                if sid in seen:
                    continue
                seen.add(sid)
                attempts = store.stageData(sid, False, no_status, False, no_quantiles)
                for i in range(attempts.size()):
                    s = attempts.apply(i)
                    if s.status().toString() == "SKIPPED":
                        continue
                    out["stages"] += 1
                    out["tasks"] += s.numCompleteTasks()
                    out["shuffle_read_bytes"] += s.shuffleReadBytes()
                    out["shuffle_write_bytes"] += s.shuffleWriteBytes()
                    out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
                    out["executor_run_s"] += s.executorRunTime() / 1e3
                    out["executor_cpu_s"] += s.executorCpuTime() / 1e9
                    out["jvm_gc_s"] += s.jvmGcTime() / 1e3
        return out


def phases_ms(qe) -> float:
    """Milliseconds Catalyst's tracker recorded for a planned query
    execution (analysis, optimization and physical planning)."""
    total = 0
    it = qe.tracker().phases().iterator()
    while it.hasNext():
        total += it.next()._2().durationMs()
    return float(total)


def catalyst_plan_ms(df) -> float:
    """Plan ``df`` without running a job; return its phase milliseconds."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    return phases_ms(qe)
