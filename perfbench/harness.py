"""Measurement machinery shared by the workloads: run scratch, spans,
the closed-loop timed passes and Spark stage metrics.

Nothing here imports the engine; the workloads pass in callables that
call the engine's public functions.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time
import traceback
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field
from typing import Any, Callable

SCRATCH_ROOT = os.path.join(".perfbench", "scratch")
OUT_DIR = os.path.join(".perfbench", "out")


# ---------------------------------------------------------------------------
# per-run scratch
# ---------------------------------------------------------------------------


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True


def kill_users_of(path: str) -> None:
    """SIGKILL every process whose command line names ``path`` (a JVM
    left behind by a run that was killed before it could stop it)."""
    for entry in os.listdir("/proc"):
        if not entry.isdigit() or int(entry) == os.getpid():
            continue
        try:
            with open(f"/proc/{entry}/cmdline", "rb") as fh:
                if path.encode() in fh.read():
                    os.kill(int(entry), 9)
        except (OSError, ProcessLookupError):
            continue


def sweep_dead_scratch(root: str = SCRATCH_ROOT) -> list[str]:
    """Remove ``run-<pid>`` scratch dirs whose owner process is gone, and
    stop what still runs in them: what a run killed before its
    ``finally`` leaves behind."""
    removed = []
    if not os.path.isdir(root):
        return removed
    for name in sorted(os.listdir(root)):
        if not name.startswith("run-"):
            continue
        try:
            pid = int(name[4:])
        except ValueError:
            continue
        if pid != os.getpid() and not _pid_alive(pid):
            path = os.path.abspath(os.path.join(root, name))
            kill_users_of(path + os.sep)
            shutil.rmtree(path, ignore_errors=True)
            removed.append(name)
    return removed


def make_run_scratch(root: str = SCRATCH_ROOT) -> str:
    path = os.path.abspath(os.path.join(root, f"run-{os.getpid()}"))
    shutil.rmtree(path, ignore_errors=True)
    for sub in ("spark-local", "tmp", "warehouse", "data"):
        os.makedirs(os.path.join(path, sub))
    return path


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def dir_files(path: str) -> int:
    """Number of parquet files under ``path``."""
    return sum(1 for _r, _d, files in os.walk(path) for f in files if f.endswith(".parquet"))


def host_memory() -> dict:
    """Free RAM and free /dev/shm in MB (read only; nothing is written there)."""
    out = {}
    try:
        with open("/proc/meminfo") as fh:
            info = {ln.split(":")[0]: ln.split()[1] for ln in fh}
        out["mem_available_mb"] = int(info["MemAvailable"]) / 1024.0
    except (OSError, KeyError, IndexError):
        out["mem_available_mb"] = None
    try:
        st = os.statvfs("/dev/shm")
        out["shm_free_mb"] = st.f_bavail * st.f_frsize / 2**20
    except OSError:
        out["shm_free_mb"] = None
    return out


def pressure() -> dict:
    """Share of the last 10 s that some task stalled on CPU / IO (Linux
    PSI), to tell runs taken under co-tenant contention apart."""
    out = {}
    for res in ("cpu", "io"):
        try:
            with open(f"/proc/pressure/{res}") as fh:
                out[f"{res}_some_avg10"] = float(fh.readline().split()[1].split("=")[1])
        except (OSError, IndexError, ValueError):
            out[f"{res}_some_avg10"] = None
    return out


def children(pid: int) -> list[int]:
    kids = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                kids += [int(x) for x in fh.read().split()]
    except OSError:
        pass
    return kids


_CLK_TCK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int) -> float:
    """CPU seconds a process tree has used so far: each live process's
    user + system time plus what its reaped children used.  Time the
    hypervisor steals from the VM is not charged to processes, so this
    stays steady when co-tenants slow the wall clock down."""
    ticks, stack = 0, [root]
    while stack:
        pid = stack.pop()
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        stack += children(pid)
    return ticks / _CLK_TCK


def proc_peak_rss_mb(pid: int) -> float:
    """VmHWM (peak resident set) of a process, in MB."""
    with open(f"/proc/{pid}/status") as fh:
        for ln in fh:
            if ln.startswith("VmHWM:"):
                return int(ln.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


@dataclass
class Span:
    span_id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory spans around the benchmark's calls into each layer,
    written out once when the run ends.  Disabled, ``span`` is a no-op."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    def span(self, name: str, **attrs):
        if not self.enabled:
            return nullcontext()
        return self._span(name, attrs)

    @contextmanager
    def _span(self, name: str, attrs: dict):
        sp = Span(len(self.spans), name, self._stack[-1] if self._stack else None,
                  time.perf_counter(), attrs=attrs)
        self.spans.append(sp)
        self._stack.append(sp.span_id)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()

    def self_time(self, sp: Span) -> float:
        """Span duration minus what its direct children cover."""
        kids = sum(c.end - c.start for c in self.spans if c.parent == sp.span_id)
        return (sp.end - sp.start) - kids

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for sp in self.spans:
                fh.write(json.dumps({
                    "run_id": self.run_id, "span_id": sp.span_id, "name": sp.name,
                    "parent": sp.parent, "start": sp.start, "end": sp.end,
                    "self_s": self.self_time(sp), **sp.attrs,
                }) + "\n")


# ---------------------------------------------------------------------------
# closed-loop timed passes
# ---------------------------------------------------------------------------


@dataclass
class Op:
    """One operator call of a workload pass.  ``call`` runs the engine and
    returns its collected output; ``check`` returns an error message or
    None."""

    name: str
    call: Callable[[], Any]
    check: Callable[[Any], str | None]


@dataclass
class CallRecord:
    op: str
    phase: str
    index: int
    wall_s: float
    error: str | None
    group: str | None


class Runner:
    """Runs ops back to back from one client thread (closed loop: the next
    call starts only when the previous one has returned) and keeps every
    call's wall time and check result."""

    def __init__(self, spark, tracer: Tracer, cpu_clock: Callable[[], float]):
        self.spark = spark
        self.tracer = tracer
        self.cpu_clock = cpu_clock
        self.calls: list[CallRecord] = []
        self.pass_cpu_s: dict[str, list[float]] = {}
        self.pass_shuffle_bytes: dict[str, list[int]] = {}
        self._n = 0

    def call(self, op: Op, phase: str, job_groups: bool) -> Any:
        self._n += 1
        group = f"{phase}:{op.name}:{self._n}" if job_groups else None
        sc = self.spark.sparkContext
        if group:
            sc.setJobGroup(group, op.name)
        out, err = None, None
        with self.tracer.span(op.name, phase=phase, group=group):
            t0 = time.perf_counter()
            try:
                out = op.call()
            except Exception as exc:  # a failing op is counted, the run goes on
                err = f"{type(exc).__name__}: {exc}".splitlines()[0][:300]
                traceback.print_exc()
            wall = time.perf_counter() - t0
        if group:  # jobs a check runs are not the op's
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        if err is None:
            try:
                err = op.check(out)
            except Exception as exc:
                err = f"check raised {type(exc).__name__}: {exc}"[:300]
        self.calls.append(CallRecord(op.name, phase, self._n, wall, err, group))
        return out

    def passes(self, ops: list[Op], phase: str, seconds: float, min_passes: int,
               job_groups: bool) -> list[float]:
        """Whole passes over ``ops``: at least ``min_passes``, then more
        while another pass of median length still fits in ``seconds``;
        returns each pass's wall time (CPU time goes to ``pass_cpu_s``)."""
        walls: list[float] = []
        t_start = time.perf_counter()
        while len(walls) < min_passes or (
                time.perf_counter() - t_start + median(walls) <= seconds):
            before = ungrouped_job_ids(self.spark)
            with self.tracer.span("pass", phase=phase, index=len(walls)):
                c0, t0 = self.cpu_clock(), time.perf_counter()
                for op in ops:
                    self.call(op, phase, job_groups)
                walls.append(time.perf_counter() - t0)
                self.pass_cpu_s.setdefault(phase, []).append(self.cpu_clock() - c0)
            if not job_groups:
                jobs = ungrouped_job_ids(self.spark) - before
                self.pass_shuffle_bytes.setdefault(phase, []).append(
                    int(stage_totals(self.spark, jobs)["shuffle_write_bytes"]))
        return walls

    def op_walls(self, phase: str) -> dict[str, list[float]]:
        out: dict[str, list[float]] = {}
        for c in self.calls:
            if c.phase == phase:
                out.setdefault(c.op, []).append(c.wall_s)
        return out

    def errors(self) -> list[str]:
        return [f"{c.phase}:{c.op}#{c.index}: {c.error}" for c in self.calls if c.error]


def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


# ---------------------------------------------------------------------------
# Spark stage metrics (AppStatusStore; works with the UI disabled)
# ---------------------------------------------------------------------------


STAGE_FIELDS = (
    "exec_run_s", "exec_cpu_s", "gc_s", "shuffle_write_bytes", "shuffle_read_bytes",
    "shuffle_write_records", "shuffle_read_records", "input_records",
    "spill_bytes", "tasks",
)


def ungrouped_job_ids(spark) -> set[int]:
    """Ids of the jobs the status store holds that ran outside a job group."""
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup(None))


def group_stage_metrics(spark, group: str) -> dict:
    """``stage_totals`` over the jobs of one job group."""
    return stage_totals(spark, spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def stage_totals(spark, job_ids) -> dict:
    """Executor totals over every stage that ran for the given jobs, plus
    the task skew (max ÷ median task run time) of the most skewed stage."""
    sc = spark.sparkContext
    jvm = sc._jvm
    store = spark._jsc.sc().statusStore()
    tracker = sc.statusTracker()
    tot = dict.fromkeys(STAGE_FIELDS, 0.0)
    skew = 1.0
    stage_ids = set()
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        if info is not None:
            stage_ids.update(int(s) for s in info.stageIds)
    q = sc._gateway.new_array(jvm.double, 2)
    q[0], q[1] = 0.5, 1.0
    for sid in sorted(stage_ids):
        seq = store.stageData(sid, False, jvm.java.util.ArrayList(), True, q)
        for i in range(seq.size()):
            sd = seq.apply(i)
            if sd.numCompleteTasks() == 0:  # skipped (reused shuffle output)
                continue
            tot["exec_run_s"] += sd.executorRunTime() / 1e3
            tot["exec_cpu_s"] += sd.executorCpuTime() / 1e9
            tot["gc_s"] += sd.jvmGcTime() / 1e3
            tot["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            tot["shuffle_read_bytes"] += sd.shuffleReadBytes()
            tot["shuffle_write_records"] += sd.shuffleWriteRecords()
            tot["shuffle_read_records"] += sd.shuffleReadRecords()
            tot["input_records"] += sd.inputRecords()
            tot["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            tot["tasks"] += sd.numCompleteTasks()
            dist = sd.taskMetricsDistributions()
            if dist.isDefined() and sd.numCompleteTasks() > 1:
                run = dist.get().executorRunTime()
                med, mx = run.apply(0), run.apply(1)
                if med > 0:
                    skew = max(skew, mx / med)
    tot["task_skew"] = skew
    return tot


def op_stage_summary(runner: Runner, phase: str, cores: int) -> dict[str, dict]:
    """Per op: median over its calls of each stage total, plus
    core_busy_frac = executor run time ÷ (wall × cores)."""
    per_op: dict[str, list[dict]] = {}
    for c in runner.calls:
        if c.phase != phase or c.group is None:
            continue
        m = group_stage_metrics(runner.spark, c.group)
        m["wall_s"] = c.wall_s
        m["shuffle_write_mb"] = m["shuffle_write_bytes"] / 2**20
        m["core_busy_frac"] = m["exec_run_s"] / (c.wall_s * cores)
        per_op.setdefault(c.op, []).append(m)
    return {
        op: {k: median([m[k] for m in ms]) for k in ms[0]} | {"samples": len(ms)}
        for op, ms in per_op.items()
    }
