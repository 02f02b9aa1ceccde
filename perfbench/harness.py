"""Shared machinery of the benchmark: timed calls, spans, Spark job
counting, statistics and the run context.

Every call the benchmark makes into a layer of the program goes through
:meth:`Harness.call`. Untraced, that is a ``perf_counter`` pair and an
exception guard. Traced, it also records a span (name, start, end, parent,
operation id) and the Spark jobs, stages, tasks and failed tasks of the call,
read from ``SparkContext.statusTracker()`` under a job group set per call.
"""

from __future__ import annotations

import hashlib
import os
import statistics
import sys
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field

# A tail is the highest percentile with at least this many samples beyond it.
TAIL_BEYOND = 10


@dataclass
class Op:
    """One timed call: ``kind`` groups calls for the end-to-end metrics."""

    kind: str
    name: str
    seconds: float
    ok: bool = True


@dataclass
class Span:
    name: str
    op_id: int
    parent: int | None
    start: float
    group: str = ""
    stream_group: str | None = None  # a streaming query's own job group
    end: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    extra: dict = field(default_factory=dict)


class Harness:
    """Times calls, records spans when tracing, and collects failures."""

    def __init__(self, trace: bool):
        self.trace = trace
        self.spark = None
        self.ops: list[Op] = []
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.last_op: Op | None = None
        self.last_ok = True
        self.overhead_s = 0.0  # time spent in span bookkeeping
        self._seen_job = -1  # highest Spark job id already attributed
        self._group_seq = 0

    # ------------------------------------------------------------ calls
    @contextmanager
    def op(self, kind: str, name: str, record: bool = True):
        """Time the block as one op and trace it as a span named ``name``.
        An exception is printed to stderr and counted as a failed op, and
        the closed loop carries on; ``last_ok`` and ``last_op`` say how the
        block ended. Ops with ``record`` false (warm-up) are not kept."""
        t0 = time.perf_counter()
        ok = True
        with self.span(name) as sp:
            try:
                yield sp
            except Exception:  # noqa: BLE001 - counted as a failed op
                ok = False
                print(f"[perfbench] {name} raised:", file=sys.stderr)
                traceback.print_exc(file=sys.stderr)
        self.last_ok = ok
        self.last_op = Op(kind, name, time.perf_counter() - t0, ok) if record else None
        if record:
            self.ops.append(self.last_op)

    def call(self, kind: str, name: str, fn, *args, record: bool = True, **kwargs):
        """:meth:`op` around ``fn(*args, **kwargs)``; None if it raised."""
        out = None
        with self.op(kind, name, record):
            out = fn(*args, **kwargs)
        return out

    # ------------------------------------------------------------ spans
    @contextmanager
    def span(self, name: str):
        """Record a span around the block when tracing; a no-op otherwise.

        Jobs are attributed to the innermost open span: jobs under the
        span's own job group, jobs with no group that started during the
        span (worker threads of the program do not inherit the caller's
        group), and jobs under ``Span.stream_group`` if the block sets it."""
        if not self.trace or self.spark is None:
            yield None
            return
        t_in = time.perf_counter()
        sc = self.spark.sparkContext
        self._group_seq += 1
        group = f"perfbench-{self._group_seq}"
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, len(self.spans), parent, time.perf_counter(), group)
        self.spans.append(sp)
        self._stack.append(sp.op_id)
        floor = self._seen_job
        sc.setJobGroup(group, name)
        self.overhead_s += time.perf_counter() - t_in
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            outer = self.spans[self._stack[-1]] if self._stack else None
            if outer is not None:
                sc.setJobGroup(outer.group, outer.name)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            self._count_jobs(sp, floor)
            self.overhead_s += time.perf_counter() - sp.end

    def _count_jobs(self, sp: Span, floor: int) -> None:
        st = self.spark.sparkContext.statusTracker()
        ids = set(st.getJobIdsForGroup(sp.group))
        ids |= {j for j in st.getJobIdsForGroup(None) if j > floor}
        if sp.stream_group:
            ids |= {j for j in st.getJobIdsForGroup(sp.stream_group) if j > floor}
        for j in ids:
            info = st.getJobInfo(j)
            if info is None:
                continue
            sp.jobs += 1
            for s in list(info.stageIds):
                si = st.getStageInfo(s)
                if si is None:
                    continue
                sp.stages += 1
                sp.tasks += si.numTasks
                sp.failed_tasks += si.numFailedTasks
        if ids:
            self._seen_job = max(self._seen_job, max(ids))

    def mark_jobs_seen(self) -> None:
        """Advance the job high-water mark past every job run so far, so
        untraced work (warm-up, checks) is not billed to the next span."""
        if not self.trace or self.spark is None:
            return
        st = self.spark.sparkContext.statusTracker()
        known = list(st.getJobIdsForGroup(None)) + list(st.getActiveJobsIds())
        if known:
            self._seen_job = max(self._seen_job, max(known))

    # ------------------------------------------------------ span folding
    def self_time(self, sp: Span) -> float:
        """Span duration minus the part of it its child spans cover."""
        kids = sorted((c.start, c.end) for c in self.spans if c.parent == sp.op_id)
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (sp.end - sp.start) - covered

    def fold(self, name: str) -> dict:
        """Sum self time, jobs, stages and tasks over spans named ``name``."""
        out = {"n": 0, "s": 0.0, "jobs": 0, "stages": 0, "tasks": 0}
        for sp in self.spans:
            if sp.name == name:
                out["n"] += 1
                out["s"] += self.self_time(sp)
                out["jobs"] += sp.jobs
                out["stages"] += sp.stages
                out["tasks"] += sp.tasks
        return out

    def failed_tasks(self) -> int:
        return sum(sp.failed_tasks for sp in self.spans)

    def write_spans(self, path: str) -> None:
        """Write the in-memory spans out as JSON lines."""
        import json

        with open(path, "w") as fh:
            for sp in self.spans:
                fh.write(
                    json.dumps(
                        {
                            "name": sp.name,
                            "op_id": sp.op_id,
                            "parent": sp.parent,
                            "start": sp.start,
                            "end": sp.end,
                            "self_s": self.self_time(sp),
                            "jobs": sp.jobs,
                            "stages": sp.stages,
                            "tasks": sp.tasks,
                            "failed_tasks": sp.failed_tasks,
                            **sp.extra,
                        }
                    )
                    + "\n"
                )


def fail(op: Op | None, why: str) -> None:
    """Count a failed output check against the op whose output it was."""
    print(f"[perfbench] check failed: {why}", file=sys.stderr, flush=True)
    if op is not None:
        op.ok = False


def dir_bytes(path: str) -> int:
    """Bytes of all files under ``path``."""
    return sum(os.path.getsize(os.path.join(d, f)) for d, _s, fs in os.walk(path) for f in fs)


# ---------------------------------------------------------------- statistics
def median(values: list[float]) -> float:
    return statistics.median(values) if values else float("nan")


def tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest nearest-rank percentile with at
    least ``TAIL_BEYOND`` samples beyond it. With too few samples for
    that, the maximum is returned and the percentile is 100."""
    n = len(values)
    if n == 0:
        return float("nan"), 0.0, 0
    xs = sorted(values)
    if n <= TAIL_BEYOND:
        return xs[-1], 100.0, n
    rank = n - TAIL_BEYOND  # 1-based rank with TAIL_BEYOND samples above it
    return xs[rank - 1], 100.0 * rank / n, n


# ------------------------------------------------------------- run context
def loadavg_1m() -> float:
    try:
        return os.getloadavg()[0]
    except OSError:
        return -1.0


def cpu_ticks() -> list[int]:
    """The machine-wide CPU time counters of /proc/stat (user, nice, system,
    idle, iowait, irq, softirq, steal), or [] if unreadable."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:9]]
    except (OSError, ValueError):
        return []


def steal_frac(before: list[int], after: list[int]) -> float:
    """Share of CPU time between two :func:`cpu_ticks` readings that the
    hypervisor gave to other machines; -1 if unknown."""
    if len(before) < 8 or len(after) < 8:
        return -1.0
    d = [y - x for x, y in zip(before, after)]
    return d[7] / sum(d) if sum(d) > 0 else -1.0


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process, in MB; 0 if unreadable."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def source_digest(root: str) -> str:
    """Digest of the program's sources, standing in for a git commit in a
    checkout that is not a git repository."""
    h = hashlib.sha256()
    pkg = os.path.join(root, "airbnb_listings_data_pipelines_spark")
    for dirpath, dirnames, filenames in os.walk(pkg):
        dirnames.sort()
        for fn in sorted(filenames):
            if fn.endswith(".py"):
                full = os.path.join(dirpath, fn)
                h.update(os.path.relpath(full, root).encode())
                with open(full, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def git_commit(root: str) -> str | None:
    """HEAD of the checkout if it is a git repository, else None."""
    head = os.path.join(root, ".git", "HEAD")
    try:
        with open(head) as fh:
            ref = fh.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(root, ".git", ref[5:])) as fh:
                return fh.read().strip()
        return ref
    except OSError:
        return None
