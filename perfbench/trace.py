"""Measurement plumbing: spans, Spark status-store ledger, memory sampler
and host context.

Spans are recorded by the benchmark around its own calls into the engine's
public functions (nothing inside the package is instrumented).  Each span
sets the Spark job description ``<name>#<span id>``, so every job a span
submits can be attributed to it from the status store afterwards.  Jobs,
stages and SQL executions are attributed by id range (ids at or above a
mark), never by the length of the store's lists: the store keeps only the
last ``spark.ui.retainedJobs`` entries, so list lengths stop growing.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

from py4j.protocol import Py4JJavaError


def union_length(intervals) -> float:
    """Total length covered by a set of (lo, hi) intervals."""
    covered, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return covered


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------

@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run_id: str
    start: float
    wall_start: float
    end: float | None = None
    wall_end: float | None = None
    #: ran side by side with its siblings (see ``Tracer.record``)
    overlapping: bool = False


class Tracer:
    """In-memory span recorder.  ``sc`` may be None (unit tests); then no
    job descriptions are set."""

    def __init__(self, run_id: str, sc=None):
        self.run_id = run_id
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def _describe(self, span: Span | None) -> None:
        if self.sc is not None:
            self.sc.setLocalProperty(
                "spark.job.description", None if span is None else f"{span.name}#{span.id}"
            )

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, parent.id if parent else None, self.run_id,
                  time.perf_counter(), time.time())
        self.spans.append(sp)
        self._stack.append(sp)
        self._describe(sp)
        try:
            yield sp
        finally:
            sp.end, sp.wall_end = time.perf_counter(), time.time()
            self._stack.pop()
            self._describe(parent)

    def record(self, name: str, start: float, end: float, wall_start: float,
               wall_end: float) -> Span:
        """Add a finished span under the open one, for work that ran side by
        side with other work (concurrent streaming queries).  Jobs are not
        attributed to it by submission time; they stay on the open span."""
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, parent.id if parent else None, self.run_id,
                  start, wall_start, end, wall_end, overlapping=True)
        self.spans.append(sp)
        return sp

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the union of its children's intervals."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        return {
            s.id: (s.end - s.start) - union_length(
                (max(c.start, s.start), min(c.end, s.end)) for c in kids.get(s.id, [])
            )
            for s in self.spans
        }

    def by_name(self) -> dict[str, dict]:
        """Name -> {total, self, count}, summed over spans of that name."""
        selfs = self.self_times()
        agg: dict[str, dict] = {}
        for s in self.spans:
            a = agg.setdefault(s.name, {"total": 0.0, "self": 0.0, "count": 0})
            a["total"] += s.end - s.start
            a["self"] += selfs[s.id]
            a["count"] += 1
        return agg

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


# ---------------------------------------------------------------------------
# Spark status store
# ---------------------------------------------------------------------------

_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME_UNITS = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_PY_TIME = "time to run Python workers"
_PY_BYTES = ("data sent to Python workers", "data returned from Python workers")


def _first_quantity(text: str) -> float:
    """Total of a formatted SQL metric: '7.5 s (...)' or 'total (...)\\n7.5 s (...)'."""
    body = text.split("\n", 1)[1] if text.startswith("total") else text
    m = re.match(r"\s*([0-9.,]+)\s*([A-Za-z]+)?", body)
    if not m:
        return 0.0
    v = float(m.group(1).replace(",", ""))
    unit = m.group(2) or ""
    return v * _SIZE_UNITS.get(unit, _TIME_UNITS.get(unit, 1.0))


def _opt(o):
    return o.get() if o.isDefined() else None


class SparkLedger:
    """Reads jobs, stages and SQL executions submitted since a mark."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.store = sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        gw = sc._gateway
        self._quantiles = gw.new_array(gw.jvm.double, 0)

    def mark(self) -> tuple[int, int]:
        """(next job id, next SQL execution id) — the start of a range."""
        jobs = self.store.jobsList(None)
        nj = max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1) + 1
        ex = self.sql.executionsList()
        nx = max((ex.apply(i).executionId() for i in range(ex.size())), default=-1) + 1
        return nj, nx

    def jobs_since(self, mark: tuple[int, int]) -> list[dict]:
        out = []
        jobs = self.store.jobsList(None)
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if j.jobId() < mark[0]:
                continue
            sub, done = _opt(j.submissionTime()), _opt(j.completionTime())
            out.append({
                "id": j.jobId(),
                "desc": _opt(j.description()),
                "submit": sub.getTime() / 1000.0 if sub else None,
                "end": done.getTime() / 1000.0 if done else None,
                "stages": [j.stageIds().apply(k) for k in range(j.stageIds().size())],
                "tasks": j.numTasks(),
                "tasks_failed": j.numFailedTasks(),
            })
        return sorted(out, key=lambda r: r["id"])

    def stage_totals(self, stage_ids) -> dict[str, float]:
        t = dict.fromkeys(("stages", "exec_run_s", "exec_cpu_s", "shuffle_read_bytes",
                           "shuffle_write_bytes", "spill_bytes"), 0.0)
        for sid in sorted(set(stage_ids)):
            try:
                attempts = self.store.stageData(sid, False, None, False, self._quantiles)
            except Py4JJavaError:  # evicted from the store: counted as missing
                continue
            for k in range(attempts.size()):
                s = attempts.apply(k)
                if str(s.status()) == "SKIPPED":
                    continue
                t["stages"] += 1
                t["exec_run_s"] += s.executorRunTime() / 1e3
                t["exec_cpu_s"] += s.executorCpuTime() / 1e9
                t["shuffle_read_bytes"] += s.shuffleReadBytes()
                t["shuffle_write_bytes"] += s.shuffleWriteBytes()
                t["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        return t

    def python_totals(self, mark: tuple[int, int]) -> dict[str, float]:
        """Python-worker run time and bytes from the SQL metrics of every
        execution since the mark (these metrics exist with the UI off)."""
        run_s = nbytes = 0.0
        ex = self.sql.executionsList()
        for i in range(ex.size()):
            e = ex.apply(i)
            if e.executionId() < mark[1]:
                continue
            vals = self.sql.executionMetrics(e.executionId())
            mets = e.metrics()
            for m in range(mets.size()):
                pm = mets.apply(m)
                if pm.name() != _PY_TIME and pm.name() not in _PY_BYTES:
                    continue
                v = vals.get(pm.accumulatorId())
                if not v.isDefined():
                    continue
                q = _first_quantity(v.get())
                if pm.name() == _PY_TIME:
                    run_s += q
                else:
                    nbytes += q
        return {"python_run_s": run_s, "python_bytes": nbytes}

    def engine_metrics(self, mark, wall_start: float, wall_end: float) -> dict[str, float]:
        """The ``spark.*`` layer over every job since ``mark``; the driver
        gap is the wall interval not covered by any running job."""
        jobs = self.jobs_since(mark)
        st = self.stage_totals([s for j in jobs for s in j["stages"]])
        busy = union_length(
            (max(j["submit"], wall_start), min(j["end"], wall_end))
            for j in jobs if j["submit"] and j["end"]
        )
        out = {
            "spark.jobs": float(len(jobs)),
            "spark.stages": st["stages"],
            "spark.tasks": float(sum(j["tasks"] for j in jobs)),
            "spark.tasks_failed": float(sum(j["tasks_failed"] for j in jobs)),
            "spark.exec_run_s": st["exec_run_s"],
            "spark.exec_cpu_s": st["exec_cpu_s"],
            "spark.driver_gap_s": max(0.0, (wall_end - wall_start) - busy),
            "spark.shuffle_read_bytes": st["shuffle_read_bytes"],
            "spark.shuffle_write_bytes": st["shuffle_write_bytes"],
            "spark.spill_bytes": st["spill_bytes"],
        }
        out.update({f"spark.{k}": v for k, v in self.python_totals(mark).items()})
        return out

    def jobs_by_span(self, mark, spans: list[Span]) -> dict[int, list[dict]]:
        """Span id -> its jobs: those whose description names the span, and
        (for jobs submitted from threads without the description, such as
        streaming micro-batches) those submitted while it was the innermost
        open span."""
        out: dict[int, list[dict]] = {}
        for j in self.jobs_since(mark):
            m = re.search(r"#(\d+)$", j["desc"] or "")
            if m:
                out.setdefault(int(m.group(1)), []).append(j)
                continue
            inner = [s for s in spans if j["submit"] and not s.overlapping
                     and s.wall_start <= j["submit"] <= s.wall_end]
            if inner:
                out.setdefault(max(inner, key=lambda s: s.wall_start).id, []).append(j)
        return out


# ---------------------------------------------------------------------------
# memory and host
# ---------------------------------------------------------------------------

def _children(pid: int) -> list[int]:
    kids = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        if int(stat.rsplit(")", 1)[1].split()[1]) == pid:
            kids.append(int(d))
    return kids


def process_tree(root: int) -> list[int]:
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(_children(p))
    return out


def pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class PssSampler:
    """Background sampler of the summed PSS of this process tree (driver,
    JVM, Python workers); ``peak_mb`` is the largest sum seen."""

    def __init__(self, root: int, interval: float = 0.2):
        self.root, self.interval = root, interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> int:
        total = sum(pss_kb(p) for p in process_tree(self.root))
        self.peak_kb = max(self.peak_kb, total)
        return total

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def start(self) -> "PssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()
        return self.peak_kb / 1024.0


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time stolen by the hypervisor between two samples."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d[:8])
    return d[7] / total if total > 0 and len(d) > 7 else 0.0
