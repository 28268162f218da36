"""Per-operation Spark attribution and in-memory spans.

Each benchmark operation (an HTTP request or a registry key) runs its
Spark actions under a job group ``pb-<op>`` whose description is
``perfbench:<op>``. After the operation the tracer reads Spark's own
bookkeeping — the status tracker for job ids and the application status
store for job, stage and SQL-plan metrics — and records:

* one ``spark.job`` span per job (start and end from the status store),
* per-operation counters (jobs, stages, tasks, executor time, bytes),
* SQL-plan rollups (Python worker time, broadcast build time, exchanges).

Jobs whose thread lost the group (engine thread pools re-stamp only the
description) are attributed by description. Jobs that match no
operation are counted as unattributed, so a gap shows up as a number.
Spans stay in memory until :meth:`Tracer.dump` writes them out.
"""

from __future__ import annotations

import json
import re
import threading
import time
from collections import defaultdict

from py4j.protocol import Py4JJavaError

DESC_PREFIX = "perfbench:"

_STAGE_FIELDS = {
    "executor_run_ms": lambda s: s.executorRunTime(),
    "executor_cpu_ms": lambda s: s.executorCpuTime() / 1e6,
    "gc_ms": lambda s: s.jvmGcTime(),
    "input_bytes": lambda s: s.inputBytes(),
    "shuffle_write_bytes": lambda s: s.shuffleWriteBytes(),
    "shuffle_read_bytes": lambda s: s.shuffleReadBytes(),
    "spill_bytes": lambda s: s.diskBytesSpilled(),
}

# SQL metric name -> rollup name (exchanges are counted, not summed)
_PLAN_METRICS = {
    "time to run Python workers": "python_eval_ms",
    "time to build": "broadcast_build_ms",
    "shuffle records written": "exchanges",
}

_UNIT_MS = {"ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6}
_NUM_RE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([a-zA-Z]*)")


def _metric_ms(text: str) -> float | None:
    """Total of a formatted SQL timing metric ("1.2 s", or a
    "total (min, med, max ...)" header followed by the values line)."""
    lines = text.strip().splitlines()
    line = lines[-1] if lines and lines[0].startswith("total") else text
    m = _NUM_RE.match(line)
    if not m:
        return None
    value = float(m.group(1).replace(",", ""))
    return value * _UNIT_MS.get(m.group(2), 1.0)


def _opt(o):
    return o.get() if o.isDefined() else None


class Tracer:
    """Attributes Spark jobs to benchmark operations."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.status = self.sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.spans: list[dict] = []
        self.ops: dict[str, dict] = {}
        self.attributed: set[int] = set()
        self.self_s = 0.0
        self._lock = threading.Lock()
        self._harvest_lock = threading.Lock()
        self._seen_exec = self.sql.executionsCount()
        self._pending_exec: list = []
        self.window_start_ms: float | None = None

    # -- marking -----------------------------------------------------------

    def begin(self, op: str) -> None:
        """Put the calling thread's Spark jobs under ``op``."""
        self.sc.setJobGroup(f"pb-{op}", f"{DESC_PREFIX}{op}")

    def end(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def span(self, name: str, op: str, start: float, end: float,
             parent: str | None = None, **attrs) -> None:
        with self._lock:
            self.spans.append({"name": name, "op": op, "start": start,
                               "end": end, "parent": parent, **attrs})

    def start_window(self) -> None:
        self.window_start_ms = time.time() * 1e3

    # -- harvesting --------------------------------------------------------

    def _jobs_for(self, op: str) -> list[int]:
        ids = set(self.sc.statusTracker().getJobIdsForGroup(f"pb-{op}"))
        # description fallback: engine threads that re-stamp only the
        # description run their jobs with no group
        for jid in self.sc.statusTracker().getJobIdsForGroup(None):
            if jid in self.attributed or jid in ids:
                continue
            jd = self._job(jid)
            if jd is not None and _opt(jd.description()) == f"{DESC_PREFIX}{op}":
                ids.add(jid)
        return sorted(ids)

    def _job(self, jid: int):
        try:
            return self.status.job(jid)
        except Py4JJavaError:  # not posted yet, or evicted
            return None

    def _settled(self, jid: int, deadline: float):
        """The job's status-store record once its end event is posted."""
        while True:
            jd = self._job(jid)
            if jd is not None and jd.completionTime().isDefined():
                return jd
            if time.time() > deadline:
                return jd
            time.sleep(0.005)

    def harvest(self, op: str, kind: str, parent: str) -> dict:
        """Counters for ``op``; also records its ``spark.job`` spans as
        children of the op's ``parent`` span."""
        with self._harvest_lock:
            return self._harvest(op, kind, parent)

    def _harvest(self, op: str, kind: str, parent: str) -> dict:
        t0 = time.perf_counter()
        deadline = time.time() + 2.0
        c = defaultdict(float)
        intervals = []
        job_ids = self._jobs_for(op)
        for jid in job_ids:
            jd = self._settled(jid, deadline)
            self.attributed.add(jid)
            if jd is None:
                continue
            c["jobs"] += 1
            c["tasks"] += jd.numTasks()
            c["tasks_failed"] += jd.numFailedTasks()
            c["stages_skipped"] += jd.numSkippedStages()
            sub, done = _opt(jd.submissionTime()), _opt(jd.completionTime())
            if sub is not None and done is not None:
                s, e = sub.getTime() / 1e3, done.getTime() / 1e3
                intervals.append((s, e))
                self.span("spark.job", op, s, e, parent=parent, job=jid)
            stage_ids = _scala_list(jd.stageIds())
            c["stages"] += len(stage_ids) - jd.numSkippedStages()
            for sid in stage_ids:
                try:
                    st = self.status.lastStageAttempt(sid)
                except Py4JJavaError:  # a skipped stage that never ran
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                for name, get in _STAGE_FIELDS.items():
                    c[name] += get(st)
        c["job_ms"] = _union_ms(intervals)
        self.ops[op] = {"kind": kind, "intervals": intervals,
                        "job_ids": job_ids, **c}
        self.self_s += time.perf_counter() - t0
        return self.ops[op]

    def harvest_plan(self, op: str) -> dict:
        """SQL-plan rollups over the executions this op started."""
        t0 = time.perf_counter()
        out = {v: 0.0 for v in _PLAN_METRICS.values()}
        jobs = set(self.ops.get(op, {}).get("job_ids", ()))
        n = self.sql.executionsCount()
        if n > self._seen_exec:
            lst = self.sql.executionsList(self._seen_exec, n - self._seen_exec)
            it = lst.iterator()
            while it.hasNext():
                self._pending_exec.append(it.next().executionId())
            self._seen_exec = n
        keep = []
        for eid in self._pending_exec:
            data = _opt(self.sql.execution(eid))
            if data is None:
                continue
            desc = data.description() or ""
            ex_jobs = {int(j) for j in _scala_keys(data.jobs())}
            if desc != f"{DESC_PREFIX}{op}" and not (ex_jobs & jobs):
                keep.append(eid)
                continue
            values = self.sql.executionMetrics(eid)
            it = data.metrics().iterator()
            while it.hasNext():
                m = it.next()
                name = _PLAN_METRICS.get(m.name())
                if name is None:
                    continue
                v = values.get(m.accumulatorId())
                if not v.isDefined():
                    continue
                if name == "exchanges":
                    out[name] += 1
                else:
                    out[name] += _metric_ms(v.get()) or 0.0
        self._pending_exec = keep[-200:]
        self.ops.setdefault(op, {}).update({f"plan.{k}": v for k, v in out.items()})
        self.self_s += time.perf_counter() - t0
        return out

    def unattributed_jobs(self) -> int:
        """Jobs submitted since :meth:`start_window` that no op claimed."""
        lst = self.status.jobsList(None)
        it = lst.iterator()
        n = 0
        while it.hasNext():
            jd = it.next()
            sub = _opt(jd.submissionTime())
            if sub is None or self.window_start_ms is None:
                continue
            if sub.getTime() >= self.window_start_ms and jd.jobId() not in self.attributed:
                n += 1
        return n

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def _scala_list(seq) -> list:
    out = []
    it = seq.iterator()
    while it.hasNext():
        out.append(it.next())
    return out


def _scala_keys(m) -> list:
    return _scala_list(m.keys())


def _union_ms(intervals) -> float:
    """Length of the union of [start, end) second intervals, in ms."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total * 1e3


def covered_ms(intervals, start: float, end: float) -> float:
    """Part of [start, end] (seconds) covered by the intervals, in ms."""
    clipped = [(max(s, start), min(e, end)) for s, e in intervals]
    return _union_ms([(s, e) for s, e in clipped if e > s])
