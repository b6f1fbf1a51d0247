"""Span tracing from the benchmark's side of each layer boundary.

A span records name, start, end, parent and run id. While tracing is on,
each span also sets a Spark job group on the calling thread, so the jobs it
triggers can be folded into it afterwards from Spark's status store (no
event log, no engine change). Spans are kept in memory; ``dump`` writes them
out and ``fold`` turns them into the per-layer metrics.

With tracing off, ``span`` only yields: the untraced run pays no
bookkeeping.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

#: Spark counters folded into every span from its jobs' stages
SPARK_COUNTERS = (
    "spark.jobs",
    "spark.task_s",
    "spark.task_cpu_s",
    "spark.shuffle_bytes",
    "spark.spill_bytes",
    "spark.failed_tasks",
)


class Span:
    __slots__ = ("id", "name", "parent", "start", "end", "attrs")

    def __init__(self, sid: int, name: str, parent: int | None) -> None:
        self.id = sid
        self.name = name
        self.parent = parent
        self.start = time.time()
        self.end = 0.0
        self.attrs: dict = {}

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, run_id: str, enabled: bool) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self.overhead_s = 0.0
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._sc = None

    def attach(self, spark) -> None:
        self._sc = spark.sparkContext

    def _group(self, span: Span | None) -> None:
        if self._sc is None:
            return
        if span is None:
            self._sc._jsc.clearJobGroup()
        else:
            gid = f"{self.run_id}:{span.id}"
            self._sc.setJobGroup(gid, span.name)

    @contextmanager
    def span(self, name: str):
        """Record ``name`` around the body; yields the span (or None when
        tracing is off) so callers can attach counts to ``attrs``."""
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        stack = self._local.__dict__.setdefault("stack", [])
        sp = Span(next(self._ids), name, stack[-1].id if stack else None)
        stack.append(sp)
        self._group(sp)
        with self._lock:
            self.spans.append(sp)
        self.overhead_s += time.perf_counter() - t0
        try:
            yield sp
        finally:
            sp.end = time.time()
            t1 = time.perf_counter()
            stack.pop()
            self._group(stack[-1] if stack else None)
            self.overhead_s += time.perf_counter() - t1

    def wrap(self, module, attr: str, name: str, count=None):
        """Trace every call of ``module.attr`` — including calls the engine
        makes internally — as span ``name``. ``count(args, result)``
        returns counts stored on the span. Returns an undo callable."""
        orig = getattr(module, attr)

        def traced(*args, **kwargs):
            with self.span(name) as sp:
                out = orig(*args, **kwargs)
                if sp is not None and count is not None:
                    sp.attrs.update(count(args, out))
                return out

        setattr(module, attr, traced)
        return lambda: setattr(module, attr, orig)

    def catalyst_ms(self, sp: Span | None, df) -> None:
        """Add the Catalyst phase times of an executed DataFrame to ``sp``."""
        if sp is None:
            return
        t0 = time.perf_counter()
        phases = json.loads(_mapper(df.sparkSession.sparkContext).writeValueAsString(
            df._jdf.queryExecution().tracker().phases()
        ))
        sp.attrs["spark.catalyst_ms"] = sp.attrs.get("spark.catalyst_ms", 0) + sum(
            p["endTimeMs"] - p["startTimeMs"] for p in phases.values()
        )
        self.overhead_s += time.perf_counter() - t0

    def dump(self, path: str, jobs: dict) -> None:
        with open(path, "w") as fh:
            for sp in self.spans:
                rec = {
                    "run": self.run_id, "id": sp.id, "name": sp.name, "parent": sp.parent,
                    "start": sp.start, "end": sp.end, **sp.attrs,
                    **jobs.get(sp.id, {}),
                }
                rec.pop("intervals", None)
                fh.write(json.dumps(rec) + "\n")


_MAPPERS: dict = {}


def _mapper(sc):
    """A Jackson mapper with the Scala module, as Spark's REST API uses."""
    key = id(sc)
    if key not in _MAPPERS:
        jvm = sc._jvm
        mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        mapper.registerModule(
            getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$").__getattr__("MODULE$")
        )
        _MAPPERS[key] = mapper
    return _MAPPERS[key]


def spark_jobs(spark, run_id: str, since_ms: float, until_ms: float) -> tuple[dict[int, dict], int]:
    """Fold the status store's jobs and stages into per-span Spark counters.

    Returns ``({span id: counters + job intervals}, unattributed)`` where
    ``unattributed`` counts jobs submitted in ``[since_ms, until_ms)`` that
    carry no job group of this run (streaming micro-batches, engine-internal
    threads)."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    mapper = _mapper(sc)
    jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
    stages = json.loads(mapper.writeValueAsString(
        store.stageList(None, False, False, sc._gateway.new_array(sc._jvm.double, 0), None)
    ))
    by_stage: dict[int, list[dict]] = defaultdict(list)
    for st in stages:
        by_stage[st["stageId"]].append(st)
    prefix = f"{run_id}:"
    out: dict[int, dict] = {}
    unattributed = 0
    for job in jobs:
        group = job.get("jobGroup") or ""
        if not group.startswith(prefix):
            if since_ms <= (job.get("submissionTime") or 0) < until_ms:
                unattributed += 1
            continue
        rec = out.setdefault(int(group[len(prefix):]), dict.fromkeys(SPARK_COUNTERS, 0) | {"intervals": []})
        rec["spark.jobs"] += 1
        if job.get("submissionTime") and job.get("completionTime"):
            rec["intervals"].append((job["submissionTime"] / 1000, job["completionTime"] / 1000))
        for sid in job.get("stageIds") or ():
            for st in by_stage.get(sid, ()):
                rec["spark.task_s"] += (st.get("executorRunTime") or 0) / 1000
                rec["spark.task_cpu_s"] += (st.get("executorCpuTime") or 0) / 1e9
                rec["spark.shuffle_bytes"] += (st.get("shuffleReadBytes") or 0) + (st.get("shuffleWriteBytes") or 0)
                rec["spark.spill_bytes"] += (st.get("memoryBytesSpilled") or 0) + (st.get("diskBytesSpilled") or 0)
                rec["spark.failed_tasks"] += st.get("numFailedTasks") or 0
    # a job that reuses an earlier job's shuffle lists the reused stage under
    # a new, SKIPPED stage id with zero task metrics: nothing counts twice
    return out, unattributed


def _union(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    total, cur_end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur_end), min(b, hi)
        if b > a:
            total += b - a
            cur_end = b
    return total


def fold(tracer: Tracer, jobs: dict[int, dict], roots: tuple[str, ...], since: float, until: float) -> dict:
    """Per-layer totals over the measured phase (spans started in epoch
    ``[since, until)``, plus the ``session.*`` set-up spans; the untimed
    checks after ``until`` are left out): wall per span name, Spark
    counters, and the driver time and uncovered remainder of the root spans
    (``roots``)."""
    kept = [sp for sp in tracer.spans if since <= sp.start < until or sp.name.startswith("session.")]
    children: dict[int, list[Span]] = defaultdict(list)
    for sp in kept:
        if sp.parent is not None:
            children[sp.parent].append(sp)
    walls: dict[str, float] = defaultdict(float)
    attrs: dict[str, float] = defaultdict(float)
    spark = dict.fromkeys(SPARK_COUNTERS, 0.0)
    for sp in kept:
        walls[sp.name] += sp.wall
        for k, v in sp.attrs.items():
            attrs[k] += v
        for k in SPARK_COUNTERS:
            spark[k] += jobs.get(sp.id, {}).get(k, 0)

    def subtree_intervals(sp: Span) -> list:
        out = list(jobs.get(sp.id, {}).get("intervals", ()))
        for ch in children.get(sp.id, ()):
            out.extend(subtree_intervals(ch))
        return out

    driver_s = uncovered_s = 0.0
    for sp in kept:
        if sp.name in roots:
            kids = [(c.start, c.end) for c in children.get(sp.id, ())]
            # kept on the root span too, so the dump has them per window,
            # read or entry
            sp.attrs["driver_s"] = sp.wall - _union(subtree_intervals(sp), sp.start, sp.end)
            sp.attrs["uncovered_s"] = sp.wall - _union(kids, sp.start, sp.end)
            driver_s += sp.attrs["driver_s"]
            uncovered_s += sp.attrs["uncovered_s"]
    return {"walls": dict(walls), "attrs": dict(attrs), "spark": spark,
            "driver_s": driver_s, "uncovered_s": uncovered_s}
