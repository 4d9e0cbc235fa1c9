"""Spans around the engine's public functions, and Spark's own counters.

A :class:`Tracer` keeps spans in memory (name, start, end, parent span,
request id) and writes them out when the run ends.  The benchmark installs
wrappers from outside the engine; nothing in ``ploverdb_spark`` knows it is
traced.  Spark jobs are read afterwards from the status store (which works
with the UI disabled) and attached to the span tree as leaf spans named
``spark.job``, matched by job group, so a layer's self time excludes the
time its Spark jobs ran.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import threading
import time
from collections.abc import Callable

from stats import union_length

SPARK_JOB = "spark.job"


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._ids = itertools.count(1)
        self._local = threading.local()
        # spans handed to work that continues on another thread, keyed by
        # the id() of an object both sides see
        self._handoff: dict[int, dict] = {}
        # wrappers stay installed but pass straight through while False
        self.enabled = True

    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def current(self) -> dict | None:
        st = self._stack()
        return st[-1] if st else None

    @contextlib.contextmanager
    def span(self, name: str, rid: str | None = None, parent: dict | None = None,
             **attrs):
        st = self._stack()
        parent = parent or (st[-1] if st else None)
        rec = {
            "id": next(self._ids),
            "name": name,
            "parent": parent["id"] if parent else None,
            "rid": rid or (parent["rid"] if parent else None),
            "start": time.time(),
            "end": None,
            **attrs,
        }
        st.append(rec)
        try:
            yield rec
        finally:
            st.pop()
            rec["end"] = time.time()
            with self._lock:
                self.spans.append(rec)

    def hand_off(self, key: object) -> None:
        cur = self.current()
        if cur is not None:
            self._handoff[id(key)] = cur

    def adopt(self, key: object) -> dict | None:
        return self._handoff.pop(id(key), None)

    def wrap(self, owner, attr: str, name: str,
             before: Callable | None = None) -> None:
        """Replace ``owner.attr`` with a spanned call.  ``before(args,
        kwargs)`` may return ``(parent, attrs)`` for the span."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return orig(*args, **kwargs)
            parent, attrs = before(args, kwargs) if before else (None, {})
            with tracer.span(name, parent=parent, **attrs):
                return orig(*args, **kwargs)

        setattr(owner, attr, traced)


def current_job_group(sc) -> str | None:
    return sc.getLocalProperty("spark.jobGroup.id")


@contextlib.contextmanager
def job_group(sc, group: str):
    """Run the block's Spark jobs under ``group``, restoring the thread's
    previous group afterwards."""
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)


# ---------------------------------------------------------------- Spark reads

STAGE_FIELDS = {
    "spark.tasks": ("numTasks", 1.0),
    "spark.executor_run_s": ("executorRunTime", 1e-3),
    "spark.executor_cpu_s": ("executorCpuTime", 1e-9),
    "spark.gc_s": ("jvmGcTime", 1e-3),
    "spark.shuffle_read_bytes": ("shuffleReadBytes", 1.0),
    "spark.shuffle_write_bytes": ("shuffleWriteBytes", 1.0),
    "spark.spill_bytes": ("diskBytesSpilled", 1.0),
    "rows_read": ("inputRecords", 1.0),
}


def read_jobs(spark) -> list[dict]:
    """Every finished job in the status store: id, group, interval (epoch
    seconds) and stage ids."""
    sc = spark.sparkContext
    conv = sc._jvm.scala.jdk.javaapi.CollectionConverters  # noqa: SLF001
    out = []
    for j in conv.asJava(sc._jsc.sc().statusStore().jobsList(None)):  # noqa: SLF001
        sub, done = j.submissionTime(), j.completionTime()
        if not (sub.isDefined() and done.isDefined()):
            continue
        group = j.jobGroup()
        out.append({
            "job": j.jobId(),
            "group": group.get() if group.isDefined() else None,
            "start": sub.get().getTime() / 1e3,
            "end": done.get().getTime() / 1e3,
            "stages": list(conv.asJava(j.stageIds())),
        })
    return out


def read_stages(spark) -> dict[int, dict]:
    """Per-stage counters (last attempt; skipped stages read zero)."""
    sc = spark.sparkContext
    conv = sc._jvm.scala.jdk.javaapi.CollectionConverters  # noqa: SLF001
    store = sc._jsc.sc().statusStore()  # noqa: SLF001
    stages = store.stageList(
        None, False, False, sc._gateway.new_array(sc._jvm.double, 0),  # noqa: SLF001
        sc._jvm.java.util.ArrayList(),  # noqa: SLF001
    )
    out: dict[int, dict] = {}
    for s in conv.asJava(stages):
        if str(s.status()) == "SKIPPED":
            continue
        rec = {k: getattr(s, f)() * scale for k, (f, scale) in STAGE_FIELDS.items()}
        out[s.stageId()] = rec
    return out


def spark_totals(jobs: list[dict], stages: dict[int, dict]) -> dict[str, float]:
    """Job, stage and task counters summed over ``jobs``."""
    tot = {"spark.jobs": float(len(jobs)), "spark.stages": 0.0}
    tot.update({k: 0.0 for k in STAGE_FIELDS})
    seen = set()
    for j in jobs:
        for sid in j["stages"]:
            if sid in seen or sid not in stages:
                continue
            seen.add(sid)
            tot["spark.stages"] += 1
            for k, v in stages[sid].items():
                tot[k] += v
    return tot


def jobs_in_window(jobs: list[dict], t0: float, t1: float) -> list[dict]:
    return [j for j in jobs if j["start"] >= t0 and j["end"] <= t1 + 0.5]


def attach_jobs(tracer: Tracer, jobs: list[dict]) -> None:
    """Add each job as a ``spark.job`` leaf under the deepest span that
    holds the job's start, below the span that recorded the job's group."""
    by_group: dict[str, list[dict]] = {}
    kids: dict[int, list[dict]] = {}
    for s in tracer.spans:
        if s.get("group"):
            by_group.setdefault(s["group"], []).append(s)
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    for j in jobs:
        cur = next((s for s in by_group.get(j["group"], ())
                    if s["start"] <= j["start"] <= s["end"]), None)
        if cur is None:
            continue
        rid = cur["rid"]
        while nxt := [k for k in kids.get(cur["id"], ())
                      if k["start"] <= j["start"] <= k["end"]]:
            cur = nxt[0]
        tracer.spans.append({
            "id": next(tracer._ids),  # noqa: SLF001
            "name": SPARK_JOB,
            "parent": cur["id"],
            "rid": rid,
            "start": max(j["start"], cur["start"]),
            "end": min(j["end"], cur["end"]),
            "job": j["job"],
            "group": j["group"],
        })


def spark_time_by_rid(spans: list[dict]) -> dict[str, float]:
    """Wall time each request had Spark jobs running (union of its jobs)."""
    per: dict[str, list[tuple[float, float]]] = {}
    for s in spans:
        if s["name"] == SPARK_JOB and s["rid"]:
            per.setdefault(s["rid"], []).append((s["start"], s["end"]))
    return {rid: union_length(iv) for rid, iv in per.items()}
