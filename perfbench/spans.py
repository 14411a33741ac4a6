"""Span tracer for the traced benchmark run.

Wraps public layer functions where their callers look them up (module
attributes), records one span per call (name, start, end, parent, run
id) and runs every span under its own Spark job group, so the jobs a
span triggered can be read back from Spark's status store after the
run. Spans live in memory; ``write`` dumps them as JSON lines.

The tracer patches module attributes only while it is installed
(``with Tracer(...)``) and restores them on exit, so untraced runs call
the unmodified program.
"""

from __future__ import annotations

import functools
import importlib
import json
import time
from dataclasses import asdict, dataclass, field

from py4j.protocol import Py4JJavaError

# (module, attribute) → span name. Callers resolve these names at call
# time (module globals, or function-local ``from ... import``), so
# patching the attribute is enough to see every call.
TRACE_POINTS = (
    ("ner_spark.pipeline", "run_stage", "pipeline.run_stage"),
    ("ner_spark.pipeline", "link_edges", "operators.linking.link_edges"),
    ("ner_spark.pipeline", "connected_components", "operators.components.connected_components"),
    ("ner_spark.operators.incremental", "connected_components", "operators.components.connected_components"),
    ("ner_spark.operators.incremental", "delta_link_edges", "operators.linking.delta_link_edges"),
    ("ner_spark.operators.manifest", "publish_stage", "operators.manifest.publish_stage"),
    ("ner_spark.operators.manifest", "stage_complete", "operators.manifest.stage_complete"),
    ("ner_spark.operators.incremental", "incremental_update", "operators.incremental.incremental_update"),
    ("ner_spark.model.artifact", "verify_executor_weights", "model.artifact.verify_executor_weights"),
)


@dataclass
class Span:
    span_id: int
    name: str
    run_id: str
    parent: int | None
    start: float
    end: float = 0.0
    stage: str | None = None  # pipeline stage name for run_stage spans
    group: str = ""
    counters: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Installs span wrappers for one traced call at a time.

    ``run_id`` labels the spans of the next traced call; set it before
    each call with ``tracer.run_id = ...``."""

    def __init__(self, spark, run_id: str = "traced"):
        self.spark = spark
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._saved: list[tuple[object, str, object]] = []

    # -- install / uninstall ---------------------------------------------
    def __enter__(self) -> Tracer:
        for mod_name, attr, span_name in TRACE_POINTS:
            mod = importlib.import_module(mod_name)
            orig = getattr(mod, attr)
            self._saved.append((mod, attr, orig))
            setattr(mod, attr, self._wrap(orig, span_name))
        return self

    def __exit__(self, *exc) -> None:
        for mod, attr, orig in reversed(self._saved):
            setattr(mod, attr, orig)
        self._saved.clear()
        self._set_group(None)

    def _wrap(self, fn, span_name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            stage = None
            if span_name == "pipeline.run_stage":
                stage = args[3] if len(args) > 3 else kwargs["stage"]
            with self.span(span_name, stage=stage):
                return fn(*args, **kwargs)

        return traced

    # -- spans ------------------------------------------------------------
    def span(self, name: str, stage: str | None = None):
        return _SpanCtx(self, name, stage)

    def _open(self, name: str, stage: str | None) -> Span:
        parent = self._stack[-1].span_id if self._stack else None
        sp = Span(len(self.spans), name, self.run_id, parent, time.perf_counter(), stage=stage)
        sp.group = f"{self.run_id}/{sp.span_id}"
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp.group)
        return sp

    def _close(self, sp: Span) -> None:
        sp.end = time.perf_counter()
        self._stack.pop()
        self._set_group(self._stack[-1].group if self._stack else None)

    def _set_group(self, group: str | None) -> None:
        sc = self.spark.sparkContext
        if group is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(group, group)

    # -- counters from Spark's status store --------------------------------
    def read_counters(self, run_id: str) -> None:
        """Fill ``counters`` of every span of ``run_id`` with its OWN jobs'
        totals (children excluded)."""
        spans = [s for s in self.spans if s.run_id == run_id]
        per_group = job_counters(self.spark, [s.group for s in spans])
        for s in spans:
            s.counters = per_group[s.group]

    # -- derived views -----------------------------------------------------
    def children(self, sp: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == sp.span_id and s.run_id == sp.run_id]

    def self_time(self, sp: Span) -> float:
        """Span duration minus the union of its children's intervals
        (children run sequentially on one thread, so they don't overlap)."""
        return sp.wall - sum(c.wall for c in self.children(sp))

    def subtree(self, sp: Span) -> list[Span]:
        out, todo = [], [sp]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.children(s))
        return out

    def total(self, sp: Span, key: str) -> int:
        return sum(s.counters.get(key, 0) for s in self.subtree(sp))

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                d = asdict(s)
                d["wall"] = s.wall
                f.write(json.dumps(d) + "\n")


COUNTERS = ("jobs", "tasks", "executor_ms", "shuffle_write_bytes", "spill_bytes")


def job_counters(spark, groups: list[str]) -> dict[str, dict[str, int]]:
    """Per job group: jobs, completed tasks, executor run time, shuffle
    bytes written and bytes spilled to disk, from Spark's status store
    (works with the UI disabled). Each Spark stage is counted once, for
    the earliest job that lists it: a later job reusing a shuffle lists
    the same stage as skipped."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = {g: dict.fromkeys(COUNTERS, 0) for g in groups}
    jobs = sorted((jid, g) for g in groups for jid in tracker.getJobIdsForGroup(g))
    seen: set[int] = set()
    for jid, g in jobs:
        c = out[g]
        c["jobs"] += 1
        info = tracker.getJobInfo(jid)
        for sid in info.stageIds if info is not None else ():
            if sid in seen:
                continue
            seen.add(sid)
            try:
                sd = store.lastStageAttempt(sid)
            except Py4JJavaError:  # NoSuchElementException: never ran
                continue
            c["tasks"] += int(sd.numCompleteTasks())
            c["executor_ms"] += int(sd.executorRunTime())
            c["shuffle_write_bytes"] += int(sd.shuffleWriteBytes())
            c["spill_bytes"] += int(sd.diskBytesSpilled())
    return out


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, stage: str | None):
        self.tracer, self.name, self.stage = tracer, name, stage

    def __enter__(self) -> Span:
        self.sp = self.tracer._open(self.name, self.stage)
        return self.sp

    def __exit__(self, *exc) -> None:
        self.tracer._close(self.sp)
