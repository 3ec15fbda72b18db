"""Span recorder for the traced run, and the Spark statistics tied to spans.

A span is one call into a layer: name, start, end, parent and run id,
kept in memory and written once when the run ends. Wrappers around the
layers' public functions are installed only for the traced run and
removed after it; the program's own files are never changed. Each span
sets a Spark job group while it is open, so the jobs, stages and tasks
Spark's status store records can be charged to the span that caused them.
"""

from __future__ import annotations

import functools
import importlib
import re
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

GROUP_PREFIX = "pb-"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float | None = None
    run_id: str = ""
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_start, cur_end = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def children_of(spans: list[Span]) -> dict[int | None, list[Span]]:
    out: dict[int | None, list[Span]] = {}
    for s in spans:
        out.setdefault(s.parent, []).append(s)
    return out


def covered(span: Span, kids: list[Span]) -> float:
    """Time within ``span`` that its child spans cover (overlaps counted once)."""
    clipped = [
        (max(k.start, span.start), min(k.end, span.end))
        for k in kids
        if k.end is not None and k.end > span.start and k.start < span.end
    ]
    return _union_length([iv for iv in clipped if iv[1] > iv[0]])


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part of it its children cover."""
    kids = children_of(spans)
    return {s.id: s.duration - covered(s, kids.get(s.id, [])) for s in spans}


class Tracer:
    """Records spans and sets one Spark job group per open span.

    Spans opened on a thread with no open span of its own (the streaming
    foreachBatch callback runs on one) take the main thread's innermost
    open span as parent."""

    def __init__(self, run_id: str, sc=None):
        self.run_id = run_id
        self.sc = sc
        self.spans: list[Span] = []
        self._local = threading.local()
        self._main_stack: list[Span] = []
        self._main = threading.get_ident()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []

    def _stack(self) -> list[Span]:
        if threading.get_ident() == self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        with self._lock:
            sp = Span(len(self.spans), name, parent.id if parent else None, time.perf_counter(), run_id=self.run_id, attrs=attrs)
            self.spans.append(sp)
        prev_group = self._set_group(f"{GROUP_PREFIX}{sp.id}", name)
        stack.append(sp)
        try:
            yield sp
        finally:
            stack.pop()
            sp.end = time.perf_counter()
            self._restore_group(prev_group)

    def _set_group(self, group: str, desc: str):
        if self.sc is None:
            return None
        prev = (self.sc.getLocalProperty("spark.jobGroup.id"), self.sc.getLocalProperty("spark.job.description"))
        self.sc.setJobGroup(group, desc, False)
        return prev

    def _restore_group(self, prev) -> None:
        if self.sc is None or prev is None:
            return
        self.sc.setLocalProperty("spark.jobGroup.id", prev[0])
        self.sc.setLocalProperty("spark.job.description", prev[1])

    def wrap(self, fn, name: str, wrap_result: str | None = None):
        """``fn`` with every call recorded as a ``name`` span. With
        ``wrap_result``, the callable ``fn`` returns is wrapped too."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as sp:
                out = fn(*args, **kwargs)
                if isinstance(out, dict):
                    sp.attrs["items"] = len(out)
            return self.wrap(out, wrap_result) if wrap_result else out

        return traced

    def install(self, targets: list[tuple[str, str, str, str | None]]) -> None:
        """Patch each ``(module, attribute, span name, result span)``
        target, in its defining module and in every loaded module of the
        program that imported the same object by name."""
        for mod_name, attr, name, result_name in targets:
            owner = importlib.import_module(mod_name)
            orig = getattr(owner, attr)
            traced = self.wrap(orig, name, result_name)
            holders = [owner] + [
                m for n, m in list(sys.modules.items())
                if n.startswith("etl_sample_spark") and m is not owner and getattr(m, attr, None) is orig
            ]
            for holder in holders:
                self._patches.append((holder, attr, orig))
                setattr(holder, attr, traced)

    def install_spark(self, spark) -> None:
        """Wrap the Spark calls the program's layers make directly: parquet
        sink writes and the post-write ``count()`` fan-out. The classes are
        taken from live objects, since classic and Connect DataFrames differ."""
        probe = spark.range(0)
        for cls, attr, name in ((type(probe.write), "parquet", "sinks.write_parquet"), (type(probe), "count", "spark.count")):
            orig = cls.__dict__[attr]
            self._patches.append((cls, attr, orig))
            setattr(cls, attr, self.wrap(orig, name))

    def uninstall(self) -> None:
        for holder, attr, orig in reversed(self._patches):
            setattr(holder, attr, orig)
        self._patches.clear()

    def to_json(self) -> dict:
        """Every span, and the summed self time per span name."""
        own = self_times(self.spans)
        by_name: dict[str, float] = {}
        for span in self.spans:
            by_name[span.name] = by_name.get(span.name, 0.0) + own[span.id]
        return {"spans": [asdict(s) for s in self.spans], "self_s": by_name}


# Layer entry points wrapped in the traced run: (module, attribute, span
# name, span name for the callable the function returns).
LAYER_TARGETS = [
    ("etl_sample_spark.pipeline", "run_batch_pipeline", "pipeline.run_batch_pipeline", None),
    ("etl_sample_spark.pipeline", "route_files", "pipeline.route_files", None),
    ("etl_sample_spark.sources.documents", "read_form", "documents.read_form", None),
    ("etl_sample_spark.sources.documents", "quarantine_corrupt", "documents.quarantine_corrupt", None),
    ("etl_sample_spark.normalize", "normalize", "normalize.normalize", None),
    ("etl_sample_spark.streaming.ingest", "stream_documents", "ingest.stream_documents", None),
    ("etl_sample_spark.streaming.ingest", "run_ingest_available_now", "ingest.run_ingest_available_now", None),
    ("etl_sample_spark.streaming.ingest", "foreach_batch_normalize", "ingest.foreach_batch_normalize", "ingest.batch"),
    ("etl_sample_spark.catalog", "table", "catalog.table", None),
    ("etl_sample_spark.pinning", "pin", "pinning.pin", None),
]
# -- Spark status store ---------------------------------------------------

_SIZE = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}
_VALUE_RE = re.compile(r"^\s*([\d.,]+)\s*(B|KiB|MiB|GiB|TiB)?")


def parse_sql_metric(text: str) -> float:
    """First value of a formatted SQL metric ('total (...)\\n1.2 KiB (...)'
    or '1,000'), in bytes for sizes."""
    m = _VALUE_RE.match(text.rsplit("\n", 1)[-1])
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _SIZE.get(m.group(2) or "B", 1)


def _opt(o):
    return o.get() if o.isDefined() else None


def job_stats(spark, since_ms: float) -> list[dict]:
    """Every job submitted at or after ``since_ms`` (epoch ms), with its
    job group and the summed statistics of the stages it ran."""
    jvm = spark._jvm
    conv = jvm.scala.jdk.javaapi.CollectionConverters
    store = spark.sparkContext._jsc.sc().statusStore()
    slots = spark.sparkContext.defaultParallelism
    seen_stages: set[int] = set()
    out = []
    for job in conv.asJava(store.jobsList(None)):
        sub = _opt(job.submissionTime())
        if sub is None or sub.getTime() < since_ms:
            continue
        rec = {"job": job.jobId(), "group": _opt(job.jobGroup()), "stages": 0, "tasks": 0, "run_ms": 0,
               "cpu_ms": 0.0, "gc_ms": 0, "stage_wall_ms": 0, "idle_slot_ms": 0.0, "shuffle_write_bytes": 0,
               "fetch_wait_ms": 0, "input_bytes": 0}
        for sid in (int(x) for x in job.stageIds().mkString(",").split(",") if x):
            if sid in seen_stages:
                continue
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - a stage the store has dropped
                continue
            if st.status().toString() != "COMPLETE":
                continue
            seen_stages.add(sid)
            start, end = _opt(st.submissionTime()), _opt(st.completionTime())
            wall = (end.getTime() - start.getTime()) if start and end else 0
            n = st.numTasks()
            rec["stages"] += 1
            rec["tasks"] += n
            rec["run_ms"] += st.executorRunTime()
            rec["cpu_ms"] += st.executorCpuTime() / 1e6
            rec["gc_ms"] += st.jvmGcTime()
            rec["stage_wall_ms"] += wall
            rec["idle_slot_ms"] += max(0.0, wall * min(n, slots) - st.executorRunTime())
            rec["shuffle_write_bytes"] += st.shuffleWriteBytes()
            rec["fetch_wait_ms"] += st.shuffleFetchWaitTime()
            rec["input_bytes"] += st.inputBytes()
        out.append(rec)
    return out


_PY_NODE = ("Python", "Pandas", "Arrow")


def python_boundary_stats(spark, since_ms: float) -> dict[str, float]:
    """Bytes sent to and returned from Python workers, and rows out of the
    Python operators, over SQL executions started at or after ``since_ms``."""
    jvm = spark._jvm
    conv = jvm.scala.jdk.javaapi.CollectionConverters
    sql = spark._jsparkSession.sharedState().statusStore()
    out = {"sent": 0.0, "received": 0.0, "rows": 0.0}
    for ex in conv.asJava(sql.executionsList()):
        if ex.submissionTime() < since_ms:
            continue
        names = {m.accumulatorId(): m.name() for m in conv.asJava(ex.metrics())}
        if not any("Python workers" in n for n in names.values()):
            continue
        values = conv.asJava(sql.executionMetrics(ex.executionId()))
        py_rows = set()
        for node in conv.asJava(sql.planGraph(ex.executionId()).allNodes()):
            if any(k in node.name() for k in _PY_NODE):
                py_rows.update(m.accumulatorId() for m in conv.asJava(node.metrics()) if m.name() == "number of output rows")
        for acc in values.keySet():
            name = names.get(acc, "")
            if name == "data sent to Python workers":
                out["sent"] += parse_sql_metric(values.get(acc))
            elif name == "data returned from Python workers":
                out["received"] += parse_sql_metric(values.get(acc))
            elif acc in py_rows:
                out["rows"] += parse_sql_metric(values.get(acc))
    return out


def catalyst_phases_ms(df) -> dict[str, float]:
    """Plan ``df`` and return its analysis/optimization/planning times."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        summary = phases.get(phase)
        out[phase] = float(summary.get().durationMs()) if summary.isDefined() else 0.0
    return out
