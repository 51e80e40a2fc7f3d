"""Span tracing for the traced benchmark run.

Spans are recorded from the benchmark's side only: the layers' public
functions are wrapped (module attributes and class methods are patched and
restored), the engine's source is not touched.  While a span is the
innermost one on its thread, every Spark job it submits carries the job
group ``perfbench/<run>/<workload>/<span>#<seq>``; the previous group is
restored when the span exits.  After the run, ``harvest`` reads per-job
stage metrics from the SparkContext status store and Python-worker metrics
from the SQL status store, and attributes each to the span that submitted
it (exclusive attribution: a job counts for its innermost span only).
"""

from __future__ import annotations

import contextlib
import re
import threading
import time
from dataclasses import dataclass, field

GROUP_PREFIX = "perfbench/"

# Spans that do work when called (the lazy plan builders are deliberately
# absent: their cost runs inside these).
EAGER_SPANS = (
    "session.get_spark",
    "plans.replay.replay",
    "plans.replay.apply_plans",
    "plans.batches.plan_batches",
    "operators.merge.merge_into",
    "table.format.write_data_files",
    "table.format.commit_data",
    "table.format.compact",
    "table.format.retrieve",
)
PY_METRICS = {
    "time to run Python workers": "py_run_s",
    "time to start Python workers": "py_start_s",
    "time to initialize Python workers": "py_start_s",
    "data sent to Python workers": "py_bytes_in",
    "data returned from Python workers": "py_bytes_out",
}
_PY_NODE = re.compile(r"Python|InArrow|InPandas")
_UNITS = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
          "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
          "TiB": 1 << 40}


@dataclass
class Span:
    name: str
    seq: int
    parent: Span | None
    phase: str
    start: float
    end: float = 0.0
    child_s: float = 0.0
    job_ids: list[int] = field(default_factory=list)
    stats: dict[str, float] = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.wall_s - self.child_s

    def within(self, name: str) -> bool:
        s: Span | None = self
        while s is not None:
            if s.name == name:
                return True
            s = s.parent
        return False


def parse_sql_metric(text: str) -> float:
    """Value of a formatted SQL metric: ``'863 ms'``, ``'380.1 KiB'`` or the
    multi-task form ``'total (min, med, max ...)\\n1.2 s (...)'``."""
    line = text.strip().splitlines()[-1] if "\n" in text else text.strip()
    num, unit = re.match(r"([-\d.,]+)\s*(\S*)", line).groups()
    return float(num.replace(",", "")) * _UNITS.get(unit, 1)


class Tracer:
    """Records spans around wrapped callables; tags Spark jobs per span."""

    def __init__(self, run_id: str, workload: str):
        self.run_id = run_id
        self.workload = workload
        self.phase = "setup"
        self.enabled = True
        self.spans: list[Span] = []
        self.counters: dict[str, float] = {}
        # time spent in span bookkeeping itself, per harness phase
        self.overhead_s: dict[str, float] = {}
        self._local = threading.local()
        self._lock = threading.Lock()
        self._seq = 0
        self._patches: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------ spans
    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @staticmethod
    def _sc():
        from pyspark import SparkContext

        return SparkContext._active_spark_context

    def group_of(self, span: Span) -> str:
        return (f"{GROUP_PREFIX}{self.run_id}/{self.workload}/"
                f"{span.name}#{span.seq}")

    _PROPS = ("spark.jobGroup.id", "spark.job.description",
              "spark.job.interruptOnCancel")

    @contextlib.contextmanager
    def span(self, name: str, tag_jobs: bool = True):
        """Open span ``name`` on this thread for the ``with`` body.  With
        ``tag_jobs=False`` the job group is left alone (seven JVM calls
        fewer), so any job the span submits is charged to the enclosing
        span: for hot, driver-side calls such as point reads."""
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        stack = self._stack()
        with self._lock:
            self._seq += 1
            seq = self._seq
        span = Span(name, seq, stack[-1] if stack else None, self.phase, 0.0)
        sc = self._sc() if tag_jobs else None
        prev = None
        if sc is not None:
            prev = [sc.getLocalProperty(k) for k in self._PROPS]
            sc.setJobGroup(self.group_of(span), name)
        stack.append(span)
        span.start = time.perf_counter()
        try:
            yield span
        finally:
            span.end = time.perf_counter()
            stack.pop()
            if span.parent is not None:
                span.parent.child_s += span.wall_s
            if prev is not None:
                for k, v in zip(self._PROPS, prev):
                    sc.setLocalProperty(k, v)
            with self._lock:
                self.spans.append(span)
                self.overhead_s[span.phase] = (
                    self.overhead_s.get(span.phase, 0.0) + span.start - t0
                    + time.perf_counter() - span.end)

    def call(self, name: str, fn, *args, tag_jobs: bool = True, **kwargs):
        """Run ``fn`` inside span ``name``."""
        with self.span(name, tag_jobs):
            return fn(*args, **kwargs)

    @contextlib.contextmanager
    def untraced(self):
        """Run the body with spans off (the untraced half of the overhead
        A/B); its jobs still carry a label, so coverage stays checkable."""
        sc = self._sc()
        prev = [sc.getLocalProperty(k) for k in self._PROPS]
        sc.setJobGroup(self.untraced_group, "untraced")
        self.enabled = False
        try:
            yield
        finally:
            self.enabled = True
            for k, v in zip(self._PROPS, prev):
                sc.setLocalProperty(k, v)

    @property
    def untraced_group(self) -> str:
        return f"{GROUP_PREFIX}{self.run_id}/{self.workload}/untraced"

    def count(self, key: str, value: float = 1.0) -> None:
        with self._lock:
            self.counters[key] = self.counters.get(key, 0.0) + value

    # ------------------------------------------------------------ patching
    def wrap(self, owner, attr: str, name: str, after=None,
             tag_jobs: bool = True) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper.  ``after``
        sees each call's return value (for outcome counters)."""
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            out = tracer.call(name, orig, *args, tag_jobs=tag_jobs, **kwargs)
            if after is not None and tracer.enabled:
                after(out)
            return out

        wrapper.__wrapped__ = orig
        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def patch(self, owner, attr: str, make) -> None:
        """Replace ``owner.attr`` with ``make(original)``."""
        orig = getattr(owner, attr)
        setattr(owner, attr, make(orig))
        self._patches.append((owner, attr, orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # ------------------------------------------------------------ harvest
    def harvest(self, spark) -> dict:
        """Attribute every finished Spark job, its stages and its SQL
        executions' Python-worker metrics to the submitting span.  Returns
        job coverage: how many jobs ran and how many carried no span."""
        sc = spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        by_group = {self.group_of(s): s for s in self.spans}
        store = jsc.statusStore()
        jobs = store.jobsList(None)
        job_span: dict[int, Span] = {}
        stage_owner: dict[int, Span] = {}
        unlabelled = []
        listed = sorted((jobs.apply(i) for i in range(jobs.size())),
                        key=lambda j: j.jobId())
        for job in listed:
            grp = job.jobGroup()
            label = grp.get() if grp.isDefined() else None
            span = by_group.get(label)
            if span is None:
                if label != self.untraced_group:
                    unlabelled.append(job.jobId())
                continue
            job_span[job.jobId()] = span
            span.job_ids.append(job.jobId())
            ids = job.stageIds()
            for k in range(ids.size()):
                # a shuffle stage reused by a later job is charged once, to
                # the first job that ran it
                stage_owner.setdefault(ids.apply(k), span)
        gw = sc._gateway
        stages = store.stageList(None, False, False,
                                 gw.new_array(gw.jvm.double, 0),
                                 gw.jvm.java.util.ArrayList())
        for i in range(stages.size()):
            st = stages.apply(i)
            span = stage_owner.get(st.stageId())
            if span is None:
                continue
            add = span.stats
            for key, val in (
                ("task_run_s", st.executorRunTime() / 1e3),
                ("task_cpu_s", st.executorCpuTime() / 1e9),
                ("shuffle_bytes",
                 st.shuffleReadBytes() + st.shuffleWriteBytes()),
                ("spill_bytes", st.memoryBytesSpilled()),
            ):
                add[key] = add.get(key, 0.0) + val
        self._harvest_python(spark, job_span)
        return {"jobs": jobs.size(), "unlabelled_jobs": len(unlabelled)}

    def _harvest_python(self, spark, job_span: dict[int, Span]) -> None:
        sq = spark._jsparkSession.sharedState().statusStore()
        execs = sq.executionsList()
        for i in range(execs.size()):
            ex = execs.apply(i)
            jobs = ex.jobs().keySet().toSeq()
            span = None
            for k in range(jobs.size()):
                span = job_span.get(jobs.apply(k))
                if span is not None:
                    break
            if span is None:
                continue
            names = ex.metrics()
            if not any(names.apply(k).name() in PY_METRICS
                       for k in range(names.size())):
                continue
            values = sq.executionMetrics(ex.executionId())
            nodes = sq.planGraph(ex.executionId()).allNodes()
            for n in range(nodes.size()):
                node = nodes.apply(n)
                if not _PY_NODE.search(node.name()):
                    continue
                ms = node.metrics()
                for k in range(ms.size()):
                    m = ms.apply(k)
                    key = PY_METRICS.get(m.name())
                    if key is None and m.name() == "number of output rows":
                        key = "py_rows_out"
                    if key is None or not values.contains(m.accumulatorId()):
                        continue
                    v = parse_sql_metric(values.apply(m.accumulatorId()))
                    span.stats[key] = span.stats.get(key, 0.0) + v

