"""Spans around calls into the package, and the readback of Spark's
in-process status store that turns traced spans into per-layer numbers.

A :class:`Recorder` times every call the benchmark makes into the package.
With tracing on it also gives each call its own Spark job group, and
:meth:`Recorder.readback` (run once, after the timed region) collects the
jobs, stages and streaming progress of every span. Each stage is counted
once: under the span whose job ran its completed attempt, not under every
later job that lists it as skipped.
"""

from __future__ import annotations

import re
import threading
import time
from datetime import datetime, timezone
from contextlib import contextmanager
from dataclasses import dataclass, field

#: Spark keeps this many jobs/stages/executions in its status store; the
#: default (1000) would drop the early spans of a run before the readback
STATUS_RETENTION = {
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
    "spark.sql.ui.retainedExecutions": "100000",
}

#: SQL metrics read back per span, by label: (a pattern the plan node's
#: description must match, the metric's name). The rest of the per-layer
#: numbers come from stage data, which carries exact values
SQL_METRICS = {
    "python_s": (re.compile(""), "time to run Python workers"),
    "written_files": (re.compile(""), "number of written files"),
    "commit_s": (re.compile(""), "task commit time"),
    "written_rows": (re.compile("Execute InsertIntoHadoopFsRelationCommand"), "number of output rows"),
    # decode_feed's explode of each trip's stop-time updates: one row per update
    "decoded_rows": (re.compile(r"Generate explode\(.*\.stop_time_update\)"), "number of output rows"),
}
#: peak executor memory metrics read back once per run
PEAK_MEMORY = ("JVMHeapMemory", "OnHeapExecutionMemory")
_PLAN_METRIC_RE = re.compile(r"SQLPlanMetric\((.*?),(\d+),(\w+)\)")
_MAP_KEY_RE = re.compile(r"(?:Map\(|, )(\d+) -> ")
_JOB_ID_RE = re.compile(r"(\d+) -> ")
_VALUE_RE = re.compile(r"([\d,.]+)\s*([A-Za-z]*)")
_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
          "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


def sql_metric_value(text: str) -> float:
    """A formatted SQL metric (``1,000``, ``69 ms``, ``8.5 KiB``, or the
    multi-task ``total (min, med, max ...)`` form) in counts, seconds or
    bytes. The status store keeps metrics only in this formatted form."""
    m = _VALUE_RE.search(text.strip().split("\n")[-1])
    if m is None:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1)


@dataclass
class Stage:
    run_s: float
    shuffle_write: int
    spill: int
    input_rows: int
    output_bytes: int
    tasks: int


@dataclass
class Span:
    layer: str
    op: str
    group: str
    wall_s: float = 0.0
    start: float = 0.0  # epoch seconds, to match asynchronous streaming progress
    #: filled by the readback of a traced run
    jobs: int = 0
    job_s: float = 0.0
    stages: list[Stage] = field(default_factory=list)
    progress: list[dict] = field(default_factory=list)
    #: summed SQL_METRICS of the span's SQL executions, by label
    sql: dict[str, float] = field(default_factory=dict)

    @property
    def tasks(self) -> int:
        return sum(s.tasks for s in self.stages)

    def total(self, attr: str) -> float:
        return sum(getattr(s, attr) for s in self.stages)

    def sql_metric(self, label: str) -> float:
        return self.sql.get(label, 0.0)


def _union_s(intervals: list[tuple[int, int]]) -> float:
    """Seconds covered by a set of [start, end] millisecond intervals."""
    total, reach = 0, None
    for a, b in sorted(intervals):
        if reach is None or a > reach:
            total += b - a
            reach = b
        elif b > reach:
            total += b - reach
            reach = b
    return total / 1000.0


class Recorder:
    """Times calls into the package; with ``traced`` also attributes their
    Spark work to them."""

    def __init__(self, spark, traced: bool):
        self.spark = spark
        self.traced = traced
        self.spans: list[Span] = []
        self.readback_s = 0.0
        self._progress: list[tuple[float, dict]] = []
        self._lock = threading.Lock()
        if traced:
            self._listen_streaming()

    @contextmanager
    def span(self, layer: str, op: str):
        """Time the body as one call. The job group is set before the clock
        starts and cleared after it stops, so the span measures the call only."""
        span = Span(layer, op, f"pb{len(self.spans)}:{layer}:{op}")
        sc = self.spark.sparkContext
        if self.traced:
            sc.setJobGroup(span.group, op)
        span.start = time.time()
        t0 = time.perf_counter()
        try:
            yield span
        finally:
            span.wall_s = time.perf_counter() - t0
            if self.traced:
                sc._jsc.clearJobGroup()
            self.spans.append(span)

    def of(self, layer: str, op: str | None = None) -> list[Span]:
        return [s for s in self.spans if s.layer == layer and (op is None or s.op == op)]

    # -- streaming progress ------------------------------------------------

    def _listen_streaming(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        rec = self

        class _Progress(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                started = datetime.strptime(p.timestamp, "%Y-%m-%dT%H:%M:%S.%fZ")
                with rec._lock:
                    rec._progress.append(
                        (started.replace(tzinfo=timezone.utc).timestamp(), dict(p.durationMs))
                    )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = _Progress()
        self.spark.streams.addListener(self._listener)

    # -- readback ------------------------------------------------------------

    def _span_at(self, epoch_s: float) -> Span | None:
        """The span running at a wall-clock instant (spans never overlap)."""
        for span in self.spans:
            if span.start <= epoch_s <= span.start + span.wall_s:
                return span
        return None

    def readback(self) -> None:
        """Fill every span's jobs, stages and streaming progress from the
        status store. Runs after the timed region; its own wall is kept in
        ``readback_s``.

        A job belongs to the span whose job group it carries. Streaming jobs
        run on the query's own thread under the query's own group, so they
        belong to the span running when they were submitted."""
        if not self.traced:
            return
        t0 = time.perf_counter()
        # progress events arrive through the listener bus asynchronously
        time.sleep(0.5)
        by_group = {s.group: s for s in self.spans}
        store = self.spark.sparkContext._jsc.sc().statusStore()
        jobs = store.jobsList(None)
        owner_of_job: dict[int, Span] = {}
        listing: dict[int, list[tuple[int, int]]] = {}  # stage -> [(submitted_ms, job)]
        intervals: dict[int, list[tuple[int, int]]] = {}
        for i in range(jobs.size()):
            j = jobs.apply(i)
            jid = j.jobId()
            g = j.jobGroup()
            sub = j.submissionTime()
            done = j.completionTime()
            sub_ms = sub.get().getTime() if sub.isDefined() else 0
            done_ms = done.get().getTime() if done.isDefined() else sub_ms
            span = by_group.get(g.get()) if g.isDefined() else None
            if span is None:
                span = self._span_at(sub_ms / 1000.0)
            if span is not None:
                owner_of_job[jid] = span
                span.jobs += 1
                intervals.setdefault(id(span), []).append((sub_ms, done_ms))
            sids = j.stageIds()
            for k in range(sids.size()):
                listing.setdefault(sids.apply(k), []).append((sub_ms, jid))
        for span in self.spans:
            span.job_s = _union_s(intervals.get(id(span), []))
        # a stage belongs to the job that was running when its completed
        # attempt was submitted: the latest listing job submitted before it,
        # never a later job that lists it as skipped
        for sid, jobs_of in listing.items():
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - stage evicted or never submitted
                continue
            if st.status().toString() not in ("COMPLETE", "FAILED"):
                continue
            sub = st.submissionTime()
            st_ms = sub.get().getTime() if sub.isDefined() else 0
            before = [j for j in jobs_of if j[0] <= st_ms] or jobs_of
            owner = owner_of_job.get(max(before, key=lambda j: (j[0], -j[1]))[1])
            if owner is None:
                continue
            owner.stages.append(Stage(
                run_s=st.executorRunTime() / 1000.0,
                shuffle_write=st.shuffleWriteBytes(),
                spill=st.memoryBytesSpilled() + st.diskBytesSpilled(),
                input_rows=st.inputRecords(),
                output_bytes=st.outputBytes(),
                tasks=st.numTasks(),
            ))
        self._read_sql(owner_of_job)
        with self._lock:
            progress = list(self._progress)
        for started, durations in progress:
            span = self._span_at(started)
            if span is not None:
                span.progress.append(durations)
        self.readback_s = time.perf_counter() - t0

    def _read_sql(self, owner_of_job: dict[int, Span]) -> None:
        """Add each SQL execution's SQL_METRICS to the span that ran its jobs."""
        store = self.spark._jsparkSession.sharedState().statusStore()
        executions = store.executionsList()
        for i in range(executions.size()):
            ex = executions.apply(i)
            jobs = [int(j) for j in _JOB_ID_RE.findall(ex.jobs().toString())]
            owner = next((owner_of_job[j] for j in jobs if j in owner_of_job), None)
            if owner is None:
                continue
            eid = ex.executionId()
            wanted: dict[int, str] = {}
            nodes = store.planGraph(eid).allNodes()
            for k in range(nodes.size()):
                node = nodes.apply(k)
                for name, acc_id, _kind in _PLAN_METRIC_RE.findall(node.metrics().toString()):
                    for label, (desc, metric) in SQL_METRICS.items():
                        if name == metric and desc.match(node.desc()):
                            wanted[int(acc_id)] = label
            if not wanted:
                continue
            text = store.executionMetrics(eid).toString()
            parts = _MAP_KEY_RE.split(text)
            for acc_id, value in zip(parts[1::2], parts[2::2]):
                name = wanted.get(int(acc_id))
                if name is not None:
                    owner.sql[name] = owner.sql.get(name, 0.0) + sql_metric_value(value)

    def peak_memory_mb(self) -> dict[str, float]:
        """Peak executor memory metrics (``JVMHeapMemory``,
        ``OnHeapExecutionMemory``, ...) in MB, as the status store keeps
        them for the local executor; empty if it has none yet."""
        store = self.spark.sparkContext._jsc.sc().statusStore()
        execs = store.executorList(True)
        peaks: dict[str, float] = {}
        for i in range(execs.size()):
            m = execs.apply(i).peakMemoryMetrics()
            if not m.isDefined():
                continue
            for name in PEAK_MEMORY:
                peaks[name] = max(peaks.get(name, 0.0), m.get().getMetricValue(name) / 2**20)
        return peaks

    def failed_tasks(self) -> int:
        store = self.spark.sparkContext._jsc.sc().statusStore()
        jobs = store.jobsList(None)
        return sum(jobs.apply(i).numFailedTasks() for i in range(jobs.size()))

    def close(self) -> None:
        if self.traced:
            self.spark.streams.removeListener(self._listener)
