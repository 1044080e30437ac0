"""Spans around the pipeline's layer boundaries, and Spark task metrics
from the event log folded into them.

The spans are recorded from outside the package: `Tracer.install`
wraps `KGPipeline.stage`, `KGPipeline._flush_lineage` and the sink that
`streaming.ingest.make_incremental_sink` returns, for the duration of a
`with` block. Each span sets a Spark job group of its own, so every job
in the event log names the span that submitted it.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import time
from dataclasses import dataclass, field

# python-boundary SQL metrics (PythonSQLMetrics in Spark 4.1)
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"
PY_RUN = "time to run Python workers"
PY_BOOT = "time to start Python workers"
PY_INIT = "time to initialize Python workers"


@dataclass
class Span:
    name: str
    group: str  # the Spark job group the span's jobs ran under
    parent: str | None
    run_id: str
    start: float  # monotonic seconds
    end: float = 0.0
    start_ms: int = 0  # epoch milliseconds, the event log's clock
    end_ms: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        s = Span(
            name,
            f"{self.run_id}/{len(self.spans)}/{name}",
            parent.group if parent else None,
            self.run_id,
            time.monotonic(),
            start_ms=int(time.time() * 1000),
            attrs=attrs,
        )
        self.spans.append(s)
        self._stack.append(s)
        sc.setJobGroup(s.group, name)
        try:
            yield s
        finally:
            s.end = time.monotonic()
            s.end_ms = int(time.time() * 1000)
            self._stack.pop()
            if parent:
                sc.setJobGroup(parent.group, parent.name)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    @contextlib.contextmanager
    def install(self):
        """Wrap the stage protocol and the streaming sink while the
        block runs; the package is restored on exit."""
        from careers_spark.plans.pipeline import KGPipeline
        from careers_spark.streaming import ingest

        stage, flush = KGPipeline.stage, KGPipeline._flush_lineage
        make_sink = ingest.make_incremental_sink
        tracer = self

        def traced_stage(pipe, run, name, compute, partition_by=None):
            with tracer.span(f"stage.{name}"):
                return stage(pipe, run, name, compute, partition_by)

        def traced_flush(pipe):
            with tracer.span("pipeline.lineage_flush"):
                return flush(pipe)

        def traced_make_sink(*args, **kwargs):
            sink = make_sink(*args, **kwargs)

            def traced_sink(batch_df, epoch_id):
                # runs on the query's thread while the caller blocks in
                # awaitTermination, so the caller's open span is its parent
                with tracer.span("poll.sink", epoch=int(epoch_id)):
                    sink(batch_df, epoch_id)

            return traced_sink

        KGPipeline.stage = traced_stage
        KGPipeline._flush_lineage = traced_flush
        ingest.make_incremental_sink = traced_make_sink
        try:
            yield self
        finally:
            KGPipeline.stage = stage
            KGPipeline._flush_lineage = flush
            ingest.make_incremental_sink = make_sink

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]


@dataclass
class Task:
    run_ms: int
    gc_ms: int
    duration_ms: int
    shuffle_write: int
    shuffle_read: int
    spill: int
    py: dict


@dataclass
class Job:
    group: str | None
    submit_ms: int
    end_ms: int = 0
    stages: list = field(default_factory=list)


def _accum(value) -> float:
    try:
        return float(value)
    except (TypeError, ValueError):
        return 0.0


def read_event_log(log_dir: str) -> tuple[dict[int, Job], dict[int, list[Task]]]:
    """Jobs by id, and finished tasks by stage id, from every event log
    file in `log_dir` (uncompressed JSON lines)."""
    jobs: dict[int, Job] = {}
    tasks: dict[int, list[Task]] = {}
    for fn in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, fn)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = Job(
                        props.get("spark.jobGroup.id"),
                        ev["Submission Time"],
                        stages=list(ev["Stage IDs"]),
                    )
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]].end_ms = ev["Completion Time"]
                elif kind == "SparkListenerTaskEnd":
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    rd = m.get("Shuffle Read Metrics", {})
                    py = {}
                    for acc in info.get("Accumulables", ()):
                        name = acc.get("Name")
                        if name in (PY_SENT, PY_RECV, PY_RUN, PY_BOOT, PY_INIT):
                            py[name] = py.get(name, 0.0) + _accum(acc.get("Update"))
                    tasks.setdefault(ev["Stage ID"], []).append(
                        Task(
                            m.get("Executor Run Time", 0),
                            m.get("JVM GC Time", 0),
                            info["Finish Time"] - info["Launch Time"],
                            m.get("Shuffle Write Metrics", {}).get(
                                "Shuffle Bytes Written", 0
                            ),
                            rd.get("Remote Bytes Read", 0)
                            + rd.get("Local Bytes Read", 0),
                            m.get("Disk Bytes Spilled", 0),
                            py,
                        )
                    )
    return jobs, tasks


def jobs_of(span: Span, spans: list[Span], jobs: dict[int, Job]) -> list[Job]:
    """The jobs a span submitted itself or through its child spans: by
    job group, and by submission time for jobs that carry no group of
    this run (the innermost span open at submission owns them)."""
    family = {span.group}
    grew = True
    while grew:
        kids = {s.group for s in spans if s.parent in family} - family
        family |= kids
        grew = bool(kids)
    known = {s.group for s in spans}
    out = []
    for j in jobs.values():
        if j.group in known:
            if j.group in family:
                out.append(j)
            continue
        open_ = [s for s in spans if s.start_ms <= j.submit_ms <= s.end_ms]
        if open_ and max(open_, key=lambda s: s.start_ms).group in family:
            out.append(j)
    return out


def busy_s(jobs: list[Job]) -> float:
    """Wall seconds during which at least one of `jobs` was running."""
    iv = sorted((j.submit_ms, j.end_ms or j.submit_ms) for j in jobs)
    total, cur_s, cur_e = 0, None, None
    for s, e in iv:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total / 1000


def task_metrics(jobs: list[Job], tasks: dict[int, list[Task]]) -> dict:
    """Task totals over the stages of `jobs`; a stage shared by two jobs
    counts once."""
    stage_ids = {sid for j in jobs for sid in j.stages}
    ts = [t for sid in stage_ids for t in tasks.get(sid, ())]
    py = lambda k: sum(t.py.get(k, 0.0) for t in ts)  # noqa: E731
    durations = [t.duration_ms for t in ts]
    med = statistics.median(durations) if durations else 0
    return {
        "task_run_s": sum(t.run_ms for t in ts) / 1000,
        "gc_s": sum(t.gc_ms for t in ts) / 1000,
        "shuffle_write_mb": sum(t.shuffle_write for t in ts) / 1e6,
        "shuffle_read_mb": sum(t.shuffle_read for t in ts) / 1e6,
        "spill_mb": sum(t.spill for t in ts) / 1e6,
        "tasks": len(ts),
        "task_skew": max(durations) / med if med else 0.0,
        "py_sent_mb": py(PY_SENT) / 1e6,
        "py_recv_mb": py(PY_RECV) / 1e6,
        # the python timing metrics are millisecond timings
        "py_run_s": py(PY_RUN) / 1000,
        "py_init_s": (py(PY_BOOT) + py(PY_INIT)) / 1000,
    }
