"""The three KG-construction workloads and their output checks.

Every workload sets up the same way (Spark session,
`KGPipeline.run_dictionary`, `KGModel.build`, then one warm-up unit that
starts the Python workers and warms the JVM), then times a fixed number
of units of work, the same on every commit:

- batch_short / batch_long: one `KGPipeline.run_corpus` call over the
  whole generated corpus, into a fresh work directory;
- stream_polls: one closed-loop poll - move the next pre-written slice
  of fresh conversations into the stream's input directory, then run
  `stream_kg_incremental(once=True)` until its query terminates. The
  warm-up poll delivers a larger slice, so the timed polls match
  against a store that has already grown.

Inputs come from `careers_spark.synth` and depend only on the seed.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import pickle
import shutil
import statistics
import sys
import threading
import time
import traceback
from dataclasses import dataclass, field

from perfbench import harness
from perfbench import spans as T

STAGES = (
    "transcripts", "mentions", "turn_terms", "word_doc_freq", "candidates",
    "resolved", "triples", "nodes", "edges",
)
PY_STAGES = ("mentions", "turn_terms", "resolved")
STAGE_FIELDS = (
    "wall_s", "rows", "task_run_s", "gc_s", "shuffle_write_mb",
    "shuffle_read_mb", "spill_mb", "tasks", "task_skew",
)
PY_FIELDS = ("py_sent_mb", "py_recv_mb", "py_run_s", "py_init_s")
POLL_FIELDS = (
    "sink_s", "stream_overhead_s", "resolved_rows", "match_rows",
    "digest_store_rows", "task_run_s", "shuffle_write_mb", "py_sent_mb",
)

# units timed after the warm-up unit, whatever the speed of the code
TIMED_UNITS = 2
# a unit whose jobs run longer than this is cancelled and counted failed
UNIT_TIMEOUT_S = 90
# the generator's gold triples are met exactly on the seed commit
MIN_PRECISION = MIN_RECALL = 0.999
# KB size of every workload: batch_short's n_convs // 50
N_DOMAINS = 40


@dataclass
class Size:
    n_convs: int = 0  # batch corpus size
    poll_convs: int = 0  # stream: fresh conversations per timed poll
    preload_convs: int = 0  # stream: conversations of the warm-up poll


SIZES = {
    "batch_short": Size(n_convs=2_000),
    "batch_long": Size(n_convs=40),
    "stream_polls": Size(poll_convs=500, preload_convs=1000),
}


def triples_md5(rows) -> str:
    """Order-insensitive md5 of (conv_id, turn_idx, subj, pred, obj) rows."""
    h = hashlib.md5()
    for r in sorted("\t".join(str(v) for v in row) for row in rows):
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest()


def precision_recall(rows, gold: set) -> tuple[float, float]:
    got = {(r[0], r[2], r[3], r[4]) for r in rows}
    hit = len(got & gold)
    return hit / max(len(got), 1), hit / max(len(gold), 1)


@dataclass
class Unit:
    wall_s: float
    cpu_s: float
    convs: int
    triples: int
    md5: str


@dataclass
class Result:
    setup: dict = field(default_factory=dict)
    units: list[Unit] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    precision: float = 0.0
    recall: float = 0.0
    peak_rss_mb: float = 0.0
    layers: dict = field(default_factory=dict)
    spans: list = field(default_factory=list)

    def end_to_end(self) -> dict:
        med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731
        u = self.units
        setup_s = sum(self.setup.values())
        return {
            "setup_s": (setup_s, "s"),
            "wall_s": (med([x.wall_s for x in u]), "s"),
            "triples_per_s": (med([x.triples / x.wall_s for x in u]), "1/s"),
            "ingest_convs_per_s": (med([x.convs / x.wall_s for x in u]), "1/s"),
            "cpu_s": (med([x.cpu_s for x in u]), "s"),
            "triple_precision": (self.precision, "ratio"),
            "triple_recall": (self.recall, "ratio"),
        }


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name with its unit, in print order."""
    unit = lambda f: (  # noqa: E731
        "s" if f.endswith("_s") else "MB" if f.endswith("_mb")
        else "ratio" if f == "task_skew" else "count"
    )
    out = {}
    for s in STAGES:
        for f in STAGE_FIELDS + (PY_FIELDS if s in PY_STAGES else ()):
            out[f"stage.{s}.{f}"] = unit(f)
    out.update({
        "pipeline.protocol_s": "s", "pipeline.unstaged_s": "s",
        "linking.candidates_per_mention": "ratio",
        "coherence.links_per_candidate": "ratio",
        "setup.session_s": "s", "setup.warmup_s": "s",
        "setup.dictionary_s": "s", "setup.model_build_s": "s",
        "model.pickle_mb": "MB", "process.peak_rss_mb": "MB",
    })
    for f in POLL_FIELDS:
        out[f"poll.{f}"] = unit(f)
    out.update({"trace.wall_s": "s", "trace.overhead_s": "s"})
    return out


class Bench:
    def __init__(self, workload: str, seed: int, trace: bool, work: str):
        from careers_spark import synth

        self.synth = synth
        self.workload = workload
        self.size = SIZES[workload]
        self.seed = seed
        self.trace = trace
        self.work = work
        self.res = Result()
        self.md5: str | None = None  # of the first checked batch unit

    # -- setup --------------------------------------------------------------
    def setup(self) -> None:
        from careers_spark.operators.model import KGModel

        t0 = time.monotonic()
        self.spark = harness.start_session(self.work)
        t1 = time.monotonic()
        self.kb = self.synth.build_kb(N_DOMAINS, seed=self.seed)
        self.dict_dir = os.path.join(self.work, "dict")
        self.dict_out = self._dictionary()
        t2 = time.monotonic()
        self.model = KGModel.build(
            self.dict_out["dict_surface_forms"], self.dict_out["dict_context_vectors"]
        )
        t3 = time.monotonic()
        self.res.setup = {
            "session_s": t1 - t0, "dictionary_s": t2 - t1, "model_build_s": t3 - t2,
        }
        self.model_mb = len(pickle.dumps(self.model, pickle.HIGHEST_PROTOCOL)) / 1e6

    def _dictionary(self) -> dict:
        """Builds the dictionary tables, or reads them back when this run
        already built them (the stage protocol resumes from its markers)."""
        from careers_spark.plans.pipeline import KGPipeline

        raw = self.synth.kb_tables(self.spark, self.kb)
        return KGPipeline(self.spark, self.dict_dir).run_dictionary(raw).outputs

    def restart_traced(self) -> str:
        """Replace the session by one that writes the event log; the JVM
        and the model stay. The new context starts its own Python
        workers, which are warmed before the traced unit."""
        self.spark.stop()
        log_dir = os.path.join(self.work, "eventlog")
        self.spark = harness.start_session(self.work, event_log_dir=log_dir)
        harness.warm_workers(self.spark)
        self.dict_out = self._dictionary()
        return log_dir

    # -- measuring ----------------------------------------------------------
    def _attempt(self, fn, *args):
        """Run one unit under a job watchdog; a unit that raises or times
        out counts as failed and returns None."""
        self.res.attempted += 1
        sc = self.spark.sparkContext
        timer = threading.Timer(UNIT_TIMEOUT_S, sc.cancelAllJobs)
        timer.start()
        try:
            return fn(*args)
        except Exception:  # noqa: BLE001 - a failed unit is a result
            self.res.failed += 1
            traceback.print_exc(file=sys.stderr)
            return None
        finally:
            timer.cancel()

    def _measure(self, unit_fn) -> None:
        """Unit 0 warms the JVM and the workers up and counts in setup;
        units 1..TIMED_UNITS are the measured ones. The peak memory is
        read once they have all run."""
        t0 = time.monotonic()
        warm = self._attempt(unit_fn, 0)
        self.res.setup["warmup_s"] = warm.wall_s if warm else time.monotonic() - t0
        for i in range(1, 1 + TIMED_UNITS):
            u = self._attempt(unit_fn, i)
            if u is not None:
                self.res.units.append(u)
        self.res.peak_rss_mb = harness.tree_peak_rss_mb()

    def _check(self, rows, gold: set) -> str:
        p, r = precision_recall(rows, gold)
        self.res.precision, self.res.recall = p, r
        if p < MIN_PRECISION or r < MIN_RECALL:
            raise AssertionError(f"triples P={p:.4f} R={r:.4f} against the gold set")
        return triples_md5(rows)

    # -- batch ---------------------------------------------------------------
    def run_batch(self) -> None:
        from careers_spark.plans.pipeline import KGPipeline

        synth, n = self.synth, self.size.n_convs
        in_dir = os.path.join(self.work, "input")
        if self.workload == "batch_short":
            synth.gen_transcripts(self.spark, self.kb, n, seed=self.seed).write.parquet(in_dir)
            gold_rows = synth.gen_expected_triples_pdf(self.kb, n, seed=self.seed).itertuples(index=False)
        else:
            synth.gen_long_transcripts(self.spark, self.kb, n, seed=self.seed).write.parquet(in_dir)
            canon = self.kb.canonical_map()
            cyc = synth.LONG_TURN_CYCLE
            gold_rows = [
                g for i in range(n)
                for g in synth.gen_long_conv(self.kb.domains, canon, i, self.seed, cyc[i % len(cyc)])[1]
            ]
        gold = {(g[0], g[2], g[3], g[4]) for g in gold_rows}
        read_input = lambda: self.spark.read.parquet(in_dir)  # noqa: E731
        transcripts = read_input()

        def unit(i: int, tracer: T.Tracer | None = None):
            out = os.path.join(self.work, f"corpus{i}")
            cpu0, t0 = harness.tree_cpu_s(), time.monotonic()
            with tracer.span("corpus") if tracer else contextlib.nullcontext():
                run = KGPipeline(self.spark, out).run_corpus(
                    transcripts, self.dict_out, model=self.model
                )
            wall, cpu = time.monotonic() - t0, harness.tree_cpu_s() - cpu0
            rows = run.outputs["triples"].select(
                "conv_id", "turn_idx", "subj", "pred", "obj"
            ).collect()
            md5 = self._check(rows, gold)
            self.md5 = self.md5 or md5
            if md5 != self.md5:
                raise AssertionError(f"triples md5 {md5} != {self.md5} of the first unit")
            if tracer:
                self.last_run = run
            else:
                shutil.rmtree(out, ignore_errors=True)
            return Unit(wall, cpu, n, len(rows), md5)

        self._measure(unit)

        if self.trace:
            log_dir = self.restart_traced()
            transcripts = read_input()
            tracer = T.Tracer(self.spark, f"{self.workload}-{self.seed}")
            with tracer.install():
                traced = self._attempt(unit, 1 + TIMED_UNITS, tracer)
            if traced is not None:
                self._fold_batch(tracer, log_dir, traced.wall_s)

    def _fold_batch(self, tracer: T.Tracer, log_dir: str, traced_wall: float) -> None:
        from pyspark.sql import functions as F

        run = self.last_run
        rows = {s.name: s.rows for s in run.stages}
        links = run.outputs["resolved"].filter(F.col("kind") == "link").count()
        self.spark.stop()
        jobs, tasks = T.read_event_log(log_dir)
        spans = tracer.spans
        L = self.res.layers
        stage_sum = protocol = 0.0
        for s in STAGES:
            (sp,) = tracer.by_name(f"stage.{s}")
            js = T.jobs_of(sp, spans, jobs)
            m = T.task_metrics(js, tasks)
            m.update(wall_s=sp.wall_s, rows=rows[s])
            for f in STAGE_FIELDS + (PY_FIELDS if s in PY_STAGES else ()):
                L[f"stage.{s}.{f}"] = m[f]
            stage_sum += sp.wall_s
            protocol += sp.wall_s - T.busy_s(js)
        (flush,) = tracer.by_name("pipeline.lineage_flush")
        L["pipeline.protocol_s"] = protocol + flush.wall_s
        L["pipeline.unstaged_s"] = traced_wall - stage_sum
        L["linking.candidates_per_mention"] = rows["candidates"] / max(rows["mentions"], 1)
        L["coherence.links_per_candidate"] = links / max(rows["candidates"], 1)
        self._trace_common(traced_wall)
        self.res.spans = spans

    # -- stream --------------------------------------------------------------
    def run_stream(self) -> None:
        from pyspark.sql import functions as F

        from careers_spark.streaming import ingest

        synth, m, pre = self.synth, self.size.poll_convs, self.size.preload_convs
        # slice 0 is the warm-up poll; then the timed polls and the traced one
        bounds = [0, pre] + [pre + k * m for k in range(1, TIMED_UNITS + 2)]
        n_total = bounds[-1]
        all_dir = os.path.join(self.work, "corpus")
        synth.gen_transcripts(self.spark, self.kb, n_total, seed=self.seed).write.parquet(all_dir)
        gold_all = synth.gen_expected_triples_pdf(self.kb, n_total, seed=self.seed)
        in_dir = os.path.join(self.work, "stream_in")
        out_dir = os.path.join(self.work, "stream_out")
        ckpt = os.path.join(self.work, "stream_ckpt")
        cid = lambda i: f"conv{i:08d}"  # noqa: E731 - synth's conv_id format
        ranges = [(cid(a), cid(b)) for a, b in zip(bounds, bounds[1:])]
        # each poll's files are written before any timing starts, so a
        # timed poll delivers its slice by renaming files into in_dir
        slice_dirs = [os.path.join(self.work, f"slice{k}") for k in range(len(ranges))]
        corpus = self.spark.read.parquet(all_dir)
        for (lo, hi), d in zip(ranges, slice_dirs):
            corpus.filter((F.col("conv_id") >= lo) & (F.col("conv_id") < hi)).write.parquet(d)
        os.makedirs(in_dir)

        def poll(k: int, tracer: T.Tracer | None = None):
            lo, hi = ranges[k]
            in_range = (F.col("conv_id") >= lo) & (F.col("conv_id") < hi)
            cpu0, t0 = harness.tree_cpu_s(), time.monotonic()
            with tracer.span("poll") if tracer else contextlib.nullcontext():
                for f in os.listdir(slice_dirs[k]):
                    if f.endswith(".parquet"):
                        os.rename(os.path.join(slice_dirs[k], f), os.path.join(in_dir, f))
                q = ingest.stream_kg_incremental(
                    self.spark, in_dir, out_dir, ckpt, self.model.automaton,
                    self.dict_out["dict_surface_forms"], self.model.interned,
                    once=True,
                )
                done = q.awaitTermination(UNIT_TIMEOUT_S)
            wall, cpu = time.monotonic() - t0, harness.tree_cpu_s() - cpu0
            if not done:
                q.stop()
                raise TimeoutError(f"poll {k} did not finish in {UNIT_TIMEOUT_S}s")
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
            self._check_registry(out_dir, {cid(i) for i in range(bounds[k + 1])})
            rows = (
                self.spark.read.parquet(os.path.join(out_dir, "resolved"))
                .filter((F.col("kind") == "triple") & in_range)
                .selectExpr("conv_id", "turn_idx", "topic as subj", "pred", "obj")
                .collect()
            )
            gold = {
                (g.conv_id, g.subj, g.pred, g.obj)
                for g in gold_all.itertuples(index=False)
                if lo <= g.conv_id < hi
            }
            md5 = self._check(rows, gold)
            return Unit(wall, cpu, bounds[k + 1] - bounds[k], len(rows), md5)

        self._measure(poll)

        if self.trace:
            log_dir = self.restart_traced()
            tracer = T.Tracer(self.spark, f"{self.workload}-{self.seed}")
            with tracer.install():
                traced = self._attempt(poll, 1 + TIMED_UNITS, tracer)
            if traced is not None:
                self._fold_stream(tracer, log_dir, out_dir, traced.wall_s)

    def _check_registry(self, out_dir: str, delivered: set) -> None:
        """Each delivered conversation is in the processed registry
        exactly once."""
        ids = [
            r.conv_id for r in
            self.spark.read.parquet(os.path.join(out_dir, "processed")).select("conv_id").collect()
        ]
        if len(ids) != len(delivered) or set(ids) != delivered:
            raise AssertionError(
                f"processed registry holds {len(ids)} rows, {len(set(ids))} "
                f"conv_ids, for {len(delivered)} delivered conversations"
            )

    def _fold_stream(self, tracer: T.Tracer, log_dir: str, out_dir: str, traced_wall: float) -> None:
        from pyspark.sql import functions as F

        # a poll may run more than one micro-batch (the watermark's
        # no-data batch comes on top of the data batch)
        epochs = [s.attrs["epoch"] for s in tracer.by_name("poll.sink")]
        count = lambda store, cond=F.lit(True): (  # noqa: E731
            self.spark.read.parquet(os.path.join(out_dir, store)).filter(cond).count()
        )
        L = self.res.layers
        L["poll.resolved_rows"] = count("resolved", F.col("epoch").isin(epochs))
        L["poll.match_rows"] = count("matches", F.col("epoch").isin(epochs))
        L["poll.digest_store_rows"] = count("digests")
        self.spark.stop()
        jobs, tasks = T.read_event_log(log_dir)
        spans = tracer.spans
        (root,) = tracer.by_name("poll")
        sink_s = sum(s.wall_s for s in tracer.by_name("poll.sink"))
        m = T.task_metrics(T.jobs_of(root, spans, jobs), tasks)
        L["poll.sink_s"] = sink_s
        L["poll.stream_overhead_s"] = traced_wall - sink_s
        for f in ("task_run_s", "shuffle_write_mb", "py_sent_mb"):
            L[f"poll.{f}"] = m[f]
        self._trace_common(traced_wall)
        self.res.spans = spans

    def _trace_common(self, traced_wall: float) -> None:
        L = self.res.layers
        for k, v in self.res.setup.items():
            L[f"setup.{k}"] = v
        L["model.pickle_mb"] = self.model_mb
        L["process.peak_rss_mb"] = self.res.peak_rss_mb
        L["trace.wall_s"] = traced_wall
        # against the last untraced unit: both ran on a warmed-up JVM
        if self.res.units:
            L["trace.overhead_s"] = traced_wall - self.res.units[-1].wall_s

    def run(self) -> Result:
        self.setup()
        if self.workload == "stream_polls":
            self.run_stream()
        else:
            self.run_batch()
        if self.trace:
            names = per_layer_units()
            self.res.layers = {k: float(self.res.layers.get(k, 0.0)) for k in names}
        return self.res
