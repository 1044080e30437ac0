"""End-to-end gates: triple P/R (the analogue of the 42-case golden
corpus assert), resume, and the per-turn determinism invariant from
BASELINE.json's input_hint."""

import os
import re

import pandas as pd
import pytest

from careers_spark import schema as S
from careers_spark import synth
from careers_spark.plans.pipeline import KGPipeline

N_CONVS = 60
N_DOMAINS = 16


@pytest.fixture(scope="module")
def kb():
    return synth.build_kb(N_DOMAINS)


def test_triple_pr_gate(spark, kb, work_dir):
    transcripts = spark.createDataFrame(
        synth.gen_transcripts_pdf(kb, N_CONVS), schema=S.TRANSCRIPTS
    )
    expected = spark.createDataFrame(synth.gen_expected_triples_pdf(kb, N_CONVS))
    run = KGPipeline(spark, work_dir).run(transcripts, synth.kb_tables(spark, kb))
    got = run.outputs["triples"].select("conv_id", "subj", "pred", "obj").distinct()
    exp = expected.select("conv_id", "subj", "pred", "obj").distinct()
    tp = got.intersect(exp).count()
    fp = got.exceptAll(exp).count()
    fn = exp.exceptAll(got).count()
    precision = tp / max(tp + fp, 1)
    recall = tp / max(tp + fn, 1)
    assert precision >= 0.95, f"precision {precision} (tp={tp} fp={fp})"
    assert recall >= 0.95, f"recall {recall} (tp={tp} fn={fn})"


def test_resume_skips_stages(spark, kb, work_dir):
    transcripts = spark.createDataFrame(
        synth.gen_transcripts_pdf(kb, 10), schema=S.TRANSCRIPTS
    )
    raw = synth.kb_tables(spark, kb)
    r1 = KGPipeline(spark, work_dir).run(transcripts, raw)
    n1 = r1.outputs["triples"].count()
    r2 = KGPipeline(spark, work_dir).run(transcripts, raw)
    assert all(s.resumed for s in r2.stages)
    assert r2.outputs["triples"].count() == n1


def test_lineage_written(spark, kb, work_dir):
    """Lineage rows keep their schema, checksum stays null without
    checksums=True, and a flush appends to a _lineage directory an
    earlier run left (here one written from a plain row list)."""
    transcripts = spark.createDataFrame(
        synth.gen_transcripts_pdf(kb, 5), schema=S.TRANSCRIPTS
    )
    spark.createDataFrame(
        [("old-part.parquet", 7, None, "old_stage")],
        schema="file string, rows_out long, checksum long, stage string",
    ).write.parquet(f"{work_dir}/_lineage")
    run = KGPipeline(spark, work_dir).run(transcripts, synth.kb_tables(spark, kb))
    lin = spark.read.parquet(f"{work_dir}/_lineage")
    assert lin.schema.simpleString() == (
        "struct<file:string,rows_out:bigint,checksum:bigint,stage:string>"
    )
    rows = lin.collect()
    assert [tuple(r) for r in rows if r.stage == "old_stage"] == [
        ("old-part.parquet", 7, None, "old_stage")
    ]
    assert all(r.checksum is None for r in rows)
    total = sum(r.rows_out for r in rows if r.stage == "mentions")
    assert total == run.outputs["mentions"].count()


def test_lineage_survives_failed_run(spark, kb, tmp_path, monkeypatch):
    """A stage that raises must not lose the lineage rows of the stages
    that finished before it: they keep their _DONE markers, so the
    resume skips them and could never record those rows itself."""
    from careers_spark.operators import coherence as CO

    transcripts = spark.createDataFrame(
        synth.gen_transcripts_pdf(kb, 5), schema=S.TRANSCRIPTS
    )
    raw = synth.kb_tables(spark, kb)
    work = str(tmp_path / "w")

    def fail(*args, **kwargs):
        raise RuntimeError("resolve failed")

    with monkeypatch.context() as m:
        m.setattr(CO, "resolve", fail)
        with pytest.raises(RuntimeError, match="resolve failed"):
            KGPipeline(spark, work).run(transcripts, raw)
    run = KGPipeline(spark, work).run(transcripts, raw)
    assert run.outputs["triples"].count() > 0
    lin = spark.read.parquet(f"{work}/_lineage").select("stage").distinct()
    assert {r.stage for r in lin.collect()} == {s.name for s in run.stages}


def test_model_cache_write_is_atomic(tmp_path, monkeypatch):
    """A pickle dump that fails partway leaves no cache file behind
    (a truncated model.pkl would fail every later build_or_load), and a
    failed rewrite keeps the previous cache intact."""
    import pickle

    from careers_spark.operators import model as MD

    path = tmp_path / "dict" / "model.pkl"
    good = MD.KGModel(None, ["a"], ["T:a"], None)

    def partial_dump(obj, f, protocol=None):
        f.write(b"\x80\x05partial")
        raise OSError("disk full")

    with monkeypatch.context() as m:
        m.setattr(MD.pickle, "dump", partial_dump)
        with pytest.raises(OSError, match="disk full"):
            good.save(str(path))
    assert os.listdir(path.parent) == []

    good.save(str(path))
    with monkeypatch.context() as m:
        m.setattr(MD.pickle, "dump", partial_dump)
        with pytest.raises(OSError, match="disk full"):
            MD.KGModel(None, ["b"], ["T:b"], None).save(str(path))
    assert os.listdir(path.parent) == ["model.pkl"]
    assert MD.KGModel.load(str(path)) == good


def test_per_turn_determinism_across_parallelism(spark, kb):
    """Per-row invariant from input_hint: per-turn text equality under
    stable (conv_id, turn_idx) ordering, at two parallelism levels."""
    a = synth.gen_transcripts(spark, kb, 40, parallelism=2)
    b = synth.gen_transcripts(spark, kb, 40, parallelism=32)
    joined = a.alias("a").join(b.alias("b"), ["conv_id", "turn_idx"], "full")
    mismatches = joined.filter("a.text IS DISTINCT FROM b.text").count()
    assert mismatches == 0


def test_pipeline_output_determinism(spark, kb, tmp_path):
    """Same corpus, two different input partitionings -> identical
    triple sets and resolved rows (ordering discipline holds under
    re-partitioning). Resolved scores may differ in the last bits: the
    TF-IDF sums run in shuffle order."""
    transcripts = spark.createDataFrame(
        synth.gen_transcripts_pdf(kb, 15), schema=S.TRANSCRIPTS
    )
    raw = synth.kb_tables(spark, kb)
    r1 = KGPipeline(spark, str(tmp_path / "w1")).run(
        transcripts.repartition(2, "conv_id"), raw
    )
    r2 = KGPipeline(spark, str(tmp_path / "w2")).run(
        transcripts.repartition(17, "conv_id"), raw
    )
    t1 = r1.outputs["triples"].select("conv_id", "turn_idx", "subj", "pred", "obj")
    t2 = r2.outputs["triples"].select("conv_id", "turn_idx", "subj", "pred", "obj")
    assert t1.exceptAll(t2).count() == 0
    assert t2.exceptAll(t1).count() == 0

    def resolved(run):
        rows = [r.asDict() for r in run.outputs["resolved"].collect()]
        return sorted(rows, key=lambda r: repr([v for k, v in r.items() if k != "score"]))

    res1, res2 = resolved(r1), resolved(r2)
    assert res1 and len(res1) == len(res2)
    for a, b in zip(res1, res2):
        sa, sb = a.pop("score"), b.pop("score")
        assert a == b
        assert sa == pytest.approx(sb, rel=1e-12, abs=0)


def test_tfidf_pipeline_preserves_pr(spark, kb, tmp_path):
    """TF-IDF context-cosine enabled end-to-end leaves the synth
    corpus's triple set unchanged. The scores themselves are checked
    against the Spark formulation in
    test_tfidf_linking.py::test_run_corpus_scores_match_oracle."""
    transcripts = spark.createDataFrame(
        synth.gen_transcripts_pdf(kb, 15), schema=S.TRANSCRIPTS
    )
    raw = synth.kb_tables(spark, kb)
    p1 = KGPipeline(spark, str(tmp_path / "a"))
    d1 = p1.run_dictionary(raw)
    r_base = p1.run_corpus(transcripts, d1.outputs, tfidf=False)
    assert "candidates" not in r_base.outputs  # the base side links on priors
    p2 = KGPipeline(spark, str(tmp_path / "b"))
    d = p2.run_dictionary(raw)
    r_tfidf = p2.run_corpus(transcripts, d.outputs, tfidf=True)
    assert "candidates" in r_tfidf.outputs
    t1 = r_base.outputs["triples"].select("conv_id", "subj", "pred", "obj")
    t2 = r_tfidf.outputs["triples"].select("conv_id", "subj", "pred", "obj")
    assert t1.exceptAll(t2).count() == 0
    assert t2.exceptAll(t1).count() == 0


def test_lineage_checksums(spark, kb, tmp_path):
    transcripts = spark.createDataFrame(
        synth.gen_transcripts_pdf(kb, 5), schema=S.TRANSCRIPTS
    )
    raw = synth.kb_tables(spark, kb)
    KGPipeline(spark, str(tmp_path / "w"), checksums=True).run(transcripts, raw)
    lin = spark.read.parquet(str(tmp_path / "w" / "_lineage"))
    rows = lin.filter("stage = 'mentions'").collect()
    assert rows and all(r.checksum is not None for r in rows)


def test_build_or_load_rebuilds_v4_model(spark, kb, tmp_path):
    """A cached VERSION-4 model (no topic term vectors) is rebuilt, not
    loaded: TF-IDF linking reads the term vectors from the model."""
    from careers_spark.operators.model import KGModel

    d = KGPipeline(spark, str(tmp_path / "w")).run_dictionary(synth.kb_tables(spark, kb))
    sf, cv = d.outputs["dict_surface_forms"], d.outputs["dict_context_vectors"]
    path = str(tmp_path / "model.pkl")
    old = KGModel.build(sf, cv)
    old.topic_terms, old.version = None, 4
    old.save(path)
    m = KGModel.build_or_load(sf, cv, path)
    assert m.version == KGModel.VERSION == 5
    assert m.topic_terms is not None and m.topic_terms.terms
    assert KGModel.load(path).topic_terms is not None


def test_model_build_heap_guard(spark):
    """Oversized broadcast dims must raise BEFORE the driver collect
    (SURVEY §4 heap-guard row; reference floor-check at
    WordInTopicCount.scala:19-25)."""
    import pandas as pd
    import pytest

    from careers_spark.operators.model import KGModel

    sf = spark.createDataFrame(
        pd.DataFrame({"surface": ["a"], "topic": ["Main:A"], "prior": [1.0]})
    )
    cv = spark.createDataFrame(
        pd.DataFrame(
            {
                "topic": ["Main:A", "Main:B"],
                "ctx_ids": [["x"], ["y"]],
                "ctx_ws": [[0.1], [0.2]],
            }
        )
    )
    old = KGModel.MAX_CONTEXT_TOPICS
    KGModel.MAX_CONTEXT_TOPICS = 1
    try:
        with pytest.raises(MemoryError):
            KGModel.build(sf, cv)
    finally:
        KGModel.MAX_CONTEXT_TOPICS = old


def test_name_universes_bounded_collect(spark, monkeypatch):
    """The (surface, topic) pairs come back in one bounded collect: a
    dictionary of exactly the bound's distinct pairs passes, one more
    pair than the bound raises."""
    from careers_spark.operators import model as MD

    sf = spark.createDataFrame(
        pd.DataFrame(
            {
                "surface": ["a", "a", "b", "a"],
                "topic": ["Main:A", "Main:B", "Main:A", "Main:A"],
                "prior": [0.5, 0.5, 1.0, 0.5],
            }
        )
    )
    monkeypatch.setattr(MD, "_MAX_NAME_PAIRS", 3)
    assert MD.name_universes(sf) == (["a", "b"], ["Main:A", "Main:B"])
    monkeypatch.setattr(MD, "_MAX_NAME_PAIRS", 2)
    with pytest.raises(MemoryError):
        MD.name_universes(sf)


def test_empty_stage_output_records_zero_rows(spark, tmp_path):
    """A legitimately empty stage output (only _SUCCESS, no part files)
    records rows=0 in lineage instead of crashing the pipeline — the
    n_files==0 RuntimeError fires only when the _SUCCESS marker is
    missing too (r4 ADVICE low)."""
    from careers_spark.plans.pipeline import KGPipeline, PipelineRun

    p = KGPipeline(spark, str(tmp_path / "w"))
    run = PipelineRun()
    out = p.stage(run, "empty_stage", lambda: spark.range(1).filter("id < 0"))
    assert out.count() == 0
    assert run.stages[-1].rows == 0
    assert not run.stages[-1].resumed


# Spark jobs per corpus stage of run_corpus (TF-IDF on) over the smoke
# corpus (tools/smoke.py: 20 conversations, 8 domains), as counted when
# the mention scan became each turn's one token pass. Upper bounds: a
# change that adds a job to a stage raises its bound and says why.
JOB_BUDGET = {
    "transcripts": 1,
    "mentions": 1,
    "turn_terms": 1,
    "word_doc_freq": 2,
    "candidates": 4,
    "resolved": 7,
    "triples": 2,
    "nodes": 4,
    "edges": 2,
}


def _explain(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _cogroup_inputs(df) -> list[list[str]]:
    """Column names of each input of the plan's pandas cogroup."""
    seq = lambda s: [s.apply(i) for i in range(s.size())]  # noqa: E731
    stack = [df._jdf.queryExecution().sparkPlan()]
    while stack:
        node = stack.pop()
        children = seq(node.children())
        if node.nodeName() == "FlatMapCoGroupsInPandas":
            return [[a.name() for a in seq(c.output())] for c in children]
        stack.extend(children)
    raise AssertionError("no pandas cogroup in the plan")


def test_run_corpus_job_budget(spark, tmp_path, monkeypatch):
    """Each corpus stage runs within its job budget, turn_terms is a
    read of the scan's term rows with no Python in its plan, and no
    turn text reaches the resolve cogroup."""
    kb = synth.build_kb(8)
    transcripts = spark.createDataFrame(
        synth.gen_transcripts_pdf(kb, 20), schema=S.TRANSCRIPTS
    )
    pipe = KGPipeline(spark, str(tmp_path))
    d = pipe.run_dictionary(synth.kb_tables(spark, kb))

    sc = spark.sparkContext
    frames = {}
    stage = KGPipeline.stage

    def tagged_stage(pipe, run, name, compute, partition_by=None):
        def keep():
            frames[name] = compute()
            return frames[name]

        group = f"job-budget-{name}"
        sc.setJobGroup(group, name)
        try:
            return stage(pipe, run, name, keep, partition_by)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    monkeypatch.setattr(KGPipeline, "stage", tagged_stage)
    run = pipe.run_corpus(transcripts, d.outputs)
    tracker = sc.statusTracker()
    jobs = {s: len(tracker.getJobIdsForGroup(f"job-budget-{s}")) for s in JOB_BUDGET}
    assert [s.name for s in run.stages if s.name in JOB_BUDGET] == list(JOB_BUDGET)
    assert all(jobs[s] <= JOB_BUDGET[s] for s in JOB_BUDGET), jobs

    terms_plan = _explain(frames["turn_terms"])
    assert "ArrowEvalPython" not in terms_plan
    assert "BatchEvalPython" not in terms_plan
    assert "MapInPandas" not in terms_plan
    assert re.search(r"PartitionFilters: \[.*\(kind#\d+ = term\)", terms_plan)

    inputs = _cogroup_inputs(frames["resolved"])
    assert len(inputs) == 2
    assert all("text" not in cols for cols in inputs), inputs
