"""End-to-end incremental run — the WebCVProcess polling-loop analogue
(reference: applications/WebCVProcess.scala:300-333) driven as two
Structured-Streaming micro-batches over stream_kg_incremental:

  - batch 2 must touch ONLY conv_ids fresh in batch 2 (the freshness
    gate = the reference's max-id cursor, :215-219);
  - the union of both batches' resolved triples must be IDENTICAL to a
    cold batch run over the full corpus;
  - the union of both batches' incremental matches must equal the cold
    all-pairs digest similarity at the same threshold (all x new per
    poll covers every unordered pair exactly once over two polls);
  - the two polls' triples equal a batch KGPipeline run over the same
    conversations;
  - the query is stateless: one micro-batch per poll, no conversation
    lost for arriving after newer ones, duplicate turns within a batch
    resolved once, and each sink call within its job budget;
  - each epoch's vector ids are dense in conv_id order past the
    previous max.
"""

import pytest

from careers_spark import synth
from careers_spark.operators import coherence as CO
from careers_spark.operators.digests import digest_similarity, document_digests
from careers_spark.operators.model import KGModel
from careers_spark.plans.pipeline import (
    KGPipeline,
    checkpoint_stage,
    dictionary_phase,
    link_and_resolve,
)
from careers_spark.streaming import ingest

N_CONVS = 24
MIN_SIM = 0.1


@pytest.fixture(scope="module")
def corpus(spark):
    kb = synth.build_kb(8)
    built = dictionary_phase(checkpoint_stage, synth.kb_tables(spark, kb))
    sf = built["dict_surface_forms"]
    ctx = built["dict_context_vectors"]
    transcripts = synth.gen_transcripts(spark, kb, N_CONVS).localCheckpoint(
        eager=True
    )
    return sf, ctx, transcripts, KGModel.build(sf, ctx), kb


def _poll(spark, corpus, tmp_path, frame) -> str:
    """Deliver `frame` to the stream's input directory and run
    stream_kg_incremental until it has processed everything delivered.
    Returns the out_dir."""
    sf, ctx, _, model, _ = corpus
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    frame.write.mode("append").parquet(in_dir)
    q = ingest.stream_kg_incremental(
        spark,
        in_dir,
        out_dir,
        str(tmp_path / "ckpt"),
        model.automaton,
        sf,
        ctx,
        once=True,
        min_similarity=MIN_SIM,
    )
    q.awaitTermination(300)
    return out_dir


def _halves(transcripts):
    """Sorted conv_ids and the set of the first half of them."""
    convs = sorted(r.conv_id for r in transcripts.select("conv_id").distinct().collect())
    return convs, set(convs[: len(convs) // 2])


def _two_polls(spark, corpus, tmp_path):
    """Poll 1 delivers the first half of the conversations; poll 2
    re-delivers the full corpus (the second half is fresh, the first
    half must be gated away). Returns (out_dir, first-half conv_ids)."""
    from pyspark.sql import functions as F

    transcripts = corpus[2]
    _, half = _halves(transcripts)
    _poll(spark, corpus, tmp_path, transcripts.filter(F.col("conv_id").isin(list(half))))
    return _poll(spark, corpus, tmp_path, transcripts), half


@pytest.fixture(scope="module")
def two_polls(spark, corpus, tmp_path_factory):
    """One `_two_polls` run shared by the tests that only read its
    stores."""
    return _two_polls(spark, corpus, tmp_path_factory.mktemp("two_polls"))


def test_two_batch_incremental_equals_cold_run(spark, corpus, two_polls):
    sf, ctx, transcripts, model, _ = corpus
    convs = sorted(r.conv_id for r in transcripts.select("conv_id").distinct().collect())
    out_dir, half = two_polls

    # -- the gate: batch 2 processed only fresh conv_ids -------------------
    processed = spark.read.parquet(f"{out_dir}/processed").collect()
    by_epoch: dict[int, set] = {}
    for r in processed:
        by_epoch.setdefault(r.epoch, set()).add(r.conv_id)
    assert len(processed) == len(convs)  # each conversation exactly once
    epochs = sorted(by_epoch)
    assert len(epochs) == 2
    assert by_epoch[epochs[0]] == half
    assert by_epoch[epochs[1]] == set(convs) - half

    # -- resolved triples identical to a cold batch run --------------------
    cold = link_and_resolve(checkpoint_stage, transcripts, sf, model)
    inc = spark.read.parquet(f"{out_dir}/resolved")
    cols = cold.columns
    assert inc.select(cols).exceptAll(cold).isEmpty()
    assert cold.exceptAll(inc.select(cols)).isEmpty()

    # -- matches identical to the cold all-pairs digest similarity ---------
    dg_store = spark.read.parquet(f"{out_dir}/digests")
    id_of = {
        r.conv_id: r.vec_id
        for r in dg_store.select("conv_id", "vec_id").distinct().collect()
    }
    assert len(id_of) == len(set(id_of.values()))  # vec ids unique
    got = {
        (min(r.id_a, r.id_b), max(r.id_a, r.id_b)): r.similarity
        for r in spark.read.parquet(f"{out_dir}/matches").collect()
    }
    cold_dg = document_digests(CO.links_of(cold))
    want = {}
    for r in digest_similarity(cold_dg, min_similarity=MIN_SIM).collect():
        a, b = id_of[r.conv_a], id_of[r.conv_b]
        want[(min(a, b), max(a, b))] = r.similarity
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k] - want[k]) < 1e-6


def test_two_polls_equal_batch_pipeline(spark, corpus, tmp_path, two_polls):
    """The streaming sink and KGPipeline.run_corpus share one
    link-and-resolve composition; over the same synth conversations the
    two polls' triples equal the batch run's (TF-IDF on in batch: the
    synth turns hold no context-name words, so it is the identity)."""
    _, _, transcripts, _, kb = corpus
    out_dir, _ = two_polls
    cols = ["conv_id", "turn_idx", "subj", "pred", "obj"]
    stream = {
        tuple(r)
        for r in spark.read.parquet(f"{out_dir}/resolved")
        .filter("kind = 'triple'")
        .selectExpr("conv_id", "turn_idx", "topic as subj", "pred", "obj")
        .collect()
    }
    run = KGPipeline(spark, str(tmp_path / "batch")).run(
        transcripts, synth.kb_tables(spark, kb)
    )
    batch = {tuple(r) for r in run.outputs["triples"].select(cols).collect()}
    assert batch  # non-trivial corpus
    assert stream == batch


def test_replay_is_idempotent(spark, corpus, tmp_path):
    """Exactly-once: replaying a batch from ANY partially-written state
    (the streaming checkpoint replays a failed batch whole) converges to
    the same store contents — per-epoch overwrite writes + gate-written-
    last + epoch-excluding reads (r4 ADVICE medium)."""
    import shutil

    from pyspark.sql import functions as F

    sf, ctx, transcripts, model, _ = corpus
    convs = sorted(
        r.conv_id for r in transcripts.select("conv_id").distinct().collect()
    )
    half = set(convs[: len(convs) // 2])
    out_dir = str(tmp_path / "out")
    sink = ingest.make_incremental_sink(
        spark, out_dir, model.automaton, sf, ctx, min_similarity=MIN_SIM
    )
    b1 = transcripts.filter(F.col("conv_id").isin(list(half)))
    b2 = transcripts  # full corpus re-delivered; second half is fresh

    def snapshot():
        return {
            store: sorted(
                spark.read.parquet(f"{out_dir}/{store}").collect(), key=repr
            )
            for store in ("resolved", "digests", "matches", "processed")
        }

    sink(b1, 0)
    sink(b2, 1)
    want = snapshot()
    assert want["resolved"]  # non-trivial corpus

    # full replay of the last epoch: byte-identical, no duplicates
    sink(b2, 1)
    assert snapshot() == want

    # crash AFTER the data writes but BEFORE the gate write: the replay
    # must not be gated away by a stale registry (none exists) and must
    # overwrite, not duplicate, the epoch's data rows
    shutil.rmtree(f"{out_dir}/processed/epoch=1")
    sink(b2, 1)
    assert snapshot() == want

    # crash after the resolved write only — the r4 ADVICE scenario that
    # used to permanently lose the batch's digests and matches: replay
    # must restore them with the SAME vec_ids (prev_max excludes the
    # replayed epoch) and leave resolved duplicate-free
    for store in ("digests", "matches", "processed"):
        shutil.rmtree(f"{out_dir}/{store}/epoch=1")
    sink(b2, 1)
    assert snapshot() == want


def test_zero_hit_batch_does_not_poison_stores(spark, corpus, tmp_path):
    """A batch whose conversations contain no dictionary hits must flow
    through (registry written, no data rows) and must NOT leave the
    stores unreadable for later batches: empty outputs are skipped, so
    no epoch dir holds only a _SUCCESS marker, and an all-empty store
    reads as 'no data yet' rather than a schema-inference error."""
    from pyspark.sql import functions as F

    sf, ctx, transcripts, model, _ = corpus
    out_dir = str(tmp_path / "out")
    sink = ingest.make_incremental_sink(
        spark, out_dir, model.automaton, sf, ctx, min_similarity=MIN_SIM
    )
    # batch 0: same schema, filler-only text -> zero mentions
    blank = transcripts.limit(40).withColumn(
        "text", F.lit("nothing relevant here at all")
    ).localCheckpoint(eager=True)
    sink(blank, 0)
    processed = spark.read.parquet(f"{out_dir}/processed")
    assert processed.filter("epoch = 0").count() > 0
    import os

    assert not os.path.exists(f"{out_dir}/resolved")  # skipped, not empty-written

    # batch 1: real content must process normally on top of the
    # all-empty data stores
    sink(transcripts, 1)
    assert spark.read.parquet(f"{out_dir}/resolved").count() > 0
    assert spark.read.parquet(f"{out_dir}/digests").count() > 0


def test_one_micro_batch_per_poll(spark, two_polls):
    """The query is stateless: no watermark no-data batch follows a
    poll's data batch, so two polls write epochs 0 and 1."""
    out_dir, _ = two_polls
    epochs = spark.read.parquet(f"{out_dir}/processed").select("epoch").distinct()
    assert sorted(r.epoch for r in epochs.collect()) == [0, 1]


def test_vec_ids_dense_in_conv_id_order(spark, corpus, tmp_path):
    """Each epoch numbers the conversations it digests prev_max+1 ...
    prev_max+n in conv_id order, prev_max the largest id of the earlier
    epochs, and a replay of the last epoch keeps those ids. The fixture
    session's 8 cores spread the ranking over several range partitions,
    so a wrong partition offset shows as a gap, an overlap or a
    reordering. Three polls, each delivering a third more of the
    corpus, then the last one replayed."""
    from pyspark.sql import functions as F

    sf, ctx, transcripts, model, _ = corpus
    convs, _ = _halves(transcripts)
    sink = ingest.make_incremental_sink(
        spark, str(tmp_path / "out"), model.automaton, sf, ctx, min_similarity=MIN_SIM
    )
    third = len(convs) // 3
    for ep, n in enumerate((third, 2 * third, len(convs))):
        sink(transcripts.filter(F.col("conv_id").isin(convs[:n])), ep)
    sink(transcripts, 2)

    assert spark.sparkContext.defaultParallelism > 1
    by_epoch: dict[int, list] = {}
    for r in (
        spark.read.parquet(str(tmp_path / "out" / "digests"))
        .select("epoch", "conv_id", "vec_id")
        .distinct()
        .collect()
    ):
        by_epoch.setdefault(r.epoch, []).append((r.conv_id, r.vec_id))
    assert sorted(by_epoch) == [0, 1, 2]
    prev_max = 0
    for ep in sorted(by_epoch):
        ids = [vec_id for _, vec_id in sorted(by_epoch[ep])]
        assert ids == list(range(prev_max + 1, prev_max + len(ids) + 1)), ep
        prev_max = ids[-1]


def test_late_conversations_are_resolved(spark, corpus, tmp_path):
    """Conversations delivered after newer ones are not lost: synth
    spaces conversations an hour apart, so every turn of the first half
    is older than the newest turn of the second half. Polling the second
    half first, then the first half, registers every conversation
    exactly once and resolves the same triples as one pass over the
    whole corpus."""
    from pyspark.sql import functions as F

    sf, _, transcripts, model, _ = corpus
    convs, half = _halves(transcripts)
    first = F.col("conv_id").isin(list(half))
    _poll(spark, corpus, tmp_path, transcripts.filter(~first))
    out_dir = _poll(spark, corpus, tmp_path, transcripts.filter(first))

    processed = [r.conv_id for r in spark.read.parquet(f"{out_dir}/processed").collect()]
    assert sorted(processed) == convs
    cold = link_and_resolve(checkpoint_stage, transcripts, sf, model)
    inc = spark.read.parquet(f"{out_dir}/resolved").select(cold.columns)
    assert inc.exceptAll(cold).isEmpty()
    assert cold.exceptAll(inc).isEmpty()


def test_within_batch_duplicate_turns_resolve_once(spark, corpus, tmp_path):
    """The sink dedups turn keys within its batch: a batch holding every
    row twice writes the same four stores as the rows once."""
    sf, ctx, transcripts, model, _ = corpus

    def stores(name, batch):
        out_dir = str(tmp_path / name)
        sink = ingest.make_incremental_sink(
            spark, out_dir, model.automaton, sf, ctx, min_similarity=MIN_SIM
        )
        sink(batch, 0)
        return {
            store: sorted(spark.read.parquet(f"{out_dir}/{store}").collect(), key=repr)
            for store in ("resolved", "digests", "matches", "processed")
        }

    once = stores("once", transcripts)
    assert once["resolved"] and once["matches"]  # non-trivial corpus
    assert stores("twice", transcripts.unionByName(transcripts)) == once


# Spark jobs per sink call over the module corpus: the first poll (half
# the conversations, empty stores) and the second (the full corpus
# re-delivered, half of it gated away), as counted once the sink read
# the earlier digests without materializing them and matched all x new.
# Upper bounds that record a count, not a target: a change may add jobs
# and still cut the wall. A change that adds a job raises the bound and
# says why.
POLL_JOB_BUDGET = (41, 49)


def test_poll_job_budget(spark, corpus, tmp_path):
    """Each of two sink calls runs within its job budget."""
    from pyspark.sql import functions as F

    sf, ctx, transcripts, model, _ = corpus
    _, half = _halves(transcripts)
    sink = ingest.make_incremental_sink(
        spark, str(tmp_path / "out"), model.automaton, sf, ctx, min_similarity=MIN_SIM
    )
    sc = spark.sparkContext
    polls = (transcripts.filter(F.col("conv_id").isin(list(half))), transcripts)
    for ep, batch in enumerate(polls):
        sc.setJobGroup(f"poll-budget-{ep}", f"poll {ep}")
        try:
            sink(batch, ep)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    jobs = tuple(len(tracker.getJobIdsForGroup(f"poll-budget-{ep}")) for ep in range(2))
    assert all(n <= bound for n, bound in zip(jobs, POLL_JOB_BUDGET)), jobs
