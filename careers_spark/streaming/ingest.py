"""Structured-Streaming ingest for the transcripts table.

The reference has no streaming — its closest analogue is the polling
batch worker with max-id cursors (reference:
applications/WebCVProcess.scala:213-298), which dedups by its cursor
alone. The Spark-native equivalent is `stream_kg_incremental`: a
stateless `readStream` over the transcripts location feeding a
`foreachBatch` incremental KG construction. Each poll runs the batch
pipeline's own link-and-resolve composition
(careers_spark.plans.pipeline.link_and_resolve: mentions -> coded
candidates -> coherence resolve) over its fresh conversations —
coherence needs the whole conversation, and a conversation arrives
whole within one poll. It links without TF-IDF; why is stated once, in
link_and_resolve's docstring.

The stream's only dedup lives in the sink: (conv_id, turn_idx) keys
within the micro-batch, then the processed registry (the reference's
cursor) across epochs. There is no watermark, so no turn is dropped for
lateness, and no state store, so a poll is one micro-batch.

Also provides the generic streaming operators `dedup_late_turns`
(watermark + key de-dup) and a per-window turn-rate aggregate as the
monitoring query (tumbling window + watermark).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from careers_spark import schema as S


def read_transcript_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 16
) -> DataFrame:
    return (
        spark.readStream.format("parquet")
        .schema(S.TRANSCRIPTS)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .load(path)
    )


def dedup_late_turns(stream: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Exactly-once turn stream: watermark + key de-dup.

    State size is bounded by the watermark horizon — at 10^12-turn scale
    the (conv_id, turn_idx) de-dup state holds only the horizon's keys.
    """
    return stream.withWatermark("ts", watermark).dropDuplicates(
        ["conv_id", "turn_idx"]
    )


def turn_rate_by_window(stream: DataFrame, window: str = "5 minutes") -> DataFrame:
    """Monitoring aggregate: turns per tumbling event-time window per
    role, with watermarked late-data handling."""
    return (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", window), "role")
        .agg(F.count("*").alias("n_turns"))
        .select("window", "role", "n_turns")
    )


def _read_store(spark: SparkSession, path: str) -> DataFrame | None:
    """Read a per-epoch partitioned store; None only when the path does
    not exist yet (the first poll). Genuine IO errors PROPAGATE so the
    micro-batch retries instead of treating the whole history as fresh
    and corrupting the stores (r4 ADVICE: the old bare `except` made a
    transient read hiccup reset prev_max to 0 and re-resolve
    everything)."""
    from pyspark.errors import AnalysisException

    try:
        return spark.read.parquet(path)
    except AnalysisException as e:
        msg = str(e)
        if "PATH_NOT_FOUND" in msg or "Path does not exist" in msg:
            return None
        if "UNABLE_TO_INFER_SCHEMA" in msg:
            # the store exists but holds no data files — possible only
            # when every epoch so far produced zero rows (the sink skips
            # empty writes, but an all-empty store can still arise from
            # epoch dirs holding just _SUCCESS markers). Semantically
            # "no data yet"; it cannot mask a partial epoch because the
            # sink re-derives a replayed epoch from scratch anyway
            # (every read excludes the batch's own epoch).
            return None
        raise


def make_incremental_sink(
    spark: SparkSession,
    out_dir: str,
    automaton,
    surface_forms: DataFrame,
    context_vectors,
    min_similarity: float = 0.1,
):
    """The foreachBatch sink of stream_kg_incremental, exposed so tests
    can drive it directly (replay a batch, simulate partial crashes).
    See stream_kg_incremental for semantics; invariant: calling
    sink(df, epoch) any number of times, from any partially-written
    state of that epoch, converges to the same store contents."""
    import os

    from pyspark.sql import Window

    from careers_spark.operators.coherence import InternedContexts, links_of
    from careers_spark.operators.digests import (
        document_digests,
        incremental_digest_pairs,
    )
    from careers_spark.operators.model import KGModel, name_universes
    from careers_spark.plans.pipeline import checkpoint_stage, link_and_resolve

    # the resolver's coded ids need the dictionary's name universes:
    # one distinct (surface, topic) collect per sink, not per poll
    model = KGModel(
        automaton,
        *name_universes(surface_forms),
        InternedContexts.of(context_vectors),
    )
    processed_dir = os.path.join(out_dir, "processed")
    resolved_dir = os.path.join(out_dir, "resolved")
    digests_dir = os.path.join(out_dir, "digests")
    matches_dir = os.path.join(out_dir, "matches")

    # The per-epoch store rule. Every read that feeds a batch's
    # computation excludes the batch's own epoch, so a replay recomputes
    # from the pre-batch state (same prev_max, same vec_ids). Every
    # write overwrites `<store>/epoch=<ep>`, so a replay replaces its own
    # partial output. Callers skip empty frames instead of writing them:
    # an epoch dir holding only a _SUCCESS marker would later fail
    # schema inference on the store read and poison every later batch (a
    # batch of conversations with zero dictionary hits is legitimate).
    # Recomputation is deterministic, so a skipped write is skipped again.
    def earlier(path: str, ep: int) -> DataFrame | None:
        store = _read_store(spark, path)
        return None if store is None else store.filter(F.col("epoch") != ep)

    def write(df: DataFrame, path: str, ep: int) -> None:
        df.write.mode("overwrite").parquet(f"{path}/epoch={ep}")

    # Every frame read twice below (an emptiness test, then a write or a
    # second consumer) is materialized once first, so its plan runs once:
    # the gated micro-batch, the digests, the ranked ids and the matches.
    # The earlier epochs' stores are read, never materialized.
    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        ep = int(epoch_id)
        # the stream's only dedup: turn keys within the batch, then the
        # registry of conversations processed by earlier epochs
        fresh = batch_df.dropDuplicates(["conv_id", "turn_idx"])
        seen = earlier(processed_dir, ep)
        if seen is not None:
            fresh = fresh.join(seen.select("conv_id"), "conv_id", "left_anti")
        fresh = fresh.localCheckpoint(eager=True)
        if fresh.isEmpty():
            return

        # -- processCVs ---------------------------------------------------
        out = link_and_resolve(checkpoint_stage, fresh, surface_forms, model)
        if not out.isEmpty():
            write(out, resolved_dir, ep)

        # -- processMatches -----------------------------------------------
        old_dg = earlier(digests_dir, ep)
        prev_max = 0
        if old_dg is not None:  # None or 0 rows: the ids start at 1
            prev_max = old_dg.agg(F.max("vec_id")).first()[0] or 0
        dg = document_digests(links_of(out)).localCheckpoint(eager=True)
        # vec_ids are prev_max + the dense rank of this epoch's distinct
        # conv_ids, ranked in two phases because an unpartitioned
        # dense_rank window sorts a backfill-sized poll in one partition.
        # Range partitioning makes partitions order-disjoint, so a
        # partition's running offset + local rank == global rank whatever
        # the sampled boundaries are; the sizes are one bounded
        # (n_partitions)-row collect.
        distinct_ids = (
            dg.select("conv_id")
            .dropDuplicates()
            .repartitionByRange(spark.sparkContext.defaultParallelism, "conv_id")
            .withColumn("_p", F.spark_partition_id())
            .localCheckpoint(eager=True)
        )
        sizes = sorted(distinct_ids.groupBy("_p").count().collect())
        if sizes:  # no digests: no ids, no matches
            offsets, acc = [], prev_max
            for p, n in sizes:
                offsets += [F.lit(p), F.lit(acc)]
                acc += n
            ids = distinct_ids.withColumn(
                "vec_id",
                F.create_map(*offsets)[F.col("_p")]
                + F.row_number().over(Window.partitionBy("_p").orderBy("conv_id")),
            ).drop("_p")
            new_dg = dg.join(ids, "conv_id").localCheckpoint(eager=True)
            # all x new: once id_a < id_b, new x all adds only new x new
            all_dg = (
                new_dg if old_dg is None else old_dg.drop("epoch").unionByName(new_dg)
            )
            matches = incremental_digest_pairs(
                all_dg.selectExpr("vec_id as id_a", "topic", "weight"),
                new_dg.selectExpr("vec_id as id_b", "topic", "weight"),
                prev_max,
                prev_max,
                min_similarity=min_similarity,
            ).filter(F.col("id_a") < F.col("id_b")).localCheckpoint(eager=True)
            if not matches.isEmpty():
                write(matches, matches_dir, ep)
            write(new_dg, digests_dir, ep)
        # the freshness gate is written LAST: its presence certifies the
        # epoch's data writes all landed (r4 ADVICE ordering)
        write(fresh.select("conv_id").dropDuplicates(), processed_dir, ep)

    return sink


def stream_kg_incremental(
    spark: SparkSession,
    in_path: str,
    out_dir: str,
    checkpoint: str,
    automaton,
    surface_forms: DataFrame,
    context_vectors,
    once: bool = True,
    min_similarity: float = 0.1,
):
    """The full WebCVProcess polling-loop analogue
    (reference: applications/WebCVProcess.scala:300-333 — processCVs
    then processMatches per poll) as a Structured-Streaming foreachBatch
    sink:

      1. freshness gate: conversations already in the processed
         registry are anti-joined away, so a poll only touches fresh
         conv_ids (the reference's max-id cursor, :215-219; conv_ids are
         strings here, so the cursor is the registry itself);
      2. processCVs: mention scan -> candidates -> per-conversation
         coherence resolve on the fresh conversations only, appended to
         the resolved store (:226-249's annotate-and-persist);
      3. processMatches: fresh digests get monotone vector ids past the
         previous max (the reference's DB sequence), dense in conv_id
         order, and the BLOCKED incremental matcher scores all x new
         through the digest-topic equi-join, never a crossJoin — the
         reference's new x all / old x new (:286-291), since new x all
         kept to id_a < id_b is new x new. The earlier epochs' digest
         store is read as a parquet scan, never materialized.

    A conversation is assumed to arrive whole within one micro-batch
    (the reference's unit of arrival is a complete CV); turns of a
    conv_id seen in an earlier batch are dropped by the gate.

    The query is stateless: the per-batch (conv_id, turn_idx) dedup plus
    the conversation-level gate give exactly-once per conversation, with
    no watermark and no state store. So a conversation delivered after
    newer ones is still resolved (no lateness drop), a poll runs exactly
    one micro-batch (epochs are numbered one per poll), and the sink
    runs with the session's adaptive execution on.

    Delivery semantics (r5: EXACTLY-once per conversation): every store
    is laid out as per-epoch partition directories
    (`<store>/epoch=<id>/`) written with mode("overwrite"), so a
    replayed epoch overwrites its own partial output instead of
    appending duplicates; the freshness-gate registry is written LAST
    (after resolved, matches, and digests — the r4 ADVICE ordering fix:
    a crash between the gate write and the data writes can no longer
    orphan a batch's digests/matches), and every read that feeds a
    batch's computation EXCLUDES the batch's own epoch, so a replay
    recomputes from exactly the pre-batch state (same prev_max, same
    vec_ids — the sink is deterministic). Net: a crash at ANY point in
    the sink replays to a byte-identical store, gated by
    tests/test_incremental_loop.py::test_replay_is_idempotent.

    Checkpoint migration: a checkpoint written by the earlier stateful
    query (watermark + dropDuplicates) cannot be resumed — Spark refuses
    it with STREAMING_STATEFUL_OPERATOR_NOT_MATCH_IN_STATE_METADATA.
    Start a new `checkpoint` AND a new `out_dir`: batch ids restart at
    0, and the stores are overwritten per epoch, so an old `out_dir`
    would have its epochs overwritten by unrelated polls.

    Gated end-to-end by tests/test_incremental_loop.py: two-batch ingest
    == cold batch run, second batch touches only fresh conv_ids.
    """
    sink = make_incremental_sink(
        spark, out_dir, automaton, surface_forms, context_vectors,
        min_similarity=min_similarity,
    )
    stream = read_transcript_stream(spark, in_path)
    writer = stream.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint
    )
    if once:
        return writer.trigger(availableNow=True).start()
    return writer.trigger(processingTime="30 seconds").start()

