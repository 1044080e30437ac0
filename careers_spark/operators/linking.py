"""Candidate entity linking: mentions x broadcast dictionary.

The reference probes in-RAM binary arrays per phrase hit
(Disambiguator.scala:309-388 — getPhraseTopics / getPhraseCount /
linkWeight lowerBound probes). Spark-first, those probes are broadcast
hash joins that Catalyst keeps entirely JVM-side:

    mentions ⋈ broadcast(surface_forms+priors)      (J1/J6/J8)
    candidates ⋈ broadcast(topic context vectors)    (J2)

The anchor prior (count/phrase_count, Disambiguator.scala:433-438) is
precomputed in operators.dictionary.surface_priors; candidates with
relative weight below MIN_TOPIC_REL_WEIGHT are dropped
(AmbiguityForest.scala:94-95).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MIN_TOPIC_REL_WEIGHT = 1e-5  # reference: AmbiguityForest.scala:94-95


def attach_candidates_coded(
    mentions: DataFrame,
    surface_forms: DataFrame,
    surface_dim: DataFrame,
    topic_dim: DataFrame,
) -> DataFrame:
    """mentions -> candidate rows with anchor prior, one row per
    (mention, candidate topic), dictionary-CODED: (conv_id, turn_idx,
    start, end, surf_id, topic_id, prior). Surface strings
    leave the plan at the map-side broadcast join, so every downstream
    corpus-phase shuffle (TF-IDF aggregations, the resolve cogroup) and
    checkpoint carries small ints instead of repeated dictionary
    strings — at 100 TB the string keys are pure memory-bandwidth tax
    on every exchange. surface_dim/topic_dim: (surf_id, surface) /
    (topic_id, topic) with lexicographic ids (coherence.build_id_dims)."""
    dim = (
        surface_forms.select("surface", "topic", "prior")
        .join(surface_dim, "surface")
        .join(topic_dim, "topic")
        .select("surface", "surf_id", "topic_id", "prior")
    )
    return (
        mentions.join(F.broadcast(dim), "surface")
        .filter(F.col("prior") >= MIN_TOPIC_REL_WEIGHT)
        .drop("surface")
    )


def topic_terms(context_vectors: DataFrame) -> DataFrame:
    """The topic side of the TF-IDF context cosine, tokenized once per
    dictionary: (topic, term, weight1), one row per distinct term of
    each of a topic's top-K context NAMES, carrying that context's
    weight1 (a term shared by two contexts of a topic gives two rows;
    tfidf_context_scores sums them).

    context_vectors: the packed (topic, ctx_ids, ctx_ws) dictionary
    stage. The explicit repartition matters: the packed vectors usually
    read back from a small checkpoint parquet (one input split), and
    without it the explode fan-out and the Python tokenizer over
    millions of context names would run in ONE task, a serial chunk no
    executor count can shrink. One task per core keeps it to one wave."""
    from careers_spark.functions.text import tokenize_udf

    sc = context_vectors.sparkSession.sparkContext
    return (
        context_vectors.select(
            "topic", F.explode(F.arrays_zip("ctx_ids", "ctx_ws")).alias("z")
        )
        .select(
            "topic",
            F.col("z.ctx_ids").alias("context"),
            F.col("z.ctx_ws").alias("weight1"),
        )
        .repartition(sc.defaultParallelism)
        .select(
            "topic",
            F.explode(F.array_distinct(tokenize_udf(F.col("context")))).alias("term"),
            "weight1",
        )
    )


def tfidf_context_scores(
    candidates: DataFrame,
    turn_terms: DataFrame,
    topic_terms: DataFrame,
    word_doc_freq: DataFrame,
    n_docs: int,
) -> DataFrame:
    """Anchor-prior x TF-IDF context-cosine candidate scoring.

    The reference scores document-topic affinity with TF-IDF cosines
    over context words (TopicVector.scala:47-84 cosine; word document
    frequencies from WordInTopicCount feed the idf). Re-expressed as
    joins:

      topic term vectors : context NAMES tokenized (topic_terms, once
                           per dictionary), term weight =
                           sum of ctx_weight * idf(term)  (broadcast dim)
      turn term vectors  : turn tokens restricted to terms that occur in
                           ANY topic vector (broadcast semi-join BEFORE
                           the explode shuffle — the term dimension is
                           dictionary-sized, so the fact-side work stays
                           proportional to matching tokens only)
      ctx_cos            : dot / (|topic| * |turn|) per (mention, topic)

    Returns candidates + `ctx_cos` (0.0 when nothing overlaps) and
    `score` = prior * (1 + ctx_cos): with no term overlap the score
    reduces to the anchor prior exactly, so enabling this on corpora
    whose context names never appear in text is a no-op.

    turn_terms: the (conv_id, turn_idx, term) table, distinct per turn —
    the corpus is tokenized ONCE and the pass is shared with
    word_doc_freq.

    topic_terms: the pre-tokenized (topic_id, term, weight1) rows of
    `topic_terms` above, coded to topic ids. Both inputs arrive
    tokenized, so this scoring runs no Python.

    candidates and topic_terms are keyed by the dictionary-coded
    `topic_id` (ints keep strings off every shuffle of this stage).
    candidates must be unique on their full column set (true of
    attach_candidates_coded output: distinct mention spans x a
    (surface, topic)-unique dictionary) — scoring groups by those
    columns.

    Shuffle-volume note: the dot-product join only ever matches terms
    that occur in the corpus, so topic term vectors are pre-shrunk to
    the corpus vocabulary (a semi-join) BEFORE the candidate explode;
    norms are computed on the FULL vectors first, so results are exact.
    """
    idf = word_doc_freq.select(
        "word", F.log(F.lit(float(n_docs + 1)) / (F.col("doc_freq") + 1)).alias("idf")
    )

    # topic term vectors are consumed four times below (vocabulary
    # broadcast, norms, active shrink, dot join) — materialize once
    # (dim-sized: topics x tokenized top-K context names)
    topic_vec = (
        topic_terms.select("topic_id", "term", "weight1")
        .join(idf.withColumnRenamed("word", "term"), "term", "left")
        .na.fill({"idf": 1.0})
        .groupBy("topic_id", "term")
        .agg(F.sum(F.col("weight1") * F.col("idf")).alias("tw"))
        .localCheckpoint(eager=True)
    )
    # norms over the FULL vectors (before any vocabulary shrink)
    topic_norm = topic_vec.groupBy("topic_id").agg(
        F.sqrt(F.sum(F.col("tw") * F.col("tw"))).alias("tnorm")
    )

    turn_terms = (
        turn_terms
        .join(F.broadcast(topic_vec.select("term").distinct()), "term", "left_semi")
        .join(F.broadcast(idf.withColumnRenamed("word", "term")), "term", "left")
        .na.fill({"idf": 1.0})
    )
    turn_norm = turn_terms.groupBy("conv_id", "turn_idx").agg(
        F.sqrt(F.sum(F.col("idf") * F.col("idf"))).alias("dnorm")
    )

    # only terms present in the (already topic-term-restricted) corpus
    # side can contribute to a dot product — shrink the explode side.
    # tnorm rides the broadcast dim so dot AND norm come out of ONE
    # aggregation keyed by the candidate identity: zero-contribution
    # candidate rows are unioned in (contrib 0, tnorm null), which
    # replaces the r2 shape's 6-key sort-merge re-join of `dots` back
    # onto candidates with a map-side-combining groupBy.
    active_terms = topic_vec.join(
        F.broadcast(turn_terms.select("term").distinct()), "term", "left_semi"
    ).join(topic_norm, "topic_id")

    keys = candidates.columns  # identity + carried cols (incl. prior)
    exploded = (
        candidates.join(F.broadcast(active_terms), "topic_id")
        .join(turn_terms.withColumnRenamed("idf", "t_idf"),
              ["conv_id", "turn_idx", "term"])
        .select(
            *keys,
            (F.col("tw") * F.col("t_idf")).alias("contrib"),
            "tnorm",
        )
    )
    zeros = candidates.select(
        *keys,
        F.lit(0.0).alias("contrib"),
        F.lit(None).cast("double").alias("tnorm"),
    )
    agg = (
        exploded.unionByName(zeros)
        .groupBy(*keys)
        .agg(F.sum("contrib").alias("dot"), F.max("tnorm").alias("tnorm"))
    )

    out = (
        agg.join(turn_norm, ["conv_id", "turn_idx"], "left")
        .withColumn(
            "ctx_cos",
            F.coalesce(
                F.col("dot") / (F.col("tnorm") * F.col("dnorm")), F.lit(0.0)
            ),
        )
        .withColumn("score", F.col("prior") * (1 + F.col("ctx_cos")))
        .drop("dot", "tnorm", "dnorm")
    )
    return out

