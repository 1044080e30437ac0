"""The Spark formulation of anchor-prior x TF-IDF context-cosine
linking: the oracle of coherence.ContextCosine, which scores the same
cosine inside the resolve cogroup. Test-only.

    candidates ⋈ topic term vectors ⋈ turn terms -> per-candidate dot,
    unioned with zero rows and aggregated per candidate, joined with
    the turn norms
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


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

    Returns candidates + `ctx_cos` (0.0 when nothing overlaps or a norm
    is 0) and `score` = prior * (1 + ctx_cos): with no term overlap the
    score reduces to the anchor prior exactly.

    turn_terms: the (conv_id, turn_idx, term) table, distinct per turn —
    the corpus is tokenized ONCE and the pass is shared with
    word_doc_freq.

    topic_terms: (topic_id, term, weight1), one row per distinct token
    of each of a topic's context names, coded to topic ids.

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
            # 0 where a norm is 0 (every shared term in every turn): a
            # plain division raises there under ANSI mode
            F.when(
                F.col("tnorm") * F.col("dnorm") > 0,
                F.col("dot") / (F.col("tnorm") * F.col("dnorm")),
            ).otherwise(F.lit(0.0)),
        )
        .withColumn("score", F.col("prior") * (1 + F.col("ctx_cos")))
        .drop("dot", "tnorm", "dnorm")
    )
    return out

