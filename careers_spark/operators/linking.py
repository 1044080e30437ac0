"""Candidate entity linking: mentions x broadcast dictionary.

The reference probes in-RAM binary arrays per phrase hit
(Disambiguator.scala:309-388 — getPhraseTopics / getPhraseCount /
linkWeight lowerBound probes). Spark-first, those probes are broadcast
hash joins that Catalyst keeps entirely JVM-side:

    mentions ⋈ broadcast(surface_forms+priors)      (J1/J6/J8)

and the topic context vectors (J2) ride the resolver's broadcast,
where the anchor prior is also scored by TF-IDF context cosine
(coherence.ContextCosine).

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
    leave the plan at the map-side broadcast join, so the downstream
    candidates table and the resolve cogroup shuffle carry small ints instead of repeated dictionary
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
