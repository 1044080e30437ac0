"""Canonical StructTypes for every table the pipeline reads or writes.

The primary input shape is fixed by BASELINE.json's input_hint:
transcripts(conv_id string, turn_idx int, role string, text string,
tool string, ts timestamp). Dictionary-table shapes mirror the
reference's SQLite schema (reference: applications/BuildPhraseQueryDb.scala:60-66)
re-expressed as DataFrames.
"""

from __future__ import annotations

from pyspark.sql import types as T

TRANSCRIPTS = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
)

# anchor-statistics dictionary (reference: libraries/mapreducejobs/SurfaceForms.scala:95-123)
SURFACE_FORMS = T.StructType(
    [
        T.StructField("surface", T.StringType(), False),
        T.StructField("topic", T.StringType(), False),
        T.StructField("count", T.LongType(), False),
    ]
)

WORD_DOC_FREQ = T.StructType(
    [
        T.StructField("word", T.StringType(), False),
        T.StructField("doc_freq", T.LongType(), False),
    ]
)

REDIRECTS = T.StructType(
    [
        T.StructField("from_topic", T.StringType(), False),
        T.StructField("to_topic", T.StringType(), False),
    ]
)

TOPIC_CONTEXTS = T.StructType(
    [
        T.StructField("topic", T.StringType(), False),
        T.StructField("context", T.StringType(), False),
    ]
)

# J5 output (reference: applications/BuildPhraseQueryDb.scala:337-431)
LINK_WEIGHTS = T.StructType(
    [
        T.StructField("topic", T.StringType(), False),
        T.StructField("context", T.StringType(), False),
        T.StructField("weight1", T.DoubleType(), False),
        T.StructField("weight2", T.DoubleType(), False),
    ]
)

# the mention scan's rows: kind is mention, pred or term
# (operators.mentions.turn_rows)
MENTIONS = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("start", T.IntegerType(), False),  # token index, inclusive
        T.StructField("end", T.IntegerType(), False),  # token index, inclusive
        T.StructField("surface", T.StringType(), False),
    ]
)

# resolved (winner-per-site) entity links
LINKS = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("start", T.IntegerType(), False),
        T.StructField("end", T.IntegerType(), False),
        T.StructField("surface", T.StringType(), False),
        T.StructField("topic", T.StringType(), False),
        T.StructField("score", T.DoubleType(), False),
    ]
)

TRIPLES = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("subj", T.StringType(), False),
        T.StructField("pred", T.StringType(), False),
        T.StructField("obj", T.StringType(), False),
    ]
)

NODES = T.StructType(
    [
        T.StructField("node_id", T.StringType(), False),  # canonical entity id
        T.StructField("name", T.StringType(), False),
        T.StructField("n_mentions", T.LongType(), False),
        T.StructField("n_convs", T.LongType(), False),
    ]
)

EDGES = T.StructType(
    [
        T.StructField("src", T.StringType(), False),
        T.StructField("pred", T.StringType(), False),
        T.StructField("dst", T.StringType(), False),
        T.StructField("n_obs", T.LongType(), False),
        T.StructField("first_conv", T.StringType(), True),
    ]
)

LINEAGE = T.StructType(
    [
        T.StructField("stage", T.StringType(), False),
        T.StructField("partition_id", T.IntegerType(), False),
        T.StructField("rows_out", T.LongType(), False),
    ]
)
