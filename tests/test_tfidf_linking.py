"""TF-IDF context-cosine linking (anchor-prior x context-cosine of the
north star; cosine semantics per TopicVector.scala:47-84)."""

import pandas as pd
from pyspark.sql import functions as F

from careers_spark import schema as S
from careers_spark.functions.text import tokenize_udf
from careers_spark.operators import linking as L

# candidates and topic contexts are dictionary-coded: topic_id is the
# position in the sorted topic names
TOPICS = ["Main:Condoleezza Rice", "Main:Rice"]
RICE, CONDI = TOPICS.index("Main:Rice"), TOPICS.index("Main:Condoleezza Rice")


def _turn_terms(transcripts):
    return transcripts.select(
        "conv_id",
        "turn_idx",
        F.explode(F.array_distinct(tokenize_udf(F.col("text")))).alias("term"),
    )


def _fixture(spark):
    transcripts = spark.createDataFrame(
        pd.DataFrame(
            {
                "conv_id": ["c1", "c2"],
                "turn_idx": pd.array([0, 0], dtype="int32"),
                "role": ["user", "user"],
                "text": [
                    "rice served with beans for dinner",  # food words
                    "rice worked with president george w bush",  # politics words
                ],
                "tool": ["", ""],
                "ts": pd.to_datetime([1700000000, 1700000060], unit="s"),
            }
        ),
        schema=S.TRANSCRIPTS,
    )
    cands = spark.createDataFrame(
        pd.DataFrame(
            [
                ("c1", 0, 0, 0, 0, RICE, 0.7),
                ("c1", 0, 0, 0, 0, CONDI, 0.3),
                ("c2", 0, 0, 0, 0, RICE, 0.7),
                ("c2", 0, 0, 0, 0, CONDI, 0.3),
            ],
            columns=["conv_id", "turn_idx", "start", "end", "surf_id", "topic_id", "prior"],
        )
    )
    top_ctx = spark.createDataFrame(
        pd.DataFrame(
            [
                (RICE, "Category:Beans and dinner food", 0.9, 0.9),
                (CONDI, "Main:George W. Bush", 0.9, 0.9),
                (CONDI, "Category:President", 0.5, 0.5),
            ],
            columns=["topic_id", "context", "weight1", "weight2"],
        )
    )
    wdf = spark.createDataFrame(
        pd.DataFrame({"word": ["beans", "dinner", "george", "bush", "president"],
                      "doc_freq": [5, 5, 5, 5, 5]})
    )
    return transcripts, cands, top_ctx, wdf


def test_ctx_cos_separates_senses(spark):
    transcripts, cands, top_ctx, wdf = _fixture(spark)
    out = L.tfidf_context_scores(
        cands, _turn_terms(transcripts), top_ctx, wdf, n_docs=100
    )
    got = {(r.conv_id, TOPICS[r.topic_id]): (r.ctx_cos, r.score) for r in out.collect()}
    # food turn: the grain overlaps (beans, dinner); Condi does not
    assert got[("c1", "Main:Rice")][0] > 0
    assert got[("c1", "Main:Condoleezza Rice")][0] == 0.0
    # politics turn: Condi overlaps (george, w, bush, president); grain does not
    assert got[("c2", "Main:Condoleezza Rice")][0] > 0
    assert got[("c2", "Main:Rice")][0] == 0.0
    # the boost flips the politics turn despite the 0.7 vs 0.3 prior?
    # cosine is bounded by 1 so score <= 2*prior; here it narrows the gap
    s_condi = got[("c2", "Main:Condoleezza Rice")][1]
    s_grain = got[("c2", "Main:Rice")][1]
    assert s_condi > 0.3 and s_grain == 0.7


def test_no_overlap_is_prior_identity(spark):
    """With zero term overlap the score must equal the prior exactly —
    the guarantee that lets corpora without context-name words enable
    this stage as a no-op."""
    transcripts, cands, top_ctx, wdf = _fixture(spark)
    t2 = transcripts.withColumn("text", transcripts.text.substr(0, 0))  # empty
    out = L.tfidf_context_scores(cands, _turn_terms(t2), top_ctx, wdf, n_docs=100)
    for r in out.collect():
        assert r.ctx_cos == 0.0
        assert r.score == r.prior


def test_cos_bounds(spark):
    transcripts, cands, top_ctx, wdf = _fixture(spark)
    out = L.tfidf_context_scores(
        cands, _turn_terms(transcripts), top_ctx, wdf, n_docs=100
    )
    for r in out.collect():
        assert 0.0 <= r.ctx_cos <= 1.0 + 1e-9
