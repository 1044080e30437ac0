"""TF-IDF context-cosine linking (anchor-prior x context-cosine of the
north star; cosine semantics per TopicVector.scala:47-84)."""

import pandas as pd

from careers_spark import synth
from careers_spark.functions.text import tokenize_py
from careers_spark.operators import linking as L
from careers_spark.plans.pipeline import checkpoint_stage, dictionary_phase

# candidates and topic terms are dictionary-coded: topic_id is the
# position in the sorted topic names
TOPICS = ["Main:Condoleezza Rice", "Main:Rice"]
RICE, CONDI = TOPICS.index("Main:Rice"), TOPICS.index("Main:Condoleezza Rice")

TEXTS = {
    "c1": "rice served with beans for dinner",  # food words
    "c2": "rice worked with president george w bush",  # politics words
}
CONTEXTS = [
    (RICE, "Category:Beans and dinner food", 0.9),
    (CONDI, "Main:George W. Bush", 0.9),
    (CONDI, "Category:President", 0.5),
]


def _explode_terms(rows):
    """(key, text, weight) -> (key, term, weight) over the distinct
    tokens of text: the tokenizer pass dict_topic_terms runs."""
    return [
        (key, term, weight)
        for key, text, weight in rows
        for term in dict.fromkeys(tokenize_py(text))
    ]


def _turn_terms(spark, texts):
    rows = [
        (c, 0, term) for c, text in sorted(texts.items())
        for term in dict.fromkeys(tokenize_py(text))
    ]
    return spark.createDataFrame(rows, schema="conv_id string, turn_idx int, term string")


def _fixture(spark):
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
    topic_terms = spark.createDataFrame(
        pd.DataFrame(_explode_terms(CONTEXTS), columns=["topic_id", "term", "weight1"])
    )
    wdf = spark.createDataFrame(
        pd.DataFrame({"word": ["beans", "dinner", "george", "bush", "president"],
                      "doc_freq": [5, 5, 5, 5, 5]})
    )
    return _turn_terms(spark, TEXTS), cands, topic_terms, wdf


def test_ctx_cos_separates_senses(spark):
    turn_terms, cands, topic_terms, wdf = _fixture(spark)
    out = L.tfidf_context_scores(cands, turn_terms, topic_terms, wdf, n_docs=100)
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
    _, cands, topic_terms, wdf = _fixture(spark)
    empty = _turn_terms(spark, {c: "" for c in TEXTS})
    out = L.tfidf_context_scores(cands, empty, topic_terms, wdf, n_docs=100)
    for r in out.collect():
        assert r.ctx_cos == 0.0
        assert r.score == r.prior


def test_cos_bounds(spark):
    turn_terms, cands, topic_terms, wdf = _fixture(spark)
    out = L.tfidf_context_scores(cands, turn_terms, topic_terms, wdf, n_docs=100)
    for r in out.collect():
        assert 0.0 <= r.ctx_cos <= 1.0 + 1e-9


def test_tfidf_scoring_runs_no_python(spark, monkeypatch):
    """Both sides arrive tokenized, so the scoring plan is pure
    Catalyst. localCheckpoint is patched to a no-op so the plan shows
    the topic-vector lineage it would otherwise cut off."""
    turn_terms, cands, topic_terms, wdf = _fixture(spark)
    monkeypatch.setattr(type(cands), "localCheckpoint", lambda self, eager=True: self)
    out = L.tfidf_context_scores(cands, turn_terms, topic_terms, wdf, n_docs=100)
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_dict_topic_terms_golden(spark):
    """dict_topic_terms is the tokenizer exploded over every (topic,
    context, weight) of dict_context_vectors: one row per distinct term
    of each context name."""
    kb = synth.build_kb(8)
    built = dictionary_phase(checkpoint_stage, synth.kb_tables(spark, kb))
    want = sorted(
        _explode_terms(
            (r.topic, c, w)
            for r in built["dict_context_vectors"].collect()
            for c, w in zip(r.ctx_ids, r.ctx_ws)
        )
    )
    got = sorted(
        tuple(r)
        for r in built["dict_topic_terms"].select("topic", "term", "weight1").collect()
    )
    assert want and got == want
