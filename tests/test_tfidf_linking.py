"""TF-IDF context-cosine linking (anchor-prior x context-cosine of the
north star; cosine semantics per TopicVector.scala:47-84), scored
inside the resolve cogroup by coherence.ContextCosine and checked
against the Spark formulation in tests/reference/tfidf.py."""

import re

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F
from reference.tfidf import tfidf_context_scores

from careers_spark import schema as S
from careers_spark import synth
from careers_spark.functions.text import tokenize_py
from careers_spark.operators import coherence as CO
from careers_spark.operators.coherence import ContextCosine, InternedContexts
from careers_spark.operators.model import KGModel, TopicTerms
from careers_spark.plans.pipeline import (
    KGPipeline,
    checkpoint_stage,
    dictionary_phase,
    link_and_resolve,
)

# candidates are dictionary-coded: topic_id is the position in the
# sorted topic names
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
# every context-name term of the turns, as word_doc_freq holds them
WDF = pd.DataFrame(
    {"word": ["beans", "dinner", "george", "w", "bush", "president"],
     "doc_freq": [5, 5, 5, 5, 5, 5]}
)
N_DOCS = 100
CANDS = pd.DataFrame(
    [
        ("c1", 0, 0, 0, 0, RICE, 0.7),
        ("c1", 0, 0, 0, 0, CONDI, 0.3),
        ("c2", 0, 0, 0, 0, RICE, 0.7),
        ("c2", 0, 0, 0, 0, CONDI, 0.3),
    ],
    columns=["conv_id", "turn_idx", "start", "end", "surf_id", "topic_id", "prior"],
)


def _explode_terms(rows):
    """(key, text, weight) -> (key, term, weight) over the distinct
    tokens of text: the context-name tokenization KGModel.build runs."""
    return [
        (key, term, weight)
        for key, text, weight in rows
        for term in dict.fromkeys(tokenize_py(text))
    ]


def _turn_terms_pdf(texts, vocab):
    return pd.DataFrame(
        [
            (c, 0, term) for c, text in sorted(texts.items())
            for term in dict.fromkeys(tokenize_py(text)) if term in vocab
        ],
        columns=["conv_id", "turn_idx", "term"],
    )


def _cosines(cosine, interned, cands, terms, topics):
    """ctx_cos per candidate row, as the resolve cogroup computes it."""
    conv_code, conv_names = pd.factorize(cands["conv_id"], sort=True)
    gid = np.array([interned.tid.get(topics[t], -1) for t in cands["topic_id"]])
    return cosine.cosines(
        conv_names, conv_code, cands["turn_idx"].to_numpy(np.int64), gid, terms
    )


def _fixture_scores(texts):
    interned = InternedContexts(
        {TOPICS[t]: {c: w for t2, c, w in CONTEXTS if t2 == t} for t in (RICE, CONDI)}
    )
    topic_terms = TopicTerms.of(interned)
    cosine = ContextCosine.of(topic_terms, WDF, N_DOCS)
    terms = _turn_terms_pdf(texts, set(topic_terms.terms))
    cos = _cosines(cosine, interned, CANDS, terms, TOPICS)
    return cos, CANDS["prior"].to_numpy() * (1 + cos), terms


def test_ctx_cos_separates_senses():
    cos, score, _ = _fixture_scores(TEXTS)
    got = {
        (c, TOPICS[t]): (x, s)
        for c, t, x, s in zip(CANDS["conv_id"], CANDS["topic_id"], cos, score)
    }
    # food turn: the grain overlaps (beans, dinner); Condi does not
    assert got[("c1", "Main:Rice")][0] > 0
    assert got[("c1", "Main:Condoleezza Rice")][0] == 0.0
    # politics turn: Condi overlaps (george, w, bush, president); grain does not
    assert got[("c2", "Main:Condoleezza Rice")][0] > 0
    assert got[("c2", "Main:Rice")][0] == 0.0
    # cosine is bounded by 1 so score <= 2*prior; here it narrows the gap
    s_condi = got[("c2", "Main:Condoleezza Rice")][1]
    s_grain = got[("c2", "Main:Rice")][1]
    assert s_condi > 0.3 and s_grain == 0.7


def test_no_overlap_is_prior_identity():
    """With zero term overlap the score must equal the prior exactly —
    the guarantee that lets corpora without context-name words enable
    this scoring as a no-op."""
    cos, score, terms = _fixture_scores({c: "" for c in TEXTS})
    assert not len(terms)
    assert (cos == 0.0).all()
    assert (score == CANDS["prior"].to_numpy()).all()


def test_cos_bounds():
    cos, _, _ = _fixture_scores(TEXTS)
    assert ((cos >= 0.0) & (cos <= 1.0 + 1e-9)).all()


def _oracle(spark, cands, turn_terms, topic_terms, wdf, n_docs):
    """{candidate key: (ctx_cos, score)} of the Spark formulation."""
    out = tfidf_context_scores(cands, turn_terms, topic_terms, wdf, n_docs=n_docs)
    key = ["conv_id", "turn_idx", "start", "end", "surf_id", "topic_id"]
    return {tuple(r[k] for k in key): (r.ctx_cos, r.score) for r in out.collect()}


def test_fixture_scores_match_oracle(spark):
    cos, score, terms = _fixture_scores(TEXTS)
    want = _oracle(
        spark,
        spark.createDataFrame(CANDS),
        spark.createDataFrame(terms),
        spark.createDataFrame(
            pd.DataFrame(_explode_terms(CONTEXTS), columns=["topic_id", "term", "weight1"])
        ),
        spark.createDataFrame(WDF),
        N_DOCS,
    )
    assert any(c > 0 for c, _ in want.values())
    for row, c, s in zip(CANDS.itertuples(index=False), cos, score):
        wc, ws = want[tuple(row)[:6]]
        assert c == pytest.approx(wc, rel=1e-12, abs=0)
        assert s == pytest.approx(ws, rel=1e-12, abs=0)


@pytest.fixture(scope="module")
def overlap_run(spark, tmp_path_factory):
    """run_corpus (TF-IDF on) over a synth corpus where context-name
    words occur in turn text, with the model it linked with."""
    kb = synth.build_kb(8)
    pdf = synth.gen_transcripts_pdf(kb, 30)
    # context-name words (no surface forms) at the end of every third
    # turn
    pdf.loc[::3, "text"] = pdf.loc[::3, "text"] + " category cities"
    transcripts = spark.createDataFrame(pdf, schema=S.TRANSCRIPTS)
    pipe = KGPipeline(spark, str(tmp_path_factory.mktemp("tfidf_overlap")))
    d = pipe.run_dictionary(synth.kb_tables(spark, kb))
    model = KGModel.build(d.outputs["dict_surface_forms"], d.outputs["dict_context_vectors"])
    run = pipe.run_corpus(transcripts, d.outputs, model=model)
    return run, d.outputs, model


def test_run_corpus_scores_match_oracle(spark, overlap_run):
    """In-resolve scores == the Spark formulation's, within 1e-12
    relative, on the run's own candidates, turn terms and doc
    frequencies: once per candidate, and through resolve, whose output
    on oracle-scored priors must match the TF-IDF run's."""
    run, dict_out, model = overlap_run
    out = run.outputs
    _, topic_dim = CO.build_id_dims(spark, model.surface_names, model.topic_names)
    topic_terms = spark.createDataFrame(
        pd.DataFrame(
            _explode_terms(
                (r.topic, c, w)
                for r in dict_out["dict_context_vectors"].collect()
                for c, w in zip(r.ctx_ids, r.ctx_ws)
            ),
            columns=["topic", "term", "weight1"],
        )
    ).join(topic_dim, "topic").drop("topic")
    n_docs = out["transcripts"].count()
    want = _oracle(
        spark, out["candidates"], out["turn_terms"], topic_terms,
        out["word_doc_freq"], n_docs,
    )
    assert sum(c > 0 for c, _ in want.values()) > 0

    cands = out["candidates"].toPandas()
    cosine = ContextCosine.of(model.topic_terms, out["word_doc_freq"].toPandas(), n_docs)
    cos = _cosines(
        cosine, model.interned, cands, out["turn_terms"].toPandas(), model.topic_names
    )
    key = ["conv_id", "turn_idx", "start", "end", "surf_id", "topic_id"]
    for k, c, p in zip(cands[key].itertuples(index=False), cos, cands["prior"]):
        wc, ws = want[tuple(k)]
        assert c == pytest.approx(wc, rel=1e-12, abs=0)
        assert p * (1 + c) == pytest.approx(ws, rel=1e-12, abs=0)

    # resolve over oracle-scored priors, without TF-IDF
    scored = tfidf_context_scores(
        out["candidates"], out["turn_terms"], topic_terms, out["word_doc_freq"], n_docs
    ).withColumn("prior", F.col("score")).drop("score", "ctx_cos")
    surface_dim, topic_dim = CO.build_id_dims(spark, model.surface_names, model.topic_names)
    base = CO.resolve(
        scored, out["transcripts"], out["mentions"], model, surface_dim, topic_dim
    )

    def rows(df):
        got = [r.asDict() for r in df.collect()]
        return sorted(got, key=lambda r: repr([v for k, v in r.items() if k != "score"]))

    a, b = rows(out["resolved"]), rows(base)
    assert a and len(a) == len(b)
    for ra, rb in zip(a, b):
        sa, sb = ra.pop("score"), rb.pop("score")
        assert ra == rb
        assert sa == pytest.approx(sb, rel=1e-12, abs=0)


def test_turn_terms_are_scan_terms(overlap_run):
    """The turn_terms stage holds, per turn, its distinct tokenize_py
    tokens in the model's term universe, read from the mention scan."""
    run, _, model = overlap_run
    vocab = set(model.topic_terms.terms)
    want = sorted(
        (r.conv_id, r.turn_idx, t)
        for r in run.outputs["transcripts"].collect()
        for t in dict.fromkeys(tokenize_py(r.text))
        if t in vocab
    )
    got = sorted(tuple(r) for r in run.outputs["turn_terms"].collect())
    assert want and got == want


def test_zero_idf_overlap_links_on_prior(spark, tmp_path):
    """A one-turn corpus: every term occurs in every turn, so every idf
    and the turn norm are 0. The cosine is 0 there and the score is the
    anchor prior's, exactly as with TF-IDF off (the division by the 0
    norm once raised DIVIDE_BY_ZERO under ANSI mode)."""
    kb = synth.build_kb(8)
    raw = synth.kb_tables(spark, kb)
    pdf = synth.gen_transcripts_pdf(kb, 1).head(1).copy()
    pdf["text"] = "we talked about bush and category"
    transcripts = spark.createDataFrame(pdf, schema=S.TRANSCRIPTS)

    def resolved(name, tfidf):
        pipe = KGPipeline(spark, str(tmp_path / name))
        d = pipe.run_dictionary(raw)
        run = pipe.run_corpus(transcripts, d.outputs, tfidf=tfidf)
        return sorted(tuple(r) for r in run.outputs["resolved"].collect()), run

    base, _ = resolved("base", False)
    got, run = resolved("tfidf", True)
    assert run.outputs["word_doc_freq"].count() > 0
    assert any(r[5] == "bush" for r in got)
    assert got == base


def test_model_topic_terms_golden(spark):
    """The model's term vectors are tokenize_py exploded over every
    (topic, context, weight) of dict_context_vectors: one entry per
    distinct term of each context name."""
    kb = synth.build_kb(8)
    built = dictionary_phase(checkpoint_stage, synth.kb_tables(spark, kb))
    cv = built["dict_context_vectors"]
    want = sorted(
        _explode_terms(
            (r.topic, c, w) for r in cv.collect() for c, w in zip(r.ctx_ids, r.ctx_ws)
        )
    )
    model = KGModel.build(built["dict_surface_forms"], cv)
    tt, names = model.topic_terms, model.interned.names
    got = sorted(
        (names[g], tt.terms[tt.term_ids[k]], tt.weights[k])
        for r, g in enumerate(tt.topics)
        for k in range(tt.ptr[r], tt.ptr[r + 1])
    )
    assert want and got == want
    assert tt.terms == sorted({t for _, t, _ in want})
    for r in range(len(tt.topics)):
        assert (np.diff(tt.term_ids[tt.ptr[r]:tt.ptr[r + 1]]) >= 0).all()


def test_candidates_stage_has_no_hash_exchange(spark):
    """The candidates stage is the plain broadcast attach: its plan
    holds broadcast exchanges only, no hash-partitioned shuffle."""
    kb = synth.build_kb(8)
    d = dictionary_phase(checkpoint_stage, synth.kb_tables(spark, kb))
    sf = d["dict_surface_forms"]
    model = KGModel.build(sf, d["dict_context_vectors"])
    transcripts = spark.createDataFrame(
        synth.gen_transcripts_pdf(kb, 10), schema=S.TRANSCRIPTS
    )
    plans = {}

    def stage(name, compute, partition_by=None):
        df = compute()
        plans[name] = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        return df.localCheckpoint(eager=True)

    def exchanges(plan):
        return re.findall(r"^\(\d+\) (\w*Exchange)\b", plan, re.M)

    link_and_resolve(stage, transcripts, sf, model, tfidf=True)
    assert set(exchanges(plans["candidates"])) == {"BroadcastExchange"}
    assert "hashpartitioning" not in plans["candidates"]
    # the check sees a shuffle where one exists
    assert "Exchange" in exchanges(plans["word_doc_freq"])
