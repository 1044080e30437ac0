"""Automaton + mention-scan goldens (reference: phrase-trie round-trip
fixtures testDisambiguator.scala:276-314 and the sliding matcher
PhraseCount.scala:74-104)."""

import pandas as pd

from careers_spark import schema as S
from careers_spark.operators.mentions import TokenAhoCorasick, detect_mentions


def _ac(*surfaces):
    ac = TokenAhoCorasick()
    for s in surfaces:
        ac.add(s)
    return ac.build()


def test_single_word():
    ac = _ac("rice")
    assert ac.scan("i like rice a lot".split()) == [(2, 2, "rice")]


def test_multi_word_and_overlap():
    ac = _ac("covent garden", "garden party")
    toks = "at covent garden party tonight".split()
    assert sorted(ac.scan(toks)) == [(1, 2, "covent garden"), (2, 3, "garden party")]


def test_nested_phrases():
    ac = _ac("university of cambridge", "cambridge")
    toks = "she studied at university of cambridge".split()
    assert sorted(ac.scan(toks)) == [
        (3, 5, "university of cambridge"),
        (5, 5, "cambridge"),
    ]


def test_prefix_is_not_match():
    ac = _ac("new york city")
    assert ac.scan("i love new york".split()) == []


def test_repeated_hits():
    ac = _ac("rice")
    assert ac.scan("rice and more rice".split()) == [(0, 0, "rice"), (3, 3, "rice")]


def test_shared_suffix_via_fail_links():
    ac = _ac("barack hussein obama", "hussein obama", "obama")
    toks = "president barack hussein obama spoke".split()
    assert sorted(ac.scan(toks)) == [
        (1, 3, "barack hussein obama"),
        (2, 3, "hussein obama"),
        (3, 3, "obama"),
    ]


def test_detect_mentions_df(spark):
    """One pass per turn: beside the mentions, every predicate-pattern
    occurrence (spanning the gap tokens, surface the predicate) and,
    given a term universe, each distinct term at its first position."""
    transcripts = spark.createDataFrame(
        pd.DataFrame(
            {
                "conv_id": ["c1", "c1", "c1"],
                "turn_idx": pd.array([0, 1, 2], dtype="int32"),
                "role": ["user", "assistant", "user"],
                "text": [
                    "Ada works at Covent Garden and Covent Garden works at nothing",
                    "Ada is based in Paris",
                    "no mentions here at all",
                ],
                "tool": ["", "", ""],
                "ts": pd.to_datetime([0, 60, 120], unit="s"),
            }
        ),
        schema=S.TRANSCRIPTS,
    )
    ac = _ac("ada", "covent garden", "paris")
    rows = sorted(
        tuple(r)
        for r in detect_mentions(spark, transcripts, ac, ["covent", "paris", "zzz"]).collect()
    )
    assert rows == sorted([
        ("c1", 0, "mention", 0, 0, "ada"),
        ("c1", 0, "mention", 3, 4, "covent garden"),
        ("c1", 0, "mention", 6, 7, "covent garden"),
        ("c1", 0, "pred", 1, 2, "works_at"),
        ("c1", 0, "pred", 8, 9, "works_at"),
        ("c1", 0, "term", 3, 3, "covent"),
        ("c1", 1, "mention", 0, 0, "ada"),
        ("c1", 1, "mention", 4, 4, "paris"),
        ("c1", 1, "pred", 1, 3, "located_in"),
        ("c1", 1, "term", 4, 4, "paris"),
    ])
    # without a term universe the scan emits no term rows
    kinds = {r.kind for r in detect_mentions(spark, transcripts, ac).collect()}
    assert kinds == {"mention", "pred"}
