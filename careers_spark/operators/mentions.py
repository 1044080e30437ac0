"""Mention detection: broadcast Aho-Corasick over token streams.

Re-expresses the reference's sliding multi-word phrase matcher — the
layered phrase-trie walk with a list of active iterators
(reference: libraries/mapreducejobs/PhraseCount.scala:74-104 and
disambiguator/Disambiguator.scala:399-517) — as a token-level
Aho-Corasick automaton built once on the driver from the surface-form
dictionary, broadcast to executors (the Spark analogue of the reference's
DistributedCache + once-per-task `setup()` load,
PhraseCount.scala:32-51,160-165), and applied inside an Arrow-batched
`mapInPandas` pass. Emits ALL matches including overlapping spans — the
overlap structure is exactly what the coherence stage's ambiguity sites
consume (AmbiguityForest.scala:574-619).

The same pass also finds the predicate patterns and, for TF-IDF
linking, the turn terms, so each turn is tokenized once and its one
token stream feeds every rule that reads it (as the reference's phrase
matcher and pattern rules share one token stream, utility.scala:411-437).

Spans are token indices, inclusive on both ends.
"""

from __future__ import annotations

from collections import deque

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from careers_spark import schema as S
from careers_spark.functions.text import tokenize_py
from careers_spark.synth import PRED_PATTERNS


class TokenAhoCorasick:
    """Aho-Corasick over token sequences (not characters).

    States are ints; transitions are dict[token -> state]. Outputs at a
    state are phrase lengths (in tokens) ending there plus the surface
    string, so a single linear scan emits every dictionary phrase
    occurrence, overlapping or nested.
    """

    def __init__(self) -> None:
        self.goto: list[dict[str, int]] = [{}]
        self.fail: list[int] = [0]
        self.out: list[list[tuple[int, str]]] = [[]]

    def add(self, surface: str) -> None:
        tokens = surface.split(" ")
        st = 0
        for t in tokens:
            nxt = self.goto[st].get(t)
            if nxt is None:
                nxt = len(self.goto)
                self.goto[st][t] = nxt
                self.goto.append({})
                self.fail.append(0)
                self.out.append([])
            st = nxt
        self.out[st].append((len(tokens), surface))

    def build(self) -> "TokenAhoCorasick":
        q: deque[int] = deque()
        for st in self.goto[0].values():
            self.fail[st] = 0
            q.append(st)
        while q:
            r = q.popleft()
            for tok, s in self.goto[r].items():
                q.append(s)
                f = self.fail[r]
                while f and tok not in self.goto[f]:
                    f = self.fail[f]
                self.fail[s] = self.goto[f].get(tok, 0) if self.goto[f].get(tok, 0) != s else 0
                self.out[s] = self.out[s] + self.out[self.fail[s]]
        return self

    def scan(self, tokens: list[str]) -> list[tuple[int, int, str]]:
        """Return (start, end_inclusive, surface) for every match."""
        res: list[tuple[int, int, str]] = []
        st = 0
        goto, fail, out = self.goto, self.fail, self.out
        for i, tok in enumerate(tokens):
            while st and tok not in goto[st]:
                st = fail[st]
            st = goto[st].get(tok, 0)
            if out[st]:
                for ln, surface in out[st]:
                    res.append((i - ln + 1, i, surface))
        return res


# the predicate rules' gap phrases, found by the mention scan: a key
# occurs at (start, end) exactly when those tokens, joined by spaces,
# equal it
PRED_AUTOMATON = TokenAhoCorasick()
for _key in PRED_PATTERNS:
    PRED_AUTOMATON.add(_key)
PRED_AUTOMATON.build()


def turn_rows(
    toks: list[str], automaton: TokenAhoCorasick, terms: frozenset
) -> list[tuple[str, int, int, str]]:
    """(kind, start, end, surface) scan rows of one tokenized turn:

    mention: every dictionary phrase occurrence, overlapping or nested.
    pred:    every PRED_PATTERNS key occurrence; surface holds its
             predicate.
    term:    every distinct token in `terms`, at its first position,
             in first-occurrence order.
    """
    rows = [("mention", s, e, surface) for s, e, surface in automaton.scan(toks)]
    rows += [("pred", s, e, PRED_PATTERNS[key]) for s, e, key in PRED_AUTOMATON.scan(toks)]
    if terms:
        for t in dict.fromkeys(toks):
            if t in terms:
                i = toks.index(t)
                rows.append(("term", i, i, t))
    return rows


def detect_mentions(
    spark: SparkSession,
    transcripts: DataFrame,
    automaton: TokenAhoCorasick,
    terms: list[str] | None = None,
) -> DataFrame:
    """transcripts -> scan rows (conv_id, turn_idx, kind, start, end,
    surface), kind one of mention / pred / term (turn_rows); term rows
    only for a given TF-IDF term universe `terms`.

    One Arrow batch in, one row batch out; the automaton and the terms
    are deserialized once per python worker (broadcast.value caching),
    the analogue of the MR once-per-task setup() load.
    """
    bc = spark.sparkContext.broadcast((automaton, frozenset(terms or ())))

    def scan(batches):
        ac, vocab = bc.value
        for pdf in batches:
            rows = []
            for conv_id, turn_idx, text in zip(
                pdf["conv_id"], pdf["turn_idx"].tolist(), pdf["text"]
            ):
                rows.extend(
                    (conv_id, turn_idx) + r
                    for r in turn_rows(tokenize_py(text), ac, vocab)
                )
            out = pd.DataFrame(
                rows, columns=["conv_id", "turn_idx", "kind", "start", "end", "surface"]
            )
            out["turn_idx"] = out["turn_idx"].astype("int32")
            out["start"] = out["start"].astype("int32")
            out["end"] = out["end"].astype("int32")
            yield out

    return transcripts.select("conv_id", "turn_idx", "text").mapInPandas(
        scan, schema=S.MENTIONS
    )
