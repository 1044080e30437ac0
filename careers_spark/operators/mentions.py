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

Spans are token indices, inclusive on both ends.
"""

from __future__ import annotations

from collections import deque

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from careers_spark import schema as S
from careers_spark.functions.text import tokenize_py


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


def detect_mentions(
    spark: SparkSession, transcripts: DataFrame, automaton: TokenAhoCorasick
) -> DataFrame:
    """transcripts -> mentions(conv_id, turn_idx, start, end, surface).

    One Arrow batch in, one mention batch out; the automaton is
    deserialized once per python worker (broadcast.value caching), the
    analogue of the MR once-per-task setup() load.
    """
    bc = spark.sparkContext.broadcast(automaton)

    def scan(batches):
        ac = bc.value
        for pdf in batches:
            rows = []
            for conv_id, turn_idx, text in zip(
                pdf["conv_id"], pdf["turn_idx"], pdf["text"]
            ):
                toks = tokenize_py(text)
                for start, end, surface in ac.scan(toks):
                    rows.append((conv_id, int(turn_idx), start, end, surface))
            out = pd.DataFrame(
                rows, columns=["conv_id", "turn_idx", "start", "end", "surface"]
            )
            out["turn_idx"] = out["turn_idx"].astype("int32")
            out["start"] = out["start"].astype("int32")
            out["end"] = out["end"].astype("int32")
            yield out

    return transcripts.select("conv_id", "turn_idx", "text").mapInPandas(
        scan, schema=S.MENTIONS
    )
