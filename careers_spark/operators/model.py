"""KGModel: the broadcastable dictionary model artifact.

The reference materializes its dictionary as binary model files built
once and memory-mapped by every consumer (phraseMap.bin etc., built in
testDisambiguator.scala:70-165, loaded at Disambiguator.scala:219-227).
The Spark analogue: the Aho-Corasick automaton, the per-topic context
map and the per-topic TF-IDF term vectors, built once from the
dictionary tables, pickled next to the dictionary checkpoint, and
broadcast by the corpus phase — so repeated processing runs (and both
cluster sizes of the scaling bench) skip the collect+build entirely.
"""

from __future__ import annotations

import os
import pickle
import tempfile
from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame

from careers_spark.functions.text import tokenize_py
from careers_spark.operators.coherence import InternedContexts, index_ranges
from careers_spark.operators.mentions import TokenAhoCorasick


# heap guard on the driver-collected (surface, topic) pairs
_MAX_NAME_PAIRS = 50_000_000


def name_universes(surface_forms: DataFrame) -> tuple[list[str], list[str]]:
    """Sorted distinct surfaces and topics of the dictionary — one
    bounded (surface, topic) collect."""
    sf_dim = surface_forms.select("surface", "topic").distinct()
    pairs = sf_dim.limit(_MAX_NAME_PAIRS + 1).collect()
    if len(pairs) > _MAX_NAME_PAIRS:
        raise MemoryError(
            f"dictionary too large to broadcast: over {_MAX_NAME_PAIRS} pairs"
        )
    return sorted({r.surface for r in pairs}), sorted({r.topic for r in pairs})


class TopicTerms:
    """The topic side of the TF-IDF context cosine (TopicVector.scala:
    47-84): each topic's context NAMES, tokenized, interned like
    InternedContexts.

    terms: the sorted term universe, every distinct tokenize_py token of
        a context name (the corpus-side TF-IDF vocabulary).
    topics: sorted interned ids (InternedContexts.tid) of the topics
        with at least one term; row r spans entries ptr[r]:ptr[r + 1].
    term_ids / weights: one entry per (context of the topic, distinct
        token of that context's name), carrying the context's weight,
        sorted by term id within a row — a term held by two contexts of
        one topic has two entries.
    """

    def __init__(self, terms, topics, ptr, term_ids, weights):
        self.terms = terms
        self.topics = topics
        self.ptr = ptr
        self.term_ids = term_ids
        self.weights = weights

    @classmethod
    def of(cls, interned: InternedContexts) -> "TopicTerms":
        """Tokenizes each distinct context name once."""
        gids = np.fromiter(
            (g for g, a in enumerate(interned.ids) if len(a)), np.int64
        )
        n_ctx = np.fromiter((len(interned.ids[g]) for g in gids), np.int64, len(gids))
        empty_i, empty_w = np.empty(0, np.int64), np.empty(0, np.float64)
        ctx = np.concatenate([interned.ids[g] for g in gids] or [empty_i])
        ws = np.concatenate([interned.ws[g] for g in gids] or [empty_w])
        ctx_names, ctx_inv = np.unique(ctx, return_inverse=True)
        toks = [dict.fromkeys(tokenize_py(interned.names[c])) for c in ctx_names]
        terms = sorted({t for ts in toks for t in ts})
        term_of = {t: i for i, t in enumerate(terms)}
        n_tok = np.fromiter((len(ts) for ts in toks), np.int64, len(toks))
        tok_ids = np.fromiter(
            (term_of[t] for ts in toks for t in ts), np.int32, int(n_tok.sum())
        )
        tok_start = np.cumsum(n_tok) - n_tok
        # every (topic, context, weight) entry -> its context's tokens
        per = n_tok[ctx_inv]
        entry = np.repeat(np.arange(len(ctx)), per)
        term_ids = tok_ids[index_ranges(tok_start[ctx_inv], per)]
        row = np.repeat(np.repeat(np.arange(len(gids)), n_ctx), per)
        order = np.lexsort((term_ids, row))
        counts = np.bincount(row, minlength=len(gids))
        return cls(
            terms=terms,
            topics=gids[counts > 0],
            ptr=np.concatenate(([0], np.cumsum(counts[counts > 0]))),
            term_ids=term_ids[order],
            weights=ws[entry][order],
        )


@dataclass
class KGModel:
    automaton: TokenAhoCorasick
    # sorted dictionary universes: the resolver assigns global
    # lexicographic int ids from these, so only ints cross the cogroup
    # shuffle / Arrow boundary (names join back JVM-side)
    surface_names: list[str]
    topic_names: list[str]

    # interned context vectors, built once at model-build time and
    # pickled — re-interning 100k+ topic vectors on the driver cost
    # seconds at the start of EVERY corpus run (a fixed cost at every
    # scaling level)
    interned: InternedContexts

    # the TF-IDF topic term vectors, read by batch linking only; the
    # streaming sink links on anchor priors and builds its model without
    topic_terms: TopicTerms | None = None

    # bump when the pickled layout changes: build_or_load rebuilds stale
    # cache files instead of loading a model missing newer fields
    VERSION = 5
    version: int = VERSION

    # heap guard: the model is a driver-collected broadcast dim, the same
    # memory contract as the reference's ~300 MB phrase map loaded per
    # task (WordInTopicCount.scala:19-25). The default driver heap is 6g
    # (careers_spark.session): topics x top-30 contexts at ~100B/entry
    # puts the comfortable ceiling near 20M entries -> ~2 GB; anything
    # larger is a schema bug, not a bigger dictionary.
    MAX_CONTEXT_TOPICS = 600_000

    @classmethod
    def build(
        cls, surface_forms: DataFrame, context_vectors: DataFrame
    ) -> "KGModel":
        dim = context_vectors.select("topic", "ctx_ids", "ctx_ws")
        n = dim.count()  # fail fast BEFORE the collect
        if n > cls.MAX_CONTEXT_TOPICS:
            raise MemoryError(
                f"context-vector dimension too large to broadcast: {n} topics "
                f"(cap {cls.MAX_CONTEXT_TOPICS}); check the dictionary filters"
            )
        interned = InternedContexts.of(dim)
        surface_names, topic_names = name_universes(surface_forms)
        ac = TokenAhoCorasick()
        for s in surface_names:
            ac.add(s)
        return cls(
            automaton=ac.build(),
            surface_names=surface_names,
            topic_names=topic_names,
            interned=interned,
            topic_terms=TopicTerms.of(interned),
        )

    def save(self, path: str) -> None:
        """Atomic: pickle to a temporary file beside `path`, then rename,
        so an interrupted write never leaves a truncated cache that every
        later build_or_load would fail on."""
        d = os.path.dirname(path)
        os.makedirs(d, exist_ok=True)
        fd, tmp = tempfile.mkstemp(dir=d, prefix=".model-", suffix=".tmp")
        try:
            with os.fdopen(fd, "wb") as f:
                pickle.dump(self, f, protocol=pickle.HIGHEST_PROTOCOL)
            os.replace(tmp, path)
        except BaseException:
            os.unlink(tmp)
            raise

    @classmethod
    def load(cls, path: str) -> "KGModel":
        with open(path, "rb") as f:
            return pickle.load(f)

    @classmethod
    def build_or_load(
        cls,
        surface_forms: DataFrame,
        context_vectors: DataFrame,
        cache_path: str | None,
    ) -> "KGModel":
        if cache_path and os.path.exists(cache_path):
            m = cls.load(cache_path)
            if getattr(m, "version", 1) == cls.VERSION:
                return m
        m = cls.build(surface_forms, context_vectors)
        if cache_path:
            m.save(cache_path)
        return m
