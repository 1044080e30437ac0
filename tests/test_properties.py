"""Property-based invariants (hypothesis) — the randomized layer the
reference's test suite lacks (SURVEY §5). Pure-python properties of the
resolver helpers; no Spark session needed."""

from hypothesis import given, settings
from hypothesis import strategies as st

from careers_spark.functions.text import normalize_sf_py, tokenize_py
from careers_spark.operators.coherence import (
    InternedContexts,
    _alternatives,
    _build_sites,
)
from careers_spark.operators.mentions import TokenAhoCorasick, turn_rows
from careers_spark.operators.model import TopicTerms
from careers_spark.synth import PRED_PATTERNS

# (turn, start, end)-sorted, the order _build_sites takes (the
# resolver's mention spans come from rows sorted on that key)
spans_strategy = st.lists(
    st.tuples(
        st.integers(0, 3),  # turn
        st.integers(0, 15),  # start
        st.integers(0, 6),  # length - 1
    ).map(lambda t: (t[0], t[1], t[1] + t[2])),
    min_size=1,
    max_size=10,
).map(sorted)


@given(spans_strategy)
@settings(max_examples=200, deadline=None)
def test_sites_partition_mentions(spans):
    sites = _build_sites(spans)
    flat = sorted(i for s in sites for i in s)
    assert flat == list(range(len(spans)))  # every mention in exactly one site


@given(spans_strategy)
@settings(max_examples=200, deadline=None)
def test_sites_members_same_turn(spans):
    for site in _build_sites(spans):
        assert len({spans[i][0] for i in site}) == 1


@given(spans_strategy)
@settings(max_examples=100, deadline=None)
def test_alternatives_non_overlapping(spans):
    """Every alternative of every site is a non-overlapping selection
    (the segmentation invariant of Disambiguator.scala:126-206)."""
    for site in _build_sites(spans):
        for alt in _alternatives(site, spans):
            ordered = sorted(alt, key=lambda i: spans[i][1])
            for a, b in zip(ordered, ordered[1:]):
                assert spans[b][1] > spans[a][2]
            assert set(alt) <= set(site)
            assert len(alt) >= 1


tokens_strategy = st.lists(
    st.text(alphabet="abcxyz", min_size=1, max_size=4), min_size=0, max_size=30
)
phrases_strategy = st.lists(
    st.lists(st.text(alphabet="abcxyz", min_size=1, max_size=4), min_size=1, max_size=3),
    min_size=1,
    max_size=8,
)


@given(tokens_strategy, phrases_strategy)
@settings(max_examples=200, deadline=None)
def test_automaton_equals_naive_scan(tokens, phrases):
    """Aho-Corasick output == brute-force subsequence search."""
    ac = TokenAhoCorasick()
    surfaces = {" ".join(p) for p in phrases}
    for s in surfaces:
        ac.add(s)
    ac.build()
    got = sorted(ac.scan(tokens))
    expected = sorted(
        (i, i + len(p.split()) - 1, p)
        for p in surfaces
        for i in range(len(tokens) - len(p.split()) + 1)
        if tokens[i : i + len(p.split())] == p.split()
    )
    assert got == expected


@given(st.text(max_size=80))
@settings(max_examples=300, deadline=None)
def test_tokenize_total_and_idempotent_normal_form(s):
    toks = tokenize_py(s)
    assert all(t for t in toks)  # no empty tokens
    norm = normalize_sf_py(s)
    # normal form is a fixpoint: normalizing again changes nothing
    assert normalize_sf_py(norm) == norm


# --- the mention scan's pattern hits and turn terms ----------------------

_NO_DICTIONARY = TokenAhoCorasick().build()
pattern_tokens = st.lists(
    st.sampled_from(
        sorted({w for key in PRED_PATTERNS for w in key.split(" ")})
        + ["acme", "paris", "x"]
    ),
    max_size=25,
)


def test_pattern_keys_are_token_normal():
    """A gap's tokens, joined by spaces, can only equal a key in its
    tokenized form, so every key must be one."""
    for key in PRED_PATTERNS:
        assert " ".join(tokenize_py(key)) == key


@given(pattern_tokens)
@settings(max_examples=300, deadline=None)
def test_pattern_hits_equal_gap_rule(toks):
    """For every span pair a.end < b.start, the resolver's lookup of
    (a.end + 1, b.start - 1) in the scan's pattern hits equals the gap
    rule over the tokens between the spans."""
    hits = {
        (s, e): pred
        for kind, s, e, pred in turn_rows(toks, _NO_DICTIONARY, frozenset())
        if kind == "pred"
    }
    for a_end in range(len(toks)):
        for b_start in range(a_end + 1, len(toks)):
            assert hits.get((a_end + 1, b_start - 1)) == PRED_PATTERNS.get(
                " ".join(toks[a_end + 1 : b_start])
            )


_TOPIC_TERMS = TopicTerms.of(
    InternedContexts(
        {
            "Main:Rice": {"Category:Cities of France": 0.5, "Main:Paris": 0.4},
            "Main:Bush": {"Main:George W. Bush": 0.9, "Category:President": 0.3},
        }
    )
)


@given(
    st.lists(
        st.sampled_from(_TOPIC_TERMS.terms + ["Paris,", "BUSH", "w.", "x", "rice"]),
        max_size=20,
    )
)
@settings(max_examples=200, deadline=None)
def test_term_rows_are_distinct_universe_tokens(words):
    """A turn's term rows are its distinct tokens in the model's term
    universe, in first-occurrence order, each at its first position."""
    toks = tokenize_py(" ".join(words))
    terms = frozenset(_TOPIC_TERMS.terms)
    got = [
        (s, e, t) for kind, s, e, t in turn_rows(toks, _NO_DICTIONARY, terms)
        if kind == "term"
    ]
    want = [t for t in dict.fromkeys(toks) if t in terms]
    assert [t for _, _, t in got] == want
    assert all(s == e == toks.index(t) for s, e, t in got)


# --- resolver guard windows (r4) -------------------------------------------

conv_strategy = st.lists(
    st.tuples(
        st.integers(0, 5),   # turn
        st.integers(0, 20),  # start
        st.integers(0, 3),   # length - 1
        st.integers(1, 4),   # candidates per mention
    ),
    min_size=1,
    max_size=40,
)


@given(conv_strategy, st.integers(2, 25))
@settings(max_examples=200, deadline=None)
def test_conv_windows_partition_and_site_integrity(mentions, cap):
    from careers_spark.operators.coherence import _conv_windows

    turn, start, end = [], [], []
    for t, s, ln, nc in sorted(mentions):
        for _ in range(nc):
            turn.append(t)
            start.append(s)
            end.append(s + ln)
    n = len(turn)
    wins = _conv_windows(0, n, turn, start, end, cap)

    # exact partition of [0, n)
    assert wins[0][0] == 0 and wins[-1][1] == n
    for (a, b), (c, d) in zip(wins, wins[1:]):
        assert b == c
    assert all(a < b for a, b in wins)

    # no window boundary splits an overlap site: at every interior cut,
    # either the turn changes or the span at the cut starts past every
    # earlier end within the same turn (i.e. a new site begins)
    for a, _b in wins[1:]:
        if turn[a] == turn[a - 1]:
            prev_ends = [
                end[r]
                for r in range(a - 1, -1, -1)
                if turn[r] == turn[a]
            ]
            assert start[a] > max(prev_ends)

    # cap respected unless a single site alone exceeds it
    for a, b in wins:
        if b - a > cap:
            spans = sorted({(turn[r], start[r], end[r]) for r in range(a, b)})
            rows_per_span = {
                sp: sum(
                    1
                    for r in range(a, b)
                    if (turn[r], start[r], end[r]) == sp
                )
                for sp in spans
            }
            site_rows = [
                sum(rows_per_span[spans[i]] for i in site)
                for site in _build_sites(spans)
            ]
            assert max(site_rows) > cap


@given(spans_strategy)
@settings(max_examples=200, deadline=None)
def test_alternatives_shortcuts_equal_full_enumeration(spans):
    """The r4 singleton/pair site shortcuts in _alternatives must return
    exactly what the recursive gap-free enumeration returns — pinned by
    comparing against a naive maximal-antichain enumeration for every
    site the strategy generates (sizes 1..10)."""
    from itertools import combinations

    def naive(site):
        # all maximal non-overlapping subsets, in the enumeration's
        # sorted-dedup order
        def ok(subset):
            s = sorted(subset, key=lambda i: spans[i][1])
            return all(spans[b][1] > spans[a][2] for a, b in zip(s, s[1:]))

        subsets = [
            list(c)
            for k in range(1, len(site) + 1)
            for c in combinations(sorted(site), k)
            if ok(c)
        ]
        maximal = [
            s
            for s in subsets
            if not any(set(s) < set(t) for t in subsets if len(t) > len(s))
        ]
        return sorted({tuple(sorted(m)) for m in maximal})

    for site in _build_sites(spans):
        if len(site) > 10:
            continue  # the >12 greedy fallback is out of scope here
        got = sorted({tuple(sorted(a)) for a in _alternatives(site, spans)})
        assert got == naive(site), (site, [spans[i] for i in site])
