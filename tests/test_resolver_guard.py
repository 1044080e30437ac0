"""Per-conversation resolver cost guard (_conv_windows).

The reference bounds document size with maxNumberOfWords=3000
(AmbiguityForest.scala:105) by dropping the tail; the Spark resolver
instead splits oversized conversations into turn-aligned coherence
windows of at most `_MAX_ROWS_PER_CONV` candidate rows, so the O(rows^2)
support/elimination passes cost O(rows * cap) total and EVERY mention
still resolves. These tests pin the chunker's invariants and the
bounded wall time on a pathological synthetic conversation.
"""

import time

from careers_spark.operators.coherence import (
    InternedContexts,
    _conv_windows,
    _resolve_conv,
)


def _rows(mentions):
    """mentions: list of (turn, start, end, n_candidates). Returns the
    (turn, start, end) column lists in (turn, start, end)-sorted row
    order with n_candidates rows per mention."""
    turn, start, end = [], [], []
    for t, s, e, nc in sorted(mentions):
        for _ in range(nc):
            turn.append(t)
            start.append(s)
            end.append(e)
    return turn, start, end


def _check_partition(windows, lo, hi):
    assert windows[0][0] == lo and windows[-1][1] == hi
    for (a, b), (c, d) in zip(windows, windows[1:]):
        assert b == c and a < b
    assert windows[-1][0] < windows[-1][1]


def test_under_cap_single_window():
    turn, start, end = _rows([(0, 0, 0, 2), (0, 2, 2, 1), (1, 0, 1, 3)])
    assert _conv_windows(0, len(turn), turn, start, end, cap=3000) == [(0, 6)]


def test_multi_turn_splits_at_turn_boundaries():
    # 10 turns x 8 rows; cap 20 -> windows of 2 turns each
    mentions = [(t, s, s, 2) for t in range(10) for s in range(4)]
    turn, start, end = _rows(mentions)
    wins = _conv_windows(0, len(turn), turn, start, end, cap=20)
    _check_partition(wins, 0, len(turn))
    for a, b in wins:
        assert b - a <= 20
        # no window splits a turn
        assert a == 0 or turn[a] != turn[a - 1]


def test_single_huge_turn_splits_at_site_boundaries():
    # one turn, 50 disjoint sites of 4 rows each (two overlapping
    # 2-candidate mentions per site); cap 12 -> site-aligned windows
    mentions = []
    for k in range(50):
        base = 10 * k
        mentions.append((0, base, base + 1, 2))
        mentions.append((0, base + 1, base + 2, 2))
    turn, start, end = _rows(mentions)
    wins = _conv_windows(0, len(turn), turn, start, end, cap=12)
    _check_partition(wins, 0, len(turn))
    for a, b in wins:
        assert b - a <= 12
        # window starts at a site boundary: span starts past every
        # earlier end in the turn-run means no overlap crosses the cut
        if a > 0:
            assert start[a] > max(end[r] for r in range(max(0, a - 4), a))


def test_single_site_larger_than_cap_stays_whole():
    # 30 mutually-overlapping mentions (one site), 2 candidates each
    mentions = [(0, 0, 100 + i, 2) for i in range(30)]
    turn, start, end = _rows(mentions)
    wins = _conv_windows(0, len(turn), turn, start, end, cap=10)
    assert wins == [(0, len(turn))]


def _pathological_conv(n_turns, mentions_per_turn):
    """A conversation where every mention has 2 candidates of one
    ambiguous pair (A vs B), supported by alternating peers."""
    ctx = InternedContexts(
        {
            "tA": {"cx": 1.0},
            "tB": {"cy": 1.0},
            "tP": {"cx": 0.5, "cy": 0.5},
        }
    )
    tid = ctx.tid
    turn, start, end, surf, code, gid, prior = [], [], [], [], [], [], []
    for t in range(n_turns):
        for m in range(mentions_per_turn):
            s = 3 * m
            for name in ("tA", "tB"):  # sorted name order == code order
                turn.append(t)
                start.append(s)
                end.append(s)
                surf.append(0)
                code.append(tid[name])
                gid.append(tid[name])
                prior.append(0.5)
    return ctx, turn, start, end, surf, code, gid, prior


def test_pathological_conversation_bounded():
    """~20k candidate rows resolve in seconds through windows; unguarded
    this is ~4x10^8 sim calls (minutes). Every mention must resolve."""
    n_turns, per_turn = 100, 100  # 10k mentions, 20k rows
    ctx, turn, start, end, surf, code, gid, prior = _pathological_conv(
        n_turns, per_turn
    )
    n = len(turn)
    wins = _conv_windows(0, n, turn, start, end, cap=500)
    _check_partition(wins, 0, n)
    assert len(wins) >= n // 500  # genuinely chunked
    t0 = time.monotonic()
    rows = []
    for lo, hi in wins:
        _resolve_conv(
            "c0", lo, hi, turn, start, end, surf, code, gid, prior, {}, ctx, rows
        )
    wall = time.monotonic() - t0
    links = [r for r in rows if r[2] == "link"]
    assert len(links) == n_turns * per_turn  # one winner per mention
    assert wall < 60.0, f"guarded resolve took {wall:.1f}s"


def test_dense_path_matches_scalar_path():
    """The vectorized large-window path (_dense_support_and_prune) picks
    the same winners and scores as the scalar loops on a mixed window
    with nontrivial sims, priors, multi-candidate mentions, and
    overlap sites."""
    import careers_spark.operators.coherence as CO

    ctx = InternedContexts(
        {
            f"T{i:02d}": {
                f"C{i % 10}": 0.5 + 0.02 * i,
                f"C{(i * 3) % 10}": 0.3,
                f"C{(i * 7 + 1) % 10}": 0.15,
            }
            for i in range(30)
        }
    )
    tid = ctx.tid
    turn, start, end, surf, code, gid, prior = [], [], [], [], [], [], []
    for t in range(10):
        for m in range(10):
            s = 3 * m
            e = s + (1 if (t + m) % 4 == 0 else 0)  # some 2-token spans
            k = 2 + (t + m) % 3
            names = sorted({f"T{(t * 7 + m * 3 + j * 5) % 30:02d}" for j in range(k)})
            for j, name in enumerate(names):
                turn.append(t)
                start.append(s)
                end.append(e)
                surf.append(0)
                code.append(tid[name])
                gid.append(tid[name])
                prior.append(round(1.0 / (1 + j) - 0.07 * ((t + j) % 3), 3))
    n = len(turn)
    assert n >= CO._DENSE_MIN_ROWS  # the default run takes the dense path

    def run():
        rows = []
        _resolve_conv(
            "c0", 0, n, turn, start, end, surf, code, gid, prior, {}, ctx, rows
        )
        return rows

    dense = run()
    saved = CO._DENSE_MIN_ROWS
    try:
        CO._DENSE_MIN_ROWS = 10**9
        scalar = run()
    finally:
        CO._DENSE_MIN_ROWS = saved

    assert len(dense) == len(scalar)
    d = {(r[1], r[3], r[4]): (r[6], r[7]) for r in dense if r[2] == "link"}
    s = {(r[1], r[3], r[4]): (r[6], r[7]) for r in scalar if r[2] == "link"}
    assert set(d) == set(s)
    for k2 in d:
        assert d[k2][0] == s[k2][0], k2  # identical winner
        assert abs(d[k2][1] - s[k2][1]) < 1e-9  # score within float-order noise


def test_windowed_output_matches_unwindowed_when_coherence_is_turn_local():
    """When no cross-turn support exists (per-turn topic universes with
    zero cross-turn sim), turn-boundary windows change nothing: one-turn
    windows produce the same links as the unbounded window — with real
    nonzero within-turn support deciding the winners."""
    n_turns, per_turn = 4, 3
    ctx = InternedContexts(
        {
            **{f"tA{t}": {f"c{t}": 1.0} for t in range(n_turns)},
            **{f"tB{t}": {f"c{t}": 0.3} for t in range(n_turns)},
        }
    )
    tid = ctx.tid
    turn, start, end, surf, code, gid, prior = [], [], [], [], [], [], []
    for t in range(n_turns):
        for m in range(per_turn):
            s = 3 * m
            for name, p in ((f"tA{t}", 0.6), (f"tB{t}", 0.4)):
                turn.append(t)
                start.append(s)
                end.append(s)
                surf.append(0)
                code.append(tid[name])
                gid.append(tid[name])
                prior.append(p)
    n = len(turn)

    def run(cap):
        rows = []
        for lo, hi in _conv_windows(0, n, turn, start, end, cap):
            _resolve_conv(
                "c0", lo, hi, turn, start, end, surf, code, gid, prior, {}, ctx, rows
            )
        return sorted(rows)

    per_turn_rows = 2 * per_turn
    assert run(per_turn_rows) == run(10**9)  # one turn per window
