"""W2 — Normal-pdf mention-distance weighting golden.

Reference: AmbiguityForest.scala:806-811 —

    distanceWeight = 0.2 + N(0,5).density(d)/N(0,5).density(0)
                         + 0.0 * N(0,10) term
    totalWeight    = linkWeight //* distanceWeight   <- DISABLED

The reference computes the weight but multiplies it out, so the engine's
default is OFF (flag-off output bit-identical to round 3); the flag-on
path implements the formula as written. density ratio of a Normal(0, 5)
is exp(-d^2 / 50) with d the difference of span token centers.
"""

import math

from careers_spark.operators.coherence import (
    _EPS,
    InternedContexts,
    _resolve_conv,
)


def _fixture():
    """Mention X@[0,0] with candidates A/B (equal priors); near peer
    P1@[2,2] supports B (sim 0.5), far peer P2@[40,40] supports A
    (sim 1.0). Unweighted, A wins (1.0 > 0.5); distance-weighted the far
    support collapses to the 0.2 floor and B wins."""
    ctx = InternedContexts(
        {
            "A": {"cx": 1.0},
            "P2": {"cx": 1.0},
            "B": {"cy": 1.0},
            "P1": {"cy": 0.5},
        }
    )
    tid = ctx.tid
    rows = [  # (turn, start, end, topic) in sorted row order
        (0, 0, 0, "A"),
        (0, 0, 0, "B"),
        (0, 2, 2, "P1"),
        (0, 40, 40, "P2"),
    ]
    turn = [r[0] for r in rows]
    start = [r[1] for r in rows]
    end = [r[2] for r in rows]
    code = [tid[r[3]] for r in rows]
    prior = [0.5, 0.5, 1.0, 1.0]
    return ctx, turn, start, end, [0] * 4, code, code, prior


def _winner(distance_weighting):
    ctx, turn, start, end, surf, code, gid, prior = _fixture()
    out = []
    _resolve_conv(
        "c0", 0, 4, turn, start, end, surf, code, gid, prior, {}, ctx, out,
        distance_weighting=distance_weighting,
    )
    links = {(r[1], r[3], r[4]): (r[6], r[7]) for r in out if r[2] == "link"}
    return links[(0, 0, 0)], ctx.tid


def test_flag_off_far_support_wins():
    (topic, score), tid = _winner(False)
    assert topic == tid["A"]
    assert abs(score - 0.5 * (_EPS + 1.0)) < 1e-12


def test_flag_on_near_support_wins_hand_computed():
    (topic, score), tid = _winner(True)
    assert topic == tid["B"]
    # dw(X, P1): centers 0 and 2 -> d=2 -> 0.2 + exp(-4/50)
    dw_near = 0.2 + math.exp(-4.0 / 50.0)
    want = 0.5 * (_EPS + 0.5 * 1.0 * dw_near)
    assert abs(score - want) < 1e-12


def test_flag_on_cross_turn_takes_floor():
    """A peer in another turn weights at the 0.2 floor regardless of
    token positions (no shared token axis across turns)."""
    ctx = InternedContexts(
        {"A": {"cx": 1.0}, "B": {"cy": 1.0}, "P1": {"cy": 0.5}, "P2": {"cx": 1.0}}
    )
    tid = ctx.tid
    # P2 sits at the SAME token position but in turn 1
    rows = [(0, 0, 0, "A"), (0, 0, 0, "B"), (0, 2, 2, "P1"), (1, 0, 0, "P2")]
    turn = [r[0] for r in rows]
    start = [r[1] for r in rows]
    end = [r[2] for r in rows]
    code = [tid[r[3]] for r in rows]
    prior = [0.5, 0.5, 1.0, 1.0]
    out = []
    _resolve_conv(
        "c0", 0, 4, turn, start, end, [0] * 4, code, code, prior, {}, ctx, out,
        distance_weighting=True,
    )
    links = {(r[1], r[3], r[4]): (r[6], r[7]) for r in out if r[2] == "link"}
    topic, score = links[(0, 0, 0)]
    assert topic == tid["B"]  # 1.0*0.2 < 0.5*(0.2+exp(-4/50))
    want = 0.5 * (_EPS + 0.5 * (0.2 + math.exp(-4.0 / 50.0)))
    assert abs(score - want) < 1e-12


def test_flag_through_spark_stage(spark):
    """W2 through the real cogrouped stage: the flag rides the UDF
    closure (same plumbing concern as dense_min_rows — workers
    re-import the module, so a module flag would not reach them). Same
    near/far fixture as the pure-python golden: flag off -> far
    supporter wins; flag on -> near supporter wins."""
    import pandas as pd

    from careers_spark import schema as S
    from careers_spark.operators import coherence as CO

    rows = [
        ("c1", 0, 0, 0, "x", "A", 0.5),
        ("c1", 0, 0, 0, "x", "B", 0.5),
        ("c1", 0, 2, 2, "p1", "P1", 1.0),
        ("c1", 0, 40, 40, "p2", "P2", 1.0),
    ]
    # dictionary-coded candidates: ids are positions in the sorted names
    surfaces = sorted({r[4] for r in rows})
    topics = sorted({r[5] for r in rows})
    cands = spark.createDataFrame(
        pd.DataFrame(
            [(c, t, s, e, surfaces.index(sf), topics.index(tp), pr)
             for c, t, s, e, sf, tp, pr in rows],
            columns=["conv_id", "turn_idx", "start", "end",
                     "surf_id", "topic_id", "prior"],
        )
    )
    transcripts = spark.createDataFrame(
        pd.DataFrame(
            {
                "conv_id": ["c1"],
                "turn_idx": pd.array([0], dtype="int32"),
                "role": ["user"],
                "text": ["y " * 50],
                "tool": [""],
                "ts": pd.to_datetime([0], unit="s"),
            }
        ),
        schema=S.TRANSCRIPTS,
    )
    ctx = {"A": {"cx": 1.0}, "P2": {"cx": 1.0}, "B": {"cy": 1.0}, "P1": {"cy": 0.5}}

    def winner(flag):
        out = CO.resolve(
            cands, transcripts, ctx,
            surface_names=surfaces, topic_names=topics,
            distance_weighting=flag,
        )
        links = {(r.turn_idx, r.start): r.topic for r in CO.links_of(out).collect()}
        return links[(0, 0)]

    assert winner(False) == "A"
    assert winner(True) == "B"
