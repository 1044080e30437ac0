"""Adversarial resolver cases where greedy elimination and fixed-round
rescoring genuinely disagree — the reference's pruneOutAlternatives loop
(AmbiguityForest.scala:912-981) is the spec, and these cases pin its
dynamics beyond the hand-mirrored shortPhrases KB:

  - elimination ORDER: a weakly-supported candidate is pruned while its
    competitor's support (from a peer that itself later dies) is still
    live — two-round rescoring, which re-scores only against round-1
    winners, picks the other topic;
  - chained down-weighting: anchor evidence at the end of an A-B-C
    ambiguity chain cascades through peer down-weighting
    (downWeightPeers, :220-250) until the whole right chain survives.

Pure-python: drives _resolve_conv directly (no SparkSession), the same
code the cogrouped stage executes per conversation.
"""

from careers_spark.operators.coherence import InternedContexts, _resolve_conv


def _run_case(ctx_map, mentions):
    """mentions: list of (turn, start, end, [(topic, prior), ...]).
    Returns the set of resolved topic names (link rows)."""
    ctx = InternedContexts(ctx_map)
    topics = sorted({t for m in mentions for t, _ in m[3]})
    tcode = {t: i for i, t in enumerate(topics)}
    rows = []
    for turn, s, e, cands in mentions:
        for t, p in cands:
            rows.append((turn, s, e, tcode[t], p))
    rows.sort(key=lambda r: (r[0], r[1], r[2], r[3]))
    turn_l = [r[0] for r in rows]
    start_l = [r[1] for r in rows]
    end_l = [r[2] for r in rows]
    topic_l = [r[3] for r in rows]
    prior_l = [float(r[4]) for r in rows]
    surf_l = [0] * len(rows)
    gid_l = [ctx.tid.get(topics[c], -1) for c in topic_l]

    out: list[tuple] = []
    _resolve_conv(
        "c", 0, len(rows), turn_l, start_l, end_l,
        surf_l, topic_l, gid_l, prior_l, {}, ctx, out,
    )
    return {topics[r[6]] for r in out if r[2] == "link"}


def test_elimination_order_beats_round_scoring():
    """b1 is globally weakest and is pruned while a2 (b2's supporter) is
    still alive, so B resolves to b2 — round-based rescoring against
    round-1 winners would resolve B to b1 because a2 loses round 1."""
    ctx_map = {
        "T:a1": {"T:e": 2.0, "T:b1": 0.1},
        "T:b2": {"T:a2": 1.0},
    }
    mentions = [
        (0, 0, 0, [("T:a1", 0.5), ("T:a2", 0.5)]),
        (0, 2, 2, [("T:b1", 0.5), ("T:b2", 0.5)]),
        (0, 4, 4, [("T:e", 1.0)]),  # anchor: a1's strong evidence
    ]
    # greedy (reference) trace: scores a1=1.025 a2=0.25 b1=0.025 b2=0.25
    # -> remove b1 -> B is b2; -> remove a2 -> A is a1
    assert _run_case(ctx_map, mentions) == {"T:a1", "T:b2", "T:e"}


def test_chain_cascade_downweighting():
    """A-B-C chained ambiguity with anchor evidence only at C: removing
    wrong-chain c2 collapses b2's support, removing b2 collapses a2's —
    the cascade resolves the WHOLE right chain. Topic names are chosen
    so the deterministic tie-break (remove the larger code) prunes the
    wrong chain end-first."""
    ctx_map = {
        "T:c-c1": {"T:d": 3.0},
        "T:b-b1": {"T:c-c1": 1.0},
        "T:a-a1": {"T:b-b1": 1.0},
        "T:y-b2": {"T:z-c2": 1.0},
        "T:x-a2": {"T:y-b2": 1.0},
    }
    mentions = [
        (0, 0, 0, [("T:a-a1", 0.5), ("T:x-a2", 0.5)]),
        (0, 2, 2, [("T:b-b1", 0.5), ("T:y-b2", 0.5)]),
        (0, 4, 4, [("T:c-c1", 0.5), ("T:z-c2", 0.5)]),
        (0, 6, 6, [("T:d", 1.0)]),  # anchor pulls c1
    ]
    assert _run_case(ctx_map, mentions) == {
        "T:a-a1", "T:b-b1", "T:c-c1", "T:d"
    }


def test_conversation_independence_randomized():
    """Conversations are the coherence window: resolving a conversation
    alone must equal resolving it inside any batch (the property the
    bucketed cogroup relies on — bucket composition can never change a
    result). Randomized over seeded KBs and conversations."""
    import random

    from careers_spark.operators.coherence import InternedContexts, _resolve_conv

    for seed in range(12):
        rng = random.Random(seed)
        n_topics = rng.randint(4, 10)
        topics = [f"T:{chr(97 + i)}" for i in range(n_topics)]
        ctx_map = {}
        for t in topics:
            if rng.random() < 0.7:
                ctx_map[t] = {
                    c: round(rng.uniform(0.1, 3.0), 3)
                    for c in rng.sample(topics, rng.randint(1, 3))
                    if c != t
                }

        def gen_conv():
            mentions = []
            pos = 0
            for _ in range(rng.randint(1, 4)):
                cands = [
                    (t, round(rng.uniform(0.05, 1.0), 3))
                    for t in rng.sample(topics, rng.randint(1, 3))
                ]
                mentions.append((0, pos, pos, cands))
                pos += 2
            return mentions

        def resolve_rows(convs, code_universe):
            """convs: {conv_id: mentions}. code_universe mimics a pandas
            batch's sort=True factorization: codes are assigned over
            whatever topics the BATCH happens to contain, so the same
            conversation gets different integer codes depending on its
            batchmates. Results are keyed by topic NAME so the assert
            checks relabel-invariance. Returns {conv_id: link set}."""
            ctx = InternedContexts(ctx_map)
            names = sorted(code_universe)
            tcode = {t: i for i, t in enumerate(names)}
            out_by_conv = {}
            for cid in sorted(convs):
                rows = []
                for turn, s, e, cands in convs[cid]:
                    for t, p in cands:
                        rows.append((turn, s, e, tcode[t], p))
                rows.sort(key=lambda r: (r[0], r[1], r[2], r[3]))
                out = []
                _resolve_conv(
                    cid, 0, len(rows),
                    [r[0] for r in rows], [r[1] for r in rows],
                    [r[2] for r in rows], [0] * len(rows),
                    [r[3] for r in rows],
                    [ctx.tid.get(names[r[3]], -1) for r in rows],
                    [float(r[4]) for r in rows], {}, ctx, out,
                )
                out_by_conv[cid] = {
                    (r[1], r[3], r[4], names[r[6]])
                    for r in out
                    if r[2] == "link"
                }
            return out_by_conv

        convs = {f"c{i}": gen_conv() for i in range(3)}
        batch_universe = {
            t for m in convs.values() for _, _, _, cs in m for t, _ in cs
        }
        joint = resolve_rows(convs, batch_universe)
        for cid, m in convs.items():
            own_universe = {t for _, _, _, cs in m for t, _ in cs}
            alone = resolve_rows({cid: m}, own_universe)[cid]
            assert alone == joint[cid], f"seed {seed} conv {cid}"


def test_last_candidate_guard():
    """removeTopic's last-candidate guard (AmbiguityForest.scala:207-217):
    a mention's only candidate survives no matter how low its score."""
    ctx_map = {"T:strong": {"T:anchor": 5.0}}
    mentions = [
        (0, 0, 0, [("T:lonely", 0.01)]),  # zero support, sole candidate
        (0, 2, 2, [("T:strong", 0.9), ("T:weak", 0.1)]),
        (0, 4, 4, [("T:anchor", 1.0)]),
    ]
    assert _run_case(ctx_map, mentions) == {"T:lonely", "T:strong", "T:anchor"}


def test_far_support_is_not_distance_weighted():
    """The reference computes a mention-distance weight (W2,
    AmbiguityForest.scala:806-811) but multiplies it out (`linkWeight
    //* distanceWeight`, :811), so a far peer's support counts in full:
    X@0 resolves to A, backed by the far P2@40 (sim 1.0), not to B,
    backed by the near P1@2 (sim 0.5)."""
    ctx_map = {
        "A": {"cx": 1.0},
        "P2": {"cx": 1.0},
        "B": {"cy": 1.0},
        "P1": {"cy": 0.5},
    }
    mentions = [
        (0, 0, 0, [("A", 0.5), ("B", 0.5)]),
        (0, 2, 2, [("P1", 1.0)]),
        (0, 40, 40, [("P2", 1.0)]),
    ]
    assert _run_case(ctx_map, mentions) == {"A", "P1", "P2"}
