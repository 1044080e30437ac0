"""End-to-end resolver fidelity gate: the reference's shortPhrases.xml
golden corpus (35 enabled cases) ported to transcripts.

Reference: scala/src/test/scala/data/shortPhrases.xml, harness
testDisambiguator.scala:483-542 — each phrase runs through the full
disambiguator and the resolved topic names are asserted name-for-name.

Here every phrase is one single-turn conversation; all 35 run through
ONE dictionary build + mention scan + coherence resolution, and the
distinct resolved topic set per conversation must EQUAL the expected
set (stricter than the reference harness, which asserts containment).
Deviations from the reference's raw expectations are documented in
short_phrases.CASES[*]["waived"].
"""

import pandas as pd

from careers_spark import schema as S
from careers_spark import synth
from careers_spark.golden import short_phrases as SP
from careers_spark.operators import coherence as CO
from careers_spark.operators import dictionary as D
from careers_spark.operators.model import KGModel
from careers_spark.plans.pipeline import (
    checkpoint_stage,
    dictionary_phase,
    link_and_resolve,
)


def _resolve_all(spark):
    kb = SP.golden_kb()
    raw = synth.kb_tables(spark, kb)
    built = dictionary_phase(checkpoint_stage, raw)
    sf = built["dict_surface_forms"]
    ctx_vecs = built["dict_context_vectors"]

    rows = [(c["id"], 0, "user", c["phrase"], "", i) for i, c in enumerate(SP.CASES)]
    pdf = pd.DataFrame(
        rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts_epoch"]
    )
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    pdf["ts"] = pd.to_datetime(pdf.pop("ts_epoch"), unit="s")
    transcripts = spark.createDataFrame(pdf, schema=S.TRANSCRIPTS)

    out = link_and_resolve(
        checkpoint_stage, transcripts, sf, KGModel.build(sf, ctx_vecs)
    )
    got: dict[str, set] = {}
    for r in CO.links_of(out).collect():
        got.setdefault(r.conv_id, set()).add(r.topic)
    return got


def test_short_phrases_golden_corpus(spark):
    got = _resolve_all(spark)
    failures = []
    for case in SP.CASES:
        want = set(case["expected"])
        have = got.get(case["id"], set())
        if have != want:
            failures.append(
                f"{case['id']} {case['phrase'][:60]!r}\n"
                f"    missing: {sorted(want - have)}\n"
                f"    extra:   {sorted(have - want)}"
            )
    msg = f"{len(failures)}/{len(SP.CASES)} golden cases failed:\n" + "\n".join(failures)
    # the VERDICT gate is >=0.95 of ported cases; we hold the full corpus
    assert not failures, msg


def test_reference_expectations_canonicalize(spark):
    """Zero silent divergence from the reference corpus: for every case
    carrying the reference's RAW topic list (``reference_expected``),
    mapping it through the built redirect table plus the per-case
    documented corrections (``waived``, each annotated with the
    reference's own rationale) must yield exactly ``expected``. sp28's
    'Gene sequencing' closes through the redirect fixpoint alone; sp10's
    'Platform game' is the one remaining correction, and the reference
    file itself marks it Wrong (shortPhrases.xml:120)."""
    kb = SP.golden_kb()
    raw = synth.kb_tables(spark, kb)
    redirect = {
        r.from_topic: r.to_topic
        for r in D.resolve_redirects(raw["redirects"]).collect()
    }
    corrections = {  # reference topic -> asserted topic, per the waiver
        "Main:Platform game": "Main:Computing platform",
    }
    checked = 0
    for case in SP.CASES:
        ref = case.get("reference_expected")
        if ref is None:
            continue
        mapped = {corrections.get(t, redirect.get(t, t)) for t in ref}
        assert mapped == set(case["expected"]), case["id"]
        # every correction used must be covered by a documented waiver
        used = {t for t in ref if t in corrections}
        for t in used:
            assert t.removeprefix("Main:") in case.get("waived", {}), (
                case["id"], t
            )
        checked += 1
    assert checked == 2  # sp10 and sp28 carry raw reference lists
