"""Regenerate the pinned golden oracle for kg_triples_synth.

The synth pipeline is deterministic (seed=42); its triple set IS the
spec (fixture-pinned, like the reference's shortPhrases.xml corpus).
Re-run this after any intentional change to the resolver/extraction
semantics; the pytest P/R gate guards against unintentional drift.
"""

import os
import sys

# this checkout's package, in this process and in the Python workers the
# JVM forks (they inherit PYTHONPATH), whatever the working directory
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
)

from careers_spark.plans.flagship import kg_triples_synth  # noqa: E402
from careers_spark.session import get_spark  # noqa: E402

OUT = os.path.join(ROOT, "careers_spark", "golden", "kg_triples_synth.sql")


def main():
    spark = get_spark("pin_golden", cpus=8, extra_conf={"spark.ui.showConsoleProgress": "false"})
    rows = sorted(
        (r.conv_id, r.turn_idx, r.subj, r.pred, r.obj)
        for r in kg_triples_synth(spark).collect()
    )
    os.makedirs(os.path.dirname(OUT), exist_ok=True)

    def q(s):
        return "'" + str(s).replace("'", "''") + "'"

    values = ",\n  ".join(
        f"({q(c)}, {t}, {q(s)}, {q(p)}, {q(ob)})" for c, t, s, p, ob in rows
    )
    with open(OUT, "w") as f:
        f.write(
            "SELECT conv_id, CAST(turn_idx AS INTEGER) AS turn_idx, subj, pred, obj\n"
            f"FROM (VALUES\n  {values}\n) AS t(conv_id, turn_idx, subj, pred, obj)\n"
        )
    print(f"pinned {len(rows)} triples -> {OUT}")
    spark.stop()


if __name__ == "__main__":
    main()


TR_OUT = os.path.join(ROOT, "careers_spark", "golden", "transcripts_synth.sql")


def pin_transcripts():
    """Pin the synth transcript corpus itself (129 turns, 30 convs) so
    transcript-shape operators get VALUES-table oracles like the
    triple set does."""
    from careers_spark import synth
    from careers_spark.plans import flagship

    kb = synth.build_kb(flagship.SYNTH_DOMAINS)
    pdf = synth.gen_transcripts_pdf(kb, flagship.SYNTH_CONVS)

    def q(s):
        return "'" + str(s).replace("'", "''") + "'"

    values = ",\n  ".join(
        f"({q(r.conv_id)}, {int(r.turn_idx)}, {q(r.role)}, {q(r.text)},"
        f" {q(r.tool)}, {q(r.ts)})"
        for r in pdf.itertuples()
    )
    with open(TR_OUT, "w") as f:
        f.write(
            "SELECT conv_id, CAST(turn_idx AS INTEGER) AS turn_idx,"
            " role, text, tool, CAST(ts AS TIMESTAMP) AS ts\n"
            f"FROM (VALUES\n  {values}\n)"
            " AS t(conv_id, turn_idx, role, text, tool, ts)\n"
        )
    print(f"pinned {len(pdf)} turns -> {TR_OUT}")
