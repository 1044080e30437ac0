"""Fast end-to-end smoke: tiny synth corpus -> pipeline -> P/R printout."""

import os
import shutil
import sys
import tempfile

# this checkout's package, in this process and in the Python workers the
# JVM forks (they inherit PYTHONPATH), whatever the working directory
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
)

from careers_spark import synth
from careers_spark.plans.pipeline import KGPipeline
from careers_spark.session import get_spark


def main(n_convs: int = 20, n_domains: int = 8) -> None:
    spark = get_spark("smoke", cpus=8)
    kb = synth.build_kb(n_domains)
    transcripts = spark.createDataFrame(synth.gen_transcripts_pdf(kb, n_convs))
    expected = spark.createDataFrame(synth.gen_expected_triples_pdf(kb, n_convs))
    raw = synth.kb_tables(spark, kb)

    work = tempfile.mkdtemp(prefix="kgsmoke_")
    try:
        pipe = KGPipeline(spark, work)
        run = pipe.run(transcripts, raw)
        triples = run.outputs["triples"].select("conv_id", "subj", "pred", "obj")
        exp = expected.select("conv_id", "subj", "pred", "obj").distinct()
        got = triples.distinct()
        tp = got.intersect(exp).count()
        fp = got.exceptAll(exp.distinct()).count()
        fn = exp.exceptAll(got).count()
        print("metrics:", run.metrics())
        print(f"TP={tp} FP={fp} FN={fn}")
        if fp or fn:
            print("--- false positives:")
            got.subtract(exp).show(20, False)
            print("--- false negatives:")
            exp.subtract(got).show(20, False)
        p = tp / max(tp + fp, 1)
        r = tp / max(tp + fn, 1)
        print(f"P={p:.3f} R={r:.3f}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main(*(int(a) for a in sys.argv[1:]))
