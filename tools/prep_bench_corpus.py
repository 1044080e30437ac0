"""Materialize a deterministic bench corpus: transcripts + dictionary
raw tables (+ expected triples) as parquet, so N- and 4N-core runs read
the IDENTICAL input."""

import argparse
import os
import sys

# this checkout's package, in this process and in the Python workers the
# JVM forks (they inherit PYTHONPATH), whatever the working directory
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
)

from careers_spark import synth  # noqa: E402
from careers_spark.session import get_spark  # noqa: E402


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--n-convs", type=int, default=40000)
    ap.add_argument("--n-domains", type=int, default=0, help="0 = n_convs//50")
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument(
        "--profile",
        choices=("short", "long"),
        default="short",
        help="'short' = the 3-7 turn gen_conv corpus; 'long' = "
        "gen_long_transcripts (120-1500 turns/conv, the dense-resolver "
        "regime)",
    )
    ap.add_argument(
        "--turn-cycle",
        default="",
        help="long profile only: comma-separated conversation lengths "
        "cycled by conv_idx (default: synth.LONG_TURN_CYCLE); e.g. "
        "'30,60' targets the 64-192 candidate-row band the dense "
        "threshold decision needs",
    )
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    n_domains = args.n_domains or max(8, args.n_convs // 50)
    spark = get_spark("prep_bench", extra_conf={"spark.ui.showConsoleProgress": "false"})
    kb = synth.build_kb(n_domains, seed=args.seed)
    kw = {}
    if args.profile == "long":
        gen_t, gen_e = synth.gen_long_transcripts, synth.gen_long_expected_triples
        if args.turn_cycle:
            kw["turn_cycle"] = tuple(
                int(x) for x in args.turn_cycle.split(",") if x
            )
    else:
        gen_t, gen_e = synth.gen_transcripts, synth.gen_expected_triples
    gen_t(spark, kb, args.n_convs, seed=args.seed, **kw).write.mode(
        "overwrite"
    ).parquet(f"{args.out}/transcripts")
    gen_e(spark, kb, args.n_convs, seed=args.seed, **kw).write.mode(
        "overwrite"
    ).parquet(f"{args.out}/expected_triples")
    for name, df in synth.kb_tables(spark, kb).items():
        df.write.mode("overwrite").parquet(f"{args.out}/{name}")
    n = spark.read.parquet(f"{args.out}/transcripts").count()
    print(f"corpus ready: {args.n_convs} convs, {n} turns -> {args.out}")
    spark.stop()


if __name__ == "__main__":
    main()
