"""spark-submit entry point for the KG-construction pipeline.

    spark-submit --master local[N] --py-files careers_spark.zip \
        run_pipeline.py --input <prep dir> --work-dir <dir> [--json-out f]

Reads the prep-materialized transcripts + dictionary tables (see
tools/prep_bench_corpus.py), runs the checkpointed pipeline, and prints
one JSON line with per-stage walls, triples/sec, and (when expected
triples are present) triple P/R.
"""

from __future__ import annotations

import argparse
import json
import time

from pyspark.sql import SparkSession


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--work-dir", required=True)
    ap.add_argument(
        "--dict-cache",
        default=None,
        help="checkpoint dir for the corpus-independent dictionary model "
        "(shareable across runs/cluster sizes, like the reference's "
        "one-time wikibatch model build); default: inside --work-dir",
    )
    ap.add_argument("--json-out", default=None)
    ap.add_argument("--skip-pr", action="store_true")
    ap.add_argument(
        "--no-tfidf",
        action="store_true",
        help="disable the (default-on) anchor-prior x TF-IDF "
        "context-cosine linking scores",
    )
    ap.add_argument(
        "--dict-only",
        action="store_true",
        help="build the dictionary model + pickled artifact into "
        "--dict-cache and exit (the one-time shared phase; lets the "
        "scaling harness build it once at full parallelism)",
    )
    ap.add_argument(
        "--no-warmup",
        action="store_true",
        help="skip the python-worker/JVM warmup job that runs before the "
        "corpus timer (warmup excludes one-time executor spin-up from "
        "the steady-state throughput measurement)",
    )
    args = ap.parse_args()

    spark = (
        SparkSession.builder.appName("kg_pipeline")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")

    from careers_spark.plans.pipeline import KGPipeline

    raw = {
        name: spark.read.parquet(f"{args.input}/{name}")
        for name in ("surface_forms_raw", "topic_contexts", "redirects", "same_as")
    }
    transcripts = spark.read.parquet(f"{args.input}/transcripts")
    n_turns = transcripts.count()

    # phase 1: dictionary model build (one-time, corpus-independent),
    # including the pickled automaton + context-map artifact (the
    # analogue of the reference's phraseMap.bin binary model)
    from careers_spark.operators.model import KGModel

    t0 = time.monotonic()
    dict_dir = args.dict_cache or f"{args.work_dir}/dict"
    dict_pipe = KGPipeline(spark, dict_dir)
    drun = dict_pipe.run_dictionary(raw)
    model = KGModel.build_or_load(
        drun.outputs["dict_surface_forms"],
        drun.outputs["dict_context_vectors"],
        cache_path=f"{dict_dir}/model.pkl",
    )
    dict_wall = time.monotonic() - t0

    if args.dict_only:
        print(json.dumps({"dict_wall_s": round(dict_wall, 2),
                          "dict_resumed": all(s.resumed for s in drun.stages)}))
        spark.stop()
        return

    if not args.no_warmup:
        # spin up every python worker + JIT the codegen paths before the
        # throughput timer: on a long-lived cluster these are one-time
        # executor costs, not per-batch costs
        n = spark.sparkContext.defaultParallelism
        spark.range(n * 4, numPartitions=n * 4).mapInPandas(
            lambda it: it, schema="id long"
        ).count()

    # phase 2: transcript processing (the scaling-relevant phase)
    t0 = time.monotonic()
    run = KGPipeline(spark, args.work_dir).run_corpus(
        transcripts, drun.outputs, model=model, tfidf=not args.no_tfidf
    )
    wall = time.monotonic() - t0
    n_triples = next(s.rows for s in run.stages if s.name == "triples")

    out = {
        "parallelism": spark.sparkContext.defaultParallelism,
        "n_turns": n_turns,
        "n_triples": n_triples,
        "dict_wall_s": round(dict_wall, 2),
        "dict_resumed": all(s.resumed for s in drun.stages),
        "wall_s": round(wall, 2),
        "turns_per_sec": round(n_turns / wall, 1),
        "triples_per_sec": round(n_triples / wall, 1),
        "stages": run.metrics(),
    }

    import os

    if not args.skip_pr and os.path.isdir(f"{args.input}/expected_triples"):
        exp = (
            spark.read.parquet(f"{args.input}/expected_triples")
            .select("conv_id", "subj", "pred", "obj")
            .distinct()
        )
        got = run.outputs["triples"].select("conv_id", "subj", "pred", "obj").distinct()
        tp = got.intersect(exp).count()
        fp = got.exceptAll(exp).count()
        fn = exp.exceptAll(got).count()
        out["precision"] = round(tp / max(tp + fp, 1), 4)
        out["recall"] = round(tp / max(tp + fn, 1), 4)

    line = json.dumps(out)
    print(line)
    if args.json_out:
        with open(args.json_out, "w") as f:
            f.write(line)
    spark.stop()


if __name__ == "__main__":
    main()
