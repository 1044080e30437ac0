"""Stream poll latency against digest-store size.

Drives `stream_kg_incremental(once=True)` for a series of closed-loop
polls of fresh synth conversations into one out_dir, so the stores grow
by one poll each time. Every poll's files are written before the first
poll and delivered by rename, so a poll's wall holds only the program's
work. Per poll it records the poll wall, the sink wall, the Spark jobs
the sink ran (tagged with a job group inside the sink), and the rows of
the digest store and of the poll's matches once the poll is done.

    python tools/poll_latency.py                      # 12 polls x 500
    python tools/poll_latency.py --polls 4 --convs 100 --out poll.json

Prints one JSON line per poll and a markdown table at the end; --out
also writes the rows as a JSON list. Run nothing else beside it: the
walls are only comparable on a quiet host.
"""

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

# this checkout's package, in this process and in the Python workers the
# JVM forks (they inherit PYTHONPATH), whatever the working directory
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
)

from pyspark.sql import functions as F  # noqa: E402

from careers_spark import synth  # noqa: E402
from careers_spark.operators.model import KGModel  # noqa: E402
from careers_spark.plans.pipeline import KGPipeline  # noqa: E402
from careers_spark.session import get_spark  # noqa: E402
from careers_spark.streaming import ingest  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--polls", type=int, default=12)
    ap.add_argument("--convs", type=int, default=500, help="conversations per poll")
    ap.add_argument("--domains", type=int, default=40, help="synth KB domains")
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--out", help="also write the per-poll rows here as JSON")
    args = ap.parse_args()

    spark = get_spark("poll_latency", extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    work = tempfile.mkdtemp(prefix="poll_latency_")
    try:
        kb = synth.build_kb(args.domains, seed=args.seed)
        dict_out = KGPipeline(spark, os.path.join(work, "dict")).run_dictionary(
            synth.kb_tables(spark, kb)
        ).outputs
        model = KGModel.build(
            dict_out["dict_surface_forms"], dict_out["dict_context_vectors"]
        )

        # synth numbers conversations conv00000000, conv00000001, ...
        cid = lambda i: f"conv{i:08d}"  # noqa: E731
        corpus = synth.gen_transcripts(
            spark, kb, args.polls * args.convs, seed=args.seed
        ).localCheckpoint(eager=True)
        slices = []
        for k in range(args.polls):
            d = os.path.join(work, f"slice{k}")
            lo, hi = cid(k * args.convs), cid((k + 1) * args.convs)
            corpus.filter((F.col("conv_id") >= lo) & (F.col("conv_id") < hi)).write.parquet(d)
            slices.append(d)
        in_dir, out_dir = os.path.join(work, "in"), os.path.join(work, "out")
        os.makedirs(in_dir)

        # time the sink and tag its jobs: stream_kg_incremental builds its
        # sink through this module attribute
        calls = []
        make_sink = ingest.make_incremental_sink

        def timed_make_sink(*a, **kw):
            sink = make_sink(*a, **kw)

            def timed_sink(batch_df, epoch_id):
                group = f"poll-latency-{epoch_id}"
                sc.setJobGroup(group, group)
                t0 = time.monotonic()
                try:
                    sink(batch_df, epoch_id)
                finally:
                    calls.append((int(epoch_id), group, time.monotonic() - t0))
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)

            return timed_sink

        ingest.make_incremental_sink = timed_make_sink
        rows = []
        try:
            for k, d in enumerate(slices):
                n_calls, t0 = len(calls), time.monotonic()
                for f in os.listdir(d):
                    if f.endswith(".parquet"):
                        os.rename(os.path.join(d, f), os.path.join(in_dir, f))
                q = ingest.stream_kg_incremental(
                    spark, in_dir, out_dir, os.path.join(work, "ckpt"),
                    model.automaton, dict_out["dict_surface_forms"], model.interned,
                    once=True,
                )
                q.awaitTermination()
                wall = time.monotonic() - t0
                if q.exception() is not None:
                    raise RuntimeError(str(q.exception()))
                mine = calls[n_calls:]  # the poll's micro-batches
                epochs = [ep for ep, _, _ in mine]
                row = {
                    "poll": k,
                    "poll_s": round(wall, 3),
                    "sink_s": round(sum(s for _, _, s in mine), 3),
                    "jobs": sum(len(sc.statusTracker().getJobIdsForGroup(g)) for _, g, _ in mine),
                    "digest_store_rows": spark.read.parquet(os.path.join(out_dir, "digests")).count(),
                    "match_rows": spark.read.parquet(os.path.join(out_dir, "matches"))
                    .filter(F.col("epoch").isin(epochs))
                    .count(),
                }
                rows.append(row)
                print(json.dumps(row), flush=True)
        finally:
            ingest.make_incremental_sink = make_sink
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)

    print("| poll | poll_s | sink_s | jobs | digest_store_rows | match_rows |")
    print("|---:|---:|---:|---:|---:|---:|")
    for r in rows:
        print(
            f"| {r['poll']} | {r['poll_s']:.2f} | {r['sink_s']:.2f} | {r['jobs']} "
            f"| {r['digest_store_rows']} | {r['match_rows']} |"
        )
    if args.out:
        with open(args.out, "w") as f:
            json.dump(rows, f, indent=1)


if __name__ == "__main__":
    main()
