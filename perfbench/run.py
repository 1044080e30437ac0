"""KG-construction benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload batch_short --seed 1 --seconds 20 --trace 0

Prints every metric by name with its unit, then one JSON line
{"correct", "attempted", "failed", "metrics"} as the last line of
standard output. Every run times the same fixed number of units, so
`--seconds` is accepted but does not change the work measured.
`--trace 0` reports the end-to-end metrics; `--trace 1` adds a traced
run and reports the per-layer metrics instead. Exits 1
when an output check failed, 2 when the pipeline package is missing.
See perfbench/README.md.
"""

import sys

# the benchmark leaves no bytecode in the tree it measures
sys.dont_write_bytecode = True

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import time  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("batch_short", "batch_long", "stream_polls")
# iterations of the weather probe loop: about 0.1 s on one quiet core
WEATHER_LOOP = 1_500_000


def weather() -> dict:
    """Host weather as context, not as a metric: the repo's single-thread
    probe, then the same probe in `nproc` processes at once. `wide_s` is
    the slowest of those loops (interpreter start-up excluded);
    `wide_ratio` is it over the single-thread time."""
    from perfbench.harness import cpu_count
    from tools.weather_probe import probe_once

    n = cpu_count()
    single = probe_once(WEATHER_LOOP)
    code = f"from tools.weather_probe import probe_once; print(probe_once({WEATHER_LOOP}))"
    procs = [
        subprocess.Popen([sys.executable, "-B", "-c", code], cwd=ROOT,
                         stdout=subprocess.PIPE, text=True)
        for _ in range(n)
    ]
    wide = max(float(p.communicate()[0]) for p in procs)
    return {"probe_s": single, "wide_s": wide,
            "wide_ratio": round(wide / single, 2), "width": n}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="accepted; every run times a fixed number of units")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "careers_spark", "__init__.py")):
        print(f"careers_spark package not found under {ROOT}", file=sys.stderr)
        return 2

    # workers forked by the JVM import careers_spark: the repo root goes
    # on their path whatever the caller's working directory is
    sys.path[0] = ROOT
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM of the run, the spark-submit launcher's too, keeps its
    # temp files under `work` and writes no hsperfdata file to /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS"),
                    f"-Djava.io.tmpdir={os.environ['TMPDIR']}", "-XX:-UsePerfData") if p
    )
    # SPARK_LOCAL_DIRS would override spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark_local")

    from perfbench import harness
    from perfbench.workloads import Bench, per_layer_units

    weather_before = weather()
    t0 = time.monotonic()
    try:
        res = Bench(args.workload, args.seed, bool(args.trace), work).run()
    finally:
        harness.shutdown_spark()
        shutil.rmtree(work, ignore_errors=True)
        if not os.listdir(work_root):
            os.rmdir(work_root)
    elapsed = time.monotonic() - t0
    weather_after = weather()

    if args.trace:
        units = per_layer_units()
        metrics = {k: {"value": res.layers[k], "unit": u} for k, u in units.items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in res.end_to_end().items()}
    correct = res.failed == 0 and bool(res.units)

    print(f"workload {args.workload} seed {args.seed} trace {args.trace} "
          f"units {len(res.units)} elapsed {elapsed:.1f}s")
    for k, v in res.setup.items():
        print(f"  setup.{k:<16} {v:10.3f} s")
    for u in res.units:
        print(f"  unit wall {u.wall_s:8.3f} s  cpu {u.cpu_s:8.3f} s  "
              f"triples {u.triples}  md5 {u.md5}")
    for s in res.spans:
        print(f"  span {s.name:<28} {s.wall_s:8.3f} s  parent {s.parent}")
    for k, m in metrics.items():
        print(f"  {k:<36} {m['value']:14.4f} {m['unit']}")
    print(f"  weather before {json.dumps(weather_before)} after {json.dumps(weather_after)}")
    print(json.dumps({
        "correct": correct, "attempted": res.attempted,
        "failed": res.failed, "metrics": metrics,
    }), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
