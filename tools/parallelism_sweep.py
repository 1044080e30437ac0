"""Parallelism-determinism sweep: run the named driver queries at two
local parallelism levels in SEPARATE Spark sessions and compare
order-insensitive value hashes — byte-identical results required.

Usage: python tools/parallelism_sweep.py q1 q2 ...   (default: all)
"""

import os
import subprocess
import sys

# this checkout's package, in this process and in the Python workers the
# JVM forks (they inherit PYTHONPATH), whatever the working directory
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
)

CHILD = r"""
import hashlib, json, sys
import __spark_entry__ as E
from careers_spark.session import get_spark

cpus = int(sys.argv[1])
names = sys.argv[2:]
spark = get_spark(f"psweep{cpus}", cpus=cpus,
                  extra_conf={"spark.ui.showConsoleProgress": "false"})
qs = E.queries()
out = {}
for name in names:
    df = qs[name](spark, "/root/testdata/sf0.01")
    cols = sorted(df.columns)
    def norm(v):
        if v is None: return "NULL"
        if isinstance(v, float): return f"{v:.6f}"
        if isinstance(v, bool): return str(int(v))
        return str(v)
    lines = sorted(",".join(norm(r[c]) for c in cols) for r in df.collect())
    out[name] = hashlib.md5("\n".join(lines).encode()).hexdigest()
print("HASHES " + json.dumps(out))
"""


def run(cpus, names):
    p = subprocess.run(
        [sys.executable, "-c", CHILD, str(cpus), *names],
        capture_output=True, text=True,
    )
    for line in p.stdout.splitlines():
        if line.startswith("HASHES "):
            import json

            return json.loads(line[7:])
    print(p.stdout[-2000:], p.stderr[-2000:])
    raise SystemExit(f"child (cpus={cpus}) produced no hashes")


def main():
    import __spark_entry__ as E

    names = sys.argv[1:] or list(E.queries())
    h2 = run(2, names)
    h8 = run(8, names)
    bad = [n for n in names if h2[n] != h8[n]]
    for n in names:
        status = "MATCH" if h2[n] == h8[n] else "DIFF"
        print(f"{status:6s} {n}")
    if bad:
        raise SystemExit(f"non-deterministic under parallelism: {bad}")
    print(f"all {len(names)} queries byte-identical at cpus=2 vs 8")


if __name__ == "__main__":
    main()
