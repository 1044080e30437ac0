"""Local mimic of the driver's correctness gate: run each queries()
entry on Spark and its oracle_sql() twin on DuckDB, compare row count,
column names, and an order-insensitive value hash."""

import hashlib
import os
import sys

# this checkout's package, in this process and in the Python workers the
# JVM forks (they inherit PYTHONPATH), whatever the working directory
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
)

import duckdb  # noqa: E402

import __spark_entry__ as E  # noqa: E402
from careers_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return f"{v:.6f}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def value_hash(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(",".join(norm_cell(r[i]) for i in order) for r in rows)
    return hashlib.md5("\n".join(lines).encode()).hexdigest()


def main(only=None):
    spark = get_spark("oracle_check", cpus=8, extra_conf={"spark.ui.showConsoleProgress": "false"})
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"create view {t} as select * from '{SF_DIR}/{t}.parquet'")
    qs = E.queries()
    os_ = E.oracle_sql()
    results = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            df = fn(spark, SF_DIR)
            srows = df.collect()
            scols = df.columns
        except Exception as ex:
            results.append((name, "SPARK_FAIL", str(ex)[:300]))
            continue
        if name not in os_:
            results.append((name, "ROWS_ONLY", f"{len(srows)} rows"))
            continue
        try:
            cur = con.execute(os_[name])
            dcols = [d[0] for d in cur.description]
            drows = cur.fetchall()
        except Exception as ex:
            results.append((name, "ORACLE_FAIL", str(ex)[:300]))
            continue
        if sorted(scols) != sorted(dcols):
            results.append((name, "COLS_MISMATCH", f"spark={scols} duck={dcols}"))
            continue
        if len(srows) != len(drows):
            results.append((name, "COUNT_MISMATCH", f"spark={len(srows)} duck={len(drows)}"))
            continue
        sh = value_hash([[r[c] for c in scols] for r in srows], scols)
        dh = value_hash([[r[dcols.index(c)] for c in scols] for r in drows], scols)
        if sh != dh:
            results.append((name, "HASH_MISMATCH", f"{len(srows)} rows"))
        else:
            results.append((name, "OK", f"{len(srows)} rows"))
    # targeted runs get their own file so a concurrent full sweep's
    # results are never clobbered
    out = "/tmp/oracle_check.txt" if not only else "/tmp/oracle_check_targeted.txt"
    with open(out, "w") as f:
        for name, status, info in results:
            f.write(f"{status:15s} {name:25s} {info}\n")
    spark.stop()


if __name__ == "__main__":
    main(set(sys.argv[1:]) or None)
