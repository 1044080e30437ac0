"""Louvain depth evidence (r4 verdict #6): run the contraction loop to
`levels` on the bench entity graph and print level-by-level community
counts + modularity Q of the COMPOSED labeling, Q computed on the
ORIGINAL graph via the exact (oracle-gated) modularity operator — shows
the early-stop and level bound are not hiding convergence issues.

Mirrors communities.louvain's loop verbatim (seed-per-level, loops=True
refinement, left-join label composition, contraction with self-loop
carry), with a Q/count probe after each level.

Usage: python tools/louvain_depth.py [levels] [sf_dir]
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

from pyspark.sql import functions as F  # noqa: E402

from careers_spark.operators.communities import (  # noqa: E402
    louvain_refine,
    modularity,
)
from careers_spark.session import get_spark  # noqa: E402

LEVELS = int(sys.argv[1]) if len(sys.argv) > 1 else 4
SF_DIR = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
ROUNDS = 4  # the driver query's louvain(rounds=4) cadence


def main() -> None:
    spark = get_spark(
        "louvain_depth", cpus=32,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    from careers_spark.operators import dedup as DD

    # the same token co-occurrence graph as the louvain_communities
    # driver query (min_obs=35)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").filter(
        "doc_id % 10 = 0"
    )
    toks = docs.select(
        "doc_id", F.explode(F.array_distinct(DD.tokens_col("text"))).alias("tok")
    )
    a = toks.selectExpr("doc_id", "tok as src")
    b = toks.selectExpr("doc_id as d2", "tok as dst")
    edges = (
        a.join(b, (a.doc_id == b.d2) & (F.col("src") < F.col("dst")))
        .groupBy("src", "dst")
        .agg(F.count("*").alias("n_obs"))
        .filter("n_obs >= 35")
        .localCheckpoint(eager=True)
    )

    cur = edges.select(
        F.col("src"), F.col("dst"), F.col("n_obs").alias("w")
    ).localCheckpoint(eager=True)
    nodes = (
        cur.select(F.col("src").alias("node"))
        .union(cur.select(F.col("dst").alias("node")))
        .dropDuplicates()
    )
    mapping = nodes.withColumn("community", F.col("node")).localCheckpoint(
        eager=True
    )
    n0 = nodes.count()
    q0 = (
        modularity(edges, mapping, weight="n_obs")
        .agg(F.sum("q_contrib"))
        .collect()[0][0]
    )
    print(f"level 0 (singletons): nodes={n0} comms={n0} Q={q0:.6f}")

    for lvl in range(1, LEVELS + 1):
        seed = (
            cur.select(F.col("src").alias("node"))
            .union(cur.select(F.col("dst").alias("node")))
            .dropDuplicates()
            .withColumn("community", F.col("node"))
            .localCheckpoint(eager=True)
        )
        refined = louvain_refine(
            cur, seed, src="src", dst="dst", weight="w", rounds=ROUNDS,
            loops=True,
        )
        lvl_map = refined.select(
            F.col("node").alias("community"), F.col("community").alias("new_c")
        )
        mapping = (
            mapping.join(lvl_map, "community", "left")
            .select(
                "node",
                F.coalesce(F.col("new_c"), F.col("community")).alias("community"),
            )
            .localCheckpoint(eager=True)
        )
        n_nodes = seed.count()
        n_comms = refined.select("community").dropDuplicates().count()
        q = (
            modularity(edges, mapping, weight="n_obs")
            .agg(F.sum("q_contrib"))
            .collect()[0][0]
        )
        print(
            f"level {lvl}: contracted_nodes={n_nodes} comms={n_comms} "
            f"Q={q:.6f}"
        )
        if n_comms == n_nodes:
            print(f"level {lvl}: no merges -> converged (early stop)")
            break
        rm = refined.withColumnRenamed("community", "c")
        cur = (
            cur.join(rm.withColumnRenamed("node", "src"), "src")
            .withColumnRenamed("c", "src_c")
            .join(rm.withColumnRenamed("node", "dst"), "dst")
            .withColumnRenamed("c", "dst_c")
            .groupBy(F.col("src_c").alias("src"), F.col("dst_c").alias("dst"))
            .agg(F.sum("w").alias("w"))
            .localCheckpoint(eager=True)
        )
    spark.stop()


if __name__ == "__main__":
    main()
