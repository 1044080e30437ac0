"""Physical-plan assertions: the optimizations we rely on at 100 TB
must be visible in explain() output — filter pushdown to the parquet
scan, broadcast hash joins for dimension tables, whole-stage codegen
around the hot expressions, and partial (map-side) aggregation."""

import pandas as pd
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_filter_pushdown_to_scan(spark):
    df = (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .filter(F.col("l_shipdate") < "1996-01-01")
        .select("l_orderkey", "l_extendedprice")
    )
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate" in plan
    # column pruning: the scan reads only the needed columns
    assert "l_comment" not in plan
    assert "ReadSchema" in plan


def test_word_doc_freq_partial_aggregation(spark):
    from careers_spark.operators import dictionary as D

    t = spark.read.parquet(f"{SF}/documents.parquet").selectExpr(
        "cast(doc_id as string) as conv_id",
        "0 as turn_idx",
        "'user' as role",
        "text",
        "'' as tool",
        "current_timestamp() as ts",
    )
    plan = _plan(D.word_doc_freq(t))
    # partial (map-side combine) + final aggregate around the exchange
    assert plan.count("HashAggregate") >= 2
    assert "partial_count" in plan


def test_dedup_stays_jvm_side(spark):
    """The dedup family must be pure Catalyst — no python UDF nodes."""
    from careers_spark.operators import dedup as DD

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    for df in (
        DD.dedup_exact(docs),
        DD.minhash_signatures(docs, num_hashes=2),
        DD.simhash(docs, bits=8),
    ):
        plan = _plan(df)
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan


def test_topk_uses_window_not_global_sort(spark):
    from careers_spark.operators import dictionary as D

    lw = spark.createDataFrame(
        pd.DataFrame(
            {
                "topic": ["t"] * 3,
                "context": ["a", "b", "c"],
                "weight1": [0.1, 0.2, 0.3],
                "weight2": [0.0] * 3,
            }
        )
    )
    plan = _plan(D.top_contexts(lw, k=2))
    assert "RunningWindowFunction" in plan or "Window" in plan


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Co-bucketed tables join on the bucket key without a shuffle —
    the co-location strategy for repeated conv_id-keyed joins at scale."""
    from careers_spark.sources.catalog import Catalog

    cat = Catalog(spark, str(tmp_path))
    a = spark.range(0, 1000).selectExpr("id as k", "id * 2 as va")
    b = spark.range(0, 1000).selectExpr("id as k", "id * 3 as vb")
    cat.write_bucketed(a, "bkt_a", "k", n_buckets=8)
    cat.write_bucketed(b, "bkt_b", "k", n_buckets=8)
    try:
        # force SMJ (tiny tables would broadcast); the point is that the
        # sort-merge join reads bucketed data with NO shuffle exchange
        joined = spark.table("bkt_a").hint("merge").join(spark.table("bkt_b"), "k")
        plan = _plan(joined)
        assert "SortMergeJoin" in plan
        assert "hashpartitioning" not in plan, plan
        assert joined.count() == 1000
    finally:
        spark.sql("DROP TABLE IF EXISTS bkt_a")
        spark.sql("DROP TABLE IF EXISTS bkt_b")


def test_near_dup_unsampled_has_no_cartesian(spark):
    """embedding_near_dup_pairs without a sample predicate must route
    through LSH buckets (bucket equi-join + exact verify), never a
    CartesianProduct — the 100 TB path. The sampled path stays the exact
    cross join by declared contract."""
    from careers_spark.operators import similarity as SIM

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = _plan(SIM.embedding_near_dup_pairs(emb, threshold=0.5, dim=64))
    # no vectors-x-vectors product; the only nested-loop joins allowed are
    # the tiny broadcast `planes` dim (8 rows) feeding the bucketizer
    assert "CartesianProduct" not in plan, plan
    # the candidate pair join is an equi-join on the bucket key
    assert "bucket" in plan

    sampled = SIM.embedding_near_dup_pairs(
        emb, threshold=0.5, sample_pred="vec_id % 5 = 0"
    )
    sp = _plan(sampled)
    assert "CartesianProduct" in sp or "BroadcastNestedLoopJoin Cross" in sp


def test_incremental_digest_pairs_no_cartesian(spark):
    """The blocked incremental matcher must materialize pairs through the
    digest-topic equi-join only — no crossJoin anywhere in the plan
    (the scale path for unbounded poll volumes)."""
    from careers_spark.operators import digests as DG

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    dv = docs.selectExpr(
        "cast(doc_id as bigint) as id", "lower(lang) as topic", "1.0 as weight"
    )
    out = DG.incremental_digest_pairs(
        dv.selectExpr("id as id_a", "topic", "weight").filter("id_a % 2 = 0"),
        dv.selectExpr("id as id_b", "topic", "weight").filter("id_b % 2 = 1"),
        left_cursor=10,
        right_cursor=10,
    )
    plan = _plan(out)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_coded_candidates_shuffle_carries_no_strings(spark):
    """Dictionary-coded candidate attach: after the map-side broadcast
    join, the surface string column is gone — downstream exchanges and
    checkpoints carry only int ids (+ conv_id)."""
    from careers_spark.operators import coherence as CO
    from careers_spark.operators import linking as L

    mentions = spark.createDataFrame(
        pd.DataFrame(
            {
                "conv_id": ["c1"],
                "turn_idx": pd.array([0], dtype="int32"),
                "start": pd.array([0], dtype="int32"),
                "end": pd.array([0], dtype="int32"),
                "surface": ["spark"],
            }
        )
    )
    sf = spark.createDataFrame(
        pd.DataFrame(
            {"surface": ["spark"], "topic": ["Main:Apache Spark"], "prior": [1.0]}
        )
    )
    sd, td = CO.build_id_dims(spark, ["spark"], ["Main:Apache Spark"])
    out = L.attach_candidates_coded(mentions, sf, sd, td)
    assert set(out.columns) == {
        "conv_id", "turn_idx", "start", "end", "surf_id", "topic_id", "prior"
    }
    plan = _plan(out)
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    row = out.collect()[0]
    assert (row.surf_id, row.topic_id) == (0, 0)


def test_simhash_near_dups_no_cartesian(spark):
    """SimHash near-dup candidates must come from the (band, band_val)
    pigeonhole equi-join — never an all-pairs product; the verify join
    is likewise an equi-join on (doc, band)."""
    from careers_spark.operators import dedup as DD

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(DD.simhash_near_dups(docs, max_hamming=3))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "band_val" in plan


def test_contamination_eval_side_is_broadcast(spark):
    """The decontamination screen must never shuffle the (huge) train
    side on the shingle key: the eval shingle set rides a broadcast
    hash join, and no sort-merge join or cartesian appears."""
    from careers_spark.operators import dedup as DD

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(DD.contamination_flags(docs, "doc_id % 97 = 0", n=3))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_pack_sequences_no_global_sort(spark):
    """Packing sorts only within (strata, shard) window partitions —
    a global ordering would appear as a 'Sort [' with a preceding
    rangepartitioning Exchange; assert the exchange hashes on the
    stream keys instead."""
    from careers_spark.operators.packing import pack_sequences

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(pack_sequences(docs, window=64, shards=4))
    assert "rangepartitioning" not in plan.lower()
    assert "hashpartitioning" in plan.lower()


def test_pagerank_iteration_is_partial_agg(spark):
    """One PageRank iteration's inflow groupBy must carry map-side
    partial aggregation (HashAggregate appears above AND below its
    exchange), and the dangling scalar joins back as a broadcast."""
    from careers_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(i, (i * 7) % 23) for i in range(23)], "src int, dst int"
    )
    plan = _plan(pagerank(edges, iterations=1))
    assert plan.count("HashAggregate") >= 2
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_session6_join_ops_have_no_cartesian(spark):
    """The session-6 join-heavy operators must keep their blocked /
    equi-join shapes: no CartesianProduct or nested-loop cross join in
    any executed plan."""
    from careers_spark.operators.dedup import (
        containment_pairs,
        golden_records,
    )
    from careers_spark.operators.funnel import multi_touch_attribution
    from careers_spark.operators.graph import negative_samples

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    events = spark.read.parquet(f"{SF}/events.parquet")
    edges = spark.createDataFrame(
        [("a", "b", 1), ("b", "c", 1)], "src string, dst string, n_obs int"
    )
    for df in (
        containment_pairs(docs),
        golden_records(docs),
        multi_touch_attribution(events),
        negative_samples(edges, m=2),
    ):
        plan = _plan(df)
        assert "CartesianProduct" not in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan


def test_rake_window_is_doc_partitioned(spark):
    """RAKE's only window runs per document — the plan must show a
    partitioned Window (never an empty PARTITION BY, which would be a
    single-partition global sort)."""
    from careers_spark.operators.textstats import rake_keywords

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(rake_keywords(docs))
    import re

    for spec in re.findall(r"partitionBy=\[([^\]]*)\]", plan):
        assert spec.strip(), plan


def test_ohlc_has_no_window_or_global_sort(spark):
    """OHLC's open/close ride the struct-argmax aggregation — no
    Window and no range-partitioned (global) sort; the struct
    min/max plans as partial SortAggregate, whose sorts are
    partition-local and combine map-side, so the only exchange is
    the hash shuffle on the grouping key."""
    from careers_spark.operators.temporal import ohlc_bars

    events = spark.read.parquet(f"{SF}/events.parquet")
    plan = _plan(ohlc_bars(events, ["event_type"]))
    assert "Window" not in plan, plan
    assert "rangepartitioning" not in plan, plan
    assert "PartialMerge" in plan or "partial_" in plan.lower(), plan


def test_session7_ops_have_no_cartesian(spark):
    """Assortativity and reciprocal-best keep equi-join shapes (the
    bitext miner's cross-side product is its DOCUMENTED exact path, so
    it is exempt by design)."""
    from careers_spark.operators.dedup import reciprocal_best_pairs
    from careers_spark.operators.graph import assortativity

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    edges = spark.createDataFrame(
        [(1, 2), (2, 3)], "src long, dst long"
    )
    for df in (assortativity(edges), reciprocal_best_pairs(docs)):
        plan = _plan(df)
        assert "CartesianProduct" not in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan


def test_pii_scrub_is_pure_map(spark):
    """PII scrubbing is one project over the scan: no Exchange, no
    Join, no aggregation anywhere in the executed plan."""
    from careers_spark.operators.privacy import pii_scrub

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(pii_scrub(docs))
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan
    assert "Aggregate" not in plan, plan


def test_session8_ops_have_no_cartesian(spark):
    """The session-8 join/window operators keep equi-join and
    partition-local shapes: winnowing pairs join on the fingerprint,
    IVFADC candidates join on list_id, EWMA fans out through an
    explode + hash-key groupBy — no CartesianProduct, no nested-loop
    cross join (pq_adc_topk's cross join is its DOCUMENTED exact
    baseline, exempt by design like brute_force/bitext)."""
    from careers_spark.operators.clustering import ivfadc_topk
    from careers_spark.operators.dedup import winnowing_overlap_pairs
    from careers_spark.operators.temporal import ewma_hourly

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    events = spark.read.parquet(f"{SF}/events.parquet")
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    for df in (
        winnowing_overlap_pairs(docs),
        ewma_hourly(events),
        ivfadc_topk(emb, k=3, nlist=4, nprobe=2, m=4, kcent=4, iters=1),
    ):
        plan = _plan(df)
        assert "CartesianProduct" not in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan


def test_ewma_has_no_window_and_windowed_ops_partition(spark):
    """EWMA is explode + groupBy only (no Window, no global sort);
    winnowing's window partitions BY DOCUMENT; the eval metrics
    (kappa, welch) collapse to partial-aggregable scalar aggregates
    with no Exchange beyond the final single-row agg."""
    import re

    from careers_spark.operators.dedup import winnowing_fingerprints
    from careers_spark.operators.temporal import ewma_hourly

    events = spark.read.parquet(f"{SF}/events.parquet")
    docs = spark.read.parquet(f"{SF}/documents.parquet")

    plan = _plan(ewma_hourly(events))
    assert "Window" not in plan, plan
    assert "rangepartitioning" not in plan, plan

    wplan = _plan(winnowing_fingerprints(docs))
    for spec in re.findall(r"partitionBy=\[([^\]]*)\]", wplan):
        assert spec.strip(), wplan


def test_session10_ops_have_no_cartesian(spark):
    """Session-10 join/candidate operators keep equi-join shapes:
    the grid distance join probes cells, item cosine rides the
    bounded wedge join, term postings join on the term, the CM
    join estimator joins sketch cells, QL retrieval's only cross
    joins are broadcast 1-row/|Q|-row dimensions (never two corpus
    sides)."""
    from careers_spark.operators.basket import item_cosine_topk
    from careers_spark.operators.retrieval import (
        ql_dirichlet_topk,
        term_postings,
    )
    from careers_spark.operators.sketches import join_size_estimate
    from careers_spark.operators.spatial import (
        grid_distance_join,
        lattice_points,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    events = spark.read.parquet(f"{SF}/events.parquet")
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    pts = lattice_points(spark.range(500), "id", extent=1024, seed="pl")
    for df in (
        grid_distance_join(pts, radius=32),
        item_cosine_topk(li, min_pair_orders=2),
        term_postings(docs, min_df=2, block_size=64),
    ):
        plan = _plan(df)
        assert "CartesianProduct" not in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan
    # QL's candidate x query-term grid and the join estimator's
    # exact x estimate combiner are BROADCAST cross joins of bounded
    # dimensions (a |Q|-row table / a 1-row aggregate — the bm25
    # corpus-aggregate shape); a nested loop over a bounded broadcast
    # side is their documented plan, so the guard is only that no
    # unbroadcast cartesian exists
    for df in (
        ql_dirichlet_topk(docs, ["spark", "join"], k=5),
        join_size_estimate(events, orders, "user_id", "o_custkey"),
    ):
        plan = _plan(df)
        assert "CartesianProduct" not in plan, plan


def test_session10_projection_ops_have_no_exchange(spark):
    """Pure-projection session-10 operators stay shuffle-free:
    rendezvous placement and the Z-order key are map-only plans."""
    from careers_spark.operators.sampling import rendezvous_shards
    from careers_spark.operators.spatial import lattice_points, zorder_key

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id")
    plan = _plan(rendezvous_shards(docs, "doc_id", ["s0", "s1", "s2"]))
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan

    pts = lattice_points(spark.range(100), "id", 4096, "z")
    zplan = _plan(zorder_key(pts, bits=12))
    assert "Exchange" not in zplan, zplan
    assert "Join" not in zplan, zplan


def test_session10_windowed_ops_partition_by_key(spark):
    """Every session-10 window partitions by a real key (term / user /
    item) — no empty partitionBy (single-partition global sort) except
    the documented one-off ntile layout job in scan_pruning_stats."""
    import re

    from careers_spark.operators.basket import item_cosine_topk
    from careers_spark.operators.retrieval import term_postings
    from careers_spark.operators.temporal import (
        interarrival_burstiness,
        rolling_median,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    events = spark.read.parquet(f"{SF}/events.parquet")
    for df in (
        term_postings(docs, min_df=2, block_size=64),
        item_cosine_topk(li, min_pair_orders=2),
        rolling_median(events),
        interarrival_burstiness(events),
    ):
        plan = _plan(df)
        for spec in re.findall(r"partitionBy=\[([^\]]*)\]", plan):
            assert spec.strip(), plan


def test_skyline_has_no_row_level_cartesian(spark):
    """skyline_2d's only nested-loop shapes are the documented 1-row /
    n_buckets-row broadcast crosses (bounds, carry); no CartesianProduct
    anywhere, and the per-bucket window partitions by a real key."""
    import re

    from careers_spark.operators.spatial import skyline_2d

    parts = spark.read.parquet(f"{SF}/part.parquet").selectExpr(
        "p_partkey as key",
        "cast(p_size as long) as x",
        "cast(round(p_retailprice * 100) as long) as y",
    )
    plan = _plan(skyline_2d(parts, n_buckets=16))
    assert "CartesianProduct" not in plan, plan
    specs = re.findall(r"windowspecdefinition\(([^,]+),", plan)
    assert any("b#" in s for s in specs), plan


def test_session12_ops_have_no_cartesian(spark):
    """phrase_search aligns postings with pure equi-joins; the causal
    estimators are groupBy-only — none may plan a CartesianProduct or
    nested-loop join."""
    from careers_spark.operators.causal import (
        did_lift,
        exact_matching_att,
        ips_policy_eval,
    )
    from careers_spark.operators.retrieval import phrase_search

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    ev = spark.read.parquet(f"{SF}/events.parquet")
    for df in (
        phrase_search(docs, ["slow", "hash", "batch"]),
        did_lift(ev, "2024-01-16"),
        exact_matching_att(
            docs.selectExpr(
                "lang as cell", "cast(doc_id % 2 as int) as treat",
                "n_chars as y_cents",
            ),
            ["cell"],
        ),
        ips_policy_eval(
            ev.selectExpr(
                "user_id % 3 as ctx", "event_type as action",
                "cast(round(value * 100, 0) as bigint) as r_cents",
            ),
            "case when ctx = 0 then 'purchase' else 'view' end",
        ),
    ):
        plan = _plan(df)
        assert "CartesianProduct" not in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan


# ---------------------------------------------------------------------------
# session-15 additions: every new pairing/blocking operator keeps its
# equi-join shape — no CartesianProduct anywhere; the only nested-loop
# crosses allowed are the documented 1-row broadcast normalizers
# (Bradley-Terry's s_tot, the lateness profile's totals row).
def test_s15_conversation_near_dups_plan(spark):
    from careers_spark.operators.convshape import conversation_near_dups

    df = spark.createDataFrame(
        [("c1", 0, "u", "a b c d"), ("c2", 0, "u", "a b c e")],
        "conv_id string, turn_idx int, role string, text string",
    )
    plan = _plan(conversation_near_dups(df))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_s15_pairing_operators_no_cartesian(spark):
    from careers_spark.operators.convshape import (
        instruction_grounding,
        sft_pairs,
        turn_cohesion,
    )

    df = spark.createDataFrame(
        [
            ("c", 0, "user", "alpha beta"),
            ("c", 1, "assistant", "beta gamma"),
        ],
        "conv_id string, turn_idx int, role string, text string",
    )
    for op in (instruction_grounding, sft_pairs, turn_cohesion):
        plan = _plan(op(df))
        # the conv-key equality keeps every pairing join hash/merge-
        # joinable; the a_ti > turn residual rides the equi-join
        assert "CartesianProduct" not in plan, (op.__name__, plan)


def test_s15_preference_and_wl_no_cartesian(spark):
    from careers_spark.operators.graph import wl_refinement
    from careers_spark.operators.preference import (
        pairwise_winrate,
        preference_cycles,
    )

    comp = spark.createDataFrame(
        [("A", "B"), ("B", "C"), ("C", "A")],
        "winner string, loser string",
    )
    for op in (preference_cycles, pairwise_winrate):
        plan = _plan(op(comp))
        assert "CartesianProduct" not in plan, (op.__name__, plan)
    e = spark.createDataFrame(
        [("a", "b"), ("b", "c")], "src string, dst string"
    )
    plan = _plan(wl_refinement(e, rounds=1))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_s15_lateness_frontier_is_broadcast(spark):
    from datetime import datetime, timezone

    from careers_spark.operators.temporal import event_lateness_profile

    df = spark.createDataFrame(
        [
            (
                datetime.fromtimestamp(100, tz=timezone.utc).replace(
                    tzinfo=None
                ),
                100_000_000,
            )
        ],
        "ts timestamp, arrival_us long",
    )
    plan = _plan(event_lateness_profile(df))
    # the hour-dim frontier joins back as a broadcast hash join, and
    # nothing in the chain plans a cartesian
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
