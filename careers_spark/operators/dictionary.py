"""Dictionary-building aggregations (SURVEY.md §2.3 — the five MR jobs +
db build re-expressed as Catalyst-only DataFrame plans).

Every function here is pure `groupBy/join/window` — no Python in the hot
path — so partial (map-side) aggregation, broadcast joins, pushdown and
AQE skew splitting all come for free.

Reference parity citations:
  - word_doc_freq        -> libraries/mapreducejobs/WordInTopicCount.scala:15-84
  - surface form stats   -> libraries/mapreducejobs/SurfaceForms.scala:95-123
                            (count>1 retention at :118)
  - redirect fixpoint    -> applications/BuildPhraseQueryDb.scala:158-161
                            (+ the chain-resolution TODO at :155-156, done here)
  - context counts       -> applications/BuildPhraseQueryDb.scala:185-187
  - link_weights (J5)    -> applications/BuildPhraseQueryDb.scala:337-431
                            (weights at :417-420; bidirectional union :272-274)
  - top-K contexts       -> Disambiguator.scala:492-495 (numAllowedContexts=30)
  - top-K topics/surface -> Disambiguator.scala:306 (LIMIT 50)
  - allowedPhrase        -> Disambiguator.scala:77-81
  - allowedTopic         -> Disambiguator.scala:83-95
  - lexicon filters      -> PhraseMap.scala:184-190 (df>4, utf8 len<20)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from careers_spark.functions.text import tokenize_udf

TOP_CONTEXTS_K = 30
TOP_TOPICS_PER_SURFACE = 50

# allowedTopic predicate pieces (reference: Disambiguator.scala:81-95 —
# startsWith / contains / endsWith, all case-sensitive, exactly as the
# reference spells them)
DISALLOWED_TOPIC_PREFIXES = ("Main:List of", "Main:Table of", "Category:")
DISALLOWED_TOPIC_SUBSTRINGS = ("(novel)", "(song)", "(band)", "(album)", "TV series")
DISALLOWED_TOPIC_SUFFIXES = ("postcode area",)


def word_doc_freq(transcripts: DataFrame) -> DataFrame:
    """Per-word document frequency; distinct-per-turn before the count
    (the reference dedups per doc with a TreeSet, WordInTopicCount.scala:43-51
    — here `array_distinct` before `explode` keeps it map-side)."""
    return (
        transcripts.select(
            F.explode(F.array_distinct(tokenize_udf(F.col("text")))).alias("word")
        )
        .groupBy("word")
        .agg(F.count("*").alias("doc_freq"))
    )


def lexicon_words(wdf: DataFrame) -> DataFrame:
    """df>4 and UTF-8 length < 20 (PhraseMap.scala:184-190)."""
    return wdf.filter((F.col("doc_freq") > 4) & (F.octet_length("word") < 20))


def resolve_redirects(
    redirects: DataFrame, max_hops: int = 16, driver_threshold: int = 2_000_000
) -> DataFrame:
    """Redirect chains resolved to fixpoint by pointer doubling.

    Output: (from_topic, to_topic) with to_topic terminal. log2(max chain)
    self-joins, each a broadcast-size dimension join. Cycles are broken by
    the hop cap (the reference never resolves chains at all — see the TODO
    at BuildPhraseQueryDb.scala:155-156).

    Redirect tables are dimension-sized (same memory contract as the
    broadcast automaton), so below `driver_threshold` rows the fixpoint
    is computed driver-side in one pass — the distributed pointer
    doubling is the >2M-row path and is covered by tests either way.
    """
    n = redirects.count()
    if n <= driver_threshold:
        pairs = redirects.select("from_topic", "to_topic").collect()
        redir = {r.from_topic: r.to_topic for r in pairs}
        out = []
        for src in redir:
            t, seen = src, set()
            while t in redir and t not in seen and len(seen) < max_hops:
                seen.add(t)
                t = redir[t]
            out.append((src, t))
        return redirects.sparkSession.createDataFrame(
            out or [], schema="from_topic string, to_topic string"
        )

    cur = redirects.select("from_topic", "to_topic")
    hops = 1
    while hops < max_hops:
        nxt = (
            cur.alias("a")
            .join(
                F.broadcast(cur.alias("b")),
                F.col("a.to_topic") == F.col("b.from_topic"),
                "left",
            )
            .select(
                F.col("a.from_topic").alias("from_topic"),
                F.coalesce(F.col("b.to_topic"), F.col("a.to_topic")).alias("to_topic"),
            )
        )
        nxt = nxt.localCheckpoint(eager=True)
        # converged when no target is itself a redirect source
        remaining = (
            nxt.alias("a")
            .join(
                F.broadcast(redirects.select("from_topic").alias("r")),
                F.col("a.to_topic") == F.col("r.from_topic"),
                "left_semi",
            )
            .count()
        )
        cur = nxt
        hops *= 2
        if remaining == 0:
            break
    return cur


def canonicalize_topics(df: DataFrame, resolved: DataFrame, col: str) -> DataFrame:
    """Rewrite a topic column through the resolved-redirect map (A8:
    topics LEFT JOIN redirects, BuildPhraseQueryDb.scala:158-161)."""
    r = resolved.withColumnRenamed("from_topic", "__from").withColumnRenamed(
        "to_topic", "__to"
    )
    return (
        df.join(F.broadcast(r), df[col] == F.col("__from"), "left")
        .withColumn(col, F.coalesce(F.col("__to"), F.col(col)))
        .drop("__from", "__to")
    )


def allowed_phrase(df: DataFrame, col: str = "surface") -> DataFrame:
    """Reject all-numeric phrases (Disambiguator.scala:77-81)."""
    return df.filter(~F.col(col).rlike(r"^[0-9 ]+$"))


def topic_allowed_col(col):
    """Boolean Column implementing the reference allowedTopic predicate
    (Disambiguator.scala:81-95): reject Main:List of / Main:Table of /
    Category: prefixes, '... postcode area' suffix, and case-sensitive
    contains of (novel)/(song)/(band)/(album)/'TV series'."""
    c = F.col(col) if isinstance(col, str) else col
    bad = F.lit(False)
    for p in DISALLOWED_TOPIC_PREFIXES:
        bad = bad | c.startswith(p)
    for s in DISALLOWED_TOPIC_SUBSTRINGS:
        bad = bad | c.contains(s)
    for e in DISALLOWED_TOPIC_SUFFIXES:
        bad = bad | c.endswith(e)
    return ~bad


def allowed_topic(df: DataFrame, col: str = "topic") -> DataFrame:
    """Reject list/category/media-disambiguation topics — exact reference
    semantics (Disambiguator.scala:81-95)."""
    return df.filter(topic_allowed_col(col))


# hand-listed context blocklist, carried verbatim from the reference
# (Disambiguator.scala:43-72 — including its oddities: the 'Category: '
# spaced entry and the 'Categories:' prefixed final entry; the duplicate
# first entry is kept once, set semantics)
DISALLOWED_CONTEXTS = [
    "Category:Main topic classifications",
    "Category:Fundamental categories",
    "Category:Categories",
    "Category:Greek loanwords",
    "Category:Philosophy redirects",
    "Category:Protected redirects",
    "Category:American websites",
    "Category:1995 introductions",
    "Category:Articles including recorded pronunciations (UK English)",
    "Category:American inventions",
    "Category:Article Feedback Pilot",
    "Category:Swedish-speaking Finns",
    "Category:Acronyms",
    "Category:Articles with example code",
    "Category:Articles with example pseudocode",
    "Category:Living people",
    "Category:Discovery and invention controversies",
    "Category:Categories named after universities and colleges",
    "Category:Computing acronyms",
    "Category:Articles with inconsistent citation formats",
    "Category:Organizations established in 1993",
    "Category:Lists by country",
    "Category:Redirects from Japanese-language terms",
    "Category:Non-transitive categories",
    "Category: Disambiguation pages",
    "Category:Arabic words and phrases",
    "Category:All articles lacking sources",
    "Categories: Letter-number combination disambiguation pages",
]


def allowed_context(df: DataFrame, col: str = "context") -> DataFrame:
    """Reject blocklisted, 4-digit-year-dated, and redirect contexts —
    exact reference semantics (Disambiguator.scala:43-79,97-102:
    literal set, `[0-9]{4,4}` find, case-sensitive contains('redirect'))."""
    c = F.col(col)
    return df.filter(
        ~c.isin(DISALLOWED_CONTEXTS)
        & ~c.rlike(r"[0-9]{4}")
        & ~c.contains("redirect")
    )


def first_turn_flag(transcripts: DataFrame) -> DataFrame:
    """'First section' flag for transcripts: the conversation's opening
    turn (reference: CategoryMembership.scala:32-70's inFirstSection fold
    -> W3: row_number over (conv_id, turn_idx) = 1)."""
    from pyspark.sql import Window

    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    return transcripts.withColumn(
        "first_section", F.row_number().over(w) == 1
    )


def phrase_doc_freq(mentions: DataFrame) -> DataFrame:
    """Per-surface document frequency from detected mentions — the
    PhraseCounter semantics (reference: PhraseCount.scala:106-110 emits
    1 per doc containing the phrase; combiner = automatic partial agg).
    countDistinct is exact here; at 10^12 scale swap for
    approx_count_distinct where exactness is not contract (G8)."""
    return mentions.groupBy("surface").agg(
        F.countDistinct("conv_id").alias("doc_freq")
    )


def build_surface_forms(raw: DataFrame, resolved_redirects: DataFrame) -> DataFrame:
    """Anchor statistics -> candidate dictionary rows.

    redirect-resolve targets, re-aggregate, keep count > 1
    (SurfaceForms.scala:118), apply allowedPhrase/allowedTopic filters,
    keep top-50 topics per surface (Disambiguator.scala:306).
    """
    sf = canonicalize_topics(raw, resolved_redirects, "topic")
    sf = (
        sf.groupBy("surface", "topic")
        .agg(F.sum("count").alias("count"))
        .filter(F.col("count") > 1)
    )
    sf = allowed_phrase(allowed_topic(sf))
    w = Window.partitionBy("surface").orderBy(F.desc("count"), F.asc("topic"))
    return (
        sf.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOP_TOPICS_PER_SURFACE)
        .drop("rk")
    )


def surface_priors(surface_forms: DataFrame) -> DataFrame:
    """Anchor prior = count / phrase_count (Disambiguator.scala:433-438)."""
    w = Window.partitionBy("surface")
    return surface_forms.withColumn(
        "prior", F.col("count") / F.sum("count").over(w)
    )


def context_counts(topic_contexts: DataFrame) -> DataFrame:
    """A9: per-context in-degree (BuildPhraseQueryDb.scala:185-187)."""
    return topic_contexts.groupBy("context").agg(F.count("*").alias("n"))


def link_weights(topic_contexts: DataFrame) -> DataFrame:
    """J5 — the context-overlap self-join (BuildPhraseQueryDb.scala:337-431).

    For every (bidirectional) edge (t, c):
        ic      = |ctx(t) ∩ ctx(c)|
        weight1 = (1 + ic) / (1 + |ctx(t)|)
        weight2 = (1 + ic) / (1 + |ctx(c)|)

    Expressed as exploded self-joins so Catalyst gets partial aggregation
    and AQE skew-splitting on hub contexts (the reference hand-bans hub
    categories instead — CategoryHierarchy.scala:88-118).
    """
    tc = topic_contexts.select("topic", "context").dropDuplicates()
    # bidirectional (U3: BuildPhraseQueryDb.scala:272-274)
    # r6 (guide §2.4): the plan references `bidir` five times (e/a/b of
    # the intersection join, the left join back, and the degree table)
    # — without materialization the union+dropDuplicates shuffle reruns
    # per reference. One dictionary-sized checkpoint instead.
    bidir = (
        tc.union(
            tc.select(
                F.col("context").alias("topic"), F.col("topic").alias("context")
            )
        )
        .dropDuplicates()
        .localCheckpoint(eager=True)
    )

    deg = bidir.groupBy("topic").agg(F.count("*").alias("deg"))

    e = bidir.alias("e")
    a = bidir.alias("a")  # contexts of e.topic
    b = bidir.alias("b")  # contexts of e.context
    inter = (
        e.join(a, F.col("e.topic") == F.col("a.topic"))
        .join(
            b,
            (F.col("b.topic") == F.col("e.context"))
            & (F.col("b.context") == F.col("a.context")),
        )
        .groupBy(F.col("e.topic").alias("topic"), F.col("e.context").alias("context"))
        .agg(F.count("*").alias("ic"))
    )

    out = (
        bidir.join(inter, ["topic", "context"], "left")
        .na.fill({"ic": 0})
        .join(deg.withColumnRenamed("deg", "deg_t"), "topic")
        .join(
            deg.selectExpr("topic as context", "deg as deg_c"),
            "context",
        )
        .select(
            "topic",
            "context",
            ((1 + F.col("ic")) / (1 + F.col("deg_t"))).alias("weight1"),
            ((1 + F.col("ic")) / (1 + F.col("deg_c"))).alias("weight2"),
        )
    )
    return out


SECOND_ORDER_KICKIN = 10  # reference: AmbiguityForest.scala:71-76
SECOND_ORDER_WEIGHT = 0.1


def expand_second_order_contexts(link_w: DataFrame) -> DataFrame:
    """Second-order context expansion (Disambiguator.scala:469-490):
    topics with fewer than SECOND_ORDER_KICKIN first-order contexts also
    inherit their contexts' contexts at x0.1 downweight. First-order
    rows win on conflict (max weight). The reference computes this per
    document at query time and carries a TODO to precompute it in the db
    (AmbiguityForest.scala:46-48) — here it IS the precomputed table.

    Scale bound: each source context contributes only its own top-K
    (TOP_CONTEXTS_K) context list. The consumer keeps top-K contexts per
    topic anyway, and within one source context every dropped entry is
    dominated by K kept entries from that same source — without this
    bound a hub context (one with ~N reverse edges) multiplies every
    sparse topic pointing at it by N, which is quadratic at scale
    (observed: 346M rows at a 40k-entity KB; capped: ~K per edge).

    Exact-tie edge case (documented, accepted): within one source
    context, an entry dropped at the top-K boundary ties a kept entry
    on weight1 but sorts after it by context name. Because the final
    aggregation is MAX over (topic, context), losing that tied entry
    can only matter if NO kept source supplies the same (topic,
    context) with >= weight — i.e. a target context whose best path in
    is exactly the boundary-tied edge. The consumer's own top-K cut
    then sees a weight lower by at most the tie epsilon (0 exactly at
    a true tie); membership of the consumer's top-K can differ only
    between entries that were themselves exactly tied. Weights here are
    products of count ratios, so exact ties occur (equal counts) but
    resolve identically by the (weight desc, context asc) tie-break at
    both levels."""
    deg = link_w.groupBy("topic").agg(F.count("*").alias("n_ctx"))
    sparse = deg.filter(F.col("n_ctx") < SECOND_ORDER_KICKIN).select("topic")
    a = link_w.alias("a")
    b = top_contexts(link_w, k=TOP_CONTEXTS_K).alias("b")
    second = (
        a.join(F.broadcast(sparse), "topic", "left_semi")
        .alias("a")
        .join(b, F.col("a.context") == F.col("b.topic"))
        .filter(F.col("a.topic") != F.col("b.context"))
        .select(
            F.col("a.topic").alias("topic"),
            F.col("b.context").alias("context"),
            (F.col("a.weight1") * F.col("b.weight1") * SECOND_ORDER_WEIGHT).alias(
                "weight1"
            ),
            (F.col("a.weight2") * F.col("b.weight2") * SECOND_ORDER_WEIGHT).alias(
                "weight2"
            ),
        )
        .groupBy("topic", "context")
        .agg(F.max("weight1").alias("weight1"), F.max("weight2").alias("weight2"))
    )
    return (
        link_w.unionByName(second)
        .groupBy("topic", "context")
        .agg(F.max("weight1").alias("weight1"), F.max("weight2").alias("weight2"))
    )


def top_contexts(link_w: DataFrame, k: int = TOP_CONTEXTS_K) -> DataFrame:
    """G3: top-K contexts per topic by weight1 (Disambiguator.scala:492-495)."""
    w = Window.partitionBy("topic").orderBy(F.desc("weight1"), F.asc("context"))
    return (
        link_w.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .drop("rk")
    )


def topic_context_vectors(top_ctx: DataFrame) -> DataFrame:
    """Pack per-topic context vectors for the coherence UDF:
    (topic, contexts array<string>, weights array<double>) — the broadcast
    analogue of the reference's in-RAM linkWeights arrays
    (Disambiguator.scala:219-227)."""
    return (
        top_ctx.groupBy("topic")
        .agg(F.array_sort(F.collect_list(F.struct("context", "weight1"))).alias("cw"))
        .select(
            "topic",
            F.expr("transform(cw, x -> x.context)").alias("ctx_ids"),
            F.expr("transform(cw, x -> x.weight1)").alias("ctx_ws"),
        )
    )

