"""Corpus-mining operators over ``documents``: repetition signals
(Gopher-style quality filters), integer-exact term salience (the TF-IDF
shape), and bigram association lift (the PMI shape).

The reference has no text surface at all (its only strings are random
10-byte payloads, src/cuda/kv.cuh:48-79); these extend the north-star
LLM-pipeline catalogue. All pure column expressions + hash aggregates —
no UDFs — and every score is integer or round()-stabilized so the DuckDB
oracle hashes bit-identically.

Scale notes (100 TB): per-document signals are narrow maps; the only
shuffles carry (doc_id, bigram) / (token) count pairs — fixed-size keys,
partial-aggregated map-side. Corpus-wide statistics (df, unigram counts)
are a second small aggregate joined back by broadcast; the "N docs" /
"total tokens" scalars ride a 1-row broadcast cross join, never a
driver-side collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from bishe_gpu_database_spark.functions.text import norm_text, tokens
from bishe_gpu_database_spark.operators.text_analysis import _SQL_NORM, _SQL_TOKENS
from bishe_gpu_database_spark.operators.relational import t
from bishe_gpu_database_spark.registry import register


def _toks_and_bigrams(d: DataFrame) -> DataFrame:
    """(doc_id, tk, bg): token array + adjacent-bigram array, both
    materialized once (HOF lambdas are interpreted — never inline the
    split inside transform, see functions.text.shingles_of)."""
    base = d.select("doc_id", tokens(F.col("text")).alias("tk"))
    idx = F.when(
        F.size("tk") >= 2, F.sequence(F.lit(1), F.size("tk") - 1)
    ).otherwise(F.array().cast("array<int>"))
    return base.select(
        "doc_id",
        "tk",
        F.transform(
            idx,
            lambda i: F.concat_ws(" ", F.element_at("tk", i), F.element_at("tk", i + 1)),
        ).alias("bg"),
    )


_SQL_BIGRAMS = (
    f"CASE WHEN len({_SQL_TOKENS}) >= 2 THEN "
    f"list_transform(generate_series(1, len({_SQL_TOKENS}) - 1), "
    f"i -> {_SQL_TOKENS}[i] || ' ' || {_SQL_TOKENS}[i+1]) "
    "ELSE []::VARCHAR[] END"
)


@register(
    "text_repetition",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, {_SQL_TOKENS} AS tk, {_SQL_BIGRAMS} AS bg FROM documents
    ),
    top AS (
      SELECT doc_id, max(cnt) AS top_bigram_n FROM (
        SELECT doc_id, b, count(*) AS cnt
        FROM (SELECT doc_id, unnest(bg) AS b FROM base)
        GROUP BY doc_id, b
      ) GROUP BY doc_id
    )
    SELECT base.doc_id,
           len(tk) AS n_tokens,
           round(CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk), 6) AS uniq_token_ratio,
           coalesce(top_bigram_n, 0) AS top_bigram_n,
           CASE WHEN len(bg) > 0
                THEN round(CAST(coalesce(top_bigram_n, 0) AS DOUBLE) / len(bg), 6)
                ELSE 0.0 END AS top_bigram_frac
    FROM base LEFT JOIN top USING (doc_id)
    """,
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals per document: distinct-token ratio
    and most-frequent-bigram fraction — the filters that catch boilerplate
    and degenerate repetition in pre-training corpora. Two shuffles, both
    of count pairs: (doc_id, bigram) partial-aggregated map-side, then the
    per-doc max joined back to the narrow per-doc stats."""
    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    base = _toks_and_bigrams(d)
    top = (
        base.select("doc_id", F.explode("bg").alias("b"))
        .groupBy("doc_id", "b")
        .count()
        .groupBy("doc_id")
        .agg(F.max("count").alias("top_bigram_n"))
    )
    stats = base.select(
        "doc_id",
        F.size("tk").alias("n_tokens"),
        F.size(F.array_distinct("tk")).alias("n_uniq"),
        F.size("bg").alias("n_bigrams"),
    )
    return stats.join(top, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.round(F.col("n_uniq").cast("double") / F.col("n_tokens"), 6).alias(
            "uniq_token_ratio"
        ),
        F.coalesce("top_bigram_n", F.lit(0)).cast("bigint").alias("top_bigram_n"),
        F.when(
            F.col("n_bigrams") > 0,
            F.round(
                F.coalesce("top_bigram_n", F.lit(0)).cast("double") / F.col("n_bigrams"),
                6,
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("top_bigram_frac"),
    )


@register(
    "text_salience_topk",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({_SQL_TOKENS}) AS token FROM documents
    ),
    tf AS (
      SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY doc_id, token
    ),
    docfreq AS (
      SELECT token, count(*) AS df FROM tf GROUP BY token
    ),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.token, tf.tf,
             CAST(CAST(tf.tf AS HUGEINT) * 1000000 * n.n_docs // docfreq.df
                  AS BIGINT) AS salience_ppm
      FROM tf JOIN docfreq USING (token) CROSS JOIN n
      WHERE tf.doc_id < 100
    )
    SELECT doc_id, token, tf, salience_ppm FROM (
      SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY salience_ppm DESC, token
      ) AS rk FROM scored
    ) WHERE rk <= 3
    """,
)
def text_salience_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact TF-IDF shape: per-document term frequency × inverse
    document frequency as the exact rational ``tf·N·10^6 // df`` (the log
    is monotone in N/df, so top-k by this ratio ranks identically to
    tf-idf while hashing bit-stably — floats never decide anything).
    Corpus-wide df is one (token) aggregate; the N-docs scalar is a 1-row
    broadcast. Output bounded to docs < 100, top-3 terms each."""
    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    tok = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("token"))
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    docfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n_docs = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.filter(F.col("doc_id") < 100)
        .join(docfreq, "token")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "token",
            "tf",
            # DECIMAL(38,0): tf·10⁶·n_docs wraps int64 at corpus scale
            F.expr(
                "CAST(CAST(tf AS DECIMAL(38,0)) * 1000000 * n_docs DIV df AS BIGINT)"
            ).alias("salience_ppm"),
        )
    )
    rk = F.row_number().over(
        W.partitionBy("doc_id").orderBy(F.col("salience_ppm").desc(), "token")
    )
    return (
        scored.withColumn("rk", rk).filter(F.col("rk") <= 3).drop("rk")
    )


@register(
    "text_lift_bigrams",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, unnest({_SQL_BIGRAMS}) AS bigram FROM documents
    ),
    pair AS (
      SELECT bigram, count(*) AS pair_n FROM base GROUP BY bigram HAVING count(*) >= 5
    ),
    uni AS (
      SELECT token, count(*) AS uni_n
      FROM (SELECT unnest({_SQL_TOKENS}) AS token FROM documents)
      GROUP BY token
    ),
    tot AS (SELECT count(*) AS total_tokens
            FROM (SELECT unnest({_SQL_TOKENS}) AS token FROM documents))
    SELECT bigram, pair_n,
           CAST(CAST(pair_n AS HUGEINT) * total_tokens * 1000000
                // (CAST(u1.uni_n AS HUGEINT) * u2.uni_n) AS BIGINT) AS lift_ppm
    FROM pair
    JOIN uni u1 ON u1.token = split_part(bigram, ' ', 1)
    JOIN uni u2 ON u2.token = split_part(bigram, ' ', 2)
    CROSS JOIN tot
    ORDER BY lift_ppm DESC, bigram
    LIMIT 20
    """,
)
def text_lift_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining, the PMI shape: association lift of adjacent
    word pairs as the exact rational ``P(w1w2)/(P(w1)P(w2))`` scaled to
    ppm — log-PMI is monotone in the lift, so the top-k is the PMI top-k
    with integer-only arithmetic. Unigram counts broadcast back onto the
    pair aggregate (the pair table after the HAVING floor is tiny);
    global top-20 goes through TakeOrderedAndProject, never a full sort."""
    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    base = _toks_and_bigrams(d)
    pair = (
        base.select(F.explode("bg").alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("pair_n"))
        .filter(F.col("pair_n") >= 5)
    )
    uni = (
        base.select(F.explode("tk").alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("uni_n"))
    )
    tot = base.select(F.explode("tk").alias("token")).agg(
        F.count(F.lit(1)).alias("total_tokens")
    )
    u1 = uni.select(F.col("token").alias("w1"), F.col("uni_n").alias("n1"))
    u2 = uni.select(F.col("token").alias("w2"), F.col("uni_n").alias("n2"))
    return (
        pair.withColumn("w1", F.split_part(F.col("bigram"), F.lit(" "), F.lit(1)))
        .withColumn("w2", F.split_part(F.col("bigram"), F.lit(" "), F.lit(2)))
        .join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "bigram",
            "pair_n",
            # DECIMAL(38,0): pair_n·T·10⁶ (T ≈ 2·10¹³ tokens at 100 TB) and
            # n1·n2 both wrap int64 — the ADVICE.md overflow class
            F.expr(
                "CAST(CAST(pair_n AS DECIMAL(38,0)) * total_tokens * 1000000"
                " DIV (CAST(n1 AS DECIMAL(38,0)) * n2) AS BIGINT)"
            ).alias("lift_ppm"),
        )
        .orderBy(F.col("lift_ppm").desc(), "bigram")
        .limit(20)
    )


@register(
    "events_top_paths",
    oracle="""
    WITH seqs AS (
      SELECT user_id, list(event_type ORDER BY ts, event_id) AS types
      FROM events GROUP BY user_id
    ),
    tri AS (
      SELECT types[i] || '>' || types[i + 1] || '>' || types[i + 2] AS path
      FROM seqs, unnest(range(1, len(types) - 1)) AS t(i)
      WHERE len(types) >= 3
    )
    SELECT path, count(*) AS n_paths
    FROM tri GROUP BY path
    ORDER BY n_paths DESC, path
    LIMIT 20
    """,
)
def events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence mining / path analysis: the 20 most common 3-step
    event-type paths across all user journeys (sliding trigrams over each
    user's time-ordered event sequence). One user_id shuffle builds the
    ordered sequences (sort_array over collected structs — partial
    collect_list combines map-side); trigram expansion is a narrow
    higher-order-function transform (no UDF), and the final count shuffles
    only (path, count) pairs. The grouped-sequence shape caps per-user
    state at journey length — at 100 TB, bound it with a time window the
    same way the sessionizer does."""
    e = t(spark, sf_dir, "events")
    seqs = e.groupBy("user_id").agg(
        F.sort_array(F.collect_list(F.struct("ts", "event_id", "event_type"))).alias(
            "evs"
        )
    )
    types = F.col("evs").getField("event_type")
    tri = seqs.select(
        F.when(
            F.size(types) >= 3,
            F.transform(
                F.sequence(F.lit(0), F.size(types) - F.lit(3)),
                lambda i: F.concat_ws(
                    ">",
                    F.element_at(types, i + 1),
                    F.element_at(types, i + 2),
                    F.element_at(types, i + 3),
                ),
            ),
        )
        .otherwise(F.array().cast("array<string>"))
        .alias("paths")
    )
    return (
        tri.select(F.explode("paths").alias("path"))
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_paths"))
        .orderBy(F.col("n_paths").desc(), "path")
        .limit(20)
    )


@register(
    "events_markov_transitions",
    oracle="""
    WITH steps AS (
      SELECT event_type AS src,
             lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
      FROM events
    ),
    cnt AS (
      SELECT src, dst, count(*) AS n_trans
      FROM steps WHERE dst IS NOT NULL GROUP BY src, dst
    )
    SELECT src, dst, n_trans,
           CAST(CAST(n_trans AS HUGEINT) * 1000000
                // CAST(sum(n_trans) OVER (PARTITION BY src) AS HUGEINT) AS BIGINT)
             AS p_ppm
    FROM cnt
    """,
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over user journeys: for every
    (src, dst) event-type pair, the transition count and probability in
    integer ppm (exact integer division — no float hashing hazard). The
    per-user ordering is one lead() window over a single user_id shuffle;
    the count aggregation shuffles only (src, dst) pairs, and the ppm
    normalization is a window over the tiny src-keyed result. At 100 TB
    the user_id shuffle is the only data-sized exchange, identical to the
    sessionizer's — bound per-user state with a time window if journeys
    are unbounded."""
    e = t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    steps = e.select(
        F.col("event_type").alias("src"), F.lead("event_type").over(w).alias("dst")
    )
    cnt = (
        steps.filter(F.col("dst").isNotNull())
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("n_trans"))
    )
    # DECIMAL(38,0) intermediate: n_trans*1e6 wraps int64 once one (src,dst)
    # count passes ~9.2e12; with ANSI off Spark would wrap silently while
    # DuckDB errors — the decimal route holds at the 100 TB design point.
    return cnt.withColumn(
        "p_ppm",
        F.expr(
            "CAST(CAST(n_trans AS DECIMAL(38,0)) * 1000000"
            "     DIV CAST(sum(n_trans) OVER (PARTITION BY src) AS DECIMAL(38,0))"
            "     AS BIGINT)"
        ),
    )


@register(
    "events_cep_within",
    oracle="""
    SELECT event_id, user_id, preceded_by_error FROM (
      SELECT event_id, user_id, event_type,
             CAST(coalesce(max(CASE WHEN event_type = 'error' THEN 1 END)
                             OVER w, 0) AS INT) AS preceded_by_error
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts
                   RANGE BETWEEN INTERVAL 10 MINUTE PRECEDING AND CURRENT ROW)
    ) WHERE event_type = 'purchase'
    """,
)
def events_cep_within(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Complex-event-processing shape: flag every purchase preceded by an
    error from the same user within 10 minutes ('A then B within T' — the
    fraud/incident pattern). A time-RANGE window max replaces the naive
    per-pair self-join: one user_id shuffle + one sort, O(events) instead
    of O(events-per-user²), and the same plan holds at 100 TB because the
    frame is evaluated in a single pass per partition. (Spark's DataFrame
    rangeBetween is numeric-only, so the interval frame goes through the
    SQL window clause.)"""
    t(spark, sf_dir, "events").createOrReplaceTempView("_cep_events")
    return spark.sql(
        """
        SELECT event_id, user_id, preceded_by_error FROM (
          SELECT event_id, user_id, event_type,
                 CAST(coalesce(max(CASE WHEN event_type = 'error' THEN 1 END)
                                 OVER w, 0) AS INT) AS preceded_by_error
          FROM _cep_events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts
                       RANGE BETWEEN INTERVAL 10 MINUTES PRECEDING AND CURRENT ROW)
        ) WHERE event_type = 'purchase'
        """
    )


@register(
    "text_bigram_lm_score",
    oracle=f"""
    WITH bg AS (
      SELECT doc_id, unnest({_SQL_BIGRAMS}) AS bigram FROM documents
    ),
    lm AS (SELECT bigram, count(*) AS n FROM bg GROUP BY bigram),
    scored AS (
      SELECT b.doc_id, length(bin(lm.n)) AS bits
      FROM bg b JOIN lm ON b.bigram = lm.bigram
    )
    SELECT doc_id,
           count(*) AS n_bigrams,
           CAST(SUM(bits) AS BIGINT) AS sum_bits,
           CAST(SUM(bits) * 1000 // count(*) AS BIGINT) AS milli_avg_bits
    FROM scored
    GROUP BY doc_id
    """,
)
def text_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model fluency score — the perplexity-proxy quality
    filter without floating logs: train bigram counts on the corpus
    itself, then score each document by the average frequency MAGNITUDE
    (⌊log2 n⌋+1 = length(bin(n)), exact integer) of its bigrams.
    Documents full of common transitions score high; word-salad and
    boilerplate-with-rare-joins score low — the cheap KenLM stand-in for
    pretraining-data filtering. Two shuffles on the bigram key (count,
    then score-join — co-partitioned, so AQE folds them) plus a doc_id
    rollup; the LM table partial-aggregates map-side, and at 100 TB it
    can be computed on a sample and broadcast instead. Integer bits and
    truncating milli-average keep both engines bit-identical."""
    d = t(spark, sf_dir, "documents")
    bg = _toks_and_bigrams(d).select("doc_id", F.explode("bg").alias("bigram"))
    lm = bg.groupBy("bigram").agg(F.count(F.lit(1)).alias("n"))
    scored = bg.join(lm, "bigram").select(
        "doc_id", F.length(F.bin("n")).alias("bits")
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum("bits").cast("bigint").alias("sum_bits"),
        F.expr("CAST(sum(bits) * 1000 DIV count(1) AS BIGINT)").alias("milli_avg_bits"),
    )


@register(
    "mining_assoc_rules",
    oracle="""
    WITH pairs AS (
      SELECT a.l_orderkey, a.l_partkey AS pa, b.l_partkey AS pb
      FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
      JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    pair_n AS (
      SELECT pa, pb, count(*) AS n_ab FROM pairs GROUP BY pa, pb
    ),
    item_n AS (
      SELECT l_partkey, count(DISTINCT l_orderkey) AS n
      FROM lineitem GROUP BY l_partkey
    ),
    tot AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM lineitem),
    rules AS (
      SELECT p.pa, p.pb, p.n_ab,
             CAST(CAST(p.n_ab AS HUGEINT) * 1000000 // ia.n AS BIGINT) AS conf_ppm,
             CAST(CAST(p.n_ab AS HUGEINT) * t.n_orders * 1000000
                  // (CAST(ia.n AS HUGEINT) * ib.n) AS BIGINT) AS lift_ppm
      FROM pair_n p
      JOIN item_n ia ON p.pa = ia.l_partkey
      JOIN item_n ib ON p.pb = ib.l_partkey
      CROSS JOIN tot t
      WHERE p.n_ab >= 2
    )
    SELECT pa, pb, n_ab, conf_ppm, lift_ppm
    FROM (SELECT *, row_number() OVER (ORDER BY lift_ppm DESC, pa, pb) AS rn
          FROM rules)
    WHERE rn <= 20
    """,
)
def mining_assoc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over order baskets: for co-ordered
    part pairs seen ≥2 times, confidence(A→B) and lift in exact integer
    ppm (DECIMAL intermediates — n_ab·n_orders·10⁶ wraps int64 long
    before 100 TB), top 20 by lift. Scale shape: the pair fan-out is
    quadratic in BASKET size (bounded ~single digits for real carts),
    never in order count; pair counts partial-aggregate map-side, the
    item-frequency table is dimension-sized and broadcast back, and the
    global order count rides a 1-row broadcast — the only data-sized
    exchange carries (pa, pb) count pairs. Apriori's candidate pruning
    is unnecessary at pair length; longer itemsets would iterate this
    same join."""
    # r10: the deduped basket table feeds FOUR subtrees (both self-join
    # sides, the item-frequency table, the order count) — checkpoint it
    # so the fact scan + distinct shuffle runs once, not once per
    # subtree (ReuseExchange only dedupes the self-join pair).
    li = (
        t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .localCheckpoint()
    )
    a = li.select("l_orderkey", F.col("l_partkey").alias("pa"))
    b = li.select("l_orderkey", F.col("l_partkey").alias("pb"))
    pair_n = (
        a.join(b, "l_orderkey")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= 2)
    )
    item_n = li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n"))
    tot = li.select(F.countDistinct("l_orderkey").alias("n_orders"))
    rules = (
        pair_n.join(F.broadcast(item_n.select(F.col("l_partkey").alias("pa"), F.col("n").alias("na"))), "pa")
        .join(F.broadcast(item_n.select(F.col("l_partkey").alias("pb"), F.col("n").alias("nb"))), "pb")
        .crossJoin(F.broadcast(tot))
        .select(
            "pa", "pb", "n_ab",
            F.expr("CAST(CAST(n_ab AS DECIMAL(38,0)) * 1000000 DIV na AS BIGINT)").alias("conf_ppm"),
            F.expr(
                "CAST(CAST(n_ab AS DECIMAL(38,0)) * n_orders * 1000000"
                " DIV (CAST(na AS DECIMAL(38,0)) * nb) AS BIGINT)"
            ).alias("lift_ppm"),
        )
    )
    # TakeOrderedAndProject: per-partition top-20 merged on the driver —
    # no single-partition global-window sort of the full rule set.
    return rules.orderBy(F.col("lift_ppm").desc(), "pa", "pb").limit(20)


@register(
    "skyline_pareto",
    oracle="""
    SELECT p.p_partkey, p.p_size, p.p_retailprice
    FROM part p
    WHERE NOT EXISTS (
      SELECT 1 FROM part q
      WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
        AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size)
    )
    """,
)
def skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto frontier): parts not dominated on
    (minimize price, maximize size). The textbook definition is the
    quadratic NOT EXISTS self-join the oracle runs; the engine instead
    computes it in two pruning stages. Stage 1 — LOCAL skyline: rows
    are hashed into bounded groups and, within each group's
    (price asc, size desc) order, any row preceded by a strictly larger
    size is dropped. That drop is SOUND (the preceding row has
    price ≤ mine by sort order and size > mine, so it dominates me),
    and for non-adversarial data local frontiers are tiny — O(log n)
    expected per group — so the survivor union is group-count-bounded,
    never data-sized. Stage 2 — exact global pass over the survivors:
    collapse to one row per price level carrying that level's max size,
    then a running max over strictly-cheaper levels; a part survives iff
    no cheaper level reaches its size and nothing at its own price
    strictly beats it. Ties on both axes are mutually non-dominating and
    all kept (standard skyline semantics). The stage-2 window is a
    single-task sort, but only over the pruned frontier union — the
    standard distributed-skyline cascade (domination is transitive, so
    anything stage 1 drops is provably dominated by a survivor).
    Preference queries are absent from the reference (point lookups
    only, src/cuda/hashTable.cuh:94-110); driver-mandated analytics."""
    p = t(spark, sf_dir, "part")
    # Stage 1: sound local prune in cluster-scaled hash groups (r5: was a
    # fixed 64, which capped stage-1 parallelism at 64 tasks at any
    # cluster size). pmod of the key (not spark_partition_id) so the
    # survivor set is layout-independent; the FINAL result is identical
    # for ANY group count — stage 1 only ever drops provably-dominated
    # rows and stage 2 computes the exact skyline over the survivors.
    n_grp = max(64, 8 * spark.sparkContext.defaultParallelism)
    grp = F.pmod(F.col("p_partkey"), F.lit(n_grp)).alias("_g")
    wloc = (
        W.partitionBy("_g")
        .orderBy(F.col("p_retailprice").asc(), F.col("p_size").desc(), F.col("p_partkey").asc())
        .rowsBetween(W.unboundedPreceding, -1)
    )
    local = (
        p.select("p_partkey", "p_size", "p_retailprice", grp)
        .withColumn("_prev", F.max("p_size").over(wloc))
        .filter(F.col("_prev").isNull() | (F.col("_prev") <= F.col("p_size")))
        .drop("_g", "_prev")
    )
    # Stage 2: exact skyline over the frontier union.
    levels = local.groupBy("p_retailprice").agg(F.max("p_size").alias("level_max"))
    wprev = W.orderBy("p_retailprice").rowsBetween(W.unboundedPreceding, -1)
    levels = levels.select(
        "p_retailprice",
        "level_max",
        F.max("level_max").over(wprev).alias("prev_max"),
    )
    return (
        local.join(F.broadcast(levels), "p_retailprice")
        .filter(
            (F.col("prev_max").isNull() | (F.col("prev_max") < F.col("p_size")))
            & (F.col("level_max") <= F.col("p_size"))
        )
        .select("p_partkey", "p_size", "p_retailprice")
    )


@register(
    "events_ab_test",
    oracle="""
    WITH assign AS (
      SELECT user_id,
             CAST(('0x' || substr(md5('ab1|' || user_id), 1, 12)) AS BIGINT) % 2 AS arm,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
      FROM events
      GROUP BY user_id
    ),
    arms AS (
      SELECT arm, count(*) AS n_users, sum(converted) AS n_conv
      FROM assign GROUP BY arm
    ),
    wide AS (
      SELECT max(CASE WHEN arm = 0 THEN n_users END) AS n0,
             max(CASE WHEN arm = 0 THEN n_conv END) AS c0,
             max(CASE WHEN arm = 1 THEN n_users END) AS n1,
             max(CASE WHEN arm = 1 THEN n_conv END) AS c1
      FROM arms
    ),
    ppm AS (
      SELECT n0, c0, n1, c1,
             CAST(c0 AS HUGEINT) * 1000000 // n0 AS r0,
             CAST(c1 AS HUGEINT) * 1000000 // n1 AS r1,
             CAST(c0 + c1 AS HUGEINT) * 1000000 // (n0 + n1) AS pp
      FROM wide
    )
    SELECT coalesce(n0, 0) AS n0, coalesce(c0, 0) AS c0,
           coalesce(n1, 0) AS n1, coalesce(c1, 0) AS c1,
           CAST(r0 AS BIGINT) AS rate0_ppm,
           CAST(r1 AS BIGINT) AS rate1_ppm,
           coalesce(
             (r0 - r1) * (r0 - r1) * n0 * n1 * 10000
               > CAST(38416 AS HUGEINT) * pp * (1000000 - pp) * (n0 + n1),
             FALSE) AS significant_95
    FROM ppm
    """,
)
def events_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion A/B significance test in EXACT integer arithmetic:
    users are deterministically hash-assigned to arms (portable md5, the
    cross-engine stand-in for a bucketed experiment id), conversion is
    "any purchase event", and the pooled two-proportion z-test
    z² > 1.96² is evaluated in integer ppm with the remaining division
    cross-multiplied away — (r0−r1)²·n0·n1·10⁴ > 38416·p̂(10⁶−p̂)(n0+n1)
    over HUGEINT/DECIMAL(38,0), where rates and p̂ are truncated to ppm
    identically on both engines — so the verdict is bit-identical on any
    engine, no float variance path, and every intermediate stays ≤
    10¹⁶·n0·n1 (inside DECIMAL(38,0) to ~3·10¹⁰ users per arm; the
    naive (c0·n1−c1·n0)²·N form wraps at ~10⁸ — the ADVICE.md overflow
    class). Shape: one user-key aggregate (map-side combinable), a 2-row
    arm rollup, a 1-row pivot — the per-user pass is the only shuffle
    and it's the same one sessionization already pays, so the test rides
    an existing partitioning at 100 TB. Experimentation is absent from
    the reference (driver-mandated analytics surface)."""
    e = t(spark, sf_dir, "events")
    from bishe_gpu_database_spark.functions.text import h48

    assign = (
        e.groupBy("user_id")
        .agg(F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("converted"))
        .select(
            (h48(F.concat(F.lit("ab1|"), F.col("user_id").cast("string"))) % 2).alias("arm"),
            "converted",
        )
    )
    arms = assign.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n_users"), F.sum("converted").alias("n_conv")
    )
    wide = arms.agg(
        F.max(F.when(F.col("arm") == 0, F.col("n_users"))).alias("n0"),
        F.max(F.when(F.col("arm") == 0, F.col("n_conv"))).alias("c0"),
        F.max(F.when(F.col("arm") == 1, F.col("n_users"))).alias("n1"),
        F.max(F.when(F.col("arm") == 1, F.col("n_conv"))).alias("c1"),
    )
    ppm = wide.select(
        "n0",
        "c0",
        "n1",
        "c1",
        F.expr("CAST(c0 AS DECIMAL(38,0)) * 1000000 DIV n0").alias("r0"),
        F.expr("CAST(c1 AS DECIMAL(38,0)) * 1000000 DIV n1").alias("r1"),
        F.expr("CAST(c0 + c1 AS DECIMAL(38,0)) * 1000000 DIV (n0 + n1)").alias("pp"),
    )
    return ppm.select(
        F.coalesce("n0", F.lit(0)).alias("n0"),
        F.coalesce("c0", F.lit(0)).alias("c0"),
        F.coalesce("n1", F.lit(0)).alias("n1"),
        F.coalesce("c1", F.lit(0)).alias("c1"),
        F.col("r0").cast("bigint").alias("rate0_ppm"),
        F.col("r1").cast("bigint").alias("rate1_ppm"),
        # Spark's DIV on DECIMAL yields BIGINT, so r0/r1 here are longs;
        # the product must be re-promoted to DECIMAL(38,0) BEFORE the first
        # multiply or (r0-r1)^2*n0*n1*1e4 wraps at ~9.2e18 (ANSI: throws).
        # coalesce(.., false): a degenerate one-arm assignment yields a loud
        # deterministic FALSE verdict, never a silent NULL.
        F.expr(
            "coalesce(CAST(r0 - r1 AS DECIMAL(38,0)) * (r0 - r1) * n0 * n1 * 10000"
            " > CAST(38416 AS DECIMAL(38,0)) * pp * (1000000 - pp) * (n0 + n1), false)"
        ).alias("significant_95"),
    )


@register(
    "mining_chi_square",
    oracle="""
    WITH cells AS (
      SELECT event_type,
             date_part('dow', ts) IN (0, 6) AS is_weekend,
             count(*) AS o
      FROM events GROUP BY 1, 2
    ),
    margins AS (
      SELECT event_type, is_weekend, o,
             sum(o) OVER (PARTITION BY event_type) AS r_tot,
             sum(o) OVER (PARTITION BY is_weekend) AS c_tot,
             sum(o) OVER () AS n
      FROM cells
    ),
    scaled AS (
      SELECT event_type, is_weekend, o, r_tot, c_tot,
             greatest(CAST(r_tot AS HUGEINT) * c_tot * 1000 // n, 1) AS e_milli
      FROM margins
    )
    SELECT event_type, is_weekend, o, r_tot, c_tot,
           CAST((CAST(o AS HUGEINT) * 1000 - e_milli)
                * (CAST(o AS HUGEINT) * 1000 - e_milli)
                * 1000 // e_milli AS BIGINT) AS chi_term_ppm
    FROM scaled
    """,
)
def mining_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence terms for the event_type × weekend
    contingency table: per cell, ((O·N − R·C)²·10⁶) / (N·R·C) in exact
    HUGEINT/DECIMAL arithmetic — summing the column gives X²·10⁶ (up to
    per-cell truncation), the feature-selection / drift-detection
    statistic. The expected count is carried as e_milli = R·C·10³ DIV N
    (truncated identically on both engines, floored at 1 to keep the
    division total), so every intermediate stays ≤ 10⁹·N² — within
    DECIMAL(38,0)/HUGEINT up to ~3·10¹⁴ rows, unlike the naive
    (O·N−R·C)² form which wraps at N≈10⁸ (the overflow class ADVICE.md
    flagged on pad_waste_ppm). Shape: one hash aggregate to cells
    (map-side combinable), then margins via windows over the CELL table
    (cardinality = types × 2, not rows) — the fact scan happens once and
    everything after is dimension-sized, so at 100 TB the statistic is
    free on top of any existing rollup. Statistical tests are absent
    from the reference (driver-mandated analytics surface)."""
    e = t(spark, sf_dir, "events")
    cells = (
        e.select(
            "event_type",
            F.dayofweek("ts").isin(1, 7).alias("is_weekend"),
        )
        .groupBy("event_type", "is_weekend")
        .agg(F.count(F.lit(1)).alias("o"))
    )
    margins = cells.select(
        "event_type",
        "is_weekend",
        "o",
        F.sum("o").over(W.partitionBy("event_type")).alias("r_tot"),
        F.sum("o").over(W.partitionBy("is_weekend")).alias("c_tot"),
        F.sum("o").over(W.partitionBy()).alias("n"),
    )
    scaled = margins.withColumn(
        "e_milli",
        F.expr("greatest(CAST(r_tot AS DECIMAL(38,0)) * c_tot * 1000 DIV n, 1)"),
    )
    d2 = "CAST(o AS DECIMAL(38,0)) * 1000 - e_milli"
    return scaled.select(
        "event_type",
        "is_weekend",
        "o",
        "r_tot",
        "c_tot",
        F.expr(f"CAST(({d2}) * ({d2}) * 1000 DIV e_milli AS BIGINT)").alias("chi_term_ppm"),
    )


@register(
    "events_pattern_regex",
    oracle="""
    WITH seqs AS (
      SELECT user_id,
             string_agg(event_type, ',' ORDER BY ts, event_id) AS journey
      FROM events GROUP BY user_id
    )
    SELECT count(*) AS n_users,
           count(CASE WHEN regexp_matches(journey, 'signup.*purchase')
                      THEN 1 END) AS n_signup_then_purchase,
           count(CASE WHEN regexp_matches(journey, 'error,purchase')
                      THEN 1 END) AS n_purchase_right_after_error,
           count(CASE WHEN regexp_matches(journey, 'click,click,click')
                      THEN 1 END) AS n_triple_click
    FROM seqs
    """,
)
def events_pattern_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-lite sequence pattern matching: each user's
    time-ordered event types collapse to one comma-joined journey string
    and row-pattern predicates become ordinary regexes over it —
    "eventually follows" ('signup.*purchase'), "immediately follows"
    ('error,purchase'), and "k consecutive" ('click,click,click') all in
    one pass. This is the pragmatic distributed form of SQL row-pattern
    matching: one user-key shuffle (collect_list partial-combines
    map-side), then regex evaluation map-side on the journey table —
    versus a window/self-join cascade per pattern. Patterns stay in the
    RE2-compatible subset both engines share. At 100 TB journeys are
    bounded the same way the sessionizer bounds state: window the
    sequence by session or time slice before collapsing."""
    e = t(spark, sf_dir, "events")
    seqs = e.groupBy("user_id").agg(
        F.array_join(
            F.sort_array(
                F.collect_list(F.struct("ts", "event_id", "event_type"))
            ).getField("event_type"),
            ",",
        ).alias("journey")
    )
    return seqs.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count(F.when(F.col("journey").rlike("signup.*purchase"), 1)).alias(
            "n_signup_then_purchase"
        ),
        F.count(F.when(F.col("journey").rlike("error,purchase"), 1)).alias(
            "n_purchase_right_after_error"
        ),
        F.count(F.when(F.col("journey").rlike("click,click,click"), 1)).alias(
            "n_triple_click"
        ),
    )
