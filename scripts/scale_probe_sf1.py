"""sf1 scale probe (VERDICT r2 item 5): synthesize a 10x blowup of the
sf0.1 fixture in scratch, run the probe queries at sf0.1 and sf1, and
write SCALE_r5.json with per-query times + the 10x-data cost ratio —
plus (r5) a SKEWED sf1 variant with deterministic hot spots (duplicate
docs -> hot minhash bands, one shared timestamp, one hot user) probing
the heavy-shuffle queries the uniform replicas cannot stress.

Synthesis keeps each query's workload CHARACTER, not just its byte count:
  - fact tables (lineitem, orders, events, documents, embeddings) are 10
    key-shifted replicas, so every key domain is 10x and no artificial
    hot key appears;
  - documents.text gets a per-replica suffix so the dedup/fingerprint
    probes don't degenerate into 10-way duplicate cliques (pair output
    would grow as C(10,2) per doc — a data artifact, not an engine one);
  - events timestamps shift by +i hours per replica so windows/sessions
    densify realistically rather than stacking 10 identical points;
  - dimensions (region nation customer supplier part) stay 1x, as in
    TPC-H's non-scaling small tables.

Run: PYTHONPATH=/root/repo python scripts/scale_probe_sf1.py
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import functions as F

from bishe_gpu_database_spark.registry import REGISTRY, _ensure_loaded
from bishe_gpu_database_spark.session import get_spark

SF01 = "/root/testdata/sf0.1"
SF1 = "/tmp/bishe_spark_scratch/sf1_synth"
SF1_SKEW = "/tmp/bishe_spark_scratch/sf1_skew"
SF1_TRUE = "/tmp/bishe_spark_scratch/sf1_true"
REPLICAS = 10

PROBES = [
    "q1_pricing_summary",        # scan + partial agg
    "q3_shipping_priority",      # 3-way join tree
    "q5_local_supplier_volume",  # 6-way join tree
    "join_sortmerge_large",      # fact-fact shuffle join
    "window_running_frame",      # window sort
    "topk_per_group",            # ranked window + filter
    "dedup_minhash_lsh_pairs",   # map-side signatures + band join
    "ann_cosine_topk",           # broadcast query batch x corpus
    "text_quality",              # text feature extraction
    "timeseries_twap",           # lead() segments + decimal agg
    "events_sessionize",         # gap sessionization window
    "events_attribution_u_shaped",  # forward range-frame + credit split
    "graph_triangle_count",      # degree-ordered wedge join
    "graph_pagerank_3iter",      # iterative rank loop
    "quality_table_checksum",    # full-scan commutative fold
    "pipeline_e2e_corpus",       # composed corpus build
    "timeseries_cusum_changepoint",  # daily series windows over fact scan
    # r3 additions: the new op families whose driving table scales 10x.
    "join_asof",                 # single-scan union+window as-of
    "pipeline_dsir_resample",    # two-pass importance scoring
    "text_multipattern_match",   # token stream x broadcast dictionary
    "embedding_hard_negatives",  # broadcast anchor batch x 10x corpus
    # r4: the zero-window partition-offset global rank — probed at 10x
    # to evidence the mechanism's scaling (three rank axes + exact
    # ntile; the orders-derived customer aggregate grows with the fact).
    "mart_rfm_segments",
    "agg_ntile_scalable",        # single-axis rank + decile histogram over events
]

SHIFTS = {
    # table: (shift_cols, tag_text_cols)
    "lineitem": (["l_orderkey"], []),
    "orders": (["o_orderkey"], []),
    "events": (["event_id"], []),
    "documents": (["doc_id"], ["text"]),
    "embeddings": (["vec_id"], []),
}
DIMS = ["region", "nation", "customer", "supplier", "part"]


def synthesize(spark) -> None:
    if os.path.exists(os.path.join(SF1, "_SYNTH_DONE")):
        return
    os.makedirs(SF1, exist_ok=True)
    n_parts = spark.sparkContext.defaultParallelism
    for tbl in DIMS:
        df = spark.read.parquet(os.path.join(SF01, f"{tbl}.parquet"))
        df.write.mode("overwrite").parquet(os.path.join(SF1, f"{tbl}.parquet"))
    # The orderkey DOMAIN is shared by lineitem and orders: both must
    # shift by the SAME stride or replica joins lose alignment (the
    # fixture can contain orders with no line items, so per-table maxes
    # are not guaranteed equal).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    from bishe_gpu_database_spark.operators.relational import _raw_scan

    orderkey_stride = (
        max(
            _raw_scan(spark, SF01, "lineitem").agg(F.max("l_orderkey")).collect()[0][0],
            _raw_scan(spark, SF01, "orders").agg(F.max("o_orderkey")).collect()[0][0],
        )
        + 1
    )
    for tbl, (shift_cols, tag_cols) in SHIFTS.items():
        df = _raw_scan(spark, SF01, tbl)
        maxes = {
            c: orderkey_stride
            if c in ("l_orderkey", "o_orderkey")
            else df.agg(F.max(c)).collect()[0][0] + 1
            for c in shift_cols
        }
        parts = []
        for i in range(REPLICAS):
            d = df
            for c in shift_cols:
                d = d.withColumn(c, F.col(c) + F.lit(i * maxes[c]))
            for c in tag_cols:
                d = d.withColumn(c, F.concat(F.col(c), F.lit(f" r{i}")))
            if tbl == "events":
                d = d.withColumn("ts", F.col("ts") + F.expr(f"INTERVAL {i} HOURS"))
            parts.append(d)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        out.repartition(n_parts).write.mode("overwrite").parquet(
            os.path.join(SF1, f"{tbl}.parquet")
        )
    with open(os.path.join(SF1, "_SYNTH_DONE"), "w"):
        pass


# Heavy-shuffle probes for the SKEWED variant (r4 verdict item 6): the
# sf1 replica probe is uniform, so it cannot see the 100 TB failure mode
# of a HOT shuffle key. sf1_skew plants three deterministic hot spots:
#   - 10% of documents keep IDENTICAL text across all 10 replicas
#     (10-way duplicate cliques -> hot minhash band_hash values and real
#     dup pairs);
#   - 10% of events collapse onto ONE shared timestamp (equal range
#     keys are unsplittable -> stresses grouped_rank's range partitioner
#     and every time-window);
#   - 20% of events collapse onto ONE hot user (stresses per-user
#     sessionize/asof windows).
SKEW_PROBES = [
    "dedup_minhash_lsh_pairs",
    "dedup_exact",
    "join_salted_skew",
    "pipeline_global_shuffle",
    "pipeline_winsorize",
    "pipeline_pack_sequences",
    "pipeline_curriculum_order",
    "events_concurrency_sweep",
    "window_distinct_sliding",
    "window_median_sliding",
    "events_sessionize",
    "agg_ntile_scalable",
    # r7 (r5 verdict item 6): the remaining heavy-shuffle families under
    # their own deterministic hot keys (see synthesize_skewed):
    "dedup_editdist_fastss",    # dup cliques -> hot deletion-variant keys
    "linkage_fellegi_sunter",   # one nation block at ~70x average size
    "geo_neighbor_pairs",       # one grid cell holding a 3000-point stack
    "graph_triangle_count",     # one co-purchase hub in 0.5% of lineitems
]


def synthesize_skewed(spark) -> None:
    # Marker is versioned: r7 added customer replication + two hot keys
    # (nation block, geo point stack) and the lineitem hub, so a scratch
    # fixture built by r5/r6 must regenerate.
    if os.path.exists(os.path.join(SF1_SKEW, "_SYNTH_DONE_r7")):
        return
    os.makedirs(SF1_SKEW, exist_ok=True)
    n_parts = spark.sparkContext.defaultParallelism
    for tbl in DIMS:
        if tbl == "customer":
            continue  # replicated below with its own hot keys (r7)
        df = spark.read.parquet(os.path.join(SF01, f"{tbl}.parquet"))
        df.write.mode("overwrite").parquet(os.path.join(SF1_SKEW, f"{tbl}.parquet"))
    from bishe_gpu_database_spark.operators.relational import _raw_scan

    orderkey_stride = (
        max(
            _raw_scan(spark, SF01, "lineitem").agg(F.max("l_orderkey")).collect()[0][0],
            _raw_scan(spark, SF01, "orders").agg(F.max("o_orderkey")).collect()[0][0],
        )
        + 1
    )
    hot_user = _raw_scan(spark, SF01, "events").agg(F.min("user_id")).collect()[0][0]
    hot_ts = _raw_scan(spark, SF01, "events").agg(F.min("ts")).collect()[0][0]
    # hot spot 4: ONE part forced into ~0.5% of all lineitems — a
    # co-purchase hub whose naive wedge fan-out would be C(deg, 2); the
    # degree-ordered orientation must keep it wedge-free (edges point
    # INTO the hub), which this probe finally measures on a non-regular
    # graph.
    hot_part = (
        _raw_scan(spark, SF01, "lineitem")
        .filter(F.col("l_quantity") > 35)
        .agg(F.min("l_partkey"))
        .collect()[0][0]
    )
    # Customer replicates 10x here (it stays a 1x dim in the UNIFORM
    # probe): the linkage/geo skew targets are customer-driven, so the
    # skew variant needs a fact-sized customer with two hot keys —
    #   hot spot 5: ~3% of ALL customers land in ONE nation block
    #     (c_nationkey = -1), ~70x the average block, so the
    #     within-block quadratic scorer must be split by AQE;
    #   hot spot 6: ~2% of ALL customers collapse onto ONE c_custkey,
    #     stacking 3000 identical (x, y) points into a single grid cell
    #     for the distance join (candidate explosion in one cell).
    cust = _raw_scan(spark, SF01, "customer")
    ck_stride = cust.agg(F.max("c_custkey")).collect()[0][0] + 1
    nk_stride = cust.agg(F.max("c_nationkey")).collect()[0][0] + 1
    hot_geo_key = cust.agg(F.min("c_custkey")).collect()[0][0]
    cparts = []
    for i in range(REPLICAS):
        d = cust.withColumn("c_custkey", F.col("c_custkey") + F.lit(i * ck_stride))
        d = d.withColumn(
            "c_nationkey", F.col("c_nationkey") + F.lit(i * nk_stride)
        )
        d = d.withColumn(
            "c_nationkey",
            F.when(F.col("c_custkey") % 33 == 0, F.lit(-1)).otherwise(
                F.col("c_nationkey")
            ),
        )
        d = d.withColumn(
            "c_custkey",
            F.when(F.col("c_custkey") % 50 == 0, F.lit(hot_geo_key)).otherwise(
                F.col("c_custkey")
            ),
        )
        cparts.append(d)
    cout = cparts[0]
    for p_ in cparts[1:]:
        cout = cout.unionByName(p_)
    cout.repartition(n_parts).write.mode("overwrite").parquet(
        os.path.join(SF1_SKEW, "customer.parquet")
    )
    for tbl, (shift_cols, tag_cols) in SHIFTS.items():
        df = _raw_scan(spark, SF01, tbl)
        maxes = {
            c: orderkey_stride
            if c in ("l_orderkey", "o_orderkey")
            else df.agg(F.max(c)).collect()[0][0] + 1
            for c in shift_cols
        }
        parts = []
        for i in range(REPLICAS):
            d = df
            for c in shift_cols:
                d = d.withColumn(c, F.col(c) + F.lit(i * maxes[c]))
            for c in tag_cols:
                # hot spot 1: doc_id % 10 == 0 keeps the ORIGINAL text in
                # every replica -> 10-way duplicate cliques, hot bands.
                d = d.withColumn(
                    c,
                    F.when(F.col("doc_id") % 10 == 0, F.col(c)).otherwise(
                        F.concat(F.col(c), F.lit(f" r{i}"))
                    ),
                )
            if tbl == "lineitem":
                d = d.withColumn(
                    "l_partkey",
                    F.when(
                        (F.col("l_orderkey") + F.col("l_linenumber")) % 200 == 0,
                        F.lit(hot_part),
                    ).otherwise(F.col("l_partkey")),
                )
            if tbl == "events":
                d = d.withColumn("ts", F.col("ts") + F.expr(f"INTERVAL {i} HOURS"))
                # hot spot 2: one shared timestamp for 10% of all events
                # (unsplittable equal range keys).
                d = d.withColumn(
                    "ts",
                    F.when(F.col("event_id") % 10 == 0, F.lit(hot_ts)).otherwise(
                        F.col("ts")
                    ),
                )
                # hot spot 3: one hot user carrying 20% of all events.
                d = d.withColumn(
                    "user_id",
                    F.when(F.col("event_id") % 5 == 0, F.lit(hot_user)).otherwise(
                        F.col("user_id")
                    ),
                )
            parts.append(d)
        out = parts[0]
        for p_ in parts[1:]:
            out = out.unionByName(p_)
        out.repartition(n_parts).write.mode("overwrite").parquet(
            os.path.join(SF1_SKEW, f"{tbl}.parquet")
        )
    with open(os.path.join(SF1_SKEW, "_SYNTH_DONE_r7"), "w"):
        pass


# r8 (r7 verdict item 3): a GENUINE sf1 — real key-cardinality growth and
# fresh per-row value draws, not 10 shifted replicas of sf0.1. The replica
# fixture scales join/shuffle VOLUME faithfully but repeats each replica's
# value distribution 10x; this generator re-draws every value from the
# sf0.1 fixture's observed distributions (domains, enum frequencies,
# lines-per-order shape, doc vocab/length, embedding cluster structure)
# with deterministic hash-based sampling (xxhash64 — no RNG, replayable).
TRUE_PROBES = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "join_sortmerge_large",
    "window_running_frame",
    "topk_per_group",
    "dedup_minhash_lsh_pairs",
    "ann_cosine_topk",
    "text_quality",
    "graph_pagerank_3iter",
]

# lines-per-order distribution observed at sf0.1 (150k orders) — the
# inverse CDF drives per-order line counts so lineitem lands at ~6M rows
# with the same per-order fan-out shape.
_LPO = [
    (1, 11016), (2, 21814), (3, 29500), (4, 29097), (5, 23631), (6, 15625),
    (7, 8941), (8, 4407), (9, 1959), (10, 818), (11, 292), (12, 93),
    (13, 29), (14, 10), (15, 1), (16, 2), (17, 1),
]

_VOCAB = [
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row",
    "the", "agg", "key", "query", "a", "scan", "batch",
]


def _u(*cols):
    """Deterministic uniform [0, 1) from hashed columns/literals."""
    return F.pmod(F.xxhash64(*cols), F.lit(1_000_000)) / F.lit(1_000_000.0)


def _pick(arr: list, *cols):
    """Deterministic uniform pick from a literal list."""
    return F.array(*[F.lit(x) for x in arr])[
        F.pmod(F.xxhash64(*cols), F.lit(len(arr))).cast("int")
    ]


def synthesize_true(spark) -> None:
    if os.path.exists(os.path.join(SF1_TRUE, "_SYNTH_DONE")):
        return
    os.makedirs(SF1_TRUE, exist_ok=True)
    n_parts = spark.sparkContext.defaultParallelism

    def write(df, tbl):
        df.repartition(n_parts).write.mode("overwrite").parquet(
            os.path.join(SF1_TRUE, f"{tbl}.parquet")
        )

    # Fixed-size dims copy through (TPC-H semantics: nation/region never
    # scale); everything else generates at 10x sf0.1 cardinality.
    for tbl in ("region", "nation"):
        write(spark.read.parquet(os.path.join(SF01, f"{tbl}.parquet")), tbl)

    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    cust = spark.range(150_000).select(
        F.col("id").alias("c_custkey"),
        F.format_string("Customer#%09d", F.col("id")).alias("c_name"),
        F.pmod(F.xxhash64("id", F.lit("cnat")), F.lit(25)).cast("int").alias("c_nationkey"),
        F.round(F.lit(-1000.0) + _u("id", F.lit("cbal")) * 11000.0, 2).alias("c_acctbal"),
        _pick(segs, "id", F.lit("cseg")).alias("c_mktsegment"),
    )
    write(cust, "customer")

    supp = spark.range(10_000).select(
        F.col("id").alias("s_suppkey"),
        F.format_string("Supplier#%09d", F.col("id")).alias("s_name"),
        F.pmod(F.xxhash64("id", F.lit("snat")), F.lit(25)).cast("int").alias("s_nationkey"),
        F.round(_u("id", F.lit("sbal")) * 10000.0, 2).alias("s_acctbal"),
    )
    write(supp, "supplier")

    # part enums come from the fixture itself (fixed domains, tiny collects)
    p0 = spark.read.parquet(os.path.join(SF01, "part.parquet"))
    brands = sorted(r[0] for r in p0.select("p_brand").distinct().collect())
    types = sorted(r[0] for r in p0.select("p_type").distinct().collect())
    name_words = sorted(
        {w for r in p0.select("p_name").collect() for w in r[0].split(" ")}
    )
    part = spark.range(200_000).select(
        F.col("id").alias("p_partkey"),
        F.concat_ws(
            " ",
            _pick(name_words, "id", F.lit("pn1")),
            _pick(name_words, "id", F.lit("pn2")),
        ).alias("p_name"),
        _pick(brands, "id", F.lit("pb")).alias("p_brand"),
        _pick(types, "id", F.lit("pt")).alias("p_type"),
        (1 + F.pmod(F.xxhash64("id", F.lit("psz")), F.lit(50))).cast("int").alias("p_size"),
        F.round(F.lit(900.0) + _u("id", F.lit("ppr")) * 99.9, 2).alias("p_retailprice"),
    )
    write(part, "part")

    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    orders = spark.range(1_500_000).select(
        F.col("id").alias("o_orderkey"),
        F.pmod(F.xxhash64("id", F.lit("ocust")), F.lit(150_000)).alias("o_custkey"),
        _pick(["F", "O", "P"], "id", F.lit("ost")).alias("o_orderstatus"),
        F.round(F.lit(1000.0) + _u("id", F.lit("opr")) * 499000.0, 2).alias("o_totalprice"),
        F.to_timestamp(
            F.date_add(
                F.lit("1995-01-01").cast("date"),
                F.pmod(F.xxhash64("id", F.lit("odt")), F.lit(2404)).cast("int"),
            )
        ).alias("o_orderdate"),
        _pick(prios, "id", F.lit("opri")).alias("o_orderpriority"),
    )
    write(orders, "orders")

    # lineitem: per-order line count via the observed inverse CDF, then
    # explode — real key growth (1.5M orderkeys), fresh value draws.
    total = float(sum(n for _, n in _LPO))
    cdf_expr = None
    acc = 0.0
    u_lines = _u("o_orderkey", F.lit("nlines"))
    for lines, cnt in _LPO:
        acc += cnt / total
        cond = u_lines < F.lit(acc)
        cdf_expr = F.when(cond, F.lit(lines)) if cdf_expr is None else cdf_expr.when(cond, F.lit(lines))
    n_lines = cdf_expr.otherwise(F.lit(_LPO[-1][0]))
    li = (
        orders.select("o_orderkey", "o_orderdate")
        .withColumn("n_lines", n_lines)
        .select(
            "o_orderkey",
            "o_orderdate",
            F.explode(F.sequence(F.lit(1), F.col("n_lines"))).alias("l_linenumber"),
        )
        .select(
            F.col("o_orderkey").alias("l_orderkey"),
            F.pmod(F.xxhash64("o_orderkey", "l_linenumber", F.lit("lpart")), F.lit(200_000)).alias("l_partkey"),
            F.pmod(F.xxhash64("o_orderkey", "l_linenumber", F.lit("lsupp")), F.lit(10_000)).alias("l_suppkey"),
            F.col("l_linenumber").cast("int"),
            (1 + F.pmod(F.xxhash64("o_orderkey", "l_linenumber", F.lit("lq")), F.lit(50))).cast("double").alias("l_quantity"),
            F.round(F.lit(900.0) + _u("o_orderkey", "l_linenumber", F.lit("lep")) * 104100.0, 2).alias("l_extendedprice"),
            F.round(F.pmod(F.xxhash64("o_orderkey", "l_linenumber", F.lit("ld")), F.lit(11)) / 100.0, 2).alias("l_discount"),
            F.round(F.pmod(F.xxhash64("o_orderkey", "l_linenumber", F.lit("lt")), F.lit(9)) / 100.0, 2).alias("l_tax"),
            _pick(["A", "N", "R"], "o_orderkey", "l_linenumber", F.lit("lrf")).alias("l_returnflag"),
            _pick(["F", "O"], "o_orderkey", "l_linenumber", F.lit("lls")).alias("l_linestatus"),
            F.to_timestamp(
                F.date_add(
                    F.col("o_orderdate").cast("date"),
                    F.pmod(F.xxhash64("o_orderkey", "l_linenumber", F.lit("lsd")), F.lit(95)).cast("int"),
                )
            ).alias("l_shipdate"),
        )
    )
    write(li, "lineitem")

    etypes = ["click", "error", "purchase", "signup", "view"]
    events = spark.range(1_000_000).select(
        F.col("id").alias("event_id"),
        (
            F.to_timestamp(F.lit("2024-01-01 00:00:00"))
            + F.make_dt_interval(
                F.lit(0), F.lit(0), F.lit(0),
                _u("id", F.lit("ets")) * F.lit(30 * 24 * 3600.0),
            )
        ).alias("ts"),
        F.pmod(F.xxhash64("id", F.lit("eu")), F.lit(15_000)).alias("user_id"),
        _pick(etypes, "id", F.lit("ety")).alias("event_type"),
        F.round(_u("id", F.lit("ev")) * _u("id", F.lit("ev2")) * 560.0, 2).alias("value"),
        F.format_string('{"k": %d}', F.pmod(F.xxhash64("id", F.lit("ep")), F.lit(100)).cast("int")).alias("props"),
    )
    write(events, "events")

    # documents: fresh word draws from the fixture vocab; ~0.2% of docs
    # form exact-duplicate pairs (doc_id % 1000 in {0, 1} share a text
    # seed and carry the fixture's rare 'dup' marker token) so the dedup
    # probes keep real positives at 10x.
    langs_expr = (
        F.when(_u("gid", F.lit("dl")) < 0.4, F.lit("en"))
        .when(_u("gid", F.lit("dl")) < 0.55, F.lit("zh"))
        .when(_u("gid", F.lit("dl")) < 0.70, F.lit("es"))
        .when(_u("gid", F.lit("dl")) < 0.85, F.lit("fr"))
        .otherwise(F.lit("de"))
    )
    docs = (
        spark.range(50_000)
        .select(
            F.col("id").alias("doc_id"),
            F.when(F.pmod("id", F.lit(1000)) <= 1, F.col("id") - F.pmod("id", F.lit(1000)))
            .otherwise(F.col("id"))
            .alias("gid"),
        )
        .select(
            "doc_id",
            F.concat(
                F.array_join(
                    F.transform(
                        F.sequence(F.lit(1), (10 + F.pmod(F.xxhash64("gid", F.lit("dn")), F.lit(91))).cast("int")),
                        lambda i: _pick(_VOCAB, F.col("gid"), i, F.lit("dw")),
                    ),
                    " ",
                ),
                F.when(F.col("gid") != F.col("doc_id"), F.lit(" dup")).otherwise(
                    F.when(
                        (F.pmod("doc_id", F.lit(1000)) == 0)
                        & (F.col("doc_id") < F.lit(49_000)),
                        F.lit(" dup"),
                    ).otherwise(F.lit(""))
                ),
            ).alias("text"),
            langs_expr.alias("lang"),
            F.concat(F.lit("src"), F.pmod(F.xxhash64("doc_id", F.lit("ds")), F.lit(20)).cast("string")).alias("source"),
        )
        .withColumn("n_chars", F.length("text"))
    )
    write(docs, "documents")

    # embeddings: 10 hash-derived unit-sphere-ish centroids + per-vector
    # noise, L2-normalized — cluster structure like the fixture (labels
    # balanced, unit norms), fresh vectors.
    dim = F.sequence(F.lit(0), F.lit(63))
    emb_raw = spark.range(20_000).select(
        F.col("id").alias("vec_id"),
        F.pmod(F.xxhash64("id", F.lit("el")), F.lit(10)).cast("int").alias("label"),
    )
    raw_vec = F.transform(
        dim,
        lambda d: (
            (F.pmod(F.xxhash64(F.col("label"), d, F.lit("ctr")), F.lit(2001)) - 1000) / 1000.0
            + (
                (F.pmod(F.xxhash64(F.col("vec_id"), d, F.lit("n1")), F.lit(1000)) / 1000.0)
                + (F.pmod(F.xxhash64(F.col("vec_id"), d, F.lit("n2")), F.lit(1000)) / 1000.0)
                - 1.0
            )
            * 0.35
        ),
    )
    emb = (
        emb_raw.withColumn("_raw", raw_vec)
        .withColumn(
            "_norm",
            F.sqrt(F.aggregate("_raw", F.lit(0.0), lambda s, x: s + x * x)),
        )
        .select(
            "vec_id",
            F.transform("_raw", lambda x: (x / F.col("_norm")).cast("float")).alias("embedding"),
            "label",
        )
    )
    write(emb, "embeddings")
    with open(os.path.join(SF1_TRUE, "_SYNTH_DONE"), "w"):
        pass


def main() -> None:
    _ensure_loaded()
    spark = get_spark("scale_probe_sf1")
    spark.range(1).count()
    t0 = time.time()
    synthesize(spark)
    print(f"# synthesis: {time.time() - t0:.1f}s", flush=True)

    results: dict[str, dict] = {}
    for sf_name, sf_dir in (("sf0.1", SF01), ("sf1", SF1)):
        # warm relayout + codegen per SF
        for name in PROBES:
            try:
                REGISTRY[name].fn(spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
            except Exception as e:  # noqa: BLE001
                print(f"# warmup {name}@{sf_name}: {e}", flush=True)
        for name in PROBES:
            # Best of 5 (was 3): sub-second probes on this shared box
            # carry the same hypervisor-steal noise the bench documents;
            # q1's pure scan+agg ratio swung 1.3x-4.3x across otherwise
            # identical runs before this bump.
            best = float("inf")
            for _ in range(5):
                t1 = time.perf_counter()
                REGISTRY[name].fn(spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                best = min(best, time.perf_counter() - t1)
            results.setdefault(name, {})[sf_name] = round(best, 3)
            print(f"# {name}@{sf_name}: {best:.3f}s", flush=True)

    for name, r in results.items():
        r["ratio_10x"] = round(r["sf1"] / r["sf0.1"], 2)
    worst = max(r["ratio_10x"] for r in results.values())
    # Anchor normalization (r5 verdict item 2): this box swings 1.5-2x
    # between sessions, so the carried absolute-seconds bars (pagerank
    # 3.5s, mart_rfm 1.2s at sf1) were unfalsifiable. Each probe's sf1
    # time is also reported relative to the SAME session's q1 sf1 time;
    # round-over-round comparisons should use these ratios.
    anchor_sf1 = results["q1_pricing_summary"]["sf1"]
    for r in results.values():
        r["anchor_ratio_sf1"] = round(r["sf1"] / anchor_sf1, 2)

    # Skewed variant: hot band_hash / hot timestamp / hot user at 10x.
    t2 = time.time()
    synthesize_skewed(spark)
    print(f"# skew synthesis: {time.time() - t2:.1f}s", flush=True)
    skew_results: dict[str, dict] = {}
    for name in SKEW_PROBES:
        try:
            REGISTRY[name].fn(spark, SF1_SKEW).write.format("noop").mode(
                "overwrite"
            ).save()
        except Exception as e:  # noqa: BLE001
            print(f"# warmup {name}@sf1_skew: {e}", flush=True)
            skew_results[name] = {"error": str(e)[:200]}
            continue
        best = float("inf")
        for _ in range(5):
            t1 = time.perf_counter()
            REGISTRY[name].fn(spark, SF1_SKEW).write.format("noop").mode(
                "overwrite"
            ).save()
            best = min(best, time.perf_counter() - t1)
        base = results.get(name, {}).get("sf0.1")
        if base is None:
            b = float("inf")
            for _ in range(5):
                t1 = time.perf_counter()
                REGISTRY[name].fn(spark, SF01).write.format("noop").mode(
                    "overwrite"
                ).save()
                b = min(b, time.perf_counter() - t1)
            base = round(b, 3)
        # Skew DAMAGE needs the same-size uniform control (r7): the raw
        # sf0.1->sf1_skew ratio conflates data densification — which the
        # uniform sf1 fixture pays too (longer window frames, denser
        # cells) — with the cost of the hot keys themselves. The
        # defensible metric is sf1_skew / sf1_uniform measured in the
        # SAME session: >1 means the hot keys genuinely cost extra, <=1
        # means the engine's skew handling fully absorbs them.
        uni = results.get(name, {}).get("sf1")
        if uni is None:
            u = float("inf")
            for _ in range(5):
                t1 = time.perf_counter()
                REGISTRY[name].fn(spark, SF1).write.format("noop").mode(
                    "overwrite"
                ).save()
                u = min(u, time.perf_counter() - t1)
            uni = round(u, 3)
        skew_results[name] = {
            "sf0.1": base,
            "sf1_uniform": uni,
            "sf1_skew": round(best, 3),
            "ratio_10x_skewed": round(best / base, 2),
            "skew_vs_uniform": round(best / uni, 2),
        }
        if name == "dedup_editdist_fastss":
            # r8 (r7 verdict item 6): pin the output-bound adjudication
            # with data — emitted pairs beside wall. The skewed fixture's
            # identical-name cliques force C(m,2) GENUINE pairs per
            # clique, so pairs_skew >> pairs_uniform explains the wall
            # ratio (tests/test_r8_fastss_output_bound.py pins the
            # combinatorial claim itself).
            skew_results[name]["pairs_emitted_uniform"] = REGISTRY[name].fn(
                spark, SF1
            ).count()
            skew_results[name]["pairs_emitted_skew"] = REGISTRY[name].fn(
                spark, SF1_SKEW
            ).count()
        print(
            f"# {name}@sf1_skew: {best:.3f}s (ratio {best / base:.2f}x, "
            f"vs uniform sf1 {best / uni:.2f}x)",
            flush=True,
        )
    skew_worst = max(
        (r["ratio_10x_skewed"] for r in skew_results.values() if "ratio_10x_skewed" in r),
        default=None,
    )
    skew_damage_worst = max(
        (r["skew_vs_uniform"] for r in skew_results.values() if "skew_vs_uniform" in r),
        default=None,
    )

    # TRUE sf1 (r8): genuine key-cardinality growth, fresh value draws.
    t3 = time.time()
    synthesize_true(spark)
    print(f"# true-sf1 synthesis: {time.time() - t3:.1f}s", flush=True)
    true_results: dict[str, dict] = {}
    for name in TRUE_PROBES:
        try:
            REGISTRY[name].fn(spark, SF1_TRUE).write.format("noop").mode(
                "overwrite"
            ).save()
        except Exception as e:  # noqa: BLE001
            print(f"# warmup {name}@sf1_true: {e}", flush=True)
            true_results[name] = {"error": str(e)[:200]}
            continue
        best = float("inf")
        for _ in range(5):
            t1 = time.perf_counter()
            REGISTRY[name].fn(spark, SF1_TRUE).write.format("noop").mode(
                "overwrite"
            ).save()
            best = min(best, time.perf_counter() - t1)
        base = results[name]["sf0.1"]
        replica_ratio = results[name]["ratio_10x"]
        true_ratio = round(best / base, 2)
        true_results[name] = {
            "sf0.1": base,
            "sf1_true": round(best, 3),
            "ratio_10x_true": true_ratio,
            "ratio_10x_replica": replica_ratio,
            "true_vs_replica": round(true_ratio / replica_ratio, 2),
        }
        print(
            f"# {name}@sf1_true: {best:.3f}s (true ratio {true_ratio}x vs "
            f"replica {replica_ratio}x)",
            flush=True,
        )
    # Symmetrized divergence (ADVICE r8): ratios are positive, so abs()
    # was a no-op and a 0.4 (= 2.5x disagreement in the other direction)
    # ranked BELOW a 1.3. max(a/b, b/a) treats both directions as
    # equally worth surfacing. ADVICE r9: both inputs here are the
    # 2-DECIMAL-ROUNDED per-query fields (ratio_10x_true is round(.,2)
    # and ratio_10x_replica comes from the rounded sf1/sf0.1 pair), so
    # the divergence itself carries ~1% quantization — acceptable for a
    # worst-of ranking. The explicit None/<=0 guard (not truthiness)
    # keeps a ratio quantized to exactly 0.0 from being silently
    # dropped: it now fails loudly instead, because a true 0.00x ratio
    # means the probe measured nothing and the artifact is wrong.
    for _name, _r in true_results.items():
        _rt, _rr = _r.get("ratio_10x_true"), _r.get("ratio_10x_replica")
        if (_rt is not None and _rt <= 0) or (_rr is not None and _rr <= 0):
            raise SystemExit(
                f"true-sf1 probe {_name}: non-positive ratio pair "
                f"({_rt}, {_rr}) — a 0.00x ratio means a sub-5ms probe "
                "read; re-run on a quiet box"
            )
    _divs = [
        max(r["ratio_10x_true"] / r["ratio_10x_replica"],
            r["ratio_10x_replica"] / r["ratio_10x_true"])
        for r in true_results.values()
        if r.get("ratio_10x_true") is not None
        and r.get("ratio_10x_replica") is not None
    ]
    true_div_worst = round(max(_divs), 2) if _divs else None

    # CONSTRAINED session (r8): own process — driver memory is a JVM
    # launch option. Completion + spill counters for the 5 heaviest.
    import subprocess
    import sys as _sys

    constrained: dict = {}
    try:
        cp = subprocess.run(
            [_sys.executable, os.path.join(os.path.dirname(__file__), "constrained_probe.py")],
            capture_output=True,
            text=True,
            timeout=1800,
            env={**os.environ, "PYTHONPATH": "/root/repo"},
        )
        for line in reversed(cp.stdout.strip().splitlines()):
            if line.startswith("{"):
                constrained = json.loads(line)
                break
        if not constrained:
            constrained = {"error": (cp.stderr or cp.stdout)[-400:]}
    except Exception as e:  # noqa: BLE001
        constrained = {"error": str(e)[:400]}

    # r10 (r9 verdict item 6): probe cost ∝ batch, not base — the
    # streamed drain's broadcast existence probe at TWO base sizes
    # (1.2M and 12M keys) with IDENTICAL batches (ops keys drawn from
    # the 1.2M space, which both bases contain: gen_kv keys are
    # 1..n_keys). Until r9 the O(batch) claim was asserted from the
    # plan shape (bounded broadcast build side); this measures it. The
    # probed side IS a full base scan, but it's an embarrassingly
    # parallel scan+broadcast-semijoin whose wall is dominated by fixed
    # per-job overhead at these sizes — roughly flat per-trigger walls
    # across a 10x base is the evidence; a materially >1 ratio gets
    # written up in SCALE.md instead of hidden.
    from bishe_gpu_database_spark.aria.engine import (
        StreamDrainState,
        stream_drain_step,
    )
    from bishe_gpu_database_spark.aria.workload import gen_kv, gen_ops

    obatch: dict = {}
    _ob_small = 1_200_000
    ob_ops = [
        gen_ops(
            spark, n_txns=150, max_ops=30, n_keys=_ob_small, write_pct=40,
            seed=f"scale_ob{i}",
        ).localCheckpoint()
        for i in range(3)
    ]
    for base_n in (_ob_small, 12_000_000):
        kv = gen_kv(spark, n_keys=base_n, seed="scale_ob_kv")
        st = StreamDrainState(kv)
        # First-touch machinery (base count check) outside the timed
        # region, so every timed trigger pays only its steady-state probe.
        st._resolve_existence({1})
        if st.all_keys_cached:
            raise SystemExit(
                f"obatch probe: prefetch path engaged at base_n={base_n}"
            )
        pj0 = st.probe_jobs
        ob_walls = []
        for ops_i in ob_ops:
            t1 = time.perf_counter()
            stream_drain_step(st, ops_i, reorder=True)
            ob_walls.append(round(time.perf_counter() - t1, 3))
        obatch[f"base_{base_n}"] = {
            "n_keys": base_n,
            "per_trigger_sec": ob_walls,
            "median_trigger_sec": sorted(ob_walls)[len(ob_walls) // 2],
            "probe_jobs": st.probe_jobs - pj0,
        }
        print(f"# obatch base {base_n}: triggers {ob_walls}", flush=True)
    obatch["trigger_wall_ratio_10x_base"] = round(
        obatch["base_12000000"]["median_trigger_sec"]
        / max(obatch["base_1200000"]["median_trigger_sec"], 1e-9),
        2,
    )

    out = {
        "probe": "sf0.1 -> synthetic sf1 (10x key-shifted replicas)",
        "replicas": REPLICAS,
        "queries": results,
        "worst_ratio_10x": worst,
        "anchor": {
            "query": "q1_pricing_summary",
            "sf0.1_sec": results["q1_pricing_summary"]["sf0.1"],
            "sf1_sec": anchor_sf1,
        },
        "skewed": {
            "hot_spots": "10% duplicate docs across replicas (hot bands), "
            "10% of events on ONE timestamp, 20% of events on ONE user, "
            "one co-purchase hub part in 0.5% of lineitems, ~3% of "
            "customers in ONE nation block, a 3000-point stack in ONE "
            "grid cell (r7)",
            "note": "window_distinct_sliding's hot-instant cells route "
            "through the r6 collapse-by-instant hybrid (r7: gated on "
            "measured instant DUPLICATION, not an absolute cell size; "
            "the r5 always-exact path measured 5.31x here). The r7 "
            "uniform-sf1 control showed its residual sf0.1->sf1_skew "
            "ratio is DENSIFICATION, not skew: same-size uniform data "
            "is SLOWER than the skewed fixture (skew_vs_uniform <= 1), "
            "because sliding exact-distinct frames lengthen as cells "
            "densify regardless of hot keys — so the carried bar is on "
            "skew_vs_uniform (<= 1.5), the metric that isolates hot-key "
            "damage. linkage's hot block and geo's hot cell rely on AQE "
            "skew-split of one oversized join partition; the triangle "
            "hub must stay wedge-free under degree-ordered orientation. "
            "dedup_editdist_fastss's skew_vs_uniform is OUTPUT-bound, "
            "not a plan defect: the skewed fixture's 10x customer "
            "replication creates identical-name cliques, and an "
            "edit-distance<=1 self-join must EMIT all C(m,2) pairs of "
            "an m-clique — the uniform control has no such cliques, so "
            "its output is linear; candidate generation itself stays "
            "equi-join-shaped on deletion variants either way.",
            "queries": skew_results,
            "worst_ratio_10x_skewed": skew_worst,
            "worst_skew_vs_uniform": skew_damage_worst,
        },
        "true_sf1": {
            "note": "genuine sf1 (synthesize_true): 10x key cardinality "
            "with fresh hash-drawn values from the sf0.1 distributions — "
            "no replica structure. true_vs_replica near 1 means the "
            "replica probe's ratios were not an artifact of repeated "
            "per-replica value distributions; divergence > 1.5x gets a "
            "written explanation in SCALE.md.",
            "queries": true_results,
            "worst_true_vs_replica": true_div_worst,
        },
        "constrained": constrained,
        "aria_probe_obatch": obatch,
        "note": "ratio <= ~10 means at-worst-linear scaling in data; "
        "well below 10 while fixed per-job overhead still dominates.",
    }
    out_path = os.environ.get("SPARK_GRAFT_SCALE_OUT", "/root/repo/SCALE_r8.json")
    with open(out_path, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps({"worst_ratio_10x": worst,
                      "worst_ratio_10x_skewed": skew_worst,
                      "worst_skew_vs_uniform": skew_damage_worst,
                      "worst_true_vs_replica": true_div_worst,
                      "constrained_all_completed": constrained.get("all_completed"),
                      "obatch_trigger_wall_ratio_10x_base": obatch.get(
                          "trigger_wall_ratio_10x_base")}), flush=True)


if __name__ == "__main__":
    main()
