"""Relational operator surface: scans, filters, joins, aggregations,
windows, sorts, set ops — SURVEY.md §2.2's GAP rows, one named query each.

The reference implements only a keyed hash probe / insert / scan
(ref: src/cuda/hashTable.cuh:94-154, src/database/ycsb/db.h:93-102); the
full relational catalogue here is the driver-mandated analytics surface,
expressed declaratively so Catalyst provides pushdown, pruning, join
selection, and AQE at 100 TB scale.

Float discipline (see registry docstring): every money aggregate goes
through DECIMAL — exact, order-independent, bit-identical with the DuckDB
oracle after the final cast to DOUBLE. Precisions are chosen so no
intermediate exceeds DECIMAL(38,x) in either engine (extendedprice < 1e6
fits DECIMAL(12,4); rates in [0,1] fit DECIMAL(6,4)).

Scale notes per query are inline: which side broadcasts, where the
shuffles land, and why the plan survives a 1000-executor cluster.
"""

from __future__ import annotations

import glob
import hashlib
import logging
import os
import shutil
import tempfile
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from bishe_gpu_database_spark.registry import register

D12 = "decimal(12,4)"

log = logging.getLogger(__name__)


def events_ts_to_micros(df: DataFrame) -> DataFrame:
    """Normalize ``events.ts`` across fixture generations: the column has
    been written both as parquet TIMESTAMP(NANOS) — which Spark's
    vectorized reader rejects, so it arrives as raw nanos under
    ``legacy.parquet.nanosAsLong`` — and as TIMESTAMP(MICROS), which reads
    natively. Floor-convert the nanos form to microseconds (exactly what
    DuckDB's reader does) so both engines see identical timestamps either
    way."""
    from pyspark.sql.types import LongType, TimestampNTZType

    dt = df.schema["ts"].dataType
    if isinstance(dt, LongType):
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    if isinstance(dt, TimestampNTZType):
        # Watermarks/window() require TIMESTAMP; under the engine's fixed
        # UTC session timezone the cast is value-preserving and matches
        # what timestamp_micros produced for the nanos generation.
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def _ntz_to_ltz(df: DataFrame) -> DataFrame:
    """Cast every TIMESTAMP_NTZ column to TIMESTAMP. The fixtures carry
    tz-less parquet timestamps, which Spark reads as NTZ while DuckDB
    treats them as plain timestamps; under the engine's fixed UTC session
    timezone the cast is value-preserving, and it keeps the whole surface
    on one timestamp type (watermarks, window(), unix_micros all require
    TIMESTAMP, and mixed-type comparisons would otherwise lurk)."""
    from pyspark.sql.types import TimestampNTZType

    fields = df.schema.fields
    if not any(isinstance(f.dataType, TimestampNTZType) for f in fields):
        return df
    return df.select(
        [
            F.col(f.name).cast("timestamp").alias(f.name)
            if isinstance(f.dataType, TimestampNTZType)
            else F.col(f.name)
            for f in fields
        ]
    )


# The session confs that change the schema Spark infers from a parquet
# footer (``nanosAsLong`` decides the raw ``events.ts`` type).
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)
_SCHEMAS: dict[tuple, StructType] = {}


def _fingerprint(path: str) -> tuple[int, int]:
    """``(st_size, st_mtime_ns)`` of a parquet file, or of a written-once
    directory's ``_SUCCESS`` marker."""
    marker = os.path.join(path, "_SUCCESS") if os.path.isdir(path) else path
    st = os.stat(marker)
    return st.st_size, st.st_mtime_ns


def _schema_key(spark: SparkSession, path: str) -> tuple:
    """What a footer-inferred schema depends on: the path, its
    ``_fingerprint`` and the schema-inference confs in effect."""
    confs = tuple(spark.conf.get(k) for k in _SCHEMA_CONFS)
    return (path, *_fingerprint(path), confs)


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` with its schema memoized: inferring a
    schema runs one Spark job to read a footer, a read given the schema
    runs none."""
    key = _schema_key(spark, path)
    schema = _SCHEMAS.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[key] = df.schema
    return df


def _raw_scan(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The fixture parquet as-is (``events.ts`` normalized to micros)."""
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = _read_parquet(spark, os.path.join(sf_dir, "events.parquet"))
        return events_ts_to_micros(df)
    return _ntz_to_ltz(_read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet")))


# The one scratch root: every copy the engine derives from a fixture,
# and every sink's output, lives under it.
_SCRATCH = os.path.join(tempfile.gettempdir(), "bishe_spark_scratch")


def _copy_stem(sf_dir: str, tag: str) -> str:
    """``tag``, the fixture's basename and a short hash of its absolute
    path: two fixture dirs that share a basename never share a copy."""
    sf = os.path.abspath(sf_dir)
    base = os.path.basename(sf).replace(".", "_")
    return f"{tag}_{base}_{hashlib.md5(sf.encode()).hexdigest()[:8]}"


def derived_copy(sf_dir: str, source: str, tag: str, build: Callable[[str], None]) -> str:
    """Directory of the write-once copy ``tag`` of fixture table
    ``source``, under ``_SCRATCH``. Its name is the ``_copy_stem`` plus
    the source parquet's ``_fingerprint``, so a rewritten fixture names a
    new copy instead of serving the old one.

    Returns at once when the copy's ``_SUCCESS`` exists. Otherwise
    ``build(tmp)`` writes it into a fresh temporary directory, which is
    published with one ``os.rename``. The loser of a race keeps the
    winner's copy, and raises when there is none. A new copy retires the
    older generations of the same tag and fixture, and nothing else."""
    stem = _copy_stem(sf_dir, tag)
    size, mtime = _fingerprint(os.path.join(sf_dir, f"{source}.parquet"))
    path = os.path.join(_SCRATCH, f"{stem}_{size}_{mtime}")
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    os.makedirs(_SCRATCH, exist_ok=True)
    # The ``tmp_`` prefix keeps a concurrent build out of the purge glob.
    tmp = tempfile.mkdtemp(prefix=f"tmp_{stem}_", dir=_SCRATCH)
    try:
        build(tmp)
        open(os.path.join(tmp, "_SUCCESS"), "ab").close()
        os.rename(tmp, path)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            raise
    for old in glob.glob(os.path.join(_SCRATCH, f"{stem}_*")):
        if old != path:
            shutil.rmtree(old, ignore_errors=True)
    return path


# The tables ``t()`` reads from a re-layout copy. The fixture files are
# single-row-group, so each scans as ONE task whatever the core count. The
# engine owns its storage layout, as a real engine does: it writes each of
# these once as multi-file parquet at core-count width, and every later
# scan runs at full parallelism with no shuffle of its own. They are the
# fact tables (lineitem, orders, events) and the two corpus tables whose
# per-row compute (tokenizing, shingling, minhash, vector math) would
# otherwise run on one core (documents, embeddings). The dimension tables
# are small and feed joins and aggregates, so they keep their raw scans.
# The events copy is also the directory ``streaming.streams.events_stream``
# replays.
_RELAYOUT_TABLES = {"lineitem", "orders", "events", "documents", "embeddings"}


def _relayout_path(spark: SparkSession, sf_dir: str, name: str) -> str:
    """Directory of the multi-file re-layout copy of one fixture table."""
    # events is written post-conversion: the copy carries a proper micros
    # timestamp, no legacy-nanos handling on re-read.
    return derived_copy(
        sf_dir,
        name,
        f"relayout_{name}",
        lambda tmp: _raw_scan(spark, sf_dir, name)
        .repartition(spark.sparkContext.defaultParallelism)
        .write.mode("overwrite")
        .parquet(tmp),
    )


def _relayout_scan(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # The copy was written from ``_raw_scan``, so its timestamps are
    # already TIMESTAMP micros; a copy written under another rule has
    # another name and is never read.
    return _read_parquet(spark, _relayout_path(spark, sf_dir, name))


_EXCLUDED_RULES = "spark.sql.optimizer.excludedRules"
_NO_GENERATE_FILTERS = "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy scan of one fixture table — filters/pruning push into parquet.
    The tables in ``_RELAYOUT_TABLES`` (the fact tables, and the
    ``documents`` and ``embeddings`` corpora that feed per-row compute)
    are read from the engine's storage re-layout (see ``_relayout_scan``):
    results are identical, scans run at core-count width, and no query
    places rows itself. A failed re-layout logs one warning and reads the
    raw fixture.

    The re-layout, like every write-once copy derived from a fixture
    table, goes through ``derived_copy``: one copy per tag, fixture
    directory and source fingerprint, published by rename, older
    generations of the same tag and fixture retired. A rewritten fixture
    names a new copy, so no copy outlives the data it was derived from.

    Every scan is given its schema from an in-process memo, so a warm
    ``t()`` starts no Spark job (inferring a schema reads a parquet footer
    in a job of its own). The memo is keyed by the parquet path, its
    ``_fingerprint`` (for a re-layout directory, that of its ``_SUCCESS``
    marker) and the session's schema-inference confs (``_SCHEMA_CONFS``),
    so a rewritten fixture or a flipped ``nanosAsLong`` misses.

    Also appends InferFiltersFromGenerate to the session's excluded
    optimizer rules, keeping any rule already there: the rule clones a
    Generate's child expression into `size(e)>0 AND isnotnull(e)`
    filters, and for the computed arrays this engine explodes (minhash
    signatures, winnowing fingerprints, shingles) that inlined clone
    re-evaluates the whole array expression per lambda element —
    measured 470s vs 3s on text_winnow_fingerprint. Our generated arrays
    are never null and rarely empty, so the rule only ever costs."""
    excluded = spark.conf.get(_EXCLUDED_RULES, "")
    if _NO_GENERATE_FILTERS not in [r.strip() for r in excluded.split(",")]:
        spark.conf.set(
            _EXCLUDED_RULES, ",".join(filter(None, [excluded, _NO_GENERATE_FILTERS]))
        )
    if name in _RELAYOUT_TABLES:
        try:
            return _relayout_scan(spark, sf_dir, name)
        except Exception as e:
            log.warning(
                "re-layout of %s failed (%s: %s); reading the raw fixture",
                name, type(e).__name__, e,
            )
    return _raw_scan(spark, sf_dir, name)


def dec(c: str):
    return F.col(c).cast(D12)


def one():
    return F.lit(1).cast("decimal(6,4)")


def dsum(expr, alias: str):
    """Exact decimal sum surfaced as double (order-independent)."""
    return F.sum(expr).cast("double").alias(alias)


# ---------------------------------------------------------------------------
# Scans / projection / predicates
# ---------------------------------------------------------------------------


@register(
    "scan_project_filter",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1998-01-01' AND l_quantity > 45
    """,
)
def scan_project_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection + predicate: both must reach the parquet scan
    (PushedFilters / 4-column ReadSchema in .explain). At 100 TB this is
    the difference between reading 4 columns of matching row groups and
    reading everything."""
    li = t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_quantity") > 45)
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")


@register(
    "predicate_null_ternary",
    oracle="""
    SELECT
      count(*) AS n_rows,
      count(CASE WHEN NULLIF(o_orderstatus, 'P') IS NULL THEN 1 END) AS n_null,
      count(CASE WHEN NULLIF(o_orderstatus, 'P') = 'F' THEN 1 END) AS n_true,
      count(COALESCE(NULLIF(o_orderstatus, 'P'), o_orderpriority)) AS n_coalesced
    FROM orders
    """,
)
def predicate_null_ternary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-valued NULL logic — Spark's ternary semantics are exactly the
    reference's CmpBool {CmpFalse, CmpTrue, CmuNull}
    (ref: src/database/common/type.h:22-26)."""
    o = t(spark, sf_dir, "orders")
    nulled = F.nullif(F.col("o_orderstatus"), F.lit("P"))
    return o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(nulled.isNull(), 1)).alias("n_null"),
        F.count(F.when(nulled == "F", 1)).alias("n_true"),
        F.count(F.coalesce(nulled, F.col("o_orderpriority"))).alias("n_coalesced"),
    )


# ---------------------------------------------------------------------------
# Joins — every flavor. The reference's batched hash probe of ops against
# the KV table (ref: src/database/ycsb/TrancM_func.cuh:21-63) is
# structurally a broadcast hash join; these generalize it.
# ---------------------------------------------------------------------------


@register(
    "join_broadcast_inner",
    oracle="""
    SELECT p.p_brand,
           count(*) AS n_items,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,4))) AS DOUBLE) AS brand_revenue
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_brand
    """,
)
def join_broadcast_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension join: part is small → broadcast (no shuffle of the 100 TB
    fact side). This is the GPU hash-probe pattern at cluster scale."""
    li = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum(dec("l_extendedprice"), "brand_revenue"),
        )
    )


@register(
    "join_sortmerge_large",
    oracle="""
    SELECT o.o_orderpriority,
           count(*) AS n_lines,
           CAST(SUM(CAST(l.l_quantity AS DECIMAL(12,4))) AS DOUBLE) AS total_qty
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def join_sortmerge_large(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-large equi-join: both sides shuffle on the key → sort-merge.
    At scale, co-partitioning (bucketing both tables by orderkey) removes
    this shuffle entirely; AQE handles skewed orderkeys."""
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_lines"), dsum(dec("l_quantity"), "total_qty"))
    )


@register(
    "join_left_outer",
    oracle="""
    SELECT c.c_custkey, c.c_name,
           count(o.o_orderkey) AS n_orders,
           CAST(COALESCE(SUM(CAST(o.o_totalprice AS DECIMAL(12,4))), 0) AS DOUBLE) AS total_spend
    FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY c.c_custkey, c.c_name
    """,
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join keeps customers with zero orders (NULL-preserving)."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(F.sum(dec("o_totalprice")), F.lit(0)).cast("double").alias("total_spend"),
        )
    )


@register(
    "join_full_outer",
    oracle="""
    SELECT COALESCE(cn.nationkey, sn.nationkey) AS nationkey,
           COALESCE(cn.n_customers, 0) AS n_customers,
           COALESCE(sn.n_suppliers, 0) AS n_suppliers
    FROM (SELECT c_nationkey AS nationkey, count(*) AS n_customers
          FROM customer GROUP BY c_nationkey) cn
    FULL OUTER JOIN
         (SELECT s_nationkey AS nationkey, count(*) AS n_suppliers
          FROM supplier GROUP BY s_nationkey) sn
    ON cn.nationkey = sn.nationkey
    """,
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join of two pre-aggregated sides (partial aggregation
    before the join shrinks shuffle input — map-side combine)."""
    c = t(spark, sf_dir, "customer")
    s = t(spark, sf_dir, "supplier")
    cn = c.groupBy(F.col("c_nationkey").alias("nationkey")).agg(
        F.count(F.lit(1)).alias("n_customers")
    )
    sn = s.groupBy(F.col("s_nationkey").alias("nationkey")).agg(
        F.count(F.lit(1)).alias("n_suppliers")
    )
    joined = cn.join(sn, "nationkey", "full")
    return joined.select(
        F.col("nationkey"),
        F.coalesce("n_customers", F.lit(0)).alias("n_customers"),
        F.coalesce("n_suppliers", F.lit(0)).alias("n_suppliers"),
    )


@register(
    "join_semi",
    oracle="""
    SELECT c.c_mktsegment, count(*) AS n_customers_with_orders
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000)
    GROUP BY c.c_mktsegment
    """,
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left semi join ≡ EXISTS — emits each left row at most once."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 200000)
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers_with_orders"))
    )


@register(
    "join_anti",
    oracle="""
    SELECT c.c_mktsegment, count(*) AS n_customers_without_orders
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY c.c_mktsegment
    """,
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left anti join ≡ NOT EXISTS — the reference's delete-by-key and
    abort-compaction are both this shape (ref: src/cuda/hashTable.cuh:112,
    src/database/ycsb/TransctionManager.cuh:176-184)."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers_without_orders"))
    )


@register(
    "join_cross",
    oracle="""
    SELECT r.r_name, n.n_name
    FROM region r CROSS JOIN nation n
    """,
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cartesian product — only sane when one side is tiny (broadcast)."""
    r = t(spark, sf_dir, "region")
    n = t(spark, sf_dir, "nation")
    return r.crossJoin(F.broadcast(n)).select("r_name", "n_name")


@register(
    "join_range_theta",
    oracle="""
    SELECT e1.user_id, count(*) AS n_followups
    FROM events e1 JOIN events e2
      ON e1.user_id = e2.user_id
     AND e2.ts > e1.ts
     AND e2.ts <= e1.ts + INTERVAL 10 MINUTE
     AND e1.event_type = 'error'
    GROUP BY e1.user_id
    """,
)
def join_range_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi (range) join with an equi prefix: Spark hashes on user_id
    and applies the range predicate post-probe, so it stays a hash/SMJ, not
    a cartesian. Events within 10 min after each error, per user."""
    e = t(spark, sf_dir, "events")
    e1 = e.alias("e1").filter(F.col("event_type") == "error")
    e2 = e.alias("e2")
    cond = (
        (F.col("e1.user_id") == F.col("e2.user_id"))
        & (F.col("e2.ts") > F.col("e1.ts"))
        & (F.col("e2.ts") <= F.col("e1.ts") + F.expr("INTERVAL 10 MINUTES"))
    )
    return (
        e1.join(e2, cond)
        .groupBy(F.col("e1.user_id").alias("user_id"))
        .agg(F.count(F.lit(1)).alias("n_followups"))
    )


@register(
    "join_asof",
    oracle="""
    SELECT p.event_id, p.user_id, p.value AS purchase_value, prior.click_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    LEFT JOIN LATERAL (
      SELECT max(c.ts) AS click_ts
      FROM events c
      WHERE c.event_type = 'click' AND c.user_id = p.user_id AND c.ts <= p.ts
    ) prior ON TRUE
    """,
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (each purchase ↔ latest click at-or-before it, per user),
    built as a union + window instead of a pairwise range join: sort each
    user's merged timeline once and carry the last click forward with
    ``last(ignorenulls)``. One shuffle on user_id, no quadratic blowup —
    the scalable formulation of as-of at 100 TB.
    """
    # ONE scan: both roles are CASE projections of the same filtered read
    # (the union-of-two-filtered-scans form reads the fact table twice —
    # measured 0.62s vs 0.44s warm at sf0.1, and 2× the IO at 100 TB).
    e = t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    is_p = F.col("event_type") == "purchase"
    merged = e.select(
        "user_id",
        "ts",
        F.when(~is_p, F.col("ts")).alias("click_ts"),
        F.when(is_p, F.col("event_id")).alias("event_id"),
        F.when(is_p, F.col("value")).alias("value"),
    )
    # clicks sort before purchases at identical ts (is_purchase 0 < 1) so a
    # same-instant click is visible to the purchase — matches the oracle's
    # c.ts <= p.ts.
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", F.col("event_id").isNotNull().cast("int"))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        merged.withColumn("click_ts", F.last("click_ts", ignorenulls=True).over(w))
        .filter(F.col("event_id").isNotNull())
        .select("event_id", "user_id", F.col("value").alias("purchase_value"), "click_ts")
    )


# ---------------------------------------------------------------------------
# Aggregations — generalizing the reference's per-key min-Tid reservation
# aggregate (ref: src/cuda/metadatahelper.cuh:36-90 ⇒ groupBy(k).min(tid)).
# ---------------------------------------------------------------------------


@register(
    "agg_hash_groupby",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,4))) AS DOUBLE) AS sum_price,
           CAST(MIN(CAST(o_totalprice AS DECIMAL(12,4))) AS DOUBLE) AS min_price,
           CAST(MAX(CAST(o_totalprice AS DECIMAL(12,4))) AS DOUBLE) AS max_price
    FROM orders
    GROUP BY o_orderstatus, o_orderpriority
    """,
)
def agg_hash_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash aggregation with automatic partial (map-side) aggregation —
    the shuffle carries one row per (group × map task), not per input row."""
    o = t(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum(dec("o_totalprice"), "sum_price"),
        F.min(dec("o_totalprice")).cast("double").alias("min_price"),
        F.max(dec("o_totalprice")).cast("double").alias("max_price"),
    )


@register(
    "agg_distinct_exact",
    oracle="""
    SELECT l_returnflag,
           count(DISTINCT l_orderkey) AS n_orders,
           count(DISTINCT l_suppkey) AS n_suppliers
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def agg_distinct_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-column exact distinct aggregation (expand + two-phase agg)."""
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.countDistinct("l_suppkey").alias("n_suppliers"),
    )


@register(
    "agg_approx_distinct",
    oracle="""
    SELECT l_returnflag, count(DISTINCT l_orderkey) AS n_exact,
           TRUE AS within_bound
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++): the 100 TB path where exact
    distinct's shuffle would dominate. Sketch values are engine-specific,
    so the raw estimate can't hash-match an oracle; instead the query
    emits the EXACT distinct count plus a genuinely-computed
    ``within_bound`` = |approx − exact| ≤ 10%·exact (5σ at rsd=0.02) and
    the oracle asserts TRUE — the hash gate then proves both the exact
    path and that the sketch landed in bounds. One aggregate computes
    both: HLL++ merge and exact expand-distinct share the single
    l_returnflag shuffle."""
    li = t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_orderkey").alias("n_exact"),
            F.approx_count_distinct("l_orderkey", 0.02).alias("_approx"),
        )
        .select(
            "l_returnflag",
            "n_exact",
            (
                F.abs(F.col("_approx") - F.col("n_exact"))
                <= F.col("n_exact") * F.lit(0.10)
            ).alias("within_bound"),
        )
    )


@register(
    "agg_rollup",
    oracle="""
    SELECT n.n_name AS nation, c.c_mktsegment AS segment,
           GROUPING(n.n_name) AS g_nation, GROUPING(c.c_mktsegment) AS g_segment,
           count(*) AS n_customers,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(12,4))) AS DOUBLE) AS sum_acctbal
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY ROLLUP(n.n_name, c.c_mktsegment)
    HAVING count(*) > 0
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals; GROUPING() disambiguates NULL group keys."""
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    j = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).select(
        F.col("n_name").alias("nation"),
        F.col("c_mktsegment").alias("segment"),
        F.col("c_acctbal"),
    )
    return (
        j.rollup("nation", "segment")
        .agg(
            F.grouping("nation").alias("g_nation"),
            F.grouping("segment").alias("g_segment"),
            F.count(F.lit(1)).alias("n_customers"),
            dsum(dec("c_acctbal"), "sum_acctbal"),
        )
        .select("nation", "segment", "g_nation", "g_segment", "n_customers", "sum_acctbal")
    )


@register(
    "agg_cube",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           GROUPING(l_returnflag) AS g_flag, GROUPING(l_linestatus) AS g_status,
           count(*) AS n_lines,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,4))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY CUBE(l_returnflag, l_linestatus)
    -- HAVING count(*) > 0: vacuous on any non-empty input (every
    -- grouping-set row aggregates >=1 row); on an EMPTY input it drops
    -- the ANSI grand-total row Spark's CUBE/ROLLUP never emits, pinning
    -- the repo to Spark's empty-input semantics (r5 empty-fixture axis).
    HAVING count(*) > 0
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE: all 2^k grouping-set combinations in one pass (expand node)."""
    li = t(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.grouping("l_returnflag").alias("g_flag"),
        F.grouping("l_linestatus").alias("g_status"),
        F.count(F.lit(1)).alias("n_lines"),
        dsum(dec("l_quantity"), "sum_qty"),
    )


@register(
    "agg_grouping_sets",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    HAVING count(*) > 0
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS via Spark SQL (same Catalyst Expand as cube)."""
    t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


# ---------------------------------------------------------------------------
# Window functions — generalizing the reference's per-(txn,key) ordered op
# replay (ref: src/database/ycsb/key_op_chain.cuh:161-189).
# ---------------------------------------------------------------------------


@register(
    "window_ranking",
    oracle="""
    SELECT * FROM (
      SELECT c_nationkey, c_custkey, c_acctbal,
             row_number() OVER w AS rn,
             rank() OVER w AS rnk,
             dense_rank() OVER w AS drnk
      FROM customer
      WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey)
    ) WHERE rn <= 3
    """,
)
def window_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_number / rank / dense_rank; c_custkey tie-break makes the
    ranking total, hence deterministic across engines and partitionings."""
    c = t(spark, sf_dir, "customer")
    w = W.partitionBy("c_nationkey").orderBy(F.col("c_acctbal").desc(), F.col("c_custkey"))
    return (
        c.select(
            "c_nationkey",
            "c_custkey",
            "c_acctbal",
            F.row_number().over(w).alias("rn"),
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("drnk"),
        )
        .filter(F.col("rn") <= 3)
    )


@register(
    "window_lag_lead",
    oracle="""
    SELECT event_id, user_id, ts,
           lag(value) OVER w AS prev_value,
           lead(value) OVER w AS next_value,
           CAST(value - COALESCE(lag(value) OVER w, 0) AS DOUBLE) AS delta
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead over each user's event timeline (event_id tie-break)."""
    e = t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "event_id",
        "user_id",
        "ts",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
        (F.col("value") - F.coalesce(F.lag("value").over(w), F.lit(0)))
        .cast("double")
        .alias("delta"),
    )


@register(
    "window_running_frame",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(12,4)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             AS running_spend,
           CAST(AVG(CAST(o_totalprice AS DECIMAL(12,4)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
             AS moving_avg_3
    FROM orders
    """,
)
def window_running_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running sum + 3-row moving average with explicit ROWS frames.
    Decimal accumulators keep the running values bit-identical; AVG over a
    ≤3-row decimal frame divides exactly in both engines."""
    o = t(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.sum(dec("o_totalprice"))
        .over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
        .cast("double")
        .alias("running_spend"),
        F.avg(dec("o_totalprice"))
        .over(w.rowsBetween(-2, W.currentRow))
        .cast("double")
        .alias("moving_avg_3"),
    )


@register(
    "window_ntile_cumedist",
    oracle="""
    SELECT c_custkey, c_acctbal,
           ntile(4) OVER w AS quartile,
           CAST(percent_rank() OVER w AS DOUBLE) AS pct_rank
    FROM customer
    WINDOW w AS (ORDER BY c_acctbal, c_custkey)
    """,
)
def window_ntile_cumedist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global ntile(4) + percent_rank WITHOUT the single-partition window
    (r3 verdict item 1): rank comes from the partition-offset global rank
    (``functions.rank.global_rank`` — range repartition, per-partition
    row_number, driver-broadcast offsets), then ntile and percent_rank
    are re-derived from (rank, n) with their exact SQL definitions:
    percent_rank = (rk−1)/(n−1); ntile buckets differ by ≤1 row with the
    first n mod k buckets one row larger. Customer is dimension-sized
    today but fact-sized at TPC-H SF10k — this plan has no
    ``Exchange SinglePartition`` anywhere."""
    from bishe_gpu_database_spark.functions.rank import global_rank, ntile_from_rank

    c = t(spark, sf_dir, "customer")
    ranked = global_rank(
        c.select("c_custkey", "c_acctbal"),
        [F.col("c_acctbal").asc(), F.col("c_custkey").asc()],
        rank_col="_rk",
        total_col="_n",
    )
    pct = F.when(F.col("_n") > 1, (F.col("_rk") - 1) / (F.col("_n") - 1)).otherwise(
        F.lit(0.0)
    )
    return ranked.select(
        "c_custkey",
        "c_acctbal",
        ntile_from_rank("_rk", "_n", 4).alias("quartile"),
        pct.cast("double").alias("pct_rank"),
    )


# ---------------------------------------------------------------------------
# Sorts / limits / top-k
# ---------------------------------------------------------------------------


@register(
    "sort_limit_topn",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_extendedprice
    FROM lineitem
    ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
    LIMIT 25
    """,
)
def sort_limit_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-N: Spark plans TakeOrderedAndProject — each partition
    keeps N rows, driver merges; no full sort even at 100 TB. Total order
    (all tie-breaks) makes the selected set deterministic."""
    li = t(spark, sf_dir, "lineitem")
    return (
        li.select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy(F.col("l_extendedprice").desc(), "l_orderkey", "l_linenumber")
        .limit(25)
    )


@register(
    "topk_per_group",
    oracle="""
    SELECT * FROM (
      SELECT p_brand, p_partkey, p_retailprice,
             row_number() OVER (PARTITION BY p_brand
                                ORDER BY p_retailprice DESC, p_partkey) AS rn
      FROM part
    ) WHERE rn <= 3
    """,
)
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped top-k via row_number ≤ k — one shuffle on the group key;
    Spark pushes a per-partition rank filter before the final window."""
    p = t(spark, sf_dir, "part")
    w = W.partitionBy("p_brand").orderBy(F.col("p_retailprice").desc(), F.col("p_partkey"))
    return p.select(
        "p_brand", "p_partkey", "p_retailprice", F.row_number().over(w).alias("rn")
    ).filter(F.col("rn") <= 3)


# ---------------------------------------------------------------------------
# Set operations — the reference's abort-compaction is an anti-join by
# state (ref: src/database/ycsb/TransctionManager.cuh:176-184).
# ---------------------------------------------------------------------------


@register(
    "setop_union_distinct",
    oracle="""
    SELECT custkey FROM (
      SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      UNION
      SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 250000
    )
    """,
)
def setop_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION (distinct) = unionByName + dropDuplicates."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    a = c.filter(F.col("c_mktsegment") == "BUILDING").select(F.col("c_custkey").alias("custkey"))
    b = o.filter(F.col("o_totalprice") > 250000).select(F.col("o_custkey").alias("custkey"))
    return a.unionByName(b).distinct()


@register(
    "setop_intersect",
    oracle="""
    SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    INTERSECT
    SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 250000
    """,
)
def setop_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    a = c.filter(F.col("c_mktsegment") == "BUILDING").select(F.col("c_custkey").alias("custkey"))
    b = o.filter(F.col("o_totalprice") > 250000).select(F.col("o_custkey").alias("custkey"))
    return a.intersect(b)


@register(
    "setop_except",
    oracle="""
    SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    EXCEPT
    SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 250000
    """,
)
def setop_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    a = c.filter(F.col("c_mktsegment") == "BUILDING").select(F.col("c_custkey").alias("custkey"))
    b = o.filter(F.col("o_totalprice") > 250000).select(F.col("o_custkey").alias("custkey"))
    return a.subtract(b)  # subtract == EXCEPT DISTINCT


@register(
    "distinct_pairs",
    oracle="SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
)
def distinct_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT ≡ groupBy all columns (exact dedup primitive)."""
    return t(spark, sf_dir, "lineitem").select("l_returnflag", "l_linestatus").distinct()


# ---------------------------------------------------------------------------
# Multi-join analytical queries (TPC-H shapes) — the flagship end-to-end
# plans exercising scan → filter → join tree → agg → sort in one go.
# ---------------------------------------------------------------------------


@register(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,4))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4))
                    * (CAST(1.0 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4))))
                AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4))
                    * (CAST(1.0 AS DECIMAL(6,4)) - CAST(l_discount AS DECIMAL(6,4)))
                    * (CAST(1.0 AS DECIMAL(6,4)) + CAST(l_tax AS DECIMAL(6,4))))
                AS DOUBLE) AS sum_charge,
           CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,4))) AS DOUBLE) / count(*) AS DOUBLE)
             AS avg_qty,
           CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4))) AS DOUBLE) / count(*) AS DOUBLE)
             AS avg_price,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship (TPC-H Q1 shape): scan → pushed filter → hash agg with
    partial aggregation. Six output groups regardless of input size — the
    shuffle moves O(groups × tasks) rows, so the plan is scan-bound at any
    scale. All sums exact via decimal; averages = exact-sum / count."""
    li = t(spark, sf_dir, "lineitem")
    one_minus_disc = one() - F.col("l_discount").cast("decimal(6,4)")
    one_plus_tax = one() + F.col("l_tax").cast("decimal(6,4)")
    agged = (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum(dec("l_quantity"), "sum_qty"),
            dsum(dec("l_extendedprice"), "sum_base_price"),
            dsum(dec("l_extendedprice") * one_minus_disc, "sum_disc_price"),
            dsum(dec("l_extendedprice") * one_minus_disc * one_plus_tax, "sum_charge"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )
    return agged.select(
        "l_returnflag",
        "l_linestatus",
        "sum_qty",
        "sum_base_price",
        "sum_disc_price",
        "sum_charge",
        (F.col("sum_qty") / F.col("count_order")).cast("double").alias("avg_qty"),
        (F.col("sum_base_price") / F.col("count_order")).cast("double").alias("avg_price"),
        "count_order",
    )


@register(
    "q3_shipping_priority",
    oracle="""
    SELECT l.l_orderkey,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,4))
                    * (CAST(1.0 AS DECIMAL(6,4)) - CAST(l.l_discount AS DECIMAL(6,4))))
                AS DOUBLE) AS revenue,
           o.o_orderdate, o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15'
      AND l.l_shipdate > TIMESTAMP '1998-03-15'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, l.l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dimension (filtered customer → broadcast)
    into a large-large join, grouped revenue, global top-10. The broadcast
    customer filter is applied to orders BEFORE the lineitem⋈orders
    shuffle, so the shuffled orders side is pre-reduced ~5× (only the
    BUILDING segment survives) — at 100 TB that's the difference between
    shuffling the whole orders table and a fifth of it, and it lets the
    runtime bloom filter from the reduced side prune lineitem too."""
    c = t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    one_minus_disc = one() - F.col("l_discount").cast("decimal(6,4)")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(dec("l_extendedprice") * one_minus_disc, "revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


@register(
    "q5_local_supplier_volume",
    oracle="""
    SELECT n.n_name AS nation,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,4))
                    * (CAST(1.0 AS DECIMAL(6,4)) - CAST(l.l_discount AS DECIMAL(6,4))))
                AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND s.s_nationkey = c.c_nationkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
    GROUP BY n.n_name
    """,
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-table join tree. region/nation/supplier broadcast;
    the only big shuffles are lineitem⋈orders and orders⋈customer — exactly
    what Catalyst's join reordering + AQE should produce at scale."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    one_minus_disc = one() - F.col("l_discount").cast("decimal(6,4)")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (s.s_nationkey == c.c_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(dsum(dec("l_extendedprice") * one_minus_disc, "revenue"))
    )


@register(
    "join_right_outer",
    oracle="""
    SELECT s.s_suppkey, s.s_name, count(l.l_orderkey) AS n_items
    FROM (SELECT * FROM lineitem WHERE l_quantity > 49) l
    RIGHT JOIN supplier s ON l.l_suppkey = s.s_suppkey
    GROUP BY s.s_suppkey, s.s_name
    """,
)
def join_right_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right outer join: every supplier survives even with zero matching
    high-quantity items (build side preserved)."""
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 49)
    s = t(spark, sf_dir, "supplier")
    return (
        li.join(s, li.l_suppkey == s.s_suppkey, "right")
        .groupBy("s_suppkey", "s_name")
        .agg(F.count("l_orderkey").alias("n_items"))
    )


@register(
    "subquery_scalar",
    oracle="""
    SELECT c_mktsegment, count(*) AS n_above
    FROM customer
    WHERE CAST(round(c_acctbal * 100) AS BIGINT) * (SELECT count(*) FROM customer)
          > (SELECT SUM(CAST(round(c_acctbal * 100) AS BIGINT)) FROM customer)
    GROUP BY c_mktsegment
    """,
)
def subquery_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated scalar subqueries through the SQL front-end:
    above-average filter done exactly in integer cents (cents·n > total —
    no float division). Catalyst plans the scalar subqueries as one-row
    broadcast plans computed once."""
    t(spark, sf_dir, "customer").createOrReplaceTempView("_sq_customer")
    return spark.sql(
        """
        SELECT c_mktsegment, count(*) AS n_above
        FROM _sq_customer
        WHERE CAST(round(c_acctbal * 100) AS BIGINT)
              * (SELECT count(*) FROM _sq_customer)
              > (SELECT SUM(CAST(round(c_acctbal * 100) AS BIGINT)) FROM _sq_customer)
        GROUP BY c_mktsegment
        """
    )


@register(
    "subquery_correlated_exists",
    oracle="""
    SELECT c.c_mktsegment, count(*) AS n_dormant
    FROM customer c
    WHERE NOT EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey
        AND o.o_orderdate >= TIMESTAMP '1998-01-01'
    )
    GROUP BY c.c_mktsegment
    """,
)
def subquery_correlated_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated NOT EXISTS via SQL — Catalyst decorrelates it to a left
    anti join (no per-row re-execution; the same shuffle as an explicit
    anti join at scale)."""
    t(spark, sf_dir, "customer").createOrReplaceTempView("_sq_c")
    t(spark, sf_dir, "orders").createOrReplaceTempView("_sq_o")
    return spark.sql(
        """
        SELECT c.c_mktsegment, count(*) AS n_dormant
        FROM _sq_c c
        WHERE NOT EXISTS (
          SELECT 1 FROM _sq_o o
          WHERE o.o_custkey = c.c_custkey
            AND o.o_orderdate >= TIMESTAMP '1998-01-01'
        )
        GROUP BY c.c_mktsegment
        """
    )


@register(
    "agg_stats_exact",
    oracle="""
    WITH s AS (
      SELECT event_type,
             count(*) AS n,
             SUM(user_id) AS sum_uid,
             SUM(user_id * user_id) AS sum_uid2
      FROM events GROUP BY event_type
    )
    SELECT event_type, n,
           CAST(n * sum_uid2 - sum_uid * sum_uid AS DOUBLE)
             / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS var_pop
    FROM s
    """,
)
def agg_stats_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-moment statistics with exact arithmetic: population variance
    derived from integer sums (n·Σx² − (Σx)²)/n² — order-independent and
    bit-identical cross-engine, unlike a streaming double `var_pop`. The
    shuffle carries three longs per group (partial sums combine map-side)."""
    e = t(spark, sf_dir, "events")
    s = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("user_id").alias("sum_uid"),
        F.sum(F.col("user_id") * F.col("user_id")).alias("sum_uid2"),
    )
    var = (F.col("n") * F.col("sum_uid2") - F.col("sum_uid") * F.col("sum_uid")).cast(
        "double"
    ) / (F.col("n").cast("double") * F.col("n").cast("double"))
    return s.select("event_type", "n", var.alias("var_pop"))


@register(
    "agg_pivot",
    oracle="""
    SELECT c_mktsegment,
           COALESCE(count(CASE WHEN o_orderstatus = 'F' THEN 1 END), 0) AS n_f,
           COALESCE(count(CASE WHEN o_orderstatus = 'O' THEN 1 END), 0) AS n_o,
           COALESCE(count(CASE WHEN o_orderstatus = 'P' THEN 1 END), 0) AS n_p
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY c_mktsegment
    """,
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long → wide): order-status counts per market segment. With
    explicit pivot values Spark plans ONE pass — the same conditional
    aggregation as the oracle, no per-value scan."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    pivoted = (
        c.join(o, c.c_custkey == o.o_custkey)
        .groupBy("c_mktsegment")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
    )
    return pivoted.select(
        "c_mktsegment",
        *[F.coalesce(F.col(s), F.lit(0)).alias(f"n_{s.lower()}") for s in ["F", "O", "P"]],
    )


@register(
    "agg_percentile_exact",
    oracle="""
    SELECT o_orderstatus,
           quantile_cont(CAST(round(o_totalprice * 100) AS BIGINT), 0.5) AS median_cents,
           quantile_cont(CAST(round(o_totalprice * 100) AS BIGINT), 0.9) AS p90_cents
    FROM orders GROUP BY o_orderstatus
    """,
)
def agg_percentile_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (sort-based, linear interpolation) over integer
    cents — deterministic doubles, unlike approx_percentile's sketch.
    Exact percentile is a full sort per group; the documented scale path
    is approx_percentile (t-digest), kept rows-only because sketches
    differ across engines."""
    o = t(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("bigint")
    return o.groupBy("o_orderstatus").agg(
        F.percentile(cents, F.lit(0.5)).alias("median_cents"),
        F.percentile(cents, F.lit(0.9)).alias("p90_cents"),
    )


@register(
    "sample_seeded",
    oracle="""
    SELECT count(*) AS n_source,
           TRUE AS frac_in_bounds,
           TRUE AS is_subset,
           TRUE AS repeat_identical
    FROM lineitem
    """,
)
def sample_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bernoulli sampling with a fixed seed — reproducible within Spark
    (same seed + same partitioning → same rows), the pipeline primitive
    for corpus subsampling. WHICH rows are drawn is engine-specific, so
    the query emits the sample's CONTRACT instead of its rows, each
    genuinely computed and TRUE-asserted by the oracle:
    ``frac_in_bounds`` — the draw count sits within ±5σ of n·p (binomial;
    at the gate scale that is ±~1.5% absolute); ``is_subset`` — every
    sampled (key, line) exists in the source (anti-join is empty);
    ``repeat_identical`` — the same seed re-drawn yields the identical
    multiset (symmetric exceptAll both empty). All three checks are
    batch-shaped: one scan for the sample, broadcast-sized compare."""
    li = t(spark, sf_dir, "lineitem")
    p = 0.1
    s1 = li.sample(fraction=p, seed=42).select("l_orderkey", "l_linenumber")
    s2 = li.sample(fraction=p, seed=42).select("l_orderkey", "l_linenumber")
    stats = li.agg(F.count(F.lit(1)).alias("n_source"))
    n_sample = s1.agg(F.count(F.lit(1)).alias("n_sample"))
    not_in_src = s1.join(
        li.select("l_orderkey", "l_linenumber"), ["l_orderkey", "l_linenumber"], "left_anti"
    ).agg(F.count(F.lit(1)).alias("n_escaped"))
    diff12 = s1.exceptAll(s2).agg(F.count(F.lit(1)).alias("d12"))
    diff21 = s2.exceptAll(s1).agg(F.count(F.lit(1)).alias("d21"))
    j = (
        stats.crossJoin(F.broadcast(n_sample))
        .crossJoin(F.broadcast(not_in_src))
        .crossJoin(F.broadcast(diff12))
        .crossJoin(F.broadcast(diff21))
    )
    # 5σ binomial band around n·p, σ = sqrt(n·p·(1−p)).
    return j.select(
        "n_source",
        (
            F.abs(F.col("n_sample") - F.col("n_source") * F.lit(p))
            <= F.lit(5.0) * F.sqrt(F.col("n_source") * F.lit(p * (1 - p)))
        ).alias("frac_in_bounds"),
        (F.col("n_escaped") == 0).alias("is_subset"),
        ((F.col("d12") == 0) & (F.col("d21") == 0)).alias("repeat_identical"),
    )


@register(
    "sample_stratified",
    oracle="""
    SELECT doc_id, source, rn AS rank_in_stratum
    FROM (
      SELECT doc_id, source,
             row_number() OVER (PARTITION BY source
                                ORDER BY md5(coalesce(text, '')), doc_id) AS rn
      FROM documents
    ) WHERE rn <= 20
    """,
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: exactly 20 documents per source,
    chosen by ranking on a portable content hash (md5) — pseudo-random
    but engine-independent, so unlike seeded Bernoulli this IS
    hash-checkable cross-engine. The training-mixture primitive when the
    recipe demands exact per-stratum counts: one top-k-per-group window
    per stratum key, and at 100 TB the rank-k cutoff pushes down so each
    partition keeps only its local top-20 before the shuffle."""
    from pyspark.sql import Window as W

    d = t(spark, sf_dir, "documents")
    # coalesce: a NULL text must hash like the empty doc, not ride the
    # engines' OPPOSITE default NULL sort positions (r5 NULL-text axis)
    w = W.partitionBy("source").orderBy(
        F.md5(F.coalesce(F.col("text"), F.lit(""))), "doc_id"
    )
    return (
        d.select("doc_id", "source", F.row_number().over(w).alias("rank_in_stratum"))
        .filter(F.col("rank_in_stratum") <= 20)
    )


@register(
    "q6_forecast_revenue",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,4))
                    * CAST(l_discount AS DECIMAL(6,4))) AS DOUBLE) AS revenue,
           count(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan-filter-aggregate, the pushdown showcase —
    all three predicates reach the parquet row-group statistics, and the
    whole query is one codegen stage with a scalar result."""
    li = t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        & (F.col("l_discount").between(0.05, 0.07))
        & (F.col("l_quantity") < 24)
    ).agg(
        dsum(dec("l_extendedprice") * F.col("l_discount").cast("decimal(6,4)"), "revenue"),
        F.count(F.lit(1)).alias("n_items"),
    )


@register(
    "window_range_interval",
    oracle="""
    SELECT event_id, user_id,
           count(*) OVER w AS n_last_hour,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER w AS BIGINT)
             AS cents_last_hour
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
    """,
)
def window_range_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based RANGE frame: per-user trailing-1-hour event count and
    value sum — the sliding aggregation WITHOUT exploding rows into
    overlapping windows. One shuffle on user_id + one sort; at 100 TB
    this replaces a self-join that would be quadratic in events-per-user.
    (Spark's DataFrame rangeBetween is numeric-only, so the interval
    frame goes through the SQL window clause — same engine either way.)"""
    t(spark, sf_dir, "events").createOrReplaceTempView("_wri_events")
    return spark.sql(
        """
        SELECT event_id, user_id,
               count(*) OVER w AS n_last_hour,
               sum(CAST(round(value * 100) AS BIGINT)) OVER w AS cents_last_hour
        FROM _wri_events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts
                     RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
        """
    )


@register(
    "fn_bitwise",
    oracle="""
    SELECT event_id,
           event_id & 255 AS low_byte,
           event_id >> 8 AS high_part,
           xor(event_id, user_id) AS mixed,
           CAST(bit_count(event_id & 1048575) AS INT) AS popcount20
    FROM events
    """,
)
def fn_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise function sampler (&, >>, xor, popcount) — the primitives
    under simhash/bloom/bucket operators, all codegen'd."""
    e = t(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.expr("event_id & 255").alias("low_byte"),
        F.expr("shiftright(event_id, 8)").alias("high_part"),
        F.expr("event_id ^ user_id").alias("mixed"),
        F.bit_count(F.expr("event_id & 1048575")).alias("popcount20"),
    )


@register(
    "q4_order_priority",
    oracle="""
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1997-07-01'
      AND o.o_orderdate <  TIMESTAMP '1997-10-01'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      )
    GROUP BY o_orderpriority
    """,
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: correlated EXISTS with a cross-table predicate
    ('some item shipped >60 days after ordering') → left semi join with a
    compound condition; the selective order-date filter is applied before
    the shuffle."""
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-10-01").cast("timestamp"))
    )
    li = t(spark, sf_dir, "lineitem")
    return (
        o.join(
            li,
            (o.o_orderkey == li.l_orderkey)
            & (li.l_shipdate > o.o_orderdate + F.expr("INTERVAL 60 DAYS")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@register(
    "q10_returned_items",
    oracle="""
    SELECT c.c_custkey, c.c_name, n.n_name AS nation,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,4))
                    * (CAST(1.0 AS DECIMAL(6,4)) - CAST(l.l_discount AS DECIMAL(6,4))))
                AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1997-10-01'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: who returned the most revenue last quarter —
    selective date+flag filters before the joins, nation broadcast,
    global top-20 via TakeOrdered."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = t(spark, sf_dir, "nation")
    one_minus_disc = one() - F.col("l_discount").cast("decimal(6,4)")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", F.col("n_name").alias("nation"))
        .agg(dsum(dec("l_extendedprice") * one_minus_disc, "revenue"))
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
        .select("c_custkey", "c_name", "nation", "revenue")
    )


@register(
    "q14_promo_effect",
    oracle="""
    SELECT CAST(
             100.00 * SUM(CASE WHEN p.p_type LIKE 'PROMO%'
               THEN CAST(l.l_extendedprice AS DECIMAL(12,4))
                    * (CAST(1.0 AS DECIMAL(6,4)) - CAST(l.l_discount AS DECIMAL(6,4)))
               ELSE CAST(0 AS DECIMAL(12,4)) END)
             / SUM(CAST(l.l_extendedprice AS DECIMAL(12,4))
                   * (CAST(1.0 AS DECIMAL(6,4)) - CAST(l.l_discount AS DECIMAL(6,4))))
             AS DOUBLE) AS promo_revenue_pct,
           count(*) AS n_items
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-09-01'
      AND l.l_shipdate <  TIMESTAMP '1997-10-01'
    GROUP BY ALL
    """,
)
def q14_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo revenue share — conditional decimal
    aggregate over a broadcast dimension join; the division happens once
    on the exact sums, so the percentage is bit-stable."""
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp"))
    )
    p = t(spark, sf_dir, "part")
    one_minus_disc = one() - F.col("l_discount").cast("decimal(6,4)")
    rev = dec("l_extendedprice") * one_minus_disc
    promo = F.when(F.col("p_type").like("PROMO%"), rev).otherwise(
        F.lit(0).cast("decimal(12,4)")
    )
    agged = li.join(F.broadcast(p), li.l_partkey == p.p_partkey).agg(
        F.sum(promo).alias("_promo"),
        F.sum(rev).alias("_total"),
        F.count(F.lit(1)).alias("n_items"),
    )
    return agged.select(
        (F.lit(100.0) * F.col("_promo") / F.col("_total"))
        .cast("double")
        .alias("promo_revenue_pct"),
        "n_items",
    )


@register(
    "agg_approx_percentile",
    oracle="""
    SELECT l_returnflag, count(*) AS n_items,
           TRUE AS p50_ok, TRUE AS p95_ok, TRUE AS p99_ok
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate percentiles (the 100 TB swap for agg_percentile_exact's
    sort-bound exact form): one-pass mergeable quantile sketch per group,
    rank error ≤ 1/accuracy = 10⁻⁴. Sketch outputs are engine-specific,
    so instead of emitting raw values the query brackets each estimate in
    RANK space against Spark's own exact percentiles — pXX_ok means the
    approx value lies within the exact [q−0.005, q+0.005] quantile
    interval (50× the guaranteed rank error; quantile functions are
    monotone, so the rank guarantee implies containment) — and the
    oracle asserts TRUE, making the sketch hash-gateable. Both the
    sketch merge and the exact bracket share one l_returnflag shuffle;
    at 100 TB one would drop the exact bracket and keep only the sketch."""
    li = t(spark, sf_dir, "lineitem")
    pcts = F.percentile_approx("l_extendedprice", [0.5, 0.95, 0.99], 10000)
    brackets = F.percentile(
        "l_extendedprice", F.array(*[F.lit(q) for q in
                                     (0.495, 0.505, 0.945, 0.955, 0.985, 0.995)])
    )
    g = li.groupBy("l_returnflag").agg(
        pcts.alias("_p"),
        brackets.alias("_b"),
        F.count(F.lit(1)).alias("n_items"),
    )
    ok = lambda i, lo, hi: (  # noqa: E731
        F.col("_p")[i].between(F.col("_b")[lo], F.col("_b")[hi])
    )
    return g.select(
        "l_returnflag",
        "n_items",
        ok(0, 0, 1).alias("p50_ok"),
        ok(1, 2, 3).alias("p95_ok"),
        ok(2, 4, 5).alias("p99_ok"),
    )


@register(
    "subquery_lateral_topk",
    oracle="""
    SELECT c.c_custkey, o.o_orderkey, o.o_orderdate
    FROM customer c, LATERAL (
      SELECT o_orderkey, o_orderdate FROM orders
      WHERE o_custkey = c.c_custkey
      ORDER BY o_orderdate DESC, o_orderkey
      LIMIT 2
    ) o
    WHERE c.c_custkey < 50
    """,
)
def subquery_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery: the two most recent orders per
    customer written as a per-row dependent subquery (the form ORMs and
    SQL users reach for) rather than a window. Catalyst de-correlates it
    into a ranked join — same physical plan family as topk_per_group, so
    the declarative form costs nothing at 100 TB; the oracle runs the
    identical SQL."""
    t(spark, sf_dir, "customer").createOrReplaceTempView("_lat_customer")
    t(spark, sf_dir, "orders").createOrReplaceTempView("_lat_orders")
    return spark.sql(
        """
        SELECT c.c_custkey, o.o_orderkey, o.o_orderdate
        FROM _lat_customer c, LATERAL (
          SELECT o_orderkey, o_orderdate FROM _lat_orders
          WHERE o_custkey = c.c_custkey
          ORDER BY o_orderdate DESC, o_orderkey
          LIMIT 2
        ) o
        WHERE c.c_custkey < 50
        """
    )


@register(
    "sample_weighted_topk",
    oracle="""
    WITH pri AS (
      SELECT doc_id, lang, n_chars,
             CAST(('0x' || substr(md5('wsamp_' || doc_id), 1, 12))::BIGINT AS DOUBLE)
               / n_chars AS priority
      FROM documents
      WHERE n_chars > 0
    )
    SELECT doc_id, lang, n_chars, rn AS sample_rank
    FROM (SELECT *, row_number() OVER (ORDER BY priority, doc_id) AS rn FROM pri)
    WHERE rn <= 100
    """,
)
def sample_weighted_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling (Efraimidis–Spirakis priority
    shape): each document draws a portable pseudo-random 48-bit key and
    its priority is key/weight — larger weights (longer docs) get
    proportionally smaller priorities, and the k smallest priorities are
    the sample. Both operands are exactly representable (48-bit int,
    small int weight), so the single IEEE division is bit-identical
    cross-engine — a seeded weighted sample that any engine reproduces,
    the property training-data pipelines need for auditable mixtures
    (pipeline_source_mixture is the stratified-by-source cousin). The
    top-k is TakeOrderedAndProject — no global sort at 100 TB."""
    from bishe_gpu_database_spark.functions.text import h48

    d = t(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    pri = d.select(
        "doc_id",
        "lang",
        "n_chars",
        (
            h48(F.concat(F.lit("wsamp_"), F.col("doc_id").cast("string"))).cast("double")
            / F.col("n_chars")
        ).alias("priority"),
    )
    top = pri.orderBy("priority", "doc_id").limit(100)
    return top.select(
        "doc_id",
        "lang",
        "n_chars",
        F.row_number().over(W.orderBy("priority", "doc_id")).alias("sample_rank"),
    )


@register(
    "subquery_in_notin_nulls",
    oracle="""
    WITH probe AS (SELECT nullif(c_nationkey, 13) AS k FROM customer),
         s AS (SELECT n_nationkey AS v FROM nation WHERE n_regionkey <> 2),
         s_null AS (SELECT v FROM s UNION ALL SELECT NULL)
    SELECT
      (SELECT count(*) FROM probe) AS n_total,
      (SELECT count(*) FROM probe WHERE k IN (SELECT v FROM s)) AS n_in,
      (SELECT count(*) FROM probe WHERE k NOT IN (SELECT v FROM s)) AS n_not_in,
      (SELECT count(*) FROM probe
        WHERE k NOT IN (SELECT v FROM s_null)) AS n_not_in_nullset,
      (SELECT count(*) FROM probe WHERE k IS NULL) AS n_null_probe
    """,
)
def subquery_in_notin_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN / NOT IN subqueries under three-valued NULL logic — the
    ternary semantics the reference's CmpBool enum declares but never
    implements (ref: src/database/common/type.h:22-26). Four probes in
    one row: membership, negated membership (NULL probe rows drop —
    UNKNOWN, not TRUE), NOT IN against a set CONTAINING a NULL (the
    classic footgun: always empty), and the raw NULL count. Spark plans
    NOT IN as a null-aware anti join — a broadcast of one boolean plus
    the set, not a correlated per-row rescan, so the probe side streams
    at 100 TB. Filters keep the dim side tiny and broadcastable."""
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    c.select(F.nullif(F.col("c_nationkey"), F.lit(13)).alias("k")).createOrReplaceTempView(
        "_ninn_probe"
    )
    n.filter(F.col("n_regionkey") != 2).select(
        F.col("n_nationkey").alias("v")
    ).createOrReplaceTempView("_ninn_s")
    return spark.sql(
        """
        WITH s_null AS (SELECT v FROM _ninn_s UNION ALL SELECT CAST(NULL AS BIGINT))
        SELECT
          (SELECT count(*) FROM _ninn_probe) AS n_total,
          (SELECT count(*) FROM _ninn_probe WHERE k IN (SELECT v FROM _ninn_s)) AS n_in,
          (SELECT count(*) FROM _ninn_probe
            WHERE k NOT IN (SELECT v FROM _ninn_s)) AS n_not_in,
          (SELECT count(*) FROM _ninn_probe
            WHERE k NOT IN (SELECT v FROM s_null)) AS n_not_in_nullset,
          (SELECT count(*) FROM _ninn_probe WHERE k IS NULL) AS n_null_probe
        """
    )


@register(
    "join_shuffle_hash_hint",
    oracle="""
    SELECT l.l_linestatus,
           count(*) AS n_lines,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,4))) AS DOUBLE)
             AS status_revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderstatus = 'F'
    GROUP BY l.l_linestatus
    """,
)
def join_shuffle_hash_hint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Physical-strategy control: the SHUFFLE_HASH hint forces a shuffled
    hash join where Catalyst's default would be sort-merge. Same one
    shuffle per side, but the build side becomes an in-memory hash table
    instead of BOTH sides paying an O(n log n) sort — the win whenever
    one side (here orders pre-filtered to status 'F') is much smaller
    than the other yet too big to broadcast. This is the closest
    relational analogue of the reference's probe loop: its batched hash
    probe builds once and probes per op (ref:
    src/cuda/hashTable.cuh:94-110). Plan-asserted as ShuffledHashJoin in
    tests/test_plans.py; result is strategy-independent and hash-gated.
    At 100 TB the same hint applies per-bucket after bucketing removes
    the shuffle."""
    li = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return (
        li.join(o.hint("SHUFFLE_HASH"), li.l_orderkey == o.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            dsum(dec("l_extendedprice"), "status_revenue"),
        )
    )


@register(
    "setop_except_all",
    oracle="""
    SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 100000
    EXCEPT ALL
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
    """,
)
def setop_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-SENSITIVE difference (EXCEPT ALL bag semantics): each
    right-side occurrence cancels ONE left-side occurrence, so a
    customer with 5 qualifying orders and 2 'F' orders keeps 3 rows —
    distinct-based EXCEPT would drop all of them. Spark plans this as a
    count-propagating aggregate + generate, not a join per duplicate:
    one shuffle on the key with per-key multiplicity arithmetic, which
    is the 100 TB-safe formulation (row-pairing formulations need a
    nondeterministic matching). The reference's Collect-phase abort
    compaction is the distinct special case of this
    (ref: src/database/ycsb/TransctionManager.cuh:176-184)."""
    o = t(spark, sf_dir, "orders")
    a = o.filter(F.col("o_totalprice") > 100000).select(F.col("o_custkey").alias("custkey"))
    b = o.filter(F.col("o_orderstatus") == "F").select(F.col("o_custkey").alias("custkey"))
    return a.exceptAll(b)


@register(
    "setop_intersect_all",
    oracle="""
    SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 100000
    INTERSECT ALL
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
    """,
)
def setop_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-sensitive intersection: a key appearing m times left and
    n times right yields min(m, n) rows. Same count-propagating single
    shuffle as EXCEPT ALL."""
    o = t(spark, sf_dir, "orders")
    a = o.filter(F.col("o_totalprice") > 100000).select(F.col("o_custkey").alias("custkey"))
    b = o.filter(F.col("o_orderstatus") == "F").select(F.col("o_custkey").alias("custkey"))
    return a.intersectAll(b)


@register(
    "join_asof_forward",
    oracle="""
    SELECT e.event_id, e.user_id, e.ts AS error_ts, nxt.purchase_ts
    FROM (SELECT * FROM events WHERE event_type = 'error') e
    LEFT JOIN LATERAL (
      SELECT min(p.ts) AS purchase_ts
      FROM events p
      WHERE p.event_type = 'purchase' AND p.user_id = e.user_id
        AND p.ts >= e.ts AND p.ts <= e.ts + INTERVAL 30 MINUTE
    ) nxt ON TRUE
    """,
)
def join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join with bounded tolerance: each error event is
    matched to the EARLIEST purchase at-or-after it (same user) within a
    30-minute staleness bound — the mirror of ``join_asof``'s
    latest-at-or-before, and the shape of feature/label joins in training
    pipelines (outcome within horizon H after treatment). Same scalable
    formulation: union the two event kinds into one per-user timeline,
    sort once, and carry the next purchase timestamp BACKWARD with
    ``first(ignorenulls)`` over a forward frame; the tolerance is a
    post-filter. One shuffle on user_id, no pairwise range join, no
    quadratic blowup at 100 TB."""
    # ONE scan, CASE-projected roles (see join_asof for the measured
    # two-scan cost).
    e = t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "error")
    )
    is_err = F.col("event_type") == "error"
    merged = e.select(
        "user_id",
        "ts",
        F.when(~is_err, F.col("ts")).alias("purchase_ts"),
        F.when(is_err, F.col("event_id")).alias("event_id"),
    )
    # Errors sort BEFORE purchases at identical ts (error rows keep their
    # event_id → isNull()=0, purchase rows carry null → 1) so a
    # same-instant purchase lands in the error's forward frame — matches
    # the oracle's p.ts >= e.ts.
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", F.col("event_id").isNull().cast("int"))
        .rowsBetween(W.currentRow, W.unboundedFollowing)
    )
    nxt = F.first("purchase_ts", ignorenulls=True).over(w)
    return (
        merged.withColumn("nxt", nxt)
        .filter(F.col("event_id").isNotNull())
        .select(
            "event_id",
            "user_id",
            F.col("ts").alias("error_ts"),
            F.when(
                F.col("nxt") <= F.col("ts") + F.expr("INTERVAL 30 MINUTES"),
                F.col("nxt"),
            ).alias("purchase_ts"),
        )
    )


@register(
    "join_existence_flag",
    oracle="""
    SELECT c_custkey, c_mktsegment,
           c_custkey IN (SELECT o_custkey FROM orders
                         WHERE o_totalprice > 300000) AS has_big_order
    FROM customer
    """,
)
def join_existence_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Existence join: an IN-subquery used as a PROJECTED boolean rather
    than a filter. Semi/anti joins can only keep or drop rows; when the
    predicate's truth value is itself the output (feature flags, audit
    columns), Catalyst plans a dedicated ExistenceJoin — one hash join
    on the key that attaches `exists` without duplicating matches or
    losing non-matches. Cheaper than left join + distinct + null-check
    at 100 TB: the build side stores keys only, and no post-join dedup
    shuffle exists."""
    t(spark, sf_dir, "customer").createOrReplaceTempView("_exf_customer")
    t(spark, sf_dir, "orders").createOrReplaceTempView("_exf_orders")
    return spark.sql(
        """
        SELECT c_custkey, c_mktsegment,
               c_custkey IN (SELECT o_custkey FROM _exf_orders
                             WHERE o_totalprice > 300000) AS has_big_order
        FROM _exf_customer
        """
    )


@register(
    "join_interval_bucketed",
    oracle="""
    SELECT a.event_id AS error_id, b.event_id AS purchase_id,
           epoch_us(b.ts) - epoch_us(a.ts) AS lag_us
    FROM (SELECT * FROM events WHERE event_type = 'error') a
    JOIN (SELECT * FROM events WHERE event_type = 'purchase') b
      ON b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 1 MINUTE
    """,
)
def join_interval_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure interval join with NO equi key (any purchase within one
    minute after any error, across ALL users) — the case a planner must
    not turn into a cartesian product. The scalable formulation is
    time-bucket blocking: left rows fan out to the (at most two) 1-min
    buckets their interval touches, the join becomes an EQUI-join on the
    bucket id, and the exact interval predicate filters post-probe. Each
    right row lives in exactly one bucket, so no dedup pass is needed.
    Cost: one shuffle per side on the bucket key, fan-out ×2 — versus
    the quadratic pairing a raw theta join degenerates to at 100 TB.
    (Same blocking discipline as the LSH band join and the z-order box
    query: turn a range predicate into a bounded set of exact keys.)"""
    e = t(spark, sf_dir, "events")
    bkt = (F.unix_micros(F.col("ts")) / F.lit(60_000_000)).cast("bigint")
    bkt_a = (F.unix_micros(F.col("a_ts")) / F.lit(60_000_000)).cast("bigint")
    a = (
        e.filter(F.col("event_type") == "error")
        .select(F.col("event_id").alias("error_id"), F.col("ts").alias("a_ts"))
        .withColumn("bkt", F.explode(F.array(bkt_a, bkt_a + 1)))
    )
    b = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("b_ts"),
        bkt.alias("bkt"),
    )
    return (
        a.join(b, "bkt")
        .filter(
            (F.col("b_ts") >= F.col("a_ts"))
            & (F.col("b_ts") <= F.col("a_ts") + F.expr("INTERVAL 1 MINUTE"))
        )
        .select(
            "error_id",
            "purchase_id",
            (F.unix_micros("b_ts") - F.unix_micros("a_ts")).alias("lag_us"),
        )
    )


@register(
    "join_null_safe_eq",
    oracle="""
    WITH a AS (
      SELECT NULLIF(o_orderstatus, 'P') AS k, count(*) AS n_a
      FROM orders GROUP BY 1
    ),
    b AS (
      SELECT NULLIF(o_orderstatus, 'P') AS k,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents_b
      FROM orders GROUP BY 1
    )
    SELECT a.k, a.n_a, b.cents_b
    FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
    """,
)
def join_null_safe_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (`<=>` / IS NOT DISTINCT FROM): NULL keys
    MATCH each other instead of vanishing — the semantic needed when NULL
    is a real category (unknown segment, missing attribution) rather
    than three-valued unknown. Catalyst plans `<=>` as an ordinary
    hash-join key (NULL hashes to a bucket like any value), so this
    costs exactly what the plain equi-join costs; the rewrite people
    reach for instead — `ON a.k = b.k OR (a.k IS NULL AND b.k IS NULL)`
    — degenerates to a nested loop because the OR defeats the hash key.
    NULLIF carves a NULL class out of the order-status domain so the
    match is observable."""
    o = t(spark, sf_dir, "orders")
    k = F.nullif(F.col("o_orderstatus"), F.lit("P"))
    a = o.groupBy(k.alias("k")).agg(F.count(F.lit(1)).alias("n_a"))
    b = o.groupBy(k.alias("kb")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents_b")
    )
    return a.join(b, F.col("k").eqNullSafe(F.col("kb"))).select("k", "n_a", "cents_b")


@register(
    "agg_grouping_flags",
    oracle="""
    SELECT coalesce(l_returnflag, '<all>') AS rf,
           coalesce(l_linestatus, '<all>') AS ls,
           CAST(GROUPING(l_returnflag) AS INT) AS g_rf,
           CAST(GROUPING(l_linestatus) AS INT) AS g_ls,
           count(*) AS n_items
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    HAVING count(*) > 0
    """,
)
def agg_grouping_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING() flags over a ROLLUP: distinguishes "aggregated over this
    column" from "this column was NULL in the data" — the metadata that
    makes multi-level rollup results machine-consumable (a downstream
    reader can filter to one tier without string-sentinel guessing).
    Same single Expand + hash aggregate as agg_rollup; the flags are free
    (they ride the grouping-set id Spark already carries)."""
    li = t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.grouping("l_returnflag").cast("int").alias("g_rf"),
            F.grouping("l_linestatus").cast("int").alias("g_ls"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("<all>")).alias("rf"),
            F.coalesce("l_linestatus", F.lit("<all>")).alias("ls"),
            "g_rf",
            "g_ls",
            "n_items",
        )
    )


@register(
    "join_asof_nearest",
    oracle="""
    SELECT p.event_id, p.user_id,
           CASE
             WHEN prior.pts IS NULL THEN nxt.nts
             WHEN nxt.nts IS NULL THEN prior.pts
             WHEN epoch_us(p.ts) - epoch_us(prior.pts)
                  <= epoch_us(nxt.nts) - epoch_us(p.ts) THEN prior.pts
             ELSE nxt.nts
           END AS nearest_click_ts,
           CASE
             WHEN prior.pts IS NULL THEN epoch_us(nxt.nts) - epoch_us(p.ts)
             WHEN nxt.nts IS NULL THEN epoch_us(p.ts) - epoch_us(prior.pts)
             ELSE least(epoch_us(p.ts) - epoch_us(prior.pts),
                        epoch_us(nxt.nts) - epoch_us(p.ts))
           END AS dist_us
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    LEFT JOIN LATERAL (
      SELECT max(c.ts) AS pts FROM events c
      WHERE c.event_type = 'click' AND c.user_id = p.user_id AND c.ts <= p.ts
    ) prior ON TRUE
    LEFT JOIN LATERAL (
      SELECT min(c.ts) AS nts FROM events c
      WHERE c.event_type = 'click' AND c.user_id = p.user_id AND c.ts > p.ts
    ) nxt ON TRUE
    """,
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-neighbor as-of join (pandas merge_asof direction='nearest'):
    each purchase pairs with its temporally closest click in EITHER
    direction, ties to the earlier one. Completes the as-of family
    (backward `join_asof`, forward `join_asof_forward`): both walls are
    RUNNING frames over one user_id shuffle — the backward wall on the
    ascending timeline, the forward wall on the reversed sort (Spark's
    unbounded-FOLLOWING frame is O(n²) per partition) — then a pure
    per-row arbitration picks the nearer side in exact µs. Still linear,
    still one exchange, no pairwise range join at any scale."""
    # ONE scan, CASE-projected roles (see join_asof for the measured
    # two-scan cost).
    e = t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    is_purchase = F.col("event_type") == "purchase"
    merged = e.select(
        "user_id",
        "ts",
        F.when(~is_purchase, F.col("ts")).alias("click_ts"),
        F.when(is_purchase, F.col("event_id")).alias("event_id"),
    )
    is_p = F.col("event_id").isNotNull().cast("int")
    # Same-instant clicks belong to the BACKWARD wall (c.ts <= p.ts), so
    # ascending puts click@t before purchase@t and the reversed sort puts
    # it after — each wall sees exactly its half-line.
    wb = (
        W.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), is_p.asc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wf = (
        W.partitionBy("user_id")
        .orderBy(F.col("ts").desc(), is_p.desc())
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    walls = merged.select(
        "event_id", "user_id", "ts",
        F.last("click_ts", ignorenulls=True).over(wb).alias("pts"),
        F.last("click_ts", ignorenulls=True).over(wf).alias("nts"),
    ).filter(F.col("event_id").isNotNull())
    pd_ = F.unix_micros("ts") - F.unix_micros("pts")
    nd = F.unix_micros("nts") - F.unix_micros("ts")
    nearest = (
        F.when(F.col("pts").isNull(), F.col("nts"))
        .when(F.col("nts").isNull(), F.col("pts"))
        .when(pd_ <= nd, F.col("pts"))
        .otherwise(F.col("nts"))
    )
    dist = (
        F.when(F.col("pts").isNull(), nd)
        .when(F.col("nts").isNull(), pd_)
        .otherwise(F.least(pd_, nd))
    )
    return walls.select(
        "event_id", "user_id", nearest.alias("nearest_click_ts"), dist.alias("dist_us")
    )


@register(
    "agg_weighted_median",
    oracle="""
    WITH grouped AS (
      SELECT l_returnflag AS rf, CAST(l_quantity AS BIGINT) AS q,
             sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS w
      FROM lineitem GROUP BY 1, 2
    ),
    cum AS (
      SELECT rf, q, w,
             sum(w) OVER (PARTITION BY rf ORDER BY q
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS w_cum,
             sum(w) OVER (PARTITION BY rf) AS w_tot
      FROM grouped
    )
    SELECT rf, min(q) AS wmedian_qty
    FROM cum WHERE 2 * w_cum >= w_tot
    GROUP BY rf
    """,
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact weighted median (revenue-weighted order quantity per return
    flag): the smallest value whose cumulative weight reaches half the
    total. Pre-aggregating to (group, value) pairs FIRST makes the
    window's input the distinct-value domain, not the row count — the
    shuffle carries map-combined partial sums, and the running frame is
    linear over values. Weights in integer cents; the half-total test is
    cross-multiplied (2·cum ≥ tot) so no division exists to disagree
    across engines. The scale path for a high-cardinality value domain
    is agg_ntile_scalable's range-partition + offset composition."""
    li = t(spark, sf_dir, "lineitem")
    grouped = (
        li.select(
            F.col("l_returnflag").alias("rf"),
            F.col("l_quantity").cast("bigint").alias("q"),
            F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("w"),
        )
        .groupBy("rf", "q")
        .agg(F.sum("w").alias("w"))
    )
    wc = (
        W.partitionBy("rf").orderBy("q").rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wt = W.partitionBy("rf")
    cum = grouped.select(
        "rf", "q",
        F.sum("w").over(wc).alias("w_cum"),
        F.sum("w").over(wt).alias("w_tot"),
    )
    return (
        cum.filter(2 * F.col("w_cum") >= F.col("w_tot"))
        .groupBy("rf")
        .agg(F.min("q").alias("wmedian_qty"))
    )


@register(
    "page_keyset",
    oracle="""
    WITH anchor AS (
      SELECT o_orderdate AS ad, o_orderkey AS ak
      FROM orders ORDER BY o_orderdate, o_orderkey
      LIMIT 1 OFFSET 99
    )
    SELECT o.o_orderkey, o.o_custkey, o.o_orderdate, o.o_totalprice
    FROM orders o, anchor
    WHERE (o.o_orderdate, o.o_orderkey) > (anchor.ad, anchor.ak)
    ORDER BY o.o_orderdate, o.o_orderkey
    LIMIT 50
    """,
)
def page_keyset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyset (seek) pagination: page N+1 is "the 50 rows after the last
    key I saw", expressed as a composite-key tuple comparison
    (o_orderdate, o_orderkey) > (anchor), NOT as OFFSET. OFFSET n is
    O(n) per page — at 100 TB page 10⁶ re-sorts and discards a billion
    rows; the seek predicate instead pushes into the parquet scan as a
    range filter on the leading sort column (min/max row-group pruning),
    so every page costs the same. The anchor here is computed in-query
    (LIMIT 1 OFFSET 99, a one-row TakeOrdered) to make the query
    self-contained and oracle-checkable; a real pager passes the
    previous page's last key as a literal. The tuple comparison compiles
    to the same (a > x) OR (a = x AND b > y) form both engines plan.
    Pagination is absent from the reference (full scan prints everything,
    src/cuda/hashTable.cuh:202-206); driver-mandated API surface."""
    o = t(spark, sf_dir, "orders")
    anchor = (
        o.select(F.col("o_orderdate").alias("ad"), F.col("o_orderkey").alias("ak"))
        .orderBy("ad", "ak")
        .offset(99)
        .limit(1)
    )
    return (
        o.crossJoin(F.broadcast(anchor))
        .filter(
            (F.col("o_orderdate") > F.col("ad"))
            | ((F.col("o_orderdate") == F.col("ad")) & (F.col("o_orderkey") > F.col("ak")))
        )
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
        .orderBy("o_orderdate", "o_orderkey")
        .limit(50)
    )


@register(
    "agg_hist_equiheight",
    oracle="""
    WITH ranked AS (
      SELECT l_returnflag,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
             row_number() OVER (PARTITION BY l_returnflag
                                ORDER BY round(l_extendedprice * 100), l_orderkey,
                                         l_linenumber) AS rn,
             count(*) OVER (PARTITION BY l_returnflag) AS k
      FROM lineitem
    )
    SELECT l_returnflag,
           max(k) AS n_rows,
           min(CASE WHEN rn * 10 >= 1 * k THEN cents END) AS d1,
           min(CASE WHEN rn * 10 >= 2 * k THEN cents END) AS d2,
           min(CASE WHEN rn * 10 >= 3 * k THEN cents END) AS d3,
           min(CASE WHEN rn * 10 >= 4 * k THEN cents END) AS d4,
           min(CASE WHEN rn * 10 >= 5 * k THEN cents END) AS d5,
           min(CASE WHEN rn * 10 >= 6 * k THEN cents END) AS d6,
           min(CASE WHEN rn * 10 >= 7 * k THEN cents END) AS d7,
           min(CASE WHEN rn * 10 >= 8 * k THEN cents END) AS d8,
           min(CASE WHEN rn * 10 >= 9 * k THEN cents END) AS d9,
           max(cents) AS d10
    FROM ranked GROUP BY l_returnflag
    """,
)
def agg_hist_equiheight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-height histogram boundaries (the ANALYZE-statistics /
    optimizer-cardinality primitive): per group, the 10 decile upper
    bounds of the price distribution, each defined by the portable
    integer rank inequality rn·10 ≥ i·k over a deterministic
    (value, orderkey, linenumber) total order — no engine-specific
    percentile convention, values in exact cents. The per-flag rank is
    the GROUPED partition-offset rank (``functions.rank.grouped_rank``,
    r5): l_returnflag is a 3-value enum, so a window PARTITIONED by it
    caps the lineitem scan at 3 tasks forever — the grouped rank
    range-partitions on (flag, cents, orderkey, linenumber) and stays
    data-parallel, with identical rank/count values; all ten boundaries
    then fuse into a single conditional-min aggregate. Statistics
    collection is absent from the reference (no optimizer exists);
    driver-mandated profiling."""
    from bishe_gpu_database_spark.functions.rank import grouped_rank

    li = t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_orderkey",
        "l_linenumber",
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
    )
    ranked = grouped_rank(
        li,
        ["l_returnflag"],
        [F.col("cents").asc(), F.col("l_orderkey").asc(), F.col("l_linenumber").asc()],
        rank_col="rn",
        count_col="k",
    )
    aggs = [F.max("k").alias("n_rows")]
    for i in range(1, 10):
        aggs.append(
            F.min(F.when(F.col("rn") * 10 >= i * F.col("k"), F.col("cents"))).alias(f"d{i}")
        )
    aggs.append(F.max("cents").alias("d10"))
    return ranked.groupBy("l_returnflag").agg(*aggs)


@register(
    "window_ratio_to_report",
    oracle="""
    SELECT c_custkey, c_mktsegment,
           CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents,
           CAST(CAST(round(c_acctbal * 100) AS HUGEINT) * 1000000
                // nullif(sum(CAST(round(c_acctbal * 100) AS HUGEINT))
                            OVER (PARTITION BY c_mktsegment), 0)
             AS BIGINT) AS share_ppm
    FROM customer
    WHERE c_acctbal > 0
    """,
)
def window_ratio_to_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report (contribution share): each customer's fraction of
    their segment's positive balance total. The engine form is a
    segment-cardinality AGGREGATE broadcast-joined back onto the detail
    rows (r5) — semantically the unordered whole-partition window sum
    the oracle runs, but a window PARTITIONED by the 5-value segment key
    would cap the customer scan at 5 tasks forever (the r4
    low-cardinality-window disease), while the aggregate is map-side
    combinable and the join is a broadcast: zero detail-row shuffles.
    Shares in integer ppm over HUGEINT/DECIMAL cent sums: the segment
    total easily exceeds what value·10⁶ leaves of int64 at 100 TB, and a
    float share would hash-drift between engines. nullif guards the
    all-zero segment. The per-key totals join the reference's
    reservation aggregate shape (groupBy k) — this is the windowed
    form that keeps every detail row."""
    c = t(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 0)
    cents = F.round(F.col("c_acctbal") * 100).cast("bigint")
    tots = (
        c.groupBy("c_mktsegment")
        .agg(F.sum(cents.cast("decimal(38,0)")).alias("tot_cents"))
    )
    staged = c.select(
        "c_custkey",
        "c_mktsegment",
        cents.alias("bal_cents"),
    ).join(F.broadcast(tots), "c_mktsegment")
    return staged.select(
        "c_custkey",
        "c_mktsegment",
        "bal_cents",
        F.expr(
            "CAST(CAST(bal_cents AS DECIMAL(38,0)) * 1000000"
            " DIV nullif(tot_cents, 0) AS BIGINT)"
        ).alias("share_ppm"),
    )


@register(
    "window_median_sliding",
    oracle="""
    WITH c AS (
      SELECT event_type, ts, event_id,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    fr AS (
      SELECT event_type, event_id,
             list_sort(list(cents) OVER w) AS win
      FROM c
      WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
                   ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, event_id,
           CAST(len(win) AS INT) AS n_in_frame,
           win[CAST((len(win) - 1) // 2 AS INT) + 1]
             + win[CAST(len(win) // 2 AS INT) + 1] AS median_2x_cents
    FROM fr
    """,
)
def window_median_sliding(
    spark: SparkSession, sf_dir: str, *, block_rows: int = 512
) -> DataFrame:
    """Exact sliding-window MEDIAN — the rolling robust statistic Spark's
    window aggregates don't offer natively: collect the BOUNDED 5-row
    frame into an array, sort it, and pick the middle (doubled —
    lo+hi middles summed — so even frames stay in exact integer cents
    with no .5 fraction to disagree on). The bounded-frame array trick is
    O(frame log frame) per row; contrast an UNBOUNDED-frame median, which
    needs the two-pass rank approach of agg_percentile_exact. The frame
    window is partitioned by (event_type, RANK BLOCK) with 4-row boundary
    replication, NOT by bare event_type: a 5-value partition key over the
    fact caps the query at 5 tasks (the r4 low-cardinality-window
    disease). The per-type rank comes from the grouped partition-offset
    rank (``functions.rank.grouped_rank``), each type's row sequence is
    cut into 512-row blocks, and the last 4 rows of every block are
    replicated into the next block — so each native row's 4-preceding
    ROWS frame is complete inside its block partition (ranks are unique,
    replicas sort strictly before natives) and replicas' own frames are
    filtered out. Parallelism = #rows/512 per type, scaling with the
    data. Rolling medians are the robust denoiser for sensor/metric
    streams where one spike wrecks a rolling mean."""
    from bishe_gpu_database_spark.functions.rank import grouped_rank_blocks

    e = t(spark, sf_dir, "events")
    c = e.select(
        "event_type",
        "ts",
        "event_id",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    pts = grouped_rank_blocks(
        c,
        ["event_type"],
        [F.col("ts").asc(), F.col("event_id").asc()],
        rank_col="_rk",
        block_rows=block_rows,
        back=4,
    )
    w = (
        W.partitionBy("event_type", "_blk")
        .orderBy("_rk")
        .rowsBetween(-4, 0)
    )
    fr = (
        pts.withColumn("win", F.array_sort(F.collect_list("cents").over(w)))
        .filter(F.col("_native"))
        .select("event_type", "event_id", "win")
    )
    n = F.size("win")
    return fr.select(
        "event_type",
        "event_id",
        n.alias("n_in_frame"),
        (
            F.element_at("win", ((n - 1) / 2).cast("int") + 1)
            + F.element_at("win", (n / 2).cast("int") + 1)
        ).alias("median_2x_cents"),
    )
