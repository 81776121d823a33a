"""Source/sink format coverage: parquet (native fixtures), CSV, JSON, ORC.

The reference has no file formats at all — data is generated in-memory
and stdout is the only sink (ref: src/database/ycsb/db.h:42-53). Here
each round-trip query writes a projection to a scratch dir in format X,
reads it back, and aggregates; the DuckDB oracle computes the same
aggregate straight from the source table, so the check proves the
round-trip is lossless, not just that it ran.

Sinks write partitioned directories (the 100 TB pattern: one file per
task, partition-pruned on read via the partitioning column).

Everything here lives under the one scratch root,
``operators.relational._SCRATCH``. A sink that writes on every call
overwrites its own directory. A copy written once and reused (the
by-year layout, the fragmented lineitem, the corrupt JSON, the
per-document files, the daily MV) goes through
``relational.derived_copy``: it is named by its tag, the fixture dir and
the source table's fingerprint, published by rename, and retires only
older generations of itself. The bucketed tables are such copies too,
registered in the catalog under their directory's name. So a rewritten
fixture never meets a copy of its old data. The scratch root is read at
call time, so pointing ``relational._SCRATCH`` elsewhere moves every
copy and sink.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bishe_gpu_database_spark.operators import relational
from bishe_gpu_database_spark.operators.relational import derived_copy, t
from bishe_gpu_database_spark.registry import register

_AGG_ORACLE = """
    SELECT o_orderstatus,
           count(*) AS n_orders,
           sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents_total
    FROM orders
    GROUP BY o_orderstatus
"""


def _sink_dir(sf_dir: str, tag: str) -> str:
    """``tag``'s directory for fixture ``sf_dir`` under the scratch root,
    read at call time."""
    return os.path.join(relational._SCRATCH, f"{tag}_{os.path.basename(sf_dir.rstrip('/'))}")


def _roundtrip(spark: SparkSession, sf_dir: str, fmt: str) -> DataFrame:
    """Write orders (price as exact integer cents) in ``fmt``, read back,
    aggregate. Integer cents make the round-trip exact for text formats."""
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("cents"),
    )
    path = _sink_dir(sf_dir, f"orders_{fmt}")
    writer = o.write.mode("overwrite").partitionBy("o_orderstatus")
    getattr(writer, fmt)(path)
    # Explicit schema on re-read for EVERY format, not just CSV: schema
    # inference needs at least one data file, so an upstream that matched
    # zero rows (an everyday event at 100 TB — empty date range, dead
    # partition) would otherwise crash the downstream read with
    # UNABLE_TO_INFER_SCHEMA. The producer knows its schema; declare it.
    back = (
        spark.read.schema("o_orderkey bigint, cents bigint, o_orderstatus string")
        .format(fmt)
        .load(path)
    )
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("cents").alias("cents_total"),
    )


@register("source_roundtrip_csv", oracle=_AGG_ORACLE)
def source_roundtrip_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink+source round-trip (header, explicit schema, partitioned)."""
    return _roundtrip(spark, sf_dir, "csv")


@register("source_roundtrip_json", oracle=_AGG_ORACLE)
def source_roundtrip_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines sink+source round-trip (partitioned directory)."""
    return _roundtrip(spark, sf_dir, "json")


@register("source_roundtrip_orc", oracle=_AGG_ORACLE)
def source_roundtrip_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink+source round-trip (columnar alternative to parquet)."""
    return _roundtrip(spark, sf_dir, "orc")


def _byyear_path(spark: SparkSession, sf_dir: str) -> str:
    """lineitem re-laid-out hive-partitioned by ship year (a derived
    copy, reused by the pruning and DPP queries)."""

    def _write(tmp):
        li = t(spark, sf_dir, "lineitem").select(
            F.year("l_shipdate").cast("int").alias("ship_year"),
            F.round(F.col("l_extendedprice") * 100, 0).cast("bigint").alias("cents"),
        )
        li.write.mode("overwrite").partitionBy("ship_year").parquet(tmp)

    return derived_copy(sf_dir, "lineitem", "lineitem_byyear", _write)


@register(
    "source_partition_pruning",
    oracle="""
    SELECT CAST(year(l_shipdate) AS INT) AS ship_year,
           count(*) AS n_items,
           sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS cents_total
    FROM lineitem
    WHERE year(l_shipdate) >= 1997
    GROUP BY 1
    """,
)
def source_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partition layout + pruning: lineitem written partitioned
    by ship_year, then read back filtered on the partition column — the
    scan touches only the matching ``ship_year=…/`` directories (visible
    as 'partition filters' in .explain, asserted in tests/test_plans.py).
    At 100 TB this is the first line of defense: whole years of data are
    never opened."""
    # Schema declared (not inferred) so a zero-row upstream still reads
    # as an empty frame instead of failing schema inference.
    back = (
        spark.read.schema("cents bigint, ship_year int")
        .parquet(_byyear_path(spark, sf_dir))
        .filter(F.col("ship_year") >= 1997)
    )
    return back.groupBy("ship_year").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum("cents").alias("cents_total"),
    )


@register(
    "source_bucketed_join",
    oracle="""
    SELECT o.o_orderpriority,
           count(*) AS n_items,
           sum(CAST(round(l.l_extendedprice * 100) AS BIGINT)) AS cents_total
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    GROUP BY 1
    """,
)
def source_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed storage co-located join: both sides written bucketBy(8,
    orderkey) so the join needs NO shuffle — each task joins bucket i to
    bucket i (no Exchange above the scans, asserted in test_plans). This
    is the 100 TB pattern for repeated fact-fact joins: pay the shuffle
    once at write time, never per query. Each side is a ``derived_copy``:
    written under a throwaway catalog name into the helper's tmp dir,
    published by its rename, then registered under the published
    directory's name, which a rewritten fixture changes."""
    names = {}
    for tbl, key, cols in (
        ("orders", "o_orderkey", ["o_orderkey", "o_orderpriority"]),
        ("lineitem", "l_orderkey", ["l_orderkey", "l_extendedprice"]),
    ):
        src = t(spark, sf_dir, tbl).select(*cols)

        def _write(tmp, src=src, key=key):
            # bucketBy writes only through saveAsTable; the throwaway
            # entry is external, so dropping it keeps the files.
            build = os.path.basename(tmp)
            (
                src.write.mode("overwrite")
                .option("path", tmp)
                .bucketBy(8, key)
                .sortBy(key)
                .saveAsTable(build)
            )
            spark.sql(f"DROP TABLE IF EXISTS `{build}`")

        path = derived_copy(sf_dir, tbl, f"bkt_{tbl}", _write)
        names[tbl] = os.path.basename(path)
        columns = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in src.schema)
        spark.sql(
            f"""CREATE TABLE IF NOT EXISTS `{names[tbl]}` ({columns})
                USING parquet CLUSTERED BY ({key}) SORTED BY ({key}) INTO 8 BUCKETS
                LOCATION '{path}'"""
        )
    o = spark.table(names["orders"])
    li = spark.table(names["lineitem"])
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(F.round(F.col("l_extendedprice") * 100, 0).cast("bigint")).alias(
                "cents_total"
            ),
        )
    )


@register(
    "source_python_datasource",
    oracle="""
    SELECT count(*) AS n_rows,
           count(DISTINCT k) AS n_keys,
           min(f0) AS min_f0, max(f9) AS max_f9
    FROM (
      SELECT k,
             substr(md5('srccheck_' || k || '#0'), 1, 10) AS f0,
             substr(md5('srccheck_' || k || '#9'), 1, 10) AS f9
      FROM (SELECT unnest(generate_series(1, 1000)) AS k)
    )
    """,
)
def source_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python DataSource (Spark 4 API): the YCSB-shaped generator
    as spark.read.format('ycsb') — executor-side partition generation,
    verified field-exact against the same md5 derivation in SQL."""
    from bishe_gpu_database_spark.sources.ycsb_source import YcsbDataSource

    spark.dataSource.register(YcsbDataSource)  # re-registering is a no-op
    df = (
        spark.read.format("ycsb")
        .option("n_keys", 1000)
        .option("seed", "srccheck")
        .option("partitions", 8)
        .load()
    )
    return df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("k").alias("n_keys"),
        F.min("f0").alias("min_f0"),
        F.max("f9").alias("max_f9"),
    )


@register(
    "source_dpp_join",
    oracle="""
    SELECT CAST(year(l_shipdate) AS INT) AS ship_year,
           count(*) AS n_items,
           sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS cents_total
    FROM lineitem
    WHERE year(l_shipdate) IN (1996, 1998)
    GROUP BY 1
    """,
)
def source_dpp_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: the fact side is hive-partitioned on
    ship_year and the filter lives on the DIM side — at plan time no
    static partition filter exists, so Catalyst injects a runtime
    dynamicpruning subquery that reads only the dim-selected year
    directories (asserted in tests/test_plans.py). At 100 TB this is the
    difference between scanning two years and scanning all of them, with
    the year set only known from data."""
    fact = spark.read.schema("cents bigint, ship_year int").parquet(
        _byyear_path(spark, sf_dir)
    )
    # The selective predicate on the dim side is what licenses DPP
    # (a bare unfiltered relation does not trigger the rewrite).
    dim = spark.createDataFrame(
        [(y, "campaign" if y in (1996, 1998) else "baseline") for y in range(1992, 1999)],
        "yr int, tag string",
    ).filter(F.col("tag") == "campaign")
    return (
        fact.join(dim, fact.ship_year == dim.yr)
        .groupBy("ship_year")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum("cents").alias("cents_total"),
        )
    )


_SALT = 8


@register(
    "join_salted_skew",
    oracle="""
    WITH dim AS (
      SELECT DISTINCT user_id, user_id % 10 AS cohort FROM events
    )
    SELECT d.cohort,
           count(*) AS n_events,
           sum(CAST(round(e.value * 100) AS BIGINT)) AS cents
    FROM events e JOIN dim d ON e.user_id = d.user_id
    GROUP BY d.cohort
    """,
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe salted join: the fact side carries a deterministic salt
    (event_id % 8) and the dim side is exploded ×8, so a hot user_id
    spreads over 8 reducers instead of one. The result is identical to
    the plain join (the oracle IS the plain join). This is the manual
    fallback when AQE's skew-join can't kick in (e.g. pre-AQE sinks or
    stateful ops); salt count scales with observed skew, not data size."""
    e = t(spark, sf_dir, "events")
    dim = e.select("user_id").distinct().select(
        "user_id", (F.col("user_id") % 10).alias("cohort")
    )
    fact = e.select(
        "user_id",
        (F.col("event_id") % _SALT).cast("int").alias("_salt"),
        F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
    )
    dim_salted = dim.select(
        "user_id", "cohort", F.explode(F.sequence(F.lit(0), F.lit(_SALT - 1))).alias("_salt")
    )
    return (
        fact.join(dim_salted, ["user_id", "_salt"])
        .groupBy("cohort")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("cents").alias("cents"),
        )
    )


@register(
    "sink_partitioned_parquet",
    oracle="""
    SELECT o_orderstatus, CAST(year(o_orderdate) AS INT) AS o_year,
           count(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE) AS total_price
    FROM orders
    WHERE year(o_orderdate) >= 1996
    GROUP BY 1, 2
    """,
)
def sink_partitioned_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet sink with a two-level hive partition layout
    (o_orderstatus / o_year), read back with a filter on the partition
    columns. Unlike the text round-trips, parquet carries doubles
    bit-exactly, so the check aggregates o_totalprice itself — proving
    binary fidelity through the sink — and the year filter resolves to
    directory pruning (only ``o_year>=1996`` dirs are opened; at 100 TB
    the sink layout IS the index)."""
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.year("o_orderdate").cast("int").alias("o_year"),
        "o_totalprice",
    )
    path = _sink_dir(sf_dir, "orders_pq_sink")
    # r10 (guide §6): cluster rows by the partition columns before the
    # write — without it every scan task opens a writer per directory it
    # touches (32 tasks × ~21 (status, year) dirs ≈ 670 tiny files here;
    # measured 5.8 s → 1.1 s for the whole round-trip). After the
    # repartition each hive dir is written by exactly one task → one
    # well-sized file per dir. At 100 TB the same clustering is what
    # keeps file counts sane; a skew-prone partition key would add a
    # salt column to spread one giant partition over several writers.
    o.repartition("o_orderstatus", "o_year").write.mode("overwrite").partitionBy(
        "o_orderstatus", "o_year"
    ).parquet(path)
    back = (
        spark.read.schema(
            "o_orderkey bigint, o_totalprice double, o_orderstatus string, o_year int"
        )
        .parquet(path)
        .filter(F.col("o_year") >= 1996)
    )
    return back.groupBy("o_orderstatus", "o_year").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(14,2)")).cast("double").alias("total_price"),
    )


@register(
    "source_schema_evolution",
    oracle="""
    SELECT o_orderstatus,
           CASE WHEN year(o_orderdate) >= 1996 THEN o_orderpriority
                ELSE '<pre-schema>' END AS priority,
           count(*) AS n_orders
    FROM orders
    GROUP BY 1, 2
    """,
)
def source_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on read: an old batch written WITHOUT
    o_orderpriority and a new batch written WITH it land in the same
    dataset; ``mergeSchema`` unions the schemas and back-fills the old
    batch with NULLs — the additive-column migration every long-lived
    100 TB dataset goes through (no rewrite of historical files). The
    aggregate distinguishes back-filled NULLs from real values, so the
    oracle checks the merge semantics, not just row counts."""
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_orderpriority",
        F.year("o_orderdate").cast("int").alias("o_year"),
    )
    path = _sink_dir(sf_dir, "orders_evolve")
    old = o.filter(F.col("o_year") < 1996).drop("o_orderpriority", "o_year")
    new = o.filter(F.col("o_year") >= 1996).drop("o_year")
    old.write.mode("overwrite").parquet(os.path.join(path, "batch=1"))
    new.write.mode("overwrite").parquet(os.path.join(path, "batch=2"))
    back = spark.read.option("mergeSchema", "true").parquet(path)
    return (
        back.select(
            "o_orderstatus",
            F.coalesce("o_orderpriority", F.lit("<pre-schema>")).alias("priority"),
        )
        .groupBy("o_orderstatus", "priority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


def compaction_paths(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Write lineitem fragmented into many small files, then compact it
    to parallelism-sized files. Returns (fragmented_dir, compacted_dir);
    ``sink_compaction`` oracles the content, tests assert the file
    counts."""
    compact = _sink_dir(sf_dir, "lineitem_compact")
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"
    )
    frag = derived_copy(
        sf_dir,
        "lineitem",
        "lineitem_frag",
        lambda tmp: li.repartition(64).write.mode("overwrite").parquet(tmp),
    )
    n = spark.sparkContext.defaultParallelism
    spark.read.parquet(frag).repartition(n).write.mode("overwrite").parquet(compact)
    return frag, compact


@register(
    "sink_compaction",
    oracle="""
    SELECT l_returnflag, count(*) AS n_items,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS total_qty,
           count(DISTINCT l_orderkey) AS n_orders
    FROM lineitem
    GROUP BY 1
    """,
)
def sink_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction — the table-maintenance pass that keeps a
    100 TB dataset scannable: a 64-way fragmented copy of lineitem is
    rewritten into parallelism-sized files (round-robin repartition, so
    output files are uniform), and the aggregate proves the rewrite lost
    nothing. At scale this runs per-partition with atomic directory
    swap — the same write-once/rename pattern as the ingest re-layout
    (``relational.derived_copy``)."""
    _, compact = compaction_paths(spark, sf_dir)
    back = spark.read.parquet(compact)
    return back.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(F.col("l_quantity").cast("decimal(12,2)")).cast("double").alias("total_qty"),
        F.count_distinct("l_orderkey").alias("n_orders"),
    )


# ---------------------------------------------------------------------------
# Z-order clustered layout
# ---------------------------------------------------------------------------

# Morton "Part1By1" bit-spread: interleave zeros between the low 16 bits.
# The same magic-mask sequence is emitted as Spark Column ops and as the
# oracle's SQL text, so the z-key arithmetic is hash-checked bit-for-bit.
_SPREAD_STEPS = [(8, 0x00FF00FF), (4, 0x0F0F0F0F), (2, 0x33333333), (1, 0x55555555)]


def _spread_col(c):
    x = c.cast("bigint").bitwiseAND(F.lit(0xFFFF))
    for sh, mask in _SPREAD_STEPS:
        x = x.bitwiseOR(F.shiftleft(x, sh)).bitwiseAND(F.lit(mask))
    return x


def _spread_sql(expr: str) -> str:
    x = f"(CAST({expr} AS BIGINT) & 65535)"
    for sh, mask in _SPREAD_STEPS:
        x = f"(({x} | ({x} << {sh})) & {mask})"
    return x


def _zkey_sql() -> str:
    return f"({_spread_sql('l_partkey')} | ({_spread_sql('l_suppkey')} << 1))"


def zorder_path(sf_dir: str) -> str:
    return _sink_dir(sf_dir, "lineitem_zorder")


@register(
    "sink_zorder_layout",
    oracle=f"""
    SELECT count(*) AS n_items,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS total_qty,
           min({_zkey_sql()}) AS min_zkey,
           max({_zkey_sql()}) AS max_zkey
    FROM lineitem
    WHERE l_partkey BETWEEN 100 AND 2000 AND l_suppkey BETWEEN 10 AND 120
    """,
)
def sink_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustered sink: lineitem is rewritten range-partitioned +
    sorted by the Morton interleave of (l_partkey, l_suppkey), then a 2-D
    box predicate is answered from the clustered copy. Because z-order
    keeps both dimensions locally dense, every output file covers a small
    (partkey × suppkey) bounding box, so parquet row-group min/max stats
    prune most of the table for ANY 2-D range query — the layout IS the
    multi-dimensional index. At 100 TB this is the maintenance pass behind
    OPTIMIZE ... ZORDER BY: one range shuffle on the z-key, append-only
    file rewrite. The locality test asserts per-file bounding boxes; the
    oracle re-derives the z-key arithmetic bit-for-bit."""
    li = t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_quantity"
    )
    zkey = _spread_col(F.col("l_partkey")).bitwiseOR(
        F.shiftleft(_spread_col(F.col("l_suppkey")), 1)
    )
    path = zorder_path(sf_dir)
    (
        li.withColumn("zkey", zkey)
        .repartitionByRange(16, "zkey")
        .sortWithinPartitions("zkey")
        .write.mode("overwrite")
        .parquet(path)
    )
    back = spark.read.parquet(path).filter(
        F.col("l_partkey").between(100, 2000) & F.col("l_suppkey").between(10, 120)
    )
    return back.agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(F.col("l_quantity").cast("decimal(12,2)")).cast("double").alias("total_qty"),
        F.min("zkey").alias("min_zkey"),
        F.max("zkey").alias("max_zkey"),
    )


@register(
    "source_json_corrupt_records",
    oracle="""
    SELECT count(CASE WHEN event_id % 17 = 3 THEN 1 END) AS n_corrupt,
           count(CASE WHEN event_id % 17 <> 3 THEN 1 END) AS n_valid,
           sum(CASE WHEN event_id % 17 <> 3 THEN user_id END) AS valid_user_sum
    FROM events
    """,
)
def source_json_corrupt_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-input resilience — the ingestion reality of any 100 TB
    crawl: a JSON-lines copy of events where every 17th record (event_id %
    17 == 3) is written truncated mid-object, read back in PERMISSIVE mode
    with a ``_corrupt_record`` column. Bad rows quarantine instead of
    failing the job; the result proves corrupt and valid counts partition
    the file exactly and the valid payload survives intact. The oracle
    derives the same counts from the clean fixture — the corruption is
    deterministic, so the quarantine set is too. (FAILFAST / DROPMALFORMED
    are the same reader one option away.)"""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    base = t(spark, sf_dir, "events").select("event_id", "user_id")
    line = F.when(
        F.col("event_id") % 17 == 3,
        # truncated mid-object: unparseable, deterministically
        F.concat(F.lit('{"event_id": '), F.col("event_id"), F.lit(', "user_')),
    ).otherwise(F.to_json(F.struct("event_id", "user_id")))
    path = derived_copy(
        sf_dir,
        "events",
        "events_corrupt_json",
        lambda tmp: base.select(line.alias("value")).write.mode("overwrite").text(tmp),
    )
    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("user_id", LongType()),
            StructField("_corrupt_record", StringType()),
        ]
    )
    back = spark.read.schema(schema).option("mode", "PERMISSIVE").json(path)
    corrupt = F.col("_corrupt_record").isNotNull()
    return back.agg(
        F.count(F.when(corrupt, 1)).alias("n_corrupt"),
        F.count(F.when(~corrupt, 1)).alias("n_valid"),
        F.sum(F.when(~corrupt, F.col("user_id"))).alias("valid_user_sum"),
    )


@register("source_roundtrip_xml", oracle=_AGG_ORACLE)
def source_roundtrip_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML sink+source round-trip (Spark 4 native XML support — rowTag
    element per record). XML is the interchange format of enterprise feeds
    and web-archive metadata; integer cents keep the text round-trip
    exact, and the same hash-gated aggregate proves losslessness. Written
    partitioned like every other sink here (one directory per status,
    file-per-task at scale)."""
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("cents"),
    )
    path = _sink_dir(sf_dir, "orders_xml")
    o.write.mode("overwrite").partitionBy("o_orderstatus").format("xml").option(
        "rowTag", "order"
    ).save(path)
    back = (
        spark.read.format("xml")
        .option("rowTag", "order")
        .schema("o_orderkey bigint, cents bigint, o_orderstatus string")
        .load(path)
    )
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum("cents").alias("cents_total"),
    )


@register(
    "source_binaryfile",
    oracle="""
    SELECT doc_id, strlen(text) AS n_bytes, md5(text) AS content_md5
    FROM documents WHERE doc_id % 17 = 0
    """,
)
def source_binaryfile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """binaryFile source — the multimodal ingest path: raw files (images,
    audio, model shards) land as (path, length, content: binary) rows
    with NO decode on the scan, so Spark's split planning and FileScan
    batching apply to opaque media exactly as to parquet. The fixture
    materializes one .bin file per sampled document (bytes = utf-8 text);
    the oracle recomputes byte length + md5 from the source TABLE, so a
    hash match proves the write→scan round-trip is byte-lossless, not
    just that it ran. doc_id is recovered from the file path — the
    standard id-in-filename contract of web-crawl dumps. At 100 TB the
    small-file count, not byte volume, is the scan bottleneck: this
    pairs with sink_compaction's rewrite or binaryFile's pathGlobFilter/
    recursiveFileLookup partitioned layout. The reference has no file
    I/O at all (stdout is its only sink — ref: ps/log.ps1)."""
    src = t(spark, sf_dir, "documents").filter(F.col("doc_id") % 17 == 0)

    # Executor-side materialization: each partition writes its own files
    # (doc_ids are disjoint across partitions, so no write races) — no
    # row data ever crosses to the driver. On a real cluster the scratch
    # root must be shared storage (NFS/object store); the shape is the
    # same either way.
    def _write(tmp):
        def _write_partition(rows):
            for r in rows:
                with open(os.path.join(tmp, f"doc_{r.doc_id}.bin"), "wb") as f:
                    f.write((r.text or "").encode("utf-8"))

        src.select("doc_id", "text").foreachPartition(_write_partition)

    path = derived_copy(sf_dir, "documents", "docs_bin", _write)
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(path)
        .select(
            F.regexp_extract(F.col("path"), r"doc_(\d+)\.bin", 1)
            .cast("bigint")
            .alias("doc_id"),
            F.length("content").cast("bigint").alias("n_bytes"),
            F.md5("content").alias("content_md5"),
        )
    )


def range_layout_path(sf_dir: str) -> str:
    return _sink_dir(sf_dir, "lineitem_rangelayout")


@register(
    "sink_range_layout",
    oracle="""
    SELECT count(*) AS n_items,
           CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS total_qty,
           CAST(min(l_shipdate) AS TIMESTAMP) AS first_ship,
           CAST(max(l_shipdate) AS TIMESTAMP) AS last_ship
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-03-01'
      AND l_shipdate <  TIMESTAMP '1997-06-01'
    """,
)
def sink_range_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-D range-clustered sink (the time-ordered cousin of
    sink_zorder_layout): lineitem rewritten range-partitioned + sorted on
    l_shipdate, then a 3-month window answered from the clustered copy.
    Range layout makes every output file a contiguous, non-overlapping
    time slice, so parquet footer min/max stats skip every file outside
    the predicate — a time-range scan touches O(selectivity) bytes
    instead of the whole table. This is the default layout a 100 TB
    event/fact table should be maintained into (OPTIMIZE ... ORDER BY
    ts); the write is one range shuffle, and unlike hive
    partition-by-day it produces uniform file sizes under skewed days.
    The per-file disjointness is test-asserted
    (tests/test_extended_ops.py)."""
    li = t(spark, sf_dir, "lineitem").select("l_shipdate", "l_quantity")
    path = range_layout_path(sf_dir)
    (
        li.repartitionByRange(16, "l_shipdate")
        .sortWithinPartitions("l_shipdate")
        .write.mode("overwrite")
        .parquet(path)
    )
    back = spark.read.parquet(path).filter(
        (F.col("l_shipdate") >= F.lit("1997-03-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-06-01").cast("timestamp"))
    )
    return back.agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(F.col("l_quantity").cast("decimal(12,2)")).cast("double").alias("total_qty"),
        F.min("l_shipdate").alias("first_ship"),
        F.max("l_shipdate").alias("last_ship"),
    )


@register(
    "catalog_ddl_roundtrip",
    oracle="""
    SELECT o_orderstatus,
           count(*) AS n_orders,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM orders
    WHERE o_totalprice > 200000
    GROUP BY o_orderstatus
    """,
)
def catalog_ddl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog / DDL surface: CREATE TABLE ... USING parquet at an
    external LOCATION, INSERT OVERWRITE from a SELECT, then query the
    catalog table by name — the warehouse lifecycle the reference's
    compile-time template schema can't express (ref:
    src/database/ycsb/db.h:31-34 — its one table is hard-wired; no DDL
    exists anywhere). The catalog entry carries the schema, so readers
    skip inference; INSERT OVERWRITE is the idempotent publish step
    (same write-once discipline as the relayout/compaction sinks). The
    aggregate proves the round trip lost nothing; DuckDB recomputes from
    the source fixture."""
    sf_tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    tbl = f"big_orders_{sf_tag}"
    loc = os.path.join(relational._SCRATCH, f"catalog_{tbl}")
    t(spark, sf_dir, "orders").createOrReplaceTempView("_ddl_orders_src")
    spark.sql(
        f"""CREATE TABLE IF NOT EXISTS {tbl}
            (o_orderkey BIGINT, o_orderstatus STRING, cents BIGINT)
            USING parquet LOCATION '{loc}'"""
    )
    spark.sql(
        f"""INSERT OVERWRITE {tbl}
            SELECT o_orderkey, o_orderstatus,
                   CAST(round(o_totalprice * 100) AS BIGINT)
            FROM _ddl_orders_src WHERE o_totalprice > 200000"""
    )
    return spark.sql(
        f"""SELECT o_orderstatus, count(*) AS n_orders,
                   CAST(SUM(cents) AS BIGINT) AS total_cents
            FROM {tbl} GROUP BY o_orderstatus"""
    )


@register(
    "mv_rewrite_monthly",
    oracle="""
    SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
           count(*) AS n_orders,
           sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents_total
    FROM orders GROUP BY 1
    """,
)
def mv_rewrite_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-view REWRITE, semantics proven by the hash gate: a
    DAY-level rollup of orders is materialized once (the MV — count +
    exact cent sums per day, fingerprint-keyed so fixture regeneration
    invalidates it), and the MONTH query is answered ENTIRELY from the
    MV — the base table is not in the plan — by re-aggregating days into
    months. count and sum compose over any partition of the rows, so the
    rewrite is exact; the oracle computes the months straight from the
    base table, and a value-hash match proves the MV answer is
    indistinguishable from the base answer. This is the continuous-
    aggregate / summary-table pattern: at 100 TB the month query scans
    days (≈ table_days rows) instead of the fact table, and the MV
    refreshes incrementally by day partition (see ivm_incremental_agg
    for the delta-merge form)."""
    daily = (
        t(spark, sf_dir, "orders")
        .groupBy(F.date_trunc("day", "o_orderdate").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")).alias("cents_total"),
        )
    )
    mv = spark.read.parquet(
        derived_copy(
            sf_dir,
            "orders",
            "mv_orders_daily",
            lambda tmp: daily.write.mode("overwrite").parquet(tmp),
        )
    )
    return (
        mv.groupBy(F.date_trunc("month", "day").cast("date").alias("month"))
        .agg(
            F.sum("n_orders").alias("n_orders"),
            F.sum("cents_total").alias("cents_total"),
        )
    )


@register(
    "catalog_analyze_stats",
    oracle="""
    WITH src AS (
      SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             CASE WHEN o_orderkey % 13 = 5 THEN NULL
                  ELSE o_custkey END AS cust_or_null
      FROM orders
    )
    SELECT 'o_orderkey' AS col_name, count(*) AS n_rows,
           CAST(count(*) - count(o_orderkey) AS BIGINT) AS n_nulls,
           CAST(min(o_orderkey) AS VARCHAR) AS min_s,
           CAST(max(o_orderkey) AS VARCHAR) AS max_s
    FROM src
    UNION ALL
    SELECT 'cents', count(*), count(*) - count(cents),
           CAST(min(cents) AS VARCHAR), CAST(max(cents) AS VARCHAR)
    FROM src
    UNION ALL
    SELECT 'cust_or_null', count(*), count(*) - count(cust_or_null),
           CAST(min(cust_or_null) AS VARCHAR), CAST(max(cust_or_null) AS VARCHAR)
    FROM src
    """,
)
def catalog_analyze_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE TABLE ... COMPUTE STATISTICS FOR COLUMNS — the CBO
    statistics lifecycle: publish a catalog table, ANALYZE it, then read
    min/max/null-count/row-count back FROM THE CATALOG (DESCRIBE
    EXTENDED), not from the data. These are the numbers join reordering,
    broadcast-threshold decisions, and filter-selectivity estimates run
    on; at 100 TB ANALYZE is the scheduled maintenance pass whose cost is
    one scan and whose absence silently degrades every plan. Only exact
    catalog stats are emitted (min/max/null/row counts on integer
    columns — distinct_count is an HLL estimate and stays out); the
    oracle recomputes them from the source fixture, so the hash gate
    proves the catalog's numbers are THE data's numbers. A deliberately
    nullable column checks null accounting."""
    sf_tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    tbl = f"analyze_orders_{sf_tag}"
    loc = os.path.join(relational._SCRATCH, f"catalog_{tbl}")
    t(spark, sf_dir, "orders").createOrReplaceTempView("_an_orders_src")
    spark.sql(
        f"""CREATE TABLE IF NOT EXISTS {tbl}
            (o_orderkey BIGINT, cents BIGINT, cust_or_null BIGINT)
            USING parquet LOCATION '{loc}'"""
    )
    spark.sql(
        f"""INSERT OVERWRITE {tbl}
            SELECT o_orderkey,
                   CAST(round(o_totalprice * 100) AS BIGINT),
                   CASE WHEN o_orderkey % 13 = 5 THEN NULL
                        ELSE o_custkey END
            FROM _an_orders_src"""
    )
    spark.sql(
        f"ANALYZE TABLE {tbl} COMPUTE STATISTICS FOR COLUMNS"
        " o_orderkey, cents, cust_or_null"
    )
    rows = []
    n_rows = None
    for line in spark.sql(f"DESCRIBE TABLE EXTENDED {tbl}").collect():
        if line.col_name.strip() == "Statistics":
            # e.g. '1234 bytes, 15000 rows'
            for tok in line.data_type.split(","):
                tok = tok.strip()
                if tok.endswith("rows"):
                    n_rows = int(tok.split()[0])
    for col in ("o_orderkey", "cents", "cust_or_null"):
        info = {
            r.info_name: r.info_value
            for r in spark.sql(f"DESCRIBE EXTENDED {tbl} {col}").collect()
        }
        rows.append(
            (col, n_rows, int(info["num_nulls"]), info["min"], info["max"])
        )
    return spark.createDataFrame(
        rows, "col_name string, n_rows bigint, n_nulls bigint, min_s string, max_s string"
    )


@register(
    "catalog_join_cardinality",
    oracle="""
    WITH ho AS (
      SELECT o_custkey % 64 AS b, count(*) AS cnt,
             count(DISTINCT o_custkey) AS ndv
      FROM orders GROUP BY b
    ),
    hc AS (
      SELECT c_custkey % 64 AS b, count(*) AS cnt,
             count(DISTINCT c_custkey) AS ndv
      FROM customer GROUP BY b
    ),
    est AS (
      SELECT CAST(SUM(ho.cnt * hc.cnt // greatest(ho.ndv, hc.ndv)) AS BIGINT)
             AS est_rows
      FROM ho JOIN hc ON ho.b = hc.b
    ),
    act AS (
      SELECT count(*) AS actual_rows
      FROM orders JOIN customer ON o_custkey = c_custkey
    )
    SELECT est_rows, actual_rows,
           est_rows * 1000000 // actual_rows AS est_over_actual_ppm
    FROM est, act
    """,
)
def catalog_join_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram-based equi-join cardinality estimation — the System-R /
    Selinger formula the cost-based optimizer runs on the
    ``catalog_analyze_stats`` numbers before choosing a join strategy:
    bucket both key columns into a 64-bin coarse histogram, estimate each
    bucket's join contribution as cnt_a·cnt_b DIV max(ndv_a, ndv_b)
    (containment + uniformity-within-bucket assumptions), sum, and
    compare against the TRUE join count as an exact ppm ratio. The
    histograms are one aggregate pass per table over key-modulo ints (at
    100 TB this is what ANALYZE materializes once and every subsequent
    plan reuses for free — the estimate itself costs 64 rows of
    arithmetic, vs actually running the join); the true-count branch here
    exists only to make the estimator's error oracle-checkable. All
    integer arithmetic (DIV), so the ppm hashes bit-for-bit. Broadcast
    vs shuffle decisions, join reordering, and AQE's initial partition
    sizing all consume exactly this estimate."""
    o = t(spark, sf_dir, "orders").select("o_custkey")
    c = t(spark, sf_dir, "customer").select("c_custkey")
    ho = o.groupBy((F.col("o_custkey") % 64).alias("b")).agg(
        F.count(F.lit(1)).alias("cnt_o"), F.countDistinct("o_custkey").alias("ndv_o")
    )
    hc = c.groupBy((F.col("c_custkey") % 64).alias("b")).agg(
        F.count(F.lit(1)).alias("cnt_c"), F.countDistinct("c_custkey").alias("ndv_c")
    )
    est = (
        ho.join(hc, "b")
        .select(
            F.expr("cnt_o * cnt_c DIV greatest(ndv_o, ndv_c)").alias("contrib")
        )
        .agg(F.sum("contrib").cast("long").alias("est_rows"))
    )
    act = (
        o.join(c, o.o_custkey == c.c_custkey)
        .agg(F.count(F.lit(1)).alias("actual_rows"))
    )
    return (
        est.crossJoin(F.broadcast(act))
        .select(
            "est_rows",
            "actual_rows",
            F.expr("est_rows * 1000000 DIV actual_rows").alias("est_over_actual_ppm"),
        )
    )
