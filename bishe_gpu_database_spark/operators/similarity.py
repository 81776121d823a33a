"""Similarity search over the embedding column (array<float>, 64-dim).

- ``ann_cosine_topk``: brute-force cosine top-k — the exactness baseline.
- ``ann_lsh_buckets``: random-hyperplane LSH bucketing — the 100 TB path
  (candidate generation becomes an equi-join on the bucket signature).
- ``embedding_norms``: vector-statistics aggregate.
- ``dedup_embedding_cosine``: near-dup pairs by cosine ≥ threshold.

All dot products are sequential double folds over the array (built-in
``aggregate``/``transform`` — JVM-side, no UDF), matching the oracle's
``list_sum(list_transform(...))`` fold order, so values are bit-stable
cross-engine before the defensive round(…, 6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bishe_gpu_database_spark.operators.relational import t
from bishe_gpu_database_spark.registry import register

# DuckDB-side fixed-order double dot product / squared norm.
_SQL_DOT = """list_sum(list_transform(generate_series(1, 64),
    i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"""


def _dot(a, b) -> F.Column:
    """Sequential double fold: sum_i a[i]*b[i] (exact float→double products)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _cosine(a, b) -> F.Column:
    return _dot(a, b) / (F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)))


# Oracle-side twin of the zero-norm exclusion below.
_SQL_NONZERO = f"{_SQL_DOT.format(a='embedding', b='embedding')} > 0"
# filtered-scan form for aliased/cross-join oracle scans
_SQL_EMB_NZ = f"(SELECT * FROM embeddings WHERE {_SQL_NONZERO})"


def emb_unit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embeddings scan for DIRECTION-based (cosine) operators: zero-norm
    vectors are excluded by POLICY — cosine is undefined for them, and
    under ANSI mode a single zero vector turns the whole query into a
    DIVIDE_BY_ZERO job failure (found by the r4 perturbed-fixture sweep,
    ``scripts/sweep.py perturbed``). Magnitude/position operators (norms,
    int8 quantization, PQ, centroids, PCA) keep the full table — zero is
    meaningful data there. Every cosine oracle carries the same
    ``_SQL_NONZERO`` predicate so both engines see one corpus."""
    e = t(spark, sf_dir, "embeddings")
    return e.filter(_dot(F.col("embedding"), F.col("embedding")) > 0)


@register(
    "ann_cosine_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings
               WHERE vec_id < 5 AND {_SQL_NONZERO}),
    c AS (SELECT vec_id AS cand_id, embedding AS ce FROM embeddings
          WHERE {_SQL_NONZERO}),
    sims AS (
      SELECT q.query_id, c.cand_id,
             {_SQL_DOT.format(a='q.qe', b='c.ce')}
             / (sqrt({_SQL_DOT.format(a='q.qe', b='q.qe')})
                * sqrt({_SQL_DOT.format(a='c.ce', b='c.ce')})) AS cos
      FROM q CROSS JOIN c
      WHERE q.query_id <> c.cand_id
    )
    SELECT query_id, cand_id, round(cos, 6) AS cosine, rn AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cos DESC, cand_id) AS rn
          FROM sims)
    WHERE rn <= 10
    """,
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 for 5 query vectors. The query side
    broadcasts (tiny), so the corpus streams through once with no shuffle
    until the per-query top-k — at 100 TB this exact plan works for a
    bounded query batch; unbounded N×N goes through ann_lsh_buckets."""
    e = emb_unit(spark, sf_dir)  # zero-norm vectors excluded (policy)
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    c = e.select(F.col("vec_id").alias("cand_id"), F.col("embedding").alias("ce"))
    sims = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("cand_id"))
        .select("query_id", "cand_id", _cosine(F.col("qe"), F.col("ce")).alias("cos"))
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("cand_id"))
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("query_id", "cand_id", F.round("cos", 6).alias("cosine"), "rank")
    )


_N_PLANES = 8


@register(
    "ann_lsh_buckets",
    oracle=f"""
    WITH planes AS (
      SELECT p,
             list_transform(generate_series(1, 64),
               d -> CASE WHEN ('0x' || substr(md5('plane_' || p || '_' || d), 1, 12))::BIGINT
                          % 2 = 0
                    THEN 1.0 ELSE -1.0 END) AS w
      FROM (SELECT unnest(generate_series(0, {_N_PLANES - 1})) AS p)
    ),
    proj AS (
      SELECT e.vec_id, pl.p,
             list_sum(list_transform(generate_series(1, 64),
               i -> pl.w[i] * CAST(e.embedding[i] AS DOUBLE))) AS dot
      FROM embeddings e CROSS JOIN planes pl
    )
    SELECT vec_id,
           sum(CASE WHEN dot > 0 THEN 1::BIGINT << p ELSE 0 END) AS bucket
    FROM proj GROUP BY vec_id
    """,
)
def ann_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH: 8 deterministic ±1 hyperplanes (derived from
    md5, identical in the oracle) → 8-bit bucket per vector. At scale,
    near-neighbor candidates are generated by an equi-join on the bucket —
    O(n) instead of O(n²). Each projection is a fixed-order 64-term double
    fold, so buckets are bit-stable cross-engine."""
    e = t(spark, sf_dir, "embeddings")
    sign = lambda p, d: (  # noqa: E731
        F.when(
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("plane_"), p.cast("string"), F.lit("_"), d.cast("string"))),
                    1,
                    12,
                ),
                16,
                10,
            ).cast("bigint")
            % 2
            == 0,
            F.lit(1.0),
        ).otherwise(F.lit(-1.0))
    )
    planes = spark.range(_N_PLANES).select(
        F.col("id").cast("int").alias("p"),
        F.transform(F.sequence(F.lit(1), F.lit(64)), lambda d: sign(F.col("id"), d)).alias("w"),
    )
    proj = e.crossJoin(F.broadcast(planes)).select(
        "vec_id", "p", _dot(F.col("w"), F.col("embedding")).alias("dot")
    )
    return proj.groupBy("vec_id").agg(
        F.sum(
            F.when(F.col("dot") > 0, F.expr("shiftleft(CAST(1 AS BIGINT), p)")).otherwise(F.lit(0))
        ).alias("bucket")
    )


_N_CELLS = 8
_N_PROBE = 2


@register(
    "ann_ivf_topk",
    oracle=f"""
    WITH cent AS (
      SELECT vec_id AS cid, embedding AS we FROM embeddings
      WHERE vec_id < {_N_CELLS} AND {_SQL_NONZERO}
    ),
    asn AS (
      SELECT vec_id, cid, ce, row_number() OVER (
               PARTITION BY vec_id ORDER BY cos DESC, cid) AS crn
      FROM (
        SELECT e.vec_id, c.cid, e.embedding AS ce,
               {_SQL_DOT.format(a='e.embedding', b='c.we')}
               / (sqrt({_SQL_DOT.format(a='e.embedding', b='e.embedding')})
                  * sqrt({_SQL_DOT.format(a='c.we', b='c.we')})) AS cos
        FROM {_SQL_EMB_NZ} e CROSS JOIN cent c)
    ),
    cells AS (SELECT vec_id, cid, ce FROM asn WHERE crn = 1),
    probes AS (
      SELECT vec_id AS query_id, cid, ce AS qe FROM asn
      WHERE crn <= {_N_PROBE} AND vec_id < 5
    ),
    sims AS (
      SELECT p.query_id, c.vec_id AS cand_id,
             {_SQL_DOT.format(a='p.qe', b='c.ce')}
             / (sqrt({_SQL_DOT.format(a='p.qe', b='p.qe')})
                * sqrt({_SQL_DOT.format(a='c.ce', b='c.ce')})) AS cos
      FROM probes p JOIN cells c ON p.cid = c.cid AND p.query_id <> c.vec_id
    )
    SELECT query_id, cand_id, round(cos, 6) AS cosine, rn AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cos DESC, cand_id) AS rn
          FROM sims)
    WHERE rn <= 10
    """,
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) ANN: a deterministic coarse quantizer (first
    {_N_CELLS} vectors as centroids) partitions the corpus into cells;
    each query probes only its {_N_PROBE} nearest cells. Assignment is a
    PER-ROW fold over the centroid table collapsed to one broadcast
    array row — zero shuffle, zero recompute (the window formulation
    shuffled N×cells rows by vec_id and evaluated the whole assignment
    subtree once for the cell index and again for the probes); per-query
    search cost drops from O(N) to O(N/cells·nprobe), and the only
    exchanges left are the nprobe-row probe broadcast and the final
    per-query top-k over the candidate cells. Folds run in the same
    fixed order as the oracle, so assignments are bit-identical."""
    from pyspark.sql import Window as W

    e = emb_unit(spark, sf_dir)  # zero-norm vectors excluded (policy)
    cent_row = (
        e.filter(F.col("vec_id") < _N_CELLS)
        .select(F.col("vec_id").alias("cid"), F.col("embedding").alias("we"))
        .agg(F.sort_array(F.collect_list(F.struct("cid", "we"))).alias("cents"))
    )
    # (cos desc, cid asc) ranking as an array sort: centroid list is
    # constant-size, so the per-row sort is O(cells log cells).
    cmp = lambda l, r: (
        F.when(l["cos"] > r["cos"], F.lit(-1))
        .when(l["cos"] < r["cos"], F.lit(1))
        .otherwise(F.signum(l["cid"] - r["cid"]).cast("int"))
    )
    ranked_cells = F.array_sort(
        F.transform(
            F.col("cents"),
            lambda c: F.struct(
                _cosine(F.col("embedding"), c["we"]).alias("cos"), c["cid"].alias("cid")
            ),
        ),
        cmp,
    )
    scored = e.crossJoin(F.broadcast(cent_row))
    cells = scored.select(
        "vec_id",
        F.element_at(ranked_cells, 1)["cid"].alias("cid"),
        F.col("embedding").alias("ce"),
    )
    probes = (
        scored.filter(F.col("vec_id") < 5)
        .select(
            F.col("vec_id").alias("query_id"),
            F.explode(
                F.transform(F.slice(ranked_cells, 1, _N_PROBE), lambda s: s["cid"])
            ).alias("cid"),
            F.col("embedding").alias("qe"),
        )
    )
    sims = (
        cells.join(F.broadcast(probes), "cid")
        .filter(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("cand_id"),
            _cosine(F.col("qe"), F.col("ce")).alias("cos"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("cand_id"))
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("query_id", "cand_id", F.round("cos", 6).alias("cosine"), "rank")
    )


@register(
    "embedding_norms",
    oracle=f"""
    SELECT label,
           count(*) AS n_vecs,
           CAST(SUM(CAST(round(sqrt({_SQL_DOT.format(a='embedding', b='embedding')}), 6)
                    AS DECIMAL(18,6))) AS DOUBLE) AS sum_norm
    FROM embeddings
    GROUP BY label
    """,
)
def embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label L2-norm statistics. Each row's norm is a deterministic
    double (fixed-order fold), rounded then summed as DECIMAL so the
    cross-row aggregation is order-independent."""
    e = t(spark, sf_dir, "embeddings")
    norm = F.round(F.sqrt(_dot(F.col("embedding"), F.col("embedding"))), 6)
    return e.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum(norm.cast("decimal(18,6)")).cast("double").alias("sum_norm"),
    )


@register(
    "dedup_embedding_cosine",
    oracle=f"""
    WITH pairs AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             {_SQL_DOT.format(a='a.embedding', b='b.embedding')}
             / (sqrt({_SQL_DOT.format(a='a.embedding', b='a.embedding')})
                * sqrt({_SQL_DOT.format(a='b.embedding', b='b.embedding')})) AS cos
      FROM {_SQL_EMB_NZ} a JOIN {_SQL_EMB_NZ} b ON a.vec_id < b.vec_id
    )
    SELECT vec_a, vec_b, round(cos, 6) AS cosine
    FROM pairs WHERE cos >= 0.6
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (cos ≥ 0.6). Brute-force N²/2 at
    fixture scale; the documented scale path is ann_lsh_buckets first,
    then this exact check only within buckets."""
    e = emb_unit(spark, sf_dir)  # zero-norm vectors excluded (policy)
    # r10: hoist the per-VECTOR norm out of the per-PAIR step (the
    # dedup_semdedup trick): sqrt(dot(x,x)) is a pure function of the
    # vector, so computing it once per row before the pair join is
    # bit-identical to the oracle's per-pair form — dot/(sqrt(da)·
    # sqrt(db)) evaluates the exact same doubles — while cutting the
    # O(N²/2) fold work 3× (one 64-term fold per pair instead of three).
    en = e.select(
        "vec_id",
        "embedding",
        F.sqrt(_dot(F.col("embedding"), F.col("embedding"))).alias("nrm"),
    )
    a = en.select(
        F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"),
        F.col("nrm").alias("na"),
    )
    b = en.select(
        F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    pairs = a.join(b, F.col("vec_a") < F.col("vec_b"))
    cos = _dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb"))
    return (
        pairs.select("vec_a", "vec_b", cos.alias("cos"))
        .filter(F.col("cos") >= 0.6)
        .select("vec_a", "vec_b", F.round("cos", 6).alias("cosine"))
    )


@register(
    "embedding_quantize_int8",
    oracle="""
    WITH dims AS (
      SELECT i, min(CAST(embedding[i] AS DOUBLE)) AS mn,
             max(CAST(embedding[i] AS DOUBLE)) AS mx
      FROM embeddings, unnest(range(1, 65)) t(i)
      GROUP BY i
    ),
    codes AS (
      SELECT e.vec_id, e.label,
             CASE WHEN d.mx > d.mn
                  THEN least(CAST(floor((CAST(e.embedding[d.i] AS DOUBLE) - d.mn)
                                         * 255.0 / (d.mx - d.mn)) AS BIGINT), 255)
                  ELSE 0 END AS code
      FROM embeddings e, dims d
    )
    SELECT label, count(*) AS n_codes,
           sum(code) AS code_sum, min(code) AS code_min, max(code) AS code_max
    FROM codes GROUP BY label
    """,
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar int8 quantization — the memory lever for vector search at
    100 TB: per-dimension (min, max) over the corpus, then each float maps
    to floor((x−mn)·255/(mx−mn)) ∈ [0,255], shrinking the index 4× while
    keeping ANN recall. One pass builds the 64-row dimension-stats table
    (posexplode → min/max — fixed-size, broadcast back); the encode pass
    is a narrow map. Codes are integers from identical IEEE double
    expressions on both engines, so the oracle hashes the quantization
    bit-exactly (summed per label; arrays stay executor-side)."""
    e = t(spark, sf_dir, "embeddings")
    exploded = e.select(
        "vec_id", "label", F.posexplode("embedding").alias("i", "x")
    ).select("vec_id", "label", "i", F.col("x").cast("double").alias("x"))
    dims = exploded.groupBy("i").agg(
        F.min("x").alias("mn"), F.max("x").alias("mx")
    )
    # degenerate dimension (mx == mn: constant column / single vector) →
    # code 0 by definition instead of an ANSI DIVIDE_BY_ZERO job kill
    # (r5 single-row fixture axis); mirrored in the oracle.
    code = F.when(
        F.col("mx") > F.col("mn"),
        F.least(
            F.floor(
                (F.col("x") - F.col("mn")) * F.lit(255.0) / (F.col("mx") - F.col("mn"))
            ).cast("bigint"),
            F.lit(255),
        ),
    ).otherwise(F.lit(0).cast("bigint"))
    codes = exploded.join(F.broadcast(dims), "i").select("vec_id", "label", code.alias("code"))
    return codes.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_codes"),
        F.sum("code").alias("code_sum"),
        F.min("code").alias("code_min"),
        F.max("code").alias("code_max"),
    )


_PQ_M = 4  # subspaces
_PQ_SUB = 16  # dims per subspace (4 x 16 = 64)
_PQ_K = 16  # codebook entries per subspace


@register(
    "ann_pq_topk",
    oracle=f"""
    WITH cent AS (
      SELECT m, vec_id AS cid, embedding AS cfull
      FROM embeddings, UNNEST(generate_series(0, {_PQ_M - 1})) AS t(m)
      WHERE vec_id < {_PQ_K}
    ),
    dists AS (
      SELECT e.vec_id, c.m, c.cid,
             list_sum(list_transform(generate_series(1, {_PQ_SUB}),
               i -> (CAST(e.embedding[c.m*{_PQ_SUB}+i] AS DOUBLE)
                     - CAST(c.cfull[c.m*{_PQ_SUB}+i] AS DOUBLE))
                    * (CAST(e.embedding[c.m*{_PQ_SUB}+i] AS DOUBLE)
                       - CAST(c.cfull[c.m*{_PQ_SUB}+i] AS DOUBLE)))) AS d2
      FROM embeddings e CROSS JOIN cent c
    ),
    codes AS (
      SELECT vec_id, m, cid
      FROM (SELECT vec_id, m, cid,
                   row_number() OVER (PARTITION BY vec_id, m
                                      ORDER BY d2, cid) AS rn
            FROM dists)
      WHERE rn = 1
    ),
    qtab AS (
      SELECT vec_id AS query_id, m, cid, d2 AS qd2
      FROM dists WHERE vec_id < 5
    ),
    approx AS (
      SELECT t.query_id, s.vec_id AS cand_id,
             CAST(SUM(CAST(round(t.qd2, 6) AS DECIMAL(18,6))) AS DOUBLE)
               AS approx_d2
      FROM codes s JOIN qtab t ON s.m = t.m AND s.cid = t.cid
      WHERE t.query_id <> s.vec_id
      GROUP BY t.query_id, s.vec_id
    )
    SELECT query_id, cand_id, approx_d2, rn AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY approx_d2, cand_id) AS rn
          FROM approx)
    WHERE rn <= 10
    """,
)
def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (asymmetric distance): the 64-dim space
    splits into {_PQ_M} subspaces of {_PQ_SUB} dims; each subspace gets a
    deterministic {_PQ_K}-entry codebook (first {_PQ_K} vectors — same
    convention as ann_ivf_topk's coarse quantizer), and every corpus
    vector is encoded as {_PQ_M} one-byte codes. A query precomputes its
    distance-to-centroid lookup table ({_PQ_M}×{_PQ_K} cells) once; the
    approximate distance to ANY candidate is then {_PQ_M} table lookups +
    a sum — no touch of the original floats. The 100 TB story is memory:
    the searchable index is 4 bytes/vector instead of 256 (64×), so a
    billion-vector index fits where the raw floats can't, and the scan is
    an equi-join of codes against a broadcast table. Per-cell distances
    are fixed-order double folds and the final sum runs through
    DECIMAL(18,6), so ranks hash bit-identically against the oracle."""
    from pyspark.sql import Window as W

    e = t(spark, sf_dir, "embeddings")
    ms = spark.range(_PQ_M).select(F.col("id").cast("int").alias("m"))
    cent = (
        e.filter(F.col("vec_id") < _PQ_K)
        .crossJoin(F.broadcast(ms))
        .select(
            "m",
            F.col("vec_id").alias("cid"),
            F.slice(F.col("embedding"), F.col("m") * _PQ_SUB + 1, F.lit(_PQ_SUB)).alias("cvec"),
        )
    )
    sq = lambda a, b: F.aggregate(  # noqa: E731
        F.zip_with(a, b, lambda x, y: (x.cast("double") - y.cast("double")) ** 2),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    dists = e.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        "m",
        "cid",
        sq(F.slice(F.col("embedding"), F.col("m") * _PQ_SUB + 1, F.lit(_PQ_SUB)), F.col("cvec")).alias("d2"),
    )
    codes = (
        dists.withColumn(
            "rn", F.row_number().over(W.partitionBy("vec_id", "m").orderBy("d2", "cid"))
        )
        .filter(F.col("rn") == 1)
        .select("vec_id", "m", "cid")
    )
    qtab = dists.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "m", "cid", F.col("d2").alias("qd2")
    )
    approx = (
        codes.join(F.broadcast(qtab), ["m", "cid"])
        .filter(F.col("query_id") != F.col("vec_id"))
        .groupBy("query_id", F.col("vec_id").alias("cand_id"))
        .agg(
            F.sum(F.round("qd2", 6).cast("decimal(18,6)")).cast("double").alias("approx_d2")
        )
    )
    w = W.partitionBy("query_id").orderBy("approx_d2", "cand_id")
    return (
        approx.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("query_id", "cand_id", "approx_d2", "rank")
    )


@register(
    "ann_kmeans_train",
    oracle="""
    SELECT i AS iteration,
           (SELECT count(*) FROM embeddings) AS n_assigned,
           TRUE AS sse_nonincreasing,
           TRUE AS all_cells_populated
    FROM unnest(generate_series(1, 3)) t(i)
    """,
)
def ann_kmeans_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train the IVF coarse quantizer: 3 Lloyd iterations of k=8 k-means
    over the embeddings (squared-L2, deterministic seeds = the same first-8
    vectors ann_ivf_topk probes). Each iteration is two shuffles: assign
    (broadcast centroids, argmin fold per vector) and update (posexplode →
    per-(cell, dim) mean → rebuild centroid arrays); localCheckpoint keeps
    the iterative lineage flat, exactly the PageRank/Aria discipline. At
    100 TB this trains on a sample and the assign pass streams the corpus
    map-side — the standard IVF build. Float SSE values are accumulation-
    order-dependent, so the query emits the INVARIANTS instead of the
    floats and the oracle asserts them: every vector assigned each
    iteration (exact count), within-cluster SSE non-increasing (the Lloyd
    guarantee, compared with 1e-6 relative slack for reduction-order
    noise), all 8 cells populated — hash-gating the trainer's semantics
    cross-engine."""
    from pyspark.sql import Window as W

    e = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = e.filter(F.col("vec_id") < _N_CELLS).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("ce")
    ).localCheckpoint()
    sq = lambda a, b: F.aggregate(  # noqa: E731
        F.zip_with(a, b, lambda x, y: (x.cast("double") - y.cast("double")) ** 2),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    # r10 (guide §2.3/§2.4 — the ann_ivf_topk trick): the assign step
    # used to fan every vector out 8× (corpus ⋈ broadcast centroids) and
    # shuffle all N×8 rows — EMBEDDING PAYLOAD INCLUDED — through a
    # Window(vec_id) just to pick the argmin. The centroid table is
    # constant-size, so fold it into ONE broadcast array row and take
    # the (d2, cid)-minimum per vector with an array sort: zero shuffle,
    # zero fan-out, same winner (the comparator reproduces the window's
    # (d2 ASC NULLS FIRST, cid ASC) order exactly). Measured 4.24 →
    # ~1.5 s over the 3 Lloyd iterations at sf0.1.
    cmp_d2 = lambda l, r: (  # noqa: E731
        F.when(l["d2"].isNull() & r["d2"].isNotNull(), F.lit(-1))
        .when(l["d2"].isNotNull() & r["d2"].isNull(), F.lit(1))
        .when(l["d2"] < r["d2"], F.lit(-1))
        .when(l["d2"] > r["d2"], F.lit(1))
        .otherwise(F.signum(l["cid"] - r["cid"]).cast("int"))
    )
    stats = []
    prev_sse = None
    for it in range(1, 4):
        cent_row = cents.agg(
            F.sort_array(F.collect_list(F.struct("cid", "ce"))).alias("carr")
        )
        best = F.element_at(
            F.array_sort(
                F.transform(
                    F.col("carr"),
                    lambda c: F.struct(
                        sq(F.col("embedding"), c["ce"]).alias("d2"),
                        c["cid"].alias("cid"),
                    ),
                ),
                cmp_d2,
            ),
            1,
        )
        asn = (
            e.crossJoin(F.broadcast(cent_row))
            .select(
                "vec_id", "embedding", best["cid"].alias("cid"), best["d2"].alias("d2")
            )
            # element_at on an EMPTY centroid array (degenerate corpus with
            # no seed vectors — the r5 empty/single-row axes) yields a NULL
            # winner; the old inner join produced zero rows there. cid is
            # never NULL otherwise (it is a seed vec_id).
            .filter(F.col("cid").isNotNull())
            # The assign pass feeds TWO consumers (the SSE/count stats agg
            # and the centroid update); without the checkpoint the corpus
            # argmin fold ran twice per iteration. eager=False: the stats
            # collect below materializes it, the update reads blocks.
            .localCheckpoint(eager=False)
        )
        it_stats = asn.agg(
            F.sum("d2").alias("sse"),
            F.count_distinct("cid").alias("n_cells"),
            F.count(F.lit(1)).alias("n_assigned"),
        ).collect()[0]
        sse = it_stats["sse"]
        nonincreasing = (
            prev_sse is None or sse is None or sse <= prev_sse * (1 + 1e-6)
        )
        prev_sse = sse
        # "all cells populated" = every EXISTING centroid drew >=1 vector:
        # k_eff = #seed vectors actually present (8 at fixture scale, fewer
        # on a degenerate corpus — r5 single-row/empty axes, where the old
        # hard == _N_CELLS test was vacuously false).
        k_eff = cents.count()
        stats.append(
            (it, it_stats["n_assigned"], nonincreasing, it_stats["n_cells"] == k_eff)
        )
        cents = (
            asn.select("cid", F.posexplode("embedding").alias("i", "x"))
            .groupBy("cid", "i")
            .agg(F.avg(F.col("x").cast("double")).alias("m"))
            .groupBy("cid")
            .agg(
                F.array_sort(F.collect_list(F.struct("i", "m"))).getField("m").alias("ce")
            )
            # eager=False: the next iteration's k_eff count (or cent_row
            # broadcast build) materializes it — no dedicated job.
            .localCheckpoint(eager=False)
        )
    return spark.createDataFrame(
        stats,
        "iteration int, n_assigned bigint, sse_nonincreasing boolean, "
        "all_cells_populated boolean",
    )


@register(
    "embedding_centroid",
    oracle="""
    SELECT label, i AS dim,
           SUM(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1048576) AS BIGINT))
             AS sum_fx,
           count(*) AS n_vecs,
           SUM(CAST(floor(CAST(embedding[i] AS DOUBLE) * 1048576) AS BIGINT))
             // count(*) AS centroid_fx
    FROM embeddings, UNNEST(generate_series(1, 64)) AS t(i)
    GROUP BY label, i
    """,
)
def embedding_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-label centroid in 2^-20 fixed point: each coordinate is
    floor(x * 2^20) — float→double is exact, the power-of-two scale is
    exact, floor is exact — so the per-dimension bigint sums are
    order-independent and hash bit-for-bit cross-engine (a float mean
    would differ in the last ulp by partitioning). This is the exact-agg
    form of the IVF coarse-quantizer update step (ann_kmeans_train uses
    the float path); the shuffle carries (label, dim) partial sums —
    64 x n_labels rows per map task regardless of corpus size."""
    e = t(spark, sf_dir, "embeddings")
    fx = e.select(
        "label", F.posexplode("embedding").alias("_pos", "_x")
    ).select(
        "label",
        (F.col("_pos") + 1).alias("dim"),
        F.floor(F.col("_x").cast("double") * F.lit(1048576)).cast("bigint").alias("fx"),
    )
    return fx.groupBy("label", "dim").agg(
        F.sum("fx").alias("sum_fx"),
        F.count(F.lit(1)).alias("n_vecs"),
        F.expr("sum(fx) DIV count(1)").alias("centroid_fx"),
    )


@register(
    "ann_ivfpq_topk",
    oracle=f"""
    WITH cent AS (
      SELECT vec_id AS ivf_cid, embedding AS we
      FROM embeddings WHERE vec_id < {_N_CELLS} AND {_SQL_NONZERO}
    ),
    asn AS (
      SELECT vec_id, ivf_cid, row_number() OVER (
               PARTITION BY vec_id ORDER BY cos DESC, ivf_cid) AS crn
      FROM (
        SELECT e.vec_id, c.ivf_cid,
               {_SQL_DOT.format(a='e.embedding', b='c.we')}
               / (sqrt({_SQL_DOT.format(a='e.embedding', b='e.embedding')})
                  * sqrt({_SQL_DOT.format(a='c.we', b='c.we')})) AS cos
        FROM {_SQL_EMB_NZ} e CROSS JOIN cent c)
    ),
    cells  AS (SELECT vec_id, ivf_cid FROM asn WHERE crn = 1),
    probes AS (SELECT vec_id AS query_id, ivf_cid FROM asn
               WHERE crn <= {_N_PROBE} AND vec_id < 5),
    pqcent AS (
      SELECT m, vec_id AS cid, embedding AS cfull
      FROM embeddings, UNNEST(generate_series(0, {_PQ_M - 1})) AS t(m)
      WHERE vec_id < {_PQ_K} AND {_SQL_NONZERO}
    ),
    dists AS (
      SELECT e.vec_id, c.m, c.cid,
             list_sum(list_transform(generate_series(1, {_PQ_SUB}),
               i -> (CAST(e.embedding[c.m*{_PQ_SUB}+i] AS DOUBLE)
                     - CAST(c.cfull[c.m*{_PQ_SUB}+i] AS DOUBLE))
                    * (CAST(e.embedding[c.m*{_PQ_SUB}+i] AS DOUBLE)
                       - CAST(c.cfull[c.m*{_PQ_SUB}+i] AS DOUBLE)))) AS d2
      FROM {_SQL_EMB_NZ} e CROSS JOIN pqcent c
    ),
    codes AS (
      SELECT vec_id, m, cid
      FROM (SELECT vec_id, m, cid,
                   row_number() OVER (PARTITION BY vec_id, m
                                      ORDER BY d2, cid) AS rn
            FROM dists)
      WHERE rn = 1
    ),
    qtab AS (SELECT vec_id AS query_id, m, cid, d2 AS qd2
             FROM dists WHERE vec_id < 5),
    cand AS (
      SELECT p.query_id, s.vec_id AS cand_id
      FROM probes p JOIN cells s ON p.ivf_cid = s.ivf_cid
      WHERE p.query_id <> s.vec_id
    ),
    approx AS (
      SELECT n.query_id, n.cand_id,
             CAST(SUM(CAST(round(t.qd2, 6) AS DECIMAL(18,6))) AS DOUBLE)
               AS approx_d2
      FROM cand n
      JOIN codes s ON s.vec_id = n.cand_id
      JOIN qtab t  ON t.query_id = n.query_id AND t.m = s.m AND t.cid = s.cid
      GROUP BY n.query_id, n.cand_id
    )
    SELECT query_id, cand_id, approx_d2, rn AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY approx_d2, cand_id) AS rn
          FROM approx)
    WHERE rn <= 10
    """,
)
def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ — the composition that actually runs at billion-vector
    scale (the FAISS IVFPQ index as a dataflow): the IVF coarse
    quantizer ({_N_CELLS} cells, nprobe={_N_PROBE}) prunes the candidate
    set to the probed cells' inverted lists, and product quantization
    scores ONLY those candidates from {_PQ_M} one-byte codes — never
    touching raw floats at query time. Cost per query drops
    multiplicatively: IVF divides the corpus scanned (O(N·nprobe/cells)),
    PQ divides the bytes per candidate (64×). Plan shape: two broadcast
    cross-joins against constant-size codebooks encode the corpus (one
    pass), candidates come from an equi-join of probe cells against the
    cell index, and scoring is an equi-join against the broadcast query
    distance table — every join key is a code/cell id, no floats shuffle.
    Same deterministic codebooks and DECIMAL summation as ann_ivf_topk /
    ann_pq_topk, so ranks hash bit-identically cross-engine."""
    from pyspark.sql import Window as W

    e = emb_unit(spark, sf_dir)  # zero-norm vectors excluded (policy)
    # --- IVF coarse assignment (cells + probe lists) ---
    cent = e.filter(F.col("vec_id") < _N_CELLS).select(
        F.col("vec_id").alias("ivf_cid"), F.col("embedding").alias("we")
    )
    crn_w = W.partitionBy("vec_id").orderBy(F.col("cos").desc(), F.col("ivf_cid"))
    asn = (
        e.crossJoin(F.broadcast(cent))
        .select(
            "vec_id",
            "ivf_cid",
            _cosine(F.col("embedding"), F.col("we")).alias("cos"),
        )
        .withColumn("crn", F.row_number().over(crn_w))
    )
    cells = asn.filter(F.col("crn") == 1).select("vec_id", "ivf_cid")
    probes = asn.filter((F.col("crn") <= _N_PROBE) & (F.col("vec_id") < 5)).select(
        F.col("vec_id").alias("query_id"), "ivf_cid"
    )
    # --- PQ encode (codes per vector, distance table per query) ---
    ms = e.sparkSession.range(_PQ_M).select(F.col("id").cast("int").alias("m"))
    pqcent = (
        e.filter(F.col("vec_id") < _PQ_K)
        .crossJoin(F.broadcast(ms))
        .select(
            "m",
            F.col("vec_id").alias("cid"),
            F.slice(F.col("embedding"), F.col("m") * _PQ_SUB + 1, F.lit(_PQ_SUB)).alias(
                "cvec"
            ),
        )
    )
    sq = lambda a, b: F.aggregate(  # noqa: E731
        F.zip_with(a, b, lambda x, y: (x.cast("double") - y.cast("double")) ** 2),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    dists = e.crossJoin(F.broadcast(pqcent)).select(
        "vec_id",
        "m",
        "cid",
        sq(
            F.slice(F.col("embedding"), F.col("m") * _PQ_SUB + 1, F.lit(_PQ_SUB)),
            F.col("cvec"),
        ).alias("d2"),
    )
    codes = (
        dists.withColumn(
            "rn", F.row_number().over(W.partitionBy("vec_id", "m").orderBy("d2", "cid"))
        )
        .filter(F.col("rn") == 1)
        .select("vec_id", "m", "cid")
    )
    qtab = dists.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "m", "cid", F.col("d2").alias("qd2")
    )
    # --- probe → candidates → PQ asymmetric scoring ---
    cand = (
        probes.join(cells, "ivf_cid")
        .filter(F.col("query_id") != F.col("vec_id"))
        .select("query_id", F.col("vec_id").alias("cand_id"))
    )
    approx = (
        cand.join(codes, cand.cand_id == codes.vec_id)
        .join(F.broadcast(qtab), ["query_id", "m", "cid"])
        .groupBy("query_id", "cand_id")
        .agg(
            F.sum(F.round("qd2", 6).cast("decimal(18,6)")).cast("double").alias("approx_d2")
        )
    )
    w = W.partitionBy("query_id").orderBy("approx_d2", "cand_id")
    return (
        approx.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("query_id", "cand_id", "approx_d2", "rank")
    )


@register(
    "rag_retrieve_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qe
               FROM embeddings WHERE vec_id IN (11, 222, 333)
                 AND {_SQL_NONZERO}),
    sims AS (
      SELECT q.query_id, c.vec_id AS doc_id,
             {_SQL_DOT.format(a='q.qe', b='c.embedding')}
             / (sqrt({_SQL_DOT.format(a='q.qe', b='q.qe')})
                * sqrt({_SQL_DOT.format(a='c.embedding', b='c.embedding')})) AS cos
      FROM q CROSS JOIN {_SQL_EMB_NZ} c
      WHERE q.query_id <> c.vec_id
    ),
    hits AS (
      SELECT query_id, doc_id, cos,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, doc_id) AS rank
      FROM sims
    )
    SELECT h.query_id, h.rank, h.doc_id, d.lang, d.source,
           substr(d.text, 1, 40) AS snippet,
           round(h.cos, 6) AS cosine
    FROM hits h JOIN documents d ON d.doc_id = h.doc_id
    WHERE h.rank <= 5
    """,
)
def rag_retrieve_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG retrieval end-to-end: embed-space top-5 per query vector,
    then join the document store to return the actual passages (lang,
    source, snippet) — the retrieve step of retrieval-augmented
    generation as ONE declarative plan across both modality tables.
    Composition is the point: similarity scoring (broadcast query batch,
    corpus streams through map-side), grouped top-k (rank-filter, no
    global sort), then a hash join on doc_id to fetch text for ONLY the
    k·|queries| survivors — at 100 TB the text fetch touches thousands
    of rows, not the corpus, and at that scale the scoring stage swaps
    for ann_ivfpq_topk's index unchanged."""
    from pyspark.sql import Window as W

    e = emb_unit(spark, sf_dir)  # zero-norm vectors excluded (policy)
    d = t(spark, sf_dir, "documents")
    q = e.filter(F.col("vec_id").isin(11, 222, 333)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    sims = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("doc_id"),
            _cosine(F.col("qe"), F.col("embedding")).alias("cos"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("doc_id"))
    hits = sims.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= 5)
    return hits.join(d, "doc_id").select(
        "query_id",
        "rank",
        "doc_id",
        "lang",
        "source",
        F.substring("text", 1, 40).alias("snippet"),
        F.round("cos", 6).alias("cosine"),
    )


@register(
    "ann_range_search",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings
               WHERE vec_id < 5 AND {_SQL_NONZERO}),
    c AS (SELECT vec_id AS cand_id, embedding AS ce FROM embeddings
          WHERE {_SQL_NONZERO}),
    sims AS (
      SELECT q.query_id, c.cand_id,
             {_SQL_DOT.format(a='q.qe', b='c.ce')}
             / (sqrt({_SQL_DOT.format(a='q.qe', b='q.qe')})
                * sqrt({_SQL_DOT.format(a='c.ce', b='c.ce')})) AS cos
      FROM q CROSS JOIN c
      WHERE q.query_id <> c.cand_id
    )
    SELECT query_id, cand_id, round(cos, 6) AS cosine
    FROM sims WHERE round(cos, 6) >= 0.15
    """,
)
def ann_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius (range) similarity search: ALL candidates with cosine ≥ τ
    per query — the retrieval mode behind near-dup mining and
    contamination sweeps, where top-k's fixed cutoff silently drops
    matches past rank k. Unlike top-k there is NO per-query sort or
    window: the threshold filter is applied map-side as the corpus
    streams past the broadcast query batch, so the plan is one narrow
    pass with zero shuffles — strictly cheaper than ann_cosine_topk at
    any scale, and the natural first stage before an exact re-rank.
    τ is applied to the 6-dp-rounded value so the cut line is identical
    cross-engine."""
    e = emb_unit(spark, sf_dir)  # zero-norm vectors excluded (policy)
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    c = e.select(F.col("vec_id").alias("cand_id"), F.col("embedding").alias("ce"))
    return (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("cand_id"))
        .select(
            "query_id",
            "cand_id",
            F.round(_cosine(F.col("qe"), F.col("ce")), 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= 0.15)
    )


@register(
    "ann_eval_recall",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings
               WHERE vec_id < 5 AND {_SQL_NONZERO}),
    c AS (SELECT vec_id AS cand_id, embedding AS ce FROM embeddings
          WHERE {_SQL_NONZERO}),
    exact_sims AS (
      SELECT q.query_id, c.cand_id,
             {_SQL_DOT.format(a='q.qe', b='c.ce')}
             / (sqrt({_SQL_DOT.format(a='q.qe', b='q.qe')})
                * sqrt({_SQL_DOT.format(a='c.ce', b='c.ce')})) AS cos
      FROM q CROSS JOIN c WHERE q.query_id <> c.cand_id
    ),
    exact_topk AS (
      SELECT query_id, cand_id
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY cos DESC, cand_id) AS rn
            FROM exact_sims)
      WHERE rn <= 10
    ),
    cent AS (
      SELECT vec_id AS cid, embedding AS we FROM embeddings
      WHERE vec_id < {_N_CELLS} AND {_SQL_NONZERO}
    ),
    asn AS (
      SELECT vec_id, cid, ce, row_number() OVER (
               PARTITION BY vec_id ORDER BY cos DESC, cid) AS crn
      FROM (
        SELECT e.vec_id, c.cid, e.embedding AS ce,
               {_SQL_DOT.format(a='e.embedding', b='c.we')}
               / (sqrt({_SQL_DOT.format(a='e.embedding', b='e.embedding')})
                  * sqrt({_SQL_DOT.format(a='c.we', b='c.we')})) AS cos
        FROM {_SQL_EMB_NZ} e CROSS JOIN cent c)
    ),
    cells AS (SELECT vec_id, cid, ce FROM asn WHERE crn = 1),
    probes AS (
      SELECT vec_id AS query_id, cid, ce AS qe FROM asn
      WHERE crn <= {_N_PROBE} AND vec_id < 5
    ),
    ivf_sims AS (
      SELECT p.query_id, c.vec_id AS cand_id,
             {_SQL_DOT.format(a='p.qe', b='c.ce')}
             / (sqrt({_SQL_DOT.format(a='p.qe', b='p.qe')})
                * sqrt({_SQL_DOT.format(a='c.ce', b='c.ce')})) AS cos
      FROM probes p JOIN cells c ON p.cid = c.cid AND p.query_id <> c.vec_id
    ),
    ivf_topk AS (
      SELECT query_id, cand_id
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY cos DESC, cand_id) AS rn
            FROM ivf_sims)
      WHERE rn <= 10
    )
    SELECT e.query_id,
           CAST(count(i.cand_id) AS BIGINT) AS n_hit,
           CAST(count(i.cand_id) * 1000000 // 10 AS BIGINT) AS recall_ppm
    FROM exact_topk e
    LEFT JOIN ivf_topk i ON e.query_id = i.query_id AND e.cand_id = i.cand_id
    GROUP BY e.query_id
    """,
)
def ann_eval_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-quality evaluation: recall@10 of the IVF index against the
    exact brute-force top-10, per query, in integer ppm — the measurement
    that decides nprobe/cell-count BEFORE a 100 TB index build is
    committed. Pure composition of the two registered operators (their
    plans fuse in one job); at scale the exact side runs on a sampled
    query set, which is exactly what this bounded query batch is. The
    engine measuring its own approximations is part of the operator
    surface, not an afterthought."""
    exact = ann_cosine_topk(spark, sf_dir).select("query_id", "cand_id")
    ivf = (
        ann_ivf_topk(spark, sf_dir)
        .select("query_id", "cand_id", F.lit(1).alias("hit"))
    )
    return (
        exact.join(ivf, ["query_id", "cand_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("hit").cast("bigint").alias("n_hit"),
            F.expr("CAST(count(hit) * 1000000 DIV 10 AS BIGINT)").alias("recall_ppm"),
        )
    )


def _pca_oracle() -> str:
    """Three power-iteration steps as nested CTEs. All division is
    written sign(x)*(abs(x) DIV s) so DuckDB's flooring `//` and Spark's
    truncating DIV agree on negatives; rescale divisors are adaptive
    (max|.| DIV 2^20 + 1), which keeps every magnitude bounded without
    collapsing small-coordinate data to zero."""
    vpos = """
      SELECT vec_id, i,
             CAST(floor(CAST(embedding[i] AS DOUBLE) * 1048576) AS HUGEINT) AS v
      FROM embeddings, UNNEST(generate_series(1, 64)) AS t(i)
    """
    step = """
    d{k} AS (
      SELECT vec_id, SUM(v * q) AS dot
      FROM vpos JOIN q{p} USING (i) GROUP BY vec_id
    ),
    ds{k} AS (
      SELECT vec_id,
             CASE WHEN dot < 0 THEN -((-dot) // sd) ELSE dot // sd END AS dot
      FROM d{k}, (SELECT max(abs(dot)) // 1048576 + 1 AS sd FROM d{k})
    ),
    w{k} AS (
      SELECT i, SUM(v * dot) AS w FROM vpos JOIN ds{k} USING (vec_id) GROUP BY i
    ),
    q{k} AS (
      SELECT i,
             CASE WHEN w < 0 THEN -((-w) // sw) ELSE w // sw END AS q
      FROM w{k}, (SELECT max(abs(w)) // 1048576 + 1 AS sw FROM w{k})
    )"""
    steps = ",".join(step.format(k=k, p=k - 1) for k in (1, 2, 3))
    return f"""
    WITH vpos AS ({vpos}),
    q0 AS (SELECT unnest(generate_series(1, 64)) AS i,
                  CAST(1048576 AS HUGEINT) AS q),
    {steps}
    SELECT i AS dim, CAST(q AS BIGINT) AS q_fx FROM q3
    """


@register("embedding_pca_power3", oracle=_pca_oracle())
def embedding_pca_power3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant principal direction of the embedding corpus by THREE
    power-iteration steps on the (uncentered) Gram matrix — computed
    WITHOUT ever materializing the d×d Gram: each step is the
    matrix-vector identity (V'V)q = sum_r v_r (v_r . q), i.e. one
    broadcast-join of the 64-row direction onto the exploded coordinates
    for the per-row dots, then one 64-group sum for the new direction.
    Everything is 2^-20 fixed point carried EXACTLY: coordinates
    floor(x * 2^20) (float->double->power-of-two-scale->floor, all
    exact), and after each matrix-vector product the vector renormalizes
    by the adaptive divisor max|.| DIV 2^20 + 1 — the fixed-point
    analogue of the power method's unit-norm step — so the leading
    component sits near 2^20 every iteration (no overflow, no collapse).
    Every division is sign*(abs DIV s) so truncating Spark DIV and
    flooring DuckDB // agree on negatives; intermediates ride
    DECIMAL(38,0)/HUGEINT and stay in range up to ~2^40 rows (a trillion
    vectors: |w| <= n * 2^22 * 2^20 = 2^82, and the divisor derivation
    m DIV 2^20 <= 2^62 stays inside the BIGINT that Spark's decimal DIV
    returns). At 100 TB: two bounded shuffles per iteration (dots keyed
    by vec_id, direction keyed by dim <= 64 groups); the corpus is
    scanned, never collected — the PageRank loop shape applied to linear
    algebra, and the exact-arithmetic counterpart of ann_kmeans_train's
    float path. Rayleigh-quotient monotonicity (R(q_k) nondecreasing,
    the power-method invariant) is asserted in tests/test_exact_ops.py."""
    e = t(spark, sf_dir, "embeddings")
    vpos = (
        e.select("vec_id", F.posexplode("embedding").alias("_pos", "_x"))
        .select(
            "vec_id",
            (F.col("_pos") + 1).alias("i"),
            F.floor(F.col("_x").cast("double") * F.lit(1048576))
            .cast("decimal(38,0)")
            .alias("v"),
        )
        .localCheckpoint()
    )
    q = spark.range(1, 65).select(
        F.col("id").alias("i"), F.lit(1048576).cast("decimal(38,0)").alias("q")
    )
    rescale = (
        "CASE WHEN {x} < 0 THEN -((-{x}) DIV {s}) ELSE {x} DIV {s} END"
    )
    for _ in range(3):
        d = (
            vpos.join(F.broadcast(q), "i")
            .groupBy("vec_id")
            .agg(F.sum(F.col("v") * F.col("q")).alias("dot"))
        )
        sd = d.agg(F.expr("max(abs(dot)) DIV 1048576 + 1").alias("sd"))
        dots = d.crossJoin(F.broadcast(sd)).select(
            "vec_id",
            F.expr(rescale.format(x="dot", s="sd")).cast("decimal(38,0)").alias("dot"),
        )
        w = (
            vpos.join(dots, "vec_id")
            .groupBy("i")
            .agg(F.sum(F.col("v") * F.col("dot")).alias("w"))
        )
        sw = w.agg(F.expr("max(abs(w)) DIV 1048576 + 1").alias("sw"))
        q = w.crossJoin(F.broadcast(sw)).select(
            "i",
            F.expr(rescale.format(x="w", s="sw")).cast("decimal(38,0)").alias("q"),
        )
    return q.select(F.col("i").alias("dim"), F.col("q").cast("bigint").alias("q_fx"))


@register(
    "embedding_hard_negatives",
    oracle=f"""
    WITH q AS (SELECT vec_id AS anchor_id, label AS anchor_label,
                      embedding AS qe FROM embeddings
               WHERE vec_id < 8 AND {_SQL_NONZERO}),
    c AS (SELECT vec_id AS neg_id, label AS neg_label, embedding AS ce
          FROM embeddings WHERE {_SQL_NONZERO}),
    sims AS (
      SELECT q.anchor_id, q.anchor_label, c.neg_id, c.neg_label,
             {_SQL_DOT.format(a='q.qe', b='c.ce')}
             / (sqrt({_SQL_DOT.format(a='q.qe', b='q.qe')})
                * sqrt({_SQL_DOT.format(a='c.ce', b='c.ce')})) AS cos
      FROM q CROSS JOIN c
      WHERE q.anchor_label <> c.neg_label
    )
    SELECT anchor_id, anchor_label, neg_id, neg_label,
           round(cos, 6) AS cosine, rn AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY anchor_id
                                       ORDER BY cos DESC, neg_id) AS rn
          FROM sims)
    WHERE rn <= 5
    """,
)
def embedding_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive / embedding training: for
    each anchor vector, the top-5 most-cosine-similar corpus vectors
    whose LABEL DIFFERS — the negatives that sit closest to the decision
    boundary and contribute the most gradient signal (the standard
    in-batch-negatives upgrade for retrieval training, cf. ANCE/DPR).
    Same scale shape as ``ann_cosine_topk``: the bounded anchor batch
    broadcasts, the corpus streams through one zero-shuffle scan with the
    label-inequality predicate applied BEFORE scoring (cheap column
    compare prunes same-class rows early), and only (anchor, per-query
    top-k) survive to the windowed rank. For unbounded anchor sets the
    candidate generation drops onto ``ann_lsh_buckets``/``ann_ivf_topk``
    and this query's scoring tail is unchanged."""
    e = emb_unit(spark, sf_dir)  # zero-norm vectors excluded (policy)
    q = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("anchor_label"),
        F.col("embedding").alias("qe"),
    )
    c = e.select(
        F.col("vec_id").alias("neg_id"),
        F.col("label").alias("neg_label"),
        F.col("embedding").alias("ce"),
    )
    sims = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("anchor_label") != F.col("neg_label"))
        .select(
            "anchor_id",
            "anchor_label",
            "neg_id",
            "neg_label",
            _cosine(F.col("qe"), F.col("ce")).alias("cos"),
        )
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("anchor_id").orderBy(F.col("cos").desc(), "neg_id")
    return (
        sims.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select(
            "anchor_id",
            "anchor_label",
            "neg_id",
            "neg_label",
            F.round("cos", 6).alias("cosine"),
            F.col("rn").alias("rank"),
        )
    )


@register(
    "embedding_knn_classify",
    oracle=f"""
    WITH q AS (SELECT vec_id AS eval_id, label AS true_label,
                      embedding AS qe FROM embeddings
               WHERE vec_id < 32 AND {_SQL_NONZERO}),
    c AS (SELECT vec_id AS nbr_id, label AS nbr_label, embedding AS ce
          FROM embeddings WHERE {_SQL_NONZERO}),
    sims AS (
      SELECT q.eval_id, q.true_label, c.nbr_label,
             {_SQL_DOT.format(a='q.qe', b='c.ce')}
             / (sqrt({_SQL_DOT.format(a='q.qe', b='q.qe')})
                * sqrt({_SQL_DOT.format(a='c.ce', b='c.ce')})) AS cos,
             c.nbr_id
      FROM q CROSS JOIN c
      WHERE q.eval_id <> c.nbr_id
    ),
    knn AS (
      SELECT eval_id, true_label, nbr_label
      FROM (SELECT *, row_number() OVER (PARTITION BY eval_id
                                         ORDER BY cos DESC, nbr_id) AS rn
            FROM sims)
      WHERE rn <= 5
    ),
    votes AS (
      SELECT eval_id, true_label, nbr_label AS pred_label,
             count(*) AS n_votes
      FROM knn GROUP BY eval_id, true_label, nbr_label
    ),
    pred AS (
      SELECT eval_id, true_label, pred_label, n_votes
      FROM (SELECT *, row_number() OVER (PARTITION BY eval_id
                                         ORDER BY n_votes DESC, pred_label) AS rv
            FROM votes)
      WHERE rv = 1
    )
    SELECT true_label, pred_label,
           count(*) AS n_vectors,
           CAST(SUM(n_votes) AS BIGINT) AS total_votes
    FROM pred
    GROUP BY true_label, pred_label
    """,
)
def embedding_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out 5-NN classification eval over the embedding space,
    reported as a confusion matrix (true_label, pred_label, n) — the
    standard label-coherence check on a trained embedding table
    (complements ``ann_eval_recall``, which scores the INDEX; this scores
    the SPACE). Majority vote with deterministic (count desc, label asc)
    tie-break so the prediction — and hence the hash gate — is unique.
    Scale shape: eval batch broadcasts, corpus streams once (zero
    shuffle), per-eval top-5 via windowed rank, then two tiny aggregates;
    at 100 TB the neighbor generation swaps to the IVF/LSH candidate
    path with the vote/confusion tail unchanged."""
    e = emb_unit(spark, sf_dir)  # zero-norm vectors excluded (policy)
    q = e.filter(F.col("vec_id") < 32).select(
        F.col("vec_id").alias("eval_id"),
        F.col("label").alias("true_label"),
        F.col("embedding").alias("qe"),
    )
    c = e.select(
        F.col("vec_id").alias("nbr_id"),
        F.col("label").alias("nbr_label"),
        F.col("embedding").alias("ce"),
    )
    sims = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("eval_id") != F.col("nbr_id"))
        .select(
            "eval_id",
            "true_label",
            "nbr_label",
            _cosine(F.col("qe"), F.col("ce")).alias("cos"),
            "nbr_id",
        )
    )
    from pyspark.sql import Window as W

    wk = W.partitionBy("eval_id").orderBy(F.col("cos").desc(), "nbr_id")
    knn = (
        sims.withColumn("rn", F.row_number().over(wk))
        .filter(F.col("rn") <= 5)
        .select("eval_id", "true_label", "nbr_label")
    )
    votes = knn.groupBy(
        "eval_id", "true_label", F.col("nbr_label").alias("pred_label")
    ).agg(F.count(F.lit(1)).alias("n_votes"))
    wv = W.partitionBy("eval_id").orderBy(F.col("n_votes").desc(), "pred_label")
    pred = votes.withColumn("rv", F.row_number().over(wv)).filter(F.col("rv") == 1)
    return pred.groupBy("true_label", "pred_label").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.sum("n_votes").cast("long").alias("total_votes"),
    )


_SQL_DOT16 = """list_sum(list_transform(generate_series(1, 16),
    i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"""


@register(
    "embedding_matryoshka_recall",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qe
               FROM embeddings WHERE vec_id < 8 AND {_SQL_NONZERO}),
    c AS (SELECT vec_id AS cand_id, embedding AS ce FROM embeddings
          WHERE {_SQL_NONZERO}),
    sims AS (
      SELECT q.query_id, c.cand_id,
             {_SQL_DOT.format(a='q.qe', b='c.ce')}
             / (sqrt({_SQL_DOT.format(a='q.qe', b='q.qe')})
                * sqrt({_SQL_DOT.format(a='c.ce', b='c.ce')})) AS cos_full,
             {_SQL_DOT16.format(a='q.qe', b='c.ce')}
             / (sqrt({_SQL_DOT16.format(a='q.qe', b='q.qe')})
                * sqrt({_SQL_DOT16.format(a='c.ce', b='c.ce')})) AS cos_trunc
      FROM q CROSS JOIN c
      WHERE q.query_id <> c.cand_id
    ),
    ranked AS (
      SELECT query_id, cand_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos_full DESC, cand_id) AS r_full,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos_trunc DESC, cand_id) AS r_trunc
      FROM sims
    )
    SELECT query_id,
           CAST(count(CASE WHEN r_full <= 10 AND r_trunc <= 10
                           THEN 1 END) AS BIGINT) AS n_overlap,
           CAST(count(CASE WHEN r_full <= 10 AND r_trunc <= 10 THEN 1 END)
                * 1000000 // 10 AS BIGINT) AS recall_ppm
    FROM ranked
    GROUP BY query_id
    """,
)
def embedding_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-truncation eval (Kusupati et al., MRL, NeurIPS '22):
    how much top-10 retrieval quality survives when the 64-dim embedding
    is truncated to its first 16 dims — per query, the overlap between
    the full-dimension top-10 and the truncated top-10 (recall@10 of the
    cheap prefix against the exact ranking). This is THE measurement
    behind shipping prefix-truncated vectors: a 4× smaller index and 4×
    cheaper dot products cost (1 − recall) of quality. One corpus scan
    computes BOTH scores (the 16-dim fold is a prefix slice of the same
    broadcast batch), the two rankings share one shuffle on query_id,
    and the overlap count is integer-exact (ppm DIV) for the hash gate.
    At scale this runs as the offline eval after every embedding train —
    the same shape as ``ann_eval_recall`` but comparing dimensionality
    tiers instead of index tiers."""
    e = emb_unit(spark, sf_dir)  # zero-norm vectors excluded (policy)
    q = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    c = e.select(F.col("vec_id").alias("cand_id"), F.col("embedding").alias("ce"))

    def cos_pfx(a, b, n):
        ap, bp = F.slice(a, 1, n), F.slice(b, 1, n)
        return _dot(ap, bp) / (F.sqrt(_dot(ap, ap)) * F.sqrt(_dot(bp, bp)))

    sims = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("cand_id"))
        .select(
            "query_id",
            "cand_id",
            _cosine(F.col("qe"), F.col("ce")).alias("cos_full"),
            cos_pfx(F.col("qe"), F.col("ce"), 16).alias("cos_trunc"),
        )
    )
    from pyspark.sql import Window as W

    rf = W.partitionBy("query_id").orderBy(F.col("cos_full").desc(), "cand_id")
    rt = W.partitionBy("query_id").orderBy(F.col("cos_trunc").desc(), "cand_id")
    ranked = sims.select(
        "query_id",
        F.row_number().over(rf).alias("r_full"),
        F.row_number().over(rt).alias("r_trunc"),
    )
    hit = F.when((F.col("r_full") <= 10) & (F.col("r_trunc") <= 10), 1)
    return ranked.groupBy("query_id").agg(
        F.count(hit).cast("long").alias("n_overlap"),
        F.expr(
            "CAST(count(CASE WHEN r_full <= 10 AND r_trunc <= 10 THEN 1 END)"
            " * 1000000 DIV 10 AS BIGINT)"
        ).alias("recall_ppm"),
    )


@register(
    "dedup_semdedup",
    oracle=f"""
    WITH cent AS (
      SELECT vec_id AS cid, embedding AS we FROM embeddings
      WHERE vec_id < 8 AND {_SQL_NONZERO}
    ),
    e AS (SELECT vec_id, embedding AS ce FROM embeddings
          WHERE {_SQL_NONZERO}),
    dot AS (
      SELECT e.vec_id, c.cid, e.ce,
             {_SQL_DOT.format(a='e.ce', b='c.we')}
             / (sqrt({_SQL_DOT.format(a='e.ce', b='e.ce')})
                * sqrt({_SQL_DOT.format(a='c.we', b='c.we')})) AS cos
      FROM e CROSS JOIN cent c
    ),
    cells AS (
      SELECT vec_id, cid, ce FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY cos DESC, cid) AS rn
        FROM dot) WHERE rn = 1
    ),
    pairs AS (
      SELECT a.cid, a.vec_id AS u, b.vec_id AS v,
             {_SQL_DOT.format(a='a.ce', b='b.ce')}
             / (sqrt({_SQL_DOT.format(a='a.ce', b='a.ce')})
                * sqrt({_SQL_DOT.format(a='b.ce', b='b.ce')})) AS cos
      FROM cells a JOIN cells b ON a.cid = b.cid AND a.vec_id < b.vec_id
    ),
    dup AS (
      SELECT cid, count(DISTINCT v) AS n_dropped,
             round(max(cos), 6) AS max_cosine
      FROM pairs WHERE cos >= 0.40 GROUP BY cid
    )
    SELECT c.cid, count(*) AS n_vectors,
           COALESCE(max(d.n_dropped), 0) AS n_dropped,
           count(*) - COALESCE(max(d.n_dropped), 0) AS n_kept,
           max(d.max_cosine) AS max_cosine
    FROM cells c LEFT JOIN dup d ON c.cid = d.cid
    GROUP BY c.cid
    """,
)
def dedup_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. '23): SEMANTIC deduplication that textual
    fingerprints cannot see — cluster the embedding space with a coarse
    quantizer, then remove cosine-near-duplicates WITHIN each cluster
    only (keep the lowest vec_id). The clustering is the entire scale
    argument: global pairwise is O(N²), within-cell pairwise is
    O(N²/K) for K balanced cells, and K grows with the corpus so
    per-cell work stays constant — this is how semantic dedup runs on
    billion-vector corpora (the paper prunes LAION this way). Reuses the
    engine's deterministic coarse quantizer (first-8-vector centroids,
    same zero-shuffle broadcast-fold assignment as ``ann_ivf_topk``;
    swap in ``ann_kmeans_train`` centroids for trained cells) and the
    fixed-order cosine fold, so assignments and scores are bit-identical
    cross-engine. Output is the per-cell dedup audit (sizes, drops,
    keepers, max within-cell cosine) — the report a corpus build reads
    before applying the keep set. Complements ``dedup_embedding_cosine``
    (global pairwise τ-join, the exactness baseline) and the
    token-level MinHash/SimHash tiers: SemDeDup catches paraphrases and
    re-encodings that share no shingles."""
    from pyspark.sql import Window as W

    e = emb_unit(spark, sf_dir)  # zero-norm vectors excluded (policy)
    cent_row = (
        e.filter(F.col("vec_id") < 8)
        .select(F.col("vec_id").alias("cid"), F.col("embedding").alias("we"))
        .agg(F.sort_array(F.collect_list(F.struct("cid", "we"))).alias("cents"))
    )
    cmp = lambda l, r: (  # noqa: E731
        F.when(l["cos"] > r["cos"], F.lit(-1))
        .when(l["cos"] < r["cos"], F.lit(1))
        .otherwise(F.signum(l["cid"] - r["cid"]).cast("int"))
    )
    ranked_cells = F.array_sort(
        F.transform(
            F.col("cents"),
            lambda c: F.struct(
                _cosine(F.col("embedding"), c["we"]).alias("cos"), c["cid"].alias("cid")
            ),
        ),
        cmp,
    )
    # Hoist the per-vector norm out of the pairwise step (sqrt(dot(x,x))
    # is a pure function of the vector, so computing it once per vector
    # is bit-identical to the oracle's per-pair form while cutting the
    # O(cell²) fold work 3×), and checkpoint the assignment so the
    # centroid-scoring fold runs once, not once per join side (measured
    # 8.9s → ~1s at sf0.1 in the bench).
    cells = (
        e.crossJoin(F.broadcast(cent_row))
        .select(
            "vec_id",
            F.element_at(ranked_cells, 1)["cid"].alias("cid"),
            F.col("embedding").alias("ce"),
            F.sqrt(_dot(F.col("embedding"), F.col("embedding"))).alias("nrm"),
        )
        .localCheckpoint()
    )
    a = cells.alias("a")
    b = cells.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.cid") == F.col("b.cid"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.cid").alias("cid"),
            F.col("b.vec_id").alias("v"),
            (
                _dot(F.col("a.ce"), F.col("b.ce"))
                / (F.col("a.nrm") * F.col("b.nrm"))
            ).alias("cos"),
        )
        .filter(F.col("cos") >= 0.40)
    )
    dup = pairs.groupBy("cid").agg(
        F.countDistinct("v").alias("n_dropped"),
        F.round(F.max("cos"), 6).alias("max_cosine"),
    )
    sizes = cells.groupBy("cid").agg(F.count(F.lit(1)).alias("n_vectors"))
    return (
        sizes.join(dup, "cid", "left")
        .select(
            "cid",
            "n_vectors",
            F.coalesce("n_dropped", F.lit(0)).alias("n_dropped"),
            (F.col("n_vectors") - F.coalesce("n_dropped", F.lit(0))).alias("n_kept"),
            "max_cosine",
        )
    )
