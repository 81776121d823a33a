"""Geospatial grid operators — the spatial-analytics tier of the engine.

The fixture tables carry no coordinates, so every query first derives a
deterministic point per customer from the portable md5 hash (same
cross-engine discipline as ``fn_hash_portable``): a 65536 × 65536
integer grid of "micro-degree" coordinates that Spark and DuckDB
reproduce bit-for-bit. All spatial math stays in integers — no floating
trig, no hash drift.

The three queries cover the spatial shapes an analytics engine needs,
each in its scale-correct formulation:

- density rollup (points → grid cells, Morton-keyed for locality),
- distance self-join (grid-bucketed neighbor join — equi-join on cells,
  never an all-pairs cross product),
- region containment (boxes exploded to covered cells, points joined on
  their home cell — the bucketed form of point-in-polygon).

At 100 TB the grid-bucket pattern is THE spatial join strategy: cell ids
are computed map-side, the only shuffle is an equi-join on the cell key,
and skewed cells (urban hot spots) are ordinary hash-join skew that AQE
splits. The reference has no spatial support at all (it is a KV engine,
SURVEY.md §0); this tier is part of the driver-mandated GAP surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bishe_gpu_database_spark.operators.relational import t
from bishe_gpu_database_spark.registry import register

_GRID = 65536  # coordinate domain per axis


def _coord(axis: str, key) -> F.Column:
    """Deterministic grid coordinate in [0, 65536) from the portable
    md5-hex-to-int hash of (axis-salt, key) — Spark side."""
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(axis + "|"), key.cast("string"))), 1, 8),
        16,
        10,
    ).cast("bigint")
    return F.pmod(h, F.lit(_GRID))


def _coord_sql(axis: str, key: str) -> str:
    """The identical coordinate derivation in DuckDB SQL."""
    return f"(('0x' || substr(md5('{axis}|' || {key}), 1, 8))::BIGINT % {_GRID})"


def _points_sql() -> str:
    return f"""
      SELECT c_custkey AS k, c_nationkey, c_mktsegment,
             CAST(c_acctbal AS DECIMAL(12,2)) AS bal,
             {_coord_sql('lat', 'c_custkey')} AS y,
             {_coord_sql('lon', 'c_custkey')} AS x
      FROM customer
    """


def _points(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = t(spark, sf_dir, "customer")
    return c.select(
        F.col("c_custkey").alias("k"),
        "c_nationkey",
        "c_mktsegment",
        F.col("c_acctbal").cast("decimal(12,2)").alias("bal"),
        _coord("lat", F.col("c_custkey")).alias("y"),
        _coord("lon", F.col("c_custkey")).alias("x"),
    )


# 16-bit Morton spread (same steps as the z-order sink in
# sources/formats.py — restated here for the cell key so geo has no
# import-order coupling with the sources module).
_SPREAD = [(8, 0x00FF00FF00FF00FF), (4, 0x0F0F0F0F0F0F0F0F), (2, 0x3333333333333333), (1, 0x5555555555555555)]


def _morton(cx: F.Column, cy: F.Column) -> F.Column:
    def spread(v):
        v = v.cast("bigint").bitwiseAND(F.lit(0xFFFF))
        for sh, mask in _SPREAD:
            v = v.bitwiseOR(F.shiftleft(v, sh)).bitwiseAND(F.lit(mask))
        return v

    return spread(cx).bitwiseOR(F.shiftleft(spread(cy), 1))


def _morton_sql(cx: str, cy: str) -> str:
    def spread(e: str) -> str:
        v = f"(CAST({e} AS BIGINT) & 65535)"
        for sh, mask in _SPREAD:
            v = f"(({v} | ({v} << {sh})) & {mask})"
        return v

    return f"({spread(cx)} | ({spread(cy)} << 1))"


@register(
    "geo_cell_density",
    oracle=f"""
    WITH pts AS ({_points_sql()})
    SELECT (y // 1024) AS cell_y, (x // 1024) AS cell_x,
           {_morton_sql('(x // 1024)', '(y // 1024)')} AS cell_z,
           count(*) AS n_points,
           count(DISTINCT c_nationkey) AS n_nations,
           CAST(SUM(bal) AS DOUBLE) AS total_bal
    FROM pts
    GROUP BY 1, 2, 3
    """,
)
def geo_cell_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial density rollup: points binned to a 64×64 grid (cell size
    1024 micro-degrees), per cell count / distinct-nation / exact decimal
    balance, plus the Morton key of each cell so downstream consumers can
    range-scan spatially adjacent cells from a z-ordered layout. One
    map-side cell computation + one partial-agg'd shuffle on the cell —
    the heatmap/tile-server aggregate at any scale."""
    p = _points(spark, sf_dir)
    cy = F.expr("y div 1024")
    cx = F.expr("x div 1024")
    return (
        p.withColumn("cell_y", cy)
        .withColumn("cell_x", cx)
        .withColumn("cell_z", _morton(F.col("cell_x"), F.col("cell_y")))
        .groupBy("cell_y", "cell_x", "cell_z")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.countDistinct("c_nationkey").alias("n_nations"),
            F.sum("bal").cast("double").alias("total_bal"),
        )
    )


_D = 300  # Chebyshev radius for the neighbor join
_CELL = 512  # bucket size; completeness needs _CELL >= _D


def _bucketed_candidates(p: DataFrame, directed: bool) -> DataFrame:
    """Grid-bucketed Chebyshev-ball candidate pairs over points (k, x, y):
    build side = home cells, probe side = 3×3 neighbor-cell explosion,
    EQUI-join on the cell key, exact |dx|,|dy| ≤ _D filter on candidates.
    Any pair within distance _D shares exactly one (probe-cell =
    home-cell) key per orientation, so output is duplicate-free:
    ``directed`` keeps both orientations (u ≠ v, for per-point kNN),
    otherwise each unordered pair appears once (u < v). Shared by
    geo_neighbor_pairs / geo_knn_within_radius and property-tested on
    cell-boundary straddlers in tests/test_exact_ops.py."""
    home = p.select(
        F.col("k").alias("v_k"),
        F.col("x").alias("v_x"),
        F.col("y").alias("v_y"),
        F.expr(f"x div {_CELL}").alias("cx"),
        F.expr(f"y div {_CELL}").alias("cy"),
    )
    probe = p.withColumn(
        "dxy",
        F.expr(
            "explode(flatten(transform(sequence(-1, 1),"
            " dx -> transform(sequence(-1, 1), dy -> struct(dx, dy)))))"
        ),
    ).select(
        F.col("k").alias("u_k"),
        F.col("x").alias("u_x"),
        F.col("y").alias("u_y"),
        (F.expr(f"x div {_CELL}") + F.col("dxy.dx")).alias("cx"),
        (F.expr(f"y div {_CELL}") + F.col("dxy.dy")).alias("cy"),
    )
    key_pred = (
        (F.col("u_k") != F.col("v_k")) if directed else (F.col("u_k") < F.col("v_k"))
    )
    return (
        probe.join(home, ["cx", "cy"])
        .filter(
            key_pred
            & (F.abs(F.col("u_x") - F.col("v_x")) <= _D)
            & (F.abs(F.col("u_y") - F.col("v_y")) <= _D)
        )
        .select(
            F.col("u_k").alias("u"),
            F.col("v_k").alias("v"),
            F.greatest(
                F.abs(F.col("u_x") - F.col("v_x")),
                F.abs(F.col("u_y") - F.col("v_y")),
            ).alias("cheb"),
        )
    )


@register(
    "geo_neighbor_pairs",
    oracle=f"""
    WITH pts AS ({_points_sql()})
    SELECT a.k AS u, b.k AS v,
           greatest(abs(a.x - b.x), abs(a.y - b.y)) AS cheb
    FROM pts a JOIN pts b
      ON a.k < b.k
     AND abs(a.x - b.x) <= {_D} AND abs(a.y - b.y) <= {_D}
    """,
)
def geo_neighbor_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial distance self-join (all customer pairs within Chebyshev
    distance {d}) via grid bucketing: each point lands in a home cell of
    side {cell} ≥ {d}, one side explodes to its 3×3 cell neighborhood,
    and candidates come from an EQUI-join of exploded cells against home
    cells — so any pair within distance {d} shares a (probe-cell =
    home-cell) key exactly once, and the exact |dx|,|dy| filter runs on
    candidate pairs only. The oracle is the brute-force quadratic join;
    the engine never materializes it — candidate count is bounded by
    points-per-cell density, not N². This is the standard DISTANCE JOIN
    at 100 TB: map-side cell keys, one shuffle, AQE splits hot cells.
    """
    p = _points(spark, sf_dir).select("k", "x", "y").localCheckpoint()
    return _bucketed_candidates(p, directed=False)


geo_neighbor_pairs.__doc__ = geo_neighbor_pairs.__doc__.format(d=_D, cell=_CELL)


_HALF = 4000  # box half-width
_BCELL = 4096  # containment bucket size


@register(
    "geo_box_containment",
    oracle=f"""
    WITH boxes AS (
      SELECT n_nationkey AS box_id,
             {_coord_sql('bx', 'n_nationkey')} AS bx,
             {_coord_sql('by', 'n_nationkey')} AS by
      FROM nation
    ),
    pts AS ({_points_sql()}),
    hits AS (
      SELECT b.box_id, p.k, p.bal
      FROM boxes b JOIN pts p
        ON p.x BETWEEN b.bx - {_HALF} AND b.bx + {_HALF}
       AND p.y BETWEEN b.by - {_HALF} AND b.by + {_HALF}
    )
    SELECT b.box_id,
           COALESCE(h.n_points, 0) AS n_points,
           CAST(COALESCE(h.total_bal, 0) AS DOUBLE) AS total_bal
    FROM boxes b LEFT JOIN (
      SELECT box_id, count(*) AS n_points, SUM(bal) AS total_bal
      FROM hits GROUP BY box_id
    ) h ON b.box_id = h.box_id
    """,
)
def geo_box_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-region containment join (25 nation-derived query boxes ×
    all customer points), bucketed: each box explodes to the grid cells
    it covers (≤ 3×3 at cell size {bcell} for a {w}-wide box), points
    carry their single home cell, and the join is an EQUI-join on the
    cell — the bucketed form of point-in-polygon that replaces the
    broadcast-nested-loop a naive range join would pick. Boxes with zero
    points survive via the final left join (count 0). At 100 TB the box
    set can itself be fact-sized (geofences): same plan, no broadcast
    required, because both sides shuffle on the cell key."""
    n = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("box_id"),
        _coord("bx", F.col("n_nationkey")).alias("bx"),
        _coord("by", F.col("n_nationkey")).alias("by"),
    )
    # Truncation toward zero (not floor) is safe for a possibly-negative
    # lower bound: it can only shift cell -1 up to cell 0, and negative
    # cells contain no points (coordinates are in [0, 65536)).
    lo = lambda c: ((c - _HALF) / _BCELL).cast("bigint")
    hi = lambda c: ((c + _HALF) / _BCELL).cast("bigint")
    box_cells = (
        n.withColumn("cx", F.explode(F.sequence(lo(F.col("bx")), hi(F.col("bx")))))
        .withColumn("cy", F.explode(F.sequence(lo(F.col("by")), hi(F.col("by")))))
    )
    p = _points(spark, sf_dir).select(
        "k",
        "bal",
        "x",
        "y",
        (F.col("x") / _BCELL).cast("bigint").alias("cx"),
        (F.col("y") / _BCELL).cast("bigint").alias("cy"),
    )
    hits = (
        box_cells.join(p, ["cx", "cy"])
        .filter(
            F.col("x").between(F.col("bx") - _HALF, F.col("bx") + _HALF)
            & F.col("y").between(F.col("by") - _HALF, F.col("by") + _HALF)
        )
        .groupBy("box_id")
        .agg(F.count(F.lit(1)).alias("n_pts"), F.sum("bal").alias("tb"))
    )
    return (
        n.select("box_id")
        .join(hits, "box_id", "left")
        .select(
            "box_id",
            F.coalesce(F.col("n_pts"), F.lit(0)).alias("n_points"),
            F.coalesce(F.col("tb"), F.lit(0).cast("decimal(12,2)"))
            .cast("double")
            .alias("total_bal"),
        )
    )


geo_box_containment.__doc__ = geo_box_containment.__doc__.format(
    bcell=_BCELL, w=2 * _HALF
)


@register(
    "geo_knn_within_radius",
    oracle=f"""
    WITH pts AS ({_points_sql()}),
    cand AS (
      SELECT a.k AS u, b.k AS v,
             greatest(abs(a.x - b.x), abs(a.y - b.y)) AS cheb
      FROM pts a JOIN pts b
        ON a.k <> b.k
       AND abs(a.x - b.x) <= {_D} AND abs(a.y - b.y) <= {_D}
    ),
    ranked AS (
      SELECT u, v, cheb,
             row_number() OVER (PARTITION BY u ORDER BY cheb ASC, v ASC) AS rk
      FROM cand
    )
    SELECT u, v, cheb, rk FROM ranked WHERE rk <= 3
    """,
)
def geo_knn_within_radius(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded k-nearest-neighbor join (each customer's 3 nearest
    neighbors within Chebyshev radius {d}): the same grid-bucketed
    candidate generation as geo_neighbor_pairs, kept DIRECTED (u ≠ v,
    both orientations come out of the probe explosion for free), then a
    per-point top-k window over candidates only. Ties break on the
    neighbor key so ranks are deterministic cross-engine. This is the
    radius-bounded kNN every practical system runs at scale — the
    unbounded version needs expanding-ring search, which is the same
    plan re-issued at growing cell radii. Candidates ∝ local density,
    never N²; the top-k window partitions on the point key, so no
    global sort exists anywhere."""
    from pyspark.sql import Window as W

    p = _points(spark, sf_dir).select("k", "x", "y").localCheckpoint()
    cand = _bucketed_candidates(p, directed=True)
    w = W.partitionBy("u").orderBy(F.col("cheb").asc(), F.col("v").asc())
    return (
        cand.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("u", "v", "cheb", "rk")
    )


geo_knn_within_radius.__doc__ = geo_knn_within_radius.__doc__.format(d=_D)
