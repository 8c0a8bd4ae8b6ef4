"""Raster↔vector tile aggregation with explicit skew handling —
[NORTH-RULE] (SURVEY.md §3.6 rows "raster↔vector tile aggregation" and
"skew handling (Ljubljana hot cells)", §5.2 item 4).

The corpus is Ljubljana-heavy by construction (60 % of coordinates in a
~12 km cluster — FIXTURES.md §1 skew rule), so a handful of cells carry
most rows.  Spark's hash aggregation already does map-side partial
aggregation, which absorbs *aggregation* skew for algebraic aggs; the
operator here adds the pattern partial-agg cannot cover:

* :func:`salted_tile_agg` — two-stage (cell, salt) → cell aggregation
  for high-cardinality per-cell state (e.g. ``collect_set``/distinct
  counts), where a single hot cell would otherwise pin one reducer.
  The salt count is the fixed :data:`N_SALT`; :func:`salt_factor`
  derives one from the data instead (:func:`hot_cells`' top-k cell
  histogram — SURVEY.md §5.2 "top-k cell histogram → salt factor"),
  but no operator uses it yet.

AQE's skew-join splitting (enabled in plans/session.py) remains the
runtime backstop; these operators are the explicit, plan-level
treatment the north rule requires.  Determinism: salting changes only
physical placement — pytest asserts salted ≡ unsalted results.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..kernels import cell_col

TILE_RES = 7       # salted_tile_agg / hot_cells cell resolution
N_SALT = 8         # salted_tile_agg: ways a hot cell is split
TOPK_RES = 5       # tile_topk_points cell resolution
TOPK_PER_TILE = 3  # tile_topk_points: points kept per tile
KRING_RES = 5      # kring_smooth cell resolution


def tile_agg(points: DataFrame, res: int) -> DataFrame:
    """Plain tile aggregation: codegen cell encode → hash agg (partial
    + final, one shuffle on cell)."""
    return (points
            .withColumn("cell", cell_col(F.col("fi"), F.col("la"), res))
            .groupBy("cell").agg(F.count("*").alias("n_pts")))


def hot_cells(points: DataFrame, top_k: int = 20) -> list[tuple[int, int]]:
    """Top-k (cell, count) histogram — the salt-factor input."""
    rows = (points.withColumn("cell", cell_col(F.col("fi"), F.col("la"),
                                               TILE_RES))
            .groupBy("cell").count()
            .orderBy(F.col("count").desc(), F.col("cell").asc())
            .limit(top_k).collect())
    return [(r["cell"], r["count"]) for r in rows]


def salt_factor(points: DataFrame, target_rows_per_task: int = 250_000) -> int:
    """Salt count from the hottest cell's row count (≥1)."""
    top = hot_cells(points, top_k=1)
    if not top:
        return 1
    return max(1, -(-top[0][1] // target_rows_per_task))


def salted_tile_agg(points: DataFrame, key: str) -> DataFrame:
    """Two-stage distinct-count per cell with explicit salting.

    Stage 1 shuffles on (cell, salt) — hot cell split N_SALT ways —
    computing per-salt partial distinct sets; stage 2 merges the (small)
    partials on cell.  Equivalent to countDistinct(key) per cell, but no
    single reducer ever holds a hot cell's full key set.
    """
    salted = (points
              .withColumn("cell", cell_col(F.col("fi"), F.col("la"), TILE_RES))
              .withColumn("salt", F.pmod(F.xxhash64(F.col(key)), F.lit(N_SALT))))
    # exact distinct only: salt partitions a HASH of key, so per-salt
    # distinct sets are disjoint and their sum is the exact cell
    # distinct.  (An earlier draft also computed a per-salt HLL sketch
    # here, but it was never merged or returned — Catalyst pruned it —
    # so it was removed rather than left as a misleading "fast path";
    # the approximate variant at scale is approx_count_distinct WITHOUT
    # salting, since HLL merge is already skew-immune.)
    partial = (salted.groupBy("cell", "salt")
               .agg(F.count("*").alias("n_part"),
                    F.countDistinct(key).alias("ndx_part")))
    return (partial.groupBy("cell")
            .agg(F.sum("n_part").alias("n_pts"),
                 F.sum("ndx_part").alias("n_distinct")))


def tile_topk_points(points: DataFrame, key: str) -> DataFrame:
    """Per-tile top-:data:`TOPK_PER_TILE` points by height ``h`` (ties
    by key asc, so the SQL-window oracle matches exactly).

    A codegen window top-k (r6) — ONE exchange on cell, no Python.  Not
    a grouped-map ``applyInPandas``: that calls Python once PER TILE,
    and ~3 ms of pandas overhead × |cells| dominated the query (measured
    30 s vs ~1 s at sf0.1 — the guide §2.3 warning that grouped-map
    ships and handles every row through Python)."""
    pts = points.withColumn("cell", cell_col(F.col("fi"), F.col("la"),
                                             TOPK_RES))
    w = Window.partitionBy("cell").orderBy(F.col("h").desc(),
                                           F.col(key).asc())
    return (pts.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= TOPK_PER_TILE)
            .select("cell", key, "h", F.col("rk").cast("int").alias("rk")))


# ---------------------------------------------------------------------------
# k-ring neighborhood smoothing (grid convolution over tile counts)
# ---------------------------------------------------------------------------

from .. import cells as _cells

_CELL_AXIS = 1 << _cells.IX_SHIFT      # ix/iy field width in the cell id
_CELL_RES = 1 << _cells.RES_SHIFT


def kring_smooth(points: DataFrame) -> DataFrame:
    """(cell, n_own, n_smooth, n_nbrs): each cell's own point count,
    the 3×3 k-ring(1) neighborhood sum, and how many populated
    neighbor cells contributed — the H3 ``kRing``-style smoothing /
    hotspot-convolution primitive (heatmap blur, density smoothing).

    Scale shape: the convolution runs on the ALREADY-AGGREGATED tile
    table (|cells| ≪ |points|): decode (ix, iy) arithmetically, explode
    the 9 offsets map-side (9× a small table, not the corpus), and
    re-aggregate on the target cell — one extra small shuffle after
    the tile agg.  n_own rides the same aggregation as a conditional
    sum, so no self-join.  Every value is integer arithmetic — exact
    in both engines.  Cells outside the grid are clipped (the grid
    edge smooths over fewer neighbors, like any finite convolution).
    """
    from .. import cells as cellmod
    n = cellmod.n_cells(KRING_RES)
    counts = tile_agg(points, KRING_RES)
    d = counts.select(
        "n_pts",
        F.expr(f"(cell div {_CELL_AXIS}) % {_CELL_AXIS}").alias("ix"),
        F.expr(f"cell % {_CELL_AXIS}").alias("iy"))
    offs = F.array(*[F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
                     for dx in (-1, 0, 1) for dy in (-1, 0, 1)])
    t = (d.select("n_pts", "ix", "iy", F.explode(offs).alias("o"))
         .select("n_pts",
                 (F.col("ix") + F.col("o.dx")).alias("jx"),
                 (F.col("iy") + F.col("o.dy")).alias("jy"),
                 ((F.col("o.dx") == 0) & (F.col("o.dy") == 0)).alias("own"))
         .filter(F.col("jx").between(0, n - 1)
                 & F.col("jy").between(0, n - 1)))
    return (t.groupBy((F.lit(KRING_RES).cast("long") * F.lit(_CELL_RES)
                       + F.col("jx") * F.lit(_CELL_AXIS)
                       + F.col("jy")).alias("cell"))
            .agg(F.sum(F.when(F.col("own"), F.col("n_pts"))
                       .otherwise(F.lit(0))).alias("n_own"),
                 F.sum("n_pts").alias("n_smooth"),
                 F.count("*").alias("n_nbrs")))


def kring_smooth_sql(points_src: str) -> str:
    from .. import cells as cellmod
    n = cellmod.n_cells(KRING_RES)
    offs = ", ".join(f"({dx}, {dy})"
                     for dx in (-1, 0, 1) for dy in (-1, 0, 1))
    return f"""
WITH counts AS (
  SELECT {cellmod.encode_sql("fi", "la", KRING_RES)} AS cell, count(*) AS n_pts
  FROM {points_src} p GROUP BY 1),
d AS (
  SELECT n_pts, (cell // {_CELL_AXIS}) % {_CELL_AXIS} AS ix,
         cell % {_CELL_AXIS} AS iy
  FROM counts),
t AS (
  SELECT n_pts, ix + dx AS jx, iy + dy AS jy,
         (dx = 0 AND dy = 0) AS own
  FROM d CROSS JOIN (VALUES {offs}) o(dx, dy)
  WHERE ix + dx BETWEEN 0 AND {n - 1} AND iy + dy BETWEEN 0 AND {n - 1})
SELECT cast({KRING_RES} as bigint) * {_CELL_RES}
       + jx * {_CELL_AXIS} + jy AS cell,
       sum(CASE WHEN own THEN n_pts ELSE 0 END) AS n_own,
       sum(n_pts) AS n_smooth, count(*) AS n_nbrs
FROM t GROUP BY 1
"""
