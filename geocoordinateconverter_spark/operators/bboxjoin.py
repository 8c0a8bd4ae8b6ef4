"""Polygon-polygon bbox-intersects join — [NORTH-RULE] (SURVEY.md
§3.6 spatial joins): which parcels overlap which municipalities.

Completes the spatial-join family (PIP = point⋈polygon, kNN/radius =
point⋈point) with the region⋈region case, in the classic
spatial-hash-join shape used by every distributed geo engine:

1. **Cover** — each region registers in every grid cell its bbox
   touches.  The municipality side (tiny dim) covers via
   ``cells.cover_bbox`` driver-side and broadcasts; the parcel side
   (the 10¹²-row side) covers in pure Catalyst codegen — floor/clip
   arithmetic plus a two-level ``explode(sequence(...))``, bounded by
   construction to ≤ ~5×5 cells per parcel at PARCEL_RES.  NOTE the
   cover cost is O(bbox area / cell area): the operator is sized for
   parcel-class rectangles (≪ a cell ring); a caller with
   continent-scale regions should cover those at a coarser res on the
   DIM side (mun-style) — per-row adaptive res would break the
   equi-join key and is deliberately not attempted.
2. **Equi-join on cell** (BroadcastHashJoin — never BNLJ) then
   ``distinct`` collapses multi-cell hits of the same pair.
   Superset proof: two bboxes with a strictly-overlapping interior
   share every cell containing an interior point, and both covers
   include all cells their bboxes touch.
3. **Exact refine** — strict interval-overlap predicate and overlap
   extents, pure ``least/greatest/-`` float64 arithmetic: bit-identical
   across engines, no tolerance, like the radius join.

Parcels are a deterministic rectangle per customer row (integer-mixed
center/size, SQL-shared text so both engines derive bit-identical
bboxes); municipalities reuse the PIP octagon fixture's exact vertex
VALUES, reduced to bboxes by 8-way least/greatest in both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import cells
from ..constants import BBOX_FI_MAX, BBOX_FI_MIN, BBOX_LA_MAX, BBOX_LA_MIN
from ..functions.sqlgen import f as _f
from ..functions.sqlgen import mix01 as _mix_sql
from . import pip as pip_op

PARCEL_RES = 4
LA_SPAN = cells.LA_SPAN
FI_SPAN = cells.FI_SPAN


def parcels_sql(key_expr: str, table: str) -> str:
    """Derived table (k, pxmin, pymin, pxmax, pymax) — one deterministic
    rectangle per row of ``table``; identical text runs in both
    engines, so the bboxes are bit-identical float64."""
    cx = (f"({_f(BBOX_LA_MIN + 0.3)} + {_f(LA_SPAN - 0.6)} "
          f"* {_mix_sql('k', 1103515245)})")
    cy = (f"({_f(BBOX_FI_MIN + 0.2)} + {_f(FI_SPAN - 0.4)} "
          f"* {_mix_sql('k', 69069)})")
    w = f"(0.01e0 + 0.05e0 * {_mix_sql('k', 40503)})"
    h = f"(0.7e0 * (0.01e0 + 0.05e0 * {_mix_sql('k', 2654435761)}))"
    return (f"(SELECT k, {cx} - {w} AS pxmin, {cy} - {h} AS pymin, "
            f"{cx} + {w} AS pxmax, {cy} + {h} AS pymax "
            f"FROM (SELECT {key_expr} AS k FROM {table}) q_k)")


def parcels_df(spark: SparkSession) -> DataFrame:
    """Spark side of :func:`parcels_sql` over the registered
    ``customer`` table (same SQL text → bit-identical bboxes)."""
    return spark.sql(
        f"SELECT * FROM {parcels_sql('c_custkey', 'customer')} q_parcels")


def mun_bbox_rows():
    """[(mun_id, mxmin, mymin, mxmax, mymax)] from the exact PIP
    octagon vertices (plain min/max over 8 float64s — the same values
    the oracle's least/greatest sees)."""
    polys = pip_op.municipality_polygons()
    return [(i,
             float(polys[i, :, 0].min()), float(polys[i, :, 1].min()),
             float(polys[i, :, 0].max()), float(polys[i, :, 1].max()))
            for i in range(pip_op.N_MUN)]


def bbox_intersects_join(parcels: DataFrame, spark: SparkSession) -> DataFrame:
    """(k, mun_id, ox, oy): every (parcel, municipality) pair whose
    bboxes strictly overlap, with exact overlap extents."""
    rows = mun_bbox_rows()
    mun = spark.createDataFrame(
        rows, "mun_id int, mxmin double, mymin double, "
              "mxmax double, mymax double")
    cover_rows = [(int(c), i) for i, x0, y0, x1, y1 in rows
                  for c in cells.cover_bbox(x0, y0, x1, y1, PARCEL_RES)]
    mun_cover = spark.createDataFrame(cover_rows, "cell bigint, mun_id int")

    n = cells.n_cells(PARCEL_RES)

    def _idx(expr, lo, span):
        raw = F.floor((expr - F.lit(lo)) / F.lit(span) * F.lit(n))
        return F.least(F.lit(n - 1), F.greatest(F.lit(0), raw)).cast("long")

    pc = (parcels
          .withColumn("jx", F.explode(F.sequence(
              _idx(F.col("pxmin"), BBOX_LA_MIN, LA_SPAN),
              _idx(F.col("pxmax"), BBOX_LA_MIN, LA_SPAN))))
          .withColumn("jy", F.explode(F.sequence(
              _idx(F.col("pymin"), BBOX_FI_MIN, FI_SPAN),
              _idx(F.col("pymax"), BBOX_FI_MIN, FI_SPAN))))
          .withColumn("cell", (F.lit(PARCEL_RES).cast("long")
                               * F.lit(1 << cells.RES_SHIFT)
                               + F.col("jx") * F.lit(1 << cells.IX_SHIFT)
                               + F.col("jy")))
          .drop("jx", "jy"))
    cand = (pc.join(F.broadcast(mun_cover), "cell").drop("cell")
            .distinct()
            .join(F.broadcast(mun), "mun_id"))
    ox = F.least("pxmax", "mxmax") - F.greatest("pxmin", "mxmin")
    oy = F.least("pymax", "mymax") - F.greatest("pymin", "mymin")
    return (cand.withColumn("ox", ox).withColumn("oy", oy)
            .filter((F.col("ox") > 0) & (F.col("oy") > 0))
            .select("k", "mun_id", "ox", "oy"))


def bbox_intersects_oracle_sql(parcels_src: str) -> str:
    """Brute-force oracle: municipality bboxes by 8-way least/greatest
    over the exact vertex VALUES, cross join + the identical strict
    predicate and extents."""
    vx = ", ".join(f"v{v}x" for v in range(pip_op.N_VERTS))
    vy = ", ".join(f"v{v}y" for v in range(pip_op.N_VERTS))
    munb = (f"(SELECT mun_id, least({vx}) AS mxmin, least({vy}) AS mymin, "
            f"greatest({vx}) AS mxmax, greatest({vy}) AS mymax "
            f"FROM {pip_op.municipalities_values_sql()})")
    return f"""
(SELECT k, mun_id, ox, oy FROM (
   SELECT p.k, m.mun_id,
          least(p.pxmax, m.mxmax) - greatest(p.pxmin, m.mxmin) AS ox,
          least(p.pymax, m.mymax) - greatest(p.pymin, m.mymin) AS oy
   FROM {parcels_src} p CROSS JOIN {munb} m) q
 WHERE ox > 0 AND oy > 0)
"""
