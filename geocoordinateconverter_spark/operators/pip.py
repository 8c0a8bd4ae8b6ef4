"""Point-in-polygon join — [NORTH-RULE] (SURVEY.md §3.6, §5.2 item 3).

One broadcast equi-join, designed for the 100 TB point side; the whole
join runs in codegen, so it adds no Python crossing to a plan:

1. **Three-class cover** (NumPy at plan-build time,
   :func:`classify_cells`, memoized per polygon count).  Every res-6 cell of a polygon's bbox is
   *outside* (dropped from the broadcast), *interior* (its points are
   accepted with no test) or *boundary* (its points are ray-cast) — the
   full/partial-cell split of Raster Intervals (PAPERS.md).  A cell is
   boundary if any polygon edge meets its rectangle widened by
   :data:`CELL_EPS_DEG`, or if it lies on the grid edge, where
   ``cell_col`` clamps out-of-grid points.  Otherwise even-odd parity is
   constant across the cell and one corner's ray cast decides interior
   or outside, which is exact for concave polygons too.
2. **Prefilter** — points get a grid-cell id (pure Catalyst arithmetic,
   kernels.cell_col) and equi-join against the tiny broadcast table of
   (cell, polygon, interior flag, vertex columns).  Expressing PIP as a
   broadcast **equi**-join lets Catalyst pick BroadcastHashJoin — no
   shuffle of the big side, no BroadcastNestedLoopJoin.
3. **Exact refine** — ``interior OR`` the even-odd ray cast of
   :func:`raycast_sql`, SQL arithmetic against the vertex columns
   carried in the broadcast row (half-open crossing test, bit-identical
   to the NumPy :func:`_even_odd`).  Catalyst folds the predicate into
   the join condition, which runs in whole-stage codegen.

The municipality fixture (FIXTURES.md §4) is a deterministic set of
convex octagons around mixed centroids (212 at bench scale to match the
real Slovenian municipality count; 20 at test scale).  Synthesis is
pure arithmetic on ``mun_id`` so :func:`municipalities_values_sql`
rebuilds it bit-identically inside DuckDB, and
:func:`pip_oracle_condition` generates the convex half-plane
containment test the oracle uses (engine ray-cast ≡ half-plane test on
convex polygons).
"""

from __future__ import annotations

import functools
import math

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import cells
from ..constants import BBOX_FI_MAX, BBOX_FI_MIN, BBOX_LA_MAX, BBOX_LA_MIN
from ..functions.sqlgen import f as _f

N_VERTS = 8
N_MUN = 20        # municipalities at test scale (212 at bench scale)
PIP_CELL_RES = 6  # prefilter resolution (~0.0068° ≈ 500–750 m cells)


# ---------------------------------------------------------------------------
# Fixture synthesis (deterministic, no RNG — identical on every
# executor and inside DuckDB)
# ---------------------------------------------------------------------------

def _mix01(i: int, mult: int) -> float:
    return ((i * mult) % 1000000) / 1000000.0


def municipality_polygons(n_mun: int = N_MUN) -> np.ndarray:
    """(n_mun, N_VERTS, 2) lon/lat vertex array, CCW convex octagons."""
    out = np.empty((n_mun, N_VERTS, 2), dtype=np.float64)
    for i in range(n_mun):
        cx = BBOX_LA_MIN + 0.3 + (BBOX_LA_MAX - BBOX_LA_MIN - 0.6) * _mix01(i + 1, 2654435761)
        cy = BBOX_FI_MIN + 0.2 + (BBOX_FI_MAX - BBOX_FI_MIN - 0.4) * _mix01(i + 1, 1597334677)
        r = 0.08 + 0.05 * _mix01(i + 1, 40503)
        phase = 2.0 * math.pi * _mix01(i + 1, 69069) / 8.0
        for v in range(N_VERTS):
            ang = phase + 2.0 * math.pi * v / N_VERTS
            out[i, v, 0] = cx + r * math.cos(ang)
            out[i, v, 1] = cy + 0.7 * r * math.sin(ang)
    return out


def municipalities_values_sql() -> str:
    """VALUES table (mun_id, v0x, v0y, …, v7x, v7y) with exact float64
    literals — the oracle's copy of the polygon table."""
    polys = municipality_polygons()
    rows = []
    for i in range(N_MUN):
        vals = ", ".join(
            f"{_f(polys[i, v, 0])}, {_f(polys[i, v, 1])}" for v in range(N_VERTS)
        )
        rows.append(f"({i}, {vals})")
    cols = ", ".join(f"v{v}x, v{v}y" for v in range(N_VERTS))
    return (f"(SELECT * FROM (VALUES {', '.join(rows)}) "
            f"AS m(mun_id, {cols}))")


def pip_oracle_condition() -> str:
    """Convex containment of point ``p(fi, la)`` in polygon ``m`` as AND
    of half-plane tests (CCW ⇒ every edge cross product ≥ 0).
    Strict/non-strict choice is irrelevant off the boundary; fixture
    points never lie exactly on an edge."""
    conds = []
    for v in range(N_VERTS):
        w = (v + 1) % N_VERTS
        conds.append(
            f"((m.v{w}x - m.v{v}x) * ((p.fi) - m.v{v}y) - "
            f"(m.v{w}y - m.v{v}y) * ((p.la) - m.v{v}x) >= {_f(0.0)})"
        )
    return "(" + " AND ".join(conds) + ")"


# ---------------------------------------------------------------------------
# Engine side
# ---------------------------------------------------------------------------

# Cell rectangles are widened by this much before the edge test.
# ``cell_col`` floors float64 arithmetic, so a point within ~1e-14° of
# a cell's side may be placed in the neighbouring cell; the margin keeps
# every point a cell receives inside the rectangle it was classified by.
CELL_EPS_DEG = 1e-9

VERTS = [(f"v{v}x", f"v{v}y") for v in range(N_VERTS)]
VERTEX_COLS = [c for xy in VERTS for c in xy]


def _even_odd(px: np.ndarray, py: np.ndarray, poly: np.ndarray) -> np.ndarray:
    """NumPy even-odd ray cast of points against one (n_verts, 2)
    polygon — the operation order :func:`raycast_sql` reproduces."""
    inside = np.zeros(np.shape(px), dtype=bool)
    nv = len(poly)
    for v in range(nv):
        (xi, yi), (xj, yj) = poly[v], poly[(v + 1) % nv]
        crosses = (yi > py) != (yj > py)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = (xj - xi) * (py - yi) / (yj - yi) + xi
        inside ^= crosses & (px < xint)
    return inside


def classify_cells(poly: np.ndarray):
    """(interior, boundary) res-6 cell ids of one (n_verts, 2) lon/lat
    polygon; the other cells of its bbox are outside.  See the module
    docstring for the rule."""
    ids = cells.cover_bbox(*poly.min(axis=0), *poly.max(axis=0), PIP_CELL_RES)
    _, jx, jy = cells.decode(ids)
    n = cells.n_cells(PIP_CELL_RES)
    cx = BBOX_LA_MIN + jx / n * cells.LA_SPAN       # lower-left corners
    cy = BBOX_FI_MIN + jy / n * cells.FI_SPAN
    x0 = (cx - CELL_EPS_DEG)[:, None]
    y0 = (cy - CELL_EPS_DEG)[:, None]
    x1 = (BBOX_LA_MIN + (jx + 1) / n * cells.LA_SPAN + CELL_EPS_DEG)[:, None]
    y1 = (BBOX_FI_MIN + (jy + 1) / n * cells.FI_SPAN + CELL_EPS_DEG)[:, None]
    ax, ay = poly[:, 0], poly[:, 1]
    bx, by = np.roll(ax, -1), np.roll(ay, -1)
    # segment vs rectangle, separating axes: the rectangle's own two
    # (bbox overlap) and the edge's normal (all four corners strictly
    # on one side of the edge's line)
    overlap = ((np.maximum(ax, bx) >= x0) & (np.minimum(ax, bx) <= x1)
               & (np.maximum(ay, by) >= y0) & (np.minimum(ay, by) <= y1))
    side = np.stack([(bx - ax) * (qy - ay) - (by - ay) * (qx - ax)
                     for qx, qy in ((x0, y0), (x1, y0), (x0, y1), (x1, y1))])
    apart = (side > 0).all(axis=0) | (side < 0).all(axis=0)
    boundary = ((overlap & ~apart).any(axis=1)
                | (jx == 0) | (jx == n - 1) | (jy == 0) | (jy == n - 1))
    interior = ~boundary & _even_odd(cx, cy, poly)
    return ids[interior], ids[boundary]


@functools.lru_cache(maxsize=None)
def _cover_rows(n_mun: int) -> tuple[tuple, ...]:
    """One row per polygon: mun_id, cover cells (interior first),
    interior count, vertex doubles."""
    rows = []
    for i, poly in enumerate(municipality_polygons(n_mun)):
        interior, boundary = classify_cells(poly)
        rows.append((i, np.concatenate([interior, boundary]).tolist(),
                     len(interior), *poly.ravel().tolist()))
    return tuple(rows)


def cover_df(spark: SparkSession) -> DataFrame:
    """The broadcast side: (cell, interior, mun_id, v0x … v7y), one row
    per interior or boundary cover cell."""
    schema = ("mun_id int, cover array<bigint>, n_interior int, "
              + ", ".join(f"{c} double" for c in VERTEX_COLS))
    return (spark.createDataFrame(list(_cover_rows(N_MUN)), schema)
            .select(F.expr("inline(transform(cover, (c, i) -> named_struct("
                           "'cell', c, 'interior', i < n_interior)))"),
                    "mun_id", *VERTEX_COLS))


def raycast_sql(px: str, py: str, verts: list[tuple[str, str]]) -> str:
    """Even-odd ray cast as SQL arithmetic: odd count of edges crossed
    by the ray from (px, py) towards +x.  Same IEEE operation order as
    :func:`_even_odd`, so results are bit-identical.  ``AND``
    short-circuits, so ``/ (yj - yi)`` runs only when ``yi ≠ yj`` — safe
    under ANSI divide-by-zero.  SQL text rather than Column operators:
    one parse instead of ~100 JVM calls when the plan is composed."""
    nv = len(verts)
    terms = []
    for v in range(nv):
        (xi, yi), (xj, yj) = verts[v], verts[(v + 1) % nv]
        terms.append(f"CASE WHEN ({yi} > {py}) != ({yj} > {py}) AND {px} < "
                     f"({xj} - {xi}) * ({py} - {yi}) / ({yj} - {yi}) + {xi} "
                     f"THEN 1 ELSE 0 END")
    return f"(({' + '.join(terms)}) % 2 = 1)"


def pip_join(points: DataFrame, spark: SparkSession) -> DataFrame:
    """points (big) ⋈ municipalities (tiny broadcast) → rows + mun_id.

    Plan shape: codegen cell encode → BroadcastHashJoin on cover cell
    with ``interior OR ray cast`` in its condition.  The point side is
    never shuffled, and the join adds no Python crossing.
    """
    refine = raycast_sql("`la`", "`fi`", VERTS)
    pts = points.withColumn("cell", _cell(F.col("fi"), F.col("la")))
    return (pts.join(F.broadcast(cover_df(spark)), "cell", "inner")
            .filter(F.expr(f"interior OR {refine}"))
            .drop("cell", "interior", *VERTEX_COLS))


def _cell(fi: Column, la: Column) -> Column:
    from ..kernels import cell_col
    return cell_col(fi, la, PIP_CELL_RES)
