"""PIP three-class cover and codegen refine: property tests against a
brute-force NumPy even-odd ray cast on adversarial points (cell corners
and edges, polygon vertices and edge midpoints, out-of-grid points,
NULLs), classification soundness, the registered PIP queries against
their DuckDB oracles, and the flagship's candidate counts."""

from __future__ import annotations

import functools
import os

import numpy as np
import pandas as pd
import pytest
from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

import __spark_entry__ as em
from geocoordinateconverter_spark import cells, kernels
from geocoordinateconverter_spark.constants import (BBOX_FI_MAX, BBOX_FI_MIN,
                                                    BBOX_LA_MAX, BBOX_LA_MIN)
from geocoordinateconverter_spark.operators import pip as pip_op
from tests.conftest import SF_SMOKE
from tests.duckdb_twin import assert_matches_twin

RES = pip_op.PIP_CELL_RES
NG = cells.n_cells(RES)
POLYS = pip_op.municipality_polygons(20)


def _ray_cast(px, py, vx, vy):
    """Even-odd over the vertex (last) axis of ``vx``/``vy``; ``px`` and
    ``py`` broadcast against ``vx[..., 0]``."""
    inside = np.zeros(np.broadcast(px, vx[..., 0]).shape, dtype=bool)
    nv = vx.shape[-1]
    for v in range(nv):
        w = (v + 1) % nv
        xi, yi, xj, yj = vx[..., v], vy[..., v], vx[..., w], vy[..., w]
        crosses = (yi > py) != (yj > py)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = (xj - xi) * (py - yi) / (yj - yi) + xi
        inside ^= crosses & (px < xint)
    return inside


def _brute_pairs(k, fi, la, polys=POLYS) -> set:
    """(k, mun_id) for every non-NULL point inside every polygon."""
    k = np.asarray(k)
    fi = np.asarray(fi, dtype=np.float64)
    la = np.asarray(la, dtype=np.float64)
    ok = ~(np.isnan(fi) | np.isnan(la))
    inside = _ray_cast(la[ok, None], fi[ok, None],
                       polys[None, :, :, 0], polys[None, :, :, 1])
    i, m = np.nonzero(inside)
    return set(zip(k[ok][i].tolist(), m.tolist()))


def _engine_pairs(spark, k, fi, la) -> set:
    pdf = pd.DataFrame({"k": np.asarray(k, np.int64),
                        "fi": np.asarray(fi, np.float64),
                        "la": np.asarray(la, np.float64)})
    # NaN marks a NULL coordinate
    pts = (spark.createDataFrame(pdf)
           .select("k", *[F.when(~F.isnan(c), F.col(c)).alias(c) for c in ("fi", "la")]))
    got = pip_op.pip_join(pts, spark).select("k", "mun_id").collect()
    return {(r.k, r.mun_id) for r in got}


def _bbox_cells(poly):
    return cells.cover_bbox(*poly.min(axis=0), *poly.max(axis=0), RES)


def _grid_la(jx):
    return BBOX_LA_MIN + jx / NG * cells.LA_SPAN


def _grid_fi(jy):
    return BBOX_FI_MIN + jy / NG * cells.FI_SPAN


@functools.lru_cache(maxsize=None)
def _cell_classes(n_mun):
    """Per polygon: (interior ids, boundary ids, outside ids)."""
    out = []
    for poly in pip_op.municipality_polygons(n_mun):
        interior, boundary = pip_op.classify_cells(poly)
        bbox = _bbox_cells(poly)
        out.append((interior, boundary,
                    np.setdiff1d(bbox, np.concatenate([interior, boundary]))))
    return out


# ---------------------------------------------------------------- engine ≡ brute force

def test_pip_join_on_cell_corners_and_polygon_edges(spark):
    """Every bbox cell's corner, edge midpoints and centre, each also
    nudged one ulp either way, plus every polygon vertex and edge
    midpoint: pip_join ≡ brute-force even-odd over all polygons."""
    ids = np.unique(np.concatenate([_bbox_cells(p) for p in POLYS]))
    _, jx, jy = cells.decode(ids)
    fx, fy = np.meshgrid([0.0, 0.5], [0.0, 0.5])
    la = _grid_la(jx[:, None] + fx.ravel()).ravel()
    fi = _grid_fi(jy[:, None] + fy.ravel()).ravel()
    a = POLYS.reshape(-1, 2)
    b = np.roll(POLYS, -1, axis=1).reshape(-1, 2)
    la = np.concatenate([la, a[:, 0], (a[:, 0] + b[:, 0]) / 2])
    fi = np.concatenate([fi, a[:, 1], (a[:, 1] + b[:, 1]) / 2])
    la = np.concatenate([la, np.nextafter(la, -np.inf), np.nextafter(la, np.inf)])
    fi = np.concatenate([fi, np.nextafter(fi, np.inf), np.nextafter(fi, -np.inf)])
    k = np.arange(len(la))
    exp = _brute_pairs(k, fi, la)
    assert len(exp) > 50_000
    assert _engine_pairs(spark, k, fi, la) == exp


def _grid_point(m, u, v, tx, ty):
    """A point at offset (tx, ty) ∈ {0, ½, free} of a cell in polygon
    m's bbox; 0 is the exact grid line."""
    _, jx, jy = cells.decode(_bbox_cells(POLYS[m]))
    jx = int(jx.min() + u * (jx.max() - jx.min()))
    jy = int(jy.min() + v * (jy.max() - jy.min()))
    return _grid_fi(jy + ty), _grid_la(jx + tx)


def _edge_point(m, e, t):
    a, b = POLYS[m, e], POLYS[m, (e + 1) % pip_op.N_VERTS]
    p = a + t * (b - a)
    return p[1], p[0]


_frac = st.one_of(st.sampled_from([0.0, 0.5]), st.floats(0.0, 1.0, exclude_max=True))
_mun = st.integers(0, len(POLYS) - 1)
_points = st.lists(st.one_of(
    st.builds(_grid_point, _mun, st.floats(0, 1), st.floats(0, 1), _frac, _frac),
    st.builds(_edge_point, _mun, st.integers(0, pip_op.N_VERTS - 1),
              st.one_of(st.sampled_from([0.0, 0.5]), st.floats(0.0, 1.0))),
    # outside the grid: cell_col clamps these into grid-edge cells
    st.tuples(st.floats(BBOX_FI_MIN - 2, BBOX_FI_MAX + 2),
              st.one_of(st.floats(BBOX_LA_MIN - 2, BBOX_LA_MIN, exclude_max=True),
                        st.floats(BBOX_LA_MAX, BBOX_LA_MAX + 2, exclude_min=True))),
    st.tuples(st.one_of(st.floats(BBOX_FI_MIN - 2, BBOX_FI_MIN, exclude_max=True),
                        st.floats(BBOX_FI_MAX, BBOX_FI_MAX + 2, exclude_min=True)),
              st.floats(BBOX_LA_MIN - 2, BBOX_LA_MAX + 2)),
    # NULL fi and/or la: dropped
    st.tuples(st.one_of(st.none(), st.floats(BBOX_FI_MIN, BBOX_FI_MAX)), st.none()),
    st.tuples(st.none(), st.floats(BBOX_LA_MIN, BBOX_LA_MAX)),
), min_size=1, max_size=60)


@settings(max_examples=20, deadline=None)
@given(_points)
def test_pip_join_matches_brute_force_property(spark, pts):
    fi = np.array([np.nan if p[0] is None else p[0] for p in pts])
    la = np.array([np.nan if p[1] is None else p[1] for p in pts])
    k = np.arange(len(pts))
    assert _engine_pairs(spark, k, fi, la) == _brute_pairs(k, fi, la)


# ---------------------------------------------------------------- classification soundness

@pytest.mark.parametrize("n_mun", [20, 212])
@settings(max_examples=15, deadline=None)
@given(tx=st.floats(0.0, 1.0), ty=st.floats(0.0, 1.0))
@example(tx=0.0, ty=0.0)
@example(tx=1.0, ty=0.0)
@example(tx=0.0, ty=1.0)
@example(tx=1.0, ty=1.0)
def test_classification_sound(n_mun, tx, ty):
    """The point at offset (tx, ty) of every interior cell — the
    closed cell, exact corners included — ray-casts inside its polygon;
    that of every dropped cell ray-casts outside."""
    polys = pip_op.municipality_polygons(n_mun)
    for poly, (interior, _, outside) in zip(polys, _cell_classes(n_mun)):
        for ids, want in ((interior, True), (outside, False)):
            _, jx, jy = cells.decode(ids)
            got = _ray_cast(_grid_la(jx + tx), _grid_fi(jy + ty),
                            poly[None, :, 0], poly[None, :, 1])
            assert (got == want).all()


def test_classification_split_counts():
    """The documented cover split: interior / boundary / dropped."""
    for n_mun, split in ((20, (16_241, 2_783, 6_339)),
                         (212, (184_580, 30_240, 68_236))):
        classes = _cell_classes(n_mun)
        assert tuple(sum(len(c[i]) for c in classes) for i in range(3)) == split


def test_grid_edge_cells_are_boundary():
    """cell_col clamps out-of-grid points into the grid's edge cells, so
    a polygon reaching past the grid edge gets those cells as boundary
    (ray-cast), never interior, however deep inside it they lie."""
    poly = np.array([[BBOX_LA_MIN - 0.1, BBOX_FI_MIN - 0.1],
                     [BBOX_LA_MIN + 0.1, BBOX_FI_MIN - 0.1],
                     [BBOX_LA_MIN + 0.1, BBOX_FI_MIN + 0.1],
                     [BBOX_LA_MIN - 0.1, BBOX_FI_MIN + 0.1]])
    interior, boundary = pip_op.classify_cells(poly)
    _, jx, jy = cells.decode(interior)
    assert len(interior) > 50 and (jx > 0).all() and (jy > 0).all()
    _, jx, jy = cells.decode(boundary)
    assert ((jx == 0) | (jy == 0)).sum() > 20


def test_concave_notch_has_no_interior_cell():
    """The concave arrow-head of test_raycast_concave_polygon (degenerate
    repeated vertices included), scaled into the grid; its notch is the
    triangle of vertices 2, 3 and 4."""
    poly = np.array([[0.0, 0.0], [4.0, 0.0], [4.0, 4.0], [2.0, 1.5],
                     [0.0, 4.0], [0.0, 0.0], [0.0, 0.0], [0.0, 0.0]]) * 0.02 + (14.5, 46.0)
    interior, boundary = pip_op.classify_cells(poly)
    bbox = _bbox_cells(poly)
    assert len(interior) > 50
    notch = poly[[2, 3, 4]]
    _, jx, jy = cells.decode(bbox)
    # every sample of a cell lies strictly inside the notch triangle
    in_notch = np.ones(len(bbox), dtype=bool)
    for tx in (0.0, 1.0):
        for ty in (0.0, 1.0):
            in_notch &= _ray_cast(_grid_la(jx + tx), _grid_fi(jy + ty),
                                  notch[None, :, 0], notch[None, :, 1])
    notch_cells = bbox[in_notch]
    assert len(notch_cells) > 5
    assert not np.isin(notch_cells, interior).any()
    assert not np.isin(notch_cells, boundary).any()   # dropped outright
    _, jx, jy = cells.decode(interior)
    for tx in (0.0, 0.5, 1.0):
        for ty in (0.0, 0.5, 1.0):
            assert _ray_cast(_grid_la(jx + tx), _grid_fi(jy + ty),
                             poly[None, :, 0], poly[None, :, 1]).all()


# ---------------------------------------------------------------- oracle + flagship counts

SF01 = os.path.join(os.path.dirname(SF_SMOKE), "sf0.01")
SF1 = os.path.join(os.path.dirname(SF_SMOKE), "sf0.1")


@pytest.mark.parametrize("name", ["pip_join_municipalities", "pip_tile_agg"])
def test_pip_query_matches_oracle(spark, name):
    got = em.queries()[name](spark, SF01)
    assert_matches_twin(got, em.oracle_sql()[name], SF01, min_rows=20)


# Named counts of the flagship's PIP join on the sf0.1 lineitem-derived
# points (FLAGSHIP multiplier ×1 and ×8): cover-cell equi-join matches,
# of which interior (accepted untested) and ray-cast; and hits.  With
# the former bbox-only cover every match was ray-cast: 142,897 at ×1
# and 1,142,659 at ×8.
FLAGSHIP_COUNTS = {
    1: {"equi": 76_445, "interior": 56_842, "raycast": 19_603, "hits": 65_642},
    8: {"equi": 611_081, "interior": 454_492, "raycast": 156_589, "hits": 524_678},
}
BBOX_COVER_CANDIDATES = {1: 142_897, 8: 1_142_659}


@pytest.mark.parametrize("mult", sorted(FLAGSHIP_COUNTS))
def test_flagship_candidate_counts(spark, mult):
    s = spark.newSession()
    em._register(s, SF1)
    gk = em.sg.gk_points_sql("k")
    src = (s.table("lineitem").select(F.expr(em.LKEY).alias("k0"))
           .repartition(s.sparkContext.defaultParallelism)
           .select("k0", F.explode(F.sequence(F.lit(0), F.lit(mult - 1))).alias("i"))
           .select((F.col("k0") * mult + F.col("i")).alias("k"))
           .select("k", F.expr(gk["x"]).alias("x"), F.expr(gk["y"]).alias("y"),
                   F.expr(gk["h"]).alias("h")))
    t3 = kernels.transform_udf(3)
    conv = (src.withColumn("o", t3(F.col("x"), F.col("y"), F.col("h")))
            .select("k", F.col("o.fi").alias("fi"), F.col("o.la").alias("la")))
    by_class = {r.interior: r["count"] for r in
                conv.withColumn("cell", kernels.cell_col(F.col("fi"), F.col("la"), RES))
                .join(F.broadcast(pip_op.cover_df(s)), "cell")
                .groupBy("interior").count().collect()}
    got = {"equi": by_class[True] + by_class[False], "interior": by_class[True],
           "raycast": by_class[False], "hits": pip_op.pip_join(conv, s).count()}
    assert got == FLAGSHIP_COUNTS[mult]
    assert 3 * got["raycast"] <= BBOX_COVER_CANDIDATES[mult]
