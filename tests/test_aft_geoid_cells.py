"""AFT mesh, geoid raster, and cell-index tests (SURVEY.md §3.4,
FIXTURES.md §6–§7)."""

from __future__ import annotations

import duckdb
import numpy as np

from geocoordinateconverter_spark import aft, cells, geoid
from geocoordinateconverter_spark import geodesy as g

# module data drawn from a DEDICATED generator so per-test draws (each
# test makes its own default_rng below / via _rng()) cannot change the
# shared arrays depending on test selection/order (r4 review)
_module_rng = np.random.default_rng(7)
X = _module_rng.uniform(15000, 200000, 20000)
Y = _module_rng.uniform(370000, 630000, 20000)
H = _module_rng.uniform(0, 2000, 20000)


def _rng(seed: int = 7001):
    return np.random.default_rng(seed)


def test_aft_coverage_and_roundtrip():
    tx, ty, th = aft.gk_to_tm_aft(X, Y, H)
    assert not np.isnan(tx).any()  # full bbox coverage (FIXTURES §3)
    gx, gy, _ = aft.tm_to_gk_aft(tx, ty, th)
    assert np.abs(gx - X).max() < 1e-6  # exact per-triangle inverse
    np.testing.assert_array_equal(th, H)  # -hc height copy


def test_aft_affine_consistency():
    """FIXTURES.md §6: each triangle's affine maps its source vertices
    to its destination vertices (≤1e-9 m)."""
    t = aft.AFT_GK_TM
    sx, sy = t.tri_src[:, :, 0], t.tri_src[:, :, 1]
    dx = t.coef[:, [0]] * sx + t.coef[:, [1]] * sy + t.coef[:, [2]]
    dy = t.coef[:, [3]] * sx + t.coef[:, [4]] * sy + t.coef[:, [5]]
    assert np.abs(dx - t.tri_dst[:, :, 0]).max() < 1e-9
    assert np.abs(dy - t.tri_dst[:, :, 1]).max() < 1e-9


def test_aft_first_match_on_vertices():
    """Mesh vertices lie on up to 6 triangles; locate() must return the
    FIRST in table order (reference linear-scan semantics)."""
    t = aft.AFT_GK_TM
    vx = t.tri_src[:, 0, 0]
    vy = t.tri_src[:, 0, 1]
    tri = t.locate(vx, vy)
    assert (tri >= 0).all()
    # every vertex resolves to the smallest containing triangle id
    for i in [0, 5, 100, 500, 880]:
        cands = np.where(
            (np.abs(t.tri_src[:, :, 0] - vx[i]) < 1e-9)
            & (np.abs(t.tri_src[:, :, 1] - vy[i]) < 1e-9))[0]
        assert tri[i] == cands.min()


def test_aft_vs_helmert_magnitude():
    tx, _, _ = aft.gk_to_tm_aft(X, Y, H)
    hx, _, _ = g.gk_to_tm(X, Y, H)
    d = np.abs(tx - hx)
    assert d.max() < 0.5  # synthetic residual field ≤ ~0.33 m


def test_geoid_bilinear_oracle():
    """Bilinear kernel vs direct NumPy oracle at 1e-12 (FIXTURES §6)."""
    r = _rng(7001)
    fi = r.uniform(45.25, 47.0, 5000)
    la = r.uniform(13.25, 16.75, 5000)
    got = geoid.geoid_height(fi, la, "slo")
    gd = geoid.GEOID_SLO
    rf = (fi - gd.lat0) / gd.dlat
    cf = (la - gd.lon0) / gd.dlon
    r0 = np.minimum(np.floor(rf).astype(int), gd.nrows - 2)
    c0 = np.minimum(np.floor(cf).astype(int), gd.ncols - 2)
    tr, tc = rf - r0, cf - c0
    exp = (gd.n[r0, c0] * (1 - tr) * (1 - tc) + gd.n[r0, c0 + 1] * (1 - tr) * tc
           + gd.n[r0 + 1, c0] * tr * (1 - tc) + gd.n[r0 + 1, c0 + 1] * tr * tc)
    np.testing.assert_allclose(got, exp, atol=1e-12)


def test_geoid_grid_nodes_and_outside():
    gd = geoid.GEOID_SLO
    lat = gd.lat0 + 5 * gd.dlat
    lon = gd.lon0 + 7 * gd.dlon
    assert abs(geoid.geoid_height([lat], [lon])[0] - gd.n[5, 7]) < 1e-9
    assert geoid.geoid_height([10.0], [100.0])[0] == 0.0
    assert 40.0 < gd.n.min() and gd.n.max() < 55.0  # Slovenia-plausible


def test_cells_roundtrip_and_parent():
    r = _rng(7002)
    fi = r.uniform(45.25, 47.0, 10000)
    la = r.uniform(13.25, 16.75, 10000)
    c7 = cells.encode(fi, la, 7)
    res, ix, iy = cells.decode(c7)
    assert (res == 7).all()
    cf, cl = cells.cell_center(c7)
    assert np.abs(cf - fi).max() < 1.75 / cells.n_cells(7)
    p = cells.parent(c7)
    c5 = cells.encode(fi, la, 5)
    np.testing.assert_array_equal(cells.parent(p), c5)


def test_cells_kring_cover():
    c = int(cells.encode(np.array([46.05]), np.array([14.5]), 7)[0])
    ring = cells.k_ring(c)
    assert len(ring) == 9 and c in ring
    cover = cells.cover_bbox(14.4, 46.0, 14.6, 46.1, 6)
    assert len(cover) > 0
    fi0, la0 = cells.cell_center(cover)
    assert (la0 > 14.3).all() and (la0 < 14.7).all()


def test_cells_sql_parity():
    """encode_sql (DuckDB) ≡ encode (NumPy) bit-for-bit."""
    r = _rng(7003)
    fi = r.uniform(45.0, 47.3, 20000)  # includes out-of-bbox clipping
    la = r.uniform(13.0, 17.0, 20000)
    con = duckdb.connect()
    con.register("pts", __import__("pandas").DataFrame({"fi": fi, "la": la}))
    got = con.execute(
        f"select {cells.encode_sql('fi', 'la', 7)} as c from pts").df()["c"].to_numpy()
    np.testing.assert_array_equal(got, cells.encode(fi, la, 7))
