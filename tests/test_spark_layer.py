"""Spark-layer tests: Arrow-crossing parity, join-operator equivalence,
plan-shape audits, and rerun determinism (SURVEY.md §6.2 items 3/5)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from geocoordinateconverter_spark import cells, kernels
from geocoordinateconverter_spark import geodesy as g
from geocoordinateconverter_spark.operators import knn as knn_op
from geocoordinateconverter_spark.operators import pip as pip_op
from tests.duckdb_twin import assert_matches_twin

N = 5000
rng = np.random.default_rng(11)
FI = rng.uniform(45.25, 47.0, N)
LA = rng.uniform(13.25, 16.75, N)
H = rng.uniform(0, 2000, N)


@pytest.fixture(scope="module")
def pts_df(spark):
    pdf = pd.DataFrame({"k": np.arange(N), "fi": FI, "la": LA, "h": H})
    return spark.createDataFrame(pdf)


def test_udf_bitwise_parity(spark, pts_df):
    """pandas-UDF output ≡ pure-NumPy kernel output bitwise — the
    Arrow crossing changes nothing (SURVEY.md §6.2 item 3)."""
    t4 = kernels.transform_udf(4)
    out = (pts_df.withColumn("o", t4(F.col("fi"), F.col("la"), F.col("h")))
           .select("k", "o.*").toPandas().sort_values("k"))
    ex, ey, eh = g.wgs84_to_gk(FI, LA, H)
    np.testing.assert_array_equal(out["x"].to_numpy(), ex)
    np.testing.assert_array_equal(out["y"].to_numpy(), ey)
    np.testing.assert_array_equal(out["h"].to_numpy(), eh)


def test_cell_col_matches_numpy(spark, pts_df):
    got = (pts_df.withColumn("c", kernels.cell_col(F.col("fi"), F.col("la"), 7))
           .select("k", "c").toPandas().sort_values("k"))
    np.testing.assert_array_equal(got["c"].to_numpy(), cells.encode(FI, LA, 7))


def test_no_row_python_in_plan(spark, pts_df):
    """input_hint hard ban: only ArrowEvalPython may appear, never
    BatchEvalPython (SURVEY.md §8 watch-list item b)."""
    t3 = kernels.transform_udf(3)
    df = pts_df.withColumn("o", t3(F.col("fi"), F.col("la"), F.col("h")))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan


def test_pip_plan_is_broadcast(spark, pts_df):
    """PIP prefilter must be a broadcast hash join — no shuffle of the
    point side, no BroadcastNestedLoopJoin (SURVEY.md §5.2 item 3).  Its
    refine is codegen: over WGS points the join adds no Python crossing
    and no Exchange, and the flagship (t3 → PIP) has exactly one."""
    out = pip_op.pip_join(pts_df, spark)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "ArrowEvalPython" not in plan
    assert plan.count("Exchange") == plan.count("BroadcastExchange") == 1
    t3 = kernels.transform_udf(3)
    conv = (pts_df.withColumn("o", t3(F.col("fi"), F.col("la"), F.col("h")))
            .select("k", F.col("o.fi").alias("fi"), F.col("o.la").alias("la"),
                    F.col("o.h").alias("h")))
    flagship = pip_op.pip_join(conv, spark)
    assert flagship._jdf.queryExecution().executedPlan().toString().count(
        "ArrowEvalPython") == 1


def test_pip_vs_numpy_oracle(spark, pts_df):
    """Engine two-phase PIP ≡ brute-force NumPy even-odd over all
    polygons (FIXTURES.md §4 oracle)."""
    got = (pip_op.pip_join(pts_df, spark).select("k", "mun_id").toPandas())
    got_set = set(map(tuple, got.to_numpy()))
    polys = pip_op.municipality_polygons(20)
    exp = set()
    for m in range(20):
        vx, vy = polys[m, :, 0], polys[m, :, 1]
        inside = np.zeros(N, dtype=bool)
        nv = len(vx)
        for v in range(nv):
            w = (v + 1) % nv
            crosses = (vy[v] > FI) != (vy[w] > FI)
            with np.errstate(divide="ignore", invalid="ignore"):
                xint = (vx[w] - vx[v]) * (FI - vy[v]) / (vy[w] - vy[v]) + vx[v]
            inside ^= crosses & (LA < xint)
        for k in np.where(inside)[0]:
            exp.add((k, m))
    assert got_set == exp


def test_raycast_concave_polygon(spark):
    """The PRODUCT refine (pip.raycast_sql, codegen against the vertex
    columns carried in the broadcast row) is a general even-odd ray
    cast: verify it on a concave (arrow-head) polygon where half-plane
    / convex-only tests would fail.  The fixture municipalities are all
    convex, so the concave behavior is otherwise untested.  The
    degenerate repeated vertices give horizontal zero-length edges,
    whose division the crossing test must skip under ANSI mode."""
    poly = np.array([[0.0, 0.0], [4.0, 0.0], [4.0, 4.0], [2.0, 1.5],
                     [0.0, 4.0], [0.0, 0.0], [0.0, 0.0], [0.0, 0.0]])
    # degenerate repeated vertices are fine for even-odd
    px = [2.0, 2.0, 0.5, 2.5]
    py = [0.5, 3.0, 0.5, 2.5]   # (2,3) and (2.5,2.5) in the notch → outside
    df = spark.createDataFrame(
        [(x, y, *poly.ravel().tolist()) for x, y in zip(px, py)],
        "px double, py double, "
        + ", ".join(f"{c} double" for c in pip_op.VERTEX_COLS))
    got = [r.inside for r in
           df.select(F.expr(pip_op.raycast_sql("px", "py", pip_op.VERTS))
                     .alias("inside")).collect()]
    assert got == [True, False, True, False]


def test_knn_methods_agree(spark, pts_df):
    """The zero-shuffle kernel ≡ the brute-force cross-join + window
    DuckDB twin row-for-row, with bit-identical dist2 (same IEEE op
    sequence)."""
    got = (knn_op.knn_join(pts_df, spark, key="k", k=3)
           .select("k", "station_id", "dist2", "rk"))
    assert_matches_twin(got, knn_op.knn_oracle_sql("pts", "k"),
                        {"pts": pts_df}, min_rows=N * 3)


def test_radius_join_methods_agree(spark, pts_df):
    """The cell-pruned equi-join ≡ the unpruned cross-join DuckDB twin
    row-for-row with bit-identical dist2; out-of-bbox rows take the
    exact fallback; NULL-coordinate rows are excluded."""
    extra = spark.createDataFrame(
        [(90001, 48.5, 15.0, 100.0),       # out of bbox (north)
         (90002, None, 14.5, 100.0)],      # NULL fi → excluded
        "k long, fi double, la double, h double")
    pts = pts_df.unionByName(extra)
    a = assert_matches_twin(
        knn_op.radius_join(pts, spark).select("k", "station_id", "dist2"),
        knn_op.radius_oracle_sql("pts", "k"), {"pts": pts})
    assert 90002 not in set(a["k"])
    # every emitted pair satisfies the predicate; brute-force recount
    pos = knn_op.station_positions()
    d2 = ((FI[:, None] - pos[None, :, 0]) ** 2
          + (knn_op.LA_FACTOR * (LA[:, None] - pos[None, :, 1])) ** 2)
    exp_in = int((d2 <= knn_op.RADIUS_DEFAULT ** 2).sum())
    n_oob = int(len(a[a["k"] == 90001]))
    assert len(a) == exp_in + n_oob


def test_cli_api_parity(spark, pts_df):
    """api.convert: -r recovers the unswapped result bitwise; extra
    columns pass through; -dms matches the shared DMS arithmetic."""
    from geocoordinateconverter_spark import api
    src = pts_df.limit(100).withColumn("label", F.concat(F.lit("pt"), "k"))
    plain = api.convert(src, t=2).toPandas().sort_values("k")
    swapped = src.select("k", "label", F.col("la").alias("c1"),
                         F.col("fi").alias("c2"), "h")
    rev = api.convert(swapped, t=2, reverse=True,
                      cols=("c1", "c2", "h")).toPandas().sort_values("k")
    np.testing.assert_array_equal(plain["x_out"].to_numpy(),
                                  rev["x_out"].to_numpy())
    assert (plain["label"].to_numpy() == rev["label"].to_numpy()).all()  # passthrough survives -r
    # dms twin: api._dms_col ≡ the SQL formatter used by dms_format
    import __spark_entry__ as em
    wgs = src.select("k", "fi")
    a = wgs.withColumn("dms", api._dms_col(F.col("fi"))) \
        .select("k", "dms").toPandas().sort_values("k")
    wgs.createOrReplaceTempView("dms_twin_src")
    b = spark.sql(f"SELECT k, {em.DMS_FMT_SQL} AS dms FROM dms_twin_src") \
        .toPandas().sort_values("k")
    assert list(a["dms"]) == list(b["dms"])
    # -x self-test: every frozen golden row agrees
    st = api.self_test(spark).toPandas()
    from geocoordinateconverter_spark import goldens
    assert len(st) == sum(len(v) for v in goldens.EXPECTED.values())


def test_height_mode_wrapper(spark, pts_df):
    """A6 selector semantics: hc copies input h bitwise; ht equals the
    bare chain; hg shifts by the geoid undulation; projected↔projected
    chains reject hg (no geographic endpoint at the wrapper)."""
    import pytest as _pytest

    from geocoordinateconverter_spark import kernels as k
    src = pts_df.limit(200)
    bare = src.withColumn("o", k.transform_udf(2)(
        F.col("fi"), F.col("la"), F.col("h"))).select("k", "o.*").toPandas()
    for mode, expect in (("hc", "input"), ("ht", "chain")):
        got = src.withColumn("o", k.transform_udf(2, mode)(
            F.col("fi"), F.col("la"), F.col("h"))) \
            .select("k", "o.*").toPandas()
        ref = (src.select("k", "h").toPandas() if expect == "input"
               else bare[["k", "h"]])
        a = got.sort_values("k")["h"].to_numpy()
        b = ref.sort_values("k")["h"].to_numpy()
        np.testing.assert_array_equal(a, b)
    hg = src.withColumn("o", k.transform_udf(2, "hg")(
        F.col("fi"), F.col("la"), F.col("h"))).select("k", "o.*").toPandas()
    assert not np.array_equal(hg.sort_values("k")["h"].to_numpy(),
                              bare.sort_values("k")["h"].to_numpy())
    assert k.HEIGHT_MODE_DEFAULTS[3] == "ht"
    with _pytest.raises(ValueError, match="geographic endpoint"):
        k.transform_udf(5, "hg")


def test_knn_kernel_plan_has_no_exchange(spark, pts_df):
    """the kernel path must be a pure map: no Exchange in the plan."""
    df = knn_op.knn_join(pts_df, spark, key="k", k=3)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "ArrowEvalPython" in plan


def test_knn_vs_numpy_bruteforce(spark, pts_df):
    got = (knn_op.knn_join(pts_df, spark, key="k", k=3)
           .select("k", "station_id", "rk").toPandas()
           .sort_values(["k", "rk"]))
    pos = knn_op.station_positions()
    d2 = (FI[:, None] - pos[None, :, 0]) ** 2 \
        + (knn_op.LA_FACTOR * (LA[:, None] - pos[None, :, 1])) ** 2
    order = np.lexsort((np.broadcast_to(np.arange(25), d2.shape), d2), axis=1)
    exp = order[:, :3]
    np.testing.assert_array_equal(
        got["station_id"].to_numpy().reshape(N, 3), exp)


def test_rerun_and_partitioning_determinism(spark, pts_df):
    """north_star: identical join output rows & tile assignments across
    reruns and partition layouts."""
    def tiles(df):
        t3 = kernels.transform_udf(4)
        return (df.withColumn("o", t3(F.col("fi"), F.col("la"), F.col("h")))
                .withColumn("cell", kernels.cell_col(F.col("fi"), F.col("la"), 7))
                .groupBy("cell").agg(F.count("*").alias("n"))
                .toPandas().sort_values("cell").reset_index(drop=True))
    a = tiles(pts_df)
    b = tiles(pts_df.repartition(17))
    pd.testing.assert_frame_equal(a, b)


def test_bbox_join_cover_equals_bruteforce(spark):
    """Spatial-hash cover path ≡ broadcast brute force on adversarial
    rectangles: many-cell spans, slivers, grid-edge clamps, and a
    rectangle fully outside every municipality."""
    from geocoordinateconverter_spark.operators import bboxjoin as bj
    crafted = [
        (1, 13.5, 45.3, 16.5, 46.9),     # spans nearly the whole grid
        (2, 14.5, 46.0, 14.5001, 46.8),  # vertical sliver
        (3, 13.2501, 45.2501, 13.26, 45.26),  # hugs the grid corner
        (4, 16.74, 46.99, 16.7499, 46.9999),  # far corner, likely no hits
        (5, 14.0, 46.2, 14.6, 46.21),    # horizontal sliver
    ]
    pdf = spark.createDataFrame(
        crafted, "k long, pxmin double, pymin double, "
                 "pxmax double, pymax double")
    got = (bj.bbox_intersects_join(pdf, spark).toPandas()
           .sort_values(["k", "mun_id"]).reset_index(drop=True))
    mun = spark.createDataFrame(
        bj.mun_bbox_rows(), "mun_id int, mxmin double, mymin double, "
                              "mxmax double, mymax double")
    ox = F.least("pxmax", "mxmax") - F.greatest("pxmin", "mxmin")
    oy = F.least("pymax", "mymax") - F.greatest("pymin", "mymin")
    brute = (pdf.join(F.broadcast(mun))
             .withColumn("ox", ox).withColumn("oy", oy)
             .filter((F.col("ox") > 0) & (F.col("oy") > 0))
             .select("k", "mun_id", "ox", "oy").toPandas()
             .sort_values(["k", "mun_id"]).reset_index(drop=True))
    pd.testing.assert_frame_equal(got, brute)  # exact, incl. extents
    assert len(brute) > 5                      # non-trivial fixture
