"""Z-order layout tests: key arithmetic is gate-oracled; these prove
the CLAIM the layout exists for — clustered files carry tight footer
min/max boxes a reader can prune on — by inspecting real parquet
footers, against an unclustered write as the control."""

from __future__ import annotations

import glob
import tempfile

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from geocoordinateconverter_spark.operators import layout as lo

N_FILES = 8


def _points(spark, n=4000):
    # uniform over the working bbox plus the generators' 60% hot zone
    k = spark.range(n).withColumnRenamed("id", "k")
    u1 = (F.col("k") * 2654435761 % 1048576) / 1048576.0
    u2 = (F.col("k") * 1597334677 % 1048576) / 1048576.0
    hot = F.col("k") % 10 < 6
    return k.select(
        "k",
        F.when(hot, 46.00 + 0.11 * u1)
        .otherwise(lo.FI_MIN + lo.FI_SPAN * u1).alias("fi"),
        F.when(hot, 14.44 + 0.14 * u2)
        .otherwise(lo.LA_MIN + lo.LA_SPAN * u2).alias("la"))


def _file_bbox_areas(path):
    areas = []
    for f in glob.glob(f"{path}/part-*.parquet"):
        md = pq.ParquetFile(f).metadata
        lo_fi = hi_fi = lo_la = hi_la = None
        for rg in range(md.num_row_groups):
            row = md.row_group(rg)
            cols = {row.column(c).path_in_schema: row.column(c).statistics
                    for c in range(row.num_columns)}
            s_fi, s_la = cols["fi"], cols["la"]
            lo_fi = s_fi.min if lo_fi is None else min(lo_fi, s_fi.min)
            hi_fi = s_fi.max if hi_fi is None else max(hi_fi, s_fi.max)
            lo_la = s_la.min if lo_la is None else min(lo_la, s_la.min)
            hi_la = s_la.max if hi_la is None else max(hi_la, s_la.max)
        areas.append((hi_fi - lo_fi) * (hi_la - lo_la))
    return areas


def test_zorder_write_files_have_tight_bboxes(spark):
    pts = _points(spark)
    global_area = lo.FI_SPAN * lo.LA_SPAN
    with tempfile.TemporaryDirectory(prefix="zorder_") as base:
        zpath, rpath = f"{base}/z", f"{base}/r"
        lo.zorder_write(pts, zpath)
        # control: hash-scattered layout (what a plain shuffle write does)
        pts.repartition(N_FILES, "k").write.parquet(rpath)
        z_areas = _file_bbox_areas(zpath)
        r_areas = _file_bbox_areas(rpath)
        assert len(z_areas) == N_FILES
        # every scattered file spans ~the whole bbox
        assert min(r_areas) > 0.8 * global_area
        # clustered files are dramatically tighter in aggregate...
        assert sum(z_areas) < 0.5 * sum(r_areas)
        # ...and a hot-zone query (the 60% cluster) could skip most
        # files entirely on footer stats
        hot = [a for a in z_areas if a < 0.05 * global_area]
        assert len(hot) >= N_FILES // 4


def test_zorder_key_locality(spark):
    # Morton property: points in the same small spatial cell share the
    # high key bits — nearby points land in the same file bucket
    out = lo.zorder_keys(_points(spark, 1000)).collect()
    assert len({r.file_id for r in out}) == N_FILES
    zmax = (1 << (2 * lo.Z_BITS)) - 1
    assert all(0 <= r.zkey <= zmax for r in out)
