"""Geometry (vertex-array) conversion — the ``gk-shp`` analogue.

The reference's second binary (``gk-shp.c`` + vendored shapelib —
SURVEY.md §3.1 S5/S6, §4.2) converts shapefiles vertex-by-vertex with
attributes passed through.  The Spark-native equivalent stores geometry
as WKT string columns (SURVEY.md §2.2 "shapefile in/out" row) and
re-expresses the per-vertex loop as: parse → ``posexplode`` vertices →
batch-convert through the same chain kernels → re-assemble WKT in
vertex order.  Attributes ride along untouched (gk-shp's DBF
passthrough ≙ untouched columns).

Everything except the chain kernel is Catalyst built-ins; vertex order
is preserved via the explode index, so output WKT is deterministic.
The whole flow is SQL-mirrorable (DuckDB twin below) — number
formatting uses ``printf('%.3f')`` (mm), the reference's projected
output precision (SURVEY.md §3.1 S4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..kernels import transform_udf

def wkt_vertices(df: DataFrame, geom_id: str = "geom_id",
                 wkt: str = "wkt") -> DataFrame:
    """POLYGON/LINESTRING WKT → one row per vertex (geom_id, idx, x, y).
    Pure built-ins: regex strip → split on ', ' → posexplode → split."""
    body = F.regexp_replace(F.col(wkt), r"^[A-Z]+ ?\(+|\)+$", "")
    parts = F.split(body, ", ")
    return (df.select(geom_id, F.posexplode(parts).alias("idx", "pair"))
            .withColumn("vx", F.split("pair", " ")[0].cast("double"))
            .withColumn("vy", F.split("pair", " ")[1].cast("double"))
            .drop("pair"))


def convert_geometry(df: DataFrame, t: int = 9, geom_id: str = "geom_id",
                     wkt: str = "wkt", geom_type: str = "POLYGON") -> DataFrame:
    """WKT geometry column → converted WKT via chain ``t`` applied to
    every vertex (gk-shp.c per-vertex loop, batched).  Vertex columns
    are (x, y) in the chain's projected input convention."""
    verts = wkt_vertices(df, geom_id, wkt)
    udf = transform_udf(t)
    conv = verts.withColumn(
        "o", udf(F.col("vx"), F.col("vy"), F.lit(0.0)))
    o1, o2 = ("o.fi", "o.la") if t in (1, 3, 7) else ("o.x", "o.y")
    fmt = "%.8f %.8f" if t in (1, 3, 7) else "%.3f %.3f"
    pair = F.format_string(fmt, F.col(o1), F.col(o2))
    assembled = (conv
                 .groupBy(geom_id)
                 .agg(F.concat_ws(", ", F.array_sort(F.collect_list(
                     F.struct(F.col("idx"), pair.alias("p")))).getField("p"))
                     .alias("body")))
    return assembled.select(
        geom_id,
        F.concat(F.lit(f"{geom_type} (("), F.col("body"), F.lit("))"))
        .alias("wkt_out"))


def polygon_area_centroid(verts: DataFrame, n_verts: int,
                          geom_id: str = "geom_id", vid: str = "vid",
                          x: str = "x", y: str = "y") -> DataFrame:
    """Shoelace area + centroid per polygon from a vertex table (the
    standard per-geometry measures a tiling engine reports next to
    converted geometry).

    DETERMINISTIC form: vertices are pivoted to columns (max-of-one
    per (geom, vid) — exact), then area/centroid are a single fixed
    left-associated codegen expression, so the float operation order is
    identical on every run AND identical to the SQL oracle (a
    groupBy-sum of edge terms reorders float adds with the partition
    layout — measured 1-in-100 last-digit flips at 3 dp).  Signed area:
    positive = counter-clockwise."""
    piv = verts.groupBy(geom_id).agg(
        *[F.max(F.when(F.col(vid) == i, F.col(c))).alias(f"{c}{i}")
          for i in range(n_verts) for c in (x, y)])
    cross = [F.col(f"{x}{i}") * F.col(f"{y}{(i + 1) % n_verts}")
             - F.col(f"{x}{(i + 1) % n_verts}") * F.col(f"{y}{i}")
             for i in range(n_verts)]
    s2 = cross[0]
    sx = (F.col(f"{x}0") + F.col(f"{x}{1 % n_verts}")) * cross[0]
    sy = (F.col(f"{y}0") + F.col(f"{y}{1 % n_verts}")) * cross[0]
    for i in range(1, n_verts):
        j = (i + 1) % n_verts
        s2 = s2 + cross[i]
        sx = sx + (F.col(f"{x}{i}") + F.col(f"{x}{j}")) * cross[i]
        sy = sy + (F.col(f"{y}{i}") + F.col(f"{y}{j}")) * cross[i]
    # degenerate (self-cancelling) polygons have signed area exactly 0
    # → centroid undefined: emit NULL, matching DuckDB's NULL-on-/0
    # double semantics, instead of an ANSI DIVIDE_BY_ZERO crash
    # (found by the sf0.1 sweep — one pentagon in 1000 cancels exactly).
    # Outputs are RAW doubles: the fixed expression tree is bit-
    # identical in both engines, and round() is NOT (Java rounds the
    # shortest decimal repr HALF_UP, C rounds the exact binary —
    # measured one 3-dp flip in 1000 at sf0.1), so rounding would
    # INTRODUCE divergence rather than absorb any.
    cx = F.when(s2 != 0.0, sx / (3.0 * s2))
    cy = F.when(s2 != 0.0, sy / (3.0 * s2))
    return piv.select(
        F.col(geom_id),
        (s2 / 2.0).alias("area"),
        cx.alias("cx"), cy.alias("cy"))


def polygon_area_centroid_sql(src: str, n_verts: int) -> str:
    """DuckDB twin over the same bare vertex subquery (geom_id, vid,
    x, y) — same pivot, same left-associated term order."""
    piv_cols = ", ".join(
        f"max(case when vid = {i} then {c} end) AS {c}{i}"
        for i in range(n_verts) for c in ("x", "y"))

    def cr(i: int) -> str:
        j = (i + 1) % n_verts
        return f"(x{i} * y{j} - x{j} * y{i})"

    s2 = " + ".join(cr(i) for i in range(n_verts))
    sx = " + ".join(f"(x{i} + x{(i + 1) % n_verts}) * {cr(i)}"
                    for i in range(n_verts))
    sy = " + ".join(f"(y{i} + y{(i + 1) % n_verts}) * {cr(i)}"
                    for i in range(n_verts))
    return f"""
SELECT geom_id, ({s2}) / 2.0e0 AS area,
       case when ({s2}) <> 0.0e0
            then ({sx}) / (3.0e0 * ({s2})) end AS cx,
       case when ({s2}) <> 0.0e0
            then ({sy}) / (3.0e0 * ({s2})) end AS cy
FROM (SELECT geom_id, {piv_cols} FROM {src} q_av GROUP BY geom_id) q_piv
"""


def convert_geometry_oracle_sql(src: str, t_sql_fn, geom_id: str = "geom_id",
                                geom_type: str = "POLYGON",
                                fmt: str = "%.3f %.3f",
                                out_cols: tuple[str, str] = ("x", "y")) -> str:
    """DuckDB twin: split WKT → per-vertex chain SQL → ordered
    string_agg.  ``t_sql_fn`` is a sqlgen chain generator whose input
    subquery must expose columns (``{geom_id}, idx, x, y, h``)."""
    verts = f"""
(SELECT {geom_id}, idx - 1 AS idx,
        cast(string_split(pair, ' ')[1] as double) AS x,
        cast(string_split(pair, ' ')[2] as double) AS y,
        0.0e0 AS h
 FROM (
   SELECT {geom_id},
          unnest(string_split(regexp_replace(regexp_replace(wkt,
                 '^[A-Z]+ ?\\(+', ''), '\\)+$', ''), ', ')) AS pair,
          generate_subscripts(string_split(regexp_replace(regexp_replace(wkt,
                 '^[A-Z]+ ?\\(+', ''), '\\)+$', ''), ', '), 1) AS idx
   FROM {src}) q_u)
"""
    chain = t_sql_fn(verts, f"{geom_id}, idx")
    a, b = out_cols
    return f"""
SELECT {geom_id},
       concat('{geom_type} ((',
              string_agg(printf('{fmt}', {a}, {b}), ', ' ORDER BY idx),
              '))') AS wkt_out
FROM ({chain}) q_conv GROUP BY {geom_id}
"""
