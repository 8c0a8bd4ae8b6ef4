"""Z-order (Morton) spatial layout for scan pruning.

At 100 TB the fastest operator is the scan you skip: parquet/lakehouse
readers prune files and row groups on footer min/max statistics, but
those statistics are only selective if rows that are CLOSE IN SPACE
are close in the file.  Writing point data ordered by a Z-order key —
the bit-interleave of the two quantized coordinates — gives every
file a tight spatial bounding box, so a bbox predicate (the PIP/tile
workloads' shape) prunes most of the corpus at the footer level
before a single row is read.  This is the layout story behind
Delta/Iceberg ``OPTIMIZE ZORDER BY``; here it is a plain column +
``repartitionByRange(zkey).sortWithinPartitions(zkey)`` write, which
is all those systems do underneath.

The key is pure integer codegen (quantize → 16+16 bit interleave as
an unrolled 32-term sum with literal power-of-two multipliers — no
variable shifts, so the same expression runs verbatim in DuckDB), and
the operator is a zero-shuffle map; the WRITE pays one range
partition, which is the point of the exercise.

Quantization clamps to the working bbox (the engine's Slovenia-window
convention, geodesy.BBOX): out-of-bbox rows land on the key-space
edges and cluster together, preserving pruning for the in-bbox bulk.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

Z_BITS = 16          # per-dimension quantization (32-bit combined key)
Z_FILES = 8          # files (key ranges) of the clustered layout

# working bbox — matches functions/sqlgen.py's point generators
FI_MIN, FI_SPAN = 45.25, 1.75
LA_MIN, LA_SPAN = 13.25, 3.5


def _quant_sql(col: str, lo: float, span: float) -> str:
    """0 .. 2^Z_BITS-1 integer grid index, clamped to the bbox."""
    n = 1 << Z_BITS
    return (f"least({n - 1}, greatest(0, cast(floor((({col}) - {lo!r}e0) "
            f"/ {span!r}e0 * {n}.0e0) as bigint)))")


def zorder_key_sql(fi: str, la: str) -> str:
    """Morton interleave: fi bit i → position 2i, la bit i → 2i+1.
    Unrolled with literal multipliers (4^i, 2·4^i) — dialect-neutral,
    no variable shifts."""
    xq, yq = _quant_sql(fi, FI_MIN, FI_SPAN), _quant_sql(la, LA_MIN, LA_SPAN)
    # (x & 2^i) is 2^i when bit i is set; × 2^i lands it on position
    # 2i (value 4^i), and the la bit gets one more doubling for 2i+1 —
    # `&` with literal masks is the dialect-neutral interleave (DuckDB
    # has no DIV, Spark no //)
    terms = []
    for i in range(Z_BITS):
        terms.append(f"(({xq}) & {1 << i}) * {1 << i}")
        terms.append(f"(({yq}) & {1 << i}) * {1 << (i + 1)}")
    return "(" + " + ".join(terms) + ")"


def zorder_key_col(fi: str, la: str) -> Column:
    return F.expr(zorder_key_sql(fi, la))


def zorder_keys(points: DataFrame) -> DataFrame:
    """(k, zkey, file_id): the layout assignment a Z-ordered write
    would produce — file_id is the equi-depth key-range bucket, i.e.
    repartitionByRange(Z_FILES, zkey) with deterministic quantile
    boundaries (ntile over zkey order, ties broken by k so the
    assignment is total and oracle-reproducible)."""
    from pyspark.sql import Window
    d = points.select("k",
                      zorder_key_col("fi", "la").alias("zkey"))
    w = Window.orderBy("zkey", "k")
    return (d.withColumn("file_id", F.ntile(Z_FILES).over(w))
            .select("k", "zkey", F.col("file_id").cast("int").alias("file_id")))


def zorder_keys_sql(points_sql: str) -> str:
    zk = zorder_key_sql("fi", "la")
    return f"""
SELECT k, zkey, cast(ntile({Z_FILES}) OVER (ORDER BY zkey, k) as int)
         AS file_id
FROM (SELECT k, {zk} AS zkey FROM {points_sql} qp) qz
"""


def zorder_write(points: DataFrame, path: str) -> None:
    """The actual clustered write: range-partition on zkey, sort
    within partitions, one parquet file per range — every file footer
    then carries a tight (fi, la) min/max box."""
    d = points.withColumn("zkey", zorder_key_col("fi", "la"))
    (d.repartitionByRange(Z_FILES, "zkey")
     .sortWithinPartitions("zkey")
     .write.mode("overwrite").parquet(path))
