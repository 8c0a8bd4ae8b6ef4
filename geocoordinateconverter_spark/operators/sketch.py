"""Count-min sketch heavy hitters — the mergeable-sketch operator of
the corpus layer (round brief: custom operators include "a novel
sketch"; CMS is the canonical frequency sketch for heavy-hitter
detection over unbounded token streams).

Why a sketch at 10¹² docs: an exact token-frequency groupBy shuffles
the full vocabulary (web-scale: ~10⁹⁺ distinct tokens).  The CMS
replaces that with a FIXED d×w integer state: every task folds its
token stream into its own d×w grid map-side, and the shuffle moves at
most d·w partial rows per task regardless of vocabulary size — the
textbook mergeability argument, visible in the plan as partial_sum
before one tiny Exchange.

Determinism: the d hash rows are the repo's standard 60-bit md5 carve
(``conv(substring(md5('r<i>:' || tok), 1, 15), 16, 10) % w``) — pure
integer arithmetic both engines reproduce bit-for-bit, so estimates
(and the CMS guarantee est ≥ exact) carry a FULL DuckDB oracle.  The
small ``w`` makes collisions (overcount > 0) actually visible in the
fixture output — the demonstration is honest, not tuned away.

The heavy-hitter report counts tokens exactly, attaches each token's
estimate by broadcast lookup and keeps est ≥ threshold, so the
overcount of every reported token is visible.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

CMS_D = 4          # hash rows
CMS_W = 64         # buckets per row
CMS_THRESHOLD = 60  # heavy-hitter cutoff on the ESTIMATE


def _bucket_col(i: int, tok) -> "F.Column":
    """Row-seeded bucket via the repo-standard 60-bit md5 carve
    (textdedup.hash60_col — ONE carve definition repo-wide)."""
    from .textdedup import hash60_col
    return hash60_col(F.concat(F.lit(f"r{i}:"), tok)) % CMS_W


def _bucket_duck(i: int, tok_expr: str) -> str:
    """DuckDB twin (textdedup.hash60_sql, same single definition)."""
    from .textdedup import hash60_sql
    seeded = f"concat('r{i}:', {tok_expr})"
    return f"{hash60_sql(seeded)} % {CMS_W}"


def cms_heavy_hitters(docs: DataFrame, d: int = CMS_D,
                      threshold: int = CMS_THRESHOLD,
                      cache: list | None = None) -> DataFrame:
    """(token, est_n, exact_n, overcount) for every token whose CMS
    estimate reaches ``threshold``; est_n = min over the d row
    counters, overcount = est_n - exact_n ≥ 0 (the CMS guarantee,
    asserted in pytest).

    The tokenize pass feeds BOTH the grid build (collected eagerly)
    and the exact-count report side.  Pass a ``cache`` list (simhash
    contract) to persist the token stream across the two: the persist
    is appended for the CALLER to unpersist — never leaked into a
    long-lived session by default."""
    from .textdedup import tokens
    toks = tokens(docs).select("tok")
    if cache is not None:
        toks = toks.persist()
        cache.append(toks)
    # sketch build: explode d seeded rows, ONE shuffle of ≤ d·w
    # partials per task (map-side combine does the compression)
    rows = F.explode(F.array(*[F.lit(i) for i in range(d)])).alias("i")
    bucket = F.lit(None).cast("bigint")
    for i in range(d):
        bucket = F.when(F.col("i") == i,
                        _bucket_col(i, F.col("tok"))).otherwise(bucket)
    grid = (toks.select("tok", rows)
            .select("i", bucket.alias("bucket"))
            .groupBy("i", "bucket").agg(F.count("*").alias("c")))
    # estimate: d broadcast lookups against the ≤ d·w-row grid.
    # The grid is COLLECTED once (≤ d·w tiny rows — the sketch state
    # itself): filtering the lazy `grid` per row i would re-execute
    # the full token-stream lineage d times (the exact recompute
    # class the _PAIRS_MEMO fix closed for minhash).
    spark = docs.sparkSession
    grid_rows = grid.collect()
    out = toks.groupBy("tok").agg(F.count("*").alias("exact_n"))
    for i in range(d):
        g = spark.createDataFrame(
            [(int(r.bucket), int(r.c)) for r in grid_rows if r.i == i],
            f"b{i} bigint, c{i} bigint")
        out = (out.withColumn(f"b{i}", _bucket_col(i, F.col("tok")))
               .join(F.broadcast(g), f"b{i}").drop(f"b{i}"))
    return (out.withColumn("est_n",
                           F.least(*[F.col(f"c{i}") for i in range(d)]))
            .filter(F.col("est_n") >= threshold)
            .select(F.col("tok").alias("token"), "est_n", "exact_n",
                    (F.col("est_n") - F.col("exact_n")).alias("overcount")))


def cms_heavy_hitters_sql(d: int = CMS_D,
                          threshold: int = CMS_THRESHOLD) -> str:
    from .textdedup import TOKENS_SQL
    grid_arms = " UNION ALL ".join(
        f"SELECT {i} AS i, {_bucket_duck(i, 'tok')} AS bucket FROM toks"
        for i in range(d))
    joins = " ".join(
        f"JOIN grid g{i} ON g{i}.i = {i} "
        f"AND g{i}.bucket = {_bucket_duck(i, 'e.tok')}"
        for i in range(d))
    least = ", ".join(f"g{i}.c" for i in range(d))
    return f"""
WITH toks AS (SELECT tok FROM {TOKENS_SQL} t),
grid AS (
  SELECT i, bucket, count(*) AS c FROM ({grid_arms}) q
  GROUP BY i, bucket),
exact AS (SELECT tok, count(*) AS exact_n FROM toks GROUP BY tok)
SELECT e.tok AS token, least({least}) AS est_n, e.exact_n AS exact_n,
       least({least}) - e.exact_n AS overcount
FROM exact e {joins}
WHERE least({least}) >= {threshold}
"""
