"""Host-graph PageRank — the iterative-dataflow operator of the corpus
layer (web-curation pipelines rank hosts/pages by link authority before
sampling; cf. Common-Crawl's harmonic-centrality host ranks).

Determinism design (same family as the fixed-point int64 Lloyd kmeans
in similarity.py): float PageRank is unusable as a driver-gate query —
``sum()`` over float contributions is shuffle-order-dependent and the
5-iteration recurrence amplifies ulp noise — so ranks are int64
FIXED-POINT (scale 10¹²).  Every step is integer arithmetic:

    contrib(e)  = pr[src] div outdeg[src]          (truncating int div)
    pr'[v]      = base + (85 · Σ contrib) div 100  (damping 0.85)
    base        = (15 · S) div (100 · N)

Integer sums are associative, so Spark's partial aggregation order
cannot change the result; DuckDB reproduces the recurrence exactly
(``//`` ≡ ``div`` for the non-negative values here; the hugeint sum is
cast back to bigint).  Dangling-node mass is dropped (sink-loss
variant) — identically in both engines.

Graph: nodes 0..N_HOSTS-1; edges derived from the orders table by
integer mixing (src = o_orderkey % N, dst = (31·o_orderkey +
o_custkey) % N, self-loops dropped, DISTINCT) — the deterministic
stand-in for a crawl's host→host link table.

Scale shape at 10¹² docs: outdeg and each iteration are
groupBy/join on the node key; the edge table pre-partitions by ``src``
once and every iteration reuses that partitioning (one Exchange total
on the edge side), while the rank table (|V| rows, ≪ |E|) broadcasts.
Iterations are driver-side loop unrolling — 5 fixed rounds, no
convergence test, so the plan is static and checkpointable between
rounds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

N_HOSTS = 97
SCALE = 10**12
N_ITER = 5
DAMP_NUM, DAMP_DEN = 85, 100


def host_edges(orders: DataFrame) -> DataFrame:
    """Deterministic DISTINCT (src, dst) host-link table."""
    e = orders.select(
        (F.col("o_orderkey") % N_HOSTS).cast("long").alias("src"),
        ((F.lit(31) * F.col("o_orderkey") + F.col("o_custkey"))
         % N_HOSTS).cast("long").alias("dst"))
    return e.filter(F.col("src") != F.col("dst")).distinct()


def pagerank_hosts(orders: DataFrame, spark: SparkSession,
                   n_iter: int = N_ITER) -> DataFrame:
    """(node, pr, outdeg) after ``n_iter`` fixed-point iterations.
    pr is the int64 rank ×10¹²; outdeg 0 marks dangling nodes.  The
    per-iteration rank table (N_HOSTS rows) is broadcast to the
    src-partitioned edge table."""
    edges = host_edges(orders)
    outdeg = edges.groupBy("src").agg(F.count("*").alias("outdeg"))
    nodes = spark.range(N_HOSTS).select(F.col("id").alias("node"))
    base = (15 * SCALE) // (100 * N_HOSTS)
    pr = nodes.withColumn("pr", F.lit(SCALE // N_HOSTS))
    # edge side: one partitioning by src, reused every round
    esrc = edges.join(outdeg, "src").repartition("src")
    for _ in range(n_iter):
        contrib = (esrc.join(F.broadcast(pr),
                             esrc["src"] == pr["node"])
                   .select("dst", F.expr("pr div outdeg").alias("c"))
                   .groupBy("dst").agg(F.sum("c").alias("s")))
        pr = (nodes.join(contrib, nodes["node"] == contrib["dst"], "left")
              .select("node",
                      (F.lit(base)
                       + F.expr(f"({DAMP_NUM} * coalesce(s, 0"
                               f"L)) div {DAMP_DEN}")).alias("pr")))
    return (pr.join(outdeg, pr["node"] == outdeg["src"], "left")
            .select("node", "pr",
                    F.coalesce("outdeg", F.lit(0)).alias("outdeg")))


def pagerank_hosts_sql(n_iter: int = N_ITER) -> str:
    base = (15 * SCALE) // (100 * N_HOSTS)
    ctes = [f"""
edges AS (
  SELECT DISTINCT cast(o_orderkey % {N_HOSTS} as bigint) AS src,
         cast((31 * o_orderkey + o_custkey) % {N_HOSTS} as bigint) AS dst
  FROM orders
  WHERE o_orderkey % {N_HOSTS}
        <> (31 * o_orderkey + o_custkey) % {N_HOSTS}),
outdeg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
nodes AS (SELECT cast(range as bigint) AS node FROM range({N_HOSTS})),
pr0 AS (SELECT node, cast({SCALE // N_HOSTS} as bigint) AS pr
        FROM nodes)"""]
    for i in range(1, n_iter + 1):
        ctes.append(f"""
pr{i} AS (
  SELECT n.node,
         cast({base} + ({DAMP_NUM} * coalesce(s.s, 0)) // {DAMP_DEN}
              as bigint) AS pr
  FROM nodes n LEFT JOIN (
    SELECT e.dst, cast(sum(p.pr // d.outdeg) as bigint) AS s
    FROM edges e
    JOIN pr{i - 1} p ON p.node = e.src
    JOIN outdeg d ON d.src = e.src
    GROUP BY e.dst) s ON n.node = s.dst)""")
    joined = ",".join(ctes)
    return f"""
WITH {joined}
SELECT p.node, p.pr, cast(coalesce(d.outdeg, 0) as bigint) AS outdeg
FROM pr{n_iter} p LEFT JOIN outdeg d ON d.src = p.node
"""
