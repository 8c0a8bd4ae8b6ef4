"""r6 optimization round: the Arrow ANN candidate kernel must be
bit-identical to the r5 expression formulations it replaced.

Two layers of evidence:

* fold-level — the NumPy rank-1-update fold produces the same float64s
  as a strictly sequential per-pair left fold (NumPy elementwise ops
  neither fuse nor reassociate);
* operator-level — each rewritten operator's full output equals the
  r5 join/window formulation (rebuilt here from the Catalyst dot
  expression, or the operator's DuckDB twin) on the smoke fixture.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from geocoordinateconverter_spark.operators import similarity as sim
from tests.duckdb_twin import assert_matches_twin

SF_SMOKE = "/root/testdata/sf0.001"


def _emb(spark):
    return spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")


def test_fold_dot_mat_bitwise():
    rng = np.random.default_rng(7)
    X = rng.standard_normal((37, sim.DIM)).astype(np.float32).astype(np.float64)
    Q = rng.standard_normal((11, sim.DIM)).astype(np.float32).astype(np.float64)
    S = sim._fold_dot_mat(X, Q)
    for i in range(X.shape[0]):
        for j in range(Q.shape[0]):
            acc = X[i, 0] * Q[j, 0]
            for d in range(1, sim.DIM):
                acc = acc + X[i, d] * Q[j, d]
            assert S[i, j] == acc  # bitwise: same fold order, same IEEE ops
    n2 = sim._fold_norm2_np(X)
    for i in range(X.shape[0]):
        acc = X[i, 0] * X[i, 0]
        for d in range(1, sim.DIM):
            acc = acc + X[i, d] * X[i, d]
        assert n2[i] == acc


def _legacy_brute(emb, k=5, query_filter="vec_id % 50 = 0"):
    emb_n = emb.withColumn("c_n2", sim.norm2_col("embedding"))
    q = emb_n.filter(query_filter).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb"),
        F.col("c_n2").alias("q_n2"))
    cand = (emb_n.alias("c")
            .join(F.broadcast(q), F.col("vec_id") != F.col("q_id"))
            .withColumn("dot", sim.dot_col("q_emb", "embedding"))
            .withColumn("cos", F.col("dot")
                        / F.sqrt(F.col("q_n2") * F.col("c_n2"))))
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(),
                                           F.col("vec_id").asc())
    return (cand.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= k)
            .select("q_id", "vec_id", "rk",
                    F.round("cos", 9).alias("cos_sim")))


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("qf", ["vec_id % 50 = 0", "vec_id % 37 = 1"])
def test_brute_force_kernel_equals_legacy(spark, qf):
    emb = _emb(spark)
    new = _rows(sim.brute_force_topk(emb, k=5, query_filter=qf))
    old = _rows(_legacy_brute(emb, k=5, query_filter=qf))
    assert new == old and len(new) > 0


def test_ivfpq_kernel_equals_legacy(spark):
    # the r5 form (IVF cell equi-join over the nprobe probes, ADC fold
    # per pair, window rank) is the DuckDB twin ivfpq_topk_sql
    got = sim.ivfpq_topk(_emb(spark), k=5, nprobe=3)
    assert_matches_twin(got, sim.ivfpq_topk_sql(), SF_SMOKE)


def test_token_budget_subbucket_decomposition(spark, monkeypatch):
    # the de-skewed two-level running sum must equal the single-window
    # form at a sub-bucket width small enough to split every score
    from geocoordinateconverter_spark.operators import curation as cu
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    base = _rows(cu.token_budget_select(docs))
    monkeypatch.setattr(cu, "BUDGET_SUB_WIDTH", 64)
    split = _rows(cu.token_budget_select(docs))
    assert split == base and len(base) > 0


def test_decontaminate_kernel_equals_join_form(spark):
    # the r5 broadcast-join + countDistinct form is the DuckDB twin
    from geocoordinateconverter_spark.operators import curation as cu
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    assert_matches_twin(cu.decontaminate(docs), cu.decontaminate_sql(),
                        SF_SMOKE)


def test_minhash_sig_kernel_arrow_node(spark):
    # r6 signature kernel: Arrow crossing, no per-row Python, and no
    # hash/range exchange introduced by the operator itself
    from geocoordinateconverter_spark.operators import textdedup as td
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    plan = (td.minhash_sig_array(docs)
            ._jdf.queryExecution().executedPlan().toString())
    assert "ArrowEvalPython" in plan and "BatchEvalPython" not in plan
    assert "Exchange" not in plan


def test_tile_topk_window_matches_oracle(spark):
    import __spark_entry__ as em
    from geocoordinateconverter_spark.operators import tiles as tl
    em._register(spark, SF_SMOKE)
    pts = spark.sql(f"SELECT * FROM {em.SRC_WGS_ORDERS}")
    got = tl.tile_topk_points(pts, key="k")
    assert_matches_twin(got, em.oracle_sql()["tile_topk_window"], SF_SMOKE)


def test_register_memo_is_session_scoped(spark):
    # temp views are session state: a newSession() shares the
    # applicationId but none of the views, so _register and the shared
    # band-table memo must key on the session itself (ADVICE r6 #1)
    import __spark_entry__ as em
    em._register(spark, SF_SMOKE)
    s2 = spark.newSession()
    em._register(s2, SF_SMOKE)
    for t in em.TABLES:
        assert s2.catalog.tableExists(t), t
    assert (s2.table("documents").rdd.getNumPartitions()
            == spark.sparkContext.defaultParallelism)
    pairs = em.queries()["minhash_lsh_pairs"]
    try:
        assert pairs(spark, SF_SMOKE).sparkSession is spark
        assert pairs(s2, SF_SMOKE).sparkSession is s2
    finally:
        em.clear_pair_memos()


def test_ngram_jaccard_block_join_equals_residual_form(spark):
    # block-equified candidate join must reproduce the plain
    # equi-join + residual-window pair set exactly
    from geocoordinateconverter_spark.operators import textdedup as td
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    new = _rows(td.ngram_jaccard_pairs(docs))
    ga = td._gram_arrays(docs, 3)
    g = ga.select("doc_id", F.explode("grams").alias("gram"))
    sizes = (ga.select("doc_id", F.size("grams").alias("n_grams"))
             .filter(F.col("n_grams") > 0))
    inter = (g.alias("a").join(
                 g.alias("b"),
                 (F.col("a.gram") == F.col("b.gram"))
                 & (F.col("a.doc_id") < F.col("b.doc_id"))
                 & (F.col("b.doc_id") <= F.col("a.doc_id") + 25))
             .groupBy(F.col("a.doc_id").alias("doc_a"),
                      F.col("b.doc_id").alias("doc_b"))
             .agg(F.count("*").alias("n_inter")))
    old = _rows(inter
                .join(sizes.alias("sa"), F.col("doc_a") == F.col("sa.doc_id"))
                .join(sizes.alias("sb"), F.col("doc_b") == F.col("sb.doc_id"))
                .select("doc_a", "doc_b", "n_inter",
                        (F.col("n_inter")
                         / (F.col("sa.n_grams") + F.col("sb.n_grams")
                            - F.col("n_inter"))).alias("jaccard")))
    assert new == old and len(new) > 0


def test_aft_synthetic_flag_matches_tables():
    """ADVICE r5: TABLES_SYNTHETIC is a manual flag — if the real
    aft_gktm.h/aft_tmgk.h tables are ever swapped in without flipping
    it, aft_values_sql would silently regenerate the synthetic grid
    and the oracle would validate against the wrong triangle table.
    Pin the synthetic tables' checksum to the flag: a mismatched swap
    now fails loudly here instead."""
    import hashlib
    from geocoordinateconverter_spark import aft
    if not aft.TABLES_SYNTHETIC:
        pytest.skip("real AFT tables in place; flag correctly flipped")
    sums = {}
    for name, t in (("gk_tm", aft.AFT_GK_TM), ("tm_gk", aft.AFT_TM_GK)):
        h = hashlib.md5()
        for k in ("tri_src", "tri_dst", "coef"):
            h.update(np.ascontiguousarray(getattr(t, k),
                                          np.float64).tobytes())
        sums[name] = h.hexdigest()
    assert sums == {"gk_tm": "b506fb730e1adff8c9f9bcd95825211f",
                    "tm_gk": "d3440775687a514e0f291cf5bec3d021"}, (
        "AFT tables do not match the synthetic regular-grid derivation "
        "but TABLES_SYNTHETIC is still True — flip it (tools/reanchor.py)")


def test_kernel_invariant_to_partitioning(spark):
    # per-task preselection must not leak into the result: 1 partition
    # vs many partitions produce identical rows
    emb = _emb(spark)
    one = _rows(sim.ivf_nprobe_topk(emb.coalesce(1), k=5))
    many = _rows(sim.ivf_nprobe_topk(emb.repartition(13), k=5))
    assert one == many and len(one) > 0
