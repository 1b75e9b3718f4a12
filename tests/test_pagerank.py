"""DataFrame PageRank vs the numpy Family-A oracle — the Spark analogue of
the reference's differential test (compare_vectors at abs 1e-6,
/root/reference/helpers/helper.h:30-38, called from main.c:40,109-112)."""

import numpy as np
import pytest

from linkgraph.operators.pagerank import pagerank_dataframe, top_k
from linkgraph.oracle import pagerank_family_a
from tests import conftest as fx


def run_both(spark, src, dst, n, **kw):
    df = fx.edges_df(spark, src, dst)
    res = pagerank_dataframe(df, **kw)
    got = {r["node"]: r["rank"] for r in res.ranks.collect()}
    oracle, oiters = pagerank_family_a(src, dst, n, **kw)
    # engine's vertex set is edge-derived: compare on nodes present in edges
    present = sorted(set(src.tolist()) | set(dst.tolist()))
    got_v = np.array([got[i] for i in present])
    oracle_v = oracle[present]
    return got_v, oracle_v, res, oiters


@pytest.mark.parametrize(
    "fixture",
    [fx.toy_chain_dangling, fx.toy_cycle, fx.two_components, fx.multi_edge, fx.karate_club],
)
def test_matches_oracle(spark, fixture):
    src, dst, n = fixture()
    got, oracle, res, oiters = run_both(spark, src, dst, n, eps=1e-9, max_iter=300)
    assert np.allclose(got, oracle, atol=1e-6, rtol=0)
    assert res.iterations == oiters  # identical convergence trajectory
    assert abs(sum(got) - 1.0) < 1e-9  # mass conserved (Family-A invariant)


def test_multi_edge_semantics(spark):
    """Duplicated (u,v) contributes twice — reference keeps multi-edges
    (helpers/file_helper.h:74-83); self-loops kept too."""
    src, dst, n = fx.multi_edge()
    got, oracle, _, _ = run_both(spark, src, dst, n, eps=1e-10, max_iter=500)
    assert np.allclose(got, oracle, atol=1e-8, rtol=0)
    # deduped graph would give a different vector — prove we didn't dedupe
    ded = {(int(a), int(b)) for a, b in zip(src, dst)}
    s2 = np.array([e[0] for e in sorted(ded)])
    d2 = np.array([e[1] for e in sorted(ded)])
    oracle_dedup, _ = pagerank_family_a(s2, d2, n, eps=1e-10, max_iter=500)
    assert not np.allclose(got, oracle_dedup, atol=1e-6, rtol=0)


def test_star_hub(spark):
    src, dst, n = fx.star_hub(500)
    got, oracle, _, _ = run_both(spark, src, dst, n, eps=1e-9, max_iter=300)
    assert np.allclose(got, oracle, atol=1e-6, rtol=0)


def test_norm_monotone_and_convergence(spark):
    src, dst, n = fx.karate_club()
    df = fx.edges_df(spark, src, dst)
    res = pagerank_dataframe(df, eps=1e-8, max_iter=200)
    assert res.converged
    norms = [m["norm"] for m in res.iter_metrics]
    assert all(b <= a * 1.0001 for a, b in zip(norms, norms[1:]))  # monotone ↓
    masses = [m["mass"] for m in res.iter_metrics]
    assert all(abs(m - 1.0) < 1e-9 for m in masses)


def test_partition_count_invariance(spark):
    """Determinism across physical partitionings (SURVEY §5): 2 vs 32
    shuffle partitions must agree to 1e-6."""
    src, dst, n = fx.karate_club()
    df = fx.edges_df(spark, src, dst)
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "2")
        r2 = {r["node"]: r["rank"] for r in pagerank_dataframe(df, eps=1e-9).ranks.collect()}
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        r32 = {r["node"]: r["rank"] for r in pagerank_dataframe(df, eps=1e-9).ranks.collect()}
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    a = np.array([r2[k] for k in sorted(r2)])
    b = np.array([r32[k] for k in sorted(r32)])
    assert np.allclose(a, b, atol=1e-6, rtol=0)


def test_top_k_ordering(spark):
    src, dst, n = fx.karate_club()
    df = fx.edges_df(spark, src, dst)
    res = pagerank_dataframe(df, eps=1e-9)
    rows = top_k(res.ranks, 5).collect()
    oracle, _ = pagerank_family_a(src, dst, n, eps=1e-9)
    expect = sorted(range(n), key=lambda i: (-oracle[i], i))[:5]
    assert [r["node"] for r in rows] == expect


def test_family_b_matches_its_oracle_and_differs_from_a(spark):
    """Family-B (mtx/OCL semantics: no in-loop dangling redistribution,
    final sum-normalization — pagerank_OCL.h:156-161,
    kernels/sparse_matrix.cl:8-18) must match the Family-B numpy oracle and
    DIFFER from Family A on a dangling graph under the reference's own
    production config — FIXED iteration count, convergence check off
    (global_config.h:8-10). The comparison runs mid-transient on purpose:
    at FULL convergence the normalized Family-B fixed point provably
    satisfies the Family-A fixed-point equation (sum both sides: the
    normalization constant absorbs the leaked mass), so the converged
    vectors coincide — the families only disagree while mass is still
    leaking, which is the regime the reference actually ships
    (SURVEY §2.8; the families are never cross-compared there,
    main_ocl.c:113-117)."""
    from linkgraph.oracle import pagerank_family_b

    src, dst, n = fx.toy_chain_dangling()
    df = fx.edges_df(spark, src, dst)
    iters = 12
    res_b = pagerank_dataframe(df, max_iter=iters, check_convergence=False, family="b")
    got_b = {r["node"]: r["rank"] for r in res_b.ranks.collect()}
    oracle_b, _ = pagerank_family_b(src, dst, n, eps=0.0, max_iter=iters)
    present = sorted(set(src.tolist()) | set(dst.tolist()))
    assert np.allclose(
        np.array([got_b[i] for i in present]), oracle_b[present], atol=1e-6, rtol=0
    )
    # normalized: Family-B output sums to 1 after the final division
    assert abs(sum(got_b.values()) - 1.0) < 1e-9
    # and the two families disagree mid-transient on this dangling fixture
    oracle_a, _ = pagerank_family_a(src, dst, n, eps=0.0, max_iter=iters)
    assert not np.allclose(oracle_a[present], oracle_b[present], atol=1e-6, rtol=0)
    # ... while the CONVERGED vectors coincide (the identity argued above)
    conv_a, _ = pagerank_family_a(src, dst, n, eps=1e-13, max_iter=2000)
    conv_b, _ = pagerank_family_b(src, dst, n, eps=1e-13, max_iter=2000)
    assert np.allclose(conv_a, conv_b, atol=1e-9, rtol=0)


def test_family_b_equals_a_on_dangling_free_graph(spark):
    """With no dangling vertices, Family B's leak is zero and its final
    normalization is a no-op — the two families converge to the same vector
    (sanity pin for the family flag)."""
    from linkgraph.oracle import pagerank_family_b

    src, dst, n = fx.toy_cycle()
    oracle_a, _ = pagerank_family_a(src, dst, n, eps=1e-12, max_iter=500)
    oracle_b, _ = pagerank_family_b(src, dst, n, eps=1e-12, max_iter=500)
    assert np.allclose(oracle_a, oracle_b, atol=1e-9, rtol=0)


def _weighted_numpy_oracle(edges_w, nodes, d=0.85, k=5):
    """Family-A PageRank with explicit weights: P(src->dst) = w / sum_out w."""
    nodes = sorted(nodes)
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    out_w = np.zeros(n)
    for s, t, w in edges_w:
        out_w[idx[s]] += w
    rank = np.full(n, 1.0 / n)
    dang = out_w == 0
    for _ in range(k):
        leaked = rank[dang].sum()
        base = (leaked + (1 - leaked) * (1 - d)) / n
        new = np.full(n, base)
        for s, t, w in edges_w:
            new[idx[t]] += d * rank[idx[s]] * w / out_w[idx[s]]
        rank = new
    return {v: rank[idx[v]] for v in nodes}


def test_weighted_matches_numpy_oracle(spark):
    edges_w = [
        (1, 2, 3.0), (1, 3, 1.0),      # 1 splits 75/25
        (2, 3, 2.0), (3, 1, 5.0),
        (3, 4, 1.0),                    # 4 dangling
    ]
    df = spark.createDataFrame(edges_w, "src long, dst long, weight double")
    res = pagerank_dataframe(df, weight_col="weight", max_iter=5, check_convergence=False)
    got = {r["node"]: r["rank"] for r in res.ranks.collect()}
    want = _weighted_numpy_oracle(edges_w, got.keys())
    assert got.keys() == want.keys()
    assert all(abs(got[v] - want[v]) < 1e-12 for v in got)
    # mass conservation (Family A redistributes dangling mass)
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_weighted_equal_weights_match_unweighted(spark):
    src, dst, n = fx.karate_club()
    pairs = sorted(set(zip(src.tolist(), dst.tolist())))  # distinct edges
    dfw = spark.createDataFrame(
        [(s, t, 7.5) for s, t in pairs], "src long, dst long, weight double"
    )
    dfu = spark.createDataFrame(pairs, "src long, dst long")
    rw = pagerank_dataframe(dfw, weight_col="weight", eps=1e-10, max_iter=300)
    ru = pagerank_dataframe(dfu, eps=1e-10, max_iter=300)
    gw = {r["node"]: r["rank"] for r in rw.ranks.collect()}
    gu = {r["node"]: r["rank"] for r in ru.ranks.collect()}
    assert rw.iterations == ru.iterations
    assert all(abs(gw[v] - gu[v]) < 1e-12 for v in gw)


def test_weighted_runs_on_every_strategy(spark):
    """Round 4 removed the weighted->dataframe forcing: the per-edge weight
    column carries w/Σw through the CSR kernel, so the barrier gang
    accepts weight_col and agrees with the dataframe plan (the strategy
    equality suite lives in test_pagerank_sharded.py)."""
    from pyspark.sql import functions as F

    from linkgraph.operators.pagerank import pagerank

    src, dst, n = fx.toy_cycle()
    df = fx.edges_df(spark, src, dst).withColumn("weight", F.lit(1.0))
    res_b = pagerank(df, strategy="barrier", weight_col="weight", eps=1e-8)
    assert res_b.strategy == "barrier"
    res = pagerank(df, strategy="auto", weight_col="weight", eps=1e-8)
    assert res.strategy == "barrier"
    got_b = {r["node"]: r["rank"] for r in res_b.ranks.collect()}
    got = {r["node"]: r["rank"] for r in res.ranks.collect()}
    want = {
        r["node"]: r["rank"]
        for r in pagerank_dataframe(df, weight_col="weight", eps=1e-8).ranks.collect()
    }
    assert all(abs(got[k] - want[k]) < 1e-6 for k in want)
    assert all(abs(got_b[k] - want[k]) < 1e-6 for k in want)


def test_weighted_nonpositive_out_weight_raises(spark):
    df = spark.createDataFrame(
        [(1, 2, 1.0), (2, 3, 0.0)], "src long, dst long, weight double"
    )
    with pytest.raises(Exception, match="non-positive total out-weight"):
        pagerank_dataframe(
            df, weight_col="weight", max_iter=2, check_convergence=False
        ).ranks.collect()
