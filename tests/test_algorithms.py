"""Components / LPA / triangles — EXACT assignment tests (north rule:
'component/label assignments exactly'; triangle counts exact integers)."""

import numpy as np
import pytest

from linkgraph import oracle
from linkgraph.operators.components import connected_components
from linkgraph.operators.lpa import label_propagation
from linkgraph.operators.triangles import triangle_count, triangles_per_vertex
from tests import conftest as fx


@pytest.mark.parametrize(
    "fixture", [fx.toy_chain_dangling, fx.two_components, fx.karate_club, fx.multi_edge]
)
def test_components_exact(spark, fixture):
    src, dst, n = fixture()
    df = fx.edges_df(spark, src, dst)
    res = connected_components(df)
    got = {r["node"]: r["component"] for r in res.components.collect()}
    want = oracle.connected_components(src, dst, n)
    present = sorted(set(src.tolist()) | set(dst.tolist()))
    assert {i: got[i] for i in present} == {i: int(want[i]) for i in present}


@pytest.mark.parametrize(
    "fixture", [fx.toy_chain_dangling, fx.two_components, fx.karate_club, fx.multi_edge]
)
def test_components_twophase_exact(spark, fixture):
    """Large-star/small-star must equal the union-find oracle exactly —
    and therefore the min-label algorithm — on every fixture."""
    from linkgraph.operators.components import connected_components_twophase

    src, dst, n = fixture()
    df = fx.edges_df(spark, src, dst)
    res = connected_components_twophase(df)
    got = {r["node"]: r["component"] for r in res.components.collect()}
    want = oracle.connected_components(src, dst, n)
    present = sorted(set(src.tolist()) | set(dst.tolist()))
    assert {i: got[i] for i in present} == {i: int(want[i]) for i in present}


def test_components_twophase_star_hub(spark):
    """Hub fixture: converges in few rounds (the O(log n) property's point)."""
    from linkgraph.operators.components import connected_components_twophase

    src, dst, n = fx.star_hub(500)
    res = connected_components_twophase(fx.edges_df(spark, src, dst))
    comps = {r["component"] for r in res.components.collect()}
    assert comps == {0}  # one component rooted at min id
    assert res.iterations <= 5


def test_components_converged_flag(spark):
    src, dst, n = fx.two_components()
    res = connected_components(fx.edges_df(spark, src, dst))
    assert res.iter_metrics[-1]["changed"] == 0  # true fixpoint reached
    assert res.components.select("component").distinct().count() == 2


@pytest.mark.parametrize("fixture", [fx.two_components, fx.karate_club, fx.multi_edge])
def test_lpa_exact(spark, fixture):
    src, dst, n = fixture()
    df = fx.edges_df(spark, src, dst)
    res = label_propagation(df, max_iter=10)
    got = {r["node"]: r["label"] for r in res.labels.collect()}
    want = oracle.label_propagation(src, dst, n, max_iter=10)
    present = sorted(set(src.tolist()) | set(dst.tolist()))
    assert {i: got[i] for i in present} == {i: int(want[i]) for i in present}


def test_triangles_karate(spark):
    src, dst, n = fx.karate_club()
    df = fx.edges_df(spark, src, dst)
    assert triangle_count(df) == 45  # known ground truth for karate club


def test_triangles_multi_edge_and_self_loop(spark):
    """multi-edges/self-loops must not inflate counts: fixture graph
    0-1, 0-2, 1-2 (plus dupes + self-loop) has exactly one triangle."""
    src, dst, n = fx.multi_edge()
    df = fx.edges_df(spark, src, dst)
    assert triangle_count(df) == 1
    per_v = {r["node"]: r["triangles"] for r in triangles_per_vertex(df).collect()}
    assert per_v == {0: 1, 1: 1, 2: 1}


def test_triangles_oracle_parity(spark):
    src, dst, n = fx.karate_club()
    assert triangle_count(fx.edges_df(spark, src, dst)) == oracle.triangle_count(src, dst, n)


def test_triangle_count_releases_its_cache(spark):
    """triangle_count caches the oriented edge table for its self-joins;
    the number of persisted tables must be unchanged across a call."""
    src, dst, n = fx.karate_club()
    df = fx.edges_df(spark, src, dst)
    persisted = spark.sparkContext._jsc.getPersistentRDDs
    before = persisted().size()
    assert triangle_count(df) == 45
    assert persisted().size() == before


def test_triangles_none(spark):
    src, dst, n = fx.toy_chain_dangling()
    assert triangle_count(fx.edges_df(spark, src, dst)) == 0


# ---- seeded (clamped) label propagation ----

def _slpa_python(src, dst, seeds, max_iter):
    """Replica of seeded_label_propagation: NULL start, labeled-neighbor
    mode with (count desc, label asc) ties, clamped seeds."""
    nbrs = {}
    nodes = set()
    for u, v in zip(src, dst):
        nodes.update((u, v))
        if u != v:
            nbrs.setdefault(u, set()).add(v)
            nbrs.setdefault(v, set()).add(u)
    lab = {v: seeds.get(v) for v in nodes}
    for _ in range(max_iter):
        new = {}
        for v in nodes:
            if v in seeds:
                new[v] = seeds[v]
                continue
            cnt = {}
            for u in nbrs.get(v, ()):
                if lab[u] is not None:
                    cnt[lab[u]] = cnt.get(lab[u], 0) + 1
            if cnt:
                new[v] = min(cnt, key=lambda c: (-cnt[c], c))
            else:
                new[v] = lab[v]
        if new == lab:
            break
        lab = new
    return lab


def test_seeded_lpa_karate_factions(spark):
    from linkgraph.operators.lpa import seeded_label_propagation

    src, dst, n = fx.karate_club()
    df = fx.edges_df(spark, src, dst)
    seeds = spark.createDataFrame(
        [(0, "mr_hi"), (33, "officer")], "node long, label string"
    )
    res = seeded_label_propagation(df, seeds, max_iter=10)
    got = {r["node"]: r["label"] for r in res.labels.collect()}
    want = _slpa_python(src, dst, {0: "mr_hi", 33: "officer"}, 10)
    assert got == want
    # clamps hold; every vertex reachable from a seed is labeled
    assert got[0] == "mr_hi" and got[33] == "officer"
    assert all(v is not None for v in got.values())  # karate is connected
    assert set(got.values()) == {"mr_hi", "officer"}


def test_seeded_lpa_unreachable_stays_null_and_deterministic(spark):
    from linkgraph.operators.lpa import seeded_label_propagation

    # path 0-1-2 seeded at 0; disconnected pair 5-6 has no seed
    df = fx.edges_df(spark, [0, 1, 5], [1, 2, 6])
    seeds = spark.createDataFrame([(0, "a")], "node long, label string")
    res = seeded_label_propagation(df, seeds, max_iter=5)
    got = {r["node"]: r["label"] for r in res.labels.collect()}
    assert got == {0: "a", 1: "a", 2: "a", 5: None, 6: None}
    again = {
        r["node"]: r["label"]
        for r in seeded_label_propagation(
            df.repartition(7), seeds, max_iter=5
        ).labels.collect()
    }
    assert again == got


# ---- DOULION edge-sampled triangle estimate ----

def test_doulion_exact_at_p1_and_replica_at_half(spark):
    import hashlib

    from linkgraph.operators.sampling import hex_cutoff
    from linkgraph.operators.triangles import (
        triangle_count,
        triangle_count_doulion,
    )

    src, dst, n = fx.karate_club()
    df = fx.edges_df(spark, src, dst)
    exact = triangle_count(df)  # karate golden: 45
    row = triangle_count_doulion(df, p=1.0).collect()[0]
    assert row["sampled_triangles"] == exact == 45
    assert row["triangle_estimate"] == float(exact)

    # p=0.5: python md5 twin of the keep rule -> exact expected estimate
    def kept(a, b, p=0.5, salt="doulion"):
        a, b = min(int(a), int(b)), max(int(a), int(b))
        return (
            hashlib.md5(f"{a}|{b}|{salt}".encode()).hexdigest()[:8]
            < hex_cutoff(p)
        )

    und = {(min(a, b), max(a, b)) for a, b in zip(src, dst) if a != b}
    kept_edges = {e for e in und if kept(*e)}
    tri = sum(
        1
        for a, b in kept_edges
        for c in range(n)
        if c > b
        and (min(a, c), max(a, c)) in kept_edges
        and (min(b, c), max(b, c)) in kept_edges
    )
    row = triangle_count_doulion(df, p=0.5).collect()[0]
    assert row["kept_edges"] == len(kept_edges)
    assert row["sampled_triangles"] == tri
    assert row["triangle_estimate"] == pytest.approx(tri / 0.125, abs=1e-6)
    # deterministic under repartition
    again = triangle_count_doulion(df.repartition(9), p=0.5).collect()[0]
    assert tuple(again) == tuple(row)
