"""Shard-kernel PageRank (both physical strategies over ShardedGraph) must
be allclose-1e-6 identical to the numpy oracle and the DataFrame path on
every fixture — the Spark analogue of the reference racing serial vs OMP vs
OCL vs MPI implementations and comparing at 1e-6
(/root/reference/main.c:109-112, main_mpi.c:142-150).

The exhaustive fixture sweep runs on ``pagerank_barrier`` (whole loop in one
barrier stage — cheap per fixture); the equivalence, salting, metrics and
resume tests below pin the same gang on prebuilt layouts.
"""

import hashlib
import os

import numpy as np
import pyarrow.parquet as pq
import pytest

from linkgraph.operators.pagerank import pagerank_dataframe
from linkgraph.oracle import pagerank_family_a
from linkgraph.plans.barrier import pagerank_barrier
from linkgraph.plans import shards
from linkgraph.plans.shards import ShardedGraph, load_csr_shard
from tests import conftest as fx


def _vec(res):
    d = {r["node"]: r["rank"] for r in res.ranks.collect()}
    return np.array([d[k] for k in sorted(d)])


def _layout_digest(shard_dir):
    """{part id: sha256 prefix of the part's rows, lexsorted by (dst, src, w)}."""
    out = {}
    for d in os.listdir(shard_dir):
        if not d.startswith("part="):
            continue
        t = pq.read_table(os.path.join(shard_dir, d))
        cols = [t.column(c).to_numpy().astype(np.int64) for c in ("dst_idx", "src_idx")]
        if "w" in t.column_names:
            cols.append(t.column("w").to_numpy().astype(np.float64))
        order = np.lexsort(cols[::-1])
        h = hashlib.sha256()
        for c in cols:
            h.update(np.ascontiguousarray(c[order]).tobytes())
        out[int(d.split("=")[1])] = h.hexdigest()[:16]
    return out


@pytest.mark.parametrize(
    "fixture",
    [fx.toy_chain_dangling, fx.toy_cycle, fx.two_components, fx.multi_edge, fx.karate_club],
)
def test_barrier_matches_oracle(spark, fixture):
    src, dst, n = fixture()
    df = fx.edges_df(spark, src, dst)
    res = pagerank_barrier(df, eps=1e-9, max_iter=300, num_tasks=4)
    got = {r["node"]: r["rank"] for r in res.ranks.collect()}
    oracle, oiters = pagerank_family_a(src, dst, n, eps=1e-9, max_iter=300)
    present = sorted(set(src.tolist()) | set(dst.tolist()))
    assert np.allclose(
        np.array([got[i] for i in present]), oracle[present], atol=1e-6, rtol=0
    )
    assert res.iterations == oiters


def test_sharded_matches_oracle(spark):
    src, dst, n = fx.karate_club()
    df = fx.edges_df(spark, src, dst)
    res = pagerank_barrier(df, eps=1e-9, max_iter=300, num_shards=3)
    got = {r["node"]: r["rank"] for r in res.ranks.collect()}
    oracle, oiters = pagerank_family_a(src, dst, n, eps=1e-9, max_iter=300)
    present = sorted(set(src.tolist()) | set(dst.tolist()))
    assert np.allclose(
        np.array([got[i] for i in present]), oracle[present], atol=1e-6, rtol=0
    )
    assert res.iterations == oiters


def test_star_hub_salting_matches_unsalted(spark, monkeypatch):
    """FIXTURES §F3 star_hub: with a tiny hub threshold the hub's in-edges
    are salted across shards; result must equal the unsalted run (1e-6)."""
    src, dst, n = fx.star_hub(2000)
    df = fx.edges_df(spark, src, dst)
    with monkeypatch.context() as mp:
        mp.setattr(shards, "_HUB_SALT_FACTOR", 0.05)
        g_salted = ShardedGraph.build(df, num_shards=4)
    assert g_salted.hub_count >= 1  # the hub actually got split
    salted = pagerank_barrier(df, eps=1e-8, sharded_graph=g_salted)
    unsalted = pagerank_barrier(df, eps=1e-8, num_shards=1, num_tasks=1)
    assert np.allclose(_vec(salted), _vec(unsalted), atol=1e-6, rtol=0)
    g_salted.unpersist()


def test_sharded_and_barrier_equal_dataframe_path(spark):
    src, dst, n = fx.karate_club()
    df = fx.edges_df(spark, src, dst)
    g = ShardedGraph.build(df, num_shards=4)
    a = pagerank_barrier(df, eps=1e-8, sharded_graph=g)
    c = pagerank_barrier(df, eps=1e-8, sharded_graph=g, num_tasks=3)
    b = pagerank_dataframe(df, eps=1e-8)
    assert np.allclose(_vec(a), _vec(b), atol=1e-6, rtol=0)
    assert np.allclose(_vec(c), _vec(b), atol=1e-6, rtol=0)
    assert a.iterations == b.iterations == c.iterations
    g.unpersist()


def test_shard_and_task_count_invariance(spark):
    """Determinism across physical parallelism (the reference gets this free
    from serial execution; we must assert it — SURVEY §5)."""
    src, dst, n = fx.karate_club()
    df = fx.edges_df(spark, src, dst)
    r1 = pagerank_barrier(df, eps=1e-9, num_shards=1, num_tasks=1)
    r8 = pagerank_barrier(df, eps=1e-9, num_shards=8, num_tasks=4)
    assert np.allclose(_vec(r1), _vec(r8), atol=1e-6, rtol=0)


def test_shard_layout_reload(spark, tmp_path):
    """A built shard layout is a reusable artifact: load() must reproduce
    the build's state and yield identical PageRank (bench runs share one
    build across parallelism levels this way)."""
    src, dst, n = fx.karate_club()
    df = fx.edges_df(spark, src, dst)
    sd = str(tmp_path / "shards")
    g = ShardedGraph.build(df, num_shards=3, shard_dir=sd)
    a = pagerank_barrier(df, eps=1e-8, sharded_graph=g, num_tasks=3)
    g.unpersist()  # keeps the dir: caller-provided shard_dir is not owned
    g2 = ShardedGraph.load(spark, sd)
    assert (g2.n, g2.m, g2.num_shards) == (g.n, g.m, g.num_shards)
    assert np.array_equal(g2.node_ids, g.node_ids)
    assert np.array_equal(g2.inv_od, g.inv_od)
    b = pagerank_barrier(df, eps=1e-8, sharded_graph=g2, num_tasks=2)
    assert np.allclose(_vec(a), _vec(b), atol=1e-9, rtol=0)
    g2.unpersist()


# (n, m, hub_count, hub_threshold) and {part id: _layout_digest}: any
# change to the vertex index, the bucket boundaries (exact in-degree CDF),
# the hub salts or the per-edge rows changes them.
_LAYOUT_PINS = {
    "karate": (
        (34, 156, 0, 39),
        {0: "b6c0d72bbe80dfe3", 1: "f0b2e35688a0ef7b", 2: "b97cfeea12b50f69",
         3: "0165b86d1a02e74f", 4: "947e48a45e4b6289", 5: "fbc99e68662add73",
         6: "0e5bd429b92a858b"},
    ),
    "star_hub": (
        (2001, 2001, 1, 25),
        {7: "4cbbd8ca5215b8d1", 8: "115eff896c5b157e", 9: "063f50911f138c5a",
         10: "c8850900b3a29395", 11: "311ca0ecf693a4f3"},
    ),
    "karate_weighted": (
        (34, 156, 0, 39),
        {0: "3798f7fc2e5e6379", 1: "7fc97378f66bc62f", 2: "1e9b3dec781c00b2",
         3: "3c32fcbb004e312f", 4: "b7ebaa2f7a5c8ea4", 5: "1c0dfb50cbcae402",
         6: "eaa62e2c66131d4d"},
    ),
}


@pytest.mark.parametrize("case", sorted(_LAYOUT_PINS))
def test_layout_pinned(spark, monkeypatch, case):
    """Bucket boundaries (exact in-degree CDF), hub salts and per-part rows
    are pinned on three fixtures, salted and weighted included."""
    if case == "star_hub":
        src, dst, _ = fx.star_hub(2000)
        df, kw = fx.edges_df(spark, src, dst), {}
        monkeypatch.setattr(shards, "_HUB_SALT_FACTOR", 0.05)
    else:
        src, dst, _ = fx.karate_club()
        if case == "karate":
            df, kw = fx.edges_df(spark, src, dst), {}
        else:
            df, kw = _weighted_df(spark, src, dst), dict(weight_col="wt")
    g = ShardedGraph.build(df, num_shards=4, **kw)
    try:
        stats, digests = _LAYOUT_PINS[case]
        assert (g.n, g.m, g.hub_count, g.hub_threshold) == stats
        assert _layout_digest(g.shard_dir) == digests
    finally:
        g.unpersist()


def test_parts_are_written_in_csr_order(spark, monkeypatch):
    """Every part file of a hub-salted and of a weighted build holds its
    rows sorted by (dst_idx, src_idx): the gang decodes them without a
    sort."""
    src, dst, _ = fx.star_hub(2000)
    with monkeypatch.context() as mp:
        mp.setattr(shards, "_HUB_SALT_FACTOR", 0.05)
        salted = ShardedGraph.build(fx.edges_df(spark, src, dst), num_shards=4)
    ksrc, kdst, _ = fx.karate_club()
    weighted = ShardedGraph.build(
        _weighted_df(spark, ksrc, kdst), num_shards=4, weight_col="wt"
    )
    try:
        assert salted.hub_count >= 1 and weighted.weighted
        for g in (salted, weighted):
            for _part, path in g.parts:
                files = [f for f in os.listdir(path) if f.endswith(".parquet")]
                assert files
                for f in files:
                    t = pq.read_table(os.path.join(path, f))
                    d = t.column("dst_idx").to_numpy().astype(np.int64)
                    s = t.column("src_idx").to_numpy().astype(np.int64)
                    order = np.lexsort((s, d))
                    assert np.array_equal(order, np.arange(len(d))), (path, f)
    finally:
        salted.unpersist()
        weighted.unpersist()


def test_unsorted_shard_is_refused(tmp_path):
    """A part whose dst_idx is not non-decreasing (a layout written before
    the build sorted its parts) raises instead of decoding wrong segments."""
    import pyarrow as pa

    part = tmp_path / "part=0"
    part.mkdir()
    pq.write_table(
        pa.table({"src_idx": np.array([0, 1, 2], np.int32),
                  "dst_idx": np.array([1, 0, 1], np.int32)}),
        str(part / "part-0.parquet"),
    )
    with pytest.raises(ValueError, match="not sorted by dst_idx"):
        load_csr_shard(str(part))


def test_build_keeps_session_shuffle_partitions(spark):
    """A build that picks its own shard count leaves the session's
    spark.sql.shuffle.partitions as the caller set it."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    src, dst, n = fx.karate_club()
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        g = ShardedGraph.build(fx.edges_df(spark, src, dst))
        g.unpersist()
        assert spark.conf.get("spark.sql.shuffle.partitions") == "7"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_rebuild_into_same_shard_dir(spark, tmp_path):
    """Rebuilding a different graph into the same caller-given shard_dir
    within one app must solve the NEW layout: nothing of the previous
    build's decoded shards is served again."""
    sd = str(tmp_path / "shards")
    src, dst, n = fx.karate_club()
    df_a = fx.edges_df(spark, src, dst)
    keep = np.arange(len(src)) % 3 != 0  # B: a third of A's edges dropped
    df_b = fx.edges_df(spark, src[keep], dst[keep])
    g_a = ShardedGraph.build(df_a, num_shards=3, shard_dir=sd)
    pagerank_barrier(sharded_graph=g_a, eps=1e-9, max_iter=300, num_tasks=3)
    g_b = ShardedGraph.build(df_b, num_shards=3, shard_dir=sd)
    got = pagerank_barrier(sharded_graph=g_b, eps=1e-9, max_iter=300, num_tasks=3)
    want = pagerank_dataframe(df_b, eps=1e-9, max_iter=300)
    assert np.allclose(_vec(got), _vec(want), atol=1e-9, rtol=0)
    g_b.unpersist()


def test_build_releases_what_it_persists(spark):
    src, dst, n = fx.karate_club()
    df = fx.edges_df(spark, src, dst)
    # ids, not a count: the context cleaner may release an earlier test's
    # RDD while the build runs
    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    before = persisted()
    g = ShardedGraph.build(df, num_shards=4)
    g.unpersist()
    assert persisted() <= before


def test_build_job_bound(spark):
    """The build is one collected degree aggregation plus one write
    pipeline: a small, fixed number of Spark jobs."""
    src, dst, n = fx.karate_club()
    df = fx.edges_df(spark, src, dst)
    sc = spark.sparkContext
    sc.setJobGroup("test-build-jobs", "ShardedGraph.build")
    try:
        g = ShardedGraph.build(df, num_shards=4)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup("test-build-jobs")
    g.unpersist()
    assert len(jobs) <= 12, f"{len(jobs)} jobs"


def test_per_partition_metrics_lineage(spark, tmp_path):
    from linkgraph.checkpoint import ParquetManifestStore

    src, dst, n = fx.karate_club()
    df = fx.edges_df(spark, src, dst)
    store = ParquetManifestStore(str(tmp_path / "ckpt"))
    res = pagerank_barrier(df, eps=1e-6, max_iter=5, num_shards=3, store=store, run_id="m")
    pm = store.read_metrics(spark, "m")
    assert pm is not None
    rows = pm.collect()
    # every iteration logged per-partition nnz summing to the edge count
    iters = {r["iteration"] for r in rows}
    assert iters == set(range(1, res.iterations + 1))
    by_iter = {}
    for r in rows:
        by_iter.setdefault(r["iteration"], 0)
        by_iter[r["iteration"]] += r["nnz"]
    assert all(v == len(src) for v in by_iter.values())


def test_resume_sharded(spark, tmp_path):
    from linkgraph.checkpoint import ParquetManifestStore

    src, dst, n = fx.karate_club()
    df = fx.edges_df(spark, src, dst)
    store = ParquetManifestStore(str(tmp_path / "ckpt"))
    full = pagerank_barrier(df, eps=1e-9)
    half = pagerank_barrier(
        df, eps=1e-9, max_iter=6, store=store, run_id="r", num_shards=2
    )
    assert store.latest_iteration("r") == half.iterations == 6
    resumed = pagerank_barrier(
        df, eps=1e-9, max_iter=300, store=store, run_id="r", num_shards=2
    )
    assert np.allclose(_vec(full), _vec(resumed), atol=1e-9, rtol=0)
    assert resumed.iterations == full.iterations


def test_resume_barrier(spark, tmp_path):
    """Barrier engine checkpoints executor-side (task 0, pyarrow) in the
    ParquetManifestStore layout; a later run resumes mid-convergence."""
    from linkgraph.checkpoint import ParquetManifestStore

    src, dst, n = fx.karate_club()
    df = fx.edges_df(spark, src, dst)
    store = ParquetManifestStore(str(tmp_path / "ckpt"))
    full = pagerank_barrier(df, eps=1e-9)
    half = pagerank_barrier(df, eps=1e-9, max_iter=6, store=store, run_id="b", num_tasks=3)
    assert store.latest_iteration("b") == half.iterations
    resumed = pagerank_barrier(
        df, eps=1e-9, max_iter=300, store=store, run_id="b", num_tasks=3
    )
    assert np.allclose(_vec(full), _vec(resumed), atol=1e-9, rtol=0)
    assert resumed.iterations == full.iterations
    # per-partition lineage rows exist for the resumed iterations too
    pm = store.read_metrics(spark, "b")
    assert pm is not None and pm.count() > 0


def test_gang_task_count_bit_identical_and_checkpoints(spark, tmp_path, monkeypatch):
    """One-, three- and four-task gangs on the same layout combine every
    vertex's partial sums part-ascending at its segment owner, so they
    produce identical floats and iteration counts — also on a hub-salted
    layout, where a hub's in-edges span several parts that different
    tasks compute; the in-job checkpoints of a stopped solve let a later
    call resume to the same fixed point."""
    from linkgraph.checkpoint import ParquetManifestStore
    from linkgraph.sources import derive_edges, generate_transcripts

    src, dst, n = fx.karate_club()
    karate = fx.edges_df(spark, src, dst)
    salted = derive_edges(generate_transcripts(spark, n_convs=5000, seed=11))
    salted = salted.select("src", "dst")
    for name, df, build_kw in (
        ("karate", karate, {"num_shards": 3}),
        ("salted", salted, {"num_shards": 6}),
    ):
        with monkeypatch.context() as mp:
            if name == "salted":
                mp.setattr(shards, "_HUB_SALT_FACTOR", 0.3)
            g = ShardedGraph.build(df, **build_kw)
        if name == "salted":
            assert g.hub_count > 0  # a hub's in-edges really span parts
        rb = pagerank_barrier(df, eps=1e-9, max_iter=300, sharded_graph=g, num_tasks=1)
        vb = {r["node"]: r["rank"] for r in rb.ranks.collect()}
        for P in (3, 4):
            rf = pagerank_barrier(df, eps=1e-9, max_iter=300, sharded_graph=g, num_tasks=P)
            assert rb.strategy == rf.strategy == "barrier"
            assert rf.iterations == rb.iterations, (name, P)
            vf = {r["node"]: r["rank"] for r in rf.ranks.collect()}
            assert vb.keys() == vf.keys()
            assert np.array_equal(
                np.array([vb[k] for k in sorted(vb)]), np.array([vf[k] for k in sorted(vf)])
            ), f"gang floats must not depend on the task count ({name}, P={P})"

        # the gang checkpoints every iteration and a later call resumes from
        # the manifest
        store = ParquetManifestStore(str(tmp_path / f"ckpt_{name}"))
        half = pagerank_barrier(
            df, eps=1e-9, max_iter=6, store=store, run_id="f", sharded_graph=g
        )
        assert half.iterations == 6
        assert store.latest_iteration("f") == 6
        resumed = pagerank_barrier(
            df, eps=1e-9, max_iter=300, store=store, run_id="f", sharded_graph=g
        )
        assert resumed.iterations == rb.iterations
        vr = {r["node"]: r["rank"] for r in resumed.ranks.collect()}
        assert np.allclose(
            np.array([vb[k] for k in sorted(vb)]),
            np.array([vr[k] for k in sorted(vr)]),
            atol=1e-9, rtol=0,
        )
        g.unpersist()


def test_resumed_gang_runs_one_spark_job(spark, tmp_path):
    """A resume on a prebuilt layout reads its snapshot on the driver with
    pyarrow, so the gang is the call's only Spark job."""
    from linkgraph.checkpoint import ParquetManifestStore

    src, dst, n = fx.karate_club()
    g = ShardedGraph.build(fx.edges_df(spark, src, dst), num_shards=4)
    store = ParquetManifestStore(str(tmp_path / "ckpt"))
    pagerank_barrier(sharded_graph=g, eps=1e-9, max_iter=5, store=store, run_id="j")
    sc = spark.sparkContext
    sc.setJobGroup("test-resume-jobs", "resumed gang")
    try:
        res = pagerank_barrier(
            sharded_graph=g, eps=1e-9, max_iter=300, store=store, run_id="j"
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup("test-resume-jobs")
    full = pagerank_barrier(sharded_graph=g, eps=1e-9, max_iter=300)
    assert res.iterations == full.iterations
    assert np.array_equal(_vec(res), _vec(full))
    g.unpersist()
    assert len(jobs) == 1, f"{len(jobs)} jobs"


def test_read_rank_arrays_matches_the_spark_read(spark, tmp_path):
    """The driver-side snapshot read returns what ``read_ranks`` returns,
    also for a multi-file snapshot Spark wrote."""
    from linkgraph.checkpoint import ParquetManifestStore

    src, dst, n = fx.karate_club()
    store = ParquetManifestStore(str(tmp_path / "ckpt"))
    pagerank_dataframe(
        fx.edges_df(spark, src, dst).repartition(3), eps=1e-9, max_iter=2,
        store=store, run_id="d",
    )
    nodes, ranks = store.read_rank_arrays(spark, "d", 2)
    want = store.read_ranks(spark, "d", 2).toPandas().sort_values("node")
    order = np.argsort(nodes)
    assert np.array_equal(nodes[order], want["node"].to_numpy())
    assert np.array_equal(ranks[order], want["rank"].to_numpy())


def test_auto_dispatch_regimes(spark, tmp_path, monkeypatch):
    """`pagerank(strategy="auto")` must (a) pick the barrier gang at
    contract scale, (b) fall back to the UNBOUNDED dataframe plan when n
    exceeds the dense-vector budget (round-2 VERDICT #1 — the O(n)-driver
    engines must never bind by default at 10^8-10^9 vertices), (c) route
    checkpointed large-m runs to the barrier engine, and stay oracle-equal
    in every regime."""
    from linkgraph.checkpoint import ParquetManifestStore
    from linkgraph.operators import pagerank as pr
    from linkgraph.operators.pagerank import pagerank

    src, dst, n = fx.karate_club()
    df = fx.edges_df(spark, src, dst)

    auto = pagerank(df, eps=1e-8)
    assert auto.strategy == "barrier"

    # graph "above the threshold": shrink the budget instead of building
    # 10^9 vertices — the dispatch arithmetic is what's under test
    with monkeypatch.context() as mp:
        mp.setattr(pr, "DENSE_BUDGET_BYTES", 10)
        big = pagerank(df, eps=1e-8)
    assert big.strategy == "dataframe"
    assert np.allclose(_vec(auto), _vec(big), atol=1e-6, rtol=0)

    store = ParquetManifestStore(str(tmp_path / "ck"))
    ck = pagerank(df, eps=1e-8, store=store, run_id="auto1")
    assert ck.strategy == "barrier"
    assert np.allclose(_vec(ck), _vec(auto), atol=1e-6, rtol=0)

    forced = pagerank(df, eps=1e-8, strategy="barrier")
    assert forced.strategy == "barrier"
    # one name per engine: the gang's older spelling is gone
    with pytest.raises(ValueError, match="unknown strategy"):
        pagerank(df, eps=1e-8, strategy="sharded")


class _MemoryStore:
    """A duck-typed checkpoint store with no ``root``: it keeps every
    committed snapshot in memory."""

    def __init__(self):
        self.snaps = {}

    def latest_iteration(self, run_id):
        return max((k for r, k in self.snaps if r == run_id), default=None)

    def write_iteration(self, run_id, iteration, ranks, iter_metrics, partition_metrics=None):
        self.snaps[(run_id, iteration)] = ranks.toPandas()

    def read_ranks(self, spark, run_id, iteration):
        return spark.createDataFrame(self.snaps[(run_id, iteration)])


def test_non_parquet_store_takes_the_dataframe_plan(spark):
    """The gang commits only into the ParquetManifestStore layout: given
    any other store it refuses before building a layout, and the auto
    dispatch checkpoints through the store on the dataframe plan."""
    from linkgraph.operators.pagerank import pagerank

    src, dst, n = fx.karate_club()
    df = fx.edges_df(spark, src, dst)
    store = _MemoryStore()
    sc = spark.sparkContext
    sc.setJobGroup("test-stub-store", "refused gang")
    try:
        with pytest.raises(ValueError, match="ParquetManifestStore"):
            pagerank_barrier(df, eps=1e-8, store=store, run_id="s")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert list(sc.statusTracker().getJobIdsForGroup("test-stub-store")) == []

    res = pagerank(df, eps=1e-8, max_iter=5, store=store, run_id="s")
    assert res.strategy == "dataframe"
    assert store.latest_iteration("s") == res.iterations == 5
    want = pagerank_barrier(df, eps=1e-8, max_iter=5)
    assert np.allclose(_vec(res), _vec(want), atol=1e-6, rtol=0)


def test_ranks_df_distributed_and_isolated(spark):
    """Each result is published to a UNIQUE parquet file: a later solve on
    the same graph must not retarget an earlier result's lazy plan."""
    src, dst, n = fx.karate_club()
    df = fx.edges_df(spark, src, dst)
    g = ShardedGraph.build(df, num_shards=3)

    a = pagerank_barrier(df, eps=1e-8, sharded_graph=g)
    a_before = _vec(a)
    # second solve on the SAME graph (different engine, different scratch)
    pagerank_barrier(df, eps=1e-4, max_iter=3, sharded_graph=g, num_tasks=2)
    assert np.array_equal(_vec(a), a_before), "earlier result plan retargeted"
    g.unpersist()


# ---- weighted + Family-B fast-path regimes (round-4) ----

def _weighted_df(spark, src, dst):
    """Deterministic positive integer weights on a fixture edge list."""
    import pyspark.sql.functions as F

    return fx.edges_df(spark, src, dst).withColumn(
        "wt", (F.pmod(F.col("src") * 7 + F.col("dst") * 13, F.lit(5)) + 1).cast("double")
    )


def test_weighted_all_strategies_equal_dataframe(spark):
    """Weighted PageRank through the CSR shard kernel (default gang) and
    a three-task barrier gang must match the dataframe path at 1e-6 with identical iteration counts — the weighted
    extension of the cross-strategy equality pin (VERDICT r3 #4)."""
    src, dst, n = fx.karate_club()
    df = _weighted_df(spark, src, dst)
    b = pagerank_dataframe(df, eps=1e-8, weight_col="wt")
    g = ShardedGraph.build(df, num_shards=4, weight_col="wt")
    assert g.weighted
    a = pagerank_barrier(df, eps=1e-8, sharded_graph=g, weight_col="wt")
    c = pagerank_barrier(df, eps=1e-8, sharded_graph=g, num_tasks=3)
    assert np.allclose(_vec(a), _vec(b), atol=1e-6, rtol=0)
    assert np.allclose(_vec(c), _vec(b), atol=1e-6, rtol=0)
    assert a.iterations == b.iterations == c.iterations
    g.unpersist()


def test_weighted_uniform_equals_unweighted_sharded(spark):
    import pyspark.sql.functions as F

    src, dst, n = fx.karate_club()
    df = fx.edges_df(spark, src, dst).withColumn("wt", F.lit(3.0))
    w = pagerank_barrier(df, eps=1e-8, weight_col="wt")
    u = pagerank_barrier(fx.edges_df(spark, src, dst), eps=1e-8)
    assert np.allclose(_vec(w), _vec(u), atol=1e-9, rtol=0)
    assert w.iterations == u.iterations


def test_family_b_all_strategies_equal_dataframe(spark):
    """Family B (leaking base + one final normalization) through shard
    kernel / barrier gang == dataframe path, on the
    dangling-heavy fixture where A and B genuinely differ."""
    src, dst, n = fx.toy_chain_dangling()
    df = fx.edges_df(spark, src, dst)
    b = pagerank_dataframe(df, eps=1e-10, family="b")
    a = pagerank_barrier(df, eps=1e-10, family="b")
    c = pagerank_barrier(df, eps=1e-10, family="b", num_tasks=3)
    assert np.allclose(_vec(a), _vec(b), atol=1e-6, rtol=0)
    assert np.allclose(_vec(c), _vec(b), atol=1e-6, rtol=0)
    assert a.iterations == b.iterations == c.iterations
    # the flag genuinely changes the loop: A conserves unit mass every
    # iteration, B's mass leaks through the dangling tail (the converged
    # fixed points still coincide after B's one normalization — documented
    # in pagerank_dataframe)
    a_fam_a = pagerank_barrier(df, eps=1e-10)
    assert all(abs(mm["mass"] - 1.0) < 1e-9 for mm in a_fam_a.iter_metrics)
    assert a.iter_metrics[1]["mass"] < 1.0 - 1e-6
    # B's published vector is normalized exactly once
    assert abs(_vec(a).sum() - 1.0) < 1e-9
    assert abs(_vec(c).sum() - 1.0) < 1e-9


def test_weighted_family_b_combined(spark):
    src, dst, n = fx.toy_chain_dangling()
    df = _weighted_df(spark, src, dst)
    b = pagerank_dataframe(df, eps=1e-10, family="b", weight_col="wt")
    a = pagerank_barrier(df, eps=1e-10, family="b", weight_col="wt")
    assert np.allclose(_vec(a), _vec(b), atol=1e-6, rtol=0)
    assert a.iterations == b.iterations


def test_weighted_auto_dispatch_and_guards(spark, monkeypatch):
    from linkgraph.operators import pagerank as pr
    from linkgraph.operators.pagerank import choose_strategy, pagerank

    # weighted / family b no longer force the dataframe plan: only n does
    assert choose_strategy(100) == "barrier"
    with monkeypatch.context() as mp:
        mp.setattr(pr, "DENSE_BUDGET_BYTES", 1)
        assert choose_strategy(100) == "dataframe"
    src, dst, n = fx.karate_club()
    df = _weighted_df(spark, src, dst)
    res = pagerank(df, eps=1e-8, weight_col="wt")
    assert res.strategy == "barrier"
    assert np.allclose(
        _vec(res), _vec(pagerank_dataframe(df, eps=1e-8, weight_col="wt")),
        atol=1e-6, rtol=0,
    )
    # string ids fall back to the dataframe plan instead of crashing
    import pyspark.sql.functions as F

    sdf = fx.edges_df(spark, src, dst).select(
        F.concat(F.lit("v"), F.col("src")).alias("src"),
        F.concat(F.lit("v"), F.col("dst")).alias("dst"),
    )
    res_s = pagerank(sdf, eps=1e-8)
    assert res_s.strategy == "dataframe"
    # prebuilt unweighted layout + weight_col is a loud error
    g = ShardedGraph.build(fx.edges_df(spark, src, dst), num_shards=2)
    with pytest.raises(ValueError, match="unweighted"):
        pagerank_barrier(df, sharded_graph=g, weight_col="wt")
    g.unpersist()
