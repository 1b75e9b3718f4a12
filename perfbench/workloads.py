"""The workloads and the layer calls they are made of.

Each layer call below is one span, named after the linkgraph module whose
public function it calls. The spans wrap the calls from outside; nothing in
the engine is instrumented. Sizes are scaled so that one run (JVM start,
set-up, warm-up and the measuring window) stays near a minute on a 4-core
host: a fresh JVM needs 20-35 s of session start and cold first jobs
before the first op, whatever the input size.

Why these two (the one-line versions are in BENCHMARK.json):

* ``ingest_to_ranks`` is the whole transcripts-to-ranks path on fresh input
  every op: derive, shard build, batch solve, rank write, then a
  checkpointed solve on the same layout, stopped at ``STOP_AT`` and
  resumed. The build dominates it; the stop/resume adds the barrier gang
  and the snapshot writes.
* ``cc_lpa_triangles`` is the only workload on the DataFrame
  join-iteration operators. Its input is the co-participation projection
  (actor pairs sharing a conversation), not ``derive_edges``' reply/tool
  graph: that graph is bipartite — users and tools link only to the
  assistant and agents — so it has no triangles, and a triangle check on
  it would pass an operator that always returns 0.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from linkgraph.checkpoint import ParquetManifestStore
from linkgraph.operators.components import connected_components
from linkgraph.operators.lpa import label_propagation
from linkgraph.operators.pagerank import pagerank
from linkgraph.operators.triangles import triangle_count
from linkgraph.plans.shards import ShardedGraph
from linkgraph.sources import derive_edges, generate_transcripts

from perfbench.check import (
    check_labels,
    check_ranks,
    dir_bytes,
    expected_pagerank,
    expected_structure,
    read_table,
    require,
)

# op ids of the spans outside the measuring window
SETUP = -1
WARMUP = -2


def op_seed(seed: int, i: int) -> int:
    """Generator seed of op ``i``; the warm-up uses i = -1."""
    return seed * 1000 + 500 + i


# ---- layer calls ----------------------------------------------------------


def derive(ctx, n_convs: int, seed: int):
    """sources: transcripts -> persisted edge table."""
    with ctx.tracer.span("sources.derive") as s:
        edges = (
            derive_edges(generate_transcripts(ctx.spark, n_convs=n_convs, seed=seed))
            .select("src", "dst")
            .persist()
        )
        s.attrs["edges"] = edges.count()
    return edges, s.attrs["edges"]


def build(ctx, edges, path: str) -> ShardedGraph:
    with ctx.tracer.span("plans.shards.build") as s:
        g = ShardedGraph.build(edges, shard_dir=path)
    s.attrs["layout_mb"] = dir_bytes(path) / 1e6
    return g


def solve(ctx, g: ShardedGraph, **kw):
    """operators.pagerank(strategy="auto"); the span is named after the
    engine the dispatch picked, so a barrier solve shows as plans.barrier."""
    with ctx.tracer.span("operators.pagerank") as s:
        res = pagerank(sharded_graph=g, **kw)
    if res.strategy == "barrier":
        s.name = "plans.barrier"
    im = res.iter_metrics
    s.attrs.update(
        iterations=res.iterations,
        kernel_s=sum(m.get("kernel_ms", 0.0) for m in im) / 1e3,
        route_s=sum(m.get("route_ms", 0.0) for m in im) / 1e3,
        iterate_s=sum(m.get("wall_ms", 0.0) for m in im) / 1e3,
    )
    return res


def publish(ctx, res, path: str) -> None:
    """ShardedGraph.ranks_df (the result's lazy plan) + parquet write."""
    with ctx.tracer.span("publish.write"):
        res.ranks.write.mode("overwrite").parquet(path)


def coparticipation(spark, n_convs: int, seed: int):
    """Actor pairs (a < b) that share a conversation; ids as derive_edges."""
    t = generate_transcripts(spark, n_convs=n_convs, seed=seed)
    a = t.select("conv_id", F.xxhash64("role").alias("node")).distinct()
    return (
        a.alias("x")
        .join(a.alias("y"), "conv_id")
        .where(F.col("x.node") < F.col("y.node"))
        .select(F.col("x.node").alias("src"), F.col("y.node").alias("dst"))
    )


def _unpersist_all(spark) -> None:
    """Drop every cached table and persisted RDD of the session, then
    collect the driver JVM's garbage so the next op starts on a clean heap."""
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(True)
    spark.sparkContext._jvm.System.gc()


def _rm(*paths: str) -> None:
    for p in paths:
        shutil.rmtree(p, ignore_errors=True)


# ---- workloads ------------------------------------------------------------


class IngestToRanks:
    """Fresh transcripts every op: derive, build, batch solve, publish, then
    a checkpointed solve on the same layout, stopped at ``STOP_AT`` and
    resumed to convergence."""

    name = "ingest_to_ranks"
    CONVS = 20_000  # about 340k edges, 13.7k vertices per op
    WARMUP_CONVS = 2_000
    STOP_AT = 18
    RUN_ID = "bench"

    def __init__(self, ctx):
        self.ctx = ctx
        self.shards = os.path.join(ctx.work, "shards")
        self.ranks = os.path.join(ctx.work, "ranks")
        self.ckpt = os.path.join(ctx.work, "ckpt")
        self.edge_copy = os.path.join(ctx.work, "edges")

    def _run(self, n_convs: int, seed: int) -> dict:
        edges, m = derive(self.ctx, n_convs, seed)
        g = build(self.ctx, edges, self.shards)
        res = solve(self.ctx, g)
        publish(self.ctx, res, self.ranks)
        return {"edges": edges, "graph": g, "res": res, "m": m}

    def _stop_and_resume(self, facts: dict) -> dict:
        """A checkpointed solve stopped at ``STOP_AT``, then a resume to
        convergence; ``auto`` sends both, as they carry a store, to the
        barrier gang."""
        g = facts["graph"]
        store = ParquetManifestStore(self.ckpt)
        first = solve(self.ctx, g, store=store, run_id=self.RUN_ID, max_iter=self.STOP_AT)
        resume_iter = store.latest_iteration(self.RUN_ID)
        resumed = solve(self.ctx, g, store=store, run_id=self.RUN_ID)
        iters = facts["res"].iterations + first.iterations + resumed.iterations
        return {
            **facts,
            "store": store,
            "first": first,
            "resume_iter": resume_iter,
            "resumed": resumed,
            "edge_iters": facts["m"] * iters,
        }

    def setup(self) -> None:
        # the barrier gang showed no cold start (first launch as fast as the
        # later ones), so the warm-up leaves the stop/resume out
        with self.ctx.tracer.span("warmup", op=WARMUP):
            self.cleanup(self._run(self.WARMUP_CONVS, op_seed(self.ctx.seed, -1)))

    def prepare_checks(self) -> None:
        pass

    def op(self, i: int) -> dict:
        return self._stop_and_resume(self._run(self.CONVS, op_seed(self.ctx.seed, i)))

    def check(self, facts: dict) -> None:
        first, resumed = facts["first"], facts["resumed"]
        facts["layer_attrs"] = {
            "checkpoint.mb_written": dir_bytes(os.path.join(self.ckpt, self.RUN_ID, "ranks")) / 1e6,
            "checkpoint.snapshots": len(facts["store"].iteration_log(self.RUN_ID)),
            "checkpoint.resume_iter": facts["resume_iter"],
        }
        facts["edges"].write.mode("overwrite").parquet(self.edge_copy)
        want = self.ctx.checker.call(expected_pagerank, self.edge_copy)
        nodes, ranks = read_table(self.ranks, "node", "rank")
        check_ranks(nodes, ranks, want, facts["res"].iterations)
        require(
            first.iterations == self.STOP_AT and not first.converged,
            f"stopped solve returned {first.iterations} iterations, "
            f"converged={first.converged}; want {self.STOP_AT}, not converged",
        )
        require(
            facts["resume_iter"] == self.STOP_AT,
            f"manifest latest_iteration {facts['resume_iter']} != {self.STOP_AT}",
        )
        require(resumed.converged, "resumed solve did not converge")
        got = resumed.ranks.toPandas()
        # the oracle runs uninterrupted, so this also pins resumed == uninterrupted
        check_ranks(got["node"].to_numpy(), got["rank"].to_numpy(), want, resumed.iterations)

    def cleanup(self, facts: dict) -> None:
        facts["graph"].unpersist()
        facts["edges"].unpersist()
        # ShardedGraph.build leaves two prefix-sum tables persisted; kept
        # across ops they made each later build slower, so every op starts
        # with nothing persisted
        _unpersist_all(self.ctx.spark)
        _rm(self.shards, self.ranks, self.ckpt, self.edge_copy)


class CcLpaTriangles:
    name = "cc_lpa_triangles"
    CONVS = 10_000  # about 82k co-participation edges
    # a fixed number of LPA rounds: most seeds converge in 7, some oscillate
    # to the 10-round cap, and op work would follow that instead of speed
    LPA_ROUNDS = 5
    WARMUP_CONVS = 500
    WARMUP_ITERS = 2

    def __init__(self, ctx):
        self.ctx = ctx
        self.input = os.path.join(ctx.work, "coparticipation")
        self.warm_input = os.path.join(ctx.work, "coparticipation_warmup")

    def setup(self) -> None:
        spark = self.ctx.spark
        with self.ctx.tracer.span("setup", op=SETUP):
            with self.ctx.tracer.span("sources.derive") as s:
                coparticipation(spark, self.CONVS, self.ctx.seed).write.parquet(self.input)
                edges = spark.read.parquet(self.input)
                s.attrs["edges"] = self.m = edges.count()
        with self.ctx.tracer.span("warmup", op=WARMUP):
            coparticipation(spark, self.WARMUP_CONVS, op_seed(self.ctx.seed, -1)).write.parquet(
                self.warm_input
            )
            tiny = spark.read.parquet(self.warm_input)
            connected_components(tiny, max_iter=self.WARMUP_ITERS).components.unpersist()
            label_propagation(tiny, max_iter=self.WARMUP_ITERS).labels.unpersist()
            triangle_count(tiny)
            _unpersist_all(spark)
            _rm(self.warm_input)

    def prepare_checks(self) -> None:
        self.want = self.ctx.checker.call(expected_structure, self.input, self.LPA_ROUNDS)

    def op(self, i: int) -> dict:
        tracer = self.ctx.tracer
        edges = self.ctx.spark.read.parquet(self.input)
        with tracer.span("operators.components") as s:
            cc = connected_components(edges)
        s.attrs["iterations"] = cc.iterations
        with tracer.span("operators.lpa") as s:
            lpa = label_propagation(edges, max_iter=self.LPA_ROUNDS)
        s.attrs["iterations"] = lpa.iterations
        with tracer.span("operators.triangles"):
            tri = triangle_count(edges)
        return {
            "cc": cc,
            "lpa": lpa,
            "triangles": tri,
            "edge_iters": self.m * (cc.iterations + lpa.iterations),
        }

    def check(self, facts: dict) -> None:
        ids, comp, labels, tri = self.want
        check_labels(facts["cc"].components.toPandas(), "component", ids, comp)
        check_labels(facts["lpa"].labels.toPandas(), "label", ids, labels)
        require(facts["triangles"] == tri, f"triangles {facts['triangles']} != oracle {tri}")

    def cleanup(self, facts: dict) -> None:
        # triangle_count leaves its oriented edge table cached; a later op
        # with the same plan would reuse it, so every op starts cache-free
        _unpersist_all(self.ctx.spark)


WORKLOADS = {
    w.name: w for w in (IngestToRanks, CcLpaTriangles)
}
