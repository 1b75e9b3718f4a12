"""Bench harness — one JSON line to stdout (driver contract).

Headline metric: PageRank edges-processed/sec to 1e-6 convergence
(edges × iterations ÷ iterate wall, BASELINE.json metric) on the
deterministic synthetic transcript-derived edge table sized by the sf of
$SPARK_GRAFT_SF_DIR, run on local[$SPARK_GRAFT_CPUS] via the barrier
gang over the shard layout.

Protocol (round-5, per the round-4 VERDICT):

* The HEADLINE engine (the barrier gang loop) runs HEADLINE_REPEATS
  times and the reported number comes from the MEDIAN iterate wall —
  single-shot draws inside a long session
  carry up to 3× noise (measured, BENCH/outliers_r4.json), so one draw
  can neither prove nor clear a round-over-round delta.
* The per-query walls run in GROUPS fresh-JVM subprocesses with a FIXED
  assignment (round-robin over the stable query list), so no query's
  wall is conditioned on 80+ predecessors sharing its JVM/session. Two
  control queries (exact_dedup, top_hubs) run in EVERY group; their
  group-to-group spread is reported in detail.controls as the
  session-pressure gauge.

Scaling evidence (N vs 4N cores) lives in bench_scaling.py →
BENCH/BASELINE.md; this file is the per-round feedback loop.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))

HEADLINE_REPEATS = 3
GROUPS = 3
CONTROLS = ["exact_dedup", "top_hubs"]
# the --group child prints its result behind this prefix; the parent reads
# exactly that line, whatever else (Spark, py4j) reaches stdout
RESULT_PREFIX = "LINKGRAPH_BENCH_GROUP_RESULT "

# stable order — the fixed group assignment is i % GROUPS over this list
QUERY_LIST = [
    "edge_derivation", "out_degrees", "pagerank_step",
    "token_count", "quality", "cosine_topk",
    "minhash_near_dups", "components", "triangles",
    "pagerank_k5", "lpa_k3", "scc", "repetition",
    "stratified_sample", "decontaminate", "bfs_hops",
    "hits_k3", "pagerank_w_k5", "ppr_k5", "clustering",
    "adamic_adar", "ktruss_r2", "link_scores", "randwalk_k3",
    "chunk_dedup", "knn_curve", "top_bigrams", "harmonic_k4",
    "eff_diameter", "betweenness_k4", "len_percentiles",
    "sssp_r4", "mis_r2", "temporal_r3", "funnel3",
    "unigram_xent", "centroid_cosine", "transitivity",
    "coreness_r2", "coloring_r2", "anf_curve", "katz_k4",
    "modularity", "eigen_k4", "trussness_r2", "salsa_k3",
    "closeness_k4", "matching_r2", "ball2", "louvain_round",
    "louvain", "conductance", "bm25", "bowtie", "tfidf_topk",
    "cms_hh", "node2vec_k3", "emb_cov", "msf_round", "msf",
    "squares", "coengagement", "kmeans_round", "slpa_k3",
    "vsample", "doulion",
    "densest_r2", "pii_scan", "tpch_ship_priority",
    "tpch_returned_rev", "tpch_part_supplier_counts",
    "pagerank_ws_k5", "pagerank_bs_k5", "squares_p",
    "coeng_capped", "anf_round", "simrank_r2", "ppr_sweep",
    "ppr_push",
    # round-5 additions (streaming drives stay excluded per the
    # contract-runtime budget; they're benched in BENCH/)
    "ppr_nibble", "pagerank_decay_k5", "minhash_band_pairs",
    "winnow_round", "lsh_clusters", "simhash_round", "lsh_round",
    "ivf_round",
]


def _env():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else 0.1
    return sf_dir, cpus, sf


def run_group(group: int) -> dict:
    """Child mode: time this group's queries (controls first) in a fresh
    session; return {name: wall_sec}."""
    sf_dir, cpus, _ = _env()
    sys.path.insert(0, REPO)
    from linkgraph.session import get_spark
    import __spark_entry__ as entry_mod

    spark = get_spark(app_name=f"linkgraph-bench-g{group}",
                      master=f"local[{cpus}]")
    qs = entry_mod.queries()
    names = CONTROLS + [
        q for i, q in enumerate(QUERY_LIST) if i % GROUPS == group
    ]
    # untimed warmup: first-action JVM/codegen/parquet-reader costs land
    # here, not on the first timed query (top_hubs re-runs timed below —
    # warm, like every other query in the group)
    qs["top_hubs"](spark, sf_dir).count()
    walls: dict[str, float] = {}
    for name in names:
        t0 = time.monotonic()
        qs[name](spark, sf_dir).count()  # force full execution
        walls[name] = round(time.monotonic() - t0, 3)
    spark.stop()
    return walls


def run() -> dict:
    sf_dir, cpus, sf = _env()

    sys.path.insert(0, REPO)
    from linkgraph.session import get_spark
    from linkgraph.sources import derive_edges, generate_transcripts
    from linkgraph.plans.barrier import pagerank_barrier
    from linkgraph.plans.shards import ShardedGraph

    spark = get_spark(app_name="linkgraph-bench", master=f"local[{cpus}]")

    # --- headline: transcript -> edges -> converged PageRank ---
    n_convs = max(200, int(1_000_000 * sf))  # sf0.1 -> 100k convs ≈ 1.6M edges
    t_gen0 = time.monotonic()
    transcripts = generate_transcripts(spark, n_convs=n_convs, seed=42)
    edges = derive_edges(transcripts).select("src", "dst").persist()
    m = edges.count()
    gen_sec = time.monotonic() - t_gen0

    t0 = time.monotonic()
    g = ShardedGraph.build(edges)
    build_sec = time.monotonic() - t0

    # repeats; the reported headline is the MEDIAN iterate wall
    b_iter, b_wall, b_iters = [], [], []
    conv = None
    for _ in range(HEADLINE_REPEATS):
        t0 = time.monotonic()
        res = pagerank_barrier(sharded_graph=g, eps=1e-6, max_iter=200)
        b_wall.append(time.monotonic() - t0)
        b_iter.append(sum(mm["wall_ms"] for mm in res.iter_metrics) / 1e3)
        b_iters.append(res.iterations)
        conv = res.converged

    # the headline divides m·iterations by a median wall: only sound when
    # every repeat ran the same number of iterations
    if len(set(b_iters)) != 1:
        raise RuntimeError(f"iteration counts differ across repeats: {b_iters}")
    iters = b_iters[0]
    iter_sec = statistics.median(b_iter)
    edges_per_sec = m * iters / max(iter_sec, 1e-9)
    g.unpersist()
    edges.unpersist()
    spark.stop()

    # --- per-query walls: fixed-assignment fresh-JVM groups ---
    queries: dict[str, float] = {}
    controls: dict[str, list[float]] = {c: [] for c in CONTROLS}
    for grp in range(GROUPS):
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--group", str(grp)],
            capture_output=True, text=True, cwd=REPO,
        )
        if proc.returncode != 0:
            raise RuntimeError(
                f"bench group {grp} failed:\n{proc.stderr[-2000:]}"
            )
        lines = [
            ln[len(RESULT_PREFIX):] for ln in proc.stdout.splitlines()
            if ln.startswith(RESULT_PREFIX)
        ]
        if len(lines) != 1:
            raise RuntimeError(
                f"bench group {grp}: expected one result line, got "
                f"{len(lines)}:\n{proc.stdout[-2000:]}"
            )
        walls = json.loads(lines[0])
        for c in CONTROLS:
            controls[c].append(walls.pop(c))
        queries.update(walls)
    for c in CONTROLS:  # report the median control wall as the query wall
        queries[c] = statistics.median(controls[c])

    out = {
        "metric": "pagerank_edges_per_sec_to_1e-6",
        "value": round(edges_per_sec, 1),
        "unit": "edges/sec",
        "queries": queries,
        "sf": sf,
        "detail": {
            "edges": m,
            "iterations": iters,
            "converged": conv,
            "headline_protocol": (
                f"median of {HEADLINE_REPEATS} repeats; "
                f"query walls from {GROUPS} fresh-JVM groups"
            ),
            "barrier_wall_sec": round(statistics.median(b_wall), 3),
            "barrier_iterate_sec": round(iter_sec, 3),
            "barrier_iterate_all": [round(x, 3) for x in b_iter],
            "shard_build_sec": round(build_sec, 3),
            "gen_wall_sec": round(gen_sec, 3),
            "controls": {
                c: [round(x, 3) for x in controls[c]] for c in CONTROLS
            },
            "cpus": cpus,
        },
    }
    return out


if __name__ == "__main__":
    if len(sys.argv) >= 3 and sys.argv[1] == "--group":
        print(RESULT_PREFIX + json.dumps(run_group(int(sys.argv[2]))))
    else:
        print(json.dumps(run()))
