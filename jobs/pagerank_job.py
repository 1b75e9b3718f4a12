"""spark-submit entry job: transcripts -> edges -> converged PageRank.

The north rule requires the engine to launch via

    spark-submit --py-files dist/linkgraph.zip jobs/pagerank_job.py [opts]

(mirroring the reference's sbatch launcher, /root/reference/pr_submit.sh:41-60).
This job is a plain argparse CLI with NO imports from the repo directory —
everything comes from the shipped zip — so it runs identically on a real
cluster. It prints exactly one JSON line with the result metrics, which
``bench_scaling.py`` parses to produce BENCH/BASELINE.md.

Modes:
  --transcripts PATH   read a transcripts parquet table (conv_id, turn_idx,
                       role, text, tool, ts) and derive edges from it
  --generate N         synthesize N deterministic conversations instead
  --edges PATH         read a ready [src,dst] edge parquet directly

Checkpoint/resume: pass --checkpoint-dir and --run-id; if the run already
has committed iterations the job resumes mid-convergence (north rule).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time


def main(argv: list[str] | None = None) -> dict:
    p = argparse.ArgumentParser(description="linkgraph PageRank job")
    p.add_argument("--transcripts", help="parquet path of transcripts table")
    p.add_argument("--edges", help="parquet path of [src,dst] edge table")
    p.add_argument("--generate", type=int, help="synthesize N conversations")
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--eps", type=float, default=1e-6)
    p.add_argument("--max-iter", type=int, default=200)
    p.add_argument(
        "--no-convergence",
        action="store_true",
        help="fixed --max-iter iterations, convergence check off (the "
        "reference's benchmark mode, global_config.h CHECK_CONVERGENCE=0)",
    )
    p.add_argument("--damping", type=float, default=0.85)
    p.add_argument(
        "--family",
        choices=["a", "b"],
        default="a",
        help="semantic family: a = custom family "
        "with per-iteration dangling redistribution (the correctness "
        "anchor); b = mtx/OCL family, leak + final sum-normalization "
        "(pagerank_OCL.h:156-161) — for diffing against main_ocl outputs",
    )
    p.add_argument("--num-shards", type=int, default=None)
    p.add_argument(
        "--strategy",
        choices=["auto", "barrier", "dataframe"],
        default="barrier",
        help="physical engine; auto picks by regime (n over the dense "
        "budget -> dataframe, else barrier)",
    )
    p.add_argument(
        "--shard-dir",
        default=None,
        help="shard layout dir; reused if already built (meta.json present), "
        "else built there from the edge table",
    )
    p.add_argument("--checkpoint-dir", default=None)
    p.add_argument("--run-id", default=None)
    p.add_argument("--output", default=None, help="parquet path for the rank table")
    p.add_argument("--top-k", type=int, default=0, help="also print top-k actors")
    args = p.parse_args(argv)

    # Session: when launched by spark-submit the master/conf come from the
    # submit command line; getOrCreate() picks them up. Standalone python
    # falls back to linkgraph.session defaults.
    from pyspark.sql import SparkSession

    from linkgraph.checkpoint import ParquetManifestStore
    from linkgraph.operators.pagerank import pagerank_dataframe
    from linkgraph.sources import derive_edges, generate_transcripts

    spark = SparkSession.builder.appName("linkgraph-pagerank").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    prebuilt = args.shard_dir and os.path.exists(os.path.join(args.shard_dir, "meta.json"))

    # Resolve the auto strategy from a CHEAP scalar (meta.json's n, or one
    # O(m) aggregation over the edge table) BEFORE any O(n) driver
    # materialization or shard build — loading a 10^9-vertex layout's node
    # arrays just to decide to fall back to the dataframe engine would
    # defeat the dense budget the dispatch exists to enforce.
    from linkgraph.operators.pagerank import choose_strategy

    strategy = args.strategy
    if strategy == "auto" and prebuilt:
        with open(os.path.join(args.shard_dir, "meta.json")) as f:
            strategy = choose_strategy(json.load(f)["n"])

    t_ingest0 = time.monotonic()
    edges = None
    if not (prebuilt and strategy in ("auto", "barrier")):
        if args.edges:
            edges = spark.read.parquet(args.edges).select("src", "dst")
        else:
            if args.transcripts:
                transcripts = spark.read.parquet(args.transcripts)
            elif args.generate:
                transcripts = generate_transcripts(spark, n_convs=args.generate, seed=args.seed)
            elif prebuilt:
                # auto resolved AWAY from the shard layout (n over budget)
                p.error(
                    "auto resolved to the dataframe engine (n exceeds the "
                    "dense budget) but only a prebuilt --shard-dir was "
                    "given — pass --edges / --transcripts / --generate "
                    "for the unbounded path"
                )
            else:
                p.error("one of --transcripts / --edges / --generate / "
                        "a prebuilt --shard-dir is required")
            edges = derive_edges(transcripts).select("src", "dst")
        edges = edges.persist()
    m = edges.count() if edges is not None else 0
    ingest_sec = time.monotonic() - t_ingest0

    if strategy == "auto":
        # no prebuilt layout: resolve from the edge table
        from linkgraph.operators.degrees import vertices

        strategy = choose_strategy(vertices(edges).count())
    if strategy == "dataframe" and edges is None:
        p.error(
            "auto resolved to the dataframe engine (n exceeds the dense "
            "budget) but only a prebuilt --shard-dir was given — pass "
            "--edges / --transcripts / --generate for the unbounded path"
        )

    store = ParquetManifestStore(args.checkpoint_dir) if args.checkpoint_dir else None

    # build (one-time shuffles) timed separately from the iterate loop —
    # the reference also reports read/format vs per-iteration time apart
    # (/root/reference/main.c:32-33,55-61)
    build_sec = 0.0
    g = None
    if strategy == "barrier":
        from linkgraph.plans.barrier import pagerank_barrier
        from linkgraph.plans.shards import ShardedGraph

        t0 = time.monotonic()
        if prebuilt:
            g = ShardedGraph.load(spark, args.shard_dir)
        else:
            g = ShardedGraph.build(edges, num_shards=args.num_shards, shard_dir=args.shard_dir)
        m = g.m
        build_sec = time.monotonic() - t0
        t0 = time.monotonic()
        res = pagerank_barrier(
            edges,
            d=args.damping,
            eps=args.eps,
            max_iter=args.max_iter,
            check_convergence=not args.no_convergence,
            store=store,
            run_id=args.run_id,
            sharded_graph=g,
            family=args.family,
        )
        wall = time.monotonic() - t0
    else:
        t0 = time.monotonic()
        res = pagerank_dataframe(
            edges,
            d=args.damping,
            eps=args.eps,
            max_iter=args.max_iter,
            check_convergence=not args.no_convergence,
            store=store,
            run_id=args.run_id,
            family=args.family,
        )
        wall = time.monotonic() - t0

    if args.output:
        res.ranks.write.mode("overwrite").parquet(args.output)

    # iterate_sec: sum of per-iteration wall (excludes one-time stage/worker
    # startup — the reference reports per-iteration averages the same way,
    # pagerank_custom.h:279-283)
    iterate_sec = sum(mm["wall_ms"] for mm in res.iter_metrics) / 1e3
    # median-iteration throughput: robust to multi-second vCPU freezes this
    # hypervisor exhibits (a single frozen iteration poisons the sum)
    med_iter_sec = (
        statistics.median(mm["wall_ms"] for mm in res.iter_metrics) / 1e3
        if res.iter_metrics else 0.0
    )
    out = {
        "edges": m,
        "vertices": res.ranks.count(),
        "iterations": res.iterations,
        "converged": res.converged,
        "final_norm": res.norm,
        "wall_sec": round(wall, 3),
        "iterate_sec": round(iterate_sec, 3),
        "build_sec": round(build_sec, 3),
        "ingest_sec": round(ingest_sec, 3),
        "edges_per_sec": round(m * res.iterations / wall, 1),
        "edges_per_sec_iterate": round(m * res.iterations / max(iterate_sec, 1e-9), 1),
        "edges_per_sec_median_iter": round(m / max(med_iter_sec, 1e-9), 1),
        "median_iter_sec": round(med_iter_sec, 4),
        "parallelism": spark.sparkContext.defaultParallelism,
        "master": spark.sparkContext.master,
        # resolved engine (auto dispatch records its pick), not the flag
        "strategy": getattr(res, "strategy", "") or strategy,
    }
    if args.top_k:
        from linkgraph.operators.pagerank import top_k

        out["top"] = [
            {"node": r["node"], "rank": r["rank"]}
            for r in top_k(res.ranks, args.top_k).collect()
        ]
    print(json.dumps(out))
    # unpersist LAST: res.ranks is a lazy distributed plan over files in the
    # shard layout — an owned temp dir must outlive every read of the result
    if g is not None:
        g.unpersist()
    spark.stop()
    return out


if __name__ == "__main__":
    main(sys.argv[1:])
