"""End-to-end benchmark of linkgraph: transcripts -> ranks, with a per-layer split.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a linkgraph checkout. One run starts a local[4]
SparkSession, sets the workload up (input, prebuilt layout, a fixed untimed
warm-up), then runs operations back to back (a closed loop, one client)
while fewer than ``--seconds`` have passed, and at least two. Every
operation's output
is checked against ``linkgraph.oracle``; an operation that raises or fails
its check counts as failed instead of stopping the run.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are end-to-end
(see BENCHMARK.json); with ``--trace 1`` they are per layer, measured by
spans around the benchmark's calls into each layer, and the spans are
written to ``.perfbench_work/trace-<workload>-seed<n>.json``.

Everything the run writes stays under ``.perfbench_work/`` in the checkout:
Spark's local dirs, the JVM and Python temp dirs, layouts, checkpoints.
The barrier gang's mesh is pinned to its TCP transport (localhost) because
the shared-memory transport writes under /dev/shm.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import resource
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
CORES = 4
# the first timed op ran slower than the second in 9 of 11 ingest runs and
# 8 of 10 cc runs (by about 10%); a warm-up at full size did not remove
# that (4 of 6 trial runs). Every run times at least two ops, so that no
# run reports the first op alone
MIN_OPS = 2

# (name, unit) of the per-layer metrics; every traced run prints all of
# them, 0 for a layer the workload never enters
PER_LAYER = [
    ("session.start_s", "s"),
    ("sources.derive_s", "s"),
    ("sources.edges", "count"),
    ("plans.shards.build_s", "s"),
    ("plans.shards.build_jobs", "count"),
    ("plans.shards.layout_mb", "MB"),
    ("operators.pagerank.solve_s", "s"),
    ("operators.pagerank.kernel_s", "s"),
    ("operators.pagerank.driver_s", "s"),
    ("operators.pagerank.iterations", "count"),
    ("operators.pagerank.jobs", "count"),
    ("plans.barrier.gang_s", "s"),
    ("plans.barrier.iterate_s", "s"),
    ("plans.barrier.kernel_s", "s"),
    ("plans.barrier.route_s", "s"),
    ("plans.barrier.launch_s", "s"),
    ("plans.barrier.jobs", "count"),
    ("checkpoint.mb_written", "MB"),
    ("checkpoint.snapshots", "count"),
    ("checkpoint.resume_iter", "count"),
    ("publish.write_s", "s"),
    ("publish.jobs", "count"),
    ("operators.components.s", "s"),
    ("operators.components.iterations", "count"),
    ("operators.components.jobs", "count"),
    ("operators.lpa.s", "s"),
    ("operators.lpa.iterations", "count"),
    ("operators.lpa.jobs", "count"),
    ("operators.triangles.s", "s"),
    ("operators.triangles.jobs", "count"),
    ("op.uncovered_s", "s"),
    ("trace.op_p50_s", "s"),
    ("trace.overhead_ms", "ms"),
]

# counts that must repeat exactly from op to op; the traced run flags any
# that vary within the run or differ from counts.json (this commit's values).
# Those in INPUT_DEPENDENT follow each op's fresh input, so they are only
# checked against counts.json (when recorded there), not for repeats.
INPUT_DEPENDENT = {"plans.shards.build_jobs", "checkpoint.mb_written"}
REPEAT_COUNTS = [
    "plans.shards.build_jobs",
    "operators.pagerank.iterations",
    "operators.pagerank.jobs",
    "plans.barrier.jobs",
    "checkpoint.mb_written",
    "checkpoint.snapshots",
    "checkpoint.resume_iter",
    "publish.jobs",
    "operators.components.iterations",
    "operators.components.jobs",
    "operators.lpa.iterations",
    "operators.lpa.jobs",
    "operators.triangles.jobs",
]


@dataclass
class Ctx:
    """What a workload's layer calls need: the session, the tracer, the
    oracle worker, its scratch directory and the run's seed."""

    spark: object
    tracer: object
    checker: object
    work: str
    seed: int


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def isolate_scratch(work: str) -> None:
    """Point every temp and spill location of the driver, the JVM and the
    Python workers (which inherit this environment) at ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["LINKGRAPH_MESH"] = "tcp"


def start_spark(work: str):
    from linkgraph.session import get_spark

    return get_spark(
        app_name="perfbench",
        master=f"local[{CORES}]",
        extra_conf={
            "spark.driver.memory": "4g",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData "
                # C1 only: a run's JVM lives under a minute, so C2 never pays
                # back; its compile threads took cores from the 4 task slots
                # and made op walls drift within a run
                "-XX:TieredStopAtLevel=1"
            ),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def become_subreaper() -> None:
    """Have orphaned descendants (Spark's Python worker daemon outlives the
    JVM by a moment) re-parented to this process, so ``reap_children`` can
    wait for them."""
    import ctypes

    pr_set_child_subreaper = 36
    ctypes.CDLL(None).prctl(pr_set_child_subreaper, 1, 0, 0, 0)


def stop_spark(spark) -> None:
    """Stop the context, then end the JVM (it exits when its stdin closes)
    and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def reap_children(timeout: float = 30.0) -> None:
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        try:
            pid, _status = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            time.sleep(0.05)
    print("perfbench: child processes still running after stop", file=sys.stderr)


def measure(ctx, wl, seconds: float):
    """Closed loop: start another op while the window is still open (so the
    last op may end past it), and at least ``MIN_OPS``. Returns the timed
    op records."""
    ops = []
    t_start = time.perf_counter()
    while True:
        i = len(ops)
        rec = {"op": i, "ok": False, "edge_iters": 0}
        facts = None
        ov0 = ctx.tracer.overhead_s
        try:
            with ctx.tracer.span("op", op=i) as span:
                facts = wl.op(i)
            rec["wall"] = span.wall
            rec["edge_iters"] = facts["edge_iters"]
            wl.check(facts)
            rec["ok"] = True
        except Exception:  # op boundary: count the failure, keep measuring
            rec.setdefault("wall", span.wall)
            traceback.print_exc()
        finally:
            span.attrs["trace_overhead_s"] = ctx.tracer.overhead_s - ov0
            if facts is not None:
                span.attrs.update(facts.get("layer_attrs", {}))
                try:
                    wl.cleanup(facts)
                except Exception:
                    traceback.print_exc()
        ops.append(rec)
        if len(ops) >= MIN_OPS and time.perf_counter() - t_start >= seconds:
            return ops


def layer_metrics(tracer, session_start_s: float, ops) -> dict[str, list[float]]:
    """Per-layer values, one per timed op; a layer no timed op entered takes
    its set-up value (e.g. the prebuilt layout's build)."""
    from perfbench.workloads import SETUP

    selfs = tracer.self_times()
    by_op: dict[int, dict[str, list]] = {}
    for s in tracer.spans:
        if s.op is None or s.op < SETUP:
            continue
        by_op.setdefault(s.op, {}).setdefault(s.name, []).append(s)

    def per_op(op_spans, metric: str):
        layer, _, field = metric.rpartition(".")
        if metric == "op.uncovered_s":
            return sum(selfs[s.sid] for s in op_spans.get("op", []))
        if metric == "trace.overhead_ms":
            return 1e3 * sum(s.attrs.get("trace_overhead_s", 0.0) for s in op_spans.get("op", []))
        if layer == "checkpoint":
            vals = [s.attrs[metric] for s in op_spans.get("op", []) if metric in s.attrs]
            return sum(vals) if vals else None
        span_name = {"sources": "sources.derive", "publish": "publish.write"}.get(layer, layer)
        if field in ("build_s", "build_jobs", "layout_mb"):
            span_name = "plans.shards.build"
        spans = op_spans.get(span_name)
        if not spans:
            return None
        wall = sum(selfs[s.sid] for s in spans)
        attr = lambda k: sum(s.attrs.get(k, 0) for s in spans)  # noqa: E731
        if field.endswith("jobs"):
            return sum(tracer.jobs_total(s) for s in spans)
        return {
            "driver_s": wall - attr("kernel_s"),
            "launch_s": wall - attr("iterate_s"),
            "kernel_s": attr("kernel_s"),
            "route_s": attr("route_s"),
            "iterate_s": attr("iterate_s"),
            "iterations": attr("iterations"),
            "edges": attr("edges"),
            "layout_mb": attr("layout_mb"),
        }.get(field, wall)

    timed = [by_op[r["op"]] for r in ops if r["op"] in by_op]
    out: dict[str, list[float]] = {}
    for metric, _unit in PER_LAYER:
        if metric == "session.start_s":
            out[metric] = [session_start_s]
            continue
        if metric == "trace.op_p50_s":
            out[metric] = [r["wall"] for r in ops]
            continue
        vals = [v for v in (per_op(o, metric) for o in timed) if v is not None]
        if not vals and SETUP in by_op:
            v = per_op(by_op[SETUP], metric)
            vals = [v] if v is not None else []
        out[metric] = vals or [0]
    return out


def report_counts(workload: str, values: dict[str, list[float]]) -> dict:
    """Flag exact-repeat counts that vary within the run or differ from
    this commit's recorded values."""
    ref_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "counts.json")
    with open(ref_path) as f:
        ref = json.load(f).get(workload, {})
    out = {}
    for name in REPEAT_COUNTS:
        seen = sorted(set(values[name]))
        known = ref.get(name)
        flags = []
        if len(seen) > 1 and name not in INPUT_DEPENDENT:
            flags.append("varies within the run")
        if known is not None and any(v not in known for v in seen):
            flags.append(f"changed from recorded {known}")
        out[name] = {"values": values[name], "recorded": known, "flags": flags}
        ok = "follows the input" if name in INPUT_DEPENDENT else "repeats"
        print(f"count {name} = {seen} {'; '.join(flags) or ok}")
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    if importlib.util.find_spec("pyspark") is None or not os.path.isdir(
        os.path.join(ROOT, "linkgraph")
    ):
        print("perfbench: run from a linkgraph checkout (linkgraph/ not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.check import Checker
    from perfbench.tracer import Tracer
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    work = os.path.join(WORK, f"{args.workload}-{os.getpid()}")
    untraced_path = os.path.join(WORK, f"untraced-{args.workload}-seed{args.seed}.json")
    isolate_scratch(work)
    become_subreaper()
    checker = Checker()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(work)
        session_start_s = time.perf_counter() - t0
        tracer = Tracer(spark.sparkContext, enabled=bool(args.trace))
        ctx = Ctx(spark, tracer, checker, work, args.seed)
        wl = WORKLOADS[args.workload](ctx)
        wl.setup()
        setup_s = time.perf_counter() - t0
        wl.prepare_checks()
        ops = measure(ctx, wl, args.seconds)

        walls = [r["wall"] for r in ops]
        failed = sum(not r["ok"] for r in ops)
        op_p50 = statistics.median(walls)
        print(f"{args.workload} seed={args.seed}: setup {setup_s:.3f} s "
              f"(session {session_start_s:.3f} s); {len(ops)} ops, {failed} failed; "
              f"op_p50_s {op_p50:.4f} over {len(ops)} samples; walls "
              + " ".join(f"{w:.3f}" for w in walls))
        if args.trace:
            values = layer_metrics(tracer, session_start_s, ops)
            metrics = {
                name: {"value": statistics.median(values[name]), "unit": unit}
                for name, unit in PER_LAYER
            }
            for name, _unit in PER_LAYER:
                print(f"layer {name} = {metrics[name]['value']:.6g}")
            counts = report_counts(args.workload, values)
            if os.path.exists(untraced_path):
                with open(untraced_path) as f:
                    base = json.load(f)["metrics"]["op_p50_s"]["value"]
                print(f"tracing overhead: op_p50_s {op_p50:.4f} traced - {base:.4f} "
                      f"untraced (same seed, this checkout) = {op_p50 - base:+.4f} s")
            else:
                print("tracing overhead: no untraced run of this workload and seed "
                      "in this checkout yet")
            tracer.dump(
                os.path.join(WORK, f"trace-{args.workload}-seed{args.seed}.json"),
                {"workload": args.workload, "seed": args.seed, "ops": ops,
                 "setup_s": setup_s, "layers": values, "counts": counts},
            )
        else:
            ok = [r for r in ops if r["ok"]]
            metrics = {
                "setup_s": {"value": setup_s, "unit": "s"},
                "op_p50_s": {"value": op_p50, "unit": "s"},
                "edge_iters_per_s": {
                    "value": statistics.median(r["edge_iters"] / r["wall"] for r in ok)
                    if ok else 0.0,
                    "unit": "1/s",
                },
                "ok_ratio": {"value": 1.0 - failed / len(ops), "unit": "ratio"},
                "driver_rss_mb": {
                    "value": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024,
                    "unit": "MB",
                },
            }
        result = {"correct": failed == 0, "attempted": len(ops), "failed": failed,
                  "metrics": metrics}
        if not args.trace:
            with open(untraced_path, "w") as f:
                json.dump(result, f)
    finally:
        if spark is not None:
            stop_spark(spark)
        checker.close()
        reap_children()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
