"""Partitioned adjacency shards — the engine's physical layout for iteration.

This is the Spark-first re-expression of the reference's distributed design
(/root/reference/main_mpi.c:67-154 + the OpenCL kernels):

reference                                   | here
--------------------------------------------|----------------------------------
contiguous node blocks sized by edge count  | dst-range buckets with exact
(main_mpi.c:88-108)                         | edge-balanced boundaries from the
                                            | in-degree CDF (a numpy prefix sum
                                            | over the collected n-row degree
                                            | table — the rowptr build of
                                            | pagerank_custom.h:128-134;
                                            | SURVEY §4 X4)
JDS degree-bucketing of skewed rows         | explicit hub split: vertices with
(readers/mtx_hybrid.h:39-221)               | in_degree > threshold get their
                                            | in-edge lists SALTED across
                                            | dedicated shards; partial sums
                                            | combined in a second level
                                            | (SURVEY §4 X3)
CSR block resident per MPI rank for the     | each gang task loads its shards
whole run (scattered at :122-126, reused    | ONCE, before the loop; the
every iteration)                            | decoded numpy arrays stay
                                            | resident for the whole solve
MPI_Allgatherv of the dense rank vector     | partial sums exchanged task-to-
every iteration (pagerank_custom_mpi.h:62)  | task inside one barrier gang
                                            | (plans/barrier.py)
OpenCL gather-scatter kernels               | numpy gather + bincount scatter
(kernels/pr_custom_matrix_in.cl:112-268)    | (csr_partials)
per-iteration scalar readback               | per-iteration norms returned once
(pagerank_custom.h:261-268)                 | per gang job

Why shard FILES instead of a cached DataFrame: feeding a cached relational
DataFrame back through the JVM→Arrow→Python pipe re-serializes every edge
every iteration and measures ~2M rows/s TOTAL regardless of core count (the
columnar cache is row-materialized before Arrow conversion) — an iteration-
scaling dead end. The whole PageRank loop runs inside one barrier gang
task per process (plans/barrier.py): each task loads its shards once, as
.npy CSR sidecars next to the parquet (the first load decodes the parquet
and writes them), and keeps the arrays for the whole solve, so iterations
exchange only O(n) partial sums, not O(m) edges, like the reference MPI
loop. The sidecars are the only shard cache: loading one is a file read,
where a decode re-reads the parquet and sorts it by dst. On a real
cluster the shard directory lives on DFS/object storage.

Scale notes (100 TB / 1000-executor design):

* Build cost: one O(m) degree aggregation, collected once to the driver
  (the fast path holds n-sized driver arrays anyway), + one O(m)
  join-pipeline write. Index, bucket and salt planning is numpy over the
  O(n) degree table; the n-row plan joins the edges broadcast when small,
  shuffle+AQE-skew otherwise.
* Per-iteration driver traffic is O(n_distinct_dst + hubs·salts) partial
  sums, not O(edges): dst-locality from range bucketing keeps each dst in
  ~1 shard (hubs in `salts` shards).
* The dense rank vector caps this fast path at vectors that fit executor
  memory (~10^9 vertices at 8 B/vertex) — the same envelope as the
  reference's MPI Allgatherv. Beyond that, `pagerank_dataframe` is the
  unbounded join-gather fallback (SURVEY §3.3).
* Shard count is tuned from the edge count (`tune_shuffle_partitions`) —
  the north rule's per-iteration shuffle tuning applies to the build and
  to the fallback path's per-iteration joins.
"""

from __future__ import annotations

import math
import os
import shutil
import tempfile
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from linkgraph.operators.degrees import in_degrees, out_degrees

# target edges per shard/partition task — small enough to fit comfortably in
# executor memory with headroom (per-edge state here is 3×8 B), large enough
# to amortize task overhead. ~8M edges ≈ 200 MB working set.
TARGET_EDGES_PER_SHARD = 8_000_000
# non-hub parts per requested shard: the in-degree CDF is cut into
# num_shards * 2 edge-balanced dst-range buckets, one part each
_BUCKETS_PER_SHARD = 2


def tune_shuffle_partitions(spark: SparkSession, m_edges: int, floor: int | None = None) -> int:
    """Pick shuffle/shard parallelism from observed edge mass (north rule:
    'shuffle partitioning tuned per iteration'). Called before every shuffle
    stage whose input size we know."""
    cores = spark.sparkContext.defaultParallelism
    floor = floor or cores
    p = max(floor, math.ceil(m_edges / TARGET_EDGES_PER_SHARD))
    spark.conf.set("spark.sql.shuffle.partitions", str(p))
    return p


def _decode_csr(path: str):
    """Returns (src_sorted, uniq_dst, starts, w_sorted) — ``w_sorted`` is a
    0-length array for unweighted shards (the sidecar marker for "no per-
    edge weight stream"), else the per-edge normalized weights in the same
    dst-sorted order as src (the COO data[] array of the reference,
    readers/mtx_sparse.h:123-132, re-sorted into our CSR layout)."""
    t = pq.read_table(path)
    src = t.column("src_idx").to_numpy(zero_copy_only=False)
    dst = t.column("dst_idx").to_numpy(zero_copy_only=False)
    w = (
        t.column("w").to_numpy(zero_copy_only=False).astype(np.float64)
        if "w" in t.column_names
        else np.empty(0, np.float64)
    )
    if len(dst) == 0:
        return src, np.empty(0, np.int64), np.empty(0, np.int64), w
    order = np.argsort(dst, kind="stable")
    src_s = np.ascontiguousarray(src[order])
    if len(w):
        w = np.ascontiguousarray(w[order])
    dst_s = dst[order]
    starts = np.flatnonzero(np.r_[True, np.diff(dst_s) != 0])
    uniq = dst_s[starts].astype(np.int64)
    return src_s, uniq, starts, w


def save_npy_atomic(path: str, arr: np.ndarray) -> None:
    """Write ``arr`` to ``path`` through a per-process tmp file and an
    atomic rename: a reader never sees a partial file, and concurrent
    writers of the same array are idempotent."""
    tmp = path + f".tmp{os.getpid()}.npy"
    np.save(tmp, arr)
    os.replace(tmp, path)


def load_csr_shard(path: str):
    """One shard in iteration-ready CSR form: src sorted by dst, plus the
    STATIC dst segment index (unique dst values + start offsets — the CSR
    rowptr, pagerank_custom.h:128-134, built once). Per iteration only src
    and the contrib vector are streamed; dst never touches memory again.
    Shards carry no per-edge weight when unweighted: 1/outdeg is a function
    of src, kept as one n-sized array per task (ShardedGraph.inv_od), so
    the per-edge stream is 4 B of int32 src.

    The decoded arrays are persisted as .npy sidecars next to the parquet
    (first toucher writes them, tmp+rename so concurrent creation is
    idempotent): re-opening a shard for a later solve on the same layout
    is a page-cache-speed file read, not a parquet decode + sort. The
    sidecar names start with "_", which pyarrow's dataset discovery skips,
    so a part dir holding only some of them still decodes. Arrays are
    loaded INTO RAM, not mmap'd — numpy fancy indexing with a memmap index
    array measures ~2× slower than with a plain ndarray, and the gather is
    the hot loop."""
    src_p, uniq_p, starts_p, w_p = (
        os.path.join(path, f"_csr_{k}.npy") for k in ("src", "uniq", "starts", "w")
    )
    # _csr_w is ALWAYS written (0-length for unweighted shards), so sidecar
    # completeness is a single all-exist check — a weighted shard can never
    # be mistaken for unweighted by a missing file
    if not all(os.path.exists(p) for p in (src_p, uniq_p, starts_p, w_p)):
        src_s, uniq, starts, wt = _decode_csr(path)
        for arr, dest in (
            (uniq, uniq_p), (starts, starts_p), (wt, w_p), (src_s, src_p)
        ):
            save_npy_atomic(dest, arr)
    src_s = np.load(src_p)
    uniq = np.load(uniq_p)
    starts = np.load(starts_p)
    wt = np.load(w_p)
    return (
        src_s,
        uniq,
        starts,
        _block_plan(starts, len(src_s)),
        wt if len(wt) else None,
    )


_GATHER_SCRATCH = np.empty(0, dtype=np.float64)
_OUT_SCRATCH = np.empty(0, dtype=np.float64)


# edges per kernel block: 64 KB of int32 src + 128 KB of gathered
# contributions stay L1/L2-resident; 8-64 KB blocks measured 449M
# gathers/s single-core and 9.0G/s at 32 procs, against a ~1.1G/s
# aggregate ceiling for shard-sized buffers (BENCH/BASELINE.md:83-90)
_KERNEL_BLOCK = 16384


def _block_plan(starts: np.ndarray, nnz: int):
    """Static per-shard plan for the L1-blocked gather+reduce kernel:
    for each ``_KERNEL_BLOCK``-edge slice of the shard, the range of CSR
    segments it touches and the reduceat indices local to the slice
    (segments spanning a slice boundary contribute partial sums that
    accumulate in the output — the carry). Built once per load."""
    if nnz == 0:
        return (
            np.empty(0, np.int64), np.empty(0, np.int64),
            np.empty(0, np.int64), np.empty(0, np.int64),
            np.empty(0, np.int64), np.zeros(1, np.int64),
        )
    los = np.arange(0, nnz, _KERNEL_BLOCK, dtype=np.int64)
    his = np.minimum(los + _KERNEL_BLOCK, nnz)
    s0 = np.searchsorted(starts, los, side="right") - 1
    s1 = np.searchsorted(starts, his, side="left")  # exclusive
    off = np.r_[0, np.cumsum(s1 - s0)]
    flat = np.empty(off[-1], np.int64)
    for b in range(len(los)):
        loc = starts[s0[b]:s1[b]] - los[b]
        if len(loc) and loc[0] < 0:
            loc[0] = 0
        flat[off[b]:off[b + 1]] = loc
    return los, his, s0, s1, flat, off


def csr_partials(shard, w_rank: np.ndarray):
    """One shard's SpMV partial sums: gather of the pre-divided vector
    w_rank = rank/outdeg (n-sized multiply hoisted out of the m-sized
    loop) fused with the segment reduce over the static CSR rowptr, in
    L1-resident blocks. The analogue of
    kernels/pr_custom_matrix_in.cl:141-151.

    Why blocked: a shard-sized gather scratch (the round-1 kernel) streams
    ~20 B/edge through the cache hierarchy (gather-write + reduceat-read of
    an nnz-sized contrib array) and collapses under multi-core contention —
    measured on this host, aggregate gather throughput saturates at
    ~1.1 G edges/s at 32 procs (8→32 scaling eff 0.24) no matter the DRAM
    headroom (130 GB/s measured via pure streams). With a 16 K-edge block
    (64 KB idx + 128 KB contrib, L1/L2-resident) the same gather runs
    ~1.7× faster single-core and ~6× faster at 32 procs (8→32 eff 0.86
    measured), because only the src stream (4 B/edge) leaves the core.
    Segments spanning block boundaries accumulate via += into the output
    (the first reduceat entry of a block carries onto the last entry of
    the previous block). The scratch buffers are worker-persistent: fresh
    per-call allocations mean mmap/munmap churn whose page zeroing + THP
    compaction measurably FREEZES the process for seconds at random."""
    src_s, uniq, starts, plan, wt = shard
    nnz = len(src_s)
    if nnz == 0:
        return uniq, np.empty(0, np.float64), 0
    los, his, s0, s1, flat, off = plan
    global _GATHER_SCRATCH, _OUT_SCRATCH
    if len(_GATHER_SCRATCH) < min(nnz, _KERNEL_BLOCK):
        _GATHER_SCRATCH = np.empty(_KERNEL_BLOCK, dtype=np.float64)
    if len(_OUT_SCRATCH) < len(starts):
        _OUT_SCRATCH = np.empty(len(starts), dtype=np.float64)
    out = _OUT_SCRATCH[: len(starts)]
    out[:] = 0.0
    scratch = _GATHER_SCRATCH
    take, reduceat = np.take, np.add.reduceat
    for b in range(len(los)):
        lo, hi = los[b], his[b]
        c = scratch[: hi - lo]
        take(w_rank, src_s[lo:hi], out=c)
        if wt is not None:
            # weighted graphs: per-edge normalized weight stream (the COO
            # data[] array) — one extra L1-resident multiply per block
            c *= wt[lo:hi]
        out[s0[b]:s1[b]] += reduceat(c, flat[off[b]:off[b + 1]])
    # callers may hold the result across subsequent csr_partials calls
    # (per_shard lists in the barrier loop) — hand back a copy, not the
    # reused scratch
    return uniq, out.copy(), nnz


# distributed rank materialization: executors read their [lo, hi) slice of
# the published node_ids/rank arrays — the n-row result table never funnels
# through a driver createDataFrame (round-2 VERDICT's one O(n) driver
# serialization point on the flagship path).
_RANKS_SCHEMA = "node long, rank double"
_RANKS_CHUNK = 1 << 20  # rows per Arrow batch (~16 MB)


def _make_ranks_reader(node_ids_path: str, rank_path: str):
    """Arrow kernel: rows are (lo, hi) vertex-segment descriptors; each task
    mmap-slices the published node_ids.npy / rank vector file (shared
    storage, the same assumption as the shard files) and emits its segment as
    [node, rank] batches — only the slice is ever faulted into memory."""

    def read(batches):
        ids = np.load(node_ids_path, mmap_mode="r")
        rk = np.load(rank_path, mmap_mode="r")
        for b in batches:
            for lo, hi in zip(b.column("lo").to_pylist(), b.column("hi").to_pylist()):
                for c in range(lo, hi, _RANKS_CHUNK):
                    ce = min(c + _RANKS_CHUNK, hi)
                    yield pa.RecordBatch.from_arrays(
                        [
                            pa.array(np.asarray(ids[c:ce], dtype=np.int64)),
                            pa.array(np.asarray(rk[c:ce], dtype=np.float64)),
                        ],
                        names=["node", "rank"],
                    )

    return read


def _shard_paths(shard_dir: str) -> list[tuple[int, str]]:
    """[(part, path)], one entry per part dir, part-ascending."""
    return sorted(
        (int(d.split("=")[1]), os.path.join(shard_dir, d))
        for d in os.listdir(shard_dir)
        if d.startswith("part=")
    )


@dataclass
class ShardedGraph:
    """Edge-balanced + hub-salted shard files ready to iterate."""

    spark: SparkSession
    parts: list[tuple[int, str]]  # [(part, path)], part-ascending
    shard_dir: str
    node_ids: np.ndarray  # sorted long[n]; idx = position (driver copy)
    dangling_mask: np.ndarray  # bool[n]
    inv_od: np.ndarray  # float64[n], 1/outdeg (0 for dangling)
    n: int
    m: int
    num_shards: int
    hub_count: int
    hub_threshold: int
    weighted: bool = False  # per-edge w stream present; inv_od is a 0/1 mask
    _owns_dir: bool = True

    @staticmethod
    def build(
        edges: DataFrame,
        num_shards: int | None = None,
        hub_salt_factor: float = 1.0,
        shard_dir: str | None = None,
        weight_col: str | None = None,
    ) -> "ShardedGraph":
        """One-time build: collect the n-row degree table once, plan the
        index, buckets and hub salts on it in numpy, then index + part the
        edges and write one parquet dir per shard. ``shard_dir`` defaults
        to a local temp dir (on a cluster: a DFS path). One O(m)
        aggregation + one O(m) write pipeline.

        ``weight_col`` builds a WEIGHTED layout: parallel edges are summed,
        each edge stores its normalized transition probability w / Σ_out w
        as a per-edge ``w`` column (the reference's COO data[] slot,
        readers/mtx_sparse.h:123-132), and ``inv_od`` degenerates to a
        0/1 dangling mask — the iteration kernels then gather
        rank·mask and multiply by the weight stream, so weighted PageRank
        runs through the SAME sharded/barrier engines as unweighted
        (semantics identical to pagerank_dataframe's weight_col, loud
        guard on non-positive total out-weight included)."""
        spark = edges.sparkSession
        owns = shard_dir is None
        shard_dir = shard_dir or tempfile.mkdtemp(prefix="lg_shards_")

        weighted = weight_col is not None
        if weighted:
            agg_e = edges.groupBy("src", "dst").agg(
                F.sum(F.col(weight_col).cast("double")).alias("_w")
            )
            sums = agg_e.groupBy("src").agg(F.sum("_w").alias("_ow"))
            wedges = (
                agg_e.join(sums, "src")
                .select(
                    "src",
                    "dst",
                    F.when(F.col("_ow") > 0, F.col("_w") / F.col("_ow"))
                    .otherwise(
                        F.raise_error(
                            F.concat(
                                F.lit(
                                    "ShardedGraph.build: non-positive total "
                                    "out-weight for src "
                                ),
                                F.col("src").cast("string"),
                            )
                        ).cast("double")
                    )
                    .alias("w"),
                )
                .persist()
            )
            wedges.count()  # fires the out-weight guard before any write
        else:
            wedges = None

        # 1) the degree table (the reference scan's histograms,
        #    helpers/file_helper.h:65-88) — the only O(m) aggregation,
        #    collected once. Weighted layouts bucket/salt on the AGGREGATED
        #    pair table's in-degrees (the actual per-dst row counts in the
        #    shards); out_deg always comes from the raw table — it only
        #    feeds the node set and the dangling mask.
        deg = (
            out_degrees(edges)
            .join(in_degrees(wedges if weighted else edges), "node", "full_outer")
            .select(
                "node",
                F.coalesce("out_deg", F.lit(0)).alias("out_deg"),
                F.coalesce("in_deg", F.lit(0)).alias("in_deg"),
            )
            .toPandas()
            .sort_values("node")
        )
        n = len(deg)
        if n == 0:
            raise ValueError("ShardedGraph.build: empty graph")
        node_ids = deg["node"].to_numpy()  # sorted; idx = position
        in_deg = deg["in_deg"].to_numpy()
        m = int(in_deg.sum())
        num_shards = num_shards or tune_shuffle_partitions(spark, m)
        n_buckets = num_shards * _BUCKETS_PER_SHARD

        # 2) bucket/salt plan: exact edge-balanced boundaries from the
        #    exclusive in-degree CDF in idx order (the CSR rowptr prefix
        #    sum, pagerank_custom.h:128-134), hub split where
        #    in_deg > threshold (JDS precedent, mtx_hybrid.h:39-221).
        hub_threshold = max(1, int(hub_salt_factor * m / num_shards))
        per_bucket = max(1, math.ceil(m / n_buckets))
        cdf = np.cumsum(in_deg) - in_deg
        bucket = np.minimum(n_buckets - 1, (cdf / per_bucket).astype(np.int64))
        hub = in_deg > hub_threshold
        # cap: splitting one hub beyond the shard count adds task overhead
        # without adding parallelism (each salt is a task)
        salts = np.where(
            hub, np.minimum(np.ceil(in_deg / hub_threshold), max(2, num_shards)), 0
        ).astype(np.int64)
        # hub salt ranges follow the buckets, in idx order
        base = np.where(hub, n_buckets + np.cumsum(salts) - salts, bucket)
        hub_count = int(hub.sum())
        n_parts = n_buckets + int(salts.sum())

        # 3) the O(m) pipeline: index + part assignment, one shuffle into
        #    shard layout, one parquet dir per part id. No per-edge weight
        #    column: 1/outdeg ships once as an n-array (X1 gather hoisting,
        #    done n-sized instead of m-sized). int32 indices while n < 2^31
        #    — halves the iteration memory stream, and is the type the hub
        #    salt hashes.
        idx_t = "int" if n < 2**31 else "long"
        plan = spark.createDataFrame(
            pd.DataFrame({
                "node": node_ids,
                "idx": np.arange(n, dtype=np.int32 if n < 2**31 else np.int64),
                "base": base.astype(np.int32),
                "salts": salts.astype(np.int32),
            }),
            f"node long, idx {idx_t}, base int, salts int",
        )
        # the n-row plan broadcasts explicitly while it plausibly fits
        # executor memory (~20 B/row; 50M rows ~ 1 GB): without the hint
        # its size estimate routes the m-row joins through sort-merge
        # shuffles of the edge table. Beyond the cutoff (1e9-vertex graphs)
        # the joins shuffle — correct either way.
        _bc = F.broadcast if n <= 50_000_000 else (lambda df: df)
        edge_src = wedges if weighted else edges.select("src", "dst")
        src_side = plan.select(F.col("node").alias("src"), F.col("idx").alias("src_idx"))
        dst_side = plan.select(
            F.col("node").alias("dst"), F.col("idx").alias("dst_idx"), "base", "salts"
        )
        out_cols = ["src_idx", "dst_idx"] + (["w"] if weighted else []) + ["part"]
        (
            edge_src
            .join(_bc(src_side), "src")
            .join(_bc(dst_side), "dst")
            .withColumn(
                "part",
                F.when(
                    F.col("salts") > 0,
                    F.col("base") + F.pmod(F.xxhash64("src_idx"), F.col("salts")),
                ).otherwise(F.col("base")).cast("int"),
            )
            .select(*out_cols)
            # hash- not range-repartition, deliberately: dense part ids make
            # hash%n_parts collide (~1/e of write tasks empty, a few carrying
            # 2-4 parts — a bounded write-stage tail), but a range
            # repartition would SAMPLE the child to pick boundaries, i.e.
            # execute the m-row joins twice. At scale the doubled map work
            # costs more than the write tail (measured equal at sf0.1).
            .repartition(n_parts, "part")
            .write.mode("overwrite")
            .partitionBy("part")
            .parquet(shard_dir)
        )
        if wedges is not None:
            wedges.unpersist()

        # driver-side vertex state (same envelope as the MPI design's
        # per-rank dense vector): 1/outdeg array + dangling mask — the
        # leaves[] list of custom_matrix.h:40-59
        out_deg = deg["out_deg"].to_numpy().astype(np.float64)
        dangling_mask = out_deg == 0
        if weighted:
            # weights ship pre-normalized per edge; the n-vector is just the
            # dangling mask (gather rank·1, multiply by the w stream)
            inv_od = np.where(dangling_mask, 0.0, 1.0)
        else:
            inv_od = np.where(dangling_mask, 0.0, 1.0 / np.where(dangling_mask, 1.0, out_deg))
        np.save(os.path.join(shard_dir, "inv_od.npy"), inv_od)
        np.save(os.path.join(shard_dir, "node_ids.npy"), node_ids)
        import json

        with open(os.path.join(shard_dir, "meta.json"), "w") as f:
            json.dump(
                {"n": n, "m": m, "num_shards": num_shards,
                 "hub_count": hub_count, "hub_threshold": hub_threshold,
                 "weighted": weighted},
                f,
            )

        return ShardedGraph(
            spark=spark,
            parts=_shard_paths(shard_dir),
            shard_dir=shard_dir,
            node_ids=node_ids,
            dangling_mask=dangling_mask,
            inv_od=inv_od,
            n=n,
            m=m,
            num_shards=num_shards,
            hub_count=hub_count,
            hub_threshold=hub_threshold,
            weighted=weighted,
            _owns_dir=owns,
        )

    @staticmethod
    def load(spark: SparkSession, shard_dir: str) -> "ShardedGraph":
        """Reopen a previously built shard layout (meta.json + *.npy + the
        part dirs) without touching the edge table — a built layout is a
        reusable physical artifact, like the reference's formatted matrix
        files."""
        import json

        with open(os.path.join(shard_dir, "meta.json")) as f:
            meta = json.load(f)
        inv_od = np.load(os.path.join(shard_dir, "inv_od.npy"))
        node_ids = np.load(os.path.join(shard_dir, "node_ids.npy"))
        return ShardedGraph(
            spark=spark,
            parts=_shard_paths(shard_dir),
            shard_dir=shard_dir,
            node_ids=node_ids,
            dangling_mask=inv_od == 0.0,
            inv_od=inv_od,
            n=meta["n"],
            m=meta["m"],
            num_shards=meta["num_shards"],
            hub_count=meta["hub_count"],
            hub_threshold=meta["hub_threshold"],
            weighted=meta.get("weighted", False),
            _owns_dir=False,
        )

    def ranks_df(self, vector_path: str) -> DataFrame:
        """Distributed [node: long, rank: double] materialization of an
        n-vector published at ``vector_path`` (an .npy file, written with
        an atomic rename — the gang's task 0 publishes each result to a
        unique file under ``shard_dir``): ~cores executor tasks mmap-slice
        node_ids.npy + the vector file and emit Arrow batches. The n-row
        result never passes through a driver ``createDataFrame`` — at
        n≈10^9 that single-process serialization was the last O(n) driver
        choke point on the flagship path (round-2 VERDICT #1). The
        returned plan reads files under ``shard_dir``: callers that own a
        temp dir must pin the result (``localCheckpoint(eager=True)``)
        before ``unpersist`` removes the directory."""
        parts = max(
            1,
            min(
                self.spark.sparkContext.defaultParallelism,
                math.ceil(self.n / _RANKS_CHUNK),
            ),
        )
        bounds = np.linspace(0, self.n, parts + 1).astype(np.int64)
        seg = self.spark.createDataFrame(
            [(int(bounds[i]), int(bounds[i + 1])) for i in range(parts)],
            "lo long, hi long",
        ).repartition(parts)
        return seg.mapInArrow(
            _make_ranks_reader(
                os.path.join(self.shard_dir, "node_ids.npy"), vector_path
            ),
            _RANKS_SCHEMA,
        )

    def unpersist(self):
        if self._owns_dir:
            shutil.rmtree(self.shard_dir, ignore_errors=True)
