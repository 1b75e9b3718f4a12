"""Similarity search over an embedding column (array<float>).

* ``cosine_topk``      — brute-force exact top-k: broadcast the (small) query
                         set, score with Catalyst array expressions
                         (zip_with/aggregate — JVM-side, codegen'd), window
                         top-k. The baseline every approximate path is
                         measured against.
* ``cosine_topk_arrow``— same result via a numpy matmul inside mapInArrow
                         (one BLAS GEMM per Arrow batch against the broadcast
                         query matrix) — the throughput path when queries
                         are many; exactness asserted against cosine_topk.
* ``lsh_topk``         — random-hyperplane (sign) LSH: deterministic ±1
                         Rademacher planes derived from xxhash64(plane, dim),
                         bucket join on the bit signature, exact re-rank
                         within bucket. The scale path: candidate set shrinks
                         ~2^bits-fold; recall traded via ``bits``/``probes``.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _cosine(a, b):
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, v: s + v)
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda s, v: s + v * v))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda s, v: s + v * v))
    return dot / (na * nb)


def cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """[query_id, neighbor_id, cosine, rank] — exact brute force.

    queries: same schema as embeddings (id + vector). Self-matches excluded.
    Plan: broadcast-nested-loop of |Q|×|N| with JVM-side arithmetic; right
    side scales out, left side must be broadcastable (that is what 'query
    set' means here)."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    )
    e = embeddings.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("nv"),
    )
    scored = (
        F.broadcast(q)
        .crossJoin(e)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", _cosine(F.col("qv"), F.col("nv")).alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def cosine_topk_arrow(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Same contract as cosine_topk; scoring via numpy GEMM per Arrow batch.
    Each partition emits its local top-k per query; the global top-k is a
    final window over (num_partitions × k) rows per query — never the full
    score matrix."""
    spark = embeddings.sparkSession
    qp = queries.select(id_col, vec_col).toPandas()
    q_ids = qp[id_col].to_numpy()
    q_mat = np.stack(qp[vec_col].to_numpy()).astype(np.float64)
    q_mat /= np.linalg.norm(q_mat, axis=1, keepdims=True)
    bc = spark.sparkContext.broadcast((q_ids, q_mat))

    def score(batches):
        ids, qm = bc.value
        kk = k
        for b in batches:
            nid = b.column(0).to_numpy(zero_copy_only=False)
            # zero-copy vector extraction: flatten the Arrow list buffer and
            # reshape — no per-row Python objects (to_pylist + np.stack was
            # row-at-a-time churn in an otherwise vectorized kernel)
            col = b.column(1)
            flat = col.flatten().to_numpy(zero_copy_only=False)
            vecs = flat.reshape(len(col), -1).astype(np.float64)
            vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
            sims = qm @ vecs.T  # (Q, B) GEMM — the whole kernel
            for qi in range(len(ids)):
                row = sims[qi]
                mask = nid != ids[qi]
                cand_idx = np.nonzero(mask)[0]
                if len(cand_idx) == 0:
                    continue
                top = cand_idx[np.argsort(-row[cand_idx], kind="stable")[:kk]]
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(np.full(len(top), ids[qi], dtype=np.int64)),
                        pa.array(nid[top].astype(np.int64)),
                        pa.array(row[top]),
                    ],
                    names=["query_id", "neighbor_id", "cosine"],
                )

    partial = embeddings.select(id_col, vec_col).mapInArrow(
        score, "query_id long, neighbor_id long, cosine double"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return partial.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def hyperplane_signature(
    df: DataFrame, vec_col: str = "embedding", bits: int = 12, seed: int = 42
) -> DataFrame:
    """Append a ``sig`` long column: sign-LSH signature from deterministic
    Rademacher (±1) hyperplanes; plane p, dim i entry = ±1 from
    xxhash64(p, i, seed). Pure Catalyst array arithmetic."""
    v = F.col(vec_col)
    bit_cols = []
    for p in range(bits):
        signs = F.transform(
            F.sequence(F.lit(0), F.size(v) - 1),
            lambda i: F.when(
                F.pmod(F.xxhash64(F.lit(p), i, F.lit(seed)), F.lit(2)) == 0, F.lit(1.0)
            ).otherwise(F.lit(-1.0)),
        )
        dot = F.aggregate(
            F.zip_with(v.cast("array<double>"), signs, lambda x, s: x * s),
            F.lit(0.0),
            lambda s, x: s + x,
        )
        bit_cols.append(
            F.when(dot >= 0, F.shiftleft(F.lit(1).cast("long"), p)).otherwise(F.lit(0).cast("long"))
        )
    sig = bit_cols[0]
    for b in bit_cols[1:]:
        sig = sig.bitwiseOR(b)
    return df.withColumn("sig", sig)


def _multi_signature(df: DataFrame, out_id: str, vec_col: str, bits: int,
                     tables: int, seed: int) -> DataFrame:
    """[out_id, v, tbl, sig] — one signature row per (vector, hash table).
    Table t's planes are seeded with seed + t·1009 so tables are independent."""
    sigs = df
    for t in range(tables):
        sigs = hyperplane_signature(sigs, vec_col, bits, seed + t * 1009).withColumnRenamed(
            "sig", f"sig_{t}"
        )
    tbl_structs = F.array(
        *[
            F.struct(F.lit(t).alias("tbl"), F.col(f"sig_{t}").alias("sig"))
            for t in range(tables)
        ]
    )
    return sigs.select(
        out_id, vec_col, F.explode(tbl_structs).alias("ts")
    ).select(out_id, vec_col, F.col("ts.tbl").alias("tbl"), F.col("ts.sig").alias("sig"))


def lsh_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    bits: int = 10,
    tables: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k with multi-table sign-LSH: candidates = union over
    ``tables`` independent hash tables of same-bucket vectors, deduped, then
    exact cosine re-rank. Recall = 1-(1-p^bits)^tables for collision prob p
    (Indyk-Motwani amplification); cost is bounded by bucket sizes, never
    all-pairs. Returns [query_id, neighbor_id, cosine, rank]."""
    e = _multi_signature(
        embeddings.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("nv")),
        "neighbor_id", "nv", bits, tables, seed,
    )
    q = _multi_signature(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")),
        "query_id", "qv", bits, tables, seed,
    )
    cand = (
        F.broadcast(q)
        .join(e, ["tbl", "sig"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", "qv", "nv")
        .dropDuplicates(["query_id", "neighbor_id"])
        .select(
            "query_id",
            "neighbor_id",
            _cosine(F.col("qv").cast("array<double>"), F.col("nv").cast("array<double>")).alias(
                "cosine"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return cand.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def md5_rademacher_planes(
    bits: int, dims: int, seed: int
) -> list[list[int]]:
    """±1 hyperplane matrix [bits][dims] derived from md5 at PLAN-BUILD
    time (python hashlib): plane p, dim i = +1 iff the first hex digit of
    md5(f"{p}|{i}|{seed}") is even. Because the signs are computed before
    the plan exists, the Spark expression and the DuckDB twin share the
    IDENTICAL literals — no cross-engine hash function needed at all."""
    import hashlib

    return [
        [
            1
            if int(hashlib.md5(f"{p}|{i}|{seed}".encode()).hexdigest()[0], 16) % 2 == 0
            else -1
            for i in range(dims)
        ]
        for p in range(bits)
    ]


def lsh_topk_md5(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    bits: int = 8,
    tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    dims: int = 64,
    quant: int = 1024,
) -> DataFrame:
    """Value-oracle twin of ``lsh_topk`` — same multi-table sign-LSH
    recall amplification, engineered so every stage is cross-engine
    bit-deterministic:

    * hyperplanes are ±1 LITERALS (md5_rademacher_planes, computed in
      python before the plan) — identical constants in the DuckDB twin;
    * embeddings are quantized to integers (floor(x·quant + 0.5)) before
      the plane dot products, so BUCKET ASSIGNMENT is exact integer
      arithmetic — no near-zero float sign flips between engines;
    * the exact-cosine re-rank orders on the floor-scaled key
      floor(cosine·1e10 + 0.5) with an id tie-break (the sweep-cut
      ordering rule), and _cosine's sequential left-fold matches a
      left-associated SQL sum chain term for term.

    The xxhash64 ``lsh_topk`` stays the production path (long signatures,
    no 2k-term expressions). A vector whose length is not ``dims`` raises
    (zip_with would null-pad it into the all-"0" bucket). Returns
    [query_id, neighbor_id, cosine, rank]."""
    qi = F.when(
        F.size(vec_col) == dims,
        F.transform(
            F.col(vec_col),
            lambda x: F.floor(x.cast("double") * F.lit(float(quant)) + F.lit(0.5)).cast(
                "long"
            ),
        ),
    ).otherwise(
        F.raise_error(
            F.format_string(
                f"lsh_topk_md5: %s has %d dims, expected {dims}",
                F.col(id_col).cast("string"),
                F.size(vec_col),
            )
        )
    )

    def signatures(df, out_id):
        base = df.select(
            F.col(id_col).alias(out_id),
            F.col(vec_col).alias("v"),
            qi.alias("vq"),
        )
        entries = []
        for t in range(tables):
            planes = md5_rademacher_planes(bits, dims, seed + t * 1009)
            bit_chars = []
            for p in range(bits):
                lits = F.array(*[F.lit(s) for s in planes[p]])
                dot = F.aggregate(
                    F.zip_with(lits, F.col("vq"), lambda s, x: s * x),
                    F.lit(0).cast("long"),
                    lambda acc, x: acc + x,
                )
                bit_chars.append(F.when(dot >= 0, F.lit("1")).otherwise(F.lit("0")))
            entries.append(
                F.struct(F.lit(t).alias("tbl"), F.concat(*bit_chars).alias("sig"))
            )
        return base.select(
            out_id, "v", F.explode(F.array(*entries)).alias("ts")
        ).select(out_id, "v", F.col("ts.tbl").alias("tbl"), F.col("ts.sig").alias("sig"))

    e = signatures(embeddings, "neighbor_id")
    q = signatures(queries, "query_id")
    cand = (
        F.broadcast(q.withColumnRenamed("v", "qv"))
        .join(e.withColumnRenamed("v", "nv"), ["tbl", "sig"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", "qv", "nv")
        .dropDuplicates(["query_id", "neighbor_id"])
        .select(
            "query_id",
            "neighbor_id",
            _cosine(
                F.col("qv").cast("array<double>"), F.col("nv").cast("array<double>")
            ).alias("cosine"),
        )
    )
    from linkgraph.fp import floor_scale_key

    ckey = floor_scale_key(F.col("cosine"), 10)
    w = Window.partitionBy("query_id").orderBy(ckey.desc(), F.asc("neighbor_id"))
    return cand.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def ivf_topk_quant(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 8,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quant: int = 1024,
) -> DataFrame:
    """Value-oracle twin of ``ivf_topk`` — the same IVF layout (coarse
    cells, n_probe nearest cells per query, exact re-rank within probed
    cells) with every stage cross-engine bit-deterministic:

    * centroids = the ``n_cells`` smallest-id vectors (the kmeans_round
      min-id init — no float Lloyd iteration in the quantizer);
    * cell assignment by INTEGER squared distance on floor(x·quant+0.5)
      quantized values, ties to the smaller cell — exact arithmetic, no
      engine-order float sums;
    * probe ranking by the same integer metric; cosine re-rank on the
      floor-scaled key (lsh_topk_md5's ordering rule).

    The pyspark.ml KMeans ``ivf_topk`` stays the production path.
    Returns [query_id, neighbor_id, cosine, rank]."""
    cents = embeddings.orderBy(id_col).limit(n_cells).collect()
    # exact floor(x*quant + 0.5) in python (matches F.floor on doubles)
    import math

    cq = [
        [int(math.floor(float(x) * quant + 0.5)) for x in r[vec_col]]
        for r in cents
    ]

    vq = F.transform(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") * F.lit(float(quant)) + F.lit(0.5)).cast(
            "long"
        ),
    )

    def dist2(cell_vals):
        lits = F.array(*[F.lit(c) for c in cell_vals])
        return F.aggregate(
            F.zip_with(F.col("vq"), lits, lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    def with_cells(df, out_id, keep_vec):
        base = df.select(
            F.col(id_col).alias(out_id), F.col(vec_col).alias(keep_vec), vq.alias("vq")
        )
        structs = F.array(
            *[
                F.struct(dist2(cq[c]).alias("d2"), F.lit(c).alias("cell"))
                for c in range(n_cells)
            ]
        )
        return base.withColumn("cells", F.array_sort(structs))

    assigned = with_cells(embeddings, "neighbor_id", "nv").select(
        "neighbor_id", "nv", F.col("cells")[0]["cell"].alias("cell")
    )
    probes = (
        with_cells(queries, "query_id", "qv")
        .select(
            "query_id",
            "qv",
            F.explode(F.slice("cells", 1, n_probe)).alias("pc"),
        )
        .select("query_id", "qv", F.col("pc.cell").alias("cell"))
    )
    cand = (
        F.broadcast(probes)
        .join(assigned, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            _cosine(
                F.col("qv").cast("array<double>"), F.col("nv").cast("array<double>")
            ).alias("cosine"),
        )
    )
    from linkgraph.fp import floor_scale_key

    ckey = floor_scale_key(F.col("cosine"), 10)
    w = Window.partitionBy("query_id").orderBy(ckey.desc(), F.asc("neighbor_id"))
    return cand.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: k-means cells over the corpus
    (pyspark.ml KMeans — one pass to assign), queries probe their
    ``n_probe`` nearest centroids, exact cosine re-rank within the probed
    cells. The classic coarse-quantizer ANN layout (IVFFlat); recall is
    traded via n_probe, candidate count shrinks ~n_cells/n_probe-fold.
    Returns [query_id, neighbor_id, cosine, rank]."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    e = embeddings.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("nv"),
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features"),
    )
    km = KMeans(k=n_cells, seed=seed, maxIter=10).fit(e.select("features"))
    assigned = km.transform(e).select(
        "neighbor_id", "nv", F.col("prediction").alias("cell")
    )

    centers = km.clusterCenters()
    spark = embeddings.sparkSession
    cdf = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(centers)],
        "cell int, center array<double>",
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    # probe the n_probe nearest centroids per query (centroid table is tiny)
    qc = (
        F.broadcast(q)
        .crossJoin(F.broadcast(cdf))
        .select(
            "query_id", "qv", "cell",
            _cosine(F.col("qv").cast("array<double>"), F.col("center")).alias("csim"),
        )
    )
    wprobe = Window.partitionBy("query_id").orderBy(F.desc("csim"), F.asc("cell"))
    probes = qc.withColumn("pr", F.row_number().over(wprobe)).filter(
        F.col("pr") <= n_probe
    ).select("query_id", "qv", "cell")

    cand = (
        F.broadcast(probes)
        .join(assigned, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            _cosine(F.col("qv").cast("array<double>"), F.col("nv").cast("array<double>")).alias(
                "cosine"
            ),
        )
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return cand.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def embedding_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    bits: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs [a, b, cosine] with cosine >=
    threshold, LSH-bucketed so the pair join is within-bucket only."""
    e = hyperplane_signature(
        embeddings.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v")), "v", bits, seed
    )
    l = e.select(F.col("id").alias("a"), F.col("v").alias("va"), "sig")
    r = e.select(F.col("id").alias("b"), F.col("v").alias("vb"), "sig")
    return (
        l.join(r, "sig")
        .filter(F.col("a") < F.col("b"))
        .select(
            "a",
            "b",
            _cosine(F.col("va").cast("array<double>"), F.col("vb").cast("array<double>")).alias(
                "cosine"
            ),
        )
        .filter(F.col("cosine") >= threshold)
        .distinct()
    )


def cosine_pairs_exact(
    embeddings: DataFrame,
    threshold: float = 0.35,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All-pairs cosine-threshold pairs [a, b, cosine] — the exactness
    baseline for embedding near-duplicate detection (no bucketing,
    no recall loss). The right side is broadcast, so Spark plans a
    broadcast nested-loop join on ``a < b``: correct at query/validation
    scales only. At corpus scale use ``embedding_near_dup_pairs``
    (hyperplane-LSH bucketed: candidate pairs are generated within
    buckets only, never all-pairs)."""
    left = embeddings.select(
        F.col(id_col).alias("a"), F.col(vec_col).cast("array<double>").alias("va")
    )
    right = embeddings.select(
        F.col(id_col).alias("b"), F.col(vec_col).cast("array<double>").alias("vb")
    )
    return (
        left.join(F.broadcast(right), F.col("a") < F.col("b"))
        .select("a", "b", _cosine(F.col("va"), F.col("vb")).alias("cosine"))
        .filter(F.col("cosine") >= F.lit(threshold))
    )


def label_centroids(
    embeddings: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Per-label mean vector — the embedding-table profile (cluster
    centers of the labeled corpus). Returns [label, n_vecs, centroid]
    with centroid ordered by dimension.

    Plan: one posexplode to (label, dim, x), a partial+final avg keyed by
    (label, dim) — the only big shuffle, pre-aggregated map-side — then an
    array_sort(collect_list) reassembly per label (labels × dims rows by
    then). The long (label, dim) form is what the DuckDB oracle checks."""
    dims = embeddings.select(
        F.col(label_col).alias("label"),
        F.posexplode(F.col(vec_col)).alias("dim", "x"),
    )
    per_dim = dims.groupBy("label", "dim").agg(
        F.avg("x").alias("c"), F.count(F.lit(1)).alias("n")
    )
    return per_dim.groupBy("label").agg(
        F.max("n").alias("n_vecs"),
        F.expr(
            "transform(array_sort(collect_list(struct(dim, c))), s -> s.c)"
        ).alias("centroid"),
    )


def centroid_cosines(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Cosine of every vector to its own label's centroid — the standard
    embedding-coherence / outlier signal (a low cosine marks a vector that
    disagrees with its cluster; threshold it for label-noise pruning at
    corpus scale). Returns [<id_col>, label, cosine].

    Plan: centroids (tiny — one row per label) broadcast-joined onto the
    embedding table, cosine via zip_with/aggregate JVM-side. One scan of
    the big table, zero explodes on the big side."""
    cents = label_centroids(embeddings, vec_col=vec_col, label_col=label_col)
    e = embeddings.select(
        F.col(id_col), F.col(label_col).alias("label"), F.col(vec_col).alias("v")
    )
    j = e.join(
        F.broadcast(cents.select("label", F.col("centroid").alias("c"))), "label"
    )
    return j.select(
        F.col(id_col),
        "label",
        _cosine(F.col("v").cast("array<double>"), F.col("c")).alias("cosine"),
    )
