"""Driver contract for the spark-graft builder (PySpark target).

Each ``queries()`` entry exercises one operator family from SURVEY.md §2 /
§2.9 or a training-data pipeline operator, over the driver's parquet tables;
``oracle_sql()`` gives the DuckDB-equivalent ANSI SQL. The canonical graph
for the graph queries is derived from ``events``:

* bipartite edges  : 'u:'||user_id -> 'e:'||event_type   (one per event;
                     multi-edges kept — reference semantics, SURVEY §1.4)
* transition edges : 'e:'||prev_type -> 'e:'||type per user ordered by
                     (ts, event_id) — the reply-edge rule shape (lag window)

Convergence-loop algorithms (full PageRank, LPA fixpoint) have no tractable
ANSI-SQL equivalent and take the rows-only check — but their LOOP BODIES
are value-checked: fixed-k variants (`pagerank_k5`, `pagerank_b_k5`,
`lpa_k3`) unroll the recurrence into chained CTEs that DuckDB evaluates
exactly, and connected components gets an exact oracle via a recursive
reachability CTE.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

D = 0.85


def _fs(col, digits):
    """Boundary-safe contract rounding: floor(x * 10^d + 0.5) / 10^d in
    plain IEEE-double ops.

    Why not round(): Spark implements round(double, d) via exact-decimal
    BigDecimal HALF_UP while DuckDB scales the float — and the two can
    disagree by one step when x sits exactly on (or within 1 ulp of) a
    representable d+1-digit .5 boundary. Exact integer-ratio metrics
    (conductance = cut/vol, jaccard = |∩|/|∪|, …) land on such boundaries
    with non-negligible probability, which is precisely what flipped the
    round-4 driver hashes for conductance/modularity (local DuckDB 1.0.0
    agreed, the driver's build did not). floor/*/+// are correctly-rounded
    IEEE-754 ops in BOTH engines and every version of them, so this
    expression is bit-deterministic given identical x. The DuckDB twins are
    rewritten to the identical expression centrally in oracle_sql() (see
    _floorscale_sql). The single Spark-side implementation lives in
    linkgraph/fp.py — every operator-internal copy delegates there too,
    so the two sides cannot drift."""
    from linkgraph.fp import floor_scale

    return floor_scale(col, digits)


def _floorscale_sql(sql: str) -> str:
    """Rewrite every ``round(expr, d)`` in a DuckDB oracle to the
    floor-scale expression ``floor((expr) * 1e{d} + 0.5) / 1e{d}`` — the
    exact IEEE twin of _fs() above. Paren-aware (expr may contain nested
    calls); innermost-first so nested rounds also rewrite."""
    out = sql
    while True:
        i = out.find("round(")
        # skip names like row_number() that merely contain "round"? none do;
        # but guard against identifiers ending in "round" (e.g. background)
        while i > 0 and (out[i - 1].isalnum() or out[i - 1] == "_"):
            i = out.find("round(", i + 1)
        if i < 0:
            return out
        j = i + len("round(")
        depth, comma = 1, -1
        k = j
        while depth:
            ch = out[k]
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            elif ch == "," and depth == 1:
                comma = k
            k += 1
        inner = out[j : comma if comma >= 0 else k - 1].strip()
        digits = int(out[comma + 1 : k - 1].strip()) if comma >= 0 else 0
        # self-parenthesized so the rewrite is precedence-safe wherever the
        # round() sat (nested in another round's argument, right of '/', …)
        repl = f"(floor(({inner}) * 1e{digits} + 0.5) / 1e{digits})"
        out = out[:i] + repl + out[k:]


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _bipartite_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events(spark, sf_dir)
    return e.select(
        F.concat(F.lit("u:"), F.col("user_id")).alias("src"),
        F.concat(F.lit("e:"), F.col("event_type")).alias("dst"),
    )


def _transition_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        e.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .select(
            F.concat(F.lit("e:"), F.col("prev_type")).alias("src"),
            F.concat(F.lit("e:"), F.col("event_type")).alias("dst"),
        )
    )


def _user_transition_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-USER event-type transition graph (node = 'u<user>:<type>'):
    cycles appear whenever a user revisits a type, and the node count
    scales with SF (the global 'e:' graph is a constant 5 nodes). Shared
    by q_scc and q_pagerank_w_k5; the SQL twin is _UTRANS."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")

    def node(c):
        return F.concat(F.lit("u"), F.col("user_id").cast("string"), F.lit(":"), c)

    return (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .select(node(F.col("prev_type")).alias("src"), node(F.col("event_type")).alias("dst"))
    )


# ---------------- queries ----------------


def q_edge_derivation(spark, sf_dir):
    """Window+lag reply-edge rule (SURVEY §2.5 O3) with weight rollup."""
    return (
        _transition_edges(spark, sf_dir)
        .groupBy("src", "dst")
        .agg(F.count("*").alias("weight"))
    )


def q_out_degrees(spark, sf_dir):
    """Degree histogram (SURVEY §2.4 A1)."""
    from linkgraph.operators.degrees import out_degrees

    return out_degrees(_bipartite_edges(spark, sf_dir)).select(
        F.col("node").alias("node_name"), "out_deg"
    )


def q_in_degrees(spark, sf_dir):
    from linkgraph.operators.degrees import in_degrees

    return in_degrees(_bipartite_edges(spark, sf_dir)).select(
        F.col("node").alias("node_name"), "in_deg"
    )


def q_dangling(spark, sf_dir):
    """Dangling (out-degree-0) anti-join (SURVEY §2.2 P3)."""
    from linkgraph.operators.degrees import dangling

    return dangling(_bipartite_edges(spark, sf_dir)).select(F.col("node").alias("node_name"))


def q_pagerank_step(spark, sf_dir):
    """One Family-A power-iteration step from uniform init (SURVEY §2.3 J1/J2
    + §2.4 A2/A3): gather join, weighted sum, dangling+teleport base, outer
    join against the full vertex set."""
    from linkgraph.operators.degrees import out_degrees, vertices, weighted_edges

    edges = _bipartite_edges(spark, sf_dir).select(
        F.col("src").alias("src"), F.col("dst").alias("dst")
    )
    verts = vertices(edges)
    n = verts.count()
    od = out_degrees(edges)
    dang_cnt = verts.join(od, "node", "left").filter(
        F.coalesce("out_deg", F.lit(0)) == 0
    ).count()
    leaked = dang_cnt / n
    base = (leaked + (1.0 - leaked) * (1.0 - D)) / n
    contribs = (
        weighted_edges(edges)
        .groupBy(F.col("dst").alias("node"))
        .agg(F.sum(F.col("weight") * F.lit(1.0 / n)).alias("contrib"))
    )
    return (
        verts.join(contribs, "node", "left")
        .select(
            F.col("node").alias("node_name"),
            _fs(F.lit(base) + F.lit(D) * F.coalesce("contrib", F.lit(0.0)), 8).alias(
                "rank1"
            ),
        )
    )


def q_top_hubs(spark, sf_dir):
    """Top-k + deterministic ordering (SURVEY §2.5)."""
    from linkgraph.operators.degrees import in_degrees

    return (
        in_degrees(_bipartite_edges(spark, sf_dir))
        .orderBy(F.desc("in_deg"), F.asc("node"))
        .limit(10)
        .select(F.col("node").alias("node_name"), "in_deg")
    )


def q_components(spark, sf_dir):
    """Connected components — exact, vs a recursive-CTE reachability oracle."""
    from linkgraph.operators.components import connected_components

    edges = _bipartite_edges(spark, sf_dir).select(
        F.xxhash64("src").alias("src"), F.xxhash64("dst").alias("dst")
    )
    names = (
        _bipartite_edges(spark, sf_dir)
        .select(F.col("src").alias("node_name"))
        .union(_bipartite_edges(spark, sf_dir).select("dst"))
        .distinct()
        .withColumn("node", F.xxhash64("node_name"))
    )
    comp = connected_components(edges).components
    # map hashed component rep back to the MIN NAME in the component so the
    # label scheme is engine-independent (oracle uses min name directly)
    labeled = comp.join(names, "node")
    rep = labeled.groupBy("component").agg(F.min("node_name").alias("component_name"))
    return labeled.join(rep, "component").select("node_name", "component_name")


def q_scc(spark, sf_dir):
    """Strongly connected components (Trim+Coloring, operators/scc.py) —
    the Broder-bowtie primitive for directed link graphs — over the
    per-user event-type transition graph (node = 'u<user>:<type>'): a user
    revisiting an event type closes a cycle, so nontrivial SCCs occur and
    scale with SF. Exact labels (component = min member name); oracle =
    DuckDB transitive closure + mutual-reachability grouping."""
    from linkgraph.operators.scc import strongly_connected_components

    res = strongly_connected_components(_user_transition_edges(spark, sf_dir))
    return res.components.select(
        F.col("node").alias("node_name"), F.col("component").alias("component_name")
    )


def q_bfs_hops(spark, sf_dir):
    """Single-source BFS hop distances (operators/bfs.py) from the
    lexicographic-min vertex over the undirected bipartite view; NULL =
    unreachable (other components). Oracle = recursive-CTE walk with a
    min-per-node rollup."""
    from linkgraph.operators.bfs import hop_distances
    from linkgraph.operators.degrees import vertices

    edges = _bipartite_edges(spark, sf_dir)
    source = vertices(edges).agg(F.min("node")).first()[0]
    res = hop_distances(edges, source, directed=False)
    return res.distances.select(F.col("node").alias("node_name"), "dist")


def q_components_twophase(spark, sf_dir):
    """Large-star/small-star components (Kiveris et al.) — O(log n) rounds;
    must equal the min-label result exactly (same recursive-CTE oracle)."""
    from linkgraph.operators.components import connected_components_twophase

    edges = _bipartite_edges(spark, sf_dir).select(
        F.xxhash64("src").alias("src"), F.xxhash64("dst").alias("dst")
    )
    names = (
        _bipartite_edges(spark, sf_dir)
        .select(F.col("src").alias("node_name"))
        .union(_bipartite_edges(spark, sf_dir).select("dst"))
        .distinct()
        .withColumn("node", F.xxhash64("node_name"))
    )
    comp = connected_components_twophase(edges).components
    labeled = comp.join(names, "node")
    rep = labeled.groupBy("component").agg(F.min("node_name").alias("component_name"))
    return labeled.join(rep, "component").select("node_name", "component_name")


def q_pagerank(spark, sf_dir):
    """Full converged PageRank (loop — rows-only check; exactness is pinned
    by tests/ against the numpy oracle instead). Routes through the
    regime-dispatching ``pagerank`` entry point: at contract scale it picks
    the barrier gang; above the dense-vector budget it would
    fall back to the unbounded dataframe plan (round-2 VERDICT #1)."""
    from linkgraph.operators.pagerank import pagerank

    edges = _bipartite_edges(spark, sf_dir).unionByName(
        _transition_edges(spark, sf_dir)
    )
    ids = edges.select(
        F.xxhash64("src").alias("src"), F.xxhash64("dst").alias("dst")
    )
    res = pagerank(ids, eps=1e-6, max_iter=200)
    names = (
        edges.select(F.col("src").alias("node_name"))
        .union(edges.select("dst"))
        .distinct()
        .withColumn("node", F.xxhash64("node_name"))
    )
    return res.ranks.join(names, "node").select(
        "node_name", _fs("rank", 8).alias("rank")
    )


def q_stream_rank(spark, sf_dir):
    """Streaming rank maintenance end-to-end (streaming/rank.py, round-2
    VERDICT #4): the contract edge table is dropped into a file-source
    stream in TWO chunks drained through ONE checkpoint; each microbatch
    appends its epoch to the maintained edge table and recomputes the
    fixed point warm-started from the previous snapshot. Returns the
    final maintained [node_name, rank] — identical to q_pagerank's answer
    by construction (warm starts change the path, never the fixed point;
    parity is also pinned in tests/test_streaming.py). Rows-only in the
    gate: the converged fixpoint has no ANSI-SQL form."""
    import shutil
    import tempfile

    from linkgraph.streaming.rank import read_rank_table, stream_pagerank_maintenance

    edges = _bipartite_edges(spark, sf_dir).unionByName(
        _transition_edges(spark, sf_dir)
    )
    ids = edges.select(
        F.xxhash64("src").alias("src"), F.xxhash64("dst").alias("dst")
    ).persist()
    root = tempfile.mkdtemp(prefix="lg_stream_rank_")
    try:
        src_dir, work, ckpt = (
            f"{root}/src", f"{root}/work", f"{root}/ckpt"
        )
        for chunk in (0, 1):
            ids.filter(F.pmod(F.xxhash64("src", "dst"), F.lit(2)) == chunk).write.mode(
                "append"
            ).parquet(src_dir)
            stream = spark.readStream.schema("src long, dst long").parquet(src_dir)
            q = stream_pagerank_maintenance(
                stream, work, ckpt, eps=1e-6, available_now=True
            )
            q.awaitTermination(300)
        names = (
            edges.select(F.col("src").alias("node_name"))
            .union(edges.select("dst"))
            .distinct()
            .withColumn("node", F.xxhash64("node_name"))
        )
        out = (
            read_rank_table(spark, work)
            .join(names, "node")
            .select("node_name", _fs("rank", 8).alias("rank"))
        )
        out = out.localCheckpoint(eager=True)  # pin before the temp dir dies
    finally:
        ids.unpersist()
        shutil.rmtree(root, ignore_errors=True)
    return out


def q_stream_rank_delta(spark, sf_dir):
    """Delta-push streaming rank maintenance (streaming/rank.py
    stream_pagerank_delta, round-3 VERDICT #5): the contract edge table
    arrives in two chunks — the first solves the teleport-1 system in
    full, the second (a small residual) takes the Gauss-Southwell push
    path with O(affected) join work — and the final normalized table is
    the SAME converged PageRank as q_pagerank / q_stream_rank (the A↔B
    fixed-point identity; parity pinned per-drop in
    tests/test_streaming.py). Rows-only: converged fixpoint, no ANSI-SQL
    form."""
    import shutil
    import tempfile

    from linkgraph.streaming.rank import read_rank_table_delta, stream_pagerank_delta

    edges = _bipartite_edges(spark, sf_dir).unionByName(
        _transition_edges(spark, sf_dir)
    )
    ids = edges.select(
        F.xxhash64("src").alias("src"), F.xxhash64("dst").alias("dst")
    ).persist()
    root = tempfile.mkdtemp(prefix="lg_stream_rankd_")
    try:
        src_dir, work, ckpt = (f"{root}/src", f"{root}/work", f"{root}/ckpt")
        # chunk 0 = ~97% of edges (full solve), chunk 1 = a small delta
        for chunk in (0, 1):
            pred = F.pmod(F.xxhash64("src", "dst"), F.lit(32))
            part = ids.filter((pred == 0) if chunk else (pred != 0))
            part.write.mode("append").parquet(src_dir)
            stream = spark.readStream.schema("src long, dst long").parquet(src_dir)
            q = stream_pagerank_delta(stream, work, ckpt, available_now=True)
            q.awaitTermination(300)
        names = (
            edges.select(F.col("src").alias("node_name"))
            .union(edges.select("dst"))
            .distinct()
            .withColumn("node", F.xxhash64("node_name"))
        )
        out = (
            read_rank_table_delta(spark, work)
            .join(names, "node")
            .select("node_name", _fs("rank", 8).alias("rank"))
        )
        out = out.localCheckpoint(eager=True)  # pin before the temp dir dies
    finally:
        ids.unpersist()
        shutil.rmtree(root, ignore_errors=True)
    return out


def q_stream_delta_r3(spark, sf_dir):
    """Deterministic fixed-depth drive of the delta-push streaming rank
    maintenance (streaming/rank.py stream_pagerank_delta,
    fixed_rounds=3 — round-4 VERDICT #7): batch 1 = the ~97% md5-coin
    complement of the contract edge multiset, solved with exactly 3
    Jacobi rounds of the teleport-1 system; batch 2 = the ~3% coin split,
    applied via the residual delta push with exactly 3 hops and pruning
    disabled (θ=0) — the published normalized y/Σy table after batch 2 is
    pure fixed-depth linear algebra over the two edge multisets, so the
    whole streaming path (epoch layout, residual construction on affected
    out-neighborhoods, push series, normalization) gets a value-hash
    oracle against an unrolled-CTE DuckDB twin. churn_threshold is pinned
    high so the delta branch is the one under test at every SF; the
    converged production drive stays `stream_rank_delta` (rows-only)."""
    import shutil
    import tempfile

    from linkgraph.streaming.rank import read_rank_table_delta, stream_pagerank_delta

    edges_s = _bipartite_edges(spark, sf_dir).unionByName(
        _transition_edges(spark, sf_dir)
    )
    # SQL-reproducible 1/32 edge coin on the STRING pair (all copies of a
    # multi-edge land in the same chunk, same as the DuckDB twin)
    is_delta = (
        F.substring(
            F.md5(F.concat(F.col("src"), F.lit("|"), F.col("dst"), F.lit("|delta"))),
            1,
            8,
        )
        < "08000000"
    )
    ids = edges_s.select(
        F.xxhash64("src").alias("src"),
        F.xxhash64("dst").alias("dst"),
        is_delta.alias("isd"),
    ).persist()
    root = tempfile.mkdtemp(prefix="lg_stream_deltar_")
    try:
        src_dir, work, ckpt = (f"{root}/src", f"{root}/work", f"{root}/ckpt")
        for chunk in (0, 1):
            part = ids.filter(F.col("isd") == (chunk == 1)).select("src", "dst")
            part.write.mode("append").parquet(src_dir)
            stream = spark.readStream.schema("src long, dst long").parquet(src_dir)
            q = stream_pagerank_delta(
                stream, work, ckpt, available_now=True,
                fixed_rounds=3, churn_threshold=100.0,
            )
            q.awaitTermination(300)
        names = (
            edges_s.select(F.col("src").alias("node_name"))
            .union(edges_s.select("dst"))
            .distinct()
            .withColumn("node", F.xxhash64("node_name"))
        )
        out = (
            read_rank_table_delta(spark, work)
            .join(names, "node")
            .select("node_name", _fs("rank", 8).alias("rank3"))
        )
        out = out.localCheckpoint(eager=True)  # pin before the temp dir dies
    finally:
        ids.unpersist()
        shutil.rmtree(root, ignore_errors=True)
    return out


def q_lpa_k3(spark, sf_dir):
    """Three fixed synchronous LPA rounds through the real label_propagation
    loop, on STRING node ids so the smaller-label tie-break is byte-order —
    reproducible in ANSI SQL by unrolling the rounds into chained CTEs
    (the fixpoint `lpa` query stays rows-only). Early stop is safe: the
    update is a deterministic function of the labels, so a converged round
    is a fixed point and extra unrolled rounds are no-ops."""
    from linkgraph.operators.lpa import label_propagation

    res = label_propagation(_bipartite_edges(spark, sf_dir), max_iter=3)
    return res.labels.select(
        F.col("node").alias("node_name"), F.col("label").alias("label_name")
    )


def q_pagerank_k5(spark, sf_dir):
    """Five fixed Family-A power iterations (SURVEY §2.8) through the real
    pagerank_dataframe loop — per-iteration dangling-mass redistribution
    included (pagerank_custom.h:70-87). Unlike `pagerank` (converged,
    rows-only), a fixed iteration count IS ANSI-SQL-expressible by unrolling
    the recurrence into chained CTEs, so the whole loop body — gather join,
    row reduce, leaked-mass scalar, outer join against the vertex set —
    gets a value-level oracle check, not just the single step."""
    from linkgraph.operators.pagerank import pagerank_dataframe

    res = pagerank_dataframe(
        _bipartite_edges(spark, sf_dir),
        eps=0.0,
        max_iter=5,
        check_convergence=False,
    )
    return res.ranks.select(
        F.col("node").alias("node_name"), _fs("rank", 8).alias("rank5")
    )


def q_pagerank_w_k5(spark, sf_dir):
    """Weighted PageRank, five fixed Family-A iterations over the
    reply-count-weighted PER-USER transition graph (node =
    'u<user>:<type>', weight = transition count): transition probability
    w / Σ_out w instead of 1/out_deg (the natural rank for a conversation
    graph — heavier reply edges carry more mass). Same unrolled-CTE oracle
    scheme as pagerank_k5 with a weighted edge prelude."""
    from linkgraph.operators.pagerank import pagerank_dataframe

    edges = (
        _user_transition_edges(spark, sf_dir)
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("weight"))
    )
    res = pagerank_dataframe(
        edges, eps=0.0, max_iter=5, check_convergence=False, weight_col="weight"
    )
    return res.ranks.select(
        F.col("node").alias("node_name"), _fs("rank", 8).alias("rank5")
    )


def q_pagerank_decay_k5(spark, sf_dir):
    """Time-decayed weighted PageRank, five fixed Family-A iterations:
    per-transition weight 0.5^(floor(age_sec/86400)/30) (half-life 30
    days against the corpus max timestamp), pair weight = sum of row
    decays, transition probability w/Σ_out w — the recency-weighted rank
    a link-graph over living transcripts actually wants (old reply edges
    decay instead of counting forever). Pure reuse of the proven
    weighted engine path (pagerank_dataframe weight_col=...); the
    unrolled-CTE oracle shares the weighted recurrence with a decay
    prelude. Age is integer days from integer epoch seconds, so the only
    cross-engine float is the pow itself (same accepted libm class as
    bm25's ln)."""
    from linkgraph.operators.pagerank import pagerank_dataframe

    ev = _events(spark, sf_dir)
    mt = ev.agg(F.max(F.unix_timestamp("ts"))).first()[0]
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")

    def node(c):
        return F.concat(F.lit("u"), F.col("user_id").cast("string"), F.lit(":"), c)

    decay = F.pow(
        F.lit(0.5),
        F.floor((F.lit(int(mt)) - F.unix_timestamp("ts")) / F.lit(86400.0))
        / F.lit(30.0),
    )
    edges = (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .select(
            node(F.col("prev_type")).alias("src"),
            node(F.col("event_type")).alias("dst"),
            decay.alias("w0"),
        )
        .groupBy("src", "dst")
        .agg(F.sum("w0").alias("weight"))
    )
    res = pagerank_dataframe(
        edges, eps=0.0, max_iter=5, check_convergence=False, weight_col="weight"
    )
    return res.ranks.select(
        F.col("node").alias("node_name"), _fs("rank", 8).alias("rank5")
    )


def q_minhash_band_pairs(spark, sf_dir):
    """Banded MinHash-LSH candidate pairs via the md5 hash family
    (dedup.minhash_lsh_md5): shingle → 8 string-min minhashes → 4 bands
    → bucket self-join → integer agree count per pair. The md5 family
    makes the WHOLE banded-LSH pipeline shape value-hash-checkable
    (lexicographic hex mins are byte-identical in DuckDB; no float
    anywhere) — the anf_round precedent applied to near-dup detection.
    The xxhash64 production path stays `minhash_near_dups` (rows-only)."""
    from linkgraph.operators.dedup import minhash_lsh_md5

    return minhash_lsh_md5(
        _docs(spark, sf_dir), num_hashes=8, bands=4, shingle_len=5
    ).select("a", "b", "agree")


def q_lsh_round(spark, sf_dir):
    """Multi-table sign-LSH approximate top-k via the deterministic
    plan-time plane family (similarity.lsh_topk_md5): ±1 hyperplanes are
    python-computed literals shared verbatim with the DuckDB twin,
    bucket assignment runs on integer-quantized embeddings (exact — no
    near-zero float sign flips), and the exact-cosine re-rank orders on
    the floor-scaled key, so the WHOLE ANN pipeline — signatures,
    multi-table candidate union, dedupe, re-rank — is value-hash-checked.
    The xxhash64 `lsh_topk` stays the production path (rows-only +
    recall pins)."""
    from linkgraph.operators.similarity import lsh_topk_md5

    emb = _emb(spark, sf_dir)
    qv = emb.filter(F.col("vec_id") < 5)
    return lsh_topk_md5(emb, qv, k=5, bits=5, tables=8).select(
        "query_id",
        "neighbor_id",
        _fs("cosine", 6).alias("cosine6"),
        "rank",
    )


def _lsh_md5_sql(
    k: int = 5,
    bits: int = 8,
    tables: int = 4,
    seed: int = 42,
    dims: int = 64,
    quant: int = 1024,
) -> str:
    """Twin of q_lsh_round. The ±1 plane literals come from the SAME
    python md5_rademacher_planes call the Spark operator uses, inlined as
    +x{i}/-x{i} terms; quantization, signature concat order, candidate
    union/dedupe, the left-associated cosine fold (matching F.aggregate's
    sequential fold term for term), and the floor-key rank all mirror the
    operator exactly."""
    from linkgraph.operators.similarity import md5_rademacher_planes

    xcols = ", ".join(
        f"CAST(floor(CAST(embedding[{i + 1}] AS DOUBLE) * {float(quant)} + 0.5) "
        f"AS BIGINT) AS x{i}"
        for i in range(dims)
    )
    table_selects = []
    for t in range(tables):
        planes = md5_rademacher_planes(bits, dims, seed + t * 1009)
        bit_cases = []
        for p in range(bits):
            terms = " + ".join(
                (f"x{i}" if s == 1 else f"(-x{i})")
                for i, s in enumerate(planes[p])
            )
            bit_cases.append(f"CASE WHEN ({terms}) >= 0 THEN '1' ELSE '0' END")
        table_selects.append(
            f"SELECT vec_id, {t} AS tbl, {' || '.join(bit_cases)} AS sig FROM xq"
        )
    dot_terms = "0.0" + "".join(
        f" + CAST(q.embedding[{i + 1}] AS DOUBLE)"
        f" * CAST(n.embedding[{i + 1}] AS DOUBLE)"
        for i in range(dims)
    )
    na_terms = "0.0" + "".join(
        f" + CAST(embedding[{i + 1}] AS DOUBLE)"
        f" * CAST(embedding[{i + 1}] AS DOUBLE)"
        for i in range(dims)
    )
    union_all = " UNION ALL ".join(table_selects)
    return f"""
        WITH xq AS (SELECT vec_id, {xcols} FROM embeddings),
        sigs AS ({union_all}),
        qs AS (SELECT * FROM sigs WHERE vec_id < 5),
        cand AS (
          SELECT DISTINCT q.vec_id AS query_id, e.vec_id AS neighbor_id
          FROM qs q JOIN sigs e ON q.tbl = e.tbl AND q.sig = e.sig
          WHERE q.vec_id <> e.vec_id
        ),
        norms AS (SELECT vec_id, sqrt({na_terms}) AS nrm FROM embeddings),
        scored AS (
          SELECT c.query_id, c.neighbor_id,
                 ({dot_terms}) / (nq.nrm * nn.nrm) AS cosine
          FROM cand c
          JOIN embeddings q ON q.vec_id = c.query_id
          JOIN embeddings n ON n.vec_id = c.neighbor_id
          JOIN norms nq ON nq.vec_id = c.query_id
          JOIN norms nn ON nn.vec_id = c.neighbor_id
        ),
        ranked AS (
          SELECT query_id, neighbor_id, cosine,
                 CAST(row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY floor(cosine * 1e10 + 0.5) DESC, neighbor_id
                 ) AS INT) AS rank
          FROM scored
        )
        SELECT query_id, neighbor_id, round(cosine, 6) AS cosine6, rank
        FROM ranked WHERE rank <= {k}
    """


def q_ivf_round(spark, sf_dir):
    """Deterministic IVF approximate top-k (similarity.ivf_topk_quant):
    min-id centroids (the kmeans_round init — no float Lloyd in the
    quantizer), INTEGER-quantized cell assignment and probe ranking
    (ties to the smaller cell), exact-cosine re-rank on the floor-scaled
    key — the IVFFlat coarse-quantizer layout with every stage
    cross-engine bit-deterministic. The pyspark.ml KMeans `ivf_topk`
    stays the production path (rows-only + recall pins)."""
    from linkgraph.operators.similarity import ivf_topk_quant

    emb = _emb(spark, sf_dir)
    qv = emb.filter(F.col("vec_id") < 5)
    return ivf_topk_quant(emb, qv, k=5, n_cells=8, n_probe=2).select(
        "query_id",
        "neighbor_id",
        _fs("cosine", 6).alias("cosine6"),
        "rank",
    )


def _ivf_quant_sql(
    k: int = 5,
    n_cells: int = 8,
    n_probe: int = 2,
    dims: int = 64,
    quant: int = 1024,
) -> str:
    """Twin of q_ivf_round: same min-id centroids, the same integer
    squared-distance assignment/probe (row_number ties to the smaller
    cell), and the lsh_round cosine machinery (left-associated fold +
    floor-key rank)."""
    xcols = ", ".join(
        f"CAST(floor(CAST(embedding[{i + 1}] AS DOUBLE) * {float(quant)} + 0.5) "
        f"AS BIGINT) AS x{i}"
        for i in range(dims)
    )
    ccols = ", ".join(
        f"CAST(floor(CAST(embedding[{i + 1}] AS DOUBLE) * {float(quant)} + 0.5) "
        f"AS BIGINT) AS c{i}"
        for i in range(dims)
    )
    d2_terms = " + ".join(
        f"(x.x{i} - c.c{i}) * (x.x{i} - c.c{i})" for i in range(dims)
    )
    dot_terms = "0.0" + "".join(
        f" + CAST(q.embedding[{i + 1}] AS DOUBLE)"
        f" * CAST(n.embedding[{i + 1}] AS DOUBLE)"
        for i in range(dims)
    )
    na_terms = "0.0" + "".join(
        f" + CAST(embedding[{i + 1}] AS DOUBLE)"
        f" * CAST(embedding[{i + 1}] AS DOUBLE)"
        for i in range(dims)
    )
    return f"""
        WITH xq AS (SELECT vec_id, {xcols} FROM embeddings),
        cents AS (
          SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, {ccols}
          FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT {n_cells})
        ),
        dists AS (
          SELECT x.vec_id, c.cell, ({d2_terms}) AS d2
          FROM xq x CROSS JOIN cents c
        ),
        rn AS (
          SELECT vec_id, cell,
                 row_number() OVER (PARTITION BY vec_id
                                    ORDER BY d2, cell) AS rn
          FROM dists
        ),
        assign AS (SELECT vec_id, cell FROM rn WHERE rn = 1),
        probes AS (
          SELECT vec_id AS query_id, cell FROM rn
          WHERE rn <= {n_probe} AND vec_id < 5
        ),
        cand AS (
          SELECT p.query_id, a.vec_id AS neighbor_id
          FROM probes p JOIN assign a ON a.cell = p.cell
          WHERE a.vec_id <> p.query_id
        ),
        norms AS (SELECT vec_id, sqrt({na_terms}) AS nrm FROM embeddings),
        scored AS (
          SELECT c.query_id, c.neighbor_id,
                 ({dot_terms}) / (nq.nrm * nn.nrm) AS cosine
          FROM cand c
          JOIN embeddings q ON q.vec_id = c.query_id
          JOIN embeddings n ON n.vec_id = c.neighbor_id
          JOIN norms nq ON nq.vec_id = c.query_id
          JOIN norms nn ON nn.vec_id = c.neighbor_id
        ),
        ranked AS (
          SELECT query_id, neighbor_id, cosine,
                 CAST(row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY floor(cosine * 1e10 + 0.5) DESC, neighbor_id
                 ) AS INT) AS rank
          FROM scored
        )
        SELECT query_id, neighbor_id, round(cosine, 6) AS cosine6, rank
        FROM ranked WHERE rank <= {k}
    """


def q_simhash_round(spark, sf_dir):
    """SimHash digests via the md5 hash family (dedup.simhash_md5): the
    per-bit token-majority algebra of the production 64-bit `simhash`
    (rows-only, xxhash64) made value-hash-checkable — bits from md5 hex
    nibbles with pure integer arithmetic, digest re-assembled as a
    15-char hex string. One explode + 60 conditional sums, one scan."""
    from linkgraph.operators.dedup import simhash_md5

    return simhash_md5(_docs(spark, sf_dir)).select(
        F.col("id").alias("doc_id"), "simhash60"
    )


def _simhash_md5_sql(bits: int = 60) -> str:
    """Twin of q_simhash_round: same nibble-integer bit extraction
    (strpos over the hex alphabet instead of Spark's conv — identical
    integers), same majority rule (sum > 0), same hex re-assembly."""
    sums = []
    for i in range(bits):
        j, b = divmod(i, 4)
        sums.append(
            f"sum(CASE WHEN ((strpos('0123456789abcdef', "
            f"substr(hx, {j + 1}, 1)) - 1) // {2 ** b}) % 2 = 1 "
            f"THEN 1 ELSE -1 END) AS b{i}"
        )
    nibs = []
    for j in range(bits // 4):
        val = " + ".join(
            f"(CASE WHEN b{4 * j + b} > 0 THEN {2 ** b} ELSE 0 END)"
            for b in range(4)
        )
        nibs.append(f"substr('0123456789abcdef', ({val}) + 1, 1)")
    return f"""
        WITH t AS (
          SELECT doc_id AS id,
                 unnest(string_split({_DOC_NORM}, ' ')) AS tok
          FROM documents
        ),
        h AS (SELECT id, md5(tok) AS hx FROM t),
        s AS (SELECT id, {", ".join(sums)} FROM h GROUP BY id)
        SELECT id AS doc_id, {" || ".join(nibs)} AS simhash60 FROM s
    """


def q_lsh_clusters(spark, sf_dir):
    """End-to-end LSH near-dup CLUSTERING — the composite the 100-TB
    dedup path actually runs (vs neardup_clusters' contract-scale
    all-pairs verify): md5-banded MinHash candidates (minhash_lsh_md5,
    never all-pairs) thresholded at agree >= 6 of 8 → union into
    clusters via connected components → canonical doc = min doc_id per
    cluster (singletons keep their own id). Pure composition of two
    oracle-checked operators; integers/strings end-to-end, so the whole
    pipeline gets a value-hash oracle (thresholded band pairs feed a
    recursive reachability CTE in DuckDB)."""
    from linkgraph.operators.components import connected_components
    from linkgraph.operators.dedup import minhash_lsh_md5

    pairs = minhash_lsh_md5(
        _docs(spark, sf_dir), num_hashes=8, bands=4, shingle_len=5
    ).filter(F.col("agree") >= 6)
    edges = pairs.select(F.col("a").alias("src"), F.col("b").alias("dst"))
    comp = connected_components(edges).components
    ids = _docs(spark, sf_dir).select(F.col("doc_id").alias("node"))
    return ids.join(comp, "node", "left").select(
        F.col("node").alias("doc_id"),
        F.coalesce("component", "node").alias("cluster_id"),
    )


def q_winnow_round(spark, sf_dir):
    """Winnowing fingerprints (MOSS; textstats.winnowing_fingerprints)
    with the md5 hash family: k=3 grams, window=4 lexicographic string
    min, positions < window-1 dropped, distinct (id, fp) — the
    subsampled plagiarism/near-dup fingerprint table, value-hash-checked
    end-to-end (the xxhash64 production variant stays `winnowing`,
    rows-only)."""
    from linkgraph.operators.textstats import winnowing_fingerprints

    return winnowing_fingerprints(
        _docs(spark, sf_dir), k=3, window=4, hash_family="md5"
    ).select(F.col("id").alias("doc_id"), "fp")


def q_pagerank_b_k5(spark, sf_dir):
    """Five fixed Family-B (mtx/OCL) iterations: plain (1-d)/n base, mass
    leaks through dangling vertices, ONE final sum-normalization
    (pagerank_OCL.h:156-161, kernels/sparse_matrix.cl:8-18) — the second
    semantic family's loop body, value-checked via the same unrolled-CTE
    oracle with the B recurrence."""
    from linkgraph.operators.pagerank import pagerank_dataframe

    res = pagerank_dataframe(
        _bipartite_edges(spark, sf_dir),
        eps=0.0,
        max_iter=5,
        check_convergence=False,
        family="b",
    )
    return res.ranks.select(
        F.col("node").alias("node_name"), _fs("rank", 8).alias("rank5")
    )


def q_pagerank_ws_k5(spark, sf_dir):
    """Weighted PageRank through the barrier gang (plans/shards.py
    per-edge weight column — the reference's COO data[] slot,
    readers/mtx_sparse.h:123-132 — in the CSR kernel), five fixed
    Family-A iterations on the same reply-count-weighted graph as
    q_pagerank_w_k5. Node names are densified via xxhash64 for the dense
    vector layout and mapped back before returning, so the SAME
    unrolled-CTE oracle value-checks the fast path — driver-level proof
    that the weighted kernel (gather ∘ weight-stream multiply ∘ segment
    reduce) computes the identical recurrence."""
    from linkgraph.plans.barrier import pagerank_barrier

    edges = (
        _user_transition_edges(spark, sf_dir)
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("weight"))
    )
    ids = edges.select(
        F.xxhash64("src").alias("src"),
        F.xxhash64("dst").alias("dst"),
        "weight",
    )
    res = pagerank_barrier(
        ids, eps=0.0, max_iter=5, check_convergence=False, weight_col="weight"
    )
    names = (
        edges.select(F.col("src").alias("node_name"))
        .union(edges.select("dst"))
        .distinct()
        .withColumn("node", F.xxhash64("node_name"))
    )
    return res.ranks.join(names, "node").select(
        "node_name", _fs("rank", 8).alias("rank5")
    )


def q_pagerank_bs_k5(spark, sf_dir):
    """Family-B PageRank through the barrier gang (its
    family-aware combine: plain (1-d)/n base, leaking mass, ONE final
    sum-normalization at publish), five fixed iterations on
    the same bipartite graph as q_pagerank_b_k5, names densified via
    xxhash64 and mapped back — the second semantic family's fast path,
    value-checked by the same unrolled-CTE B oracle."""
    from linkgraph.plans.barrier import pagerank_barrier

    edges = _bipartite_edges(spark, sf_dir)
    ids = edges.select(
        F.xxhash64("src").alias("src"), F.xxhash64("dst").alias("dst")
    )
    res = pagerank_barrier(
        ids, eps=0.0, max_iter=5, check_convergence=False, family="b"
    )
    names = (
        edges.select(F.col("src").alias("node_name"))
        .union(edges.select("dst"))
        .distinct()
        .withColumn("node", F.xxhash64("node_name"))
    )
    return res.ranks.join(names, "node").select(
        "node_name", _fs("rank", 8).alias("rank5")
    )


def q_lpa(spark, sf_dir):
    """Label propagation (loop — rows-only; exactness pinned in tests/)."""
    from linkgraph.operators.lpa import label_propagation

    edges = _bipartite_edges(spark, sf_dir).select(
        F.xxhash64("src").alias("src"), F.xxhash64("dst").alias("dst")
    )
    res = label_propagation(edges, max_iter=5)
    names = (
        _bipartite_edges(spark, sf_dir)
        .select(F.col("src").alias("node_name"))
        .union(_bipartite_edges(spark, sf_dir).select("dst"))
        .distinct()
        .withColumn("node", F.xxhash64("node_name"))
    )
    lab_names = res.labels.join(
        names.select(F.col("node").alias("label"), F.col("node_name").alias("label_name")),
        "label",
    )
    return lab_names.join(names, "node").select("node_name", "label_name")


def q_triangles(spark, sf_dir):
    """Degree-ordered triangle count per vertex (SURVEY §2.9) on the
    event-type co-occurrence graph."""
    from linkgraph.operators.triangles import triangles_per_vertex

    e = _events(spark, sf_dir)
    a = e.select("user_id", F.col("event_type").alias("ta")).distinct()
    b = e.select("user_id", F.col("event_type").alias("tb")).distinct()
    co = (
        a.join(b, "user_id")
        .filter(F.col("ta") < F.col("tb"))
        .select(F.col("ta").alias("sa"), F.col("tb").alias("sb"))
        .distinct()
    )
    edges = co.select(F.xxhash64("sa").alias("src"), F.xxhash64("sb").alias("dst"))
    names = (
        co.select(F.col("sa").alias("node_name"))
        .union(co.select("sb"))
        .distinct()
        .withColumn("node", F.xxhash64("node_name"))
    )
    return (
        triangles_per_vertex(edges)
        .join(names, "node")
        .select("node_name", "triangles")
    )


def q_exact_dedup(spark, sf_dir):
    from linkgraph.operators.dedup import exact_dedup

    return exact_dedup(_docs(spark, sf_dir))


def q_chunk_dedup(spark, sf_dir):
    """Corpus-wide exact substring dedup at 10-word-chunk granularity
    (operators/dedup.py chunk_dedup — the C4-style repeated-span removal):
    each distinct chunk survives only at its first (doc_id, idx) corpus
    occurrence; documents are recomposed from surviving chunks."""
    from linkgraph.operators.dedup import chunk_dedup

    res = chunk_dedup(_docs(spark, sf_dir), width=10)
    return res.select(
        F.col("id").alias("doc_id"), "n_chunks", "kept_chunks", "dedup_text"
    )


def q_token_count(spark, sf_dir):
    from linkgraph.operators.textstats import token_count

    return token_count(_docs(spark, sf_dir)).select("doc_id", "n_tokens")


def q_quality(spark, sf_dir):
    from linkgraph.operators.textstats import quality_score

    return quality_score(_docs(spark, sf_dir)).select(
        "doc_id", "len_score", "punct_ratio", "quality"
    )


def q_language_id(spark, sf_dir):
    from linkgraph.operators.textstats import language_id

    return language_id(_docs(spark, sf_dir)).select("doc_id", "lang_pred")


def q_pii_scan(spark, sf_dir):
    """PII-ish pattern triage over documents (textstats.pii_scan): per-doc
    email/url/phone/ipv4 match counts + any_pii flag, single codegen'd
    scan, RE2-safe patterns so the DuckDB oracle runs the identical
    automaton. The drop/redact routing pass of a training-data pipeline."""
    from linkgraph.operators.textstats import pii_scan

    return pii_scan(_docs(spark, sf_dir))


def q_corpus_filter(spark, sf_dir):
    """The end-to-end keep/drop decision a training-data pipeline runs:
    language gate AND length gate AND quality gate, with the FIRST failing
    gate as the reason (gate order: language, too-short, too-long, quality).
    Pure composition of the oracle-checked textstats operators — one scan,
    all Catalyst. Bounds are demo-scaled to the test corpus (20..80 tokens,
    quality >= 0.6 on the 8-dp rounded score) so every reason appears."""
    from linkgraph.operators.textstats import language_id, quality_score, token_count

    # the textstats operators APPEND columns, so the composition is a chain —
    # one scan of documents, zero joins (vs joining three operator outputs,
    # which plans as three scans)
    j = token_count(language_id(quality_score(_docs(spark, sf_dir)))).select(
        "doc_id",
        _fs("quality", 8).alias("q8"),
        "lang_pred",
        "n_tokens",
    )
    reason = (
        F.when(F.col("lang_pred") != "en", "non_english")
        .when(F.col("n_tokens") < 20, "too_short")
        .when(F.col("n_tokens") > 80, "too_long")
        .when(F.col("q8") < 0.6, "low_quality")
        .otherwise("ok")
    )
    return j.select(
        "doc_id", (reason == "ok").alias("keep"), reason.alias("reason")
    )


def q_fingerprint(spark, sf_dir):
    """md5 fingerprint of whitespace-normalized lowercased text (the
    SQL-portable variant of textstats.fingerprint)."""
    d = _docs(spark, sf_dir)
    norm = F.lower(F.trim(F.regexp_replace(F.col("text"), r"\s+", " ")))
    return d.select("doc_id", F.md5(norm).alias("fp"))


def q_cosine_topk(spark, sf_dir):
    from linkgraph.operators.similarity import cosine_topk

    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < 5)
    return cosine_topk(emb, q, k=5).select(
        "query_id", "neighbor_id", _fs("cosine", 6).alias("cosine6"), "rank"
    )


def q_minhash_near_dups(spark, sf_dir):
    """MinHash-LSH candidate pairs (xxhash64 family — no DuckDB equivalent;
    rows-only check; estimator accuracy pinned in tests/)."""
    from linkgraph.operators.dedup import minhash_lsh

    # bands=8 => rows_per_band=4: collision prob p^4 keeps candidate volume
    # bounded (bands=16/r=2 was a p^2 candidate explosion — 30x slower)
    return minhash_lsh(_docs(spark, sf_dir), num_hashes=32, bands=8)


def q_simhash(spark, sf_dir):
    """64-bit SimHash per document (xxhash64-based; rows-only check)."""
    from linkgraph.operators.dedup import simhash

    return simhash(_docs(spark, sf_dir))


def q_sessionize(spark, sf_dir):
    """Gap-based sessionization (lag + cumulative sum over window)."""
    from linkgraph.operators.sessions import session_stats

    return session_stats(_events(spark, sf_dir), gap_seconds=1800).select(
        "user_id", "session_seq", "n_events", "span_ms"
    )


def q_stream_dedup(spark, sf_dir):
    """Streaming exact dedup (streaming/dedup.py stream_exact_dedup):
    documents arrive in two ascending-id chunks; each batch hashes,
    anti-joins the maintained seen table, admits only new texts
    (batch-internal keeper = min id), and promotes the snapshot via the
    atomic manifest. With ascending chunks the final keeper per hash
    equals the BATCH exact_dedup keeper (global min doc_id), so the
    whole streaming path — epoch layout, probe anti-join, admission,
    replay-safe commit — gets a one-GROUP-BY value-hash oracle."""
    import shutil
    import tempfile

    from linkgraph.streaming.dedup import read_dedup_table, stream_exact_dedup

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    cut = docs.agg(F.max("doc_id")).first()[0] // 2
    root = tempfile.mkdtemp(prefix="lg_stream_dedup_")
    try:
        src_dir, work, ckpt = (f"{root}/src", f"{root}/work", f"{root}/ckpt")
        for chunk in (0, 1):
            part = docs.filter(
                (F.col("doc_id") <= cut) if chunk == 0 else (F.col("doc_id") > cut)
            )
            part.write.mode("append").parquet(src_dir)
            stream = spark.readStream.schema("doc_id long, text string").parquet(
                src_dir
            )
            q = stream_exact_dedup(stream, work, ckpt, available_now=True)
            q.awaitTermination(300)
        out = read_dedup_table(spark, work).select("text_hash", "keeper_id")
        out = out.localCheckpoint(eager=True)  # pin before the temp dir dies
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return out


def q_stream_sessions(spark, sf_dir):
    """Stateful streaming sessionization (streaming/sessions.py
    stream_sessionize, applyInPandasWithState with an O(1)-per-actor
    (last_ts, last_eid, seq) frontier state): the events table arrives in
    two ts-split chunks through one checkpoint, and the per-event
    numbering equals the batch lag+cumsum rule exactly — so unlike the
    other streaming entries this one carries a FULL value-hash oracle
    (the sessionize CTE at event granularity)."""
    import shutil
    import tempfile

    from linkgraph.streaming.sessions import stream_sessionize

    ev = _events(spark, sf_dir).select("event_id", "ts", "user_id")
    cut = ev.agg(F.expr("percentile_approx(ts, 0.5)").alias("t")).first()["t"]
    root = tempfile.mkdtemp(prefix="lg_stream_sess_")
    try:
        src, outp, ckpt = (f"{root}/src", f"{root}/out", f"{root}/ckpt")
        # chunk 0 strictly below the cut so the per-actor (ts, event_id)
        # frontier can never straddle an equal-ts group across drops
        for chunk in (0, 1):
            part = ev.filter(
                (F.col("ts") < cut) if chunk == 0 else (F.col("ts") >= cut)
            )
            part.write.mode("append").parquet(src)
            stream = spark.readStream.schema(
                "event_id long, ts timestamp, user_id long"
            ).parquet(src)
            q = (
                stream_sessionize(stream, gap_seconds=1800, state_ttl=False)
                .writeStream.format("parquet")
                .option("path", outp)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination(300)
        out = spark.read.parquet(outp).select(
            "user_id", "event_id", "session_seq"
        )
        out = out.localCheckpoint(eager=True)  # pin before the temp dir dies
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return out


def q_lpa_round(spark, sf_dir):
    """One synchronous LPA round from identity labels — mode of neighbor
    labels, ties to the smaller label (the deterministic building block of
    the full loop; SQL-expressible, unlike the fixpoint)."""
    edges = _bipartite_edges(spark, sf_dir)
    sym = (
        edges.unionByName(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    counts = sym.groupBy(
        F.col("dst").alias("node_name"), F.col("src").alias("label")
    ).agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("node_name").orderBy(F.desc("cnt"), F.asc("label"))
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("node_name", F.col("label").alias("new_label"))
    )


def q_word_jaccard(spark, sf_dir):
    """Exact 1-gram Jaccard for a candidate pair set (the verify stage after
    LSH) — shingle-set joins, oracle-checked against DuckDB unnest."""
    from linkgraph.operators.dedup import ngram_jaccard_pairs

    d = _docs(spark, sf_dir)
    ids = d.filter(F.col("doc_id") < 40).select(F.col("doc_id").alias("a"))
    cand = (
        ids.crossJoin(ids.select(F.col("a").alias("b")))
        .filter(F.col("a") < F.col("b"))
    )
    return ngram_jaccard_pairs(d, cand, shingle_len=1).select(
        "a", "b", _fs("jaccard", 8).alias("jac8")
    )


def q_neardup_clusters(spark, sf_dir):
    """End-to-end near-dup CLUSTERING — the composite a training-data dedup
    pipeline actually runs: verified Jaccard pairs at threshold 0.8 → union
    into clusters via connected components → canonical doc = min doc_id per
    cluster (singletons keep their own id). Pure composition of two already
    oracle-checked operators (ngram_jaccard_pairs + connected_components),
    so the whole pipeline gets a value-hash oracle: thresholded pairs feed
    a recursive reachability CTE in DuckDB. At scale the candidate set
    comes from minhash_lsh instead of all-pairs; the cluster/canonicalize
    stages are identical."""
    from linkgraph.operators.components import connected_components

    pairs = q_word_jaccard(spark, sf_dir).filter(F.col("jac8") >= 0.8)
    edges = pairs.select(F.col("a").alias("src"), F.col("b").alias("dst"))
    comp = connected_components(edges).components
    ids = _docs(spark, sf_dir).filter(F.col("doc_id") < 40).select(
        F.col("doc_id").alias("node")
    )
    return ids.join(comp, "node", "left").select(
        F.col("node").alias("doc_id"),
        F.coalesce("component", "node").alias("cluster_id"),
    )


def q_lsh_topk(spark, sf_dir):
    """Multi-table sign-LSH approximate top-k (deterministic hyperplanes;
    rows-only check — recall vs the exact oracle is pinned in tests/)."""
    from linkgraph.operators.similarity import lsh_topk

    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < 5)
    return lsh_topk(emb, q, k=5, bits=6, tables=8).select(
        "query_id", "neighbor_id", _fs("cosine", 6).alias("cosine6"), "rank"
    )


def q_ivf_topk(spark, sf_dir):
    """IVF (k-means coarse quantizer) approximate top-k — the scale path
    alongside lsh_topk (rows-only; recall pinned in tests/)."""
    from linkgraph.operators.similarity import ivf_topk

    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < 5)
    return ivf_topk(emb, q, k=5, n_cells=8, n_probe=4).select(
        "query_id", "neighbor_id", _fs("cosine", 6).alias("cosine6"), "rank"
    )


def q_winnowing(spark, sf_dir):
    """Winnowing (MOSS) rolling-hash fingerprints (xxhash64-based;
    rows-only check — the subsampling guarantee is pinned in tests/)."""
    from linkgraph.operators.textstats import winnowing_fingerprints

    return winnowing_fingerprints(_docs(spark, sf_dir))


def q_resize_plan(spark, sf_dir):
    """Multimodal resize bookkeeping (metadata-only pushdown — payload bytes
    never move) over the documents-derived media view."""
    from linkgraph.operators.multimodal import media_from_documents, resize_plan

    return resize_plan(media_from_documents(_docs(spark, sf_dir)), target=224)


def q_frame_sample(spark, sf_dir):
    """Video frame-sampling plumbing: one row per sampled frame index."""
    from linkgraph.operators.multimodal import frame_sample, media_from_documents

    return frame_sample(media_from_documents(_docs(spark, sf_dir)), every_k=8)


def q_decode_features(spark, sf_dir):
    """Arrow-kernel decode/featurize over opaque binary payloads (the decode
    itself is the deterministic stub — no media libs in this container;
    rows-only check, numeric behavior pinned in tests/)."""
    from linkgraph.operators.multimodal import decode_and_featurize, media_from_documents

    return decode_and_featurize(media_from_documents(_docs(spark, sf_dir))).select(
        "media_id", "kind", _fs("mean_px", 6).alias("mean_px6"), "n_bytes"
    )


def _dec(col):
    """Money math in DECIMAL: double->decimal(18,6) is tie-free (no binary
    double lands exactly on a 1e-6 tie), so both engines round identically
    and the subsequent sums are EXACT — cross-engine hash-equal without FP
    summation-order tolerance games."""
    return F.col(col).cast("decimal(18,6)")


def q_tpch_pricing(spark, sf_dir):
    """TPC-H Q1-shape pricing summary: pushed-down date predicate -> hash
    aggregate (partial+final automatic). Relational-breadth coverage over
    the star-schema tables."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1999-12-31"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(_dec("l_quantity")), 2).cast("double").alias("sum_qty"),
            F.round(F.sum(_dec("l_extendedprice")), 2).cast("double").alias("sum_base_price"),
            F.round(
                F.sum(_dec("l_extendedprice") * (F.lit(1).cast("decimal(18,6)") - _dec("l_discount"))),
                2,
            ).cast("double").alias("sum_disc_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_tpch_top_customers(spark, sf_dir):
    """3-way join (lineitem ⋈ orders ⋈ broadcast customer) -> revenue per
    customer -> deterministic top-10 (window rank, tie-break on key)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    rev = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(
            F.sum(
                _dec("l_extendedprice") * (F.lit(1).cast("decimal(18,6)") - _dec("l_discount"))
            ).alias("_rev")
        )
    )
    w = Window.orderBy(F.desc("_rev"), F.asc("c_custkey"))
    return (
        rev.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select(
            "c_custkey", "c_name",
            F.round("_rev", 2).cast("double").alias("revenue"), "rank",
        )
    )


def q_tpch_nation_window(spark, sf_dir):
    """Join to dimensions + monthly rollup + cumulative window per nation
    (running revenue) — window-function coverage over the star schema."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    monthly = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(
            "n_name", F.to_date(F.date_trunc("month", "o_orderdate")).alias("month")
        )
        .agg(F.sum(_dec("o_totalprice")).alias("_rev"))
    )
    w = Window.partitionBy("n_name").orderBy("month").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return monthly.select(
        "n_name",
        "month",
        F.round("_rev", 2).cast("double").alias("revenue"),
        F.round(F.sum("_rev").over(w), 2).cast("double").alias("cum_revenue"),
    )


def q_tpch_regional_volume(spark, sf_dir):
    """TPC-H Q5-shape local-supplier volume: 6-way star join (fact
    lineitem⋈orders shuffles on its keys; customer/supplier/nation/region
    dimensions broadcast) with the same-nation colocation predicate
    c_nationkey = s_nationkey, rolled up to (region, nation) revenue.
    Exercises the full dimension chain including the otherwise-unused
    supplier and region tables."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    s = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    r = spark.read.parquet(f"{sf_dir}/region.parquet")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.round(
                F.sum(
                    _dec("l_extendedprice")
                    * (F.lit(1).cast("decimal(18,6)") - _dec("l_discount"))
                ),
                2,
            ).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def q_tpch_brand_top_suppliers(spark, sf_dir):
    """Grouped top-k over two dimensions: revenue per (brand, supplier)
    from lineitem⋈part⋈supplier (both dimensions broadcast), then the top
    3 suppliers per brand by a partitioned window rank ordered on the
    EXACT decimal revenue (tie-broken on s_suppkey, so both engines pick
    the same rows)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    p = spark.read.parquet(f"{sf_dir}/part.parquet")
    s = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    rev = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .groupBy("p_brand", "s_suppkey", "s_name")
        .agg(
            F.sum(
                _dec("l_extendedprice")
                * (F.lit(1).cast("decimal(18,6)") - _dec("l_discount"))
            ).alias("_rev")
        )
    )
    w = Window.partitionBy("p_brand").orderBy(F.desc("_rev"), F.asc("s_suppkey"))
    return (
        rev.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select(
            "p_brand", "s_suppkey", "s_name",
            F.round("_rev", 2).cast("double").alias("revenue"), "rank",
        )
    )


def q_tpch_ship_priority(spark, sf_dir):
    """TPC-H Q3 shape: segment predicate on the broadcast customer dim, a
    date split across orders (before D) and lineitem (shipped after D) —
    both pushed to the parquet scans — then revenue per still-open order.
    Full result set (no top-k) so the oracle compare is tie-free."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    d = "1998-07-01"
    return (
        li.filter(F.col("l_shipdate") > F.lit(d))
        .join(o.filter(F.col("o_orderdate") < F.lit(d)), li.l_orderkey == o.o_orderkey)
        .join(
            F.broadcast(c.filter(F.col("c_mktsegment") == "BUILDING")),
            o.o_custkey == c.c_custkey,
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(
                    _dec("l_extendedprice")
                    * (F.lit(1).cast("decimal(18,6)") - _dec("l_discount"))
                ),
                2,
            ).cast("double").alias("revenue")
        )
        .select(
            "l_orderkey",
            F.unix_timestamp("o_orderdate").alias("o_date_epoch"),
            "o_orderpriority",
            "revenue",
        )
    )


def q_tpch_returned_rev(spark, sf_dir):
    """TPC-H Q10 shape: returned-line (l_returnflag='R') revenue per
    (customer, nation) inside a one-year order window — fact filter pushed
    down, two broadcast dim joins (customer, nation)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    return (
        li.filter(F.col("l_returnflag") == "R")
        .join(
            o.filter(
                (F.col("o_orderdate") >= F.lit("1997-01-01"))
                & (F.col("o_orderdate") < F.lit("1998-01-01"))
            ),
            li.l_orderkey == o.o_orderkey,
        )
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(
                F.sum(
                    _dec("l_extendedprice")
                    * (F.lit(1).cast("decimal(18,6)") - _dec("l_discount"))
                ),
                2,
            ).cast("double").alias("revenue")
        )
    )


def q_tpch_part_supplier_counts(spark, sf_dir):
    """TPC-H Q16 shape (partsupp stood in by the lineitem part-supplier
    co-occurrence): distinct-supplier count per (p_brand, p_size) with a
    NOT-predicate carved out of the broadcast part dim. Exercises
    count(DISTINCT) under a broadcast-joined group-by."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    p = spark.read.parquet(f"{sf_dir}/part.parquet")
    return (
        li.join(
            F.broadcast(p.filter(F.col("p_brand") != "Brand#1")),
            li.l_partkey == p.p_partkey,
        )
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


def q_ppr_step(spark, sf_dir):
    """Two personalized-PageRank steps (teleport + leaked dangling mass to
    the user-node distribution) over the bipartite user->event-type graph.
    Two steps so the dangling redistribution term is exercised: after step
    one, mass sits on the (dangling) event-type nodes."""
    from linkgraph.operators.pagerank import personalized_pagerank

    edges = _bipartite_edges(spark, sf_dir)
    sources = edges.select(F.col("src").alias("node")).distinct()
    res = personalized_pagerank(
        edges, sources, max_iter=2, check_convergence=False
    )
    return res.ranks.select(
        F.col("node").alias("node_name"), _fs("rank", 8).alias("rank2")
    )


def q_hits_step(spark, sf_dir):
    """One HITS iteration (L1-normalized authorities then hubs) over the
    event-type transition graph."""
    from linkgraph.operators.hits import hits

    res = hits(_transition_edges(spark, sf_dir), max_iter=1, check_convergence=False)
    return res.scores.select(
        F.col("node").alias("node_name"),
        _fs("hub", 8).alias("hub8"),
        _fs("authority", 8).alias("auth8"),
    )


def q_hits_k3(spark, sf_dir):
    """Three full HITS iterations through the real loop (the hits_step
    oracle checks one; this unrolls the alternating normalize-gather
    recurrence into chained CTEs so the loop BODY — both join-aggregates,
    both L1 normalizations, absent-node zeroing — is value-checked, the
    pagerank_k5 pattern applied to the second power-iteration metric)."""
    from linkgraph.operators.hits import hits

    res = hits(_bipartite_edges(spark, sf_dir), max_iter=3, check_convergence=False)
    return res.scores.select(
        F.col("node").alias("node_name"),
        _fs("hub", 8).alias("hub8"),
        _fs("authority", 8).alias("auth8"),
    )


def q_kcore_round(spark, sf_dir):
    """One k-core peel round (k=3) on the undirected simple bipartite
    graph: vertices surviving the first degree filter, with their simple
    degree. (The full fixpoint k_core operator is pinned in tests/ — a
    recursive peel is not monotone-SQL-expressible.)"""
    from linkgraph.operators.kcore import _sym_simple

    sym = _sym_simple(_bipartite_edges(spark, sf_dir))
    deg = sym.groupBy("src").count()
    return deg.where(F.col("count") >= 3).select(
        F.col("src").alias("node_name"), F.col("count").alias("deg")
    )


def q_kcore_r3(spark, sf_dir):
    """Three peel rounds of the REAL k_core loop (k=3, max_rounds=3) —
    the full round body (degree filter + two-sided edge semi-join) gets a
    value oracle by unrolling 3 rounds into chained CTEs (peeling is
    idempotent past the fixpoint, so an early-converged run still equals
    exactly-3 SQL rounds). Complements kcore_round's single-round check;
    the unbounded fixpoint stays rows-only-impossible (non-monotone)."""
    from linkgraph.operators.kcore import k_core

    res = k_core(_bipartite_edges(spark, sf_dir), k=3, max_rounds=3)
    return res.select(F.col("node").alias("node_name"))


def q_ppr_k5(spark, sf_dir):
    """Five personalized-PageRank steps (teleport vector uniform over the
    user nodes, leaked dangling mass returned to the teleport vector) over
    the bipartite user->event-type graph — the full PPR loop BODY
    value-checked via a 5-step unrolled-CTE oracle, the same treatment
    pagerank_k5 gives Family A. Complements ppr_step's 2-step check."""
    from linkgraph.operators.pagerank import personalized_pagerank

    edges = _bipartite_edges(spark, sf_dir)
    sources = edges.select(F.col("src").alias("node")).distinct()
    res = personalized_pagerank(edges, sources, max_iter=5, check_convergence=False)
    return res.ranks.select(
        F.col("node").alias("node_name"), _fs("rank", 8).alias("rank5")
    )


def q_clustering(spark, sf_dir):
    """Local clustering coefficients (operators/structure.py) on the
    per-user transition graph: lcc = 2T/(deg·(deg-1)) with degree-ordered
    triangle counting underneath. Oracle = ordered-triple triangle
    enumeration + degree join in DuckDB."""
    from linkgraph.operators.structure import clustering_coefficients

    res = clustering_coefficients(_user_transition_edges(spark, sf_dir))
    return res.select(
        F.col("node").alias("node_name"),
        "deg",
        "triangles",
        _fs("lcc", 8).alias("lcc8"),
    )


def q_adamic_adar(spark, sf_dir):
    """Adamic-Adar link prediction (operators/structure.py): scores for
    non-adjacent pairs sharing >= 1 neighbor, wedges keyed by the common
    neighbor so the aggregate is one shuffle on the pair key."""
    from linkgraph.operators.structure import adamic_adar

    res = adamic_adar(_user_transition_edges(spark, sf_dir))
    return res.select(
        F.col("a").alias("node_a"),
        F.col("b").alias("node_b"),
        _fs("aa", 8).alias("aa8"),
    )


def q_link_scores(spark, sf_dir):
    """All four classical common-neighbor link-prediction scores
    (common-neighbors count, Jaccard, Adamic-Adar, resource allocation) in
    ONE wedge enumeration + one pair-keyed aggregate
    (operators/structure.py link_prediction)."""
    from linkgraph.operators.structure import link_prediction

    res = link_prediction(_user_transition_edges(spark, sf_dir))
    return res.select(
        F.col("a").alias("node_a"),
        F.col("b").alias("node_b"),
        "cn",
        _fs("jaccard", 8).alias("jac8"),
        _fs("aa", 8).alias("aa8"),
        _fs("ra", 8).alias("ra8"),
    )


def q_reciprocity(spark, sf_dir):
    """Edge reciprocity of the simple directed per-user transition graph:
    fraction of directed edges whose reverse also exists (one transpose
    semi-join + global counts)."""
    from linkgraph.operators.structure import reciprocity

    res = reciprocity(_user_transition_edges(spark, sf_dir))
    return res.select(
        "reciprocated", "total", _fs("reciprocity", 8).alias("recip8")
    )


def q_assortativity(spark, sf_dir):
    """Degree assortativity (Pearson r of end degrees over ordered edge
    ends, simple undirected view) — one corr() aggregate after two degree
    joins. Rounded to 6 dp: Pearson r is a ratio of large near-cancelling
    sums, so cross-engine float summation order shows up earlier than in
    plain aggregates."""
    from linkgraph.operators.structure import degree_assortativity

    res = degree_assortativity(_user_transition_edges(spark, sf_dir))
    return res.select(_fs("assortativity", 6).alias("assort6"))


def q_ktruss_r2(spark, sf_dir):
    """Two peel rounds of the REAL k-truss loop (k=5: per-edge triangle
    support >= 3) on the per-user transition graph — the full round body
    (wedge-join support count + threshold filter) value-checked via a
    2-round unrolled-CTE oracle, mirroring kcore_r3. The unbounded
    fixpoint (k_truss) stays pinned in tests (non-monotone, no SQL
    equivalent)."""
    from linkgraph.operators.ktruss import _canonical, truss_peel_round

    cur = _canonical(_user_transition_edges(spark, sf_dir))
    for _ in range(2):
        cur = truss_peel_round(cur, k=5)
    return cur.select(F.col("a").alias("node_a"), F.col("b").alias("node_b"))


def q_harmonic_k4(spark, sf_dir):
    """Sampled harmonic centrality (operators/bfs.py harmonic_centrality):
    H(v) = Σ_s 1/dist(s,v) over the 4 lexicographic-min vertices of the
    undirected bipartite graph — one multi-source frontier BFS, exact
    value oracle via a seeded recursive-CTE walk."""
    from linkgraph.operators.bfs import harmonic_centrality
    from linkgraph.operators.degrees import vertices

    edges = _bipartite_edges(spark, sf_dir)
    srcs = vertices(edges).orderBy("node").limit(4)
    res = harmonic_centrality(edges, srcs, directed=False)
    return res.select(
        F.col("node").alias("node_name"),
        "n_sources",
        _fs("harmonic", 8).alias("harmonic8"),
    )


def q_label_centroids(spark, sf_dir):
    """Per-label centroid of the embeddings table in long (label, dim)
    form (operators/similarity.py label_centroids) — the embedding-table
    profile, value-checked dimension by dimension."""
    from linkgraph.operators.similarity import label_centroids

    res = label_centroids(_emb(spark, sf_dir))
    return res.select(
        "label",
        "n_vecs",
        F.posexplode(F.col("centroid")).alias("dim", "cval"),
    ).select("label", "n_vecs", "dim", _fs("cval", 6).alias("cent6"))


def q_centroid_cosine(spark, sf_dir):
    """Cosine of every embedding to its own label centroid
    (operators/similarity.py centroid_cosines) — the embedding-coherence
    / label-noise outlier signal."""
    from linkgraph.operators.similarity import centroid_cosines

    res = centroid_cosines(_emb(spark, sf_dir))
    return res.select("vec_id", "label", _fs("cosine", 6).alias("cos6"))


def q_temporal_r3(spark, sf_dir):
    """Three fixed earliest-arrival relaxation rounds over the
    user↔event-type temporal contact graph (operators/temporal.py):
    time-respecting paths only — static reachability over the same edges
    would be wrong. Integer epoch-millis arithmetic end to end, so the
    unrolled 3-round CTE oracle hash-matches exactly."""
    from linkgraph.operators.temporal import (
        bipartite_temporal_edges,
        temporal_reachability,
    )

    te = bipartite_temporal_edges(_events(spark, sf_dir))
    source = (
        te.select(F.col("src").alias("node"))
        .union(te.select("dst"))
        .agg(F.min("node"))
        .first()[0]
    )
    res = temporal_reachability(te, source, max_iter=3, check_convergence=False)
    return res.arrivals.select(F.col("node").alias("node_name"), "arr")


def q_funnel3(spark, sf_dir):
    """Three-step ordered funnel signup -> click -> purchase per user
    (operators/sessions.py funnel): earliest greedy time-respecting match,
    one actor-keyed shuffle, NULLs cascade. Timestamps emitted as epoch
    millis for exact cross-engine comparison."""
    from linkgraph.operators.sessions import funnel

    res = funnel(_events(spark, sf_dir), ["signup", "click", "purchase"])
    return res.select(
        "user_id",
        # parquet ts is TIMESTAMP_NTZ; the session tz is pinned to UTC so
        # the cast is epoch-faithful and matches DuckDB's naive epoch_ms
        F.unix_millis(F.col("ts_1").cast("timestamp")).alias("t1_ms"),
        F.unix_millis(F.col("ts_2").cast("timestamp")).alias("t2_ms"),
        F.unix_millis(F.col("ts_3").cast("timestamp")).alias("t3_ms"),
        "steps_completed",
    )


def q_transitivity(spark, sf_dir):
    """Global transitivity 3T/wedges on the per-user transition graph
    (operators/structure.py transitivity)."""
    from linkgraph.operators.structure import transitivity

    res = transitivity(_user_transition_edges(spark, sf_dir))
    return res.select(
        "triangles", "wedges", _fs("transitivity", 8).alias("trans8")
    )


def q_powerlaw_alpha(spark, sf_dir):
    """Clauset-Shalizi-Newman discrete MLE of the degree power-law
    exponent (operators/structure.py powerlaw_alpha, d_min=2)."""
    from linkgraph.operators.structure import powerlaw_alpha

    res = powerlaw_alpha(_user_transition_edges(spark, sf_dir), d_min=2)
    return res.select("n_tail", _fs("alpha", 8).alias("alpha8"))


def q_rich_club(spark, sf_dir):
    """Rich-club curve phi(k) over every degree threshold
    (operators/structure.py rich_club): one degree join + one tiny range
    join, no per-threshold rescan."""
    from linkgraph.operators.structure import rich_club

    res = rich_club(_user_transition_edges(spark, sf_dir))
    return res.select(
        "k", "n_nodes", "n_edges", _fs("phi", 8).alias("phi8")
    )


def q_mis_r2(spark, sf_dir):
    """Two rounds of Luby's maximal-independent-set algorithm
    (operators/mis.py) with md5-keyed priorities on the per-user
    transition graph — deterministic symmetry breaking whose round body
    (priority tournament + winner/neighbor removal) is value-checked via
    a 2-round unrolled-CTE oracle. The fixpoint's independence +
    maximality are pinned in tests."""
    from linkgraph.operators.mis import maximal_independent_set

    res = maximal_independent_set(
        _user_transition_edges(spark, sf_dir), fixed_rounds=2
    )
    return res.select(F.col("node").alias("node_name"), "round")


def q_coreness_r2(spark, sf_dir):
    """Two h-index refinement rounds of the coreness fixpoint
    (operators/coreness.py; Lu et al. 2016 — h_0 = degree,
    h_{t+1}(v) = H-index of neighbor h values, converging to the core
    number) on the per-user transition graph. The round body (neighbor
    join + per-neighborhood rank window + max(least(rank, h)) aggregate)
    is value-checked via a 2-round unrolled-CTE window oracle; the
    fixpoint's equality with the independent k_core peel is pinned in
    tests for every k."""
    from linkgraph.operators.coreness import coreness

    res = coreness(_user_transition_edges(spark, sf_dir), fixed_rounds=2)
    return res.select(F.col("node").alias("node_name"), "h")


def q_coloring_r2(spark, sf_dir):
    """Two rounds of distributed greedy coloring (operators/coloring.py;
    Jones-Plassmann round-synchronous variant with md5-keyed priorities —
    local minima take the round index as color, only winners retire) on
    the per-user transition graph, value-checked via a 2-round
    unrolled-CTE oracle. The fixpoint's properness + totality are pinned
    in tests."""
    from linkgraph.operators.coloring import greedy_coloring

    res = greedy_coloring(_user_transition_edges(spark, sf_dir), fixed_rounds=2)
    return res.select(F.col("node").alias("node_name"), "color")


def q_densest_r2(spark, sf_dir):
    """First two rounds of the Bahmani-Kumar-Vassilvitskii densest-
    subgraph parallel peel (operators/densest.py: delete ALL vertices with
    induced degree <= 2(1+eps)·density in one shot; the densest
    intermediate is a 2(1+eps)-approximation) on the per-user transition
    graph — per-round (n, m, density) trajectory, value-checked via a
    2-round unrolled-CTE oracle. Input is the bipartite ∪ global
    transition union (the one contract graph with real degree skew: the
    event-type hubs out-survive the uniform-degree user side, so the
    trajectory has a non-trivial second round). The full peel's exactness
    vs an independent numpy mirror is pinned in tests/test_densest.py."""
    from linkgraph.operators.densest import densest_round_stats

    edges = _bipartite_edges(spark, sf_dir).unionByName(
        _transition_edges(spark, sf_dir)
    )
    return densest_round_stats(edges, eps=0.1, n_rounds=2).select(
        "round", "n_nodes", "m_edges", "density"
    )


def q_ball2(spark, sf_dir):
    """Exact 2-hop ball sizes |B(v,2)| on the undirected per-user
    transition graph — the exactness baseline the HyperANF sketches
    (q_anf_curve) estimate: self ∪ neighbors ∪ neighbors-of-neighbors,
    distinct, counted per vertex. One wedge self-join + distinct + count
    (the ANF accuracy tests pin the sketch curve against exactly this
    quantity computed by BFS). Full DuckDB value oracle."""
    from linkgraph.operators.degrees import symmetrize, vertices

    e = _user_transition_edges(spark, sf_dir)
    sym = symmetrize(e)
    h0 = vertices(e).select(F.col("node").alias("v"), F.col("node").alias("u"))
    h1 = sym.select(F.col("src").alias("v"), F.col("dst").alias("u"))
    h2 = (
        sym.select(F.col("src").alias("v"), F.col("dst").alias("mid"))
        .join(
            sym.select(F.col("src").alias("mid"), F.col("dst").alias("u")),
            "mid",
        )
        .select("v", "u")
    )
    return (
        h0.unionByName(h1)
        .unionByName(h2)
        .distinct()
        .groupBy(F.col("v").alias("node_name"))
        .agg(F.count(F.lit(1)).alias("ball2"))
    )


def q_matching_r2(spark, sf_dir):
    """Two rounds of the distributed maximal-matching tournament
    (operators/matching.py — Israeli-Itai greedy matching derandomized
    by md5 edge priorities: an edge matches iff its priority is the min
    at BOTH endpoints) on the per-user transition graph, value-checked
    via a 2-round unrolled-CTE oracle. Fixpoint validity + maximality
    are pinned in tests."""
    from linkgraph.operators.matching import maximal_matching

    res = maximal_matching(_user_transition_edges(spark, sf_dir), fixed_rounds=2)
    return res.select(
        F.col("a").alias("node_a"), F.col("b").alias("node_b"), "round"
    )


def q_closeness_k4(spark, sf_dir):
    """Sampled closeness centrality (operators/bfs.py
    closeness_centrality): per-source exact closeness + Wasserman-Faust
    correction from the 4 lexicographic-min vertices of the undirected
    bipartite graph — same multi-source frontier BFS as harmonic_k4,
    exact value oracle via the same seeded recursive-CTE walk;
    networkx parity pinned in tests."""
    from linkgraph.operators.bfs import closeness_centrality
    from linkgraph.operators.degrees import vertices

    edges = _bipartite_edges(spark, sf_dir)
    srcs = vertices(edges).orderBy("node").limit(4)
    res = closeness_centrality(edges, srcs, directed=False)
    return res.select(
        F.col("source").alias("source_name"),
        "n_reached",
        _fs("closeness", 8).alias("clo8"),
        _fs("closeness_wf", 8).alias("clo_wf8"),
    )


def q_salsa_k3(spark, sf_dir):
    """Three SALSA iterations (operators/salsa.py — Lempel-Moran
    stochastic hubs/authorities: degree-normalized backward then forward
    step, mass-conserving so no normalization scalar exists) on the
    per-user transition multigraph. Loop BODY value-checked via a
    3-round unrolled-CTE oracle; the stationary in-degree-
    proportionality theorem is pinned in tests."""
    from linkgraph.operators.salsa import salsa

    res = salsa(
        _user_transition_edges(spark, sf_dir), max_iter=3,
        check_convergence=False,
    )
    return res.scores.select(
        F.col("node").alias("node_name"),
        _fs("hub", 8).alias("hub8"),
        _fs("authority", 8).alias("auth8"),
    )


def q_trussness_r2(spark, sf_dir):
    """Two h-index rounds of the peel-free truss decomposition
    (operators/ktruss.py truss_decomposition — Sariyuce et al. PVLDB'18
    local nucleus iteration; s_0 = support, s' = H(min of the other two
    edges' levels over containing triangles), trussness = fixpoint + 2)
    on the per-user transition graph. Round body value-checked via a
    2-round unrolled window-CTE oracle over the same triangle incidence;
    fixpoint == k_truss peel for every k pinned in tests."""
    from linkgraph.operators.ktruss import truss_decomposition

    res = truss_decomposition(_user_transition_edges(spark, sf_dir), fixed_rounds=2)
    return res.select(
        F.col("a").alias("node_a"), F.col("b").alias("node_b"), "trussness"
    )


def q_eigen_k4(spark, sf_dir):
    """Four L2-normalized power iterations of eigenvector centrality
    (operators/eigen.py — x' = A^T x / ||A^T x||, principal-eigenvector
    fixpoint pinned against numpy/networkx in tests) on the per-user
    transition multigraph. The loop BODY (gather + in-sum + one-action
    piggybacked norm/delta) is value-checked via a 4-round unrolled-CTE
    oracle computing the identical recurrence."""
    from linkgraph.operators.eigen import eigenvector_centrality

    res = eigenvector_centrality(
        _user_transition_edges(spark, sf_dir),
        max_iter=4, check_convergence=False,
    )
    return res.scores.select(
        F.col("node").alias("node_name"), _fs("score", 8).alias("eig8")
    )


def q_modularity(spark, sf_dir):
    """Newman-Girvan modularity per community (operators/structure.py
    modularity_by_label) of a deterministic 16-way md5-prefix partition
    of the per-user transition graph — label joins + label-keyed
    aggregates only, no wedge join. Value-checked against a DuckDB twin
    computing the identical community-summed form; extremes +
    networkx-parity pinned in tests.

    Contract columns are the INTEGER observables only (intra_edges,
    deg_sum): together with the global edge count they determine the
    float contrib exactly, and they are immune to the cross-engine
    1-ulp round(x, 8) boundary skew that flipped the driver hash in
    round 4 (Spark HALF_UP exact-decimal vs DuckDB float-scaled round).
    The float contrib itself stays pinned in tests/test_structure.py."""
    from linkgraph.operators.degrees import vertices
    from linkgraph.operators.structure import modularity_by_label

    e = _user_transition_edges(spark, sf_dir)
    labels = vertices(e).select(
        "node", F.substring(F.md5(F.col("node")), 1, 1).alias("label")
    )
    return modularity_by_label(e, labels).select(
        "label",
        "intra_edges",
        "deg_sum",
    )


def q_emb_cov(spark, sf_dir):
    """Population covariance of the 64-dim embedding column
    (operators/embeddings.py embedding_covariance): one mapInArrow pass
    of float64 batch GEMM partials (d²+d+1 rows per partition), one
    tiny hash combine, covariance as a d²-row projection — the
    tall-and-skinny reduction PCA/whitening sits on. Rounded to 6
    decimals because partial-sum order differs from DuckDB's sequential
    sum at ~1e-13; eigen/projection exactness vs numpy is pinned in
    tests/test_embeddings.py."""
    from linkgraph.operators.embeddings import embedding_covariance

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return embedding_covariance(emb).select(
        "i", "j", (_fs("cov", 6) + F.lit(0.0)).alias("cov6")
    )


def q_kmeans_round(spark, sf_dir):
    """One deterministic Lloyd assignment round (operators/embeddings.py
    kmeans_assign) from the min-id init (centroids = the 8 smallest
    vec_ids): nearest centroid by squared euclidean, ties -> smaller
    cell. Broadcast k-row centroid table + min_by struct argmin — no
    N×k shuffle. The full kmeans_lloyd loop (replica parity, Lloyd
    monotonicity, k=1 == global mean) is pinned in
    tests/test_embeddings.py."""
    from linkgraph.operators.embeddings import kmeans_assign

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    init = emb.orderBy("vec_id").limit(8).collect()
    cents = [[float(x) for x in r["embedding"]] for r in init]
    return kmeans_assign(emb, cents).select(
        "id", "cell", _fs("dist2", 6).alias("dist2_6")
    )


def q_cms_hh(spark, sf_dir):
    """Top-10 heavy hitters by Count-Min Sketch estimate
    (operators/sketches.py; Cormode-Muthukrishnan 2005) over document
    tokens at depth 3 × width 256 — deliberately narrow so collisions
    OCCUR at this SF and the oracle certifies the sketch's exact
    collision arithmetic, not just happy-path counts. md5-derived hash
    family -> bit-reproducible in DuckDB; one-sided error, merge, and
    exactness-when-wide guarantees pinned in tests/test_sketches.py."""
    from linkgraph.operators.sketches import cms_heavy_hitters

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    norm = F.lower(F.trim(F.regexp_replace(F.col("text"), r"\s+", " ")))
    items = docs.select(F.explode(F.split(norm, " ")).alias("item"))
    return cms_heavy_hitters(items, k=10, depth=3, width=256)


def q_tfidf_topk(spark, sf_dir):
    """Top-3 characteristic terms per document by smoothed TF-IDF
    (operators/textstats.py tfidf_top_terms) — keyword extraction over
    an UNBOUNDED vocabulary: one explode + partial/final count agg, df
    from the same counted table, vocabulary-keyed join back, per-doc
    top-k window with (score desc, term asc) determinism. Value-checked
    against a DuckDB unnest + row_number twin."""
    from linkgraph.operators.textstats import tfidf_top_terms

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return tfidf_top_terms(docs, k=3).select(
        "id", "term", "rank", _fs("tfidf", 8).alias("tfidf8")
    )


def q_bowtie(spark, sf_dir):
    """Broder et al. 2000 bow-tie decomposition (operators/bowtie.py) of
    the per-user transition graph: CORE = largest SCC (ties by min
    label), IN/OUT = backward/forward set-closures from the core,
    TENDRIL = weakly-attached remainder, DISCONNECTED = other weak
    components. Composition of three certified operators (SCC, weak
    components, frontier BFS); value-checked against a DuckDB
    recursive-closure oracle; python/networkx parity in
    tests/test_bowtie.py."""
    from linkgraph.operators.bowtie import bowtie_decomposition

    res = bowtie_decomposition(_user_transition_edges(spark, sf_dir))
    return res.classes.select(
        F.col("node").alias("node_name"), "bowtie"
    )


def q_conductance(spark, sf_dir):
    """Per-community conductance (operators/structure.py
    conductance_by_label; Kannan-Vempala-Vetta cluster quality) of the
    same deterministic 16-way md5-prefix partition q_modularity uses —
    cut edges counted once via the directed copy leaving its community,
    label joins + label-keyed aggregates only. Value-checked against a
    DuckDB twin; hand-computed extremes + networkx parity in tests.

    Contract columns are the INTEGER observables only (cut_edges, vol):
    with the global volume they determine φ = cut/min(vol, 2m−vol)
    exactly, and they are immune to the cross-engine round(x, 8) 1-ulp
    skew that flipped the driver hash in round 4. The float φ stays
    pinned in tests/test_structure.py."""
    from linkgraph.operators.degrees import vertices
    from linkgraph.operators.structure import conductance_by_label

    e = _user_transition_edges(spark, sf_dir)
    labels = vertices(e).select(
        "node", F.substring(F.md5(F.col("node")), 1, 1).alias("label")
    )
    return conductance_by_label(e, labels).select(
        "label",
        "cut_edges",
        "vol",
    )


def q_bm25(spark, sf_dir):
    """Okapi BM25 relevance of every document against a fixed 3-term
    query (operators/textstats.py bm25_scores) — the query-targeted
    corpus-selection scorer. Zero explodes: per-term tf as vectorized
    size(filter(...)) columns, one 1-row corpus-stats aggregate, score
    as a projection. Value-checked against a DuckDB twin computing the
    identical formula; python-replica parity + idf monotonicity pinned
    in tests."""
    from linkgraph.operators.textstats import bm25_scores

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return bm25_scores(docs, ["table", "join", "merge"]).select(
        "id",
        "dl",
        "n_matched",
        _fs("bm25", 8).alias("bm25_8"),
    )


def q_doulion(spark, sf_dir):
    """DOULION edge-sampled triangle estimate (operators/triangles.py
    triangle_count_doulion; Tsourakakis et al. KDD'09) at p=0.5 on the
    transition graph — deterministic md5 edge coins on the canonical
    pair, exact degree-ordered count on the sparsified graph, 1/p³
    scale-up. The oracle recomputes the identical coins and an exact
    a<b<c triangle enumeration on the kept edges."""
    from linkgraph.operators.triangles import triangle_count_doulion

    return triangle_count_doulion(
        _user_transition_edges(spark, sf_dir), p=0.5
    )


def q_vsample(spark, sf_dir):
    """Deterministic vertex-induced half-sample of the transition graph
    (operators/sampling.py sample_vertices_induced — md5-cutoff keep
    rule on BOTH endpoints, Leskovec-Faloutsos induced sampling),
    rolled up to weighted edges. Two pushdown filters on one scan; the
    keep rule is the same engine-portable md5 comparison as
    dataset_split, so the DuckDB twin is exact."""
    from linkgraph.operators.sampling import sample_vertices_induced

    e = sample_vertices_induced(_user_transition_edges(spark, sf_dir), 0.5)
    return e.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("w")).select(
        F.col("src").alias("src_name"), F.col("dst").alias("dst_name"), "w"
    )


def q_slpa_k3(spark, sf_dir):
    """Three rounds of SEEDED (clamped) label propagation
    (operators/lpa.py seeded_label_propagation — Zhu-Ghahramani-shape
    hard-label spreading) over the bipartite graph: seeds are the
    vertices whose md5 starts with '0' (labeled with their own name),
    everyone else starts NULL and takes the most frequent labeled-
    neighbor label per round. Value-checked by a 3-round unrolled CTE
    with the identical clamp; replica parity + NULL-unreachable
    semantics pinned in tests/test_algorithms.py. Early stop is safe:
    a converged round is a fixpoint, so extra unrolled rounds are
    no-ops."""
    from linkgraph.operators.degrees import vertices
    from linkgraph.operators.lpa import seeded_label_propagation

    e = _bipartite_edges(spark, sf_dir)
    seeds = (
        vertices(e)
        .filter(F.substring(F.md5(F.col("node")), 1, 1) == "0")
        .select("node", F.col("node").alias("label"))
    )
    res = seeded_label_propagation(e, seeds, max_iter=3)
    return res.labels.select(
        F.col("node").alias("node_name"), F.col("label").alias("label_name")
    )


def q_louvain(spark, sf_dir):
    """Full multi-level Louvain (operators/louvain.py; Blondel et al.
    2008, Lu et al. 2015 parallel relaxation) over the per-user
    transition graph on xxhash64 ids — iterative fixpoint + xxhash64,
    so rows-only here; bit-equality vs the python replica on BOTH
    execution paths and karate quality (Q=0.4198) are pinned in
    tests/test_louvain.py. Output: node_name -> community named by its
    min-hash member."""
    from linkgraph.operators.louvain import louvain

    base = _user_transition_edges(spark, sf_dir)
    edges = base.select(
        F.xxhash64("src").alias("src"), F.xxhash64("dst").alias("dst")
    )
    names = (
        base.select(F.col("src").alias("node_name"))
        .union(base.select("dst"))
        .distinct()
        .withColumn("node", F.xxhash64("node_name"))
    )
    res = louvain(edges)
    return (
        res.communities.join(names, "node")
        .join(
            names.select(
                F.col("node").alias("community"),
                F.col("node_name").alias("community_name"),
            ),
            "community",
        )
        .select("node_name", "community_name")
    )


def q_louvain_round(spark, sf_dir):
    """One scored Louvain local-move round (round 0 of 6 md5 classes,
    identity init) on STRING node ids through the REAL distributed
    round (operators/louvain.py _one_round): canonical weighted simple
    edges with self-loop degree bookkeeping, own-community zero-row
    injection, exact (gain, is_own, -cand) argmax. Fully
    SQL-expressible at identity init (sigma_c = k_c, candidate
    communities = neighbor ids) -> value-checked against a DuckDB twin;
    the multi-round/multi-level recurrence is pinned replica-bit-equal
    in tests/test_louvain.py."""
    from linkgraph.operators.louvain import (
        _init_state,
        _one_round,
        _sym_with_class,
        _weighted_simple,
    )

    wedges = _weighted_simple(_user_transition_edges(spark, sf_dir), None)
    two_m = wedges.select(F.sum(2.0 * F.col("w"))).first()[0]
    out = _one_round(
        _sym_with_class(wedges, 6), _init_state(wedges), two_m, 0, 6
    )
    return out.select(
        F.col("node").alias("node_name"),
        F.col("community").alias("community_name"),
        _fs("k", 6).alias("k6"),
    )


def q_katz_k4(spark, sf_dir):
    """Four Katz-centrality iterations (operators/katz.py — x = beta*1 +
    alpha*A^T x, walk sums up to length 4 exactly) on the per-user
    transition multigraph (parallel transitions sum to count weights,
    matching the SQL twin's count(*)). Pure linear recurrence -> the loop
    BODY is value-checked by a 4-round unrolled-CTE oracle; the fixpoint
    identity x = beta + alpha*A^T x is pinned in tests."""
    from linkgraph.operators.katz import katz_centrality

    res = katz_centrality(
        _user_transition_edges(spark, sf_dir),
        alpha=0.05, max_iter=4, check_convergence=False,
    )
    return res.scores.select(
        F.col("node").alias("node_name"), _fs("katz", 8).alias("katz8")
    )


def q_anf_curve(spark, sf_dir):
    """HyperANF neighborhood-function curve (operators/anf.py; Boldi-
    Rosa-Vigna WWW'11) over the undirected per-user transition graph:
    per-vertex HLL register sketches of t-hop balls, max-merged along
    edges once per round — the 100-TB-scale path for distance
    distributions (one m-bytes-per-vertex shuffle per round vs n BFS
    frontiers). xxhash64-register family -> no DuckDB twin (rows-only);
    the propagation is value-checked against a numpy twin and the curve
    accuracy-bounded vs exact BFS in tests/test_anf.py."""
    from linkgraph.operators.anf import neighborhood_function

    return neighborhood_function(
        _user_transition_edges(spark, sf_dir), max_t=3
    ).select("t", _fs("nf_est", 4).alias("nf_est4"))


def q_anf_round(spark, sf_dir):
    """Two HyperANF register max-merge rounds (operators/anf.py
    anf_register_rounds — SAME hll_init + _merge_round code as the
    production neighborhood_function, md5 hash family, b=4 → 16
    registers) on the directed per-user transition graph, reporting the
    integer-exact register state [rho_sum, zero_regs] per vertex. After
    t rounds a vertex's registers are the bucket-wise max over its t-hop
    out-ball, so the DuckDB twin replays the recurrence as 2-hop
    reachability + group-max — a full value-hash oracle for the ANF
    propagation loop (the float HLL estimate layer is pinned separately
    in tests/test_anf.py)."""
    from linkgraph.operators.anf import anf_register_rounds

    return anf_register_rounds(
        _user_transition_edges(spark, sf_dir), t=2, b=4, hash="md5"
    ).select(F.col("node").alias("node_name"), "rho_sum", "zero_regs")


def q_sssp_r4(spark, sf_dir):
    """Four fixed Bellman-Ford relaxation rounds (operators/sssp.py) on
    the undirected per-user transition graph with cost = 1/transition
    count — the weighted-shortest-path loop BODY value-checked via a
    4-round unrolled-CTE oracle computing the identical recurrence
    (fixpoint pinned against python Dijkstra in tests)."""
    from linkgraph.operators.sssp import shortest_paths, symmetrized_cost_edges

    ce = symmetrized_cost_edges(_user_transition_edges(spark, sf_dir))
    source = ce.select(F.least(F.min("src"), F.min("dst"))).first()[0]
    res = shortest_paths(
        ce, source, weight_col="cost", directed=False,
        max_iter=4, check_convergence=False,
    )
    return res.distances.select(
        F.col("node").alias("node_name"), _fs("cost", 8).alias("cost8")
    )


def q_betweenness_k4(spark, sf_dir):
    """Sampled Brandes betweenness (operators/betweenness.py) from the 4
    lexicographic-min USER vertices of the undirected bipartite graph
    (user seeds give a deeper BFS DAG than the event-type hubs). BOTH
    phases — σ path counts and the δ dependency accumulation — are
    value-checked via fixed-level unrolled CTEs."""
    from linkgraph.operators.betweenness import betweenness_sample
    from linkgraph.operators.degrees import vertices

    edges = _bipartite_edges(spark, sf_dir)
    srcs = (
        vertices(edges)
        .filter(F.col("node").startswith("u:"))
        .orderBy("node")
        .limit(4)
    )
    res = betweenness_sample(edges, srcs, directed=False)
    return res.select(
        F.col("node").alias("node_name"), _fs("bc", 6).alias("bc6")
    )


def q_eff_diameter(spark, sf_dir):
    """Sampled effective diameter (operators/bfs.py effective_diameter):
    smallest d covering >= 90% of reached pairs from the same 4-source
    sample as harmonic_k4, plus max distance and pair count."""
    from linkgraph.operators.bfs import effective_diameter
    from linkgraph.operators.degrees import vertices

    edges = _bipartite_edges(spark, sf_dir)
    srcs = vertices(edges).orderBy("node").limit(4)
    return effective_diameter(edges, srcs, q=0.9, directed=False)


def q_unigram_xent(spark, sf_dir):
    """Per-document unigram cross-entropy against the corpus's own MLE
    unigram model (textstats.unigram_xent) — the cheapest perplexity
    proxy; averages of −ln p(token) are order-insensitive at 6 dp."""
    from linkgraph.operators.textstats import unigram_xent

    res = unigram_xent(_docs(spark, sf_dir))
    return res.select(
        F.col("id").alias("doc_id"), "n_tokens", _fs("xent", 6).alias("xent6")
    )


def q_len_percentiles(spark, sf_dir):
    """Exact per-language length percentiles (textstats.group_percentiles,
    linear-interpolated percentile aggregate — the audit baseline for
    approx_percentile at scale)."""
    from linkgraph.operators.textstats import group_percentiles

    res = group_percentiles(_docs(spark, sf_dir), "n_chars", "lang")
    return res.select(
        "lang",
        "n",
        _fs("p50", 6).alias("p50"),
        _fs("p90", 6).alias("p90"),
        _fs("p99", 6).alias("p99"),
    )


def q_knn_curve(spark, sf_dir):
    """Degree-correlation curve k_nn(k) (operators/structure.py knn_curve):
    mean average-neighbor-degree per degree class — the distributional
    companion of the single-number assortativity query."""
    from linkgraph.operators.structure import knn_curve

    res = knn_curve(_user_transition_edges(spark, sf_dir))
    return res.select("deg", "n_nodes", _fs("knn", 8).alias("knn8"))


def q_top_bigrams(spark, sf_dir):
    """Top-5 most frequent word bigrams per language
    (operators/textstats.py top_ngrams): corpus-profile statistic; ONE
    pre-aggregated count shuffle, then a rank window over the already-tiny
    distinct-bigram table. Ties break on the bigram string."""
    from linkgraph.operators.textstats import top_ngrams

    return top_ngrams(_docs(spark, sf_dir), n=2, k=5, group_col="lang")


def q_randwalk_k3(spark, sf_dir):
    """Three deterministic random-walk steps from every vertex of the
    per-user transition graph (operators/walks.py): next hop = md5-keyed
    min-hash tournament over out-neighbors — reproducible under retries
    and repartitioning, and exactly value-checkable cross-engine (md5 is
    engine-portable, unlike rand() or xxhash64)."""
    from linkgraph.operators.walks import random_walks

    res = random_walks(_user_transition_edges(spark, sf_dir), walk_len=3)
    return res.select(
        F.col("start").alias("start_node"), "step", F.col("node").alias("node_name")
    )


def q_wrandwalk_k3(spark, sf_dir):
    """Three deterministic WEIGHTED random-walk steps on the reply-count-
    weighted per-user transition graph (operators/walks.py
    weighted_random_walks): next hop drawn from the exact w/W distribution
    via a shared 48-bit md5 slice and integer cumulative-weight slots —
    node2vec's first-order walk, reproducible and value-checkable."""
    from linkgraph.operators.walks import weighted_random_walks

    wedges = (
        _user_transition_edges(spark, sf_dir)
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    res = weighted_random_walks(wedges, walk_len=3)
    return res.select(
        F.col("start").alias("start_node"), "step", F.col("node").alias("node_name")
    )


def q_squares(spark, sf_dir):
    """Global 4-cycle census (operators/structure.py square_count:
    #C4 = Σ C(cn, 2) / 2 over ordered endpoint pairs — each square
    counted once per diagonal) of the per-user transition graph: one
    mid-vertex wedge join + (a, c)-keyed count + 1-row combine.
    Brute-force parity on karate and K4/K5 goldens pinned in tests."""
    from linkgraph.operators.structure import square_count

    return square_count(_user_transition_edges(spark, sf_dir))


def q_coengagement(spark, sf_dir):
    """User co-engagement graph: one-mode projection of the user ->
    event-type bipartite log (operators/structure.py project_bipartite)
    — two users connect weighted by how many event types they share;
    weak ties (w < 2) pruned. One pivot self-join + pair count; the
    standard first move on an interaction log. Runs through the
    max_pivot_degree wedge-budget path (cap chosen non-binding here so
    the census stays exact; q_coeng_capped drives the binding case)."""
    from linkgraph.operators.structure import project_bipartite

    return project_bipartite(
        _bipartite_edges(spark, sf_dir),
        side="src",
        min_weight=2,
        max_pivot_degree=1_000_000,
    ).select(
        F.col("a").alias("user_a"), F.col("b").alias("user_b"), "w"
    )


def q_coeng_capped(spark, sf_dir):
    """Windowed co-engagement with a BINDING wedge-budget cap: users
    connect via shared (event_type, day) pivots, and pivots touched by
    more than 60 distinct users are dropped before the self-join
    (project_bipartite max_pivot_degree — per-pivot fan-out <= cap², the
    100-TB posture for power-law interaction logs). The DuckDB twin
    applies the identical degree filter, so the capped semantics are
    value-hash-checked cross-engine."""
    from linkgraph.operators.structure import project_bipartite

    ev = _events(spark, sf_dir)
    e = ev.select(
        F.concat(F.lit("u:"), F.col("user_id").cast("string")).alias("src"),
        F.concat(
            F.lit("e:"),
            F.col("event_type"),
            F.lit("@"),
            F.to_date("ts").cast("string"),
        ).alias("dst"),
    )
    return project_bipartite(
        e, side="src", min_weight=2, max_pivot_degree=60
    ).select(F.col("a").alias("user_a"), F.col("b").alias("user_b"), "w")


def q_squares_p(spark, sf_dir):
    """DOULION-style sampled 4-cycle census (structure.py
    square_count_doulion): md5-deterministic edge coin at p=0.5, exact
    wedge-plan square count on the sparsified graph, 1/p⁴ scale-up —
    the wedge budget Σ deg² drops by p², the scale path when exact
    q_squares' hot-mid skew bites at 100×. Same engine-portable coin
    rule as q_doulion, so fully value-checkable in SQL."""
    from linkgraph.operators.structure import square_count_doulion

    return square_count_doulion(
        _user_transition_edges(spark, sf_dir), p=0.5
    )


def q_msf(spark, sf_dir):
    """Minimum spanning forest (operators/msf.py — distributed Borůvka,
    unique under the (w, a, b) total order) of the pair-count-weighted
    per-user transition graph. Kruskal needs sequential union-find, so
    the full forest is rows-only; Kruskal/networkx parity and forest
    invariants are pinned in tests/test_msf.py, and the selection step
    is value-hash-checked by msf_round."""
    from linkgraph.operators.msf import min_spanning_forest

    e = _user_transition_edges(spark, sf_dir).filter(
        F.col("src") != F.col("dst")
    )
    wedges = (
        e.select(
            F.least("src", "dst").alias("src"),
            F.greatest("src", "dst").alias("dst"),
        )
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).cast("double").alias("w"))
    )
    res = min_spanning_forest(wedges)
    return res.forest.select(
        F.col("a").alias("node_a"), F.col("b").alias("node_b"), "w"
    )


def q_msf_round(spark, sf_dir):
    """One Borůvka selection round at identity labels (components =
    single vertices): every vertex's (w, a, b)-minimal incident edge,
    deduplicated — the cut-property step the forest is built from,
    fully SQL-expressible without recursion, so value-hash-checked
    against a DuckDB argmin twin."""
    from linkgraph.operators.degrees import vertices
    from linkgraph.operators.msf import min_component_edges

    e = _user_transition_edges(spark, sf_dir).filter(
        F.col("src") != F.col("dst")
    )
    wedges = (
        e.select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("double").alias("w"))
    )
    labels = vertices(e).select("node", F.col("node").alias("component"))
    return min_component_edges(wedges, labels).select(
        F.col("a").alias("node_a"), F.col("b").alias("node_b"), "w"
    )


def q_node2vec_k3(spark, sf_dir):
    """Three deterministic node2vec-style SECOND-ORDER biased walk steps
    (operators/walks.py node2vec_walks; Grover-Leskovec KDD'16) on the
    per-user transition graph with (w_return, w_common, w_far) =
    (1, 4, 2) i.e. (p, q) = (4, 2): uniform min-hash first step, then
    exact integer slot sampling over return/near/far biases. Like
    wrandwalk_k3, fully value-checkable — the oracle unrolls the three
    steps into chained CTEs with the identical md5 draws and slot
    arithmetic."""
    from linkgraph.operators.walks import node2vec_walks

    res = node2vec_walks(_user_transition_edges(spark, sf_dir), walk_len=3)
    return res.select(
        F.col("start").alias("start_node"),
        "step",
        F.col("node").alias("node_name"),
    )


def q_asof_join(spark, sf_dir):
    """Backward as-of join (operators/asof.py — union + one window pass,
    no range-join explosion): each purchase event picks up the most recent
    prior-or-equal click's value per user. Right side pre-aggregated on
    (user, ts) so the as-of match is unambiguous."""
    from linkgraph.operators.asof import asof_join

    e = _events(spark, sf_dir)
    purchases = e.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", F.col("value").alias("purchase_value")
    )
    clicks = (
        e.where(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("click_value"))
    )
    joined = asof_join(
        purchases, clicks, on="ts", by="user_id", value_cols=["click_value"]
    )
    return joined.select(
        "event_id",
        "user_id",
        _fs("purchase_value", 6).alias("purchase_value6"),
        _fs("click_value", 6).alias("click_value6"),
    )


def q_tpch_small_qty_revenue(spark, sf_dir):
    """TPC-H Q17-shape: revenue from lineitems below 20% of their part's
    average quantity, per brand. The correlated scalar subquery is
    DECORRELATED explicitly — one groupBy computes every part's threshold,
    then an equi-join + filter replaces the per-row subquery (the plan
    Catalyst/DuckDB both want: no repeated subquery evaluation, one
    aggregate + one join)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    thresh = li.groupBy("l_partkey").agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("qty_thresh")
    )
    return (
        li.join(F.broadcast(part.select("p_partkey", "p_brand")),
                li.l_partkey == part.p_partkey)
        .join(thresh, "l_partkey")
        .filter(F.col("l_quantity") < F.col("qty_thresh"))
        .groupBy("p_brand")
        .agg(
            F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def q_dataset_split(spark, sf_dir):
    """Deterministic train/val/test assignment — the reproducible-split
    primitive every training pipeline needs: split by the md5 of the
    STABLE KEY (never by row position or rand(), which reshuffle on every
    re-run/repartition). Thresholds are hex-prefix compares on the digest
    ('cd'/256 = 80.1% train, 'e6' = +9.8% val, rest test) so the rule is
    pure string comparison — portable to any engine, no bigint parsing."""
    d = _docs(spark, sf_dir)
    h = F.md5(F.col("doc_id").cast("string"))
    split = (
        F.when(h < "cd", "train").when(h < "e6", "val").otherwise("test")
    )
    return d.select("doc_id", split.alias("split"))


def q_stratified_sample(spark, sf_dir):
    """Deterministic per-stratum downsampling (language rebalancing — the
    standard move when one language dominates a crawl): keep 25% of 'en',
    50% of 'fr', everything else. Keep decision = md5-prefix compare of
    the SALTED stable key (operators/sampling.py), so the sample is
    reproducible under repartition/retry and independent of the
    dataset_split digest on the same key. One scan, zero shuffles."""
    from linkgraph.operators.sampling import stratified_sample

    d = _docs(spark, sf_dir)
    return stratified_sample(
        d, {"en": 0.25, "fr": 0.5}, strata_col="lang", key_col="doc_id"
    ).select("doc_id", "lang", "source")


def q_repetition(spark, sf_dir):
    """Gopher-style repetition/boilerplate signals per doc (duplicate word
    fraction, duplicate 3-gram fraction) — textstats.repetition."""
    from linkgraph.operators.textstats import repetition

    return repetition(_docs(spark, sf_dir)).select(
        "doc_id", "dup_word_frac", "dup_trigram_frac"
    )


def q_decontaminate(spark, sf_dir):
    """Test-set decontamination: (test_doc, train_doc) pairs sharing any
    8-token shingle, with the splits derived exactly as q_dataset_split.
    The shingle set is deduped per doc BEFORE the join and the join key is
    a 16-byte digest, so the shuffle moves hashes, not text; at corpus
    scale the test side is orders of magnitude smaller than train and
    broadcasts. Docs shorter than 8 tokens contribute their whole text as
    one shingle (clamped slice — same clamping in the DuckDB oracle)."""
    d = _docs(spark, sf_dir)
    h = F.md5(F.col("doc_id").cast("string"))
    split = F.when(h < "cd", "train").when(h < "e6", "val").otherwise("test")
    norm = F.lower(F.trim(F.regexp_replace(F.col("text"), r"\s+", " ")))
    toks = F.split(norm, " ")
    idxs = F.sequence(F.lit(1), F.greatest(F.size(toks) - 7, F.lit(1)))
    grams = F.transform(idxs, lambda i: F.md5(F.concat_ws(" ", F.slice(toks, i, 8))))
    g = d.select(
        "doc_id", split.alias("split"), F.explode(F.array_distinct(grams)).alias("gram")
    )
    train = g.where(F.col("split") == "train").select(
        F.col("doc_id").alias("train_doc"), "gram"
    )
    test = g.where(F.col("split") == "test").select(
        F.col("doc_id").alias("test_doc"), "gram"
    )
    return test.join(train, "gram").select("test_doc", "train_doc").distinct()


def q_tpch_rollup(spark, sf_dir):
    """ROLLUP aggregate (grouping-sets coverage): lineitem quantity and
    revenue per (returnflag, linestatus) with subtotals and a grand total;
    decimal money math, grouping keys coalesced so the hash compare is
    label-stable."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(_dec("l_quantity")), 2).cast("double").alias("sum_qty"),
            F.round(
                F.sum(
                    _dec("l_extendedprice")
                    * (F.lit(1).cast("decimal(18,6)") - _dec("l_discount"))
                ),
                2,
            ).cast("double").alias("sum_revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "sum_qty",
            "sum_revenue",
            "n_rows",
        )
    )


def q_customers_few_orders(spark, sf_dir):
    """Anti-join + left-join-with-null-aggregate coverage: customers with
    fewer than 3 orders (incl. zero — every customer at these SFs has at
    least one order, so a pure no-orders anti-join would be a trivially
    empty, meaningless check)."""
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cnt = o.groupBy(F.col("o_custkey").alias("c_custkey")).agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    return (
        c.join(cnt, "c_custkey", "left")
        .where(F.coalesce("n_orders", F.lit(0)) < 3)
        .select(
            "c_custkey", "c_name", "c_nationkey",
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
        )
    )


def q_emb_near_pairs(spark, sf_dir):
    """Exact all-pairs embedding-cosine threshold pairs — the zero-recall-loss
    baseline the LSH/IVF paths are validated against. Broadcast nested-loop
    on a<b; contract scale only (scale path: embedding_near_dup_pairs)."""
    from linkgraph.operators.similarity import cosine_pairs_exact

    return cosine_pairs_exact(_emb(spark, sf_dir), threshold=0.35).select(
        "a", "b", _fs("cosine", 6).alias("cosine6")
    )


def q_event_windows(spark, sf_dir):
    """Tumbling-window rollup over the events table (batch mirror of the
    streaming watermarked rollup in linkgraph/streaming): 1-hour windows x
    event_type -> count + sum. Window start emitted as epoch seconds so the
    oracle compare is timezone-representation-free."""
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _fs(F.sum("value"), 6).alias("sum_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start_epoch"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def q_simrank_r2(spark, sf_dir):
    """Two truncated-SimRank rounds (Jeh & Widom, KDD'02) over the per-user
    event-type transition graph — structural vertex similarity by recursive
    in-neighbor agreement, the engine's link-graph companion to
    adamic_adar/link_scores (no reference analogue; §2.9 family). The
    oracle unrolls the recurrence into two chained CTE rounds: round 1 is
    the common-in-neighbor count scaled by C/(|I(a)|·|I(b)|), round 2
    pushes the symmetric round-1 state (diagonal pinned at 1) through two
    out-edge joins and rescales."""
    from linkgraph.operators.simrank import simrank

    return simrank(_user_transition_edges(spark, sf_dir), c=0.8, rounds=2).select(
        "a", "b", _fs("sim", 8).alias("sim8")
    )


def q_ppr_sweep(spark, sf_dir):
    """ACL PageRank-Nibble sweep cut (Andersen-Chung-Lang, FOCS'06): 4
    personalized-PageRank steps seeded at the lexicographically-first node
    of the SYMMETRIZED user-event bipartite graph (the undirected walk —
    directed bipartite edges would trap the mass in the seed's 1-hop
    ball), support ordered by p/deg, then
    the exact conductance curve — per-prefix cut/vol as INTEGERS via ±1
    position deltas + window cumsums (no per-prefix edge scan), φ =
    cut/min(vol, vol(G)−vol) — truncated to the first 64 prefixes. The
    whole pipeline (PPR recurrence, degree normalization, sweep order,
    integer cut/vol, φ) is value-hash-checked against the unrolled-CTE
    DuckDB twin."""
    from linkgraph.operators.sweep import ppr_sweep

    bip = _bipartite_edges(spark, sf_dir)
    e = (
        bip.select("src", "dst")
        .unionByName(bip.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
    )
    seeds = e.select(F.min("src").alias("node"))
    return ppr_sweep(e, seeds, k=4, top=64).select(
        F.col("pos").cast("long").alias("pos"),
        F.col("node").alias("node_name"),
        _fs("score", 10).alias("score10"),
        "deg",
        "vol",
        "cut",
        _fs("phi", 8).alias("phi8"),
    )


def q_ppr_push(spark, sf_dir):
    """Synchronous ACL forward push (operators/push.py), 3 fixed rounds on
    the symmetrized bipartite graph from the lexicographically-first node:
    every over-threshold vertex pushes alpha·r to its estimate and spreads
    (1-alpha)·r/outdeg to neighbors at once — deterministic (order-free),
    O(support) per round rather than O(m), the batch primitive behind
    seed-local scores at 100 TB. Estimate AND residual are both
    value-hash-checked against the unrolled-CTE twin."""
    from linkgraph.operators.push import ppr_push

    bip = _bipartite_edges(spark, sf_dir)
    e = (
        bip.select("src", "dst")
        .unionByName(bip.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
    )
    seed = e.agg(F.min("src")).first()[0]
    res = ppr_push(e, source=seed, alpha=0.15, eps=1e-5, fixed_rounds=3)
    return res.scores.filter((F.col("p") > 0) | (F.col("r") > 0)).select(
        F.col("node").alias("node_name"),
        _fs("p", 10).alias("p10"),
        _fs("r", 10).alias("r10"),
    )


def q_ppr_nibble(spark, sf_dir):
    """PageRank-Nibble (operators/sweep.py ppr_nibble — round-4 VERDICT
    #6): 3 fixed ACL push rounds from the lexicographically-first node of
    the symmetrized bipartite graph, then the exact sweep-cut curve over
    the eps-pruned push support — the composition whose every stage is
    bounded by the support, the designed 100-TB local-clustering path
    (support O(1/(α·eps)) by the push invariant; sweep windows over
    ≤ 8·top rows by the pre-ranking truncation, which is exact for the
    returned prefixes). Whole pipeline — push recurrence, p/deg order on
    the floor-scaled key, integer cut/vol, φ — value-hash-checked against
    the unrolled-CTE DuckDB twin."""
    from linkgraph.operators.sweep import ppr_nibble

    bip = _bipartite_edges(spark, sf_dir)
    e = (
        bip.select("src", "dst")
        .unionByName(bip.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
    )
    seed = e.agg(F.min("src")).first()[0]
    curve = ppr_nibble(
        e, seed, alpha=0.15, eps=1e-5, fixed_rounds=3, top=48
    )
    return curve.select(
        F.col("pos").cast("long").alias("pos"),
        F.col("node").alias("node_name"),
        _fs("score", 10).alias("score10"),
        "deg",
        "vol",
        "cut",
        _fs("phi", 8).alias("phi8"),
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: converged PageRank over the event-derived graph at sf0.001,
    top-20 actors by rank."""
    from linkgraph.operators.pagerank import top_k

    ranks = q_pagerank(spark, "/root/testdata/sf0.001")
    return ranks.orderBy(F.desc("rank"), F.asc("node_name")).limit(20)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # ORDERING CONTRACT: the driver's correctness gate evaluates exactly
    # the FIRST 50 entries. Round-5 window (per the round-4 VERDICT):
    # slots 1-17 are the value-hash oracles that had no driver row through
    # round 4; 18-19 re-enter conductance/modularity, the round-4 hash
    # failures, hardened to integer-only observables; 20-21 are this
    # round's new oracles (ppr_nibble, the fixed-depth stream_delta_r3);
    # 22-50 re-certify previously-green queries whose contract VALUES
    # changed under the round-5 floor-scale rounding hardening (one
    # representative per family; the full set stays covered by the local
    # mirror gate scripts/check_oracle.py and
    # tests/test_entry_contract.py every round). Rows-only entries are
    # deliberately last so no window slot is spent on a weaker check.
    return {
        # -- driver window: never-driver-checked value-hash oracles --
        "ppr_push": q_ppr_push,
        "ppr_sweep": q_ppr_sweep,
        "simrank_r2": q_simrank_r2,
        "densest_r2": q_densest_r2,
        "stream_sessions": q_stream_sessions,
        "pii_scan": q_pii_scan,
        "tpch_ship_priority": q_tpch_ship_priority,
        "tpch_returned_rev": q_tpch_returned_rev,
        "tpch_part_supplier_counts": q_tpch_part_supplier_counts,
        "decontaminate": q_decontaminate,
        "stratified_sample": q_stratified_sample,
        "repetition": q_repetition,
        "top_bigrams": q_top_bigrams,
        "unigram_xent": q_unigram_xent,
        "len_percentiles": q_len_percentiles,
        "powerlaw_alpha": q_powerlaw_alpha,
        "rich_club": q_rich_club,
        # -- driver window: round-4 hash-FAILs, hardened (integer observables) --
        "conductance": q_conductance,
        "modularity": q_modularity,
        # -- driver window: round-5 additions --
        "ppr_nibble": q_ppr_nibble,
        "stream_delta_r3": q_stream_delta_r3,
        # -- driver window: floor-scale re-certification anchors --
        "pagerank_k5": q_pagerank_k5,
        "pagerank_w_k5": q_pagerank_w_k5,
        "pagerank_b_k5": q_pagerank_b_k5,
        "pagerank_ws_k5": q_pagerank_ws_k5,
        "pagerank_decay_k5": q_pagerank_decay_k5,
        "ppr_k5": q_ppr_k5,
        "minhash_band_pairs": q_minhash_band_pairs,
        "katz_k4": q_katz_k4,
        "eigen_k4": q_eigen_k4,
        "salsa_k3": q_salsa_k3,
        "harmonic_k4": q_harmonic_k4,
        "closeness_k4": q_closeness_k4,
        "sssp_r4": q_sssp_r4,
        "betweenness_k4": q_betweenness_k4,
        "clustering": q_clustering,
        "adamic_adar": q_adamic_adar,
        "link_scores": q_link_scores,
        "word_jaccard": q_word_jaccard,
        "neardup_clusters": q_neardup_clusters,
        "transitivity": q_transitivity,
        "reciprocity": q_reciprocity,
        "assortativity": q_assortativity,
        "knn_curve": q_knn_curve,
        "quality": q_quality,
        "corpus_filter": q_corpus_filter,
        "winnow_round": q_winnow_round,
        "bm25": q_bm25,
        "anf_round": q_anf_round,
        "louvain_round": q_louvain_round,
        # ---- end of the driver's 50-entry window ----
        # -- value-hash oracles re-certified by the local mirror gate --
        "pagerank_bs_k5": q_pagerank_bs_k5,
        "hits_k3": q_hits_k3,
        "tfidf_topk": q_tfidf_topk,
        "lsh_clusters": q_lsh_clusters,
        "stream_dedup": q_stream_dedup,
        "simhash_round": q_simhash_round,
        "lsh_round": q_lsh_round,
        "ivf_round": q_ivf_round,
        "bowtie": q_bowtie,
        "ktruss_r2": q_ktruss_r2,
        "trussness_r2": q_trussness_r2,
        "coreness_r2": q_coreness_r2,
        "mis_r2": q_mis_r2,
        "matching_r2": q_matching_r2,
        "coloring_r2": q_coloring_r2,
        "ball2": q_ball2,
        "eff_diameter": q_eff_diameter,
        "squares": q_squares,
        "squares_p": q_squares_p,
        "coengagement": q_coengagement,
        "coeng_capped": q_coeng_capped,
        "randwalk_k3": q_randwalk_k3,
        "wrandwalk_k3": q_wrandwalk_k3,
        "node2vec_k3": q_node2vec_k3,
        "slpa_k3": q_slpa_k3,
        "vsample": q_vsample,
        "doulion": q_doulion,
        "cms_hh": q_cms_hh,
        "emb_cov": q_emb_cov,
        "kmeans_round": q_kmeans_round,
        "label_centroids": q_label_centroids,
        "centroid_cosine": q_centroid_cosine,
        "emb_near_pairs": q_emb_near_pairs,
        "funnel3": q_funnel3,
        "temporal_r3": q_temporal_r3,
        "edge_derivation": q_edge_derivation,
        "msf_round": q_msf_round,
        "pagerank_step": q_pagerank_step,
        "ppr_step": q_ppr_step,
        "hits_step": q_hits_step,
        "out_degrees": q_out_degrees,
        "in_degrees": q_in_degrees,
        "dangling": q_dangling,
        "top_hubs": q_top_hubs,
        "components": q_components,
        "components_twophase": q_components_twophase,
        "scc": q_scc,
        "bfs_hops": q_bfs_hops,
        "lpa_k3": q_lpa_k3,
        "lpa_round": q_lpa_round,
        "triangles": q_triangles,
        "exact_dedup": q_exact_dedup,
        "chunk_dedup": q_chunk_dedup,
        "token_count": q_token_count,
        "language_id": q_language_id,
        "fingerprint": q_fingerprint,
        "cosine_topk": q_cosine_topk,
        "sessionize": q_sessionize,
        "resize_plan": q_resize_plan,
        "frame_sample": q_frame_sample,
        "tpch_pricing": q_tpch_pricing,
        "tpch_top_customers": q_tpch_top_customers,
        "tpch_nation_window": q_tpch_nation_window,
        "tpch_regional_volume": q_tpch_regional_volume,
        "tpch_brand_top_suppliers": q_tpch_brand_top_suppliers,
        "kcore_round": q_kcore_round,
        "kcore_r3": q_kcore_r3,
        "asof_join": q_asof_join,
        "tpch_rollup": q_tpch_rollup,
        "tpch_small_qty_revenue": q_tpch_small_qty_revenue,
        "dataset_split": q_dataset_split,
        "customers_few_orders": q_customers_few_orders,
        "event_windows": q_event_windows,
        # -- rows-only entries (no ANSI-SQL twin; see docstrings) --
        "pagerank": q_pagerank,
        "stream_rank": q_stream_rank,
        "stream_rank_delta": q_stream_rank_delta,
        "lpa": q_lpa,
        "minhash_near_dups": q_minhash_near_dups,
        "simhash": q_simhash,
        "lsh_topk": q_lsh_topk,
        "ivf_topk": q_ivf_topk,
        "winnowing": q_winnowing,
        "decode_features": q_decode_features,
        "louvain": q_louvain,
        "msf": q_msf,
        "anf_curve": q_anf_curve,
    }

# ---------------- DuckDB oracles ----------------

_BIP = "SELECT 'u:' || CAST(user_id AS VARCHAR) AS src, 'e:' || event_type AS dst FROM events"
_TRANS = """
    SELECT 'e:' || lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src,
           'e:' || event_type AS dst
    FROM events
    QUALIFY src IS NOT NULL
"""
_NODES = f"SELECT src AS node FROM ({_BIP}) UNION SELECT dst FROM ({_BIP})"

# SQL twin of _user_transition_edges (per-user transition graph)
_UTRANS = """
    SELECT 'u' || CAST(user_id AS VARCHAR) || ':' || lag(event_type)
             OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src,
           'u' || CAST(user_id AS VARCHAR) || ':' || event_type AS dst
    FROM events
    QUALIFY src IS NOT NULL
"""

_DOC_NORM = "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"


def _pagerank_unrolled_sql(
    k: int, d: float = D, family: str = "a", weighted: bool | str = False
) -> str:
    """PageRank recurrence unrolled into k chained CTE steps. Family "a"
    (pagerank_custom.h:70-87): leaked_i = Σ r_i over dangling vertices,
    base_i = (leaked_i + (1-leaked_i)(1-d))/n, r_{i+1} = base_i + d·Σ w·r_i.
    Family "b" (pagerank_OCL.h:156-161): base = (1-d)/n, mass leaks, one
    final sum-normalization after the k steps. Plain ANSI SQL — no
    recursion, so DuckDB evaluates it exactly like the engine's loop and
    the driver gate can hash-compare the values."""
    steps = []
    for i in range(k):
        if family == "a":
            base = (
                f"(l{i}.leaked + (1.0 - l{i}.leaked) * {1.0 - d}) / nn.n"
            )
            leak_cte = f"""
            l{i} AS (
              SELECT coalesce(sum(r.r), 0.0) AS leaked
              FROM r{i} r JOIN dang USING (node)
            ),"""
            leak_join = f" CROSS JOIN l{i}"
        else:
            base = f"{1.0 - d} / nn.n"
            leak_cte = ""
            leak_join = ""
        steps.append(f"""{leak_cte}
            c{i} AS (
              SELECT we.dst AS node, sum(we.w * r.r) AS contrib
              FROM we JOIN r{i} r ON we.src = r.node GROUP BY we.dst
            ),
            r{i + 1} AS (
              SELECT nodes.node,
                     {base} + {d} * coalesce(c{i}.contrib, 0.0) AS r
              FROM nodes CROSS JOIN nn{leak_join}
              LEFT JOIN c{i} ON nodes.node = c{i}.node
            )""")
    final = (
        f"SELECT node AS node_name, round(r, 8) AS rank5 FROM r{k}"
        if family == "a"
        else f"""SELECT node AS node_name,
                round(r / (SELECT sum(r) FROM r{k}), 8) AS rank5 FROM r{k}"""
    )
    if weighted == "decay":
        # time-decayed per-user transition graph: row weight
        # 0.5^(floor(age_sec/86400)/30) vs the corpus max ts, pair
        # weight = sum of row decays, P(src→dst) = wt / Σ_out wt
        utrans_ts = """
            SELECT 'u' || CAST(user_id AS VARCHAR) || ':' || lag(event_type)
                     OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src,
                   'u' || CAST(user_id AS VARCHAR) || ':' || event_type AS dst,
                   ts
            FROM events
            QUALIFY src IS NOT NULL
        """
        prelude = f"""
        WITH rawt AS ({utrans_ts}),
        mx AS (SELECT max(CAST(epoch(ts) AS BIGINT)) AS mt FROM events),
        wrow AS (
          SELECT src, dst,
                 pow(0.5, floor((mx.mt - CAST(epoch(ts) AS BIGINT))
                                / 86400.0) / 30.0) AS w0
          FROM rawt CROSS JOIN mx
        ),
        edges AS (SELECT src, dst, sum(w0) AS wt FROM wrow GROUP BY src, dst),
        nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
        nn AS (SELECT count(*) AS n FROM nodes),
        od AS (SELECT src, sum(wt) AS out_w FROM edges GROUP BY src),
        we AS (
          SELECT e.src, e.dst, e.wt * 1.0 / od.out_w AS w
          FROM edges e JOIN od ON e.src = od.src
        ),"""
    elif weighted:
        # reply-count-weighted per-user transition graph (_UTRANS):
        # P(src→dst) = wt / Σ_out wt
        prelude = f"""
        WITH raw AS ({_UTRANS}),
        edges AS (SELECT src, dst, count(*) AS wt FROM raw GROUP BY src, dst),
        nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
        nn AS (SELECT count(*) AS n FROM nodes),
        od AS (SELECT src, sum(wt) AS out_w FROM edges GROUP BY src),
        we AS (
          SELECT e.src, e.dst, e.wt * 1.0 / od.out_w AS w
          FROM edges e JOIN od ON e.src = od.src
        ),"""
    else:
        prelude = f"""
        WITH edges AS ({_BIP}),
        nodes AS ({_NODES}),
        nn AS (SELECT count(*) AS n FROM nodes),
        od AS (SELECT src, count(*) AS out_deg FROM edges GROUP BY src),
        we AS (
          SELECT e.src, e.dst, 1.0 / od.out_deg AS w
          FROM edges e JOIN od ON e.src = od.src
        ),"""
    return f"""{prelude}
        dang AS (
          SELECT node FROM nodes WHERE node NOT IN (SELECT src FROM od)
        ),
        r0 AS (SELECT node, 1.0 / nn.n AS r FROM nodes CROSS JOIN nn),
        {",".join(steps)}
        {final}
    """


def _hits_unrolled_sql(k: int) -> str:
    """HITS recurrence (operators/hits.py semantics: a' = in-gather of h,
    L1-normalize; h' = out-gather of a', L1-normalize; absent nodes 0)
    unrolled into k chained CTE rounds."""
    steps = []
    for i in range(k):
        steps.append(f"""
            ar{i} AS (
              SELECT e.dst AS node, sum(s.h) AS a_raw
              FROM edges e JOIN s{i} s ON e.src = s.node GROUP BY e.dst
            ),
            at{i} AS (SELECT sum(a_raw) AS t FROM ar{i}),
            a{i} AS (
              SELECT n.node, coalesce(ar.a_raw, 0.0) / at.t AS a
              FROM nodes n CROSS JOIN at{i} at
              LEFT JOIN ar{i} ar ON n.node = ar.node
            ),
            hr{i} AS (
              SELECT e.src AS node, sum(a.a) AS h_raw
              FROM edges e JOIN a{i} a ON e.dst = a.node GROUP BY e.src
            ),
            ht{i} AS (SELECT sum(h_raw) AS t FROM hr{i}),
            s{i + 1} AS (
              SELECT n.node, coalesce(hr.h_raw, 0.0) / ht.t AS h, a.a AS a
              FROM nodes n CROSS JOIN ht{i} ht
              LEFT JOIN hr{i} hr ON n.node = hr.node
              JOIN a{i} a ON a.node = n.node
            )""")
    return f"""
        WITH edges AS ({_BIP}),
        nodes AS ({_NODES}),
        nn AS (SELECT count(*) AS n FROM nodes),
        s0 AS (SELECT node, 1.0 / nn.n AS h, 1.0 / nn.n AS a
               FROM nodes CROSS JOIN nn),
        {",".join(steps)}
        SELECT node AS node_name, round(h, 8) AS hub8, round(a, 8) AS auth8
        FROM s{k}
    """


def _kcore_unrolled_sql(k: int, rounds: int) -> str:
    """k-core peel unrolled into ``rounds`` chained CTE rounds over the
    undirected simple bipartite graph (operators/kcore.py semantics:
    degree filter >= k, then both-endpoint edge filter)."""
    steps = []
    for i in range(rounds):
        steps.append(f"""
            d{i} AS (SELECT src, count(*) AS c FROM e{i} GROUP BY src),
            s{i} AS (SELECT src FROM d{i} WHERE c >= {k}),
            e{i + 1} AS (
              SELECT e.src, e.dst FROM e{i} e
              JOIN s{i} a ON e.src = a.src
              JOIN s{i} b ON e.dst = b.src
            )""")
    return f"""
        WITH edges AS ({_BIP}),
        e0 AS (
          SELECT DISTINCT src, dst FROM (
            SELECT src, dst FROM edges WHERE src <> dst
            UNION ALL SELECT dst, src FROM edges WHERE src <> dst
          )
        ),
        {",".join(steps)}
        SELECT DISTINCT src AS node_name FROM e{rounds}
    """


def _ppr_cte_chain(
    k: int,
    d: float = D,
    srcs_sql: str = "SELECT DISTINCT src AS node FROM edges",
    edges_sql: str = _BIP,
) -> str:
    """Shared WITH-body for the personalized-PageRank oracles
    (operators/pagerank.py personalized_pagerank semantics): v uniform
    over ``srcs_sql``, r0 = v, r_{i+1} = d·(M r_i + leaked_i·v) + (1-d)·v
    with leaked_i read from the CURRENT iterate over dangling vertices;
    ends at CTE r{k}."""
    steps = []
    for i in range(k):
        steps.append(f"""
            l{i} AS (
              SELECT coalesce(sum(r.r), 0.0) AS leaked
              FROM r{i} r JOIN dang USING (node)
            ),
            c{i} AS (
              SELECT we.dst AS node, sum(we.w * r.r) AS contrib
              FROM we JOIN r{i} r ON we.src = r.node GROUP BY we.dst
            ),
            r{i + 1} AS (
              SELECT vv.node,
                     {d} * (coalesce(c{i}.contrib, 0.0) + l{i}.leaked * vv.v)
                       + {1.0 - d} * vv.v AS r
              FROM vv CROSS JOIN l{i}
              LEFT JOIN c{i} ON vv.node = c{i}.node
            )""")
    return f"""edges AS ({edges_sql}),
        nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
        od AS (SELECT src, count(*) AS out_deg FROM edges GROUP BY src),
        we AS (
          SELECT e.src, e.dst, 1.0 / od.out_deg AS w
          FROM edges e JOIN od ON e.src = od.src
        ),
        srcs AS ({srcs_sql}),
        ns AS (SELECT count(*) AS n FROM srcs),
        vv AS (
          SELECT nodes.node,
                 CASE WHEN s.node IS NOT NULL THEN 1.0 / ns.n ELSE 0.0 END AS v
          FROM nodes CROSS JOIN ns LEFT JOIN srcs s ON nodes.node = s.node
        ),
        dang AS (
          SELECT node FROM nodes WHERE node NOT IN (SELECT src FROM od)
        ),
        r0 AS (SELECT node, v AS r FROM vv),
        {",".join(steps)}"""


def _ppr_unrolled_sql(k: int, d: float = D) -> str:
    """k personalized-PageRank CTE steps, teleport uniform over all
    bipartite src nodes (the q_ppr_k5 / q_ppr_step twin)."""
    return f"""
        WITH {_ppr_cte_chain(k, d)}
        SELECT node AS node_name, round(r, 8) AS rank5 FROM r{k}
    """


def _ppr_sweep_sql(k: int, top: int, d: float = D) -> str:
    """Sweep-cut twin of q_ppr_sweep: k PPR steps seeded at min(src), then
    the exact conductance curve — support ordered by the floor-scaled
    r/deg key (floor(score·1e10 + 0.5) desc, vertex-id tie-break: the
    same cross-engine-stable key the Spark operator ranks on, so
    partition-order summation ulps fall to the id tie-break identically),
    per-prefix cut from ±1 deltas at each undirected edge's
    min/max sweep position (edges with an unranked endpoint never get the
    −1: they stay cut forever), vol/cut window cumsums, φ over the
    min-side volume. The PPR runs on the SYMMETRIZED simple bipartite
    view (directed bipartite edges leave every event node dangling, which
    traps the mass in the seed's 1-hop ball — the undirected walk is the
    standard local-clustering setting)."""
    sym_bip = f"SELECT DISTINCT src, dst FROM (SELECT src, dst FROM ({_BIP}) UNION ALL SELECT dst, src FROM ({_BIP}))"
    return f"""
        WITH {_ppr_cte_chain(k, d, srcs_sql="SELECT min(src) AS node FROM edges", edges_sql=sym_bip)},
        p AS (SELECT node, r FROM r{k} WHERE r > 0),
        sym AS (SELECT DISTINCT src, dst FROM edges WHERE src <> dst),
        und AS (SELECT src, dst FROM sym UNION SELECT dst, src FROM sym),
        degu AS (SELECT src AS node, count(*) AS deg FROM und GROUP BY src),
        ranked AS (
          SELECT p.node, degu.deg, p.r / degu.deg AS score,
                 CAST(row_number() OVER (
                   ORDER BY floor((p.r / degu.deg) * 1e10 + 0.5) DESC,
                            p.node
                 ) AS BIGINT) AS pos
          FROM p JOIN degu ON p.node = degu.node
        ),
        pairs AS (SELECT src AS a, dst AS b FROM und WHERE src < dst),
        epos AS (
          SELECT CASE WHEN ra.pos IS NULL THEN rb.pos
                      WHEN rb.pos IS NULL THEN ra.pos
                      ELSE least(ra.pos, rb.pos) END AS minp,
                 CASE WHEN ra.pos IS NOT NULL AND rb.pos IS NOT NULL
                      THEN greatest(ra.pos, rb.pos) END AS maxp
          FROM pairs
          LEFT JOIN ranked ra ON pairs.a = ra.node
          LEFT JOIN ranked rb ON pairs.b = rb.node
          WHERE ra.pos IS NOT NULL OR rb.pos IS NOT NULL
        ),
        deltas AS (
          SELECT pos, CAST(sum(dd) AS BIGINT) AS delta FROM (
            SELECT minp AS pos, count(*) AS dd FROM epos GROUP BY minp
            UNION ALL
            SELECT maxp AS pos, -count(*) AS dd FROM epos
            WHERE maxp IS NOT NULL GROUP BY maxp
          ) GROUP BY pos
        ),
        m2 AS (SELECT CAST(sum(deg) AS BIGINT) AS vol_all FROM degu),
        curve AS (
          SELECT r.pos, r.node, r.score, r.deg,
                 CAST(sum(r.deg) OVER (ORDER BY r.pos) AS BIGINT) AS vol,
                 CAST(sum(coalesce(d.delta, 0)) OVER (ORDER BY r.pos)
                      AS BIGINT) AS cut
          FROM ranked r LEFT JOIN deltas d ON r.pos = d.pos
        )
        SELECT pos, node AS node_name, round(score, 10) AS score10, deg,
               vol, cut,
               round(CAST(cut AS DOUBLE) / least(vol, vol_all - vol), 8)
                 AS phi8
        FROM curve CROSS JOIN m2
        WHERE least(vol, vol_all - vol) > 0 AND pos <= {top}
    """


def _ppr_push_sql(k: int, alpha: float = 0.15, eps: float = 1e-5) -> str:
    """Twin of q_ppr_push: k synchronous threshold-push rounds over the
    symmetrized simple bipartite graph, seed = min(node). Per round:
    over-threshold vertices add alpha·r to p, spread (1-alpha)·r/od, and
    zero their residual; everyone collects incoming spread."""
    steps = []
    for i in range(k):
        steps.append(f"""
            sp{i} AS (
              SELECT e.dst AS node,
                     sum({1.0 - alpha} * s.r / s.od) AS inc
              FROM s{i} s JOIN edges e ON s.node = e.src
              WHERE s.r > {eps} AND s.od > 0
              GROUP BY e.dst
            ),
            s{i + 1} AS (
              SELECT s.node, s.od,
                     s.p + CASE WHEN s.r > {eps} AND s.od > 0
                                THEN {alpha} * s.r ELSE 0.0 END AS p,
                     CASE WHEN s.r > {eps} AND s.od > 0
                          THEN 0.0 ELSE s.r END
                       + coalesce(sp{i}.inc, 0.0) AS r
              FROM s{i} s LEFT JOIN sp{i} ON s.node = sp{i}.node
            )""")
    sym_bip = (
        f"SELECT DISTINCT src, dst FROM (SELECT src, dst FROM ({_BIP}) "
        f"UNION ALL SELECT dst, src FROM ({_BIP}))"
    )
    return f"""
        WITH edges AS ({sym_bip}),
        nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
        od AS (SELECT src AS node, count(*) AS od FROM edges GROUP BY src),
        seed AS (SELECT min(src) AS node FROM edges),
        s0 AS (
          SELECT n.node, coalesce(od.od, 0) AS od, 0.0 AS p,
                 CASE WHEN n.node = seed.node THEN 1.0 ELSE 0.0 END AS r
          FROM nodes n CROSS JOIN seed LEFT JOIN od ON n.node = od.node
        ),
        {",".join(steps)}
        SELECT node AS node_name, round(p, 10) AS p10, round(r, 10) AS r10
        FROM s{k} WHERE p > 0 OR r > 0
    """


def _ppr_nibble_sql(
    k: int, top: int, alpha: float = 0.15, eps: float = 1e-5
) -> str:
    """Twin of q_ppr_nibble: the _ppr_push_sql chain (k synchronous
    threshold-push rounds, seed = min node, symmetrized simple bipartite
    graph) feeding the _ppr_sweep_sql tail — support = push estimates
    p > 0, ordered by the floor-scaled p/deg key. The Spark side's
    pre-ranking cap (8·top) needs no SQL replication: for any prefix
    t ≤ top, an endpoint ranking beyond the cap contributes the same
    never-uncut delta as an unranked one, so the returned curves agree
    exactly (the capped==uncapped pin lives in tests/test_sweep.py)."""
    steps = []
    for i in range(k):
        steps.append(f"""
            sp{i} AS (
              SELECT e.dst AS node,
                     sum({1.0 - alpha} * s.r / s.od) AS inc
              FROM s{i} s JOIN edges e ON s.node = e.src
              WHERE s.r > {eps} AND s.od > 0
              GROUP BY e.dst
            ),
            s{i + 1} AS (
              SELECT s.node, s.od,
                     s.p + CASE WHEN s.r > {eps} AND s.od > 0
                                THEN {alpha} * s.r ELSE 0.0 END AS p,
                     CASE WHEN s.r > {eps} AND s.od > 0
                          THEN 0.0 ELSE s.r END
                       + coalesce(sp{i}.inc, 0.0) AS r
              FROM s{i} s LEFT JOIN sp{i} ON s.node = sp{i}.node
            )""")
    sym_bip = (
        f"SELECT DISTINCT src, dst FROM (SELECT src, dst FROM ({_BIP}) "
        f"UNION ALL SELECT dst, src FROM ({_BIP}))"
    )
    return f"""
        WITH edges AS ({sym_bip}),
        nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
        od AS (SELECT src AS node, count(*) AS od FROM edges GROUP BY src),
        seed AS (SELECT min(src) AS node FROM edges),
        s0 AS (
          SELECT n.node, coalesce(od.od, 0) AS od, 0.0 AS p,
                 CASE WHEN n.node = seed.node THEN 1.0 ELSE 0.0 END AS r
          FROM nodes n CROSS JOIN seed LEFT JOIN od ON n.node = od.node
        ),
        {",".join(steps)},
        p AS (SELECT node, p AS r FROM s{k} WHERE p > 0),
        sym AS (SELECT DISTINCT src, dst FROM edges WHERE src <> dst),
        und AS (SELECT src, dst FROM sym UNION SELECT dst, src FROM sym),
        degu AS (SELECT src AS node, count(*) AS deg FROM und GROUP BY src),
        ranked AS (
          SELECT p.node, degu.deg, p.r / degu.deg AS score,
                 CAST(row_number() OVER (
                   ORDER BY floor((p.r / degu.deg) * 1e10 + 0.5) DESC,
                            p.node
                 ) AS BIGINT) AS pos
          FROM p JOIN degu ON p.node = degu.node
        ),
        pairs AS (SELECT src AS a, dst AS b FROM und WHERE src < dst),
        epos AS (
          SELECT CASE WHEN ra.pos IS NULL THEN rb.pos
                      WHEN rb.pos IS NULL THEN ra.pos
                      ELSE least(ra.pos, rb.pos) END AS minp,
                 CASE WHEN ra.pos IS NOT NULL AND rb.pos IS NOT NULL
                      THEN greatest(ra.pos, rb.pos) END AS maxp
          FROM pairs
          LEFT JOIN ranked ra ON pairs.a = ra.node
          LEFT JOIN ranked rb ON pairs.b = rb.node
          WHERE ra.pos IS NOT NULL OR rb.pos IS NOT NULL
        ),
        deltas AS (
          SELECT pos, CAST(sum(dd) AS BIGINT) AS delta FROM (
            SELECT minp AS pos, count(*) AS dd FROM epos GROUP BY minp
            UNION ALL
            SELECT maxp AS pos, -count(*) AS dd FROM epos
            WHERE maxp IS NOT NULL GROUP BY maxp
          ) GROUP BY pos
        ),
        m2 AS (SELECT CAST(sum(deg) AS BIGINT) AS vol_all FROM degu),
        curve AS (
          SELECT r.pos, r.node, r.score, r.deg,
                 CAST(sum(r.deg) OVER (ORDER BY r.pos) AS BIGINT) AS vol,
                 CAST(sum(coalesce(d.delta, 0)) OVER (ORDER BY r.pos)
                      AS BIGINT) AS cut
          FROM ranked r LEFT JOIN deltas d ON r.pos = d.pos
        )
        SELECT pos, node AS node_name, round(score, 10) AS score10, deg,
               vol, cut,
               round(CAST(cut AS DOUBLE) / least(vol, vol_all - vol), 8)
                 AS phi8
        FROM curve CROSS JOIN m2
        WHERE least(vol, vol_all - vol) > 0 AND pos <= {top}
    """


def _stream_delta_sql(k: int = 3, d: float = D) -> str:
    """Twin of q_stream_delta_r3: chunk 0 (md5 coin >= '08000000') solved
    with k Jacobi rounds of y = 1 + d·Aᵀy (multiplicity-weighted,
    dangling columns leak); chunk 1 applied as the residual delta push —
    rho = d·(A_newᵀ − A_oldᵀ)·y0 restricted to the affected srcs' out-
    neighborhoods (an out-degree change rescales that src's old rows too),
    then k unpruned push hops over the FULL edge multiset, y = y0 + Σ,
    published as y/Σy. Mirrors streaming/rank.py line-for-line in its
    fixed_rounds shape."""
    jsteps = []
    for i in range(k):
        jsteps.append(f"""
            c0_{i} AS (
              SELECT w0.dst AS node, sum(y.y * w0.w) AS s
              FROM w0 JOIN y0_{i} y ON w0.src = y.node GROUP BY w0.dst
            ),
            y0_{i + 1} AS (
              SELECT v.node, 1.0 + {d} * coalesce(c.s, 0.0) AS y
              FROM v0 v LEFT JOIN c0_{i} c ON v.node = c.node
            )""")
    hsteps = []
    prev = "rho"
    for i in range(1, k + 1):
        hsteps.append(f"""
            h{i} AS (
              SELECT wf.dst AS node, {d} * sum(p.dv * wf.w) AS dv
              FROM wf JOIN {prev} p ON wf.src = p.node
              GROUP BY wf.dst
              HAVING abs({d} * sum(p.dv * wf.w)) > 0
            )""")
        prev = f"h{i}"
    hop_union = " UNION ALL ".join(
        [f"SELECT node, dv FROM h{i}" for i in range(1, k + 1)]
    )
    return f"""
        WITH bip AS ({_BIP}),
        tr AS ({_TRANS}),
        e AS (SELECT src, dst FROM bip UNION ALL SELECT src, dst FROM tr),
        flag AS (
          SELECT src, dst,
                 substr(md5(src || '|' || dst || '|delta'), 1, 8)
                   < '08000000' AS isd
          FROM e
        ),
        e0 AS (SELECT src, dst FROM flag WHERE NOT isd),
        eb AS (SELECT src, dst FROM flag WHERE isd),
        p0 AS (SELECT src, dst, count(*) AS c FROM e0 GROUP BY src, dst),
        od0 AS (SELECT src, sum(c) AS od FROM p0 GROUP BY src),
        w0 AS (
          SELECT p0.src, p0.dst, p0.c * 1.0 / od0.od AS w
          FROM p0 JOIN od0 ON p0.src = od0.src
        ),
        v0 AS (SELECT src AS node FROM e0 UNION SELECT dst FROM e0),
        y0_0 AS (SELECT node, 1.0 AS y FROM v0),
        {",".join(jsteps)},
        yb AS (SELECT node, y FROM y0_{k}),
        bp AS (SELECT src, dst, count(*) AS cb FROM eb GROUP BY src, dst),
        aff AS (SELECT DISTINCT src FROM bp),
        oap AS (
          SELECT e0.src, e0.dst, count(*) AS co
          FROM e0 JOIN aff USING (src) GROUP BY e0.src, e0.dst
        ),
        nap AS (
          SELECT coalesce(oap.src, bp.src) AS src,
                 coalesce(oap.dst, bp.dst) AS dst,
                 coalesce(oap.co, 0) + coalesce(bp.cb, 0) AS cn
          FROM oap FULL OUTER JOIN bp
            ON oap.src = bp.src AND oap.dst = bp.dst
        ),
        odo AS (SELECT src, sum(co) AS odo FROM oap GROUP BY src),
        odn AS (SELECT src, sum(cn) AS odn FROM nap GROUP BY src),
        nt AS (
          SELECT nap.dst, coalesce(y.y, 1.0) * nap.cn / odn.odn AS t
          FROM nap JOIN odn ON nap.src = odn.src
          LEFT JOIN yb y ON nap.src = y.node
        ),
        ot AS (
          SELECT oap.dst, -coalesce(y.y, 1.0) * oap.co / odo.odo AS t
          FROM oap JOIN odo ON oap.src = odo.src
          LEFT JOIN yb y ON oap.src = y.node
        ),
        rho AS (
          SELECT dst AS node, {d} * sum(t) AS dv
          FROM (SELECT dst, t FROM nt UNION ALL SELECT dst, t FROM ot)
          GROUP BY dst
          HAVING {d} * sum(t) <> 0.0
        ),
        pf AS (SELECT src, dst, count(*) AS c FROM e GROUP BY src, dst),
        odf AS (SELECT src, sum(c) AS od FROM pf GROUP BY src),
        wf AS (
          SELECT pf.src, pf.dst, pf.c * 1.0 / odf.od AS w
          FROM pf JOIN odf ON pf.src = odf.src
        ),
        {",".join(hsteps)},
        tot AS (
          SELECT node, sum(dv) AS dv
          FROM (SELECT node, dv FROM rho UNION ALL {hop_union})
          GROUP BY node
        ),
        vf AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
        yn AS (
          SELECT vf.node,
                 coalesce(y.y, 1.0) + coalesce(t.dv, 0.0) AS y
          FROM vf LEFT JOIN yb y ON vf.node = y.node
          LEFT JOIN tot t ON vf.node = t.node
        ),
        sy AS (SELECT sum(y) AS s FROM yn)
        SELECT node AS node_name, round(y / sy.s, 8) AS rank3
        FROM yn CROSS JOIN sy
    """


def _simrank_sql(rounds: int = 2, c: float = 0.8) -> str:
    """Truncated-SimRank twin of q_simrank_r2 on the per-user transition
    graph (simple directed view): round 1 = C·|I(a)∩I(b)|/(|I(a)||I(b)|)
    for ordered pairs a < b; round 2 pushes the symmetric round-1 state
    plus the diagonal (s(x,x)=1) through two out-edge joins and rescales.
    Only rounds=2 is generated (the contract pin); the Spark operator
    generalizes the same recurrence to any round count."""
    if rounds != 2:
        raise ValueError("the SQL twin is generated for rounds=2 only")
    return f"""
        WITH raw AS ({_UTRANS}),
        g AS (SELECT DISTINCT src, dst FROM raw WHERE src <> dst),
        ind AS (SELECT dst AS node, count(*) AS ind FROM g GROUP BY dst),
        diag AS (SELECT DISTINCT src AS i FROM g),
        s1 AS (
          SELECT e1.dst AS a, e2.dst AS b,
                 {c} * count(*) / (max(ia.ind) * max(ib.ind)) AS s
          FROM g e1
          JOIN g e2 ON e1.src = e2.src AND e1.dst < e2.dst
          JOIN ind ia ON ia.node = e1.dst
          JOIN ind ib ON ib.node = e2.dst
          GROUP BY e1.dst, e2.dst
        ),
        ssym AS (
          SELECT a AS i, b AS j, s FROM s1
          UNION ALL SELECT b, a, s FROM s1
          UNION ALL SELECT i, i, 1.0 FROM diag
        ),
        s2 AS (
          SELECT e1.dst AS a, e2.dst AS b,
                 {c} * sum(ss.s) / (max(ia.ind) * max(ib.ind)) AS s
          FROM ssym ss
          JOIN g e1 ON e1.src = ss.i
          JOIN g e2 ON e2.src = ss.j AND e1.dst < e2.dst
          JOIN ind ia ON ia.node = e1.dst
          JOIN ind ib ON ib.node = e2.dst
          GROUP BY e1.dst, e2.dst
        )
        SELECT a, b, round(s, 8) AS sim8 FROM s2
    """


# simple undirected view of the per-user transition graph + its degrees —
# shared prelude for the structure.py oracles (clustering / adamic_adar /
# assortativity / ktruss)
_UTRANS_UND = f"""
        raw AS ({_UTRANS}),
        und AS (
          SELECT DISTINCT src AS a, dst AS b FROM raw WHERE src <> dst
          UNION SELECT DISTINCT dst, src FROM raw WHERE src <> dst
        ),
        deg AS (SELECT a AS node, count(*) AS deg FROM und GROUP BY a)
"""


def _ktruss_unrolled_sql(k: int, rounds: int) -> str:
    """k-truss peel unrolled into ``rounds`` chained CTE rounds over the
    per-user transition graph (operators/ktruss.py truss_peel_round
    semantics: per-edge common-neighbor count, keep support >= k-2;
    zero-support edges drop out of the wedge join, matching the Spark
    side's coalesce(0) < k-2 filter for k > 2)."""
    steps = []
    for i in range(rounds):
        steps.append(f"""
            sup{i} AS (
              SELECT e.a, e.b, count(*) AS c
              FROM ed{i} e
              JOIN und{i} u1 ON u1.a = e.a
              JOIN und{i} u2 ON u2.a = e.b AND u2.b = u1.b
              GROUP BY e.a, e.b
            ),
            ed{i + 1} AS (SELECT a, b FROM sup{i} WHERE c >= {k - 2}),
            und{i + 1} AS (
              SELECT a, b FROM ed{i + 1} UNION ALL SELECT b, a FROM ed{i + 1}
            )""")
    return f"""
        WITH {_UTRANS_UND},
        und0 AS (SELECT a, b FROM und),
        ed0 AS (SELECT a, b FROM und0 WHERE a < b),
        {",".join(steps)}
        SELECT a AS node_a, b AS node_b FROM ed{rounds}
    """


def _temporal_unrolled_sql(rounds: int) -> str:
    """Earliest-arrival relaxation unrolled into ``rounds`` chained CTE
    rounds (operators/temporal.py semantics: candidate edges require
    t >= current arrival; integer millis, exact)."""
    steps = []
    for i in range(rounds):
        steps.append(f"""
            c{i} AS (
              SELECT te.dst AS node, min(te.t) AS cand
              FROM te JOIN r{i} r ON te.src = r.node
              WHERE r.arr IS NOT NULL AND te.t >= r.arr
              GROUP BY te.dst
            ),
            r{i + 1} AS (
              SELECT r.node,
                     CASE WHEN r.arr IS NULL THEN c.cand
                          WHEN c.cand IS NULL THEN r.arr
                          ELSE least(r.arr, c.cand) END AS arr
              FROM r{i} r LEFT JOIN c{i} c ON c.node = r.node
            )""")
    return f"""
        WITH base AS (
          SELECT 'u:' || CAST(user_id AS VARCHAR) AS u,
                 'e:' || event_type AS e,
                 epoch_ms(ts) AS t
          FROM events
        ),
        te AS (
          SELECT u AS src, e AS dst, t FROM base
          UNION ALL SELECT e, u, t FROM base
        ),
        nodes AS (
          SELECT DISTINCT node FROM (
            SELECT src AS node FROM te UNION ALL SELECT dst FROM te
          )
        ),
        s0 AS (SELECT min(node) AS s FROM nodes),
        r0 AS (
          SELECT node,
                 CASE WHEN node = (SELECT s FROM s0)
                      THEN CAST(0 AS BIGINT) END AS arr
          FROM nodes
        ),
        {",".join(steps)}
        SELECT node AS node_name, arr FROM r{rounds}
    """


def _mis_unrolled_sql(rounds: int, seed: str = "mis") -> str:
    """Luby MIS unrolled into ``rounds`` chained CTE rounds
    (operators/mis.py semantics: priority md5(seed|round|node); winner iff
    strictly below every active neighbor; winners + neighbors removed)."""
    steps = []
    wins = []
    for r in range(rounds):
        steps.append(f"""
            p{r} AS (
              SELECT node, md5('{seed}|{r}|' || node) AS p FROM a{r}
            ),
            nm{r} AS (
              SELECT e.a AS node, min(p.p) AS np
              FROM e{r} e JOIN p{r} p ON p.node = e.b GROUP BY e.a
            ),
            w{r} AS (
              SELECT p{r}.node, {r} AS round
              FROM p{r} LEFT JOIN nm{r} ON nm{r}.node = p{r}.node
              WHERE nm{r}.np IS NULL OR p{r}.p < nm{r}.np
            ),
            rm{r} AS (
              SELECT node FROM w{r}
              UNION SELECT e.b FROM e{r} e JOIN w{r} w ON w.node = e.a
            ),
            a{r + 1} AS (
              SELECT node FROM a{r}
              WHERE node NOT IN (SELECT node FROM rm{r})
            ),
            e{r + 1} AS (
              SELECT a, b FROM e{r}
              WHERE a IN (SELECT node FROM a{r + 1})
                AND b IN (SELECT node FROM a{r + 1})
            )""")
        wins.append(f"SELECT node, round FROM w{r}")
    return f"""
        WITH {_UTRANS_UND},
        nodes AS (SELECT src AS node FROM raw UNION SELECT dst FROM raw),
        a0 AS (SELECT node FROM nodes),
        e0 AS (SELECT a, b FROM und),
        {",".join(steps)}
        SELECT node AS node_name, round
        FROM ({" UNION ALL ".join(wins)})
    """


def _katz_unrolled_sql(rounds: int, alpha: float = 0.05) -> str:
    """Katz iterations unrolled into chained CTEs (operators/katz.py
    semantics: x0 = beta=1; x' = 1 + alpha * weighted in-sum; parallel
    edges collapse to count weights)."""
    steps = []
    for i in range(rounds):
        steps.append(f"""
            c{i} AS (
              SELECT we.dst AS node, sum(x.x * we.w) AS c
              FROM we JOIN x{i} x ON x.node = we.src
              GROUP BY we.dst
            ),
            x{i + 1} AS (
              SELECT n.node, 1.0 + {alpha} * coalesce(c.c, 0.0) AS x
              FROM x{i} n LEFT JOIN c{i} c ON c.node = n.node
            )""")
    return f"""
        WITH raw AS ({_UTRANS}),
        we AS (
          SELECT src, dst, CAST(count(*) AS DOUBLE) AS w
          FROM raw GROUP BY src, dst
        ),
        nodes AS (SELECT src AS node FROM raw UNION SELECT dst FROM raw),
        x0 AS (SELECT node, 1.0 AS x FROM nodes),
        {",".join(steps)}
        SELECT node AS node_name, round(x, 8) AS katz8 FROM x{rounds}
    """


def _matching_unrolled_sql(rounds: int, seed: str = "match") -> str:
    """Maximal-matching tournament rounds unrolled into chained CTEs
    (operators/matching.py semantics: canonical a<b simple edges;
    priority md5(seed|round|a|b); win iff min at both endpoints; both
    endpoints retire)."""
    steps = []
    wins = []
    for r in range(rounds):
        steps.append(f"""
            p{r} AS (
              SELECT a, b, md5('{seed}|{r}|' || a || '|' || b) AS p
              FROM e{r}
            ),
            vm{r} AS (
              SELECT v, min(p) AS mp FROM (
                SELECT a AS v, p FROM p{r}
                UNION ALL SELECT b AS v, p FROM p{r}
              ) GROUP BY v
            ),
            w{r} AS (
              SELECT p.a, p.b, {r} AS round
              FROM p{r} p
              JOIN vm{r} va ON va.v = p.a
              JOIN vm{r} vb ON vb.v = p.b
              WHERE p.p = va.mp AND p.p = vb.mp
            ),
            t{r} AS (SELECT a AS v FROM w{r} UNION SELECT b FROM w{r}),
            e{r + 1} AS (
              SELECT a, b FROM e{r}
              WHERE a NOT IN (SELECT v FROM t{r})
                AND b NOT IN (SELECT v FROM t{r})
            )""")
        wins.append(f"SELECT a, b, round FROM w{r}")
    return f"""
        WITH {_UTRANS_UND},
        e0 AS (SELECT a, b FROM und WHERE a < b),
        {",".join(steps)}
        SELECT a AS node_a, b AS node_b, round
        FROM ({" UNION ALL ".join(wins)})
    """


def _salsa_unrolled_sql(rounds: int) -> str:
    """SALSA iterations unrolled into chained CTEs (operators/salsa.py
    semantics: multi-edges kept as rows, w_bwd = 1/out_deg(src), w_fwd =
    1/in_deg(dst); a' = backward stochastic step, h' = forward on a';
    degree-absent vertices coalesce to 0)."""
    steps = []
    for i in range(rounds):
        steps.append(f"""
            a{i} AS (
              SELECT we.dst AS node, sum(s.h * we.w_bwd) AS a_raw
              FROM we JOIN s{i} s ON s.node = we.src GROUP BY we.dst
            ),
            h{i} AS (
              SELECT we.src AS node, sum(a.a_raw * we.w_fwd) AS h_raw
              FROM we JOIN a{i} a ON a.node = we.dst GROUP BY we.src
            ),
            s{i + 1} AS (
              SELECT n.node,
                     coalesce(h.h_raw, 0.0) AS h,
                     coalesce(a.a_raw, 0.0) AS a
              FROM s{i} n
              LEFT JOIN a{i} a ON a.node = n.node
              LEFT JOIN h{i} h ON h.node = n.node
            )""")
    return f"""
        WITH raw AS ({_UTRANS}),
        e AS (SELECT src, dst FROM raw),
        od AS (SELECT src, count(*) AS od FROM e GROUP BY src),
        idg AS (SELECT dst, count(*) AS idg FROM e GROUP BY dst),
        we AS (
          SELECT e.src, e.dst, 1.0 / od.od AS w_bwd, 1.0 / idg.idg AS w_fwd
          FROM e JOIN od ON od.src = e.src JOIN idg ON idg.dst = e.dst
        ),
        nodes AS (SELECT src AS node FROM raw UNION SELECT dst FROM raw),
        nn AS (SELECT count(*) AS n FROM nodes),
        s0 AS (
          SELECT node, 1.0 / nn.n AS h, 1.0 / nn.n AS a
          FROM nodes CROSS JOIN nn
        ),
        {",".join(steps)}
        SELECT node AS node_name, round(h, 8) AS hub8, round(a, 8) AS auth8
        FROM s{rounds}
    """


def _trussness_unrolled_sql(rounds: int) -> str:
    """Truss-decomposition h-index rounds unrolled into chained CTEs
    (operators/ktruss.py truss_decomposition semantics: triangle
    incidence = canonical edge + its triangle's other two canonical
    edges; s0 = support; s' = max(least(rank_desc, min-pair-level)))."""
    steps = []
    for r in range(rounds):
        steps.append(f"""
            v{r} AS (
              SELECT i.a, i.b, least(s1.s, s2.s) AS v
              FROM inc i
              JOIN s{r} s1 ON s1.a = i.c1 AND s1.b = i.d1
              JOIN s{r} s2 ON s2.a = i.c2 AND s2.b = i.d2
            ),
            rk{r} AS (
              SELECT a, b, v,
                     row_number() OVER (PARTITION BY a, b ORDER BY v DESC)
                       AS rk
              FROM v{r}
            ),
            up{r} AS (
              SELECT a, b, max(least(rk, v)) AS h FROM rk{r} GROUP BY a, b
            ),
            s{r + 1} AS (
              SELECT s.a, s.b, coalesce(u.h, 0) AS s
              FROM s{r} s LEFT JOIN up{r} u ON u.a = s.a AND u.b = s.b
            )""")
    return f"""
        WITH {_UTRANS_UND},
        canon AS (SELECT a, b FROM und WHERE a < b),
        inc AS (
          SELECT c.a, c.b,
                 least(c.a, u1.b) AS c1, greatest(c.a, u1.b) AS d1,
                 least(c.b, u1.b) AS c2, greatest(c.b, u1.b) AS d2
          FROM canon c
          JOIN und u1 ON u1.a = c.a
          JOIN und u2 ON u2.a = c.b AND u2.b = u1.b
        ),
        sup AS (SELECT a, b, count(*) AS s FROM inc GROUP BY a, b),
        s0 AS (
          SELECT c.a, c.b, coalesce(sup.s, 0) AS s
          FROM canon c LEFT JOIN sup ON sup.a = c.a AND sup.b = c.b
        ),
        {",".join(steps)}
        SELECT a AS node_a, b AS node_b, s + 2 AS trussness FROM s{rounds}
    """


def _eigen_unrolled_sql(rounds: int) -> str:
    """L2-normalized power iterations unrolled into chained CTEs
    (operators/eigen.py semantics: x0 = 1/sqrt(n); raw = weighted
    in-sum with 0 for no in-edges; x' = raw / sqrt(sum raw^2))."""
    steps = []
    for i in range(rounds):
        steps.append(f"""
            c{i} AS (
              SELECT we.dst AS node, sum(x.x * we.w) AS c
              FROM we JOIN x{i} x ON x.node = we.src
              GROUP BY we.dst
            ),
            full{i} AS (
              SELECT n.node, coalesce(c.c, 0.0) AS c
              FROM x{i} n LEFT JOIN c{i} c ON c.node = n.node
            ),
            nrm{i} AS (SELECT sqrt(sum(c * c)) AS l2 FROM full{i}),
            x{i + 1} AS (
              SELECT node, c / l2 AS x FROM full{i} CROSS JOIN nrm{i}
            )""")
    return f"""
        WITH raw AS ({_UTRANS}),
        we AS (
          SELECT src, dst, CAST(count(*) AS DOUBLE) AS w
          FROM raw GROUP BY src, dst
        ),
        nodes AS (SELECT src AS node FROM raw UNION SELECT dst FROM raw),
        nn AS (SELECT count(*) AS n FROM nodes),
        x0 AS (SELECT node, 1.0 / sqrt(nn.n) AS x FROM nodes CROSS JOIN nn),
        {",".join(steps)}
        SELECT node AS node_name, round(x, 8) AS eig8 FROM x{rounds}
    """


def _coloring_unrolled_sql(rounds: int, seed: str = "color") -> str:
    """Greedy-coloring rounds unrolled into chained CTEs
    (operators/coloring.py semantics: priority md5(seed|round|node);
    local minimum takes color = round; ONLY winners leave the active
    set — the one-line difference vs _mis_unrolled_sql's rm CTE)."""
    steps = []
    wins = []
    for r in range(rounds):
        steps.append(f"""
            p{r} AS (
              SELECT node, md5('{seed}|{r}|' || node) AS p FROM a{r}
            ),
            nm{r} AS (
              SELECT e.a AS node, min(p.p) AS np
              FROM e{r} e JOIN p{r} p ON p.node = e.b GROUP BY e.a
            ),
            w{r} AS (
              SELECT p{r}.node, {r} AS color
              FROM p{r} LEFT JOIN nm{r} ON nm{r}.node = p{r}.node
              WHERE nm{r}.np IS NULL OR p{r}.p < nm{r}.np
            ),
            a{r + 1} AS (
              SELECT node FROM a{r}
              WHERE node NOT IN (SELECT node FROM w{r})
            ),
            e{r + 1} AS (
              SELECT a, b FROM e{r}
              WHERE a IN (SELECT node FROM a{r + 1})
                AND b IN (SELECT node FROM a{r + 1})
            )""")
        wins.append(f"SELECT node, color FROM w{r}")
    return f"""
        WITH {_UTRANS_UND},
        nodes AS (SELECT src AS node FROM raw UNION SELECT dst FROM raw),
        a0 AS (SELECT node FROM nodes),
        e0 AS (SELECT a, b FROM und),
        {",".join(steps)}
        SELECT node AS node_name, color
        FROM ({" UNION ALL ".join(wins)})
    """


def _coreness_unrolled_sql(rounds: int) -> str:
    """h-index refinement rounds unrolled into chained CTEs
    (operators/coreness.py semantics: h0 = simple-graph degree (0 for
    isolated); h' = max over desc-ranked neighbor h of least(rank, h) —
    row_number tie order is value-irrelevant because min(rank, x) over a
    ranked multiset depends only on the sorted values)."""
    steps = []
    for r in range(rounds):
        steps.append(f"""
            j{r} AS (
              SELECT u.a AS node, h.h AS nh
              FROM und u JOIN h{r} h ON h.node = u.b
            ),
            rk{r} AS (
              SELECT node, nh,
                     row_number() OVER (PARTITION BY node ORDER BY nh DESC)
                       AS rk
              FROM j{r}
            ),
            up{r} AS (
              SELECT node, max(least(rk, nh)) AS h FROM rk{r} GROUP BY node
            ),
            h{r + 1} AS (
              SELECT h.node, coalesce(u.h, h.h) AS h
              FROM h{r} h LEFT JOIN up{r} u ON u.node = h.node
            )""")
    return f"""
        WITH {_UTRANS_UND},
        nodes AS (SELECT src AS node FROM raw UNION SELECT dst FROM raw),
        h0 AS (
          SELECT n.node, coalesce(d.deg, 0) AS h
          FROM nodes n LEFT JOIN deg d ON d.node = n.node
        ),
        {",".join(steps)}
        SELECT node AS node_name, h FROM h{rounds}
    """


def _sssp_unrolled_sql(rounds: int) -> str:
    """Bellman-Ford unrolled into ``rounds`` chained CTE rounds over the
    undirected cost = 1/count per-user transition graph (operators/sssp.py
    semantics: new = least(old, min over incoming (pred_cost + w)), NULL =
    not yet reached). The CASE spells out NULL handling so both engines
    compute the identical recurrence."""
    steps = []
    for i in range(rounds):
        steps.append(f"""
            c{i} AS (
              SELECT we.dst AS node, min(r.cost + we.w) AS cand
              FROM we JOIN r{i} r ON we.src = r.node
              WHERE r.cost IS NOT NULL
              GROUP BY we.dst
            ),
            r{i + 1} AS (
              SELECT r.node,
                     CASE WHEN r.cost IS NULL THEN c.cand
                          WHEN c.cand IS NULL THEN r.cost
                          ELSE least(r.cost, c.cand) END AS cost
              FROM r{i} r LEFT JOIN c{i} c ON c.node = r.node
            )""")
    return f"""
        WITH raw AS ({_UTRANS}),
        simple AS (
          SELECT least(src, dst) AS a, greatest(src, dst) AS b,
                 count(*) AS cnt
          FROM raw WHERE src <> dst GROUP BY 1, 2
        ),
        we AS (
          SELECT a AS src, b AS dst, 1.0 / cnt AS w FROM simple
          UNION ALL SELECT b, a, 1.0 / cnt FROM simple
        ),
        nodes AS (SELECT a AS node FROM simple UNION SELECT b FROM simple),
        s0 AS (SELECT min(node) AS s FROM nodes),
        r0 AS (
          SELECT node,
                 CASE WHEN node = (SELECT s FROM s0) THEN 0.0 END AS cost
          FROM nodes
        ),
        {",".join(steps)}
        SELECT node AS node_name, round(cost, 8) AS cost8 FROM r{rounds}
    """


def _wrandwalk_unrolled_sql(k: int, seed: str = "ww0") -> str:
    """Weighted deterministic walks unrolled into k chained CTE steps
    (operators/walks.py weighted_random_walks semantics): u = 48-bit md5
    slice of (start|seed|step), pick the out-neighbor whose cumulative-
    weight slot (ordered by dst) contains u mod total-out-weight. All
    integers — exact cross-engine."""
    steps = []
    outs = ["SELECT start, 0 AS step, node FROM w0"]
    for i in range(1, k + 1):
        steps.append(f"""
            w{i} AS (
              SELECT start, dst AS node FROM (
                SELECT wk.start, we.dst, we.w,
                       sum(we.w) OVER (PARTITION BY wk.start ORDER BY we.dst
                                       ROWS UNBOUNDED PRECEDING) AS cum,
                       sum(we.w) OVER (PARTITION BY wk.start) AS tot,
                       ('0x' || substr(md5(wk.start || '|{seed}|{i}'), 1, 12))::BIGINT
                         AS u
                FROM w{i - 1} wk JOIN we ON we.src = wk.node
              )
              WHERE cum - w <= u % tot AND u % tot < cum
            )""")
        outs.append(f"SELECT start, {i} AS step, node FROM w{i}")
    return f"""
        WITH raw AS ({_UTRANS}),
        we AS (
          SELECT src, dst, count(*) AS w FROM raw GROUP BY src, dst
        ),
        starts AS (
          SELECT DISTINCT node FROM (
            SELECT src AS node FROM we UNION ALL SELECT dst FROM we
          )
        ),
        w0 AS (SELECT node AS start, node AS node FROM starts),
        {",".join(steps)},
        walk AS ({" UNION ALL ".join(outs)})
        SELECT start AS start_node, step, node AS node_name FROM walk
    """


def _node2vec_unrolled_sql(
    k: int,
    wr: int = 1,
    wc: int = 4,
    wf: int = 2,
    seed: str = "n2v0",
) -> str:
    """node2vec second-order walks unrolled into k chained CTE steps
    (operators/walks.py node2vec_walks semantics): uniform md5
    tournament at step 1, then per-candidate integer biases
    (return wr / near wc / far wf via the symmetrized edge set) drawn by
    the shared 48-bit md5 slice and cumulative slots ordered by the
    candidate id."""
    steps = []
    outs = ["SELECT node AS start, 0 AS step, node FROM starts"]
    if k >= 1:
        steps.append(f"""
            w1 AS (
              SELECT start, prev, node FROM (
                SELECT s.node AS start, s.node AS prev, e.dst AS node,
                       row_number() OVER (
                         PARTITION BY s.node
                         ORDER BY md5(s.node || '|{seed}|1|' || e.dst)
                       ) AS rn
                FROM starts s JOIN e ON e.src = s.node
              ) WHERE rn = 1
            )""")
        outs.append("SELECT start, 1 AS step, node FROM w1")
    for i in range(2, k + 1):
        steps.append(f"""
            w{i} AS (
              SELECT start, cn AS prev, nxt AS node FROM (
                SELECT f.start, f.cn, f.nxt, f.w,
                       sum(f.w) OVER (PARTITION BY f.start ORDER BY f.nxt
                                      ROWS UNBOUNDED PRECEDING) AS cum,
                       sum(f.w) OVER (PARTITION BY f.start) AS tot,
                       ('0x' || substr(md5(f.start || '|{seed}|{i}'), 1, 12)
                        )::BIGINT AS u
                FROM (
                  SELECT wk.start, wk.node AS cn, e.dst AS nxt,
                         CASE WHEN e.dst = wk.prev THEN {wr}
                              WHEN u2.a IS NOT NULL THEN {wc}
                              ELSE {wf} END AS w
                  FROM w{i - 1} wk
                  JOIN e ON e.src = wk.node
                  LEFT JOIN und u2 ON u2.a = wk.prev AND u2.b = e.dst
                ) f
              ) WHERE cum - w <= u % tot AND u % tot < cum
            )""")
        outs.append(f"SELECT start, {i} AS step, node FROM w{i}")
    return f"""
        WITH raw AS ({_UTRANS}),
        e AS (SELECT DISTINCT src, dst FROM raw WHERE src <> dst),
        und AS (
          SELECT src AS a, dst AS b FROM e UNION SELECT dst, src FROM e
        ),
        starts AS (
          SELECT DISTINCT node FROM (
            SELECT src AS node FROM e UNION ALL SELECT dst FROM e
          )
        ),
        {",".join(steps)},
        walk AS ({" UNION ALL ".join(outs)})
        SELECT start AS start_node, step, node AS node_name FROM walk
    """


def _betweenness_unrolled_sql(levels: int = 8, n_sources: int = 4) -> str:
    """Brandes betweenness unrolled into fixed-level CTEs
    (operators/betweenness.py semantics): forward levels f1..fL carry σ
    (sum over frontier predecessors, anti-joined against settled),
    backward levels dl{L-1}..dl1 carry δ (σv/σw · (1+δw) over successors
    one level deeper). ``levels`` must exceed the sample's eccentricity
    (the Spark side runs to fixpoint; levels=8 >> the bipartite graph's
    ~4). Sources: the n_sources lexicographic-min user vertices."""
    fwd, f_names = [], []
    for l in range(1, levels + 1):
        fwd.append(f"""
            f{l} AS MATERIALIZED (
              SELECT f.s, u.b AS node, sum(f.sig) AS sig
              FROM f{l - 1} f JOIN und u ON u.a = f.node
              WHERE NOT EXISTS (
                SELECT 1 FROM st{l - 1} st WHERE st.s = f.s AND st.node = u.b
              )
              GROUP BY f.s, u.b
            ),
            st{l} AS MATERIALIZED (
              SELECT * FROM st{l - 1}
              UNION ALL SELECT s, node, {l} AS d, sig FROM f{l}
            )""")
        f_names.append(f"f{l}")
    bwd, d_names = [], []
    for lev in range(levels - 1, 0, -1):
        prev = (
            f"LEFT JOIN dl{lev + 1} dd ON dd.s = w.s AND dd.node = w.node"
            if lev < levels - 1
            else ""
        )
        dterm = (
            "coalesce(dd.delta, 0.0)" if lev < levels - 1 else "0.0"
        )
        bwd.append(f"""
            dl{lev} AS MATERIALIZED (
              SELECT v.s, v.node,
                     sum(v.sig * (1.0 + {dterm}) / w.sig) AS delta
              FROM st{levels} v
              JOIN und u ON u.a = v.node
              JOIN st{levels} w
                ON w.s = v.s AND w.node = u.b AND w.d = {lev + 1}
              {prev}
              WHERE v.d = {lev}
              GROUP BY v.s, v.node
            )""")
        d_names.append(f"dl{lev}")
    union_d = " UNION ALL ".join(f"SELECT * FROM {n}" for n in d_names)
    return f"""
        WITH edges AS ({_BIP}),
        und AS MATERIALIZED (
          SELECT DISTINCT src AS a, dst AS b FROM edges WHERE src <> dst
          UNION SELECT DISTINCT dst, src FROM edges WHERE src <> dst
        ),
        nodes AS MATERIALIZED (
          SELECT DISTINCT node FROM (
            SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges
          )
        ),
        srcs AS MATERIALIZED (
          SELECT node FROM nodes WHERE node LIKE 'u:%'
          ORDER BY node LIMIT {n_sources}
        ),
        f0 AS MATERIALIZED (SELECT node AS s, node, 1.0 AS sig FROM srcs),
        st0 AS MATERIALIZED (SELECT s, node, 0 AS d, sig FROM f0),
        {",".join(fwd)},
        {",".join(bwd)},
        alld AS ({union_d})
        SELECT node AS node_name, round(sum(delta), 6) AS bc6
        FROM alld GROUP BY node
    """


def _randwalk_unrolled_sql(k: int, seed: str = "w0") -> str:
    """Deterministic random walks unrolled into k chained arg_min CTEs
    (operators/walks.py semantics: next = arg_min over out-neighbors of
    md5(start|seed|step|dst); md5 hex compares identically in Spark and
    DuckDB, so the walk table is exactly value-checkable)."""
    steps = []
    outs = ["SELECT start, 0 AS step, node FROM w0"]
    for i in range(1, k + 1):
        steps.append(f"""
            w{i} AS (
              SELECT w.start,
                     arg_min(e.dst,
                             md5(w.start || '|{seed}|{i}|' || e.dst)) AS node
              FROM w{i - 1} w JOIN e ON e.src = w.node
              GROUP BY w.start
            )""")
        outs.append(f"SELECT start, {i} AS step, node FROM w{i}")
    return f"""
        WITH raw AS ({_UTRANS}),
        e AS (SELECT DISTINCT src, dst FROM raw),
        starts AS (SELECT src AS node FROM e UNION SELECT dst AS node FROM e),
        w0 AS (SELECT node AS start, node AS node FROM starts),
        {",".join(steps)},
        walk AS ({" UNION ALL ".join(outs)})
        SELECT start AS start_node, step, node AS node_name FROM walk
    """


def _lpa_unrolled_sql(k: int) -> str:
    """Synchronous LPA (mode of neighbor labels, ties to the SMALLER label,
    isolated vertices keep theirs — operators/lpa.py semantics) unrolled
    into k chained CTE rounds. Labels are string node ids, so the tie-break
    is plain byte order in both engines."""
    steps = []
    for i in range(k):
        steps.append(f"""
            cnt{i} AS (
              SELECT s.dst AS node, r.label, count(*) AS cnt
              FROM sym s JOIN l{i} r ON s.src = r.node GROUP BY s.dst, r.label
            ),
            best{i} AS (
              SELECT node, label AS cand FROM cnt{i}
              QUALIFY row_number() OVER (PARTITION BY node
                                         ORDER BY cnt DESC, label ASC) = 1
            ),
            l{i + 1} AS (
              SELECT l.node, coalesce(b.cand, l.label) AS label
              FROM l{i} l LEFT JOIN best{i} b ON l.node = b.node
            )""")
    return f"""
        WITH e AS ({_BIP}),
        sym AS (
          SELECT DISTINCT src, dst FROM e WHERE src <> dst
          UNION SELECT DISTINCT dst, src FROM e WHERE src <> dst
        ),
        nodes AS ({_NODES}),
        l0 AS (SELECT node, node AS label FROM nodes),
        {",".join(steps)}
        SELECT node AS node_name, label AS label_name FROM l{k}
    """


def _slpa_unrolled_sql(k: int) -> str:
    """Seeded/clamped LPA (operators/lpa.py seeded_label_propagation
    semantics) unrolled into k chained CTE rounds: NULL start for
    non-seeds, labeled-neighbor mode with (count desc, label asc) ties,
    seeds clamped in every update."""
    steps = []
    for i in range(k):
        steps.append(f"""
            cnt{i} AS (
              SELECT s.dst AS node, r.label, count(*) AS cnt
              FROM sym s JOIN l{i} r
                ON s.src = r.node AND r.label IS NOT NULL
              GROUP BY s.dst, r.label
            ),
            best{i} AS (
              SELECT node, label AS cand FROM cnt{i}
              QUALIFY row_number() OVER (PARTITION BY node
                                         ORDER BY cnt DESC, label ASC) = 1
            ),
            l{i + 1} AS (
              SELECT l.node,
                     CASE WHEN l.seed THEN l.label
                          ELSE coalesce(b.cand, l.label) END AS label,
                     l.seed
              FROM l{i} l LEFT JOIN best{i} b ON l.node = b.node
            )""")
    return f"""
        WITH e AS ({_BIP}),
        sym AS (
          SELECT DISTINCT src, dst FROM e WHERE src <> dst
          UNION SELECT DISTINCT dst, src FROM e WHERE src <> dst
        ),
        nodes AS ({_NODES}),
        l0 AS (
          SELECT node,
                 CASE WHEN substr(md5(node), 1, 1) = '0' THEN node END
                   AS label,
                 substr(md5(node), 1, 1) = '0' AS seed
          FROM nodes
        ),
        {",".join(steps)}
        SELECT node AS node_name, label AS label_name FROM l{k}
    """


def _stopword_hits_sql(col: str, words: list[str]) -> str:
    padded = f"(' ' || {col} || ' ')"
    terms = [
        f"(length({padded}) - length(replace({padded}, ' {w} ', ''))) / {len(w) + 2}"
        for w in words
    ]
    return "(" + " + ".join(terms) + ")"


def _pii_counts_sql() -> str:
    """One CAST(len(regexp_extract_all(...))) projection per pattern,
    built from the SAME _PII_PATTERNS dict the Spark operator compiles —
    the two engines can never drift."""
    from linkgraph.operators.textstats import _PII_PATTERNS

    return ", ".join(
        f"CAST(len(regexp_extract_all(text, '{p}')) AS BIGINT) AS {n}"
        for n, p in _PII_PATTERNS.items()
    )


def oracle_sql() -> dict[str, str]:
    en = ["the", "and", "of", "to", "in", "is", "that", "it", "was", "for"]
    de = ["der", "die", "und", "das", "ist", "nicht", "ein", "mit", "ich", "auf"]
    fr = ["le", "la", "et", "les", "des", "est", "un", "une", "dans", "que"]
    norm = _DOC_NORM
    ntok = f"CASE WHEN length({norm}) = 0 THEN 0 ELSE length({norm}) - length(replace({norm}, ' ', '')) + 1 END"

    out = {
        "edge_derivation": f"""
            SELECT src, dst, count(*) AS weight FROM ({_TRANS}) GROUP BY src, dst
        """,
        "out_degrees": f"""
            SELECT src AS node_name, count(*) AS out_deg FROM ({_BIP}) GROUP BY src
        """,
        "in_degrees": f"""
            SELECT dst AS node_name, count(*) AS in_deg FROM ({_BIP}) GROUP BY dst
        """,
        "dangling": f"""
            SELECT node AS node_name FROM ({_NODES})
            WHERE node NOT IN (SELECT DISTINCT src FROM ({_BIP}))
        """,
        "pagerank_step": f"""
            WITH edges AS ({_BIP}),
            nodes AS ({_NODES}),
            n AS (SELECT count(*) AS n FROM nodes),
            od AS (SELECT src, count(*) AS out_deg FROM edges GROUP BY src),
            dang AS (
              SELECT count(*) AS cnt FROM nodes
              WHERE node NOT IN (SELECT src FROM od)
            ),
            base AS (
              SELECT ((dang.cnt * 1.0 / n.n) + (1.0 - dang.cnt * 1.0 / n.n) * 0.15) / n.n AS b,
                     n.n AS n
              FROM dang, n
            ),
            contribs AS (
              SELECT e.dst AS node, sum((1.0 / od.out_deg) * (1.0 / n.n)) AS contrib
              FROM edges e JOIN od ON e.src = od.src CROSS JOIN n
              GROUP BY e.dst
            )
            SELECT nodes.node AS node_name,
                   round(base.b + 0.85 * coalesce(contribs.contrib, 0.0), 8) AS rank1
            FROM nodes CROSS JOIN base LEFT JOIN contribs ON nodes.node = contribs.node
        """,
        "pagerank_k5": _pagerank_unrolled_sql(5),
        "pagerank_b_k5": _pagerank_unrolled_sql(5, family="b"),
        "pagerank_w_k5": _pagerank_unrolled_sql(5, weighted=True),
        "pagerank_decay_k5": _pagerank_unrolled_sql(5, weighted="decay"),
        "minhash_band_pairs": f"""
            WITH base AS (
              SELECT doc_id AS id, string_split({_DOC_NORM}, ' ') AS toks
              FROM documents
            ),
            sh AS (
              SELECT id, unnest(list_distinct(list_transform(
                  generate_series(1, greatest(len(toks) - 4, 1)),
                  i -> array_to_string(toks[i:i+4], ' ')
              ))) AS shingle
              FROM base
            ),
            hx AS (
              SELECT id, i,
                     min(md5(shingle || '|' || CAST(i AS VARCHAR))) AS h
              FROM sh CROSS JOIN (SELECT unnest(range(8)) AS i)
              GROUP BY id, i
            ),
            bands AS (
              SELECT id, i // 2 AS band,
                     string_agg(h, ',' ORDER BY i) AS bucket
              FROM hx GROUP BY id, i // 2
            ),
            pairs AS (
              SELECT DISTINCT l.id AS a, r.id AS b
              FROM bands l
              JOIN bands r ON l.band = r.band AND l.bucket = r.bucket
              WHERE l.id < r.id
            ),
            ag AS (
              SELECT p.a, p.b,
                     CAST(sum(CASE WHEN ha.h = hb.h THEN 1 ELSE 0 END)
                          AS BIGINT) AS agree
              FROM pairs p
              JOIN hx ha ON ha.id = p.a
              JOIN hx hb ON hb.id = p.b AND hb.i = ha.i
              GROUP BY p.a, p.b
            )
            SELECT a, b, agree FROM ag
        """,
        "winnow_round": f"""
            WITH base AS (
              SELECT doc_id AS id, string_split({_DOC_NORM}, ' ') AS toks
              FROM documents
            ),
            g AS (
              SELECT id, i - 1 AS pos,
                     md5(array_to_string(toks[i:i+2], ' ')) AS h
              FROM (
                SELECT id, toks,
                       unnest(generate_series(1, greatest(len(toks) - 2, 1)))
                         AS i
                FROM base
              )
            ),
            w AS (
              SELECT id, pos,
                     min(h) OVER (PARTITION BY id ORDER BY pos
                                  ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
                       AS fp
              FROM g
            )
            SELECT DISTINCT id AS doc_id, fp FROM w WHERE pos >= 3
        """,
        # same recurrences, computed by the sharded CSR engine instead of
        # the dataframe loop — engine-agnostic oracles by design
        "pagerank_ws_k5": _pagerank_unrolled_sql(5, weighted=True),
        "pagerank_bs_k5": _pagerank_unrolled_sql(5, family="b"),
        "hits_k3": _hits_unrolled_sql(3),
        "kcore_r3": _kcore_unrolled_sql(3, 3),
        "ppr_k5": _ppr_unrolled_sql(5),
        "ktruss_r2": _ktruss_unrolled_sql(5, 2),
        "randwalk_k3": _randwalk_unrolled_sql(3),
        "wrandwalk_k3": _wrandwalk_unrolled_sql(3),
        "node2vec_k3": _node2vec_unrolled_sql(3),
        "betweenness_k4": _betweenness_unrolled_sql(8, 4),
        "sssp_r4": _sssp_unrolled_sql(4),
        # anf_round: 2 HyperANF register max-merge rounds = bucket-wise max
        # over the 2-hop out-ball. md5 48-bit slice, b=4 -> m=16 registers,
        # rho = (48-4) - floor(log2 w) = 45 - length(bin(w)) (w=0 -> 45);
        # present buckets always have rho >= 1, so zero_regs = 16 - #present.
        "anf_round": f"""
            WITH e AS (SELECT DISTINCT src, dst FROM ({_UTRANS})),
            nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
            h AS (SELECT node,
                         CAST(('0x' || substr(md5('anf|' || node), 1, 12))
                              AS BIGINT) AS hv
                  FROM nodes),
            obs AS (SELECT node, hv % 16 AS bucket,
                           CASE WHEN hv // 16 = 0 THEN 45
                                ELSE 45 - length(bin(hv // 16)) END AS rho
                    FROM h),
            hop1 AS (SELECT node AS v, node AS u FROM nodes
                     UNION SELECT src AS v, dst AS u FROM e),
            ball AS (SELECT DISTINCT h1.v, h2.u
                     FROM hop1 h1 JOIN hop1 h2 ON h1.u = h2.v),
            regs AS (SELECT b.v AS node, o.bucket, max(o.rho) AS rho
                     FROM ball b JOIN obs o ON b.u = o.node
                     GROUP BY b.v, o.bucket)
            SELECT node AS node_name,
                   CAST(sum(rho) AS INT) AS rho_sum,
                   CAST(16 - count(*) AS INT) AS zero_regs
            FROM regs GROUP BY node
        """,
        "mis_r2": _mis_unrolled_sql(2),
        "coreness_r2": _coreness_unrolled_sql(2),
        # densest-subgraph peel, 2 rounds unrolled (threshold arithmetic
        # ordered identically to densest_round_stats: deg > 2.0*(1+eps)*
        # (m2/2.0/n) — integer inputs, bit-identical doubles)
        "densest_r2": f"""
            WITH raw AS (
              SELECT src, dst FROM ({_BIP})
              UNION ALL SELECT src, dst FROM ({_TRANS})
            ),
            und AS (
              SELECT DISTINCT src AS a, dst AS b FROM raw WHERE src <> dst
              UNION SELECT DISTINCT dst, src FROM raw WHERE src <> dst
            ),
            deg AS (SELECT a AS node, count(*) AS deg FROM und GROUP BY a),
            s0 AS (SELECT count(*) AS m2, count(DISTINCT a) AS n FROM und),
            surv AS (
              SELECT d.node FROM deg d, s0
              WHERE d.deg > 2.0 * 1.1 * (s0.m2 / 2.0 / s0.n)
            ),
            und1 AS (
              SELECT u.a, u.b FROM und u
              JOIN surv x ON x.node = u.a
              JOIN surv y ON y.node = u.b
            ),
            s1 AS (SELECT count(*) AS m2, count(DISTINCT a) AS n FROM und1)
            SELECT * FROM (
              SELECT 0 AS round, n AS n_nodes,
                     CAST(m2 / 2 AS BIGINT) AS m_edges,
                     m2 / 2.0 / n AS density
              FROM s0
              UNION ALL
              SELECT 1, n, CAST(m2 / 2 AS BIGINT),
                     CASE WHEN n = 0 THEN NULL ELSE m2 / 2.0 / n END
              FROM s1
            ) WHERE n_nodes > 0
        """,
        "katz_k4": _katz_unrolled_sql(4),
        "eigen_k4": _eigen_unrolled_sql(4),
        "trussness_r2": _trussness_unrolled_sql(2),
        "salsa_k3": _salsa_unrolled_sql(3),
        "matching_r2": _matching_unrolled_sql(2),
        "ball2": f"""
            WITH {_UTRANS_UND},
            nodes AS (SELECT src AS node FROM raw UNION SELECT dst FROM raw),
            pairs AS (
              SELECT node AS v, node AS u FROM nodes
              UNION
              SELECT a, b FROM und
              UNION
              SELECT u1.a, u2.b FROM und u1 JOIN und u2 ON u2.a = u1.b
            )
            SELECT v AS node_name, count(*) AS ball2
            FROM pairs GROUP BY v
        """,
        "modularity": f"""
            WITH {_UTRANS_UND},
            nodes AS (SELECT src AS node FROM raw UNION SELECT dst FROM raw),
            lab AS (SELECT node, substr(md5(node), 1, 1) AS label FROM nodes),
            mm AS (SELECT count(*) / 2.0 AS m FROM und),
            intra AS (
              SELECT l1.label, CAST(count(*) / 2 AS BIGINT) AS intra_edges
              FROM und u
              JOIN lab l1 ON l1.node = u.a
              JOIN lab l2 ON l2.node = u.b
              WHERE l1.label = l2.label
              GROUP BY l1.label
            ),
            degc AS (
              SELECT lab.label, CAST(sum(deg.deg) AS BIGINT) AS deg_sum
              FROM deg JOIN lab ON lab.node = deg.node
              GROUP BY lab.label
            )
            SELECT degc.label,
                   coalesce(intra.intra_edges, 0) AS intra_edges,
                   degc.deg_sum
            FROM degc LEFT JOIN intra ON intra.label = degc.label
        """,
        "kmeans_round": """
            WITH cents AS (
              SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
                     embedding AS center
              FROM embeddings ORDER BY vec_id LIMIT 8
            ),
            idx AS (SELECT unnest(range(64)) AS i),
            dist AS (
              SELECT e.vec_id AS id, c.cell,
                     sum(pow(CAST(e.embedding[i.i + 1] AS DOUBLE)
                             - CAST(c.center[i.i + 1] AS DOUBLE), 2))
                       AS dist2
              FROM embeddings e CROSS JOIN cents c CROSS JOIN idx i
              GROUP BY e.vec_id, c.cell
            )
            SELECT id, cell, round(dist2, 6) AS dist2_6 FROM (
              SELECT id, cell, dist2,
                     row_number() OVER (
                       PARTITION BY id ORDER BY dist2, cell
                     ) AS rn
              FROM dist
            ) WHERE rn = 1
        """,
        "squares": f"""
            WITH {_UTRANS_UND},
            cn AS (
              SELECT l.a, r.b AS c, count(*) AS cn
              FROM (SELECT b AS mid, a FROM und) l
              JOIN (SELECT a AS mid, b FROM und) r ON r.mid = l.mid
              WHERE l.a < r.b
              GROUP BY l.a, r.b
            )
            SELECT count(*) AS n_pairs,
                   CAST(sum(cn * (cn - 1) / 2) / 2 AS BIGINT)
                     AS square_count
            FROM cn
        """,
        "coengagement": """
            WITH e AS (
              SELECT DISTINCT 'u:' || CAST(user_id AS VARCHAR) AS u,
                              'e:' || event_type AS t
              FROM events
            ),
            keep AS (SELECT t FROM e GROUP BY t HAVING count(*) <= 1000000),
            ek AS (SELECT e.u, e.t FROM e JOIN keep USING (t))
            SELECT l.u AS user_a, r.u AS user_b, count(*) AS w
            FROM ek l JOIN ek r ON r.t = l.t
            WHERE l.u < r.u
            GROUP BY l.u, r.u
            HAVING count(*) >= 2
        """,
        "coeng_capped": """
            WITH e AS (
              SELECT DISTINCT
                'u:' || CAST(user_id AS VARCHAR) AS u,
                'e:' || event_type || '@'
                     || CAST(CAST(ts AS DATE) AS VARCHAR) AS t
              FROM events
            ),
            keep AS (SELECT t FROM e GROUP BY t HAVING count(*) <= 60),
            ek AS (SELECT e.u, e.t FROM e JOIN keep USING (t))
            SELECT l.u AS user_a, r.u AS user_b, count(*) AS w
            FROM ek l JOIN ek r ON r.t = l.t
            WHERE l.u < r.u
            GROUP BY l.u, r.u
            HAVING count(*) >= 2
        """,
        "msf_round": f"""
            WITH raw AS ({_UTRANS}),
            we AS (
              SELECT least(src, dst) AS a, greatest(src, dst) AS b,
                     CAST(count(*) AS DOUBLE) AS w
              FROM raw WHERE src <> dst GROUP BY 1, 2
            ),
            cand AS (
              SELECT a AS comp, a, b, w FROM we
              UNION ALL
              SELECT b AS comp, a, b, w FROM we
            ),
            sel AS (
              SELECT a, b, w FROM (
                SELECT comp, a, b, w,
                       row_number() OVER (
                         PARTITION BY comp ORDER BY w, a, b
                       ) AS rn
                FROM cand
              ) WHERE rn = 1
            )
            SELECT DISTINCT a AS node_a, b AS node_b, w FROM sel
        """,
        "emb_cov": """
            WITH idx AS (SELECT unnest(range(64)) AS i),
            nn AS (SELECT count(*) AS n FROM embeddings),
            m AS (
              SELECT i.i,
                     sum(CAST(embedding[i.i + 1] AS DOUBLE)) / nn.n AS mean
              FROM embeddings CROSS JOIN idx i CROSS JOIN nn
              GROUP BY i.i, nn.n
            ),
            g AS (
              SELECT a.i AS i, b.i AS j,
                     sum(CAST(embedding[a.i + 1] AS DOUBLE)
                         * CAST(embedding[b.i + 1] AS DOUBLE)) AS s
              FROM embeddings CROSS JOIN idx a CROSS JOIN idx b
              GROUP BY a.i, b.i
            )
            SELECT g.i, g.j,
                   round(g.s / nn.n - mi.mean * mj.mean, 6) + 0.0 AS cov6
            FROM g CROSS JOIN nn
            JOIN m mi ON mi.i = g.i
            JOIN m mj ON mj.i = g.j
        """,
        "cms_hh": f"""
            WITH toks AS (
              SELECT unnest(string_split({_DOC_NORM}, ' ')) AS item
              FROM documents
            ),
            rows_ AS (SELECT unnest([0, 1, 2]) AS row_idx),
            cells AS (
              SELECT row_idx,
                     (('0x' || substr(md5(CAST(row_idx AS VARCHAR) || ':'
                        || item), 1, 8))::BIGINT) % 256 AS col_idx,
                     count(*) AS c
              FROM toks CROSS JOIN rows_
              GROUP BY 1, 2
            ),
            cand AS (SELECT DISTINCT item FROM toks),
            probes AS (
              SELECT item, row_idx,
                     (('0x' || substr(md5(CAST(row_idx AS VARCHAR) || ':'
                        || item), 1, 8))::BIGINT) % 256 AS col_idx
              FROM cand CROSS JOIN rows_
            ),
            est AS (
              SELECT p.item, min(coalesce(cells.c, 0)) AS est
              FROM probes p
              LEFT JOIN cells USING (row_idx, col_idx)
              GROUP BY p.item
            )
            SELECT item, est, rank FROM (
              SELECT item, est,
                     row_number() OVER (ORDER BY est DESC, item ASC) AS rank
              FROM est
            ) WHERE rank <= 10
        """,
        "tfidf_topk": f"""
            WITH toks AS (
              SELECT doc_id AS id,
                     unnest(string_split({_DOC_NORM}, ' ')) AS term
              FROM documents
            ),
            tf AS (SELECT id, term, count(*) AS tf FROM toks GROUP BY id, term),
            dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
            nn AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
            scored AS (
              SELECT tf.id, tf.term,
                     tf.tf * (ln((1.0 + nn.n_docs) / (1.0 + dfq.df)) + 1.0)
                       AS tfidf
              FROM tf JOIN dfq USING (term) CROSS JOIN nn
            )
            SELECT id, term, rank, round(tfidf, 8) AS tfidf8 FROM (
              SELECT id, term, tfidf,
                     row_number() OVER (
                       PARTITION BY id ORDER BY tfidf DESC, term ASC
                     ) AS rank
              FROM scored
            ) WHERE rank <= 3
        """,
        "bowtie": f"""
            WITH RECURSIVE raw AS ({_UTRANS}),
            e AS (SELECT DISTINCT src, dst FROM raw WHERE src <> dst),
            nodes AS (SELECT src AS node FROM raw UNION SELECT dst FROM raw),
            reach(s, t) AS (
              SELECT src, dst FROM e
              UNION
              SELECT r.s, e.dst FROM reach r JOIN e ON e.src = r.t
            ),
            mutual AS (
              SELECT a.s AS u, a.t AS v
              FROM reach a JOIN reach b ON a.s = b.t AND a.t = b.s
            ),
            comp AS (
              SELECT n.node,
                     least(n.node, coalesce(min(m.v), n.node)) AS component
              FROM nodes n LEFT JOIN mutual m ON m.u = n.node
              GROUP BY n.node
            ),
            core_lab AS (
              SELECT component FROM (
                SELECT component, count(*) AS n FROM comp GROUP BY component
              ) ORDER BY n DESC, component ASC LIMIT 1
            ),
            core AS (
              SELECT node FROM comp
              WHERE component = (SELECT component FROM core_lab)
            ),
            fwd AS (
              SELECT DISTINCT r.t AS node
              FROM reach r JOIN core c ON c.node = r.s
            ),
            bwd AS (
              SELECT DISTINCT r.s AS node
              FROM reach r JOIN core c ON c.node = r.t
            ),
            und AS (
              SELECT src AS a, dst AS b FROM e
              UNION SELECT dst, src FROM e
            ),
            weak(node) AS (
              SELECT node FROM core
              UNION
              SELECT u.b FROM weak w JOIN und u ON u.a = w.node
            )
            SELECT c.node AS node_name,
                   CASE WHEN c.component = (SELECT component FROM core_lab)
                          THEN 'CORE'
                        WHEN c.node IN (SELECT node FROM bwd) THEN 'IN'
                        WHEN c.node IN (SELECT node FROM fwd) THEN 'OUT'
                        WHEN c.node IN (SELECT node FROM weak) THEN 'TENDRIL'
                        ELSE 'DISCONNECTED' END AS bowtie
            FROM comp c
        """,
        "conductance": f"""
            WITH {_UTRANS_UND},
            nodes AS (SELECT src AS node FROM raw UNION SELECT dst FROM raw),
            lab AS (SELECT node, substr(md5(node), 1, 1) AS label FROM nodes),
            m2 AS (SELECT count(*) AS m2 FROM und),
            cut AS (
              SELECT l1.label, count(*) AS cut_edges
              FROM und u
              JOIN lab l1 ON l1.node = u.a
              JOIN lab l2 ON l2.node = u.b
              WHERE l1.label <> l2.label
              GROUP BY l1.label
            ),
            volc AS (
              SELECT lab.label, CAST(sum(deg.deg) AS BIGINT) AS vol
              FROM deg JOIN lab ON lab.node = deg.node
              GROUP BY lab.label
            )
            SELECT volc.label,
                   coalesce(cut.cut_edges, 0) AS cut_edges,
                   volc.vol
            FROM volc LEFT JOIN cut ON cut.label = volc.label
        """,
        "bm25": f"""
            WITH base AS (
              SELECT doc_id AS id,
                     string_split({_DOC_NORM}, ' ') AS toks
              FROM documents
            ),
            tf AS (
              SELECT id, len(toks) AS dl,
                     len(list_filter(toks, x -> x = 'table')) AS tf_0,
                     len(list_filter(toks, x -> x = 'join'))  AS tf_1,
                     len(list_filter(toks, x -> x = 'merge')) AS tf_2
              FROM base
            ),
            st AS (
              SELECT count(*) AS n_docs, avg(dl) AS avgdl,
                     sum(CASE WHEN tf_0 > 0 THEN 1 ELSE 0 END) AS df_0,
                     sum(CASE WHEN tf_1 > 0 THEN 1 ELSE 0 END) AS df_1,
                     sum(CASE WHEN tf_2 > 0 THEN 1 ELSE 0 END) AS df_2
              FROM tf
            )
            SELECT id, dl,
                   (CASE WHEN tf_0 > 0 THEN 1 ELSE 0 END
                    + CASE WHEN tf_1 > 0 THEN 1 ELSE 0 END
                    + CASE WHEN tf_2 > 0 THEN 1 ELSE 0 END) AS n_matched,
                   round(
                     ln((n_docs - df_0 + 0.5) / (df_0 + 0.5) + 1.0) * tf_0
                       * 2.2 / (tf_0 + 1.2 * (0.25 + 0.75 * dl / avgdl))
                   + ln((n_docs - df_1 + 0.5) / (df_1 + 0.5) + 1.0) * tf_1
                       * 2.2 / (tf_1 + 1.2 * (0.25 + 0.75 * dl / avgdl))
                   + ln((n_docs - df_2 + 0.5) / (df_2 + 0.5) + 1.0) * tf_2
                       * 2.2 / (tf_2 + 1.2 * (0.25 + 0.75 * dl / avgdl)),
                   8) AS bm25_8
            FROM tf CROSS JOIN st
        """,
        "louvain_round": f"""
            WITH ut AS ({_UTRANS}),
            we AS (
              SELECT least(src, dst) AS a, greatest(src, dst) AS b,
                     CAST(count(*) AS DOUBLE) AS w
              FROM ut GROUP BY 1, 2
            ),
            tm AS (SELECT sum(2.0 * w) AS two_m FROM we),
            deg AS (
              SELECT node, sum(w) AS k FROM (
                SELECT a AS node, w FROM we WHERE a <> b
                UNION ALL SELECT b AS node, w FROM we WHERE a <> b
                UNION ALL SELECT a AS node, 2.0 * w AS w FROM we WHERE a = b
              ) GROUP BY node
            ),
            par AS (
              SELECT node,
                     (strpos('0123456789abcdef', substr(md5(node), 1, 1)) - 1)
                       % 6 AS p
              FROM deg
            ),
            sym AS (
              SELECT a AS src, b AS dst, w FROM we WHERE a <> b
              UNION ALL
              SELECT b AS src, a AS dst, w FROM we WHERE a <> b
            ),
            kic AS (
              SELECT node, cand, sum(w) AS kic FROM (
                SELECT s.src AS node, s.dst AS cand, s.w
                FROM sym s JOIN par p ON p.node = s.src AND p.p = 0
                UNION ALL
                SELECT d.node, d.node AS cand, 0.0 AS w
                FROM deg d JOIN par p ON p.node = d.node AND p.p = 0
              ) GROUP BY node, cand
            ),
            scored AS (
              SELECT kic.node, kic.cand,
                     kic.kic - di.k * (dc.k - CASE WHEN kic.cand = kic.node
                                                   THEN di.k ELSE 0.0 END)
                               / tm.two_m AS gain,
                     CASE WHEN kic.cand = kic.node THEN 1 ELSE 0 END AS is_own
              FROM kic
              JOIN deg di ON di.node = kic.node
              JOIN deg dc ON dc.node = kic.cand
              CROSS JOIN tm
            ),
            best AS (
              SELECT node, cand AS community FROM (
                SELECT node, cand,
                       row_number() OVER (
                         PARTITION BY node
                         ORDER BY gain DESC, is_own DESC, cand ASC
                       ) AS rn
                FROM scored
              ) WHERE rn = 1
            )
            SELECT deg.node AS node_name,
                   coalesce(best.community, deg.node) AS community_name,
                   round(deg.k, 6) AS k6
            FROM deg LEFT JOIN best ON best.node = deg.node
        """,
        "coloring_r2": _coloring_unrolled_sql(2),
        "temporal_r3": _temporal_unrolled_sql(3),
        "knn_curve": f"""
            WITH {_UTRANS_UND},
            annd AS (
              SELECT u.a AS node, avg(d2.deg) AS av
              FROM und u JOIN deg d2 ON d2.node = u.b
              GROUP BY u.a
            )
            SELECT d.deg, count(*) AS n_nodes, round(avg(annd.av), 8) AS knn8
            FROM deg d JOIN annd ON annd.node = d.node
            GROUP BY d.deg
        """,
        "unigram_xent": f"""
            WITH toks AS (
              SELECT doc_id AS id, unnest(string_split({_DOC_NORM}, ' ')) AS tok
              FROM documents
            ),
            freq AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
            tot AS (SELECT sum(c) AS total FROM freq),
            p AS (SELECT tok, c * 1.0 / total AS p FROM freq CROSS JOIN tot)
            SELECT t.id AS doc_id, count(*) AS n_tokens,
                   round(avg(-ln(p.p)), 6) AS xent6
            FROM toks t JOIN p ON p.tok = t.tok
            GROUP BY t.id
        """,
        "len_percentiles": """
            SELECT lang, count(*) AS n,
                   round(quantile_cont(n_chars, 0.5), 6) AS p50,
                   round(quantile_cont(n_chars, 0.9), 6) AS p90,
                   round(quantile_cont(n_chars, 0.99), 6) AS p99
            FROM documents GROUP BY lang
        """,
        "top_bigrams": r"""
            WITH d AS (
              SELECT lang,
                     string_split(
                       lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' '
                     ) AS toks
              FROM documents
            ),
            g AS (
              SELECT lang, array_to_string(toks[i : i + 1], ' ') AS ngram
              FROM (
                SELECT lang, toks,
                       unnest(generate_series(1, len(toks) - 1)) AS i
                FROM d WHERE len(toks) >= 2
              )
            ),
            c AS (
              SELECT lang, ngram, count(*) AS n_occurrences
              FROM g GROUP BY lang, ngram
            ),
            r AS (
              SELECT lang, ngram, n_occurrences,
                     row_number() OVER (
                       PARTITION BY lang
                       ORDER BY n_occurrences DESC, ngram ASC
                     ) AS rank
              FROM c
            )
            SELECT lang, rank, ngram, n_occurrences FROM r WHERE rank <= 5
        """,
        "clustering": f"""
            WITH {_UTRANS_UND},
            tri AS (
              SELECT e1.a AS u, e1.b AS v, e2.b AS w
              FROM und e1
              JOIN und e2 ON e2.a = e1.b AND e1.b < e2.b
              JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
              WHERE e1.a < e1.b
            ),
            pern AS (
              SELECT u AS node FROM tri
              UNION ALL SELECT v FROM tri
              UNION ALL SELECT w FROM tri
            ),
            tc AS (SELECT node, count(*) AS t FROM pern GROUP BY node)
            SELECT d.node AS node_name, d.deg AS deg,
                   coalesce(tc.t, 0) AS triangles,
                   round(CASE WHEN d.deg >= 2
                         THEN 2.0 * coalesce(tc.t, 0) / (d.deg * (d.deg - 1))
                         ELSE 0.0 END, 8) AS lcc8
            FROM deg d LEFT JOIN tc ON d.node = tc.node
        """,
        "adamic_adar": f"""
            WITH {_UTRANS_UND},
            nz AS (
              SELECT u.a AS z, u.b AS nbr, 1.0 / ln(d.deg) AS w
              FROM und u JOIN deg d ON d.node = u.a
              WHERE d.deg >= 2
            ),
            cand AS (
              SELECT l.nbr AS a, r.nbr AS b, sum(l.w) AS aa
              FROM nz l JOIN nz r ON l.z = r.z AND l.nbr < r.nbr
              GROUP BY l.nbr, r.nbr
            )
            SELECT c.a AS node_a, c.b AS node_b, round(c.aa, 8) AS aa8
            FROM cand c
            WHERE NOT EXISTS (
              SELECT 1 FROM und e WHERE e.a = c.a AND e.b = c.b
            )
        """,
        "link_scores": f"""
            WITH {_UTRANS_UND},
            nz AS (
              SELECT u.a AS z, u.b AS nbr,
                     1.0 / ln(d.deg) AS wa, 1.0 / d.deg AS wr
              FROM und u JOIN deg d ON d.node = u.a
              WHERE d.deg >= 2
            ),
            cand AS (
              SELECT l.nbr AS a, r.nbr AS b,
                     count(*) AS cn, sum(l.wa) AS aa, sum(l.wr) AS ra
              FROM nz l JOIN nz r ON l.z = r.z AND l.nbr < r.nbr
              GROUP BY l.nbr, r.nbr
            )
            SELECT c.a AS node_a, c.b AS node_b, c.cn AS cn,
                   round(c.cn * 1.0 / (da.deg + db.deg - c.cn), 8) AS jac8,
                   round(c.aa, 8) AS aa8, round(c.ra, 8) AS ra8
            FROM cand c
            JOIN deg da ON da.node = c.a
            JOIN deg db ON db.node = c.b
            WHERE NOT EXISTS (
              SELECT 1 FROM und e WHERE e.a = c.a AND e.b = c.b
            )
        """,
        "funnel3": """
            WITH base AS (SELECT DISTINCT user_id FROM events),
            s1 AS (
              SELECT user_id, min(ts) AS ts_1 FROM events
              WHERE event_type = 'signup' GROUP BY user_id
            ),
            s2 AS (
              SELECT e.user_id, min(e.ts) AS ts_2
              FROM events e JOIN s1 ON s1.user_id = e.user_id
              WHERE e.event_type = 'click' AND e.ts > s1.ts_1
              GROUP BY e.user_id
            ),
            s3 AS (
              SELECT e.user_id, min(e.ts) AS ts_3
              FROM events e JOIN s2 ON s2.user_id = e.user_id
              WHERE e.event_type = 'purchase' AND e.ts > s2.ts_2
              GROUP BY e.user_id
            )
            SELECT b.user_id,
                   epoch_ms(s1.ts_1) AS t1_ms,
                   epoch_ms(s2.ts_2) AS t2_ms,
                   epoch_ms(s3.ts_3) AS t3_ms,
                   (CASE WHEN s1.ts_1 IS NULL THEN 0 ELSE 1 END
                    + CASE WHEN s2.ts_2 IS NULL THEN 0 ELSE 1 END
                    + CASE WHEN s3.ts_3 IS NULL THEN 0 ELSE 1 END)
                     AS steps_completed
            FROM base b
            LEFT JOIN s1 ON s1.user_id = b.user_id
            LEFT JOIN s2 ON s2.user_id = b.user_id
            LEFT JOIN s3 ON s3.user_id = b.user_id
        """,
        "label_centroids": """
            WITH dims AS (
              SELECT label, i - 1 AS dim, embedding[i] AS x
              FROM (
                SELECT label, embedding,
                       unnest(generate_series(1, len(embedding))) AS i
                FROM embeddings
              )
            ),
            pd AS (
              SELECT label, dim, avg(x) AS c, count(*) AS n
              FROM dims GROUP BY label, dim
            )
            SELECT label, n AS n_vecs, CAST(dim AS INTEGER) AS dim,
                   round(c, 6) AS cent6
            FROM pd
        """,
        "centroid_cosine": """
            WITH dims AS (
              SELECT vec_id, label, i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS x
              FROM (
                SELECT vec_id, label, embedding,
                       unnest(generate_series(1, len(embedding))) AS i
                FROM embeddings
              )
            ),
            cent AS (
              SELECT label, dim, avg(x) AS c FROM dims GROUP BY label, dim
            )
            SELECT d.vec_id, d.label,
                   round(sum(d.x * c.c)
                         / (sqrt(sum(d.x * d.x)) * sqrt(sum(c.c * c.c))), 6)
                     AS cos6
            FROM dims d JOIN cent c ON c.label = d.label AND c.dim = d.dim
            GROUP BY d.vec_id, d.label
        """,
        "transitivity": f"""
            WITH {_UTRANS_UND},
            tri AS (
              SELECT count(*) AS t
              FROM und e1
              JOIN und e2 ON e2.a = e1.b AND e1.b < e2.b
              JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b
              WHERE e1.a < e1.b
            ),
            wg AS (
              SELECT CAST(sum(deg * (deg - 1)) / 2 AS BIGINT) AS wedges
              FROM deg
            )
            SELECT tri.t AS triangles, wg.wedges,
                   round(CASE WHEN wg.wedges > 0
                         THEN 3.0 * tri.t / wg.wedges END, 8) AS trans8
            FROM tri CROSS JOIN wg
        """,
        "powerlaw_alpha": f"""
            WITH {_UTRANS_UND}
            SELECT count(*) AS n_tail,
                   round(1.0 + count(*) / sum(ln(deg / 1.5)), 8) AS alpha8
            FROM deg WHERE deg >= 2
        """,
        "rich_club": f"""
            WITH {_UTRANS_UND},
            emin AS (
              SELECT least(da.deg, db.deg) AS dmin
              FROM und u
              JOIN deg da ON da.node = u.a
              JOIN deg db ON db.node = u.b
              WHERE u.a < u.b
            ),
            ks AS (SELECT DISTINCT deg AS k FROM deg),
            ngt AS (
              SELECT ks.k, count(*) AS n_nodes
              FROM ks JOIN deg d ON d.deg > ks.k GROUP BY ks.k
            ),
            egt AS (
              SELECT ks.k, count(*) AS n_edges
              FROM ks JOIN emin e ON e.dmin > ks.k GROUP BY ks.k
            )
            SELECT n.k, n.n_nodes, coalesce(e.n_edges, 0) AS n_edges,
                   round(2.0 * coalesce(e.n_edges, 0)
                         / (n.n_nodes * (n.n_nodes - 1)), 8) AS phi8
            FROM ngt n LEFT JOIN egt e ON e.k = n.k
            WHERE n.n_nodes >= 2
        """,
        "reciprocity": f"""
            WITH raw AS ({_UTRANS}),
            simple AS (SELECT DISTINCT src, dst FROM raw WHERE src <> dst),
            rec AS (
              SELECT count(*) AS reciprocated
              FROM simple s JOIN simple r ON r.src = s.dst AND r.dst = s.src
            ),
            tot AS (SELECT count(*) AS total FROM simple)
            SELECT rec.reciprocated, tot.total,
                   round(rec.reciprocated * 1.0 / tot.total, 8) AS recip8
            FROM rec, tot
        """,
        "assortativity": f"""
            WITH {_UTRANS_UND}
            SELECT round(corr(d1.deg, d2.deg), 6) AS assort6
            FROM und u
            JOIN deg d1 ON d1.node = u.a
            JOIN deg d2 ON d2.node = u.b
        """,
        "lpa_k3": _lpa_unrolled_sql(3),
        "slpa_k3": _slpa_unrolled_sql(3),
        "doulion": f"""
            WITH raw AS ({_UTRANS}),
            und AS (
              SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
              FROM raw WHERE src <> dst
            ),
            k AS (
              SELECT a, b FROM und
              WHERE substr(md5(a || '|' || b || '|doulion'), 1, 8)
                      < '80000000'
            ),
            tri AS (
              SELECT count(*) AS t
              FROM k e1
              JOIN k e2 ON e2.a = e1.a AND e2.b > e1.b
              JOIN k e3 ON e3.a = e1.b AND e3.b = e2.b
            )
            SELECT (SELECT count(*) FROM k) AS kept_edges,
                   tri.t AS sampled_triangles,
                   round(tri.t / 0.125, 6) AS triangle_estimate
            FROM tri
        """,
        # squares_p: md5 edge coin (p=0.5 -> cutoff 80000000) on the
        # canonical undirected pair, exact square census on the kept
        # graph, 1/p^4 = 16 scale-up
        "squares_p": f"""
            WITH raw AS ({_UTRANS}),
            und0 AS (
              SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
              FROM raw WHERE src <> dst
            ),
            k AS (
              SELECT a, b FROM und0
              WHERE substr(md5(a || '|' || b || '|squares'), 1, 8)
                      < '80000000'
            ),
            undk AS (SELECT a, b FROM k UNION SELECT b AS a, a AS b FROM k),
            cn AS (
              SELECT l.a, r.b AS c, count(*) AS cn
              FROM (SELECT b AS mid, a FROM undk) l
              JOIN (SELECT a AS mid, b FROM undk) r ON r.mid = l.mid
              WHERE l.a < r.b
              GROUP BY l.a, r.b
            ),
            sq AS (
              SELECT coalesce(CAST(sum(cn * (cn - 1) / 2) / 2 AS BIGINT), 0)
                       AS s
              FROM cn
            )
            SELECT (SELECT count(*) FROM k) AS kept_edges,
                   sq.s AS sampled_squares,
                   round(sq.s / 0.0625, 6) AS square_estimate
            FROM sq
        """,
        "vsample": f"""
            WITH raw AS ({_UTRANS})
            SELECT src AS src_name, dst AS dst_name, count(*) AS w
            FROM raw
            WHERE substr(md5(src || ':vsample'), 1, 8) < '80000000'
              AND substr(md5(dst || ':vsample'), 1, 8) < '80000000'
            GROUP BY src, dst
        """,
        "top_hubs": f"""
            SELECT dst AS node_name, count(*) AS in_deg FROM ({_BIP})
            GROUP BY dst ORDER BY in_deg DESC, node_name ASC LIMIT 10
        """,
        "components": f"""
            WITH RECURSIVE edges AS ({_BIP}),
            und AS (
              SELECT DISTINCT src AS a, dst AS b FROM edges WHERE src <> dst
              UNION SELECT DISTINCT dst, src FROM edges WHERE src <> dst
            ),
            nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
            reach(node, lab) AS (
              SELECT node, node FROM nodes
              UNION
              SELECT und.b, reach.lab FROM reach JOIN und ON und.a = reach.node
            )
            SELECT node AS node_name, min(lab) AS component_name
            FROM reach GROUP BY node
        """,
        "triangles": """
            WITH co AS (
              SELECT DISTINCT a.ta AS sa, b.tb AS sb
              FROM (SELECT DISTINCT user_id, event_type AS ta FROM events) a
              JOIN (SELECT DISTINCT user_id, event_type AS tb FROM events) b
                USING (user_id)
              WHERE a.ta < b.tb
            ),
            sym AS (
              SELECT sa AS src, sb AS dst FROM co
              UNION SELECT sb, sa FROM co
            ),
            deg AS (SELECT src AS node, count(*) AS d FROM sym GROUP BY src),
            ori AS (
              SELECT s.src, s.dst FROM sym s
              JOIN deg d1 ON s.src = d1.node JOIN deg d2 ON s.dst = d2.node
              WHERE (d1.d < d2.d) OR (d1.d = d2.d AND s.src < s.dst)
            ),
            tri AS (
              SELECT e1.src AS u, e1.dst AS v, e2.dst AS w
              FROM ori e1 JOIN ori e2 ON e1.dst = e2.src
              JOIN ori e3 ON e3.src = e1.src AND e3.dst = e2.dst
            ),
            expl AS (
              SELECT u AS node FROM tri
              UNION ALL SELECT v FROM tri
              UNION ALL SELECT w FROM tri
            )
            SELECT node AS node_name, count(*) AS triangles FROM expl GROUP BY node
        """,
        "exact_dedup": """
            SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS dup_count
            FROM documents GROUP BY md5(text)
        """,
        "stream_dedup": """
            SELECT md5(text) AS text_hash, min(doc_id) AS keeper_id
            FROM documents GROUP BY md5(text)
        """,
        "simhash_round": _simhash_md5_sql(60),
        "lsh_round": _lsh_md5_sql(k=5, bits=5, tables=8),
        "ivf_round": _ivf_quant_sql(k=5, n_cells=8, n_probe=2),
        "chunk_dedup": r"""
            WITH d AS (
              SELECT doc_id AS id,
                     string_split(
                       lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' '
                     ) AS toks
              FROM documents
            ),
            chunks AS (
              SELECT id, i AS idx,
                     array_to_string(toks[i * 10 + 1 : i * 10 + 10], ' ')
                       AS chunk
              FROM (
                SELECT id, toks,
                       unnest(generate_series(
                         0, CAST(ceil(len(toks) / 10.0) AS BIGINT) - 1)) AS i
                FROM d
              )
            ),
            rk AS (
              SELECT id, idx, chunk,
                     row_number() OVER (PARTITION BY chunk ORDER BY id, idx)
                       AS rn
              FROM chunks
            ),
            tot AS (SELECT id, count(*) AS n_chunks FROM chunks GROUP BY id)
            SELECT k.id AS doc_id, tot.n_chunks, count(*) AS kept_chunks,
                   string_agg(k.chunk, ' ' ORDER BY k.idx) AS dedup_text
            FROM rk k JOIN tot ON tot.id = k.id
            WHERE k.rn = 1
            GROUP BY k.id, tot.n_chunks
        """,
        "token_count": f"""
            SELECT doc_id, CAST({ntok} AS BIGINT) AS n_tokens FROM documents
        """,
        "pii_scan": f"""
            WITH t AS (SELECT doc_id AS id, {_pii_counts_sql()} FROM documents)
            SELECT id, emails, urls, phones, ipv4s,
                   (emails + urls + phones + ipv4s) > 0 AS any_pii
            FROM t
        """,
        "quality": f"""
            WITH t AS (
              SELECT doc_id, {norm} AS nt,
                     length({norm}) AS n_chars,
                     {ntok} AS n_tokens,
                     length({norm}) - length(regexp_replace({norm}, '[.,;:!?''"()]', '', 'g')) AS n_punct,
                     {_stopword_hits_sql(norm, en)} AS hits
              FROM documents
            )
            SELECT doc_id,
                   round(least(1.0, n_chars / 500.0), 8) AS len_score,
                   round(CASE WHEN n_chars = 0 THEN 0.0 ELSE n_punct * 1.0 / n_chars END, 8) AS punct_ratio,
                   round(
                     0.5 * least(1.0, n_chars / 500.0)
                     + 0.3 * (1.0 - least(1.0, 4.0 * (CASE WHEN n_chars = 0 THEN 0.0 ELSE n_punct * 1.0 / n_chars END)))
                     + 0.2 * least(1.0, 5.0 * (CASE WHEN n_tokens = 0 THEN 0.0 ELSE hits * 1.0 / n_tokens END)),
                   8) AS quality
            FROM t
        """,
        "language_id": f"""
            WITH t AS (
              SELECT doc_id,
                     {_stopword_hits_sql("lower(trim(text))", en)} AS h_en,
                     {_stopword_hits_sql("lower(trim(text))", de)} AS h_de,
                     {_stopword_hits_sql("lower(trim(text))", fr)} AS h_fr
              FROM documents
            )
            SELECT doc_id,
                   CASE WHEN greatest(h_en, h_de, h_fr) <= 0 THEN 'unknown'
                        WHEN h_fr >= h_de AND h_fr >= h_en THEN 'fr'
                        WHEN h_de >= h_en THEN 'de'
                        ELSE 'en' END AS lang_pred
            FROM t
        """,
        "fingerprint": f"""
            SELECT doc_id, md5({norm}) AS fp FROM documents
        """,
        "sessionize": """
            WITH s AS (
              SELECT user_id, ts, event_id,
                     CASE WHEN lag(ts) OVER w IS NULL
                               OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                          THEN 1 ELSE 0 END AS new_sess
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ),
            t AS (
              SELECT user_id, ts,
                     CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                              ROWS UNBOUNDED PRECEDING) AS BIGINT)
                       AS session_seq
              FROM s
            )
            SELECT user_id, session_seq, count(*) AS n_events,
                   (epoch_us(max(ts)) - epoch_us(min(ts))) // 1000 AS span_ms
            FROM t GROUP BY user_id, session_seq
        """,
        "stream_sessions": """
            WITH s AS (
              SELECT user_id, event_id, ts,
                     CASE WHEN lag(ts) OVER w IS NULL
                               OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                          THEN 1 ELSE 0 END AS new_sess
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            )
            SELECT user_id, event_id,
                   CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                            ROWS UNBOUNDED PRECEDING) AS BIGINT)
                     AS session_seq
            FROM s
        """,
        "lpa_round": f"""
            WITH e AS ({_BIP}),
            sym AS (
              SELECT DISTINCT src, dst FROM e WHERE src <> dst
              UNION SELECT DISTINCT dst, src FROM e WHERE src <> dst
            ),
            counts AS (
              SELECT dst AS node_name, src AS label, count(*) AS cnt
              FROM sym GROUP BY dst, src
            )
            SELECT node_name, label AS new_label
            FROM counts
            QUALIFY row_number() OVER (PARTITION BY node_name
                                       ORDER BY cnt DESC, label ASC) = 1
        """,
        "word_jaccard": f"""
            WITH toks AS (
              SELECT DISTINCT doc_id, unnest(string_split({_DOC_NORM}, ' ')) AS tok
              FROM documents WHERE doc_id < 40
            ),
            sizes AS (SELECT doc_id, count(*) AS sz FROM toks GROUP BY doc_id),
            ids AS (SELECT doc_id FROM documents WHERE doc_id < 40),
            cand AS (
              SELECT i1.doc_id AS a, i2.doc_id AS b FROM ids i1 JOIN ids i2
              ON i1.doc_id < i2.doc_id
            ),
            inter AS (
              SELECT ta.doc_id AS a, tb.doc_id AS b, count(*) AS i
              FROM toks ta JOIN toks tb USING (tok)
              WHERE ta.doc_id < tb.doc_id
              GROUP BY ta.doc_id, tb.doc_id
            )
            SELECT cand.a, cand.b,
                   round(coalesce(inter.i, 0) * 1.0
                         / (sa.sz + sb.sz - coalesce(inter.i, 0)), 8) AS jac8
            FROM cand
            LEFT JOIN inter ON cand.a = inter.a AND cand.b = inter.b
            JOIN sizes sa ON sa.doc_id = cand.a
            JOIN sizes sb ON sb.doc_id = cand.b
        """,
        "neardup_clusters": f"""
            WITH RECURSIVE toks AS (
              SELECT DISTINCT doc_id, unnest(string_split({_DOC_NORM}, ' ')) AS tok
              FROM documents WHERE doc_id < 40
            ),
            sizes AS (SELECT doc_id, count(*) AS sz FROM toks GROUP BY doc_id),
            ids AS (SELECT doc_id FROM documents WHERE doc_id < 40),
            inter AS (
              SELECT ta.doc_id AS a, tb.doc_id AS b, count(*) AS i
              FROM toks ta JOIN toks tb USING (tok)
              WHERE ta.doc_id < tb.doc_id
              GROUP BY ta.doc_id, tb.doc_id
            ),
            pairs AS (
              SELECT inter.a, inter.b FROM inter
              JOIN sizes sa ON sa.doc_id = inter.a
              JOIN sizes sb ON sb.doc_id = inter.b
              WHERE round(inter.i * 1.0 / (sa.sz + sb.sz - inter.i), 8) >= 0.8
            ),
            und AS (SELECT a AS u, b AS v FROM pairs UNION SELECT b, a FROM pairs),
            reach(node, lab) AS (
              SELECT doc_id, doc_id FROM ids
              UNION
              SELECT und.v, reach.lab FROM reach JOIN und ON und.u = reach.node
            )
            SELECT node AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY node
        """,
        "resize_plan": """
            WITH dims AS (
                SELECT doc_id,
                       CAST(16 + n_chars % 64 AS INT) AS w,
                       CAST(16 + (doc_id * 7) % 48 AS INT) AS h
                FROM documents WHERE doc_id % 3 = 0
            )
            SELECT doc_id AS media_id, w AS width, h AS height,
                   CAST(CASE WHEN w <= h THEN 224
                             ELSE floor((w * 224.0) / h) END AS INT) AS out_width,
                   CAST(CASE WHEN h <= w THEN 224
                             ELSE floor((h * 224.0) / w) END AS INT) AS out_height
            FROM dims
        """,
        "frame_sample": """
            SELECT doc_id AS media_id,
                   CAST(unnest(generate_series(0, doc_id % 32, 8)) AS INT) AS frame_idx
            FROM documents WHERE doc_id % 3 = 2
        """,
        "cosine_topk": """
            WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
            scored AS (
              SELECT q.query_id, e.vec_id AS neighbor_id,
                     list_dot_product(CAST(q.qv AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))
                     / (sqrt(list_dot_product(CAST(q.qv AS DOUBLE[]), CAST(q.qv AS DOUBLE[])))
                        * sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))) AS cosine
              FROM q CROSS JOIN embeddings e
              WHERE e.vec_id <> q.query_id
            )
            SELECT query_id, neighbor_id, round(cosine, 6) AS cosine6,
                   CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS INT) AS rank
            FROM scored
            QUALIFY rank <= 5
        """,
        "tpch_pricing": """
            SELECT l_returnflag, l_linestatus,
                   CAST(round(sum(CAST(l_quantity AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_qty,
                   CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_base_price,
                   CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))
                                  * (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))), 2) AS DOUBLE) AS sum_disc_price,
                   round(avg(l_discount), 6) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1999-12-31 00:00:00'
            GROUP BY l_returnflag, l_linestatus
        """,
        "tpch_top_customers": """
            WITH rev AS (
                SELECT c_custkey, c_name,
                       sum(CAST(l_extendedprice AS DECIMAL(18,6))
                           * (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))) AS r
                FROM lineitem
                JOIN orders ON l_orderkey = o_orderkey
                JOIN customer ON o_custkey = c_custkey
                GROUP BY c_custkey, c_name
            )
            SELECT c_custkey, c_name, CAST(round(r, 2) AS DOUBLE) AS revenue,
                   CAST(row_number() OVER (ORDER BY r DESC, c_custkey ASC) AS INT) AS rank
            FROM rev
            QUALIFY rank <= 10
        """,
        "tpch_regional_volume": """
            SELECT r_name, n_name,
                   CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))
                                  * (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))), 2) AS DOUBLE) AS revenue,
                   count(*) AS n_items
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name, n_name
        """,
        "tpch_brand_top_suppliers": """
            WITH rev AS (
                SELECT p_brand, s_suppkey, s_name,
                       sum(CAST(l_extendedprice AS DECIMAL(18,6))
                           * (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))) AS r
                FROM lineitem
                JOIN part ON l_partkey = p_partkey
                JOIN supplier ON l_suppkey = s_suppkey
                GROUP BY p_brand, s_suppkey, s_name
            )
            SELECT p_brand, s_suppkey, s_name, CAST(round(r, 2) AS DOUBLE) AS revenue,
                   CAST(row_number() OVER (PARTITION BY p_brand ORDER BY r DESC, s_suppkey ASC) AS INT) AS rank
            FROM rev
            QUALIFY rank <= 3
        """,
        "ppr_step": f"""
            WITH edges AS ({_BIP}),
            nodes AS ({_NODES}),
            od AS (SELECT src, count(*) AS out_deg FROM edges GROUP BY src),
            ns AS (SELECT count(DISTINCT src) AS k FROM edges),
            v AS (
              SELECT node,
                     CASE WHEN node IN (SELECT src FROM od)
                          THEN 1.0 / ns.k ELSE 0.0 END AS v
              FROM nodes CROSS JOIN ns
            ),
            c1 AS (
              SELECT e.dst AS node, sum(vv.v / od.out_deg) AS contrib
              FROM edges e JOIN od ON e.src = od.src JOIN v vv ON vv.node = e.src
              GROUP BY e.dst
            ),
            r1 AS (
              SELECT n.node, 0.85 * coalesce(c1.contrib, 0.0) + 0.15 * v.v AS r
              FROM nodes n LEFT JOIN c1 ON n.node = c1.node
              JOIN v ON v.node = n.node
            ),
            lk AS (
              SELECT coalesce(sum(r1.r), 0.0) AS leaked FROM r1
              WHERE r1.node NOT IN (SELECT src FROM od)
            ),
            c2 AS (
              SELECT e.dst AS node, sum(r1.r / od.out_deg) AS contrib
              FROM edges e JOIN od ON e.src = od.src JOIN r1 ON r1.node = e.src
              GROUP BY e.dst
            )
            SELECT n.node AS node_name,
                   round(0.85 * (coalesce(c2.contrib, 0.0) + lk.leaked * v.v)
                         + 0.15 * v.v, 8) AS rank2
            FROM nodes n LEFT JOIN c2 ON n.node = c2.node
            JOIN v ON v.node = n.node CROSS JOIN lk
        """,
        "hits_step": f"""
            WITH edges AS ({_TRANS}),
            nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
            n AS (SELECT count(*) AS n FROM nodes),
            ar AS (
              SELECT dst AS node, sum(1.0 / n.n) AS a_raw
              FROM edges CROSS JOIN n GROUP BY dst, n.n
            ),
            at AS (SELECT sum(a_raw) AS t FROM ar),
            a AS (SELECT node, a_raw / at.t AS a FROM ar CROSS JOIN at),
            hr AS (
              SELECT e.src AS node, sum(a.a) AS h_raw
              FROM edges e JOIN a ON a.node = e.dst GROUP BY e.src
            ),
            ht AS (SELECT sum(h_raw) AS t FROM hr)
            SELECT nodes.node AS node_name,
                   round(coalesce(hr.h_raw, 0.0) / ht.t, 8) AS hub8,
                   round(coalesce(a.a, 0.0), 8) AS auth8
            FROM nodes LEFT JOIN hr ON nodes.node = hr.node
            LEFT JOIN a ON nodes.node = a.node CROSS JOIN ht
        """,
        "kcore_round": f"""
            WITH edges AS ({_BIP}),
            und AS (
              SELECT DISTINCT src AS a, dst AS b FROM edges WHERE src <> dst
              UNION SELECT DISTINCT dst, src FROM edges WHERE src <> dst
            ),
            deg AS (SELECT a AS node, count(*) AS deg FROM und GROUP BY a)
            SELECT node AS node_name, deg FROM deg WHERE deg >= 3
        """,
        "asof_join": """
            WITH p AS (
              SELECT event_id, user_id, ts, value AS pv FROM events
              WHERE event_type = 'purchase'
            ),
            c AS (
              SELECT user_id, ts, max(value) AS cv FROM events
              WHERE event_type = 'click' GROUP BY user_id, ts
            )
            SELECT p.event_id, p.user_id,
                   round(p.pv, 6) AS purchase_value6,
                   round(c.cv, 6) AS click_value6
            FROM p ASOF LEFT JOIN c
              ON p.user_id = c.user_id AND p.ts >= c.ts
        """,
        "tpch_rollup": """
            SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
                   coalesce(l_linestatus, 'ALL') AS linestatus,
                   CAST(round(sum(CAST(l_quantity AS DECIMAL(18,6))), 2) AS DOUBLE) AS sum_qty,
                   CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))
                                  * (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))), 2) AS DOUBLE) AS sum_revenue,
                   count(*) AS n_rows
            FROM lineitem
            GROUP BY ROLLUP(l_returnflag, l_linestatus)
        """,
        "customers_few_orders": """
            SELECT c_custkey, c_name, c_nationkey,
                   coalesce(o.n_orders, 0) AS n_orders
            FROM customer
            LEFT JOIN (
              SELECT o_custkey, count(*) AS n_orders FROM orders GROUP BY o_custkey
            ) o ON c_custkey = o.o_custkey
            WHERE coalesce(o.n_orders, 0) < 3
        """,
        "emb_near_pairs": """
            WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            scored AS (
              SELECT a.vec_id AS a, b.vec_id AS b,
                     list_dot_product(a.v, b.v)
                     / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS cosine
              FROM e a JOIN e b ON a.vec_id < b.vec_id
            )
            SELECT a, b, round(cosine, 6) AS cosine6
            FROM scored WHERE cosine >= 0.35
        """,
        "event_windows": """
            SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS window_start_epoch,
                   event_type, count(*) AS n_events,
                   round(sum(value), 6) AS sum_value
            FROM events
            GROUP BY 1, 2
        """,
        "tpch_ship_priority": """
            SELECT l_orderkey,
                   CAST(epoch(o_orderdate) AS BIGINT) AS o_date_epoch,
                   o_orderpriority,
                   CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))
                                  * (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))), 2) AS DOUBLE)
                     AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < TIMESTAMP '1998-07-01 00:00:00'
              AND l_shipdate > TIMESTAMP '1998-07-01 00:00:00'
            GROUP BY l_orderkey, o_orderdate, o_orderpriority
        """,
        "tpch_returned_rev": """
            SELECT c_custkey, c_name, n_name,
                   CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))
                                  * (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))), 2) AS DOUBLE)
                     AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            WHERE l_returnflag = 'R'
              AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
              AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
            GROUP BY c_custkey, c_name, n_name
        """,
        "tpch_part_supplier_counts": """
            SELECT p_brand, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE p_brand <> 'Brand#1'
            GROUP BY p_brand, p_size
        """,
        "tpch_nation_window": """
            WITH monthly AS (
                SELECT n_name, CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
                       sum(CAST(o_totalprice AS DECIMAL(18,6))) AS r
                FROM orders
                JOIN customer ON o_custkey = c_custkey
                JOIN nation ON c_nationkey = n_nationkey
                GROUP BY 1, 2
            )
            SELECT n_name, month,
                   CAST(round(r, 2) AS DOUBLE) AS revenue,
                   CAST(round(sum(r) OVER (PARTITION BY n_name ORDER BY month
                                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS DOUBLE) AS cum_revenue
            FROM monthly
        """,
        "simrank_r2": _simrank_sql(rounds=2, c=0.8),
        "ppr_sweep": _ppr_sweep_sql(k=4, top=64),
        "ppr_push": _ppr_push_sql(k=3),
        "ppr_nibble": _ppr_nibble_sql(k=3, top=48),
        "stream_delta_r3": _stream_delta_sql(k=3),
    }
    # the two-phase algorithm must produce byte-identical components
    out["components_twophase"] = out["components"]
    # undirected walk from the min vertex; UNION dedups (node, d) pairs and
    # the d-cap bounds cycle expansion (the graph diameter is far below it)
    out["bfs_hops"] = f"""
        WITH RECURSIVE edges AS ({_BIP}),
        und AS (
          SELECT DISTINCT src AS a, dst AS b FROM edges WHERE src <> dst
          UNION SELECT DISTINCT dst, src FROM edges WHERE src <> dst
        ),
        nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
        walk(node, d) AS (
          SELECT (SELECT min(node) FROM nodes), 0
          UNION
          SELECT und.b, walk.d + 1 FROM walk JOIN und ON und.a = walk.node
          WHERE walk.d < 64
        )
        SELECT n.node AS node_name, min(w.d) AS dist
        FROM nodes n LEFT JOIN walk w ON w.node = n.node
        GROUP BY n.node
    """
    # seeded multi-source walk: same UNION-dedup d-capped expansion as
    # bfs_hops, keyed by (source, node); d > 0 drops the sources' own rows
    out["harmonic_k4"] = f"""
        WITH RECURSIVE edges AS ({_BIP}),
        und AS (
          SELECT DISTINCT src AS a, dst AS b FROM edges WHERE src <> dst
          UNION SELECT DISTINCT dst, src FROM edges WHERE src <> dst
        ),
        -- DISTINCT spelled explicitly: inside WITH RECURSIVE, DuckDB 1.0
        -- does not dedup a plain UNION in non-recursive CTEs
        nodes AS (
          SELECT DISTINCT node FROM (
            SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges
          )
        ),
        srcs AS (SELECT node FROM nodes ORDER BY node LIMIT 4),
        walk(s, node, d) AS (
          SELECT node, node, 0 FROM srcs
          UNION
          SELECT walk.s, und.b, walk.d + 1 FROM walk JOIN und ON und.a = walk.node
          WHERE walk.d < 64
        ),
        best AS (SELECT s, node, min(d) AS d FROM walk GROUP BY s, node)
        SELECT node AS node_name, count(*) AS n_sources,
               round(sum(1.0 / d), 8) AS harmonic8
        FROM best WHERE d > 0 GROUP BY node
    """
    # same seeded walk; per-SOURCE aggregates + Wasserman-Faust factor
    out["closeness_k4"] = f"""
        WITH RECURSIVE edges AS ({_BIP}),
        und AS (
          SELECT DISTINCT src AS a, dst AS b FROM edges WHERE src <> dst
          UNION SELECT DISTINCT dst, src FROM edges WHERE src <> dst
        ),
        nodes AS (
          SELECT DISTINCT node FROM (
            SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges
          )
        ),
        nn AS (SELECT count(*) AS n FROM nodes),
        srcs AS (SELECT node FROM nodes ORDER BY node LIMIT 4),
        walk(s, node, d) AS (
          SELECT node, node, 0 FROM srcs
          UNION
          SELECT walk.s, und.b, walk.d + 1 FROM walk JOIN und ON und.a = walk.node
          WHERE walk.d < 64
        ),
        best AS (SELECT s, node, min(d) AS d FROM walk GROUP BY s, node),
        agg AS (
          SELECT s, count(*) AS n_reached, sum(d) AS dist_sum
          FROM best GROUP BY s
        )
        SELECT s AS source_name, n_reached,
               round(CASE WHEN dist_sum > 0
                          THEN (n_reached - 1) * 1.0 / dist_sum
                          ELSE 0.0 END, 8) AS clo8,
               round(CASE WHEN dist_sum > 0
                          THEN (n_reached - 1) * 1.0 / dist_sum
                               * (n_reached - 1) / greatest(nn.n - 1, 1)
                          ELSE 0.0 END, 8) AS clo_wf8
        FROM agg CROSS JOIN nn
    """
    # same seeded walk; per-distance counts + running-sum quantile
    out["eff_diameter"] = f"""
        WITH RECURSIVE edges AS ({_BIP}),
        und AS (
          SELECT DISTINCT src AS a, dst AS b FROM edges WHERE src <> dst
          UNION SELECT DISTINCT dst, src FROM edges WHERE src <> dst
        ),
        nodes AS (
          SELECT DISTINCT node FROM (
            SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges
          )
        ),
        srcs AS (SELECT node FROM nodes ORDER BY node LIMIT 4),
        walk(s, node, d) AS (
          SELECT node, node, 0 FROM srcs
          UNION
          SELECT walk.s, und.b, walk.d + 1 FROM walk JOIN und ON und.a = walk.node
          WHERE walk.d < 64
        ),
        best AS (SELECT s, node, min(d) AS d FROM walk GROUP BY s, node),
        per_d AS (SELECT d, count(*) AS c FROM best WHERE d > 0 GROUP BY d),
        cum AS (
          SELECT d, sum(c) OVER (ORDER BY d) AS cum,
                 sum(c) OVER () AS total
          FROM per_d
        )
        SELECT CAST(max(total) AS BIGINT) AS n_pairs,
               max(d) AS max_dist,
               min(CASE WHEN cum >= 0.9 * total THEN d END) AS eff_diameter
        FROM cum
    """
    out["scc"] = f"""
        WITH RECURSIVE raw AS ({_UTRANS}),
        e AS (SELECT DISTINCT src, dst FROM raw WHERE src <> dst),
        nodes AS (
          SELECT src AS node FROM raw UNION SELECT dst FROM raw
        ),
        reach(s, t) AS (
          SELECT src, dst FROM e
          UNION
          SELECT r.s, e.dst FROM reach r JOIN e ON e.src = r.t
        ),
        mutual AS (
          SELECT a.s AS u, a.t AS v
          FROM reach a JOIN reach b ON a.s = b.t AND a.t = b.s
        )
        SELECT n.node AS node_name,
               least(n.node, coalesce(min(m.v), n.node)) AS component_name
        FROM nodes n LEFT JOIN mutual m ON m.u = n.node
        GROUP BY n.node
    """
    out["tpch_small_qty_revenue"] = """
        WITH thresh AS (
          SELECT l_partkey, 0.2 * avg(l_quantity) AS qty_thresh
          FROM lineitem GROUP BY l_partkey
        )
        SELECT p.p_brand,
               round(sum(l.l_extendedprice) / 7.0, 2) AS avg_yearly,
               count(*) AS n_items
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        JOIN thresh t ON t.l_partkey = l.l_partkey
        WHERE l.l_quantity < t.qty_thresh
        GROUP BY p.p_brand
    """
    out["dataset_split"] = """
        SELECT doc_id,
               CASE WHEN md5(CAST(doc_id AS VARCHAR)) < 'cd' THEN 'train'
                    WHEN md5(CAST(doc_id AS VARCHAR)) < 'e6' THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
    """
    # cutoffs: 0.25*16^8 = '40000000', 0.5*16^8 = '80000000', 1.0 = 'g'
    out["stratified_sample"] = """
        SELECT doc_id, lang, source
        FROM documents
        WHERE substring(md5(CAST(doc_id AS VARCHAR) || ':strat'), 1, 8) <
              CASE WHEN lang = 'en' THEN '40000000'
                   WHEN lang = 'fr' THEN '80000000'
                   ELSE 'g' END
    """
    out["repetition"] = f"""
        WITH t AS (SELECT doc_id, string_split({_DOC_NORM}, ' ') AS toks
                   FROM documents)
        SELECT doc_id,
               CASE WHEN len(toks) < 1 THEN 0.0
                    ELSE round(1.0 - list_unique(toks)::DOUBLE / len(toks), 8)
               END AS dup_word_frac,
               CASE WHEN len(toks) < 3 THEN 0.0
                    ELSE round(1.0 - list_unique(list_transform(
                               generate_series(1, len(toks) - 2),
                               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                         ))::DOUBLE / (len(toks) - 2), 8)
               END AS dup_trigram_frac
        FROM t
    """
    out["decontaminate"] = f"""
        WITH d AS (
          SELECT doc_id,
                 CASE WHEN md5(CAST(doc_id AS VARCHAR)) < 'cd' THEN 'train'
                      WHEN md5(CAST(doc_id AS VARCHAR)) < 'e6' THEN 'val'
                      ELSE 'test' END AS split,
                 string_split({_DOC_NORM}, ' ') AS toks
          FROM documents
        ),
        g AS (
          SELECT doc_id, split,
                 unnest(list_distinct(list_transform(
                     generate_series(1, greatest(len(toks) - 7, 1)),
                     i -> md5(array_to_string(toks[i:i+7], ' '))
                 ))) AS gram
          FROM d
        )
        SELECT DISTINCT t.doc_id AS test_doc, r.doc_id AS train_doc
        FROM g t JOIN g r ON t.gram = r.gram
        WHERE t.split = 'test' AND r.split = 'train'
    """
    # corpus_filter composes the three textstats oracles verbatim — same
    # gate order as the Spark query (language, too-short, too-long, quality)
    out["corpus_filter"] = f"""
        WITH q AS ({out["quality"]}),
        l AS ({out["language_id"]}),
        t AS ({out["token_count"]}),
        j AS (
          SELECT q.doc_id, round(q.quality, 8) AS q8, l.lang_pred, t.n_tokens
          FROM q JOIN l USING (doc_id) JOIN t USING (doc_id)
        ),
        r AS (
          SELECT doc_id,
                 CASE WHEN lang_pred <> 'en' THEN 'non_english'
                      WHEN n_tokens < 20 THEN 'too_short'
                      WHEN n_tokens > 80 THEN 'too_long'
                      WHEN q8 < 0.6 THEN 'low_quality'
                      ELSE 'ok' END AS reason
          FROM j
        )
        SELECT doc_id, reason = 'ok' AS keep, reason FROM r
    """
    # lsh_clusters composes the minhash_band_pairs oracle verbatim: same
    # banded candidates, agree >= 6 threshold, then recursive reachability
    # (min label per weak component; singletons keep their own id)
    out["lsh_clusters"] = f"""
        WITH RECURSIVE bp AS ({out["minhash_band_pairs"]}),
        pairs AS (SELECT a, b FROM bp WHERE agree >= 6),
        ids AS (SELECT doc_id FROM documents),
        und AS (SELECT a AS u, b AS v FROM pairs UNION SELECT b, a FROM pairs),
        reach(node, lab) AS (
          SELECT doc_id, doc_id FROM ids
          UNION
          SELECT und.v, reach.lab FROM reach JOIN und ON und.u = reach.node
        )
        SELECT node AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY node
    """
    # Rewrite every round(expr, d) to the IEEE floor-scale twin of _fs()
    # (see _floorscale_sql). The TPC-H family is exempt: its rounds run in
    # EXACT DECIMAL arithmetic on both engines (tie-free by construction,
    # _dec docstring), which is already version-proof and must not be
    # demoted to double math.
    return {
        k: (v if k.startswith("tpch_") else _floorscale_sql(v))
        for k, v in out.items()
    }
