"""Triangle counting — degree-ordered edge orientation + wedge-closing joins.

North-rule operator (SURVEY §2.9); no reference implementation exists. The
standard distributed formulation (Suri & Vassilvitskii, "Counting Triangles
and the Curse of the Last Reducer", WWW'11): orient each undirected edge from
the lower-(degree, id) endpoint to the higher one — every vertex's oriented
out-degree is then O(sqrt(m)), which is exactly the hub-skew bound that makes
the wedge self-join survive power-law graphs at scale (the same concern the
reference's JDS degree-bucketing addresses for SpMV,
/root/reference/readers/mtx_hybrid.h:39-221).

Plan shape: 2 self-joins of the oriented edge table (wedge build + closure
probe), both shuffle hash joins on long keys; Catalyst/AQE handles the rest.
Counts are exact integers on the SIMPLE undirected graph (multi-edges
deduped, self-loops dropped).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.operators.degrees import symmetrize


def _oriented(edges: DataFrame) -> DataFrame:
    """Orient the simple undirected graph: u -> v iff (deg(u), u) < (deg(v), v)."""
    sym = symmetrize(edges)
    deg = sym.groupBy(F.col("src").alias("node")).agg(F.count("*").alias("deg"))
    return (
        sym.join(deg.withColumnRenamed("node", "src").withColumnRenamed("deg", "deg_src"), "src")
        .join(deg.withColumnRenamed("node", "dst").withColumnRenamed("deg", "deg_dst"), "dst")
        .filter(
            (F.col("deg_src") < F.col("deg_dst"))
            | ((F.col("deg_src") == F.col("deg_dst")) & (F.col("src") < F.col("dst")))
        )
        .select("src", "dst")
    )


def triangles_per_vertex(edges: DataFrame) -> DataFrame:
    """[node, triangles] for every vertex in a triangle (exact)."""
    matched = _matched_triangles(edges)
    return (
        matched.select(F.explode(F.array("u", "v", "w")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("triangles"))
    )


def _matched_triangles(edges: DataFrame) -> DataFrame:
    return _close_wedges(_oriented(edges).persist())


def _close_wedges(e: DataFrame) -> DataFrame:
    """[u, v, w] per triangle from the oriented edge table ``e``, which the
    three self-joins read (callers persist it)."""
    e1 = e.select(F.col("src").alias("u"), F.col("dst").alias("v"))
    e2 = e.select(F.col("src").alias("v"), F.col("dst").alias("w"))
    wedges = e1.join(e2, "v")
    e3 = e.select(F.col("src").alias("u"), F.col("dst").alias("w"))
    return wedges.join(e3, ["u", "w"], "inner")


def triangle_count(edges: DataFrame) -> int:
    """Total triangle count (each triangle counted exactly once — the
    orientation is a total order, so every triangle has exactly one
    low->mid->high wedge closed by one low->high edge). The oriented edge
    table is cached for the self-joins and released once the count is
    taken."""
    e = _oriented(edges).persist()
    try:
        return _close_wedges(e).count()
    finally:
        e.unpersist()


def triangle_count_doulion(
    edges: DataFrame, p: float, salt: str = "doulion"
) -> DataFrame:
    """DOULION approximate triangle count (Tsourakakis, Kang, Miller &
    Faloutsos, KDD'09): keep each SIMPLE undirected edge independently
    with probability p, count triangles EXACTLY on the sparsified graph,
    and scale by 1/p³ — an unbiased estimator whose wedge-join cost
    shrinks by ~p² (the standard scale move when the exact census is too
    hot, e.g. on the full 100-TB graph before deciding where to spend
    the exact pass).

    rand()-free like everything in this repo: the keep rule is the
    md5-cutoff comparison of sampling.py on the CANONICAL endpoint pair
    (both directions of an undirected edge draw the same coin), so the
    estimate is deterministic, repartition-stable, and value-checkable
    in ANSI SQL. Returns one row [kept_edges, sampled_triangles,
    triangle_estimate]; p=1 degenerates to the exact count."""
    from linkgraph.operators.sampling import _DIGITS, hex_cutoff

    cutoff = hex_cutoff(p)
    canon = F.concat_ws(
        "|",
        F.least(F.col("src"), F.col("dst")).cast("string"),
        F.greatest(F.col("src"), F.col("dst")).cast("string"),
        F.lit(salt),
    )
    # prefix length tied to sampling._DIGITS so the lexicographic compare
    # always sees a digest slice exactly as wide as the cutoff string
    kept = edges.filter(F.substring(F.md5(canon), 1, _DIGITS) < cutoff)
    sampled = _matched_triangles(kept)
    m_row = (
        symmetrize(kept)
        .agg((F.count(F.lit(1)) / 2).cast("long").alias("kept_edges"))
    )
    return m_row.crossJoin(
        sampled.agg(
            F.count(F.lit(1)).alias("sampled_triangles"),
            F.round(F.count(F.lit(1)) / F.lit(float(p) ** 3), 6).alias(
                "triangle_estimate"
            ),
        )
    )
