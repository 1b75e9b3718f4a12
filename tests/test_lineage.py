"""Narrow-union checkpoint pathology: repro + the cut() fix pin.

Chained `localCheckpoint(eager=True)` on a state that is a UNION whose
branches read the previous checkpoint narrowly compounds partition
lineage and doubles per-round materialization cost (measured: 0.1 s
rounds become 26+ s by round 14). lineage.cut() puts a shuffle boundary
at the checkpoint root, which keeps cost flat. Pinned here structurally
(stable partition count) and with a generous wall guard that an
exponential regression (100+ s for these rounds) cannot pass.
"""

from __future__ import annotations

import time
import warnings

from pyspark.sql import functions as F

from linkgraph.lineage import cut


def _round(df, tiny, i):
    moving = (F.col("node") % 6) == (i % 6)
    joined = df.where(moving).join(tiny, "community").select(
        "node", (F.col("community") + F.col("boost") % 3).alias("community")
    )
    return df.where(~moving).unionByName(joined)


def test_cut_keeps_narrow_union_loop_flat(spark):
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    tiny = spark.range(50).select(
        F.col("id").alias("community"), (F.col("id") * 2).alias("boost")
    )
    df = cut(
        spark.range(200).select(
            F.col("id").alias("node"), (F.col("id") % 50).alias("community")
        )
    )
    t0 = time.monotonic()
    for i in range(14):
        df = cut(_round(df, tiny, i))
        # the pathology's visible symptom: partition count creeping up
        # (+1 per round) as union branches stack — cut() pins it
        assert df.rdd.getNumPartitions() == n_parts
    wall = time.monotonic() - t0
    # rows whose drifted community key leaves tiny's domain drop out in
    # the join branch — value parity with the bare-checkpoint loop is
    # pinned separately in test_cut_preserves_values
    assert df.count() > 0
    # 14 rounds at a flat ~0.3-0.6 s each; the uncut loop needs >60 s for
    # the same rounds (26 s for round 14 alone, walls DOUBLING per round —
    # a re-poisoned loop blows past any constant). The partition-count pin
    # above catches the union-stacking symptom but NOT planning-time
    # growth, so the wall bound must still FAIL (not skip): 180 s is ~60×
    # the healthy wall — ample headroom for a loaded CI host, unreachable
    # for the exponential pathology at 14 rounds.
    assert wall < 180, f"narrow-union loop no longer flat: {wall:.1f}s"


def test_cut_preserves_values(spark):
    tiny = spark.range(50).select(
        F.col("id").alias("community"), (F.col("id") * 2).alias("boost")
    )
    base = spark.range(200).select(
        F.col("id").alias("node"), (F.col("id") % 50).alias("community")
    )
    a, b = cut(base), base.localCheckpoint(eager=True)
    for i in range(3):
        a = cut(_round(a, tiny, i))
        b = _round(b, tiny, i).localCheckpoint(eager=True)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_cut_takes_the_internal_create_dataframe_path(spark):
    """Canary for the private-API fast path: on this runtime cut() re-wraps
    the checkpoint through internalCreateDataFrame instead of falling back
    to the bare checkpoint, which warns once and sets _WARNED_FALLBACK."""
    from linkgraph import lineage

    assert lineage._WARNED_FALLBACK is False
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        out = cut(spark.range(10))
    assert lineage._WARNED_FALLBACK is False
    assert sorted(r.id for r in out.collect()) == list(range(10))
