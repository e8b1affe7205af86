"""Bucketed greedy set cover — semantics of
``/root/reference/apps/bucketing/SetCover.C:25-96`` (MaNIS-style,
epsilon=0.01): every vertex is both a set (covering its out-neighbors)
and an element; sets are bucketed by floor(x*ln(deg)) with
x = 1/ln(1+eps) and processed in DECREASING bucket order.  Per round,
the current bucket's sets

1. re-count their uncovered out-edges (upstream's ``packEdges`` step —
   here the count-under-predicate formulation, since an immutable edge
   table filters instead of compacting, SURVEY.md §2.1 row 10);
2. those still >= ceil((1+eps)^k) acquire elements by writeMin(set id)
   → ``groupBy(dst).agg(min(src))`` (deterministic: min id wins);
3. sets winning >= ceil((1+eps)^(k-1)) edges join the cover and mark
   their won elements covered; losers' acquisitions reset (the owner
   column is per-round transient, so the reset is free);
4. processed sets rebucket by their re-counted degree (cover → null).

The reference makes 4 edge passes per round (pack / writeMin / count /
reset); this plan makes 3 (count, acquire, won-count) — the reset pass
vanishes because ownership is never persisted.  Output matches the
numpy transcription ``oracle.setcover`` exactly (tests).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..buckets import Buckets
from ..engine import IterState, frontier_is_sparse

__all__ = ["setcover"]


def setcover(
    graph,
    epsilon: float = 0.01,
    on_superstep=None,
) -> tuple[DataFrame, int]:
    """Returns ((id, in_cover, covered) over all n vertices, rounds)."""
    x = 1.0 / math.log(1.0 + epsilon)

    def clamp_bucket(deg_col):
        return F.when(deg_col > 0, F.floor(F.lit(x) * F.log(deg_col.cast("double"))))

    init = graph.out_degrees.select(
        "id",
        F.col("outdeg").cast("long").alias("deg"),
        clamp_bucket(F.col("outdeg")).cast("long").alias("bucket"),
        F.lit(False).alias("in_cover"),
        F.lit(False).alias("covered"),
    )
    # checkpoint_every=1: this app references the state ~5 times per
    # round (pack, threshold, acquire, won, rebucket), so the default
    # cadence-4 lineage window nests 5^4 plan copies between cuts and
    # OOMs the analyzer; a cut per round keeps the plan flat.
    st = IterState(init, num_partitions=graph.num_partitions, checkpoint_every=1)
    b = Buckets(increasing=False)  # decreasing order (SetCover.C:32)
    e = graph.edges.select(F.col("src").alias("src"), F.col("dst").alias("dst"))
    rounds = 0
    while True:
        k = b.next_bucket(st.df)
        if k is None:
            break
        rounds += 1
        active = b.active(st.df, k).select("id")
        sparse = frontier_is_sparse(active.count(), graph.m)
        f = F.broadcast(active) if sparse else active
        # uncovered out-edges of the active sets (edge-level, dups
        # count).  eu and the small per-round derivations are CACHED
        # for the round: they are consumed 3-4 times (count, acquire,
        # won-count, state join), and uncached they re-execute inside
        # every nested broadcast build — a recompute amplification that
        # compounds across rounds into exponential superstep times
        # (measured: flat ~1s/round cached vs 226s by round 21 not).
        # All per-round frames use DISJOINT column names with
        # unqualified join conditions: dataset-qualified refs (e["dst"])
        # trip Spark's ambiguous-self-join check here, because every
        # frame in the round (state, edges, counts) shares lineage with
        # the cached edge table through out_degrees.
        elm_state = st.df.select(F.col("id").alias("elm"), "covered")
        eu = (
            f.select(F.col("id").alias("fid"))
            .join(e, F.col("fid") == F.col("src"))
            .join(elm_state, F.col("dst") == F.col("elm"))
            .filter(~F.col("covered"))
            .select("src", "dst")
            .persist()
        )
        eu.count()
        # 1. pack-count; 2. threshold; 3. acquire + won-count
        cnt = eu.groupBy(F.col("src").alias("id")).agg(
            F.count(F.lit(1)).alias("newdeg")
        ).persist()
        thr = int(math.ceil((1.0 + epsilon) ** k))
        low = max(int(math.ceil((1.0 + epsilon) ** (k - 1))), 1)
        still = cnt.filter(F.col("newdeg") >= thr).select(F.col("id").alias("sid"))
        if sparse:  # still/winners ⊆ active
            still = F.broadcast(still)
        es = eu.join(still, F.col("src") == F.col("sid")).select("src", "dst")
        # Won-edge counting WITHOUT joining es back to itself (a
        # lineage self-join trips Spark's ambiguous-self-join check):
        # two-level aggregation — per (dst, src) edge multiplicity,
        # then per dst the min src (the writeMin winner) and, via
        # min_by, that winner's edge count.
        per_pair = es.groupBy("dst", "src").agg(F.count(F.lit(1)).alias("c"))
        owners = (
            per_pair.groupBy(F.col("dst").alias("odst"))
            .agg(
                F.min("src").alias("owner"),
                F.min_by("c", "src").alias("owner_edges"),
            )
            .persist()
        )
        won = owners.groupBy(F.col("owner").alias("id")).agg(
            F.sum("owner_edges").alias("n_won")
        )
        winners = won.filter(F.col("n_won") >= low).select("id").persist()
        winners.count()
        wjoin = F.broadcast(winners) if sparse else winners
        newly_covered = (
            owners.join(
                wjoin.select(F.col("id").alias("winner_id")),
                F.col("owner") == F.col("winner_id"),
            ).select(F.col("odst").alias("id"))
        )
        # 4. one state join applying cover/covered/degree/bucket updates
        upd = (
            st.df.join(cnt.withColumnRenamed("id", "cid"),
                       F.col("id") == F.col("cid"), "left")
            .join(winners.select(F.col("id").alias("wid")),
                  F.col("id") == F.col("wid"), "left")
            .join(newly_covered.select(F.col("id").alias("nid")).distinct(),
                  F.col("id") == F.col("nid"), "left")
        )
        was_active = F.col("bucket") == k
        new_deg = F.when(was_active, F.coalesce("newdeg", F.lit(0))).otherwise(
            F.col("deg")
        )
        new_in_cover = F.col("in_cover") | F.col("wid").isNotNull()
        new = upd.select(
            "id",
            new_deg.alias("deg"),
            F.when(
                was_active,
                F.when(new_in_cover, F.lit(None)).otherwise(clamp_bucket(new_deg)),
            )
            .otherwise(F.col("bucket"))
            .cast("long")
            .alias("bucket"),
            new_in_cover.alias("in_cover"),
            (F.col("covered") | F.col("nid").isNotNull()).alias("covered"),
        )
        new, (n_live,) = st.advance(new, F.count_if(F.col("bucket").isNotNull()))
        for transient in (eu, cnt, owners, winners):
            transient.unpersist()
        if on_superstep:
            on_superstep(rounds, {"bucket": k, "live": n_live})
    return st.df.select("id", "in_cover", "covered"), rounds
