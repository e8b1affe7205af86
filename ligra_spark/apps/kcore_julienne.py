"""Work-efficient k-core (coreness) — semantics of
``/root/reference/apps/bucketing/KCore.C:11-44`` (Julienne): bucket
every vertex by its current degree; repeatedly take the smallest
non-empty bucket k, finalize its members' coreness at k, count the
edges they contribute into still-live neighbors (``edgeMapCount``,
``edgeMapReduce.h:76-81`` → frontier ⋈ edges → groupBy(dst).count()),
and move each touched neighbor to bucket ``max(deg - removed, k)``
(degrees never fall below the current core, ``KCore.C:27-30``).

Unlike ``apps.kcore`` (the peel-per-k loop of ``apps/KCore.C`` with
the fork's max_k=min(n,10) cap), this computes FULL coreness and does
work proportional to edges removed per step — the Julienne
work-efficiency claim.  Requires a symmetric graph.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..buckets import Buckets
from ..engine import IterState, edge_map, msgs_join_side

__all__ = ["kcore_julienne"]


def kcore_julienne(graph, on_superstep=None) -> tuple[DataFrame, int]:
    """Returns ((id, core) over all n vertices, steps run)."""
    init = graph.out_degrees.select(
        "id",
        F.col("outdeg").cast("long").alias("deg"),
        F.col("outdeg").cast("long").alias("bucket"),  # NULL once finalized
        F.lit(None).cast("long").alias("core"),
    )
    st = IterState(init, num_partitions=graph.num_partitions)
    b = Buckets()
    steps = 0
    while True:
        k = b.next_bucket(st.df)
        if k is None:
            break
        steps += 1
        removed = b.active(st.df, k).select("id")
        fsize = removed.count()
        # edgeMapCount: edges from this step's peeled set into each nbr
        cnt = edge_map(
            graph,
            removed,
            message=F.lit(1),
            aggregate=F.sum,
            frontier_size=fsize,
        )
        peel = F.col("bucket") == k
        live = F.col("bucket").isNotNull() & ~peel
        new_deg = F.greatest(F.col("deg") - F.coalesce("agg", F.lit(0)), F.lit(k))
        new = st.df.join(msgs_join_side(cnt, fsize, graph.n), "id", "left").select(
            "id",
            F.when(live, new_deg).otherwise(F.col("deg")).alias("deg"),
            F.when(peel, F.lit(None))
            .otherwise(F.when(live, new_deg).otherwise(F.col("bucket")))
            .cast("long")
            .alias("bucket"),
            F.when(peel, F.lit(k)).otherwise(F.col("core")).cast("long").alias("core"),
        )
        st.advance(new)
        if on_superstep:
            on_superstep(steps, {"bucket": k, "peeled": fsize})
    return st.df.select("id", F.coalesce("core", F.lit(0)).alias("core")), steps
