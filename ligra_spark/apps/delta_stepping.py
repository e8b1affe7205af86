"""Δ-stepping SSSP — semantics of
``/root/reference/apps/bucketing/DeltaStepping.C:43-81`` (Julienne):
vertices live in buckets by ``dist / delta``; each step takes the
smallest non-empty bucket, relaxes ALL out-edges of its members
(``writeMin`` → min monoid; the reference's TOP_BIT first-visitor
encoding, ``DeltaStepping.C:7-41``, is a CAS-dedup trick the
aggregation subsumes), moves improved vertices to their new buckets,
and repeats until every bucket is empty.  Processed vertices leave
their bucket; a vertex is reprocessed only if a later relaxation
improves its distance (possible within the current bucket — weights
below delta — exactly as upstream).

Exact SSSP distances (same fixpoint as apps.bellman_ford; tests assert
equality).  Per step: one groupBy(dst) shuffle + the state join, plus
the O(1)-row ``next_bucket`` aggregation on the driver sync path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..buckets import Buckets
from ..engine import IterState, edge_map, msgs_join_side

__all__ = ["delta_stepping"]


def delta_stepping(
    graph,
    root: int = 0,
    delta: int = 1,
    on_superstep=None,
) -> tuple[DataFrame, int]:
    """Returns ((id, dist) for reached vertices, steps run).  Requires
    a ``weight`` column on graph.edges (non-negative weights)."""
    init = graph.vertices.select(
        "id",
        F.when(F.col("id") == root, F.lit(0)).cast("long").alias("dist"),
        F.when(F.col("id") == root, F.lit(0)).cast("long").alias("bucket"),
    )
    st = IterState(init, num_partitions=graph.num_partitions)
    b = Buckets()
    steps = 0
    while True:
        k = b.next_bucket(st.df)
        if k is None:
            break
        steps += 1
        active = b.active(st.df, k).select("id", "dist")
        fsize = active.count()  # cached-state filter count: tiny job
        msgs = edge_map(
            graph,
            active,
            message=F.col("dist") + F.col("weight"),
            aggregate=F.min,
            frontier_size=fsize,
            extra_frontier_cols=("dist",),
        )
        improved = F.col("agg").isNotNull() & (
            F.col("dist").isNull() | (F.col("agg") < F.col("dist"))
        )
        new = st.df.join(msgs_join_side(msgs, fsize, graph.n), "id", "left").select(
            "id",
            F.when(improved, F.col("agg")).otherwise(F.col("dist")).alias("dist"),
            # improved → (re-)enter bucket new_dist/delta; processed
            # (bucket == k, not improved) → leave (apply_f's writeback,
            # DeltaStepping.C:57-63); others keep their bucket
            F.when(improved, F.floor(F.col("agg") / delta))
            .otherwise(
                F.when(F.col("bucket") == k, F.lit(None)).otherwise(F.col("bucket"))
            )
            .cast("long")
            .alias("bucket"),
        )
        new, (n_improved,) = st.advance(new, F.count_if(F.col("bucket").isNotNull()))
        if on_superstep:
            on_superstep(steps, {"bucket": k, "pending": n_improved})
    return st.df.filter(F.col("dist").isNotNull()).select("id", "dist"), steps
