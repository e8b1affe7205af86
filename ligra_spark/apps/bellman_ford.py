"""Bellman-Ford SSSP — semantics of
``/root/reference/apps/BellmanFord.C:32-78``: writeMin relaxation from
the improved-this-round frontier, negative-cycle cutoff after n rounds.
``writeMin`` becomes ``groupBy(dst).agg(min(dist + weight))``
(SURVEY.md §2.2); unreachable = absent row (Ligra inits INT_MAX,
``BellmanFord.C:60``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..engine import IterState, edge_map

__all__ = ["bellman_ford"]


def bellman_ford(
    graph,
    root: int = 0,
    max_iters: int | None = None,
    on_superstep=None,
) -> tuple[DataFrame, int]:
    """Returns ((id, dist) for reached vertices, rounds run).  Requires
    a ``weight`` column on graph.edges."""
    spark = graph.spark
    init = (
        spark.createDataFrame([(int(root), 0)], "id long, dist long")
        .repartition(graph.num_partitions, "id")
    )
    st = IterState(init, num_partitions=graph.num_partitions)
    frontier = st.df
    it, fsize = 0, 1
    limit = max_iters or graph.n
    while fsize > 0 and it < limit:
        it += 1
        msgs = edge_map(
            graph,
            frontier,
            message=F.col("dist") + F.col("weight"),
            aggregate=F.min,
            frontier_size=fsize,
            extra_frontier_cols=("dist",),
        )
        new = (
            st.df.select("id", F.col("dist").alias("old"))
            .join(msgs.select("id", F.col("agg").alias("cand")), "id", "full")
            .select(
                "id",
                F.least(
                    F.coalesce("old", F.lit(None)), F.coalesce("cand", F.lit(None))
                ).alias("dist"),
                (
                    F.col("old").isNull() & F.col("cand").isNotNull()
                    | (F.col("cand") < F.col("old"))
                ).alias("improved"),
            )
        )
        new, (fsize,) = st.advance(
            new.select(
                "id", "dist", F.coalesce("improved", F.lit(False)).alias("improved")
            ),
            F.count_if("improved"),
        )
        frontier = new.filter("improved").select("id", "dist")
        if on_superstep:
            on_superstep(it, {"frontier": fsize})
    return st.df.select("id", "dist"), it
