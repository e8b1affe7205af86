"""Betweenness centrality (single source) — semantics of
``/root/reference/apps/BC.C:95-148``: forward level-synchronous BFS
accumulating shortest-path counts (sigma, ``BC_F`` sum monoid), then a
backward pass over the TRANSPOSED shortest-path DAG accumulating
dependencies in inverse space (``BC_Back_F``), final score
``D'[v]*sigma[v] - 1`` (``BC.C:143-145``).

This is the app the transpose exists for (``BC.C:132`` calls
``GA.transpose()``); here the backward pass runs edge_map with
``in_edges=True``, which uses the lazily-built dst-partitioned twin.
State carries (level, sigma, dep) — the per-level frontiers Ligra
stores as a vector of vertexSubsets (``BC.C:106-117``) are recovered
by filtering on the level column, which at checkpoint time doubles as
the persisted frontier lineage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..engine import IterState, edge_map, msgs_join_side

__all__ = ["bc_single_source"]


def bc_single_source(
    graph,
    root: int = 0,
    on_superstep=None,
) -> tuple[DataFrame, int]:
    """Returns ((id, bc) for reached vertices, supersteps run =
    forward + backward rounds)."""
    init = graph.vertices.select(
        "id",
        F.when(F.col("id") == root, 0).cast("int").alias("level"),
        F.when(F.col("id") == root, 1.0).otherwise(0.0).alias("sigma"),
    )
    st = IterState(init, num_partitions=graph.num_partitions)
    lvl, fsize, steps = 0, 1, 0
    # ---- forward phase: levels + sigma (BC.C:106-117)
    while fsize > 0:
        steps += 1
        frontier = st.df.filter(F.col("level") == lvl).select("id", "sigma")
        msgs = edge_map(
            graph,
            frontier,
            message=F.col("sigma"),
            aggregate=F.sum,
            frontier_size=fsize,
            extra_frontier_cols=("sigma",),
        )
        nxt = lvl + 1
        new = (
            st.df.join(msgs_join_side(msgs, fsize, graph.n), "id", "left")
            .select(
                "id",
                F.when(
                    F.col("level").isNull() & F.col("agg").isNotNull(), F.lit(nxt)
                )
                .otherwise(F.col("level"))
                .cast("int")
                .alias("level"),
                F.when(
                    F.col("level").isNull() & F.col("agg").isNotNull(), F.col("agg")
                )
                .otherwise(F.col("sigma"))
                .alias("sigma"),
            )
        )
        new, fsize = st.advance(
            new, action=lambda df: df.filter(F.col("level") == nxt).count()
        )
        if fsize > 0:
            lvl = nxt
            if on_superstep:
                on_superstep(steps, {"phase": "fwd", "frontier": fsize})
    rounds = lvl  # deepest level
    # ---- backward phase over the transpose (BC.C:124-138)
    st2 = IterState(
        st.df.select(
            "id",
            "level",
            "sigma",
            F.when(
                F.col("level") == rounds, F.try_divide(F.lit(1.0), F.col("sigma"))
            )
            .otherwise(F.lit(0.0))
            .alias("dep"),
        ),
        num_partitions=graph.num_partitions,
    )
    for r in range(rounds, 0, -1):
        steps += 1
        frontier = st2.df.filter(F.col("level") == r).select("id", "dep")
        msgs = edge_map(
            graph,
            frontier,
            message=F.col("dep"),
            aggregate=F.sum,
            in_edges=True,
            extra_frontier_cols=("dep",),
        )
        new = (
            st2.df.join(msgs_join_side(msgs, None, graph.n), "id", "left")
            .select(
                "id",
                "level",
                "sigma",
                F.when(
                    F.col("level") == r - 1,
                    F.col("dep")
                    + F.coalesce("agg", F.lit(0.0))
                    + F.try_divide(F.lit(1.0), F.col("sigma")),
                )
                .otherwise(F.col("dep"))
                .alias("dep"),
            )
        )
        st2.advance(new)
        if on_superstep:
            on_superstep(steps, {"phase": "bwd", "level": r})
    out = st2.df.filter(F.col("level").isNotNull()).select(
        "id", (F.col("dep") * F.col("sigma") - 1.0).alias("bc")
    )
    return out, steps
