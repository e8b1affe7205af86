"""Maximal independent set — the deterministic fixpoint of
``/root/reference/apps/MIS.C`` (Blelloch-Fineman-Shun SPAA'12) with
priority = vertex id (``MIS.C:79``), which is exactly the
lexicographically-first MIS (greedy by ascending id).  The rounds
below implement the classic parallel formulation: a vertex enters the
set when it beats every live neighbor's priority; set members knock
out their neighbors; repeat on the shrinking live subgraph.  Requires
a symmetric edge table."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..engine import IterState, edge_map, msgs_join_side

__all__ = ["mis"]


def mis(graph, max_iters: int = 10_000, on_superstep=None) -> tuple[DataFrame, int]:
    """Returns ((id, in_set boolean) over all n vertices, rounds)."""
    init = graph.vertices.select(
        "id", F.lit(True).alias("live"), F.lit(False).alias("in_set")
    )
    st = IterState(init, num_partitions=graph.num_partitions)
    it, n_live = 0, graph.n
    while n_live > 0 and it < max_iters:
        it += 1
        live = st.df.filter("live").select("id")
        # min live-neighbor priority per vertex (edgeMap, min monoid)
        msgs = edge_map(
            graph,
            live,
            message=F.col("src"),
            aggregate=F.min,
            frontier_size=n_live,
        )
        with_min = st.df.join(msgs_join_side(msgs, n_live, graph.n), "id", "left").select(
            "id",
            "live",
            "in_set",
            (F.col("live") & (F.col("agg").isNull() | (F.col("agg") > F.col("id")))).alias(
                "winner"
            ),
        )
        winners = with_min.filter("winner").select("id")
        # knock out winners' neighbors.  frontier_size uses n_live as a
        # conservative upper bound (winners ⊆ live) so the broadcast
        # decision needs no extra count job — this halves the per-round
        # driver-sync count (the convergence-tail fixed cost).
        knocked = edge_map(
            graph,
            winners,
            message=F.lit(1),
            aggregate=F.min,
            frontier_size=n_live,
        ).select("id")
        new = (
            with_min.join(
                knocked.select("id", F.lit(True).alias("ko")).hint("shuffle_hash"),
                "id",
                "left",
            )
            .select(
                "id",
                (
                    F.col("live")
                    & ~F.col("winner")
                    & F.coalesce("ko", F.lit(False)).eqNullSafe(F.lit(False))
                ).alias("live"),
                (F.col("in_set") | F.col("winner")).alias("in_set"),
            )
        )
        new, (n_live,) = st.advance(new, F.count_if("live"))
        if on_superstep:
            on_superstep(it, {"live": n_live})
    return st.df.select("id", "in_set"), it
