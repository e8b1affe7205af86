"""Connected components via repeated BFS — semantics of
``/root/reference/apps/BFSCC.C:54-71``: scan vertex ids in increasing
order; every still-unvisited vertex roots a BFS that claims all
reachable unvisited vertices with the root's id (cond = unvisited,
``BFSCC.C:44``).  On a symmetric graph the resulting label is exactly
the component's minimum vertex id — identical output to
``apps.components``, different execution shape (wavefront claims
instead of label overwrites), which is why both exist upstream.

Scale adaptation of the sequential outer loop (the reference visits
isolated vertices one-by-one; a driver-side loop per vertex is a
non-starter at 10^12 ids):

1. vertices with no neighbors (singleton components after self-loop
   drop) are labeled ``label = id`` in ONE vectorized step — they are
   exactly the roots whose BFS would terminate immediately;
2. the remaining outer loop runs once per NON-singleton component in
   min-id order (web link graphs: one giant component + a handful of
   small ones), each BFS fully distributed through the engine.

``max_components`` guards against degenerate inputs (millions of tiny
components) where ``apps.components`` is the right tool; the guard
raises rather than silently mislabeling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..engine import IterState, edge_map, msgs_join_side

__all__ = ["bfscc"]


def bfscc(
    graph,
    max_components: int = 64,
    on_superstep=None,
) -> tuple[DataFrame, int]:
    """Returns ((id, label) over all n vertices, total BFS rounds).
    Requires a symmetric graph (as CC does, README.md:63-64)."""
    # singleton components = vertices absent from the (symmetric,
    # self-loop-free) edge table: label = own id, claimed up front
    init = (
        graph.vertices.join(graph.out_degrees.select("id", "outdeg"), "id", "left")
        .select(
            "id",
            F.when(F.coalesce("outdeg", F.lit(0)) == 0, F.col("id"))
            .cast("long")
            .alias("label"),
            F.lit(False).alias("_new"),
        )
    )
    st = IterState(init, num_partitions=graph.num_partitions)
    total_rounds = 0
    for comp in range(max_components + 1):
        root_row = (
            st.df.filter(F.col("label").isNull()).agg(F.min("id").alias("r")).first()
        )
        if root_row["r"] is None:
            break
        if comp == max_components:
            raise RuntimeError(
                f"more than {max_components} non-singleton components; "
                "use apps.components for this input"
            )
        root = int(root_row["r"])
        fsize, first = 1, True
        while fsize > 0:
            total_rounds += 1
            frontier = (
                graph.vertices.filter(F.col("id") == root).select("id")
                if first
                else st.df.filter("_new").select("id")
            )
            msgs = edge_map(
                graph,
                frontier,
                message=F.lit(1),
                aggregate=F.min,
                frontier_size=fsize,
            )
            is_root = F.col("id") == root if first else F.lit(False)
            claim = F.col("label").isNull() & (F.col("agg").isNotNull() | is_root)
            new = st.df.join(msgs_join_side(msgs, fsize, graph.n), "id", "left").select(
                "id",
                F.when(claim, F.lit(root))
                .otherwise(F.col("label"))
                .cast("long")
                .alias("label"),
                (claim & (F.col("id") != root)).alias("_new"),
            )
            new, (fsize,) = st.advance(new, F.count_if("_new"))
            first = False
            if on_superstep:
                on_superstep(total_rounds, {"frontier": fsize, "root": root})
    return st.df.select("id", "label"), total_rounds
