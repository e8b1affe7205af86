"""Multi-source radii estimation — semantics of
``/root/reference/apps/Radii.C:72-99``: min(n,64) sample sources
``v_i = hashInt(i) % n`` (the reference's exact hash,
``ligra_spark.hashing``), 64-bit visited masks propagated with
bitwise-OR (``writeOr`` → ``bit_or`` monoid), ``radii[d]`` = last
round d's mask grew.  Where the reference's init races on duplicate
samples (``Radii.C:84-89`` last-writer), we OR the bits — the
deterministic superset, matched by the numpy oracle.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..engine import IterState, edge_map, msgs_join_side
from ..hashing import hash_int32

__all__ = ["radii"]


def radii(
    graph,
    k: int = 64,
    on_superstep=None,
) -> tuple[DataFrame, int]:
    """Returns ((id, radii) over all n vertices, rounds run)."""
    spark = graph.spark
    kk = min(graph.n, k)
    bits: dict[int, int] = {}
    for i in range(kk):
        v = int(hash_int32(np.uint32(i))) % graph.n
        bit = (1 << i) & 0xFFFFFFFFFFFFFFFF
        signed = bit - (1 << 64) if bit >= (1 << 63) else bit
        bits[v] = bits.get(v, 0) | signed
    starts = spark.createDataFrame(
        [(v, b) for v, b in bits.items()], "id long, init_mask long"
    )
    init = (
        graph.vertices.join(F.broadcast(starts), "id", "left")
        .select(
            "id",
            F.lit(0).cast("long").alias("visited"),
            F.coalesce("init_mask", F.lit(0)).cast("long").alias("nxt"),
            F.when(F.col("init_mask").isNotNull(), 0).cast("int").alias("radii"),
            F.col("init_mask").isNotNull().alias("in_frontier"),
        )
    )
    st = IterState(init, num_partitions=graph.num_partitions)
    rounds, fsize = 0, len(bits)
    while fsize > 0:
        rounds += 1
        # vertexMap sync: Visited = NextVisited for frontier members
        synced = st.df.select(
            "id",
            F.when(F.col("in_frontier"), F.col("nxt"))
            .otherwise(F.col("visited"))
            .alias("visited"),
            "nxt",
            "radii",
            "in_frontier",
        )
        frontier = synced.filter("in_frontier").select("id", "visited")
        msgs = edge_map(
            graph,
            frontier,
            message=F.col("visited"),
            aggregate=F.bit_or,
            frontier_size=fsize,
            extra_frontier_cols=("visited",),
        )
        new = (
            synced.join(msgs_join_side(msgs, fsize, graph.n), "id", "left")
            .select(
                "id",
                "visited",
                F.col("visited")
                .bitwiseOR(F.coalesce("agg", F.lit(0)))
                .alias("to_write"),
                "nxt",
                "radii",
            )
            .select(
                "id",
                "visited",
                F.when(
                    F.col("to_write") != F.col("visited"),
                    F.col("nxt").bitwiseOR(F.col("to_write")),
                )
                .otherwise(F.col("nxt"))
                .alias("nxt"),
                F.when(F.col("to_write") != F.col("visited"), F.lit(rounds))
                .otherwise(F.col("radii"))
                .cast("int")
                .alias("radii"),
                (F.col("to_write") != F.col("visited")).alias("in_frontier"),
            )
        )
        new, (fsize,) = st.advance(new, F.count_if("in_frontier"))
        if on_superstep:
            on_superstep(rounds, {"frontier": fsize})
    return (
        st.df.select("id", F.coalesce("radii", F.lit(-1)).cast("long").alias("radii")),
        rounds,
    )
