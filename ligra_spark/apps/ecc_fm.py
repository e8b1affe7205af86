"""FM-sketch eccentricity estimation — semantics of
``/root/reference/apps/eccentricity/FM-Ecc.C:66-110``: every vertex
carries ``length`` 32-bit Flajolet-Martin words, word j initialized to
``1 << lowbit(hashInt(v*length + j + seed))`` (``FM-Ecc.C:81-85``; we
pin the seed instead of ``srand(time)`` — determinism is the whole
point of the differential gate), masks propagate with bitwise-OR every
round, and ``ecc[v]`` is the last round v's sketch grew
(``Ecc_F::update``).  The sketch estimates |ball(v, r)| — its growth
stops when the ball stops growing, so the last-change round estimates
the eccentricity.

Spark shape: the ``length <= 2`` words pack into ONE long column
(OR has no carries, so per-word OR == packed OR), making each round
exactly the radii plan — one ``bit_or`` edge_map shuffle + the state
join.  Init masks come from the bit-exact ``hashing.hash_int32`` port
inside an Arrow-batched pandas UDF — no driver-side n-row generation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..engine import IterState, edge_map, msgs_join_side

__all__ = ["ecc_fm", "fm_mask_udf"]


def fm_mask_udf(length: int = 2, seed: int = 0):
    """Packed FM init mask per vertex id: word j (bits 32j..32j+31) =
    1 << lowbit(hash_int32(id*length + j + seed))."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from ..hashing import hash_int32

    if not 1 <= length <= 2:
        raise ValueError("packed FM masks support length 1 or 2 (64-bit column)")

    def f(ids):
        idx = ids.values.astype(np.int64)
        out = np.zeros(len(idx), dtype=np.int64)
        for j in range(length):
            h = hash_int32((idx * length + j + seed).astype(np.uint32))
            low = h & (~h + np.uint32(1))  # h & -h, lowest set bit
            pos = np.where(
                h == 0, 0, np.log2(np.maximum(low, 1).astype(np.float64))
            ).astype(np.int64)
            out |= np.int64(1) << (pos + 32 * j)
        return pd.Series(out)

    f.__annotations__ = {"ids": pd.Series, "return": pd.Series}
    return pandas_udf(f, "long")


def ecc_fm(
    graph,
    length: int = 2,
    seed: int = 0,
    on_superstep=None,
) -> tuple[DataFrame, int]:
    """Returns ((id, ecc) over all n vertices, rounds run).  ecc = last
    round the packed FM sketch grew (0 if it never did)."""
    mask = fm_mask_udf(length, seed)
    init = graph.vertices.select(
        "id",
        F.lit(0).cast("long").alias("visited"),
        mask(F.col("id")).alias("nxt"),
        F.lit(0).cast("int").alias("ecc"),
        F.lit(True).alias("in_frontier"),
    )
    st = IterState(init, num_partitions=graph.num_partitions)
    rounds, fsize = 0, graph.n
    while fsize > 0:
        rounds += 1
        # vertexMap sync: Visited = NextVisited (Ecc_Vertex_F)
        synced = st.df.select(
            "id",
            F.when(F.col("in_frontier"), F.col("nxt"))
            .otherwise(F.col("visited"))
            .alias("visited"),
            "nxt",
            "ecc",
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
                "ecc",
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
                .otherwise(F.col("ecc"))
                .cast("int")
                .alias("ecc"),
                (F.col("to_write") != F.col("visited")).alias("in_frontier"),
            )
        )
        new, (fsize,) = st.advance(new, F.count_if("in_frontier"))
        if on_superstep:
            on_superstep(rounds, {"frontier": fsize})
    return st.df.select("id", F.col("ecc").cast("long").alias("ecc")), rounds
