"""LogLog-sketch eccentricity — semantics of
``/root/reference/apps/eccentricity/LogLog-Ecc.C:116-163``: every
vertex carries 10 six-bit LogLog registers packed into one 64-bit
word (``counter |= rightMostBit(hashInt(i*10 + j + seed*10)) << 6j``,
``LogLog-Ecc.C:128-140``), merged along edges with PER-REGISTER MAX
(the broadword-max trick, ``LogLog-Ecc.C:40-57`` — our registers are
unpacked into 10 Catalyst expressions instead, so the max is 10 plain
``max`` aggregates in ONE groupBy shuffle via ``edge_map_multi``);
``ecc[v]`` = last round any register grew.  The app runs the kBFS
bitmask wave (``apps.ecc._kbfs_wave``) with every vertex seeded and in
the first frontier; this module supplies the init counters and the
lattice join (10 register maxima, repacked into the one mask column).

Determinism note: the reference gates the change flag on the RACY
``NextVisitedArray`` growth (``Ecc_F::update``); we gate on the
round-stable ``Visited`` value — the deterministic superset, the same
convention the radii app documents for its writeOr races.  The seed
is pinned (reference uses ``srand(time)``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .ecc import _kbfs_wave

__all__ = ["ecc_loglog", "loglog_mask_udf"]

NREG = 10  # registers per counter (LogLog-Ecc.C:133)


def loglog_mask_udf(seed: int = 0):
    """Packed init counter per vertex id: register j (bits 6j..6j+5) =
    lowbit-position of hash_int64(id*10 + j + seed*10)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from ..hashing import hash_int64

    def f(ids):
        idx = ids.values.astype(np.uint64)
        out = np.zeros(len(idx), dtype=np.int64)
        for j in range(NREG):
            h = hash_int64(idx * np.uint64(NREG) + np.uint64(j + seed * NREG))
            low = h & (~h + np.uint64(1))
            pos = np.where(
                h == 0, 0, np.log2(np.maximum(low, 1).astype(np.float64))
            ).astype(np.int64)
            out |= pos << (6 * j)
        return pd.Series(out)

    f.__annotations__ = {"ids": pd.Series, "return": pd.Series}
    return pandas_udf(f, "long")


def _reg(col: Column, j: int) -> Column:
    return F.shiftright(col, 6 * j).bitwiseAND(F.lit(63))


def _repack(regs: list[Column]) -> Column:
    packed = F.lit(0).cast("long")
    for j, r in enumerate(regs):
        packed = packed + F.shiftleft(r.cast("long"), 6 * j)
    return packed


def ecc_loglog(
    graph,
    seed: int = 0,
    on_superstep=None,
) -> tuple[DataFrame, int]:
    """Returns ((id, ecc) over all n vertices, rounds run).  ecc = last
    round any of the 10 packed LogLog registers grew (0 if never)."""
    init = graph.vertices.select(
        "id",
        loglog_mask_udf(seed)(F.col("id")).alias("mask"),
        F.lit(0).cast("int").alias("ecc"),
        F.lit(True).alias("changed"),
    )
    wave, rounds = _kbfs_wave(
        graph, init, graph.n,
        [(f"a{j}", _reg(F.col("mask"), j), F.max) for j in range(NREG)],
        _repack(
            [
                F.greatest(
                    _reg(F.col("mask"), j), F.coalesce(F.col(f"a{j}"), F.lit(0))
                )
                for j in range(NREG)
            ]
        ),
        on_superstep,
    )
    return wave.select("id", F.col("ecc").cast("long").alias("ecc")), rounds
