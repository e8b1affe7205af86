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
(OR has no carries, so per-word OR == packed OR), so the app runs the
kBFS bitmask wave (``apps.ecc._kbfs_wave``) under the same ``bit_or``
join as radii, with every vertex seeded and in the first frontier;
this module supplies only the init masks.  They come from the
bit-exact ``hashing.hash_int32`` port inside an Arrow-batched pandas
UDF — no driver-side n-row generation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .ecc import _kbfs_wave, _or_join

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
    init = graph.vertices.select(
        "id",
        fm_mask_udf(length, seed)(F.col("id")).alias("mask"),
        F.lit(0).cast("int").alias("ecc"),
        F.lit(True).alias("changed"),
    )
    wave, rounds = _kbfs_wave(graph, init, graph.n, *_or_join(), on_superstep)
    return wave.select("id", F.col("ecc").cast("long").alias("ecc")), rounds
