"""Multi-source radii estimation — semantics of
``/root/reference/apps/Radii.C:72-99``: min(n,64) sample sources
``v_i = hashInt(i) % n`` (the reference's exact hash,
``ligra_spark.hashing``), 64-bit visited masks propagated with
bitwise-OR (``writeOr`` → ``bit_or`` monoid), ``radii[d]`` = last
round d's mask grew.  Where the reference's init races on duplicate
samples (``Radii.C:84-89`` last-writer), we OR the bits — the
deterministic superset, matched by the numpy oracle.

Runs the kBFS bitmask wave (``apps.ecc._kbfs_wave`` under writeOr);
this module supplies only the hashed seed masks.  The reference's
Visited/NextVisited double buffer is not needed: at the start of every
round a vertex outside the frontier already has Visited == NextVisited
and a frontier vertex has just copied NextVisited into Visited, so one
mask column per vertex carries the same state.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..hashing import hash_int32
from .ecc import _or_wave, _source_masks

__all__ = ["radii"]


def radii(
    graph,
    k: int = 64,
    on_superstep=None,
) -> tuple[DataFrame, int]:
    """Returns ((id, radii) over all n vertices, rounds run)."""
    starts, n_sources = _source_masks(
        graph.spark,
        [int(hash_int32(np.uint32(i))) % graph.n for i in range(min(graph.n, k))],
    )
    wave, rounds = _or_wave(graph, starts, n_sources, on_superstep)
    return (
        wave.select("id", F.coalesce("ecc", F.lit(-1)).cast("long").alias("radii")),
        rounds,
    )
