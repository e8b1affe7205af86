"""TrustRank — PageRank with the teleport vector restricted to a
trusted seed set (Gyöngyi, Garcia-Molina, Pedersen, VLDB 2004): the
canonical seed-propagated quality score of a web corpus, and the
teleport-personalized generalization of ``apps.pagerank``.

    t = (1 − d)·v + d·Tᵀt        v(i) = 1/|S| for i ∈ S, else 0

Same reference quirks as ``apps.pagerank`` (PageRank.C:69-100), so
the two stay comparable term-for-term: NO dangling-mass
redistribution (outdeg-0 mass is lost), duplicate edges count double,
L1 stop, damping 0.85.  t0 = v (all mass starts on the seeds — the
standard TrustRank initialization; with d < 1 the fixpoint is
start-independent anyway).

Runs pagerank's power-iteration loop (``apps.pagerank._power_iteration``),
so the physical plan per superstep is pagerank's ONE-shuffle shape.
This module supplies the seed-restricted start and the teleport term:
a per-vertex ``tele`` column built ONCE into the state (seed join at
init, carried unchanged), so the superstep adds zero joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .pagerank import _power_iteration

__all__ = ["trustrank"]


def trustrank(
    graph,
    seeds,
    max_iters: int = 100,
    damping: float = 0.85,
    epsilon: float = 1e-7,
    checkpoint_mgr=None,
    checkpoint_every: int = 4,
    resume: bool = False,
    name: str = "trustrank",
    on_superstep=None,
) -> tuple[DataFrame, int]:
    """Returns ((id, trust) DataFrame, supersteps run).  ``seeds`` is
    an iterable of trusted vertex ids (the oracle-selected good pages
    of the reference formulation); duplicates are deduped."""
    spark = graph.edges.sparkSession
    sset = sorted({int(s) for s in seeds})
    if not sset:
        raise ValueError("trustrank requires a non-empty seed set")
    v0 = 1.0 / len(sset)
    seeds_df = spark.createDataFrame([(s,) for s in sset], "id long")

    def fresh():
        seeded = F.col("_s").isNotNull()
        return graph.out_degrees.join(
            F.broadcast(seeds_df.withColumn("_s", F.lit(1))), "id", "left"
        ).select(
            "id",
            "outdeg",
            F.when(seeded, F.lit((1.0 - damping) * v0))
            .otherwise(F.lit(0.0))
            .alias("tele"),
            F.when(seeded, F.lit(v0)).otherwise(F.lit(0.0)).alias("trust"),
        )

    return _power_iteration(
        graph, fresh, "outdeg", "trust", F.col("share"), F.col("tele"),
        carry=("tele",),
        max_iters=max_iters, damping=damping, epsilon=epsilon,
        checkpoint_mgr=checkpoint_mgr, checkpoint_every=checkpoint_every,
        resume=resume, name=name, on_superstep=on_superstep,
    )
