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

Physical plan per superstep: identical to pagerank's ONE-shuffle
shape — the only change is the constant term, which becomes a
per-vertex ``tele`` column built ONCE into the state (seed join at
init, never touched again), so the superstep adds zero joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..engine import IterState, edge_map, msgs_join_side

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
    it = 0
    if resume and checkpoint_mgr is not None and checkpoint_mgr.latest_step(name):
        it = checkpoint_mgr.latest_step(name)
        init_df = checkpoint_mgr.load(name, it, graph.num_partitions)
    else:
        init_df = (
            graph.out_degrees.join(F.broadcast(seeds_df.withColumn("_s", F.lit(1))), "id", "left")
            .select(
                "id",
                "outdeg",
                F.when(F.col("_s").isNotNull(), F.lit((1.0 - damping) * v0))
                .otherwise(F.lit(0.0))
                .alias("tele"),
                F.when(F.col("_s").isNotNull(), F.lit(v0))
                .otherwise(F.lit(0.0))
                .alias("trust"),
            )
        )
    st = IterState(
        init_df,
        num_partitions=graph.num_partitions,
        checkpoint_every=checkpoint_every,
        manager=checkpoint_mgr,
        name=name,
        superstep=it,
    )
    while it < max_iters:
        it += 1
        msgs = edge_map(
            graph,
            st.df.select("id", F.try_divide("trust", "outdeg").alias("share")),
            message=F.col("share"),
            aggregate=F.sum,
            extra_frontier_cols=("share",),
        )
        new = (
            st.df.select("id", "outdeg", "tele", F.col("trust").alias("old"))
            .join(msgs_join_side(msgs, None, graph.n), "id", "left")
            .select(
                "id",
                "outdeg",
                "tele",
                (
                    F.lit(damping) * F.coalesce("agg", F.lit(0.0)) + F.col("tele")
                ).alias("trust"),
                "old",
            )
        )
        new, (l1,) = st.advance(
            new.select("id", "outdeg", "tele", "trust", "old"),
            F.sum(F.abs(F.col("trust") - F.col("old"))).alias("l1"),
            metrics={"superstep": it},
        )
        if on_superstep:
            on_superstep(it, {"l1": l1})
        if l1 < epsilon:
            break
    return st.df.select("id", "trust"), it
