"""Takes-Kosters exact eccentricity with bound pruning — semantics of
``/root/reference/apps/eccentricity/TK.C:74-206``:

per connected component (size-1 → ecc 0, size-2 → ecc 1; larger run
the bound loop): every vertex starts with lower = 0, upper = ∞; each
iteration picks one candidate w — argmax upper on odd iterations,
argmin lower on even (``TK.C:152-155``; the reference's
``sequence::reduce`` tie-break resolves to the RIGHTMOST tied element
of the order-preserving active list W, which stays in ascending-id
order, so ties go to the LARGEST id) — BFSes from it, sets
ecc(w) = max distance, and for every active v updates
lower = max(lower, ecc_w - d(v), d(v)) and upper = min(upper,
ecc_w + d(v)); v finishes when lower == upper (``TK.C:170-178``).

Spark-first parallelization: the reference loops components
sequentially; here ALL components advance together — one candidate
per component per iteration, a single combined multi-source BFS per
iteration (one source per component; waves cannot cross components,
so one shared distance column suffices and per-vertex results are
identical).  A component whose active set empties simply stops
contributing sources, and because no component ever pauses, the
per-component iteration parity matches the reference's local counter.

Per iteration: one candidate-selection window shuffle + the BFS's
one-shuffle-per-level supersteps + one co-partitioned bounds join.
The BFS is the shared level loop (``apps.bfs._level_bfs``); this
module supplies its sources — the candidates — and their count, so a
frontier of one vertex per component takes the sparse edge-map branch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..engine import IterState
from .bfs import _level_bfs, _source_levels

__all__ = ["ecc_tk"]

_INF = (1 << 31) - 1  # stand-in for the reference's UINT_E_MAX upper


def _cc_positions(graph) -> DataFrame:
    """(id, component, pos, csize): converged components + the
    ascending-id rank within each (the reference's stable CC order).
    Shared by the kBFS/Simple-Approx/RV/CLRSTV estimators — the rank
    tie-break here is what their pinned position-sampling resolves
    against, so there is exactly one copy."""
    from pyspark.sql import Window

    from .components import components as components_app

    labels, _ = components_app(graph)
    pos_w = Window.partitionBy("component").orderBy("id")
    return (
        labels.select(
            "id", "component", (F.row_number().over(pos_w) - 1).alias("pos")
        )
        .join(
            labels.groupBy("component").agg(F.count(F.lit(1)).alias("csize")),
            "component",
        )
        .localCheckpoint(eager=True)
    )


def ecc_tk(graph, on_superstep=None) -> tuple[DataFrame, int]:
    """Returns ((id, ecc) exact for all n vertices, TK iterations —
    the max over components of the reference's per-component count)."""
    from .components import components as components_app

    labels, _ = components_app(graph)
    sizes = labels.groupBy("component").agg(F.count(F.lit(1)).alias("csize"))
    init = (
        labels.join(sizes, "component")
        .select(
            "id",
            "component",
            "csize",
            F.lit(0).cast("int").alias("lower"),
            F.lit(_INF).cast("int").alias("upper"),
            F.when(F.col("csize") == 2, 1)
            .otherwise(0)
            .cast("int")
            .alias("ecc"),
            (F.col("csize") > 2).alias("active"),
        )
    )
    st = IterState(init, num_partitions=graph.num_partitions)
    n_active = st.df.filter("active").count()
    iters = 0
    while n_active > 0:
        iters += 1
        # candidate per component: odd iters argmax upper, even argmin
        # lower; ties to largest id (reference reduce order)
        order = (
            [F.desc("upper"), F.desc("id")]
            if iters % 2 == 1
            else [F.asc("lower"), F.desc("id")]
        )
        w = Window.partitionBy("component").orderBy(*order)
        # localCheckpoint is load-bearing here: it CUTS the logical
        # plan (the pick feeds the BFS init AND the bounds merge; a
        # mere persist leaves both re-embedding st.df's plan, which
        # compounds per TK iteration until the analyzer OOMs —
        # observed at 4 iterations on a 23-vertex test).  The
        # checkpointed RDD itself is freed by the ContextCleaner once
        # the loop rebinds `sources` and the driver GCs.
        sources = (
            st.df.filter("active")
            .withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") == 1)
            .select("id", "component")
            .localCheckpoint(eager=True)
        )
        # one source per active component (n_active > 0 ⇒ at least one)
        bfs_st, _, _ = _level_bfs(
            graph, _source_levels(graph, sources), sources.count()
        )
        levels = bfs_st.df.filter(F.col("level").isNotNull())
        # ecc of each component's candidate = max BFS level in it
        comp_ecc = (
            levels.join(st.df.select("id", "component"), "id")
            .groupBy("component")
            .agg(F.max("level").alias("ecc_w"))
        )
        joined = (
            st.df.join(levels.select("id", F.col("level").alias("d")), "id", "left")
            .join(comp_ecc, "component", "left")
        )
        upd = joined.select(
            "id",
            "component",
            "csize",
            F.when(
                F.col("active") & F.col("d").isNotNull(),
                F.greatest(
                    F.col("lower"), F.col("ecc_w") - F.col("d"), F.col("d")
                ),
            )
            .otherwise(F.col("lower"))
            .cast("int")
            .alias("lower"),
            F.when(
                F.col("active") & F.col("d").isNotNull(),
                F.least(F.col("upper"), F.col("ecc_w") + F.col("d")),
            )
            .otherwise(F.col("upper"))
            .cast("int")
            .alias("upper"),
            "ecc",
            "active",
        ).select(
            "id",
            "component",
            "csize",
            "lower",
            "upper",
            F.when(
                F.col("active") & (F.col("lower") == F.col("upper")),
                F.col("lower"),
            )
            .otherwise(F.col("ecc"))
            .cast("int")
            .alias("ecc"),
            (F.col("active") & (F.col("lower") != F.col("upper"))).alias(
                "active"
            ),
        )
        new, (n_active,) = st.advance(upd, F.count_if("active"))
        # the advanced state is materialized — this iteration's cached
        # BFS state is dead; free it now (TK runs up to n iterations,
        # so leaking one n-row cache per iteration is not an option)
        bfs_st.df.unpersist()
        if on_superstep:
            on_superstep(iters, {"active": n_active})
    return st.df.select("id", "ecc"), iters
