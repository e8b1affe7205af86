"""ACL personalized-PageRank push + sweep cut — semantics of
``/root/reference/apps/localAlg/ACL-Sync-Local.C:79-128`` (the
synchronous batch variant — the one whose update schedule a bulk
engine can reproduce exactly) and ``apps/localAlg/sweep.h:66-110``.

The reference runs ONE seed per invocation over a serial sparse-set;
the Spark-first form batches MANY seeds through one physical pass —
state is a sparse (seed, id, p, r) table, the per-round frontier is
``r > deg·ε`` per (seed, id), and every seed's push travels in the
same single ``groupBy(seed, dst)`` shuffle (``edge_map`` with
``group_frontier_cols=("seed",)``).  That matters in a training-data
pipeline: seed-propagated quality/trust scores are computed for
thousands of seeds at once, not one BFS-shaped run per seed.

Per round (exactly ACL-Sync-Local's schedule):
  frontier  F = {(s, v) : r(v) > deg(v)·ε}
  local     p(v) += α·r_old(v); r(v) = r_old(v)·(1−α)/2   for v ∈ F
  push      r(w) += Σ_{v ∈ F, v→w} (1−α)/2 · r_old(v)/deg(v)
(pushes read the PRE-update residual — ``ACL_F`` captures old ``r``
while ``Local_Update`` writes ``new_r``).

Sweep cut (``sweep.h:66-110``): order touched vertices by p/deg
descending (ties pinned to ascending id — the reference's sampleSort
leaves ties unspecified), then over prefixes S_k track
vol(S_k) = Σ deg and edgesCrossing(k) = #directed edges u→w with
pos(u) ≤ k < pos(w) (the incremental ±1 counter telescopes to
exactly this); conductance = crossing / min(vol, m − vol), 1.0 when
crossing or the denominator is 0; the best prefix is the FIRST one
attaining the minimum (strict ``<`` keeps the earliest).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..engine import IterState, edge_map, static_build_side

__all__ = ["ppr", "ppr_sweep"]


def ppr(
    graph,
    seeds,
    alpha: float = 0.15,
    epsilon: float = 1e-9,
    max_iters: int = 10000,
    on_superstep=None,
) -> tuple[DataFrame, int]:
    """Batched multi-seed ACL push: returns ((seed, id, p, r) for all
    TOUCHED pairs, rounds run).  Rows with p > 0 are the vertices
    that ever entered the seed's frontier — the reference's
    ``p.entries()`` key set.  Seeds must have out-degree > 0 (the
    reference rejects degree-0 starts, ``ACL-Sync-Local.C:85-88``);
    on the symmetric graphs conductance is defined over, every pushed
    vertex then has degree > 0 too."""
    spark = graph.edges.sparkSession
    deg = graph.out_degrees.select(
        "id", F.col("outdeg").cast("long").alias("deg")
    )
    # the per-round merge needs degrees for newly-touched rows
    deg_build = static_build_side(deg, graph.n)
    seeds_df = spark.createDataFrame(
        [(int(s),) for s in seeds], "seed long"
    )
    init = (
        seeds_df.join(deg, seeds_df["seed"] == deg["id"])
        .filter(F.col("deg") > 0)  # reference rejects degree-0 starts
        .select(
            "seed",
            F.col("seed").alias("id"),
            F.lit(0.0).alias("p"),
            F.lit(1.0).alias("r"),
            "deg",
        )
    )
    oma2 = (1.0 - alpha) / 2.0
    st = IterState(init, num_partitions=graph.num_partitions)
    rounds = 0
    # deg > 0 is vacuous on the symmetric graphs the reference
    # targets (every touched vertex has an edge); it keeps
    # directed-graph use terminating (a degree-0 sink would stay
    # active forever under the raw r > deg·ε test) and the push
    # division ANSI-safe
    is_front = (F.col("deg") > 0) & (F.col("r") > F.col("deg") * F.lit(epsilon))
    # the next round's frontier size rides along with each advance's
    # materializing agg — ONE job per round, not a count + an advance
    count_both = lambda df: df.agg(  # noqa: E731
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(is_front, 1).otherwise(0)).alias("f"),
    ).collect()[0]
    # round 1's frontier is at most the seed set (r=1.0 on every
    # surviving seed), so len(seeds) serves as the sparse-path size
    # hint WITHOUT a driver-side pre-job; the exact size arrives with
    # round 1's advance.  A seed with deg ≥ 1/ε (never frontier-
    # eligible) costs one no-op round instead of zero — state
    # identical, and the contract already requires deg > 0 seeds.
    fsize = len({int(s) for s in seeds})
    while rounds < max_iters:
        if fsize == 0:
            break
        frontier = st.df.filter(is_front).select(
            "seed",
            "id",
            (F.lit(oma2) * F.col("r") / F.col("deg")).alias("push"),
        )
        rounds += 1
        msgs = edge_map(
            graph,
            frontier,
            message=F.col("push"),
            aggregate=F.sum,
            frontier_size=fsize,
            extra_frontier_cols=("seed", "push"),
            group_frontier_cols=("seed",),
        ).select("seed", "id", F.col("agg").alias("pu"))
        # local update (frontier rows) + push merge; newly-touched rows
        # enter with p = 0.  One full-outer join on (seed, id) — the
        # same co-partitioned shape as the state itself.
        local = st.df.select(
            "seed",
            "id",
            F.when(is_front, F.col("p") + F.lit(alpha) * F.col("r"))
            .otherwise(F.col("p"))
            .alias("p"),
            F.when(is_front, F.col("r") * F.lit(oma2))
            .otherwise(F.col("r"))
            .alias("r"),
        )
        merged = (
            local.join(msgs.hint("shuffle_hash"), ["seed", "id"], "full_outer")
            .select(
                "seed",
                "id",
                F.coalesce("p", F.lit(0.0)).alias("p"),
                (
                    F.coalesce("r", F.lit(0.0))
                    + F.coalesce("pu", F.lit(0.0))
                ).alias("r"),
            )
            .join(deg_build, "id", "left")
            .select(
                "seed", "id", "p", "r", F.coalesce("deg", F.lit(0)).alias("deg")
            )
        )
        _, counts = st.advance(merged, action=count_both)
        if on_superstep:
            on_superstep(rounds, {"frontier": fsize})
        fsize = int(counts["f"] or 0)
    return st.df.select("seed", "id", "p", "r"), rounds


def ppr_sweep(
    graph, ppr_state: DataFrame, ratio_round: int | None = 12
) -> DataFrame:
    """Per-seed sweep cut over the ACL output (``sweep.h:66-110``):
    returns one row per seed — (seed, size_s, vol_s, edges_crossing,
    conductance).

    ``ratio_round``: the p/deg ordering key is rounded to this many
    decimals before sorting so mathematically-equal ratios that
    differ only in floating summation order rank identically across
    engines (ties then pin to ascending id); None keeps raw doubles.

    Plan shape: one window per seed for positions, one edges ⋈
    positions join producing ±1 deltas (an edge crosses prefix k iff
    pos(u) ≤ k < pos(w), so it contributes +1 at pos(u) and −1 at
    pos(w) — the interval form of the reference's incremental
    counter), one running-sum window, one min-window.  No per-prefix
    recount: O(touched + edges-touched) like the serial sweep."""
    deg = graph.out_degrees.select(
        "id", F.col("outdeg").cast("long").alias("deg")
    )
    touched = (
        ppr_state.filter(F.col("p") > 0)
        .join(deg, "id", "left")
        .select(
            "seed", "id", "p", F.coalesce("deg", F.lit(0)).alias("deg")
        )
    )
    ratio = F.col("p") / F.col("deg")
    if ratio_round is not None:
        ratio = F.round(ratio, ratio_round)
    pos_w = Window.partitionBy("seed").orderBy(
        ratio.desc(), F.col("id").asc()
    )
    pos = touched.select(
        "seed", "id", "deg", F.row_number().over(pos_w).alias("pos")
    ).localCheckpoint(eager=False)

    e = graph.edges.select("src", "dst")
    pu = pos.select(
        "seed", F.col("id").alias("src"), F.col("pos").alias("pos_u")
    )
    pw = pos.select(
        "seed", F.col("id").alias("dst"), F.col("pos").alias("pos_w")
    )
    deltas = (
        e.join(pu, "src")
        .join(pw, ["seed", "dst"], "left")
        .select(
            "seed",
            F.col("pos_u").alias("pos"),
            F.when(
                F.col("pos_w").isNull() | (F.col("pos_w") > F.col("pos_u")),
                F.lit(1),
            )
            .otherwise(F.lit(-1))
            .alias("delta"),
        )
        .groupBy("seed", "pos")
        .agg(F.sum("delta").alias("d"))
    )
    run_w = (
        Window.partitionBy("seed")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    m = graph.m
    prefix = (
        pos.join(deltas.hint("shuffle_hash"), ["seed", "pos"], "left")
        .select(
            "seed",
            "pos",
            F.sum(F.coalesce("d", F.lit(0))).over(run_w).alias("crossing"),
            F.sum("deg").over(run_w).alias("vol_s"),
        )
        .select(
            "seed",
            "pos",
            "crossing",
            "vol_s",
            F.least(F.col("vol_s"), F.lit(m) - F.col("vol_s")).alias("denom"),
        )
        .select(
            "seed",
            "pos",
            "crossing",
            "vol_s",
            F.when(
                (F.col("crossing") == 0) | (F.col("denom") <= 0), F.lit(1.0)
            )
            .otherwise(
                F.col("crossing").cast("double") / F.col("denom").cast("double")
            )
            .alias("conductance"),
        )
    )
    best_w = Window.partitionBy("seed").orderBy(
        F.col("conductance").asc(), F.col("pos").asc()
    )
    return (
        prefix.select(
            "*", F.row_number().over(best_w).alias("_rk")
        )
        .filter(F.col("_rk") == 1)
        .select(
            "seed",
            F.col("pos").alias("size_s"),
            "vol_s",
            F.col("crossing").alias("edges_crossing"),
            "conductance",
        )
    )
