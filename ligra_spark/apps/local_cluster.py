"""Nibble and HeatKernel local clustering as batched multi-seed apps —
semantics of ``/root/reference/apps/localAlg/Nibble-Serial.C:40-73``
(the Spielman–Teng truncated lazy random walk; the serial and parallel
variants share one synchronous schedule) and
``/root/reference/apps/localAlg/HeatKernel-Parallel.C:94-181`` (the
synchronous hk-relax of Kloster–Gleich — the parallel variant IS the
level-synchronous schedule a bulk engine reproduces exactly; the
serial queue variant relaxes in a different order but the same final
state only approximately, so we pin to the parallel one).

Like :mod:`.ppr` (ACL), the reference runs ONE seed per invocation
over a serial hash map; the Spark-first form batches many seeds
through one physical pass — state is a sparse (seed, id, mass) table
and every seed's push travels in the same single ``groupBy(seed,
dst)`` shuffle.  Both algorithms TRUNCATE: below-threshold residual
mass is dropped, so each round replaces an active seed's state rather
than merging into it — a seed whose frontier empties is frozen (its
rows pass through untouched), exactly the reference's per-seed loop
exit.

Nibble round (Nibble-Serial.C:56-72), frontier F = {v : q(v) > deg·ε}:
  q'(v)  = q(v)/2                      for v ∈ F   (self-retention)
  q'(w) += Σ_{v ∈ F, v→w} q(v)/(2·deg(v))          (push)
  rows of active seeds not reached by either term are DROPPED;
  runs T rounds or until every seed's frontier is empty.

HeatKernel level j (HeatKernel-Parallel.C:128-170), N Taylor terms,
ψ_k = Σ_{m=0}^{N−k−1} k!·t^m/(m+k)!, C = e^t·ε/(2N):
  x(v) += r(v)                          for v ∈ F_j
  if j+1 < N:   r'(w) = Σ_{v ∈ F_j, v→w} t/(j+1) · r(v)/deg(v)
                F_{j+1} = {w : r'(w) ≥ deg(w)·C/ψ_{j+1}}, per seed
                (old r is discarded wholesale — the truncation)
  else (last):  x(w) += Σ_{v ∈ F_j, v→w} r(v)/deg(v), stop.
  F_0 is the bare seed set (no threshold test, HK-Parallel.C:126).

The sweep cut over the resulting mass vector is shared with ACL
(:func:`.ppr.ppr_sweep` — ``sweep.h:66-110``).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..engine import IterState, edge_map, static_build_side

__all__ = [
    "nibble",
    "heat_kernel",
    "heat_kernel_psis",
    "heat_kernel_rand",
    "hk_walk_probs",
]


def nibble(
    graph,
    seeds,
    epsilon: float = 1e-9,
    max_rounds: int = 10,
    on_superstep=None,
) -> tuple[DataFrame, int]:
    """Batched multi-seed Nibble: returns ((seed, id, q) sparse walk
    state after ``max_rounds`` lazy steps — the reference's ``-T``,
    default 10 — or per-seed freeze, rounds actually run).  Seeds
    must have out-degree > 0 (``Nibble-Serial.C:43-46``)."""
    spark = graph.edges.sparkSession
    deg = graph.out_degrees.select(
        "id", F.col("outdeg").cast("long").alias("deg")
    )
    deg_build = static_build_side(deg, graph.n)
    seeds_df = spark.createDataFrame([(int(s),) for s in seeds], "seed long")
    init = (
        seeds_df.join(deg, seeds_df["seed"] == deg["id"])
        .filter(F.col("deg") > 0)
        .select(
            "seed", F.col("seed").alias("id"), F.lit(1.0).alias("q"), "deg"
        )
    )
    st = IterState(init, num_partitions=graph.num_partitions)
    rounds = 0
    is_front = (F.col("deg") > 0) & (F.col("q") > F.col("deg") * F.lit(epsilon))
    # next round's frontier size rides along with each advance's
    # materializing agg — one job per round instead of count + advance
    count_both = lambda df: df.agg(  # noqa: E731
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(is_front, 1).otherwise(0)).alias("f"),
    ).collect()[0]
    fsize = int(init.agg(F.sum(F.when(is_front, 1).otherwise(0))).collect()[0][0] or 0)
    while rounds < max_rounds:
        if fsize == 0:
            break
        frontier = st.df.filter(is_front).select(
            "seed", "id", "q", (F.col("q") / (2.0 * F.col("deg"))).alias("push")
        )
        rounds += 1
        pushes = edge_map(
            graph,
            frontier,
            message=F.col("push"),
            aggregate=F.sum,
            frontier_size=fsize,
            extra_frontier_cols=("seed", "push"),
            group_frontier_cols=("seed",),
        ).select("seed", "id", F.col("agg").alias("q"))
        # q' = self-retention ∪ pushes, summed; rows of ACTIVE seeds
        # absent from both are dropped (the truncation).  Seeds with no
        # frontier row this round keep their state verbatim — their q
        # can never re-cross the (constant) threshold, so they are
        # frozen exactly as the reference's per-seed loop exit.
        self_mass = frontier.select(
            "seed", "id", (F.col("q") / 2.0).alias("q")
        )
        active_seeds = frontier.select("seed").distinct()
        q_next = (
            self_mass.unionByName(pushes)
            .groupBy("seed", "id")
            .agg(F.sum("q").alias("q"))
        )
        frozen = st.df.select("seed", "id", "q").join(
            active_seeds, "seed", "left_anti"
        )
        merged = (
            q_next.unionByName(frozen)
            .join(deg_build, "id", "left")
            .select("seed", "id", "q", F.coalesce("deg", F.lit(0)).alias("deg"))
        )
        _, counts = st.advance(merged, action=count_both)
        if on_superstep:
            on_superstep(rounds, {"frontier": fsize})
        fsize = int(counts["f"] or 0)
    return st.df.select("seed", "id", "q"), rounds


def heat_kernel_psis(t: float, n_terms: int) -> list[float]:
    """ψ_k for k = 0..N−1 (``HeatKernel-Parallel.C:110-119``):
    ψ_k = Σ_{m=0}^{N−k−1} k!·t^m/(m+k)!."""
    fact = [1.0] * n_terms
    for k in range(1, n_terms):
        fact[k] = k * fact[k - 1]
    tm = [t ** m for m in range(n_terms)]
    return [
        sum(fact[k] * tm[m] / math.factorial(m + k) for m in range(n_terms - k))
        for k in range(n_terms)
    ]


def heat_kernel(
    graph,
    seeds,
    t: float = 3.0,
    epsilon: float = 1e-9,
    n_terms: int = 1,
    on_superstep=None,
) -> tuple[DataFrame, int]:
    """Batched multi-seed synchronous hk-relax: returns ((seed, id, x)
    for every vertex that absorbed heat mass, levels run).  ``t`` is
    the diffusion time (reference ``-t``, default 3), ``n_terms`` the
    Taylor truncation N (reference ``-N``, default 1), ``epsilon`` the
    residual tolerance (reference ``-e``).  Seeds must have
    out-degree > 0 (``HeatKernel-Parallel.C:97-100``)."""
    spark = graph.edges.sparkSession
    psis = heat_kernel_psis(t, n_terms)
    constant = math.exp(t) * epsilon / (2.0 * n_terms)
    deg = graph.out_degrees.select(
        "id", F.col("outdeg").cast("long").alias("deg")
    )
    deg_build = static_build_side(deg, graph.n)
    seeds_df = spark.createDataFrame([(int(s),) for s in seeds], "seed long")
    # F_0 = the seed set itself, untested (HK-Parallel.C:126); the
    # is_front flag marks frontier membership so frozen seeds' rows
    # ride along unmodified.
    init = (
        seeds_df.join(deg, seeds_df["seed"] == deg["id"])
        .filter(F.col("deg") > 0)
        .select(
            "seed",
            F.col("seed").alias("id"),
            F.lit(0.0).alias("x"),
            F.lit(1.0).alias("r"),
            F.lit(True).alias("is_front"),
            "deg",
        )
    )
    st = IterState(init, num_partitions=graph.num_partitions)
    # next level's frontier size rides along with each advance's
    # materializing agg — one job per level instead of count + advance
    count_both = lambda df: df.agg(  # noqa: E731
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("is_front"), 1).otherwise(0)).alias("f"),
    ).collect()[0]
    fsize = int(
        init.agg(F.sum(F.when(F.col("is_front"), 1).otherwise(0))).collect()[0][0] or 0
    )
    j = 0
    while j < n_terms:
        if fsize == 0:
            break
        frontier = st.df.filter("is_front").select(
            "seed", "id", "r", (F.col("r") / F.col("deg")).alias("unit_push")
        )
        last = j + 1 == n_terms
        factor = 1.0 if last else t / float(j + 1)
        pushes = edge_map(
            graph,
            frontier,
            message=F.lit(factor) * F.col("unit_push"),
            aggregate=F.sum,
            frontier_size=fsize,
            extra_frontier_cols=("seed", "unit_push"),
            group_frontier_cols=("seed",),
        ).select("seed", "id", F.col("agg").alias("pu"))
        active_seeds = frontier.select("seed").distinct()
        # x absorbs frontier residuals (Local_Update); on the last
        # level the push lands in x too and r is spent.
        absorbed = st.df.join(active_seeds, "seed", "left_semi").select(
            "seed",
            "id",
            (F.col("x") + F.when(F.col("is_front"), F.col("r")).otherwise(F.lit(0.0))).alias("x"),
        )
        if last:
            merged = (
                absorbed.join(pushes.hint("shuffle_hash"), ["seed", "id"], "full_outer")
                .select(
                    "seed",
                    "id",
                    (F.coalesce("x", F.lit(0.0)) + F.coalesce("pu", F.lit(0.0))).alias("x"),
                    F.lit(0.0).alias("r"),
                    F.lit(False).alias("is_front"),
                )
            )
        else:
            # r is REPLACED by the pushes (old residual truncated,
            # HK-Parallel.C:141-142); next frontier tests the new r
            # against deg·C/ψ_{j+1}.  r > 0 mirrors membership in the
            # reference's sparse r map (activeF scans r.entries(), so
            # zero-residual rows can never be frontier even when the
            # deg-0 threshold is 0).
            thresh = F.col("deg") * F.lit(constant / psis[j + 1])
            merged = (
                absorbed.join(pushes.hint("shuffle_hash"), ["seed", "id"], "full_outer")
                .select(
                    "seed",
                    "id",
                    F.coalesce("x", F.lit(0.0)).alias("x"),
                    F.coalesce("pu", F.lit(0.0)).alias("r"),
                )
                .join(deg_build, "id", "left")
                .select(
                    "seed",
                    "id",
                    "x",
                    "r",
                    F.coalesce("deg", F.lit(0)).alias("deg"),
                )
                .select(
                    "seed",
                    "id",
                    "x",
                    "r",
                    ((F.col("r") > 0) & (F.col("r") >= thresh)).alias("is_front"),
                    "deg",
                )
            )
        frozen = st.df.join(active_seeds, "seed", "left_anti")
        if last:
            merged = merged.join(deg_build, "id", "left").select(
                "seed", "id", "x", "r", "is_front",
                F.coalesce("deg", F.lit(0)).alias("deg"),
            )
        merged = merged.unionByName(
            frozen.select("seed", "id", "x", "r", "is_front", "deg")
        ).filter((F.col("x") != 0.0) | (F.col("r") != 0.0))
        _, counts = st.advance(merged, action=count_both)
        j += 1
        if on_superstep:
            on_superstep(j, {"frontier": fsize})
        fsize = int(counts["f"] or 0)
        if last:
            break
    return (
        st.df.filter(F.col("x") > 0).select("seed", "id", "x"),
        j,
    )


def hk_walk_probs(t: float, k_max: int) -> list[float]:
    """Truncated-Poisson walk-length pmf probs[k] = e^{−t}·t^k/k! for
    k = 0..K−1 (``HeatKernel-Randomized-Serial.C:63-67``)."""
    return [
        math.exp(-t) * t ** k / math.factorial(k) for k in range(k_max)
    ]


def heat_kernel_rand(
    graph,
    seeds,
    t: float = 3.0,
    k_max: int = 10,
    n_walks: int = 10,
    seed: int = 1,
) -> tuple[DataFrame, int]:
    """rand-HK-PR (Chung–Simpson, IWOCA 2014) as a batched multi-seed
    Monte-Carlo app — semantics of
    ``/root/reference/apps/localAlg/HeatKernel-Randomized-Serial.C:
    47-88``: per seed vertex, ``n_walks`` lazy walks whose length is
    drawn from the truncated Poisson(t) pmf (reference ``-K``/``-N``/
    ``-t``), each step moving to the ``hashInt % deg``-th neighbor;
    the result is the empirical distribution of walk endpoints.

    Returns ((seed, id, p) with p = endpoint count / n_walks, steps =
    the number of superstep joins run, ≤ k_max).

    Two deliberate, pinned deviations from the reference's serial
    draw order, both distribution-preserving:

    * The reference consumes one global ``hashInt(seed++)`` counter,
      so walk i's draws depend on how many steps walks 0..i−1 took —
      inherently serial.  We use a counter-based stream instead:
      walk w of seed s draws its length threshold from
      ``hashInt(ctr(s,w,0))`` and its step-j neighbor pick from
      ``hashInt(ctr(s,w,j))`` with ``ctr(s,w,j) = (s·n_walks + w)·
      (k_max+1) + j + seed`` (uint32 wraparound) — every draw is
      independent of scheduling, so the walk table can be advanced as
      one bulk join per step and the DuckDB oracle can inline the
      identical hash values as literals.
    * The reference's do-while reads ``probs[K]`` out of bounds when a
      walk survives all K pmf terms (UB); we cap such walks at exactly
      ``k_max`` steps.  Neighbor index = rank by ascending dst (the
      reference uses CSR file order; any fixed order is the same
      uniform pick).

    Scale shape: the walk table is |seeds|·n_walks rows — microscopic
    next to the edges — so each step is one broadcast-hash join of the
    walks against the indexed adjacency (edges stay cached and
    partitioned; only walk rows move).  A walk that lands on an
    out-degree-0 vertex freezes there (the reference would UB on
    ``% 0``; its own guard only covers the start vertex).
    """
    from ..hashing import with_hash_int32

    spark = graph.edges.sparkSession
    probs = hk_walk_probs(t, k_max)
    deg = graph.out_degrees.select(
        "id", F.col("outdeg").cast("long").alias("deg")
    )
    # Neighbor indexing: idx = rank of dst among src's out-neighbors.
    # The window runs over the already-src-partitioned cached edges —
    # sort-only, no shuffle — and is persisted once so the K step
    # joins reuse it; its hashpartitioning(src) satisfies the join's
    # ClusteredDistribution([src, idx]), so only walk rows ever move.
    from pyspark.sql import Window
    from pyspark.storagelevel import StorageLevel

    eidx = graph.edges.select(
        "src",
        "dst",
        (
            F.row_number().over(Window.partitionBy("src").orderBy("dst")) - 1
        ).alias("idx"),
    ).persist(StorageLevel.MEMORY_AND_DISK)

    stride = k_max + 1
    walks = (
        spark.createDataFrame([(int(s),) for s in seeds], "seed long")
        .join(deg, F.col("seed") == F.col("id"))
        .filter(F.col("deg") > 0)
        .select("seed")
        .crossJoin(
            spark.range(n_walks).select(F.col("id").alias("walk"))
        )
        .withColumn(
            "ctr0",
            (F.col("seed") * n_walks + F.col("walk")) * stride + F.lit(seed),
        )
    )
    walks = with_hash_int32(walks, F.col("ctr0"), out="h0")
    # u ∈ [0, 1]: hashInt(seed)/UINT_E_MAX (reference :71); the walk
    # takes its j-th step iff u ≥ CDF(j−1).
    walks = walks.select(
        "seed",
        "walk",
        F.col("seed").alias("x"),
        (F.col("h0") / F.lit(4294967295.0)).alias("u"),
    )

    st = IterState(walks, num_partitions=graph.num_partitions)
    steps = 0
    cdf = 0.0
    # live-walk count for step j+1 rides along with step j's advance
    # (threshold cdf_{j+1} is known at advance time) — one job per
    # step instead of an isEmpty probe plus the advance
    n_live = int(
        walks.agg(
            F.sum(F.when(F.col("u") >= F.lit(probs[0]), 1).otherwise(0))
        ).collect()[0][0]
        or 0
    )
    for j in range(k_max):
        cdf += probs[j]
        if n_live == 0:
            break
        live = st.df.filter(F.col("u") >= F.lit(cdf))
        steps += 1
        stepping = with_hash_int32(
            live.withColumn(
                "ctrj",
                (F.col("seed") * n_walks + F.col("walk")) * stride
                + F.lit(j + 1)
                + F.lit(seed),
            ),
            F.col("ctrj"),
            out="hj",
        ).join(deg.hint("shuffle_hash"), F.col("x") == F.col("id"), "left")
        moved = (
            stepping.withColumn(
                # ANSI-safe: pmod(_, 0) would throw; deg-0 rows take
                # the freeze path via the null idx
                "idx",
                F.when(F.col("deg") > 0, F.pmod(F.col("hj"), F.col("deg"))),
            )
            .alias("w")
            .join(
                eidx.alias("e"),
                (F.col("w.x") == F.col("e.src"))
                & (F.col("w.idx") == F.col("e.idx")),
                "left",
            )
            .select(
                "w.seed",
                "w.walk",
                # deg-0 landing (null idx / no edge row) freezes the walk
                F.coalesce("e.dst", F.col("w.x")).alias("x"),
                "w.u",
            )
        )
        done = st.df.filter(F.col("u") < F.lit(cdf))
        cdf_next = cdf + probs[j + 1] if j + 1 < k_max else float("inf")
        _, counts = st.advance(
            moved.unionByName(done),
            action=lambda df, t=cdf_next: df.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.when(F.col("u") >= F.lit(t), 1).otherwise(0)).alias("f"),
            ).collect()[0],
        )
        n_live = int(counts["f"] or 0)
    p = (
        st.df.groupBy("seed", F.col("x").alias("id"))
        .agg((F.count("*") / F.lit(float(n_walks))).alias("p"))
    )
    rows = p.persist()
    rows.count()
    eidx.unpersist()
    return rows, steps
