"""Harmonic centrality from sampled sources — the web-ranking
centrality H(v) = Σ_{u≠v} 1/d(u,v) (Boldi-Vigna, "Axioms for
Centrality", 2014 — their recommended replacement for closeness on
disconnected web graphs, since unreachable pairs contribute 0 instead
of breaking the mean).

Same 64-wave bitmask machinery as the eccentricity suite
(``apps/ecc.py``, reference ``apps/eccentricity/kBFS-Ecc.C``): K ≤ 64
simultaneous BFS waves propagate as a 64-bit visited mask under the
``bit_or`` monoid — one groupBy(dst) shuffle + one co-partitioned
state join per superstep.  Where kBFS-Ecc keeps the LAST round a
vertex's mask grew, harmonic keeps the running sum of
``popcount(newly_set_bits) / round`` — each source that first reaches
v at distance r contributes 1/r.

EXACT integer accumulation (the engine-portability trick): the state
carries ``hnum = Σ_r popcount_r · (L / r)`` with L = lcm(1..max_rounds)
— every per-round increment is an exact integer (L is divisible by
every round number), so the final ``hnum / L`` is ONE IEEE division of
exactly-representable integers and the result is bit-identical in any
engine, unlike a float Σ 1/r whose value depends on addition order.
hnum can reach 64·L (all 64 sources adjacent to one vertex at
distance 1), so the guard requires 64·L < 2^53 — keeping hnum inside
BOTH the long range and double's exact-integer range; max_rounds ≤ 31
satisfies it (lcm(1..31) ≈ 7.2e13, 64·L ≈ 4.6e15 < 2^53).

With the full vertex set as sources this is EXACT harmonic centrality;
with a hash sample of K sources, (n/K)·H_K(v) is the standard unbiased
estimator (Eppstein-Wang sampling argument applied to the harmonic
sum).  Sampling here is the caller's choice — the driver entry uses
explicit sources 0..15 so the oracle is a deterministic CTE.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..engine import IterState, edge_map, msgs_join_side
from .ecc import _signed64

__all__ = ["harmonic_from_sources"]


def harmonic_from_sources(
    graph,
    sources: list[int],
    max_rounds: int = 24,
    on_superstep=None,
) -> tuple[DataFrame, int]:
    """Returns ((id, harmonic, closeness, n_reached, dist_sum) for ALL
    n vertices — zeros where no source reaches, rounds).
    ``harmonic(v) = Σ_{s ∈ sources, s ≠ v} 1/d(s,v)`` over reachable
    sources and ``closeness(v) = n_reached / Σ d(s,v)`` (the classic
    sampled closeness, well-defined on disconnected graphs because
    unreachable sources simply don't contribute), both exact (see
    module docstring for the integer-scaled accumulation).

    ``max_rounds`` bounds the supported BFS depth (64·lcm(1..max_rounds)
    must stay inside double's 2^53 exact-integer range — the hnum
    accumulator can reach 64·L; 24 covers any crawl-shaped graph —
    raise it for high-diameter meshes, up to 31 before the bound trips).
    """
    # dedupe FIRST: unlike ecc (max over waves — insensitive), harmonic
    # SUMS per-bit contributions, so a repeated source id must own one
    # bit, not two
    uniq = list(dict.fromkeys(int(v) for v in sources))
    if len(uniq) > 64:
        raise ValueError("at most 64 simultaneous BFS waves (64-bit masks)")
    scale = math.lcm(*range(1, max_rounds + 1))
    # hnum can reach 64*scale (64 sources all at distance 1 from one
    # vertex); keep that inside 2^53 so the integer accumulation stays
    # exact in a double too, not just in the long
    if 64 * scale >= 1 << 53:
        raise ValueError(
            f"64*lcm(1..{max_rounds}) exceeds 2^53 — the hnum accumulator "
            "would lose exactness (max supported max_rounds is 31)"
        )
    spark = graph.spark
    bits: dict[int, int] = {v: _signed64(1 << i) for i, v in enumerate(uniq)}
    starts = spark.createDataFrame(
        [(v, b) for v, b in bits.items()], "id long, init_mask long"
    )
    init = graph.vertices.join(F.broadcast(starts), "id", "left").select(
        "id",
        F.coalesce("init_mask", F.lit(0)).cast("long").alias("mask"),
        F.lit(0).cast("long").alias("hnum"),
        F.lit(0).cast("long").alias("snum"),
        F.lit(0).cast("long").alias("rcount"),
        F.col("init_mask").isNotNull().alias("changed"),
    )
    st = IterState(init, num_partitions=graph.num_partitions)
    rounds, fsize = 0, len(bits)
    while fsize > 0:
        rounds += 1
        if rounds > max_rounds:
            raise ValueError(
                f"BFS exceeded max_rounds={max_rounds}; raise it "
                "(exactness is preserved for any max_rounds <= 31)"
            )
        frontier = st.df.filter("changed").select("id", "mask")
        msgs = edge_map(
            graph,
            frontier,
            message=F.col("mask"),
            aggregate=F.bit_or,
            frontier_size=fsize,
            extra_frontier_cols=("mask",),
        )
        newly = F.col("new_mask").bitwiseAND(F.bitwise_not(F.col("mask")))
        pc = F.bit_count(newly).cast("long")
        new = (
            st.df.join(msgs_join_side(msgs, fsize, graph.n), "id", "left")
            .select(
                "id",
                F.col("mask")
                .bitwiseOR(F.coalesce("agg", F.lit(0)))
                .alias("new_mask"),
                "mask",
                "hnum",
                "snum",
                "rcount",
            )
            .select(
                "id",
                F.col("new_mask").alias("mask"),
                (F.col("hnum") + pc * F.lit(scale // rounds)).alias("hnum"),
                # closeness companions, both exact integers: total
                # distance mass and number of reaching sources
                (F.col("snum") + pc * F.lit(rounds)).alias("snum"),
                (F.col("rcount") + pc).alias("rcount"),
                (F.col("new_mask") != F.col("mask")).alias("changed"),
            )
        )
        new, (fsize,) = st.advance(new, F.count_if("changed"))
        if on_superstep:
            on_superstep(rounds, {"frontier": fsize})
    out = st.df.select(
        "id",
        (F.col("hnum").cast("double") / F.lit(float(scale))).alias("harmonic"),
        # classic sampled closeness: sources-reaching / total distance
        # (0.0 where nothing reaches) — again ONE division of exact ints
        F.when(
            F.col("snum") > 0,
            F.col("rcount").cast("double") / F.col("snum").cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("closeness"),
        F.col("rcount").cast("int").alias("n_reached"),
        F.col("snum").alias("dist_sum"),
    )
    return out, rounds
