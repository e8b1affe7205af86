r"""Diameter-independent connected components: alternating
large-star / small-star contraction (Kiveris, Lattanzi, Mirrokni,
Rastogi, Vassilvitskii — "Connected Components in MapReduce and
Beyond", SoCC'14, the "two-phase" algorithm).

Why it exists next to ``apps.components``: min-label propagation
(``Components.C:52-68``) needs O(diameter) supersteps — fine on a
low-diameter web graph, pathological on long chains (a crawl frontier
of redirect chains, a road-network-shaped link subgraph).  Two-phase
contracts the PAIR SET itself and converges in O(log^2 n) rounds
regardless of diameter, with the edge multiset never growing — the
algorithm of record for trillion-edge MapReduce CC.  Both converge to
the same canonical labeling (component = min vertex id), so they share
one oracle.

State is an undirected pair table (u, v) with the invariant u > v
(each adjacency stored once, larger endpoint first).  One round:

  large-star(u): m = min(Γ(u) ∪ {u}); for every neighbor v > u emit
      (v, m)   — strictly-larger neighbors re-hang under u's minimum
  small-star(u): over the stored (u, v<u) pairs, m = min(S(u)); emit
      (u, m) and (v, m) for v ∈ S(u)\{m}
                — smaller neighbors and u itself re-hang under the min

At the fixpoint the pair set is a disjoint union of stars centered at
each component's minimum id; convergence is detected by the pair-set
signature (count + order-free hash) repeating.  Each phase is one
groupBy + one co-keyed join + a distinct — all hash-exchanges on the
same key, no driver-side state, no frontier.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..engine import IterState

__all__ = ["cc_two_phase", "two_phase_star_pairs"]


def _pair_signature() -> tuple:
    """Order-free fingerprint of the pair set (count + hash/field sums).
    Equal consecutive signatures ⇒ the star fixpoint was reached (the
    alternation provably converges to stars, SoCC'14 Thm 1)."""
    return (
        F.count(F.lit(1)).alias("cnt"),
        # decimal accumulator: a long sum of 2^63-range hashes overflows
        F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        F.sum(F.col("u").cast("decimal(38,0)")).alias("su"),
        F.sum(F.col("v").cast("decimal(38,0)")).alias("sv"),
    )


def two_phase_star_pairs(
    pairs: DataFrame,
    num_partitions: int,
    max_iters: int = 100,
    checkpoint_mgr=None,
    checkpoint_every: int = 1,
    resume: bool = False,
    name: str = "cc_two_phase",
    on_superstep=None,
) -> tuple[DataFrame, int]:
    """The pair-contraction core: run large-star/small-star alternation
    over an arbitrary (u, v) pair table (any long ids — dense vertex
    ids, sparse doc ids) to the star fixpoint.  Returns
    ((u, v) star pairs — v = min id of u's component, centers and
    isolated ids absent, rounds).

    ``checkpoint_every`` defaults to 1 (lineage cut EVERY round): one
    round's plan references the previous pair set ~24× (two unions, two
    self-keyed joins, two distincts), so cadence-4 truncation — fine for
    the linear edge_map apps — grows the logical plan ~24^4 here and
    chokes the analyzer.
    """
    p = num_partitions
    it = 0
    if resume and checkpoint_mgr is not None and checkpoint_mgr.latest_step(name):
        it = checkpoint_mgr.latest_step(name)
        pairs = checkpoint_mgr.load(name, it)
    else:
        pairs = (
            pairs.filter(F.col("u") != F.col("v"))
            .select(
                F.greatest("u", "v").alias("u"),
                F.least("u", "v").alias("v"),
            )
            .distinct()
            .repartition(p, "u")
        )
    st = IterState(
        pairs,
        num_partitions=p,
        checkpoint_every=checkpoint_every,
        manager=checkpoint_mgr,
        name=name,
        superstep=it,
    )
    prev_sig = None
    n_pairs = None
    while it < max_iters:
        it += 1
        cur = st.df
        # ---- large-star: strictly-larger neighbors hang under min(Γ(u) ∪ {u})
        nbr = cur.unionByName(
            cur.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        m = (
            nbr.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least("u", "mn").alias("m"))
        )
        ls = (
            nbr.join(m.hint("shuffle_hash"), "u")
            .filter(F.col("v") > F.col("u"))
            # m ≤ u < v, so the emitted pair keeps the larger-first invariant
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )
        # ---- small-star: stored pairs under u are exactly its smaller
        # neighbors; u and all of S(u)\{min} re-hang under the min
        m2 = ls.groupBy("u").agg(F.min("v").alias("m"))
        joined = ls.join(m2.hint("shuffle_hash"), "u")
        ss = (
            joined.select("u", F.col("m").alias("v"))
            .unionByName(
                joined.filter(F.col("v") != F.col("m")).select(
                    F.col("v").alias("u"), F.col("m").alias("v")
                )
            )
            .distinct()
        )
        _, sig = st.advance(
            ss, *_pair_signature(), metrics={"round": it, "pairs_in": n_pairs}
        )
        n_pairs = sig["cnt"]
        if on_superstep:
            on_superstep(it, {"pairs": n_pairs})
        if sig == prev_sig or n_pairs == 0:
            break
        prev_sig = sig
    return st.df, it


def cc_two_phase(
    graph,
    max_iters: int = 100,
    checkpoint_mgr=None,
    checkpoint_every: int = 1,
    resume: bool = False,
    name: str = "cc_two_phase",
    on_superstep=None,
) -> tuple[DataFrame, int]:
    """Large-star/small-star CC over a LinkGraph.  Returns
    ((id, component), rounds) — component = min vertex id, identical to
    ``components()`` output.  Works on directed or symmetric inputs
    (pairs are canonicalized internally); ``rounds`` counts full
    large+small alternations."""
    star, it = two_phase_star_pairs(
        graph.edges.select(F.col("src").alias("u"), F.col("dst").alias("v")),
        graph.num_partitions,
        max_iters=max_iters,
        checkpoint_mgr=checkpoint_mgr,
        checkpoint_every=checkpoint_every,
        resume=resume,
        name=name,
        on_superstep=on_superstep,
    )
    # fixpoint pairs are (member, component-min) stars; min-agg is a
    # no-op there but keeps the answer canonical even at max_iters cutoff
    stars = (
        star.groupBy("u")
        .agg(F.min("v").alias("component"))
        .withColumnRenamed("u", "id")
    )
    labels = (
        graph.vertices.join(stars.hint("shuffle_hash"), "id", "left")
        .select("id", F.coalesce("component", "id").alias("component"))
    )
    return labels, it
