"""RV and CLRSTV eccentricity estimators — semantics of
``/root/reference/apps/eccentricity/RV.C:148-330`` and
``CLRSTV.C:145-300``.  Both share one skeleton per component of size
> 2 (size-1 → 0, size-2 → 1):

1. sample positions i with ``hashInt(i + seed) %% size < sampleSize``
   (sampleSize = min(size, max(10, (size // s)·log2(size))), s =
   min(size, √(size·log2(size)))); fall back to the single position
   ``hashInt(seed) %% size`` when the filter picks nothing; cap at the
   global maxSampleSize keeping the lowest positions.  BFS from every
   sample (exact ecc for samples).
2. w = the member with the greatest min-distance to the sample set
   (ties → largest id, the reference's rightmost reduce); BFS from w
   (exact ecc for w); Ngh = the first nghSize = min(size, max(10, s))
   vertices in BFS order from w.  The reference fills Ngh from the
   raw frontier arrays and FLAGS the order nondeterministic
   (``RV.C:248-250``); pinned here as ascending (level, id) — the
   first nghSize of that global order.
3. BFS from every Ngh vertex (exact ecc for them).
4. every remaining vertex combines the sample/w/Ngh distances into an
   estimate — CLRSTV takes max(d, ecc_src − d) over ALL of them;
   RV takes max(max-sample-dist, d_w) and then consults only vt, the
   Ngh vertex recorded as "closest on the BFS path from w" (the
   reference CAS-races which parent's index propagates,
   ``RV.C:61-64``; pinned here as the MIN index over parents), using
   ecc(vt) when d(vt, v) <= d(vt, w) and the min sample ecc otherwise.

All components advance simultaneously (waves cannot cross
components); per-source distances are carried as (sample, id, level)
pair tables — the distributed twin of the reference's
maxSampleSize × n distance matrix (``RV.C:258-261`` allocates exactly
that), so memory is O(samples · component size) by design of the
algorithm, not an artifact of the port.  The w-BFS runs the shared
level BFS (``apps.bfs._level_bfs``); the per-sample pair BFS and the
Ngh-index propagation are ``edge_map`` passes with their known
frontier sizes.

The reference seeds with rand()/time() — inherently nondeterministic —
so ``seed`` is pinned as a parameter, like ``apps.radii``.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..engine import edge_map
from .bfs import _level_bfs, _source_levels
from .ecc_tk import _cc_positions

__all__ = ["ecc_clrstv", "ecc_rv"]


def _params(csize: int) -> tuple[int, int, int]:
    """(s, sampleSize, nghSize) — RV.C:157-159 / 230, CLRSTV.C:151-153
    / 229, with the C integer/double mixing replicated (uintE division
    before the double multiply)."""
    s = min(csize, int(math.sqrt(csize * math.log2(csize))))
    sample = min(csize, max(10, int((csize // s) * math.log2(csize))))
    ngh = min(csize, max(10, s))
    return s, sample, ngh


def _max_sample_size(n: int) -> int:
    """Global sample cap (RV.C:255-256)."""
    max_s = min(n, int(math.sqrt(n * math.log2(n))))
    return max(10, max(int((n // max_s) * math.log2(n)), max_s))


def _sample_sources(
    graph, pos: DataFrame, seed: int, sizes: list[int]
) -> DataFrame:
    """Phase-1 samples: (id, component).  ``sizes`` = the distinct
    size>2 component sizes (collected ONCE by ``_scaffold`` — bounded
    by the number of DISTINCT sizes, not components) so the C float
    expressions evaluate with python doubles."""
    import numpy as np

    from ..hashing import hash_int32, with_hash_int32

    spark = graph.spark
    params = spark.createDataFrame(
        [(c, _params(c)[1]) for c in sizes], "csize long, ssize long"
    )
    cand = with_hash_int32(
        pos.filter(F.col("csize") > 2), F.col("pos") + F.lit(seed), "h"
    )
    sampled = cand.join(F.broadcast(params), "csize").filter(
        F.pmod(F.col("h"), F.col("csize")) < F.col("ssize")
    )
    cap_w = Window.partitionBy("component").orderBy("pos")
    sampled = (
        sampled.withColumn("_rk", F.row_number().over(cap_w))
        .filter(F.col("_rk") <= _max_sample_size(graph.n))
        .select("id", "component")
    )
    # empty-sample fallback: hashInt(seed) % size (RV.C:170)
    h0 = int(hash_int32(np.uint32(seed)))
    missing = (
        pos.filter(F.col("csize") > 2)
        .select("component", "csize")
        .distinct()
        .join(sampled.select("component").distinct(), "component", "left_anti")
        .select("component", F.pmod(F.lit(h0), F.col("csize")).alias("pos"))
    )
    fallback = missing.join(pos, ["component", "pos"]).select("id", "component")
    return sampled.unionByName(fallback).localCheckpoint(eager=True)


def _pair_bfs(graph, sources: DataFrame) -> tuple[DataFrame, int]:
    """Per-source BFS distances: sources (sample, id) → visited
    (sample, id, level).  One shuffle per level; the visited pair
    table is the distributed form of the reference's per-sample
    distance rows."""
    visited = (
        sources.select("sample", "id", F.lit(0).alias("level"))
        .repartition(graph.num_partitions, "id")
        .localCheckpoint(eager=True)
    )
    frontier = visited
    lvl, fcount = 0, visited.count()
    while fcount > 0:
        lvl += 1
        # one (sample, id) row per reached pair: the per-sample frontiers
        # share one edge-map pass, grouped by sample
        msgs = edge_map(
            graph, frontier, message=F.lit(1), aggregate=F.min,
            frontier_size=fcount, extra_frontier_cols=("sample",),
            group_frontier_cols=("sample",),
        )
        new = (
            msgs.join(visited, ["sample", "id"], "left_anti")
            .select("sample", "id", F.lit(lvl).alias("level"))
            .repartition(graph.num_partitions, "id")
            .localCheckpoint(eager=True)
        )
        fcount = new.count()
        if fcount:
            visited = visited.unionByName(new)
        frontier = new
    return visited, lvl


def _exact_ecc_of(levels: DataFrame, by: str = "sample") -> DataFrame:
    """(sample → its exact ecc) = max BFS level per source."""
    return levels.groupBy(by).agg(F.max("level").alias("ecc_src"))


def _furthest_from_samples(pos: DataFrame, pair1: DataFrame) -> DataFrame:
    """w per component: argmax over members of min distance to the
    sample set, ties to the largest id (RV.C:209-222)."""
    mind = pair1.groupBy("id").agg(F.min("level").alias("mind"))
    w_w = Window.partitionBy("component").orderBy(F.desc("mind"), F.desc("id"))
    return (
        pos.filter(F.col("csize") > 2)
        .join(mind, "id")
        .withColumn("_rk", F.row_number().over(w_w))
        .filter(F.col("_rk") == 1)
        .select("id", "component")
    )


def _ngh_table(
    pos: DataFrame, wlevels: DataFrame, sizes: list[int]
) -> DataFrame:
    """Ngh per component: first nghSize vertices of the w-BFS in
    (level, id) order, with their 0-based Ngh index.  ``sizes`` as in
    ``_sample_sources`` (one driver collect, shared)."""
    spark = pos.sparkSession
    nghp = spark.createDataFrame(
        [(c, _params(c)[2]) for c in sizes], "csize long, nsize long"
    )
    ngh_w = Window.partitionBy("component").orderBy("level", "id")
    return (
        pos.join(wlevels, "id")
        .join(F.broadcast(nghp), "csize")
        .withColumn("_rk", F.row_number().over(ngh_w))
        .filter(F.col("_rk") <= F.col("nsize"))
        .select(
            "id", "component", "level", (F.col("_rk") - 1).alias("ngh_idx")
        )
        .localCheckpoint(eager=True)
    )


def _scaffold(graph, seed: int):
    """The shared steps 1-3: returns (pos, pair1 levels, sample eccs,
    w table, w levels, w eccs per component, ngh table, pair2 levels,
    ngh eccs, total rounds)."""
    pos = _cc_positions(graph)
    sizes = [
        int(r["csize"])
        for r in pos.select("csize").filter(F.col("csize") > 2).distinct().collect()
    ]
    if not sizes:  # every component has size <= 2
        return pos, None
    # the per-component fallback guarantees >= 1 sample per size>2 CC,
    # so the sample set is non-empty by construction — no count needed
    samples = _sample_sources(graph, pos, seed, sizes)
    pair1, r1 = _pair_bfs(
        graph, samples.select(F.col("id").alias("sample"), "id")
    )
    pair1 = pair1.localCheckpoint(eager=True)
    sample_ecc = _exact_ecc_of(pair1)

    wtab = _furthest_from_samples(pos, pair1).localCheckpoint(eager=True)
    wst, _, rw = _level_bfs(graph, _source_levels(graph, wtab), wtab.count())
    wlevels = wst.df.filter(F.col("level").isNotNull()).localCheckpoint(eager=True)
    wst.df.unpersist()  # wlevels is materialized; the BFS state is dead
    w_ecc = (
        wlevels.join(pos.select("id", "component"), "id")
        .groupBy("component")
        .agg(F.max("level").alias("w_ecc"))
    )

    ngh = _ngh_table(pos, wlevels, sizes)
    pair2, r2 = _pair_bfs(graph, ngh.select(F.col("id").alias("sample"), "id"))
    pair2 = pair2.localCheckpoint(eager=True)
    ngh_ecc = _exact_ecc_of(pair2)
    return pos, (
        samples,
        pair1,
        sample_ecc,
        wtab,
        wlevels,
        w_ecc,
        ngh,
        pair2,
        ngh_ecc,
        r1 + rw + r2,
    )


def _small_cc_ecc(pos: DataFrame) -> F.Column:
    return F.when(F.col("csize") == 1, 0).when(F.col("csize") == 2, 1)


def _w_sec(graph, wlevels: DataFrame, ngh: DataFrame) -> DataFrame:
    """RV's wDist.second — for every vertex at w-BFS level >= 1, the
    Ngh index propagated down the BFS tree (``BFS_Pair_F``,
    ``RV.C:53-64``): a child's value comes from one parent (the
    reference CAS race; pinned as the MIN over parents of the parent's
    EFFECTIVE value — its own Ngh index if it is in Ngh, else its
    propagated value).  Returns (id, sec)."""
    # every w-BFS vertex gets a value, so the level-l frontier is the
    # whole of level l: one collect sizes every superstep's frontier
    level_sizes = dict(wlevels.groupBy("level").count().collect())
    cur = (
        ngh.filter(F.col("level") == 0)
        .select("id", F.col("ngh_idx").alias("eff"))
        .localCheckpoint(eager=True)
    )
    secs = []
    for lvl in range(0, max(level_sizes, default=0)):
        children = wlevels.filter(F.col("level") == lvl + 1).select("id")
        child_sec = (
            edge_map(
                graph, cur, message=F.col("eff"), aggregate=F.min,
                frontier_size=level_sizes[lvl], extra_frontier_cols=("eff",),
            )
            .join(children, "id")
            .select("id", F.col("agg").alias("sec"))
            .localCheckpoint(eager=True)
        )
        secs.append(child_sec)
        cur = (
            child_sec.join(ngh.select("id", "ngh_idx"), "id", "left")
            .select("id", F.coalesce("ngh_idx", "sec").alias("eff"))
            .localCheckpoint(eager=True)
        )
    if not secs:
        return cur.select("id", F.col("eff").alias("sec")).limit(0)
    out = secs[0]
    for s in secs[1:]:
        out = out.unionByName(s)
    return out


def ecc_rv(graph, seed: int = 0) -> tuple[DataFrame, int]:
    """RV estimator (``RV.C:148-330``): non-BFS'd v takes
    rv = max(max sample distance, d(w, v)) and then consults vt — the
    Ngh vertex recorded on v's BFS path from w — using ecc(vt) when
    d(vt, v) <= d(vt, w), else the minimum sample ecc of the
    component (``RV.C:290-303``).  Returns ((id, ecc), supersteps)."""
    pos, sc = _scaffold(graph, seed)
    if sc is None:
        return (
            pos.select(
                "id", F.coalesce(_small_cc_ecc(pos), F.lit(0)).cast("int").alias("ecc")
            ),
            0,
        )
    samples, pair1, sample_ecc, wtab, wlevels, w_ecc, ngh, pair2, ngh_ecc, rounds = sc

    sec = _w_sec(graph, wlevels, ngh)
    # vt per non-BFS'd vertex: its component's Ngh member at index sec
    vt = (
        sec.join(pos.select("id", "component"), "id")
        .join(
            ngh.select(
                "component",
                F.col("ngh_idx").alias("sec"),
                F.col("id").alias("vt_id"),
            ),
            ["component", "sec"],
        )
        .select("id", "vt_id")
    )
    # d(vt, v) from pair2; d(vt, w) = pair2 row of the component's w
    d_vt_v = pair2.select(
        F.col("sample").alias("vt_id"), "id", F.col("level").alias("d_vt_v")
    )
    d_vt_w = (
        pair2.join(wtab.select(F.col("id").alias("id"), "component"), "id")
        .select(F.col("sample").alias("vt_id"), F.col("level").alias("d_vt_w"))
    )
    vt_ecc = ngh_ecc.select(F.col("sample").alias("vt_id"), F.col("ecc_src").alias("vt_ecc"))
    min_r = (
        samples.join(sample_ecc, samples["id"] == sample_ecc["sample"])
        .groupBy("component")
        .agg(F.min("ecc_src").alias("min_r"))
    )
    maxd1 = pair1.groupBy("id").agg(F.max("level").alias("maxd1"))
    exact = (
        samples.join(sample_ecc, samples["id"] == sample_ecc["sample"])
        .select(samples["id"], F.col("ecc_src").alias("exact"))
        .unionByName(
            wtab.join(w_ecc, "component").select("id", F.col("w_ecc").alias("exact"))
        )
        .unionByName(
            ngh.join(ngh_ecc, ngh["id"] == ngh_ecc["sample"]).select(
                ngh["id"], F.col("ecc_src").alias("exact")
            )
        )
        .groupBy("id")
        .agg(F.max("exact").alias("exact"))
    )
    est = (
        vt.join(d_vt_v, ["vt_id", "id"])
        .join(d_vt_w, "vt_id")
        .join(vt_ecc, "vt_id")
        .select(
            "id",
            "d_vt_v",
            "d_vt_w",
            "vt_ecc",
        )
    )
    out = (
        pos.join(maxd1, "id", "left")
        .join(wlevels.select("id", F.col("level").alias("dw")), "id", "left")
        .join(est, "id", "left")
        .join(min_r, "component", "left")
        .join(exact, "id", "left")
        .select(
            "id",
            F.coalesce(
                _small_cc_ecc(pos),
                F.col("exact"),
                F.when(
                    F.col("d_vt_v") <= F.col("d_vt_w"),
                    F.greatest(
                        F.greatest(F.col("maxd1"), F.col("dw")), F.col("vt_ecc")
                    ),
                ).otherwise(
                    F.greatest(
                        F.greatest(F.col("maxd1"), F.col("dw")), F.col("min_r")
                    )
                ),
            )
            .cast("int")
            .alias("ecc"),
        )
    )
    return out, rounds


def ecc_clrstv(graph, seed: int = 0) -> tuple[DataFrame, int]:
    """CLRSTV estimator (``CLRSTV.C:145-300``): every non-BFS'd vertex
    takes max over all BFS'd sources u of max(d(u, v), ecc(u) − d(u, v)).
    Returns ((id, ecc) for all n, combined supersteps)."""
    pos, sc = _scaffold(graph, seed)
    if sc is None:
        return (
            pos.select(
                "id", F.coalesce(_small_cc_ecc(pos), F.lit(0)).cast("int").alias("ecc")
            ),
            0,
        )
    samples, pair1, sample_ecc, wtab, wlevels, w_ecc, ngh, pair2, ngh_ecc, rounds = sc

    def est(levels, eccs):
        return (
            levels.join(eccs, "sample")
            .groupBy("id")
            .agg(
                F.max(
                    F.greatest(F.col("level"), F.col("ecc_src") - F.col("level"))
                ).alias("est")
            )
        )

    est1 = est(pair1, sample_ecc)
    est2 = est(pair2, ngh_ecc)
    # exact values for the BFS'd vertices (samples, w, Ngh)
    exact = (
        samples.join(sample_ecc, samples["id"] == sample_ecc["sample"])
        .select(samples["id"], F.col("ecc_src").alias("exact"))
        .unionByName(
            wtab.join(w_ecc, "component").select("id", F.col("w_ecc").alias("exact"))
        )
        .unionByName(
            ngh.join(ngh_ecc, ngh["id"] == ngh_ecc["sample"]).select(
                ngh["id"], F.col("ecc_src").alias("exact")
            )
        )
        .groupBy("id")
        .agg(F.max("exact").alias("exact"))  # duplicates agree (all exact)
    )
    out = (
        pos.join(est1.select("id", F.col("est").alias("e1")), "id", "left")
        .join(est2.select("id", F.col("est").alias("e2")), "id", "left")
        .join(wlevels.select("id", F.col("level").alias("dw")), "id", "left")
        .join(w_ecc, "component", "left")
        .join(exact, "id", "left")
        .select(
            "id",
            F.coalesce(
                _small_cc_ecc(pos),
                F.col("exact"),
                F.greatest(
                    F.col("e1"),
                    F.greatest(F.col("dw"), F.col("w_ecc") - F.col("dw")),
                    F.col("e2"),
                ),
            )
            .cast("int")
            .alias("ecc"),
        )
    )
    return out, rounds
