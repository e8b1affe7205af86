"""kBFS eccentricity estimation — the eccentricity-suite semantics
(``/root/reference/apps/eccentricity/kBFS-Ecc.C``, README.md:468-484):
run K simultaneous BFS waves as 64-bit visited bitmasks propagated with
bitwise-OR (``writeOr`` → ``bit_or`` monoid), and estimate each
vertex's eccentricity as the last round its mask grew — i.e. the max
BFS distance from any sample source that reaches it.

Where the reference samples sources by hash (and re-samples for a
second phase), ``ecc_estimate`` takes EXPLICIT sources so results are
deterministic and SQL-expressible (the driver query uses sources
0..15); ``ecc_kbfs`` and ``apps.radii`` draw the reference's hashed
samples.

``_kbfs_wave`` is the ONE bitmask-wave superstep loop: every app here
and ``apps.radii`` (bit_or), ``apps.ecc_fm`` (bit_or over packed FM
sketches) and ``apps.ecc_loglog`` (per-register max) run it, each
supplying only its seed masks and its lattice join.  Per superstep:
one groupBy(dst) shuffle for the join, one co-partitioned state join;
the frontier (mask-changed vertices) shrinks as waves die out,
flipping the engine onto the broadcast sparse path (``ligra.h:261``
direction optimization).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..engine import IterState, edge_map_multi, msgs_join_side

__all__ = ["ecc_estimate", "ecc_exact", "ecc_kbfs", "ecc_simple_approx"]


def _signed64(bit: int) -> int:
    return bit - (1 << 64) if bit >= (1 << 63) else bit


def _source_masks(spark, sources) -> tuple[DataFrame, int]:
    """(id, init_mask) with bit i set on ``sources[i]`` — a repeated
    source ORs its bits (the deterministic superset of the reference's
    last-writer init race), bits past 63 are dropped — and the number
    of distinct sources."""
    bits: dict[int, int] = {}
    for i, v in enumerate(sources):
        bits[int(v)] = bits.get(int(v), 0) | _signed64(
            (1 << i) & 0xFFFFFFFFFFFFFFFF
        )
    return (
        spark.createDataFrame(list(bits.items()), "id long, init_mask long"),
        len(bits),
    )


def _kbfs_wave(
    graph,
    init: DataFrame,
    fsize: int,
    aggs: list,
    merged: Column,
    on_superstep=None,
) -> tuple[DataFrame, int]:
    """The bitmask-wave loop from ``init (id, mask, ecc, changed)``,
    ``fsize`` = its changed-row count.  Each superstep the changed
    vertices send their mask through ``aggs`` (``edge_map_multi``
    triples over the frontier's ``mask``), ``merged`` (a Column over
    the state ⋈ msgs row: ``mask`` and the aggregate names, NULL where
    no message arrived) is the joined mask, and a vertex whose mask
    moved records the round in ``ecc`` and joins the next frontier.
    Returns ((id, mask, ecc, changed), rounds); ecc stays NULL for
    vertices ``init`` left NULL and no wave reached."""
    st = IterState(init, num_partitions=graph.num_partitions)
    rounds = 0
    while fsize > 0:
        rounds += 1
        msgs = edge_map_multi(
            graph,
            st.df.filter("changed").select("id", "mask"),
            aggs,
            frontier_size=fsize,
            extra_frontier_cols=("mask",),
        )
        grew = F.col("new_mask") != F.col("mask")
        new = (
            st.df.join(msgs_join_side(msgs, fsize, graph.n), "id", "left")
            .select("id", merged.alias("new_mask"), "mask", "ecc")
            .select(
                "id",
                F.col("new_mask").alias("mask"),
                F.when(grew, F.lit(rounds))
                .otherwise(F.col("ecc"))
                .cast("int")
                .alias("ecc"),
                grew.alias("changed"),
            )
        )
        new, (fsize,) = st.advance(new, F.count_if("changed"))
        if on_superstep:
            on_superstep(rounds, {"frontier": fsize})
    return st.df, rounds


def _or_join() -> tuple[list, Column]:
    """writeOr as ``_kbfs_wave``'s (aggs, merged): a vertex's mask ORs
    in its in-neighbours' masks."""
    return (
        [("agg", F.col("mask"), F.bit_or)],
        F.col("mask").bitwiseOR(F.coalesce("agg", F.lit(0))),
    )


def _or_wave(
    graph, starts: DataFrame, n_sources: int, on_superstep=None
) -> tuple[DataFrame, int]:
    """``_kbfs_wave`` under writeOr from ``starts (id, init_mask)``:
    sources start at ecc 0 in the frontier, every other vertex at mask
    0, ecc NULL.  ``n_sources`` is the distinct source count; sources
    from different components may share mask bits (waves cannot cross
    components, so per-vertex last-change rounds are unaffected)."""
    join_starts = (
        F.broadcast(starts) if n_sources <= (1 << 16) else starts
    )
    init = graph.vertices.join(join_starts, "id", "left").select(
        "id",
        F.coalesce("init_mask", F.lit(0)).cast("long").alias("mask"),
        F.when(F.col("init_mask").isNotNull(), 0).cast("int").alias("ecc"),
        F.col("init_mask").isNotNull().alias("changed"),
    )
    return _kbfs_wave(graph, init, n_sources, *_or_join(), on_superstep)


def ecc_estimate(
    graph,
    sources: list[int],
    on_superstep=None,
) -> tuple[DataFrame, int]:
    """Returns ((id, ecc) for vertices reached by >=1 source, rounds).

    ecc(v) = max over reaching sources s of dist(s, v) — exact when
    ``sources`` covers the graph, a lower-bound estimate otherwise
    (the kBFS trade-off the eccentricity suite documents).
    """
    if len(sources) > 64:
        raise ValueError("at most 64 simultaneous BFS waves (64-bit masks)")
    starts, n_sources = _source_masks(graph.spark, sources)
    res, rounds = _or_wave(graph, starts, n_sources, on_superstep)
    return res.filter(F.col("ecc").isNotNull()).select("id", "ecc"), rounds


def ecc_exact(
    graph,
    batch_size: int = 64,
    on_superstep=None,
) -> tuple[DataFrame, int]:
    """Exact eccentricity — ``kBFS-Exact.C:87-135``: iterate the kBFS
    wave engine over EVERY vertex as a source, 64 consecutive ids per
    batch (``starts[i] = 64*length*iter + i``), and keep the
    elementwise max across batches (``allEcc[i] = max(allEcc[i],
    ecc[i])``).  Returns ((id, ecc) for all n vertices — ecc 0 for
    isolated ones, exactly the reference's 0-init — and total
    supersteps across batches).

    Cost is inherently O(n/64) full multi-BFS passes — the reference's
    trade-off, not ours; each pass is the one-shuffle-per-superstep
    kBFS plan.  The cross-batch max-merge is a co-partitioned join per
    batch, lineage-cut by the accumulator's localCheckpoint so the
    plan does not grow with batch count."""
    if batch_size < 1 or batch_size > 64:
        raise ValueError("batch_size must be in 1..64 (64-bit masks)")
    n = graph.n
    spark = graph.spark
    acc: DataFrame | None = None
    total_rounds = 0
    for start in range(0, n, batch_size):
        starts, n_sources = _source_masks(
            spark, range(start, min(start + batch_size, n))
        )
        wave, rounds = _or_wave(graph, starts, n_sources, on_superstep)
        total_rounds += rounds
        batch = wave.filter(F.col("ecc").isNotNull()).select(
            "id", F.col("ecc").alias("becc")
        )
        if acc is None:
            merged = graph.vertices.join(batch, "id", "left").select(
                "id", F.coalesce("becc", F.lit(0)).cast("int").alias("ecc")
            )
        else:
            merged = acc.join(batch, "id", "left").select(
                "id",
                F.greatest(F.col("ecc"), F.coalesce("becc", F.lit(0)))
                .cast("int")
                .alias("ecc"),
            )
        acc = merged.localCheckpoint(eager=True)
        # O(n/64) batches: this batch's cached wave state is dead once
        # the accumulator checkpoint above materializes — free it
        wave.unpersist()
    if acc is None:  # n == 0
        return graph.vertices.select("id", F.lit(0).cast("int").alias("ecc")), 0
    return acc, total_rounds


def _with_bits(src: DataFrame) -> DataFrame:
    """(id, component) sources → (id, init_mask): bit = rank of the
    source within its component (< 64 by construction).  Bit identity
    never affects ecc (only the set of sources does), so sharing bit
    positions across components is sound."""
    from pyspark.sql import Window

    w = Window.partitionBy("component").orderBy("id")
    return src.select(
        "id", (F.row_number().over(w) - 1).alias("_bit")
    ).select(
        "id",
        F.expr("shiftleft(CAST(1 AS BIGINT), _bit)").alias("init_mask"),
    )


def ecc_simple_approx(graph, seed: int = 0) -> tuple[DataFrame, int]:
    """Simple 2-approximation — ``Simple-Approx-Ecc.C:122-154``: per
    component of size > 2, BFS from ONE pseudo-random member and
    assign that member's eccentricity (the BFS depth) to EVERY member;
    size-1 → 0, size-2 → 1.

    The reference draws the member with ``rand() %% CCsize`` after
    ``srand(time(NULL))`` — inherently nondeterministic — so the pick
    is pinned as position ``hashInt(seed) %% size`` in component-id
    order (the same pinned-sampling convention as ``apps.radii`` and
    ``ecc_kbfs``; RV.C:170 uses this exact fallback expression).  All
    components BFS simultaneously in the shared level BFS
    (``apps.bfs._level_bfs``: one source per component, one shared
    level column — waves cannot cross components).  Returns
    ((id, ecc) for all n, BFS supersteps)."""
    import numpy as np

    from ..hashing import hash_int32
    from .bfs import _level_bfs, _source_levels
    from .ecc_tk import _cc_positions

    pos = _cc_positions(graph)
    h = int(hash_int32(np.uint32(seed)))
    sources = pos.filter(
        (F.col("csize") > 2) & (F.col("pos") == F.pmod(F.lit(h), F.col("csize")))
    ).select("id", "component")
    st, _, rounds = _level_bfs(
        graph, _source_levels(graph, sources), sources.count()
    )
    levels = st.df.filter(F.col("level").isNotNull())
    comp_ecc = (
        levels.join(pos.select("id", "component"), "id")
        .groupBy("component")
        .agg(F.max("level").alias("ecc_w"))
    )
    out = pos.join(comp_ecc, "component", "left").select(
        "id",
        F.when(F.col("csize") == 1, 0)
        .when(F.col("csize") == 2, 1)
        .otherwise(F.coalesce("ecc_w", F.lit(0)))
        .cast("int")
        .alias("ecc"),
    )
    return out, rounds


def ecc_kbfs(
    graph,
    seed: int = 0,
    phase2_threshold: int | None = 1024,
    on_superstep=None,
) -> tuple[DataFrame, int]:
    """Two-phase kBFS eccentricity estimation — the eccentricity
    suite's headline algorithm (``kBFS-Ecc.C:110-290``; with
    ``phase2_threshold=None`` this is ``kBFS-1Phase-Ecc.C``, which is
    the same code minus the second phase):

    1. connected components; size-1 components get ecc 0, size-2 get
       ecc 1 (``kBFS-Ecc.C:176-178``).
    2. per component of size > 2, sample min(size, 64) positions
       ``hashInt(i + seed) %% size`` (the duplicate-dropping CAS race
       in the reference only affects WHICH thread claims an index, not
       the chosen set — the set of distinct positions is deterministic
       given the seed, which the reference draws from time() and we
       pin as a parameter).  Run the 64-wave bitmask BFS; ecc(v) =
       last round v's mask grew.
    3. phase 2 for components larger than ``phase2_threshold``:
       re-sample the min(size, 64) vertices with HIGHEST phase-1 ecc
       ("fringe" vertices; reference tie-break = stable-sort order ⇒
       larger id wins among equal ecc), run a second wave pass, and
       keep the elementwise max (``kBFS-Ecc.C:240-280``).

    All components run their waves SIMULTANEOUSLY in one pass (the
    reference loops components sequentially; waves cannot cross
    component boundaries, so per-vertex results are identical and the
    superstep count is the max over components instead of the sum —
    the Spark-first formulation).  Returns ((id, ecc) for all n,
    total supersteps across both phases)."""
    import numpy as np

    from pyspark.sql import Window

    from ..hashing import hash_int32
    from .ecc_tk import _cc_positions

    pos = _cc_positions(graph)

    hvals = [
        int(h)
        for h in hash_int32(np.arange(64, dtype=np.uint32) + np.uint32(seed))
    ]
    harr = F.array(*[F.lit(h) for h in hvals])
    chosen = (
        pos.select("component", "csize")
        .distinct()
        .filter(F.col("csize") > 2)
        .select("component", "csize", F.posexplode(harr).alias("i", "h"))
        .filter(F.col("i") < F.least(F.col("csize"), F.lit(64)))
        .select("component", F.pmod(F.col("h"), F.col("csize")).alias("pos"))
        .distinct()
    )
    src1 = chosen.join(pos, ["component", "pos"]).select("id", "component")
    n_src1 = src1.count()
    wave1, r1 = _or_wave(graph, _with_bits(src1), n_src1, on_superstep)
    ecc1 = pos.join(wave1.select("id", "ecc"), "id", "left").select(
        "id",
        "component",
        "csize",
        F.when(F.col("csize") == 1, 0)
        .when(F.col("csize") == 2, 1)
        .otherwise(F.coalesce("ecc", F.lit(0)))
        .cast("int")
        .alias("ecc"),
    )

    r2 = 0
    if phase2_threshold is not None:
        fringe_w = Window.partitionBy("component").orderBy(
            F.desc("ecc"), F.desc("id")
        )
        src2 = (
            ecc1.filter(F.col("csize") > phase2_threshold)
            .withColumn("rk", F.row_number().over(fringe_w))
            .filter(F.col("rk") <= F.least(F.col("csize"), F.lit(64)))
            .select("id", "component")
        )
        n_src2 = src2.count()
        if n_src2 > 0:
            wave2, r2 = _or_wave(graph, _with_bits(src2), n_src2, on_superstep)
            ecc1 = ecc1.join(
                wave2.select("id", F.col("ecc").alias("ecc2")), "id", "left"
            ).select(
                "id",
                "component",
                "csize",
                F.greatest(F.col("ecc"), F.coalesce("ecc2", F.lit(0)))
                .cast("int")
                .alias("ecc"),
            )
    return ecc1.select("id", "ecc"), r1 + r2
