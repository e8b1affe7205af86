"""k-truss decomposition (fixed k) — the maximal subgraph in which
every edge closes at least k−2 triangles inside the subgraph.  The
standard cohesive-subgraph operator between k-core (too loose) and
clique (too strict); on a web graph it isolates genuinely dense
communities from star-shaped hub neighborhoods, which k-core keeps.

Not a reference app; it composes the reference's two densest
primitives — Triangle.C's id-ordered triangle enumeration and
KCore.C's peel-until-stable schedule — into the canonical truss
fixpoint: repeatedly drop every edge with support < k−2, where
support counts triangles in the CURRENT surviving edge set.

Physical shape per round, all on the canonical (u < v) half of the
symmetric edge set:

    wedges    e(u,v) ⋈ e(v,w)           (u<v<w by construction)
    triangles wedges ⋈ e ON (u,w)       (closure check)
    support   explode the 3 edges per triangle → groupBy count
    survive   e ⋈ support, keep cnt ≥ k−2

Three joins + one partial-agg'd explode per round — the triangle plan
the engine already runs, re-evaluated on a shrinking edge set (rounds
are few in practice: most web-graph edges die in round 1).  The
driver sync per round is one count of removed edges.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..engine import cut_lineage

__all__ = ["ktruss", "truss_decomposition"]


def _support(e: DataFrame, deg: DataFrame) -> DataFrame:
    """(src, dst, cnt): per canonical (src < dst) edge, triangles it
    closes within the canonical edge set ``e``.

    Triangles are enumerated under the degree-(then id) orientation of
    the degrees passed in — the same O(m^1.5) wedge bound as
    :func:`triangle.oriented_edges`; orienting by raw id instead blows
    up on power-law graphs, where the low-id vertices are exactly the
    rMat/web hubs whose wedge sets are quadratic.  The caller passes
    CURRENT-round degrees: any consistent total order is valid per
    round, but a stale order loses the bound as peeling changes the
    degree profile (measured: on a 32.7M-edge rMat, round 5 under the
    original graph's degrees took 180 s on a 527 k-edge survivor core
    whose former hubs dominate each other; under current degrees the
    orientation re-balances and the round costs seconds).  Each
    triangle found once; its 3 corners are re-canonicalized by id to
    credit the (u < v) edges the peel filters on."""
    ds = deg.select(F.col("id").alias("src"), F.col("d").alias("sd"))
    dd = deg.select(F.col("id").alias("dst"), F.col("d").alias("dd"))
    ranked = e.join(ds, "src").join(dd, "dst")
    fwd = (F.col("sd") < F.col("dd")) | (
        (F.col("sd") == F.col("dd")) & (F.col("src") < F.col("dst"))
    )
    d = ranked.select(
        F.when(fwd, F.col("src")).otherwise(F.col("dst")).alias("a"),
        F.when(fwd, F.col("dst")).otherwise(F.col("src")).alias("b"),
    )
    w1 = d.select(F.col("a"), F.col("b").alias("m"))
    w2 = d.select(F.col("a").alias("m"), F.col("b").alias("c"))
    tri = (
        w1.join(w2, "m")
        .join(d.select(F.col("a"), F.col("b").alias("c")), ["a", "c"])
        .select(F.col("a"), F.col("m").alias("b"), F.col("c"))
    )
    edges3 = tri.select(
        F.explode(
            F.array(
                F.struct(
                    F.least("a", "b").alias("src"), F.greatest("a", "b").alias("dst")
                ),
                F.struct(
                    F.least("b", "c").alias("src"), F.greatest("b", "c").alias("dst")
                ),
                F.struct(
                    F.least("a", "c").alias("src"), F.greatest("a", "c").alias("dst")
                ),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    return edges3.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("cnt"))


def ktruss(
    graph,
    k: int,
    max_rounds: int = 100,
    on_superstep=None,
    checkpoint_mgr=None,
    checkpoint_every: int = 1,
    resume: bool = False,
    name: str = "ktruss",
) -> tuple[DataFrame, int]:
    """Returns (surviving canonical (src, dst) edges with src < dst,
    rounds run).  Requires graph.symmetric; k >= 2 (k == 2 keeps every
    edge that closes no triangle too, i.e. the graph itself).

    ``on_superstep(round, {"edges": surviving_edges})`` is called after
    each peel round's driver sync — the hook convention every app
    shares.

    ``checkpoint_mgr`` (a :class:`ligra_spark.checkpoint.
    CheckpointManager`) makes every ``checkpoint_every``-th round's
    survivor set a durable parquet checkpoint with the round's edge
    count as metrics; ``resume=True`` restarts the peel from the
    latest committed round.  The peel state is ONLY the survivor edge
    set, so resumption is exact: re-running from round r's survivors
    reproduces the remaining rounds bit-for-bit (each round is a pure
    function of the current edge set)."""
    if k < 2:
        raise ValueError("k-truss requires k >= 2")
    spark = graph.edges.sparkSession
    need = k - 2
    rounds = 0
    if resume and checkpoint_mgr is not None and checkpoint_mgr.latest_step(name):
        rounds = checkpoint_mgr.latest_step(name)
        e = checkpoint_mgr.load(name, rounds).persist()
    else:
        e = (
            graph.edges.select("src", "dst")
            .filter(F.col("src") < F.col("dst"))
            .distinct()
            .repartition(graph.num_partitions, "src")
            .persist()
        )
    n_old = e.count()
    while rounds < max_rounds:
        rounds += 1
        # CURRENT degrees, recomputed from the survivors (one cheap
        # groupBy): the orientation must track the peeled graph or the
        # wedge bound degrades — see _support
        deg = (
            e.select(F.col("src").alias("id"))
            .unionAll(e.select(F.col("dst").alias("id")))
            .groupBy("id")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        # survivors shrink fast (power-law graphs lose most edges in
        # round 1); scale the partition count down with them so tail
        # rounds don't pay 100s of near-empty tasks, and unpersist the
        # superseded round BLOCKING so dead cache blocks and their
        # shuffle files don't pile up across rounds (the long-lived
        # -session lesson from the 1B bench: cleanup debt, not
        # compute, is what makes shrinking iterations slow down)
        parts = max(1, min(graph.num_partitions, n_old // 100_000 + 1))
        kept = (
            e.join(_support(e, deg), ["src", "dst"], "left")
            .filter(F.coalesce("cnt", F.lit(0)) >= need)
            .select("src", "dst")
            .repartition(parts, "src")
        )
        # cut_lineage (plan AND stats) EVERY round — not IterState's
        # cadence-4 persist schedule.  Each round's plan references
        # the previous survivors ~16x (join side, oriented copy, both
        # legs of the degree recount, the three wedge legs), so (a)
        # persist-only rounds nest 16^rounds copies of the prior tree
        # and the driver OOMs just STRINGIFYING the plan for the
        # execution-start event (measured at 31M edges: round 4 died
        # in generateTreeString on an 8g heap), and (b) a plain
        # per-round localCheckpoint still carries originStats whose
        # BigInt bit-length multiplies 16x per round (measured: round
        # 13 spent 77 s off-stage in BigInteger.multiply).  See
        # engine.cut_lineage for the full story.  Checkpoint blocks
        # are reclaimed by ContextCleaner on driver GC —
        # session.py pins spark.cleaner.periodicGC.interval=60s so
        # reclamation keeps pace with the peel instead of waiting for
        # the 30-min default.
        if checkpoint_mgr is not None and rounds % checkpoint_every == 0:
            # durable parquet round: the re-read roots the plan at the
            # files (lineage cut) with REAL file statistics (stats cut)
            # — the durable twin of cut_lineage — and makes the round
            # resumable
            kept, _ = checkpoint_mgr.save(
                kept, name, rounds, {"round": rounds, "edges_before_round": n_old}
            )
        else:
            kept = cut_lineage(kept)
        # one driver sync per round: did anything die?  (materializes
        # the checkpoint; the previous round's blocks stay live until
        # after this job)
        n_new = kept.count()
        e.unpersist()
        e = kept
        if on_superstep is not None:
            on_superstep(rounds, {"edges": n_new})
        if n_new == n_old or n_new == 0:
            break
        n_old = n_new
    return e, rounds


def truss_decomposition(
    graph, max_k: int | None = None, max_rounds: int = 1000, on_superstep=None
) -> tuple[DataFrame, int]:
    """Per-edge trussness: (src, dst, trussness) over all canonical
    (src < dst) edges, where trussness(e) = max k with e in the
    k-truss (>= 2 for every edge; 2 exactly for triangle-free edges).

    The decomposition twin of ``kcore`` (KCore.C's peel schedule, one
    level up the cohesion ladder): peel at k = 3, 4, ... — each level
    STARTS from the previous level's survivors (the (k)-truss is a
    subgraph of the (k-1)-truss, so no recomputation from scratch) —
    and the edges removed while peeling at k have trussness k-1.  One
    anti-join per level assigns the removed edges; total extra work
    over the deepest single ktruss() call is just those anti-joins.

    Returns (assignments, total peel rounds across all levels).
    ``on_superstep(total_rounds, {"edges": surviving_edges})`` fires
    per inner peel round, as in :func:`ktruss`."""
    e = (
        graph.edges.select("src", "dst")
        .filter(F.col("src") < F.col("dst"))
        .distinct()
        .repartition(graph.num_partitions, "src")
    )
    e = cut_lineage(e)
    n_old = e.count()
    out = []
    rounds, k = 0, 3
    while n_old > 0 and (max_k is None or k <= max_k) and rounds < max_rounds:
        level_start, level_n = e, n_old
        need = k - 2
        while rounds < max_rounds:
            rounds += 1
            deg = (
                e.select(F.col("src").alias("id"))
                .unionAll(e.select(F.col("dst").alias("id")))
                .groupBy("id")
                .agg(F.count(F.lit(1)).alias("d"))
            )
            parts = max(1, min(graph.num_partitions, n_old // 100_000 + 1))
            kept = cut_lineage(
                e.join(_support(e, deg), ["src", "dst"], "left")
                .filter(F.coalesce("cnt", F.lit(0)) >= need)
                .select("src", "dst")
                .repartition(parts, "src")
            )
            n_new = kept.count()
            e = kept
            if on_superstep is not None:
                on_superstep(rounds, {"edges": n_new})
            if n_new == n_old or n_new == 0:
                n_old = n_new
                break
            n_old = n_new
        removed = level_start.join(e, ["src", "dst"], "left_anti").select(
            "src", "dst", F.lit(k - 1).cast("long").alias("trussness")
        )
        if level_n > n_old:
            out.append(removed)
        # a level that removes nothing just advances k: every edge
        # dies by k = max_support + 2, so the outer loop terminates
        k += 1
    if not out:
        return (
            e.select("src", "dst", F.lit(2).cast("long").alias("trussness")),
            rounds,
        )
    res = out[0]
    for df in out[1:]:
        res = res.unionByName(df)
    return res, rounds
