"""PageRank and PageRankDelta — semantics of
``/root/reference/apps/PageRank.C:69-100`` and
``/root/reference/apps/PageRankDelta.C:87-129`` (see
``ligra_spark.oracle`` for the transcribed single-node spec; the
tests assert allclose(1e-6) between this engine and that oracle).

Reference quirks replicated exactly:
- NO dangling-mass redistribution: outdeg-0 vertices' mass is lost
  (``PageRank.C:33-40`` only ever adds over existing edges).
- duplicate edges count double (the fixture keeps rMat duplicates).
- L1 stop 1e-7, damping 0.85, p0 = 1/n over ALL n vertex slots.

Physical plan per superstep (exactly ONE shuffle):
    state(id, outdeg, rank)            [hash(id), persisted]
      ⋈ edges(src, dst) ON id = src    [edges pre-hashed on src → no exchange]
      → groupBy(dst).agg(sum(rank/outdeg))   [THE shuffle; partial aggs
                                              absorb hub skew map-side]
      ⋈ state ON id = dst              [both hash(id) → no exchange]
      → new state + old rank column
    L1 = sum(abs(rank - old))          [computed by the state write's
                                        query: IterState.advance]

``_power_iteration`` is that loop, shared: pagerank, pagerank_weighted
and ``apps.trustrank`` each supply only their degree column, per-edge
message and teleport term.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..engine import IterState, edge_map, msgs_join_side

__all__ = ["pagerank", "pagerank_delta", "pagerank_weighted"]


def _power_iteration(
    graph,
    fresh,
    deg: str,
    value: str,
    message: Column,
    teleport: Column,
    *,
    carry: tuple[str, ...] = (),
    max_iters: int,
    damping: float,
    epsilon: float,
    checkpoint_mgr,
    checkpoint_every: int,
    resume: bool,
    name: str,
    on_superstep,
    edge_map_fn=edge_map,
) -> tuple[DataFrame, int]:
    """The ONE power-iteration loop (pagerank, pagerank_weighted,
    trustrank): ``value ← damping · Σ message + teleport`` until the L1
    change drops below ``epsilon`` or ``max_iters`` supersteps ran.

    State (id, ``deg``, ``carry``..., ``value``) starts from
    ``fresh()`` — or, with ``resume``, from the latest durable
    checkpoint, which also holds the previous superstep's ``old``
    column (so every superstep selects the named columns, never all).
    Each superstep every vertex sends ``share = value / deg`` (NULL
    for deg 0: its mass is lost, the reference's no-dangling quirk);
    ``message`` is the per-edge Column over ``share`` (and ``weight``),
    ``teleport`` the per-vertex constant term.  Returns ((id,
    ``value``), supersteps run)."""
    it = 0
    if resume and checkpoint_mgr is not None and checkpoint_mgr.latest_step(name):
        it = checkpoint_mgr.latest_step(name)
        init_df = checkpoint_mgr.load(name, it, graph.num_partitions)
    else:
        init_df = fresh()
    st = IterState(
        init_df,
        num_partitions=graph.num_partitions,
        checkpoint_every=checkpoint_every,
        manager=checkpoint_mgr,
        name=name,
        superstep=it,
    )
    keep = ("id", deg, *carry)
    while it < max_iters:
        it += 1
        # dense superstep: every vertex is in the frontier every round
        # (PageRank.C:86-98 never shrinks the frontier)
        msgs = edge_map_fn(
            graph,
            st.df.select("id", F.try_divide(value, deg).alias("share")),
            message=message,
            aggregate=F.sum,
            extra_frontier_cols=("share",),
        )
        new = (
            st.df.select(*keep, F.col(value).alias("old"))
            .join(msgs_join_side(msgs, None, graph.n), "id", "left")
            .select(
                *keep,
                (F.lit(damping) * F.coalesce("agg", F.lit(0.0)) + teleport).alias(
                    value
                ),
                "old",
            )
        )
        new, (l1,) = st.advance(
            new,
            F.sum(F.abs(F.col(value) - F.col("old"))).alias("l1"),
            metrics={"superstep": it},
        )
        if on_superstep:
            on_superstep(it, {"l1": l1})
        if l1 < epsilon:
            break
    return st.df.select("id", value), it


def pagerank(
    graph,
    max_iters: int = 100,
    damping: float = 0.85,
    epsilon: float = 1e-7,
    checkpoint_mgr=None,
    checkpoint_every: int = 4,
    resume: bool = False,
    name: str = "pagerank",
    on_superstep=None,
    edge_map_fn=edge_map,
    init: DataFrame | None = None,
) -> tuple[DataFrame, int]:
    """Returns ((id, rank) DataFrame, supersteps run).

    ``edge_map_fn`` is a tracing seam: it must behave exactly like
    :func:`ligra_spark.engine.edge_map` (the default), and exists so a
    profiler can pass a timed wrapper of it (``perfbench/tracing.py``).

    ``init`` warm-starts the iteration from an (id, rank) DataFrame
    instead of the uniform 1/n vector (ids absent from ``init`` get
    1/n).  PageRank's fixpoint is start-independent, so a near-fixpoint
    start — e.g. the previous scores of a slightly-grown graph —
    reconverges in a handful of supersteps instead of the cold-start
    depth (see ``streaming.incremental_pagerank``)."""

    def fresh():
        if init is None:
            return graph.out_degrees.select(
                "id", "outdeg", F.lit(1.0 / graph.n).alias("rank")
            )
        return graph.out_degrees.join(
            init.select("id", F.col("rank").alias("_r")).hint("shuffle_hash"),
            "id",
            "left",
        ).select(
            "id", "outdeg", F.coalesce("_r", F.lit(1.0 / graph.n)).alias("rank")
        )

    return _power_iteration(
        graph, fresh, "outdeg", "rank", F.col("share"),
        F.lit((1.0 - damping) / graph.n),
        max_iters=max_iters, damping=damping, epsilon=epsilon,
        checkpoint_mgr=checkpoint_mgr, checkpoint_every=checkpoint_every,
        resume=resume, name=name, on_superstep=on_superstep,
        edge_map_fn=edge_map_fn,
    )


def pagerank_weighted(
    graph,
    max_iters: int = 100,
    damping: float = 0.85,
    epsilon: float = 1e-7,
    checkpoint_mgr=None,
    checkpoint_every: int = 4,
    resume: bool = False,
    name: str = "pagerank_weighted",
    on_superstep=None,
) -> tuple[DataFrame, int]:
    """Weighted PageRank over an edge table with a ``weight`` column —
    our extension of the reference's unweighted app for the contracted
    host graph (``ingest.contract_to_host_graph``), where weight =
    page-link multiplicity: a host pointed at by 10k page links gets
    10k/Σw of its linker's rank, the standard crawl-prioritization
    host-rank.  Self-loops participate like any edge (intra-host mass
    returns to the host).

    PageRank's loop with share = rank / Σ(outgoing weight) travelling
    with the frontier and the per-edge ``weight`` multiplying it inside
    the groupBy(dst) message — and the same reference quirks: no
    dangling redistribution (wout = 0 loses its mass), L1 stop,
    uniform 1/n start.  ``epsilon=0`` disables the convergence test
    (exactly ``max_iters`` supersteps — what the fixed-depth SQL
    oracle pins)."""

    def fresh():
        wout = graph.edges.groupBy(F.col("src").alias("id")).agg(
            F.sum("weight").cast("double").alias("wout")
        )
        return graph.out_degrees.join(wout.hint("shuffle_hash"), "id", "left").select(
            "id",
            F.coalesce("wout", F.lit(0.0)).alias("wout"),
            F.lit(1.0 / graph.n).alias("rank"),
        )

    return _power_iteration(
        graph, fresh, "wout", "rank", F.col("share") * F.col("weight"),
        F.lit((1.0 - damping) / graph.n),
        max_iters=max_iters, damping=damping, epsilon=epsilon,
        checkpoint_mgr=checkpoint_mgr, checkpoint_every=checkpoint_every,
        resume=resume, name=name, on_superstep=on_superstep,
    )


def pagerank_delta(
    graph,
    max_iters: int = 100,
    damping: float = 0.85,
    epsilon: float = 1e-7,
    epsilon2: float = 0.01,
    checkpoint_mgr=None,
    checkpoint_every: int = 4,
    name: str = "pagerank_delta",
    on_superstep=None,
) -> tuple[DataFrame, int]:
    """Frontier-filtered PageRank (``PageRankDelta.C``): only vertices
    whose |Delta| exceeds epsilon2·p propagate.  The frontier SHRINKS,
    so edge_map's sparse path (broadcast frontier) kicks in once the
    active set is below m/20.  Returns ((id, rank), supersteps)."""
    one_over_n = 1.0 / graph.n
    init = graph.out_degrees.select(
        "id",
        "outdeg",
        F.lit(0.0).alias("p"),
        F.lit(one_over_n).alias("delta"),
        F.lit(True).alias("active"),
    )
    st = IterState(
        init,
        num_partitions=graph.num_partitions,
        checkpoint_every=checkpoint_every,
        manager=checkpoint_mgr,
        name=name,
    )
    it = 0
    n_active = graph.n
    while it < max_iters:
        it += 1
        frontier = st.df.filter("active").select(
            "id", F.try_divide("delta", "outdeg").alias("share")
        )
        msgs = edge_map(
            graph,
            frontier,
            message=F.col("share"),
            aggregate=F.sum,
            frontier_size=n_active,
            extra_frontier_cols=("share",),
        )
        joined = st.df.join(msgs_join_side(msgs, n_active, graph.n), "id", "left").withColumn(
            "ngh", F.coalesce("agg", F.lit(0.0))
        )
        if it == 1:  # PR_Vertex_F_FirstRound, PageRankDelta.C:47-61
            new = joined.select(
                "id",
                "outdeg",
                (F.lit(damping) * F.col("ngh") + F.lit((1 - damping) * one_over_n)).alias(
                    "d1"
                ),
                "p",
            ).select(
                "id",
                "outdeg",
                (F.col("p") + F.col("d1")).alias("p"),
                (F.col("d1") - F.lit(one_over_n)).alias("delta"),
            )
            new = new.withColumn(
                "active", F.abs("delta") > F.lit(epsilon2) * F.col("p")
            )
        else:  # PR_Vertex_F, PageRankDelta.C:63-75
            new = joined.select(
                "id",
                "outdeg",
                "p",
                (F.lit(damping) * F.col("ngh")).alias("delta"),
            ).withColumn("active", F.abs("delta") > F.lit(epsilon2) * F.col("p"))
            new = new.select(
                "id",
                "outdeg",
                F.when(F.col("active"), F.col("p") + F.col("delta"))
                .otherwise(F.col("p"))
                .alias("p"),
                "delta",
                "active",
            )
        new, row = st.advance(
            new.select("id", "outdeg", "p", "delta", "active"),
            F.sum(F.abs("delta")).alias("l1"),
            F.sum(F.col("active").cast("long")).alias("na"),
        )
        l1, n_active = row["l1"], int(row["na"])
        if on_superstep:
            on_superstep(it, {"l1": l1, "active": n_active})
        if l1 < epsilon:
            break
    return st.df.select("id", F.col("p").alias("rank")), it
