"""Hypergraph apps — HyperBFS and HyperCC
(``/root/reference/apps/hyper/HyperBFS.C:43-67``,
``/root/reference/apps/hyper/HyperCC.C:30-56``) on the bipartite
two-stage engine (``ligra_spark.hygra``).

HyperBFS alternates vertexProp / hyperedgeProp half-steps from a root
vertex; the reference stores race-dependent first-visitor parents, so
(as with plain BFS) we output the race-free invariant: the bipartite
level — vertices at even levels 0,2,4,…, hyperedges at odd levels.

HyperCC alternates min-label half-steps (vertex labels init to own id,
hyperedge labels init to +inf / ``UINT_E_MAX``) until no label
changes; the fixpoint labels every node with the minimum member-vertex
id of its bipartite component (deterministic, unlike the per-round
race in ``CC_Update_F``'s writeMin — same fixpoint though).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyspark.storagelevel import StorageLevel

from ..buckets import Buckets
from ..engine import IterState, msgs_join_side
from ..hygra import HyperGraph, hyperedge_prop, vertex_prop

__all__ = [
    "hyper_bfs", "hyper_bc", "hyper_cc", "hyper_pagerank", "hyper_kcore",
    "hyper_kcore_efficient", "hyper_mis", "hyper_sssp", "hyper_bpath",
]


def _tagged_union(v_df: DataFrame, h_df: DataFrame, col: str) -> DataFrame:
    return (
        v_df.select(F.lit("v").alias("kind"), "id", col)
        .unionByName(h_df.select(F.lit("h").alias("kind"), "id", col))
    )


def hyper_bfs(
    hg: HyperGraph,
    root: int = 0,
    max_iters: int | None = None,
    on_superstep=None,
) -> tuple[DataFrame, int]:
    """Returns ((kind, id, level) for REACHED nodes — kind 'v'/'h',
    level = bipartite BFS distance — and half-steps run)."""
    stv = IterState(
        hg.vertices.select(
            "id",
            F.when(F.col("id") == root, F.lit(0)).cast("int").alias("level"),
        ),
        num_partitions=hg.num_partitions,
    )
    sth = IterState(
        hg.hyperedges.select("id", F.lit(None).cast("int").alias("level")),
        num_partitions=hg.num_partitions,
    )
    steps, fsize, vlvl = 0, 1, 0
    limit = max_iters if max_iters is not None else hg.nv + hg.nh
    while fsize > 0 and steps < limit:
        # vertex → hyperedge half-step
        frontier = stv.df.filter(F.col("level") == vlvl).select("id")
        msgs = vertex_prop(hg, frontier, F.lit(1), F.min, frontier_size=fsize)
        hlvl = vlvl + 1
        newh = sth.df.join(msgs_join_side(msgs, fsize, hg.nh), "id", "left").select(
            "id",
            F.when(F.col("level").isNull() & F.col("agg").isNotNull(), F.lit(hlvl))
            .otherwise(F.col("level"))
            .cast("int")
            .alias("level"),
        )
        _, (fsize,) = sth.advance(newh, F.count_if(F.col("level") == hlvl))
        steps += 1
        if on_superstep:
            on_superstep(steps, {"phase": "v->h", "frontier": fsize})
        if fsize == 0:
            break
        # hyperedge → vertex half-step
        hfrontier = sth.df.filter(F.col("level") == hlvl).select("id")
        msgs = hyperedge_prop(hg, hfrontier, F.lit(1), F.min, frontier_size=fsize)
        nxt = hlvl + 1
        newv = stv.df.join(msgs_join_side(msgs, fsize, hg.nv), "id", "left").select(
            "id",
            F.when(F.col("level").isNull() & F.col("agg").isNotNull(), F.lit(nxt))
            .otherwise(F.col("level"))
            .cast("int")
            .alias("level"),
        )
        _, (fsize,) = stv.advance(newv, F.count_if(F.col("level") == nxt))
        steps += 1
        vlvl = nxt
        if on_superstep:
            on_superstep(steps, {"phase": "h->v", "frontier": fsize})
    out = _tagged_union(
        stv.df.filter(F.col("level").isNotNull()),
        sth.df.filter(F.col("level").isNotNull()),
        "level",
    )
    return out, steps


def hyper_bpath(
    hg: HyperGraph,
    root: int = 0,
    max_iters: int | None = None,
    on_superstep=None,
) -> tuple[DataFrame, int]:
    """HyperBPath (``apps/hyper/HyperBPath.C:27-80``): B-connectivity
    BFS — a hyperedge activates only once ALL of its in-pins have been
    visited (``BVisitH_F``: counter starts at -inDegree, each visited
    in-pin increments, activation at 0), then scatters to its
    out-pins, which activate on first touch (``BVisitV_F``).  Needs a
    DIRECTED hypergraph (``HyperGraph.from_directed_incidence``) —
    with symmetric pins a singleton root can never light up a
    multi-pin hyperedge, so the traversal is degenerate.

    The reference stores race-dependent first-visitor parents; as with
    BFS we output the race-free invariant: the bipartite level
    (vertices even, hyperedges odd; a hyperedge's level is the
    half-step its LAST in-pin arrived).

    Returns ((kind, id, level) for REACHED nodes, half-steps run).

    Plan shape per half-step is the engine's: one groupBy(dst) sum
    shuffle for the in-pin counting (v→h), one first-visit min for the
    scatter (h→v); the remaining-need counter lives in the hyperedge
    state so no per-hyperedge member list is ever materialized.
    """
    need0 = (
        hg.v2h.edges.groupBy("dst")
        .agg(F.count(F.lit(1)).alias("need"))
        .select(F.col("dst").alias("id"), "need")
    )
    stv = IterState(
        hg.vertices.select(
            "id",
            F.when(F.col("id") == root, F.lit(0)).cast("int").alias("level"),
        ),
        num_partitions=hg.num_partitions,
    )
    sth = IterState(
        hg.hyperedges.join(need0, "id", "left").select(
            "id",
            F.coalesce("need", F.lit(0)).cast("long").alias("need"),
            F.lit(None).cast("int").alias("level"),
        ),
        num_partitions=hg.num_partitions,
    )
    steps, fsize, vlvl = 0, 1, 0
    limit = max_iters if max_iters is not None else hg.nv + hg.nh
    while fsize > 0 and steps < limit:
        # v -> h half-step: count newly-visited in-pins; a hyperedge
        # whose remaining need hits exactly 0 activates this half-step
        frontier = stv.df.filter(F.col("level") == vlvl).select("id")
        msgs = vertex_prop(hg, frontier, F.lit(1), F.sum, frontier_size=fsize)
        hlvl = vlvl + 1
        newh = sth.df.join(msgs_join_side(msgs, fsize, hg.nh), "id", "left").select(
            "id",
            F.when(
                F.col("level").isNull() & F.col("agg").isNotNull(),
                F.col("need") - F.col("agg"),
            )
            .otherwise(F.col("need"))
            .alias("need"),
            F.when(
                F.col("level").isNull()
                & F.col("agg").isNotNull()
                & (F.col("need") - F.col("agg") == 0),
                F.lit(hlvl),
            )
            .otherwise(F.col("level"))
            .cast("int")
            .alias("level"),
        )
        _, (fsize,) = sth.advance(newh, F.count_if(F.col("level") == hlvl))
        steps += 1
        if on_superstep:
            on_superstep(steps, {"phase": "v->h", "frontier": fsize})
        if fsize == 0:
            break
        # h -> v half-step: first-visit scatter along OUT-pins
        hfrontier = sth.df.filter(F.col("level") == hlvl).select("id")
        msgs = hyperedge_prop(hg, hfrontier, F.lit(1), F.min, frontier_size=fsize)
        nxt = hlvl + 1
        newv = stv.df.join(msgs_join_side(msgs, fsize, hg.nv), "id", "left").select(
            "id",
            F.when(F.col("level").isNull() & F.col("agg").isNotNull(), F.lit(nxt))
            .otherwise(F.col("level"))
            .cast("int")
            .alias("level"),
        )
        _, (fsize,) = stv.advance(newv, F.count_if(F.col("level") == nxt))
        steps += 1
        vlvl = nxt
        if on_superstep:
            on_superstep(steps, {"phase": "h->v", "frontier": fsize})
    out = _tagged_union(
        stv.df.filter(F.col("level").isNotNull()),
        sth.df.filter(F.col("level").isNotNull()),
        "level",
    )
    return out, steps


def hyper_cc(
    hg: HyperGraph,
    max_iters: int | None = None,
    on_superstep=None,
) -> tuple[DataFrame, int]:
    """Returns ((kind, id, label) over all nv + nh nodes, half-steps).
    Hyperedges with no members keep a NULL label (the reference's
    untouched ``UINT_E_MAX`` slot)."""
    stv = IterState(
        hg.vertices.select("id", F.col("id").alias("label")),
        num_partitions=hg.num_partitions,
    )
    sth = IterState(
        hg.hyperedges.select("id", F.lit(None).cast("long").alias("label")),
        num_partitions=hg.num_partitions,
    )
    steps = 0
    n_changed_v = hg.nv  # all vertices start "changed" (full frontier)
    limit = max_iters if max_iters is not None else 2 * (hg.nv + hg.nh)
    vfront = stv.df.select("id", "label")
    while n_changed_v > 0 and steps < limit:
        # vertex labels → hyperedges
        msgs = vertex_prop(
            hg, vfront, F.col("label"), F.min,
            frontier_size=n_changed_v, extra_frontier_cols=("label",),
        )
        newh = sth.df.join(msgs_join_side(msgs, n_changed_v, hg.nh), "id", "left").select(
            "id",
            # min(label, agg) with NULL = +inf on the label side
            F.when(
                F.col("agg").isNotNull(),
                F.least(F.coalesce("label", F.col("agg")), F.col("agg")),
            )
            .otherwise(F.col("label"))
            .alias("label"),
            (
                F.col("agg").isNotNull()
                & (F.col("label").isNull() | (F.col("agg") < F.col("label")))
            ).alias("changed"),
        )
        _, (n_changed_h,) = sth.advance(
            newh.select("id", "label", "changed"), F.count_if("changed")
        )
        steps += 1
        if on_superstep:
            on_superstep(steps, {"phase": "v->h", "changed": n_changed_h})
        if n_changed_h == 0:
            break
        # hyperedge labels → vertices
        hfront = sth.df.filter("changed").select("id", "label")
        msgs = hyperedge_prop(
            hg, hfront, F.col("label"), F.min,
            frontier_size=n_changed_h, extra_frontier_cols=("label",),
        )
        newv = stv.df.join(msgs_join_side(msgs, n_changed_h, hg.nv), "id", "left").select(
            "id",
            F.when(
                F.col("agg").isNotNull(), F.least(F.col("label"), F.col("agg"))
            )
            .otherwise(F.col("label"))
            .alias("label"),
            (F.col("agg").isNotNull() & (F.col("agg") < F.col("label"))).alias(
                "changed"
            ),
        )
        _, (n_changed_v,) = stv.advance(
            newv.select("id", "label", "changed"), F.count_if("changed")
        )
        steps += 1
        if on_superstep:
            on_superstep(steps, {"phase": "h->v", "changed": n_changed_v})
        vfront = stv.df.filter("changed").select("id", "label")
    out = _tagged_union(
        stv.df.select("id", "label"), sth.df.select("id", "label"), "label"
    )
    return out, steps


def hyper_pagerank(
    hg: HyperGraph,
    max_iters: int = 5,
    damping: float = 0.85,
    on_superstep=None,
) -> tuple[DataFrame, int]:
    """HyperPageRank (``apps/hyper/HyperPageRank.C:84-121``): per
    iteration, hyperedge mass pH = Σ pV[v]/degV(v) over member
    vertices (after a reset — ``PR_Reset``), then vertex mass
    pV = damping · Σ pH[h]/degH(h) + (1-damping)/nv (``PR_Update_F``
    both directions + ``PR_Vertex_F``).  Mass is lost on dangling
    nodes exactly as in the reference ("assumes connected graph").

    Returns ((kind, id, rank) over all nv + nh nodes, iters run) —
    hyperedge ranks are the pH of the FINAL iteration (memberless
    hyperedges report the reset value 0.0).

    Plan shape: two groupBy shuffles per iteration (one per
    half-step), the incidence table cached in both directions and
    never moved — the bipartite twin of the plain PageRank superstep.
    """
    nv = hg.nv
    degv = (
        hg.v2h.edges.groupBy("src")
        .agg(F.count(F.lit(1)).alias("deg"))
        .select(F.col("src").alias("id"), "deg")
    )
    degh = (
        hg.h2v.edges.groupBy("src")
        .agg(F.count(F.lit(1)).alias("degh"))
        .select(F.col("src").alias("id"), "degh")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    init = (
        hg.vertices.join(degv, "id", "left")
        .select(
            "id",
            F.lit(1.0 / nv).alias("p"),
            F.coalesce("deg", F.lit(0)).cast("long").alias("deg"),
        )
        .repartition(hg.num_partitions, "id")
    )
    st = IterState(init, num_partitions=hg.num_partitions)
    ph_cache: DataFrame | None = None
    for it in range(1, max_iters + 1):
        # v -> h: pH[h] = sum of pV/degV over members (deg=0 vertices
        # have no incidence rows, so the guard is structural)
        msgs_h = vertex_prop(
            hg, st.df, F.col("p") / F.col("deg"), F.sum,
            extra_frontier_cols=("p", "deg"),
        )
        phf = (
            msgs_h.select("id", F.col("agg").alias("ph"))
            .join(degh, "id")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        # h -> v: pV[v] = damping * sum of pH/degH + (1-damping)/nv
        msgs_v = hyperedge_prop(
            hg, phf, F.col("ph") / F.col("degh"), F.sum,
            extra_frontier_cols=("ph", "degh"),
        )
        new_v = st.df.join(msgs_v, "id", "left").select(
            "id",
            (
                F.lit(damping) * F.coalesce(F.col("agg"), F.lit(0.0))
                + F.lit((1.0 - damping) / nv)
            ).alias("p"),
            "deg",
        )
        # materializing the new state computes phf while the old state
        # cache is live; phf's cache then outlives st's unpersist
        st.advance(new_v)
        if ph_cache is not None:
            ph_cache.unpersist()
        ph_cache = phf
        if on_superstep:
            on_superstep(it, {})
    out_v = st.df.select(
        F.lit("v").alias("kind"), "id", F.col("p").alias("rank")
    )
    out_h = (
        hg.hyperedges.join(ph_cache.select("id", "ph"), "id", "left")
        .select(
            F.lit("h").alias("kind"), "id",
            F.coalesce("ph", F.lit(0.0)).alias("rank"),
        )
    )
    degh.unpersist()
    return out_v.unionByName(out_h), max_iters


def hyper_kcore(
    hg: HyperGraph,
    on_superstep=None,
) -> tuple[DataFrame, int]:
    """HyperKCore (``apps/hyper/HyperKCore.C:85-140``): peel vertices
    with induced degree < k for k = 1, 2, …; a hyperedge DIES the
    first time any member is removed (``Remove_Hyperedge``, cond
    ``Flags[d] == 0``), and each newly-dead hyperedge decrements its
    surviving members' degrees, clamped at k-1 (``Update_Deg`` with
    cond ``Degrees[d] >= k`` — sequential-dense semantics: decrements
    stop once the degree falls below k).  A vertex removed during
    phase k has core number k-1 (``Deg_LessThan_K`` writes k-1).

    Returns ((id, core) for all nv vertices, peel rounds run).

    Per round: one broadcast join flags newly-dead hyperedges, one
    broadcast join counts decrements — the removal frontier is small
    by construction, so both ride the sparse push path; 2 driver jobs
    per round (the two state advances).
    """
    degv = (
        hg.v2h.edges.groupBy("src")
        .agg(F.count(F.lit(1)).alias("deg"))
        .select(F.col("src").alias("id"), "deg")
    )
    init_v = (
        hg.vertices.join(degv, "id", "left")
        .select(
            "id",
            F.coalesce("deg", F.lit(0)).cast("long").alias("deg"),
            F.lit(None).cast("long").alias("core"),
        )
        .repartition(hg.num_partitions, "id")
    )
    stv = IterState(init_v, num_partitions=hg.num_partitions)
    sth = IterState(
        hg.hyperedges.select("id", F.lit(False).alias("dead")),
        num_partitions=hg.num_partitions,
    )
    k, rounds, n_active = 1, 0, hg.nv
    # every round peels >= 1 vertex or bumps k; removals <= nv and k
    # stops growing past the max vertex degree (<= nh incidences)
    max_rounds = hg.nv + hg.nh + 2
    while n_active > 0 and rounds < max_rounds:
        rounds += 1
        kc = F.lit(k)
        rm = stv.df.filter(F.col("core").isNull() & (F.col("deg") < kc)).select("id")
        # newly-dead hyperedges: contain a removed vertex, not yet dead.
        # ``newly`` is carried as a state column so the decrement
        # frontier reads the FRESH cache, not the unpersisted old plan.
        touched = vertex_prop(hg, rm, F.lit(1), F.min, frontier_size=0)
        new_h = sth.df.join(
            touched.select("id", F.lit(True).alias("_nd")), "id", "left"
        ).select(
            "id",
            (F.col("dead") | F.coalesce("_nd", F.lit(False))).alias("dead"),
            (~F.col("dead") & F.coalesce("_nd", F.lit(False))).alias("newly"),
        )
        _, (n_newly,) = sth.advance(new_h, F.count_if("newly"))
        # decrement surviving members of newly-dead hyperedges (clamped)
        cnt = hyperedge_prop(
            hg, sth.df.filter("newly").select("id"),
            F.lit(1), F.sum, frontier_size=n_newly,
        )
        new_v = stv.df.join(
            cnt.select("id", F.col("agg").alias("c")), "id", "left"
        ).select(
            "id",
            F.when(F.col("core").isNull() & (F.col("deg") < kc), kc - 1)
            .when(
                F.col("core").isNull(),
                F.greatest(F.col("deg") - F.coalesce("c", F.lit(0)), kc - 1),
            )
            .otherwise(F.col("deg"))
            .cast("long")
            .alias("deg"),
            F.when(F.col("core").isNull() & (F.col("deg") < kc), kc - 1)
            .otherwise(F.col("core"))
            .cast("long")
            .alias("core"),
        )
        prev_active = n_active
        _, (n_active,) = stv.advance(new_v, F.count_if(F.col("core").isNull()))
        n_removed = prev_active - n_active
        if on_superstep:
            on_superstep(rounds, {"k": k, "removed": n_removed, "active": n_active})
        if n_removed == 0:
            k += 1
    return stv.df.select("id", "core"), rounds


def hyper_bc(
    hg: HyperGraph,
    root: int = 0,
    on_superstep=None,
) -> tuple[DataFrame, int]:
    """HyperBC (``apps/hyper/HyperBC.C:106-178``): single-source
    betweenness over the bipartite incidence.  Forward phase —
    level-synchronous half-steps accumulating shortest-path counts
    (``BC_F``: sigma sums into unvisited nodes, visited marked per
    half-step).  Backward phase — dependency accumulation down the
    level DAG (``BC_Back_VtoH`` / ``BC_Back_HtoV``): vertices at each
    processed level get +1 (``BC_Back_Vertex_F``), hyperedges receive
    Σ depV/σV from the level above, vertices receive σV · Σ depH.

    The reference's visited-flag ordering has one quirk we replicate:
    in the FIRST backward iteration the hyperedges one level BELOW the
    deepest vertex level (case: forward ended on an empty vertex
    frontier) are still unmarked, so they receive Σ 1/σV from the
    deepest vertices even though nothing ever propagates onward from
    them — their dep is observable state (``HyperBC.C:150-158``: only
    ``Levels[round]`` is deleted before marking resumes).

    Returns ((kind, id, dep) over ALL nv + nh nodes — unreached nodes
    report 0.0, matching the zero-initialized reference arrays —
    and half-steps run across both phases).

    Plan shape: identical to ``hyper_bfs`` forward (one groupBy(dst)
    sum per half-step, frontier filtered by the level column) plus the
    same shape backward — the per-level frontiers the reference keeps
    as a vector of vertexSubsets (``HyperBC.C:124-127``) are recovered
    by filtering the level column, so no extra state is materialized.
    """
    stv = IterState(
        hg.vertices.select(
            "id",
            F.when(F.col("id") == root, F.lit(0)).cast("int").alias("level"),
            F.when(F.col("id") == root, F.lit(1.0)).otherwise(F.lit(0.0)).alias("sigma"),
        ),
        num_partitions=hg.num_partitions,
    )
    sth = IterState(
        hg.hyperedges.select(
            "id",
            F.lit(None).cast("int").alias("level"),
            F.lit(0.0).alias("sigma"),
        ),
        num_partitions=hg.num_partitions,
    )
    steps, fsize, vlvl = 0, 1, 0
    deepest_h = 0  # highest hyperedge level that received sigma
    while fsize > 0:
        # v -> h: sigma sums into unvisited hyperedges
        frontier = stv.df.filter(F.col("level") == vlvl).select("id", "sigma")
        msgs = vertex_prop(
            hg, frontier, F.col("sigma"), F.sum,
            frontier_size=fsize, extra_frontier_cols=("sigma",),
        )
        hlvl = vlvl + 1
        newh = sth.df.join(msgs_join_side(msgs, fsize, hg.nh), "id", "left").select(
            "id",
            F.when(F.col("level").isNull() & F.col("agg").isNotNull(), F.lit(hlvl))
            .otherwise(F.col("level"))
            .cast("int")
            .alias("level"),
            F.when(F.col("level").isNull() & F.col("agg").isNotNull(), F.col("agg"))
            .otherwise(F.col("sigma"))
            .alias("sigma"),
        )
        _, (fsize,) = sth.advance(newh, F.count_if(F.col("level") == hlvl))
        steps += 1
        if on_superstep:
            on_superstep(steps, {"phase": "fwd v->h", "frontier": fsize})
        if fsize == 0:
            break
        deepest_h = hlvl
        # h -> v: sigma sums into unvisited vertices
        hfrontier = sth.df.filter(F.col("level") == hlvl).select("id", "sigma")
        msgs = hyperedge_prop(
            hg, hfrontier, F.col("sigma"), F.sum,
            frontier_size=fsize, extra_frontier_cols=("sigma",),
        )
        nxt = hlvl + 1
        newv = stv.df.join(msgs_join_side(msgs, fsize, hg.nv), "id", "left").select(
            "id",
            F.when(F.col("level").isNull() & F.col("agg").isNotNull(), F.lit(nxt))
            .otherwise(F.col("level"))
            .cast("int")
            .alias("level"),
            F.when(F.col("level").isNull() & F.col("agg").isNotNull(), F.col("agg"))
            .otherwise(F.col("sigma"))
            .alias("sigma"),
        )
        _, (fsize,) = stv.advance(newv, F.count_if(F.col("level") == nxt))
        steps += 1
        if on_superstep:
            on_superstep(steps, {"phase": "fwd h->v", "frontier": fsize})
        if fsize > 0:
            vlvl = nxt
    d = vlvl  # deepest nonempty vertex level
    # ---- backward phase (HyperBC.C:150-178)
    st2v = IterState(
        stv.df.select(
            "id", "level", "sigma",
            F.when((F.col("level") == d) & F.lit(d >= 2), F.lit(1.0))
            .otherwise(F.lit(0.0))
            .alias("dep"),
        ),
        num_partitions=hg.num_partitions,
    )
    st2h = IterState(
        sth.df.select("id", "level", F.lit(0.0).alias("dep")),
        num_partitions=hg.num_partitions,
    )
    for r in range(d, 1, -2):
        steps += 1
        vf = st2v.df.filter(F.col("level") == r).select("id", "dep", "sigma")
        msgs = vertex_prop(
            hg, vf, F.col("dep") / F.col("sigma"), F.sum,
            extra_frontier_cols=("dep", "sigma"),
        )
        # receivers: level r-1 always; level r+1 only on the first
        # iteration (the not-yet-marked quirk — only exists when the
        # forward phase actually reached hyperedges past level d)
        recv = F.col("level") == r - 1
        if r == d and deepest_h == d + 1:
            recv = recv | (F.col("level") == d + 1)
        newh = st2h.df.join(msgs_join_side(msgs, None, hg.nh), "id", "left").select(
            "id", "level",
            F.when(recv, F.col("dep") + F.coalesce("agg", F.lit(0.0)))
            .otherwise(F.col("dep"))
            .alias("dep"),
        )
        st2h.advance(newh)
        hf = st2h.df.filter(F.col("level") == r - 1).select("id", "dep")
        msgs2 = hyperedge_prop(
            hg, hf, F.col("dep"), F.sum, extra_frontier_cols=("dep",)
        )
        plus1 = F.lit(1.0) if r - 2 >= 2 else F.lit(0.0)
        newv = st2v.df.join(msgs_join_side(msgs2, None, hg.nv), "id", "left").select(
            "id", "level", "sigma",
            F.when(
                F.col("level") == r - 2,
                F.col("dep")
                + F.col("sigma") * F.coalesce("agg", F.lit(0.0))
                + plus1,
            )
            .otherwise(F.col("dep"))
            .alias("dep"),
        )
        st2v.advance(newv)
        if on_superstep:
            on_superstep(steps, {"phase": "bwd", "level": r})
    out = _tagged_union(
        st2v.df.select("id", "dep"), st2h.df.select("id", "dep"), "dep"
    )
    return out, steps


def hyper_kcore_efficient(
    hg: HyperGraph,
    on_superstep=None,
) -> tuple[DataFrame, int]:
    """HyperKCore-Efficient (``apps/hyper/HyperKCore-Efficient.C:
    24-63`` — the Julienne-bucketed hypergraph coreness): bucket every
    vertex by its current induced degree D, repeatedly peel the
    smallest non-empty bucket k (those vertices' coreness is k), flag
    the hyperedges they kill (``Remove_Hyperedge`` — first member
    peeled), count newly-dead incident hyperedges per surviving
    member (``hyperedgePropCount``) and move it to bucket
    ``max(D - removed, k)`` (``apply_f``).  Work is proportional to
    incidences removed per step — no per-k full passes like the
    ``HyperKCore.C`` peel loop, which is why this is the scale path.

    Returns ((id, core) over all nv vertices, bucket steps run).
    Computes the same coreness as ``hyper_kcore`` (cross-checked in
    tests); the driver oracle is shared with it for that reason.

    Plan shape per step: one broadcast push (small peeled frontier →
    touched hyperedges), one groupBy(v) count of newly-dead pins —
    exactly the two half-shuffles of the plain ``kcore_julienne``
    superstep, plus the one-row driver min() for ``next_bucket``.
    """
    degv = (
        hg.v2h.edges.groupBy("src")
        .agg(F.count(F.lit(1)).alias("deg"))
        .select(F.col("src").alias("id"), "deg")
    )
    init_v = (
        hg.vertices.join(degv, "id", "left")
        .select(
            "id",
            F.coalesce("deg", F.lit(0)).cast("long").alias("deg"),
            F.coalesce("deg", F.lit(0)).cast("long").alias("bucket"),
        )
        .repartition(hg.num_partitions, "id")
    )
    stv = IterState(init_v, num_partitions=hg.num_partitions)
    sth = IterState(
        hg.hyperedges.select("id", F.lit(False).alias("dead")),
        num_partitions=hg.num_partitions,
    )
    b = Buckets()
    steps = 0
    while True:
        k = b.next_bucket(stv.df)
        if k is None:
            break
        steps += 1
        removed = b.active(stv.df, k).select("id")
        # pay the count: the first buckets can hold a large fraction
        # of all vertices (every min-degree vertex), so the
        # sparse/dense switch must see the real size — forcing the
        # broadcast path would funnel that bucket through the driver
        fsize = removed.count()
        # newly-dead hyperedges: any peeled member, not yet dead
        # (``newly`` carried as a state column, same pattern as
        # ``hyper_kcore``: the decrement frontier must read the FRESH
        # cache, not the about-to-unpersist old plan)
        touched = vertex_prop(hg, removed, F.lit(1), F.min, frontier_size=fsize)
        new_h = sth.df.join(
            touched.select("id", F.lit(True).alias("_nd")), "id", "left"
        ).select(
            "id",
            (F.col("dead") | F.coalesce("_nd", F.lit(False))).alias("dead"),
            (~F.col("dead") & F.coalesce("_nd", F.lit(False))).alias("newly"),
        )
        _, (n_newly,) = sth.advance(new_h, F.count_if("newly"))
        cnt = hyperedge_prop(
            hg, sth.df.filter("newly").select("id"),
            F.lit(1), F.sum, frontier_size=n_newly,
        )
        peel = F.col("bucket") == k
        live = F.col("bucket").isNotNull() & ~peel
        new_deg = F.greatest(F.col("deg") - F.coalesce("agg", F.lit(0)), F.lit(k))
        new_v = stv.df.join(msgs_join_side(cnt, n_newly, hg.nv), "id", "left").select(
            "id",
            F.when(live, new_deg).otherwise(F.col("deg")).cast("long").alias("deg"),
            F.when(peel, F.lit(None))
            .otherwise(F.when(live, new_deg).otherwise(F.col("bucket")))
            .cast("long")
            .alias("bucket"),
        )
        stv.advance(new_v)
        if on_superstep:
            on_superstep(steps, {"bucket": k, "peeled": fsize, "newly_dead": n_newly})
    return stv.df.select("id", F.col("deg").alias("core")), steps


def hyper_sssp(
    hg: HyperGraph,
    root: int = 0,
    max_iters: int | None = None,
    on_superstep=None,
) -> tuple[DataFrame, int]:
    """HyperSSSP (``apps/hyper/HyperSSSP.C:60-100``): Bellman-Ford
    relaxation alternating vertexProp / hyperedgeProp half-steps over
    a WEIGHTED incidence (one weight per pin, used in both
    directions — ``WeightedHyperReader.C`` semantics).  writeMin
    becomes the groupBy-min monoid; the frontier is the
    improved-this-half-step set (``BF_Relax_F``'s Visited CAS).

    Returns ((kind, id, dist) for REACHED nodes, half-steps run).
    Unreached nodes are absent (the reference leaves INT_MAX/2).
    Requires ``weight`` on the incidence (``from_incidence(...,
    weight_col=...)``).
    """
    stv = IterState(
        hg.vertices.select(
            "id",
            F.when(F.col("id") == root, F.lit(0)).cast("long").alias("dist"),
        ),
        num_partitions=hg.num_partitions,
    )
    sth = IterState(
        hg.hyperedges.select("id", F.lit(None).cast("long").alias("dist")),
        num_partitions=hg.num_partitions,
    )
    steps, fsize = 0, 1
    frontier = stv.df.filter(F.col("dist").isNotNull()).select("id", "dist")
    limit = max_iters if max_iters is not None else 2 * hg.nv
    while fsize > 0 and steps < limit:
        # vertex -> hyperedge relaxation
        msgs = vertex_prop(
            hg, frontier, F.col("dist") + F.col("weight"), F.min,
            frontier_size=fsize, extra_frontier_cols=("dist",),
        )
        newh = sth.df.join(msgs_join_side(msgs, fsize, hg.nh), "id", "left").select(
            "id",
            F.when(
                F.col("agg").isNotNull(),
                F.least(F.coalesce("dist", F.col("agg")), F.col("agg")),
            )
            .otherwise(F.col("dist"))
            .alias("dist"),
            (
                F.col("agg").isNotNull()
                & (F.col("dist").isNull() | (F.col("agg") < F.col("dist")))
            ).alias("improved"),
        )
        _, (fsize,) = sth.advance(newh, F.count_if("improved"))
        steps += 1
        if on_superstep:
            on_superstep(steps, {"phase": "v->h", "frontier": fsize})
        if fsize == 0:
            break
        # hyperedge -> vertex relaxation
        hfrontier = sth.df.filter("improved").select("id", "dist")
        msgs = hyperedge_prop(
            hg, hfrontier, F.col("dist") + F.col("weight"), F.min,
            frontier_size=fsize, extra_frontier_cols=("dist",),
        )
        newv = stv.df.join(msgs_join_side(msgs, fsize, hg.nv), "id", "left").select(
            "id",
            F.when(
                F.col("agg").isNotNull(),
                F.least(F.coalesce("dist", F.col("agg")), F.col("agg")),
            )
            .otherwise(F.col("dist"))
            .alias("dist"),
            (
                F.col("agg").isNotNull()
                & (F.col("dist").isNull() | (F.col("agg") < F.col("dist")))
            ).alias("improved"),
        )
        _, (fsize,) = stv.advance(newv, F.count_if("improved"))
        steps += 1
        frontier = stv.df.filter("improved").select("id", "dist")
        if on_superstep:
            on_superstep(steps, {"phase": "h->v", "frontier": fsize})
    out = _tagged_union(
        stv.df.filter(F.col("dist").isNotNull()).select("id", "dist"),
        sth.df.filter(F.col("dist").isNotNull()).select("id", "dist"),
        "dist",
    )
    return out, steps


def hyper_mis(
    hg: HyperGraph,
    inverse_prob: int = 3,
    max_rounds: int = 300,
    on_superstep=None,
) -> tuple[DataFrame, int]:
    """HyperMIS (Beame-Luby 1990; ``apps/hyper/HyperMIS.C:119-160``):
    per round, undecided vertices self-sample with probability
    1/inverse_prob via the reference's deterministic avalanche hash
    (``hashInt(id + numVerticesProcessed)``, ``utils.h:376-384``);
    a live hyperedge whose CURRENT members are ALL tentative vetoes
    them (``MIS_Reset_Neighbors`` — maximal independence = no
    hyperedge fully inside the set); survivors join the MIS; pins to
    decided-in vertices are packed away (``hyperedgeFilterNgh``), and
    a hyperedge down to ONE remaining member forces that member OUT
    if still undecided, then leaves the frontier
    (``Filter_Hyperedges``).

    Returns ((id, flag) for all nv vertices, rounds run): flag 1 =
    out, flag r >= 2 = joined the MIS in round r, 0 = undecided at
    the round cap (isolated-vertex tail only; expected rounds =
    log_{3/2}(nv)).

    Plan shape per round: the pin-state join + groupBy(h) fullness
    count is the one big shuffle; veto/forced sets are small and ride
    broadcast joins; BOTH states (vertex flags, live incidence)
    advance once per round with per-round transient caches so no
    subplan is computed twice.
    """
    from pyspark.storagelevel import StorageLevel

    from ..hashing import unsigned_mod_col, with_hash_int64

    # checkpoint_every=1: a round embeds vt/veto/packed several times
    # each into BOTH next states, so without a per-round logical-plan
    # cut the analyzer tree grows ~6x per round and OOMs the driver by
    # round ~8 even on tiny inputs (same rationale as setcover.py)
    stv = IterState(
        hg.vertices.select("id", F.lit(0).cast("long").alias("flag")),
        num_partitions=hg.num_partitions,
        checkpoint_every=1,
    )
    stinc = IterState(
        hg.v2h.edges.select(F.col("src").alias("v"), F.col("dst").alias("h")),
        num_partitions=hg.num_partitions,
        checkpoint_every=1,
    )
    processed, n_undecided, r, rounds = 0, hg.nv, 1, 0
    while n_undecided > 0 and rounds < max_rounds:
        r += 1
        rounds += 1
        # Random_Sample: hashInt(id + numVerticesProcessed) % p == 0
        vt = with_hash_int64(stv.df, F.col("id") + F.lit(processed), "hh")
        vt = vt.select(
            "id",
            "flag",
            (
                (F.col("flag") == 0)
                & (unsigned_mod_col(F.col("hh"), inverse_prob) == 0)
            ).alias("tent"),
        ).persist(StorageLevel.MEMORY_AND_DISK)
        processed += n_undecided
        inc = stinc.df
        pins = inc.join(
            vt.select(F.col("id").alias("v"), "tent"), "v"
        )
        # fullness count per live hyperedge (MIS_Count_Neighbors +
        # Check_Independence): all current members tentative -> veto
        hstat = pins.groupBy("h").agg(
            F.count(F.lit(1)).alias("deg"),
            F.sum(F.col("tent").cast("long")).alias("tcnt"),
        )
        full = hstat.filter(F.col("tcnt") == F.col("deg")).select("h")
        veto = (
            inc.join(F.broadcast(full), "h")
            .select(F.col("v").alias("id"))
            .distinct()
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        in_new = vt.filter("tent").join(veto, "id", "left_anti").select("id")
        # pack pins to freshly-decided-in members (hyperedgeFilterNgh)
        packed = inc.join(
            in_new.select(F.col("id").alias("v")), "v", "left_anti"
        ).persist(StorageLevel.MEMORY_AND_DISK)
        pdeg = packed.groupBy("h").agg(F.count(F.lit(1)).alias("deg")).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        forced = (
            packed.join(F.broadcast(pdeg.filter("deg = 1").select("h")), "h")
            .select(F.col("v").alias("id"))
            .distinct()
        )
        # advance the incidence FIRST: its plan reads the old vertex
        # cache, which stv.advance below is about to unpersist
        newinc = packed.join(pdeg.filter("deg >= 2").select("h"), "h").select(
            "v", "h"
        )
        stinc.advance(newinc)
        newv = (
            vt.join(in_new.select("id", F.lit(True).alias("_in")), "id", "left")
            .join(forced.select("id", F.lit(True).alias("_out")), "id", "left")
            .select(
                "id",
                F.when(F.col("flag") != 0, F.col("flag"))
                .when(F.coalesce("_in", F.lit(False)), F.lit(r))
                .when(F.coalesce("_out", F.lit(False)), F.lit(1))
                .otherwise(F.lit(0))
                .cast("long")
                .alias("flag"),
            )
        )
        _, (n_undecided,) = stv.advance(newv, F.count_if(F.col("flag") == 0))
        for t in (vt, veto, packed, pdeg):
            t.unpersist()
        if on_superstep:
            on_superstep(rounds, {"undecided": n_undecided})
    return stv.df.select("id", "flag"), rounds
