"""BFS level sets — semantics of ``/root/reference/apps/BFS.C:42-53``.

The reference stores first-visitor PARENT ids, which are race-dependent
(CAS at ``BFS.C:33-35``); the race-free invariant is the level
assignment, which we output (SURVEY.md §2.2 atomics note).  cond =
"unvisited" (``BFS.C:37``) is evaluated as a null-level guard on the
state join — the plan-level analog of Ligra's early-exit cond check
(``ligra/vertex.h:26``).

State shape: one (id, level) row per vertex slot (level NULL =
unvisited), advanced once per round — exactly one shuffle (the
groupBy(dst) of the frontier expansion) plus the state join per
superstep, with the frontier side broadcast while small (the sparse
push direction, ``ligra.h:261``).

``_level_bfs`` is the ONE level-synchronous BFS loop: ``bfs_levels``
runs it from one root, and the eccentricity apps (``apps.ecc_tk``,
``apps.ecc_rv``/``ecc_clrstv``, ``ecc_simple_approx``) run it from
one source per component (waves cannot cross components, so one
shared level column holds every component's distances).  Callers
supply only the initial levels and the true first-frontier size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..engine import IterState, edge_map, msgs_join_side

__all__ = ["bfs_levels"]


def _level_bfs(
    graph,
    init: DataFrame,
    fsize: int,
    max_iters: int | None = None,
    on_superstep=None,
) -> tuple[IterState, int, int]:
    """Level BFS from ``init (id, level)`` — level 0 on the sources,
    NULL elsewhere — with ``fsize`` = the source count (0 runs no
    superstep).  Returns (the IterState, whose ``.df`` holds every
    vertex's level and whose cache the caller frees; the deepest level
    reached; supersteps run, which counts the final superstep that
    finds no new vertex)."""
    st = IterState(init, num_partitions=graph.num_partitions)
    lvl = steps = 0
    limit = max_iters if max_iters is not None else graph.n
    while fsize > 0 and lvl < limit:
        steps += 1
        frontier = st.df.filter(F.col("level") == lvl).select("id")
        msgs = edge_map(
            graph,
            frontier,
            message=F.lit(1),
            aggregate=F.min,
            frontier_size=fsize,
        )
        nxt = lvl + 1
        new = (
            st.df.join(msgs_join_side(msgs, fsize, graph.n), "id", "left")
            .select(
                "id",
                F.when(
                    F.col("level").isNull() & F.col("agg").isNotNull(), F.lit(nxt)
                )
                .otherwise(F.col("level"))
                .cast("int")
                .alias("level"),
            )
        )
        new, (fsize,) = st.advance(new, F.count_if(F.col("level") == nxt))
        if fsize > 0:
            lvl = nxt
            if on_superstep:
                on_superstep(lvl, {"frontier": fsize})
    return st, lvl, steps


def _source_levels(graph, sources: DataFrame) -> DataFrame:
    """``_level_bfs``'s init from a sources table with an ``id``
    column: level 0 on the sources, NULL elsewhere."""
    return graph.vertices.join(
        sources.select("id", F.lit(0).alias("level")), "id", "left"
    ).select("id", F.col("level").cast("int").alias("level"))


def bfs_levels(
    graph,
    root: int = 0,
    max_iters: int | None = None,
    on_superstep=None,
) -> tuple[DataFrame, int]:
    """Returns ((id, level) for REACHED vertices only, levels run).
    Unreached vertices are absent (the numpy oracle marks them -1)."""
    init = graph.vertices.select(
        "id",
        F.when(F.col("id") == root, F.lit(0)).otherwise(F.lit(None)).cast("int").alias(
            "level"
        ),
    )
    st, lvl, _ = _level_bfs(graph, init, 1, max_iters, on_superstep)
    return st.df.filter(F.col("level").isNotNull()).select("id", "level"), lvl
