"""The superstep engine: Ligra's edgeMap / vertexMap / vertexFilter
(``/root/reference/ligra/ligra.h:233-459``) re-expressed as DataFrame
plans, plus the Spark-specific machinery the reference never needed —
lineage truncation and iterative-state persistence management.

Physical mapping (SURVEY.md §2.1, §4):

- ``edge_map``       — frontier ⋈ edges ON src → groupBy(dst).agg(monoid).
  The monoid aggregation IS Ligra's atomic-free histogram reduce
  (``ligra/histogram.h:68-232``): Spark's partial (map-side) + final
  hash aggregation is the distributed twin, and it also makes hub skew
  a non-issue for the reduce (partial aggs absorb hot dst keys before
  the shuffle).  Direction optimization (``ligra.h:237,261``): when the
  frontier is small we broadcast it (sparse push — no shuffle of the
  edge table, partition-local hash-join + partial agg); when it is
  large we rely on co-partitioned join reuse (dense — still no edge
  shuffle, because edges are pre-partitioned on src and state on id).
  Either way the ONLY per-superstep shuffle is the groupBy(dst).
  All four edge-map primitives build their join in ONE place,
  ``_frontier_join`` (``edge_map`` is the one-aggregate case of
  ``edge_map_multi``; induced/filter force its sparse branch), and
  every frontier-size threshold lives in the block above it.
- ``vertex_map``     — a column expression over the state DataFrame.
- ``vertex_filter``  — ``state.filter(pred)``  (``ligra.h:410-459``;
  Spark's filter is already pbbs::pack).
- ``IterState``      — runs each superstep as ONE Spark query that
  materializes the new state and computes the app's convergence
  aggregate (``advance(new, *aggs)`` → ``(df, Row)``).  In memory it
  persists the new state (or localCheckpoints it every
  ``checkpoint_every`` supersteps), runs ``agg(*aggs).first()``, and
  only then unpersists the previous state.  With a durable
  CheckpointManager (see ligra_spark.checkpoint) the parquet write IS
  that query: the aggregates are observed on the write, and the next
  superstep reads the written files.  The reference has no analog
  because shared-memory arrays have no lineage; in Spark an unbounded
  iterative plan is the #1 failure mode for 100-iteration PageRank.
  Default cadence is 4: the localCheckpoint disk write is the dominant
  FIXED per-superstep cost on convergence tails (small frontiers,
  full-state write), and cutting it 4x halved CC wall time at 165M
  edges while plan depth stays bounded at 2^4 state refs.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

__all__ = [
    "edge_map",
    "edge_map_multi",
    "edge_map_induced",
    "edge_map_filter",
    "pack_edges",
    "vertex_map",
    "vertex_filter",
    "IterState",
    "cut_lineage",
    "msgs_join_side",
    "frontier_is_sparse",
    "static_build_side",
    "sparse_tail_cut",
    "SPARSE_DENSE_FRACTION",
]

# ------------------------------------------------------------ thresholds
# Every "is the frontier small?" rule; apps call these, never a copy.

# Ligra switches sparse→dense when |frontier| + outdeg(frontier) > m/20
# (ligra/ligra.h:237).  Our analog: broadcast the frontier while its
# row count is below this fraction of m (broadcast cost ~ frontier
# size; dense co-partitioned join cost ~ state size).
SPARSE_DENSE_FRACTION = 1.0 / 20.0


def frontier_is_sparse(frontier_size: int | None, m: int) -> bool:
    """Edge-map direction: push sparse (broadcast) a frontier of known
    size ≤ max(1024, m/20); an unknown size (``None``) is dense."""
    return frontier_size is not None and frontier_size <= max(
        1024, int(SPARSE_DENSE_FRACTION * m)
    )


def static_build_side(table: DataFrame, n: int) -> DataFrame:
    """A static per-vertex table (degrees) joined every round: broadcast
    while it fits the 64 MB budget (16 B/row → 4M vertices), else
    shuffled-hash."""
    return F.broadcast(table) if n <= 4_000_000 else table.hint("shuffle_hash")


def sparse_tail_cut(n: int) -> int:
    """Frontier size at or below which a convergence tail writes only
    the changed rows (``IterState.advance_sparse``), not the n-row
    state: n/20, at least 1024, at most n/4."""
    return min(max(1024, n // 20), n // 4)


def msgs_join_side(msgs: DataFrame, frontier_size: int | None, n: int):
    """Hint policy for the per-superstep ``state ⋈ msgs`` join.

    Big frontiers: the shuffle_hash hint keeps the n-row state off the
    sort-merge path (sorting the state every superstep would dwarf the
    join).  Small frontiers: NO hint, deliberately — msgs is bounded
    by the frontier's fan-out, and with AQE on the runtime sees its
    actual size and broadcasts it, so the state stays an in-place
    cached scan instead of being shuffled n rows per superstep.  The
    n/64 cut keeps worst-typical fan-out (avg-degree × frontier)
    under the 64 MB broadcast threshold; a hub-heavy frontier that
    still overflows it just falls back to AQE's own choice at
    runtime.  This is the convergence-tail fix measured on
    components (2→8-core efficiency 0.34 → 0.56 on a 16M-edge rMat)
    generalized to every frontier app.  ``frontier_size=None`` (an
    all-active superstep) always hints."""
    if frontier_size is not None and frontier_size <= max(1024, n // 64):
        return msgs
    return msgs.hint("shuffle_hash")


# ------------------------------------------------------- frontier ⋈ edges
def _frontier_join(graph, frontier, frontier_cols, sparse: bool, in_edges=False):
    """frontier ⋈ edges ON src for every edge-map primitive; returns
    (f, e, joined).  The frontier is always the hinted LEFT side
    (broadcast when sparse, shuffled-hash build side otherwise) —
    perfbench reads the branch taken from exactly that shape."""
    edges = graph.edges_in if in_edges else graph.edges
    # re-alias edge columns to fresh exprIds: frontier state usually
    # derives from the same edge table (degrees), which would otherwise
    # trip Spark's ambiguous-self-join check
    salted = getattr(graph, "salt_buckets", 1) > 1 and "salt" in edges.columns
    ecols = [F.col("src").alias("src"), F.col("dst").alias("dst")] + (
        [F.col("weight").alias("weight")] if "weight" in edges.columns else []
    ) + ([F.col("salt").alias("salt")] if salted else [])
    e = edges.select(*ecols)
    f = frontier.select("id", *frontier_cols)
    if sparse:
        # sparse push: broadcast the small frontier — no edge movement
        # (edge partitioning, salted or not, is irrelevant to a BHJ)
        f = F.broadcast(f)
        cond = f["id"] == e["src"]
    elif salted:
        # dense over a salted layout: replicate the frontier k ways so
        # the join stays co-partitioned with the (src, salt) buckets —
        # a hub's edges are spread over k tasks instead of one straggler
        f = f.select(
            "*",
            F.explode(F.sequence(F.lit(0), F.lit(graph.salt_buckets - 1))).alias(
                "fsalt"
            ),
        ).hint("shuffle_hash")
        cond = (f["id"] == e["src"]) & (f["fsalt"] == e["salt"])
    else:
        # dense: shuffled-hash join, frontier as build side.  Broadcast
        # would funnel the full vertex state through the driver (a
        # constant, serial cost that kills N→4N scaling, and an
        # impossibility at 10^12 vertices); SHJ shuffles only the
        # n-row state in parallel while the cached m-row edge table
        # never moves (it is already hash(src)-partitioned).
        f = f.hint("shuffle_hash")
        cond = f["id"] == e["src"]
    return f, e, f.join(e, cond)


def edge_map(
    graph,
    frontier: DataFrame,
    message: Column,
    aggregate,
    frontier_size: int | None = None,
    in_edges: bool = False,
    extra_frontier_cols: tuple[str, ...] = (),
    group_frontier_cols: tuple[str, ...] = (),
) -> DataFrame:
    """One gather-scatter pass: returns (id, agg) for every vertex that
    received at least one message — the one-aggregate case of
    :func:`edge_map_multi`.

    frontier  : DataFrame with an ``id`` column (+ payload columns used
                by ``message``) — sparse vertexSubset analog.
    message   : Column over the joined (frontier ⋈ edges) row; may
                reference frontier payload cols, ``src``, ``dst``,
                ``weight``.
    aggregate : callable(Column) -> Column, the monoid (F.sum, F.min,
                F.max, F.bit_or, ...) — replaces updateAtomic
                (writeAdd/writeMin/writeOr, ``ligra/utils.h:305-333``).
    frontier_size : pass the known count to drive the sparse/dense
                broadcast decision without an extra job (Ligra computes
                the same from cached degrees, ``ligra.h:248-261``).
    group_frontier_cols : see :func:`edge_map_multi`.
    """
    return edge_map_multi(
        graph, frontier, [("agg", message, aggregate)], frontier_size,
        in_edges, extra_frontier_cols, group_frontier_cols,
    )


def edge_map_multi(
    graph,
    frontier: DataFrame,
    aggs: list,
    frontier_size: int | None = None,
    in_edges: bool = False,
    extra_frontier_cols: tuple[str, ...] = (),
    group_frontier_cols: tuple[str, ...] = (),
) -> DataFrame:
    """edge_map with a VECTOR monoid: ``aggs`` is a list of
    ``(name, message_col, aggregate_fn)`` triples reduced in the SAME
    single groupBy(dst) shuffle — the plan twin of Ligra's
    ``edgeMapReduce`` over a tuple payload (``edgeMapReduce.h:57-74``
    with a struct monoid).  Returns (id, <group cols>..., <name>...)
    for every vertex that received at least one message.  Used by apps
    whose per-vertex state is a small fixed vector (LogLog registers,
    CF latent dims).

    group_frontier_cols : frontier payload columns ADDED to the
                groupBy key — batched multi-instance runs (one logical
                frontier per seed/sample sharing one physical pass,
                e.g. multi-seed PPR) aggregate per (col..., dst) in
                the same single shuffle.  Must be listed in
                ``extra_frontier_cols``."""
    f, e, joined = _frontier_join(
        graph, frontier, extra_frontier_cols,
        frontier_is_sparse(frontier_size, graph.m), in_edges,
    )
    projected = joined.select(
        e["dst"].alias("_dst"),
        *[f[c] for c in group_frontier_cols],
        *[msg.alias(f"_m_{name}") for name, msg, _ in aggs],
    )
    return projected.groupBy(F.col("_dst").alias("id"), *group_frontier_cols).agg(
        *[agg(F.col(f"_m_{name}")).alias(name) for name, _, agg in aggs]
    )


def edge_map_induced(
    graph, frontier: DataFrame, select_cols=None, in_edges: bool = False
) -> DataFrame:
    """One-hop neighborhood as a multiset — no dedup, no aggregation
    (``edgeMapInduced``, ``ligra/edgeMapReduce.h:9-38``).  Returns the
    joined (id, src, dst, ...) rows; callers aggregate or project."""
    _, _, out = _frontier_join(graph, frontier, (), sparse=True, in_edges=in_edges)
    return out.select(*(select_cols or ["src", "dst"]))


def edge_map_filter(graph, frontier: DataFrame, pred: Column) -> DataFrame:
    """Count surviving out-neighbors per frontier vertex under ``pred``
    (``edgeMapFilter``, ``ligra/ligra.h:336-368``): returns
    (id, degree).  Counts only — does not mutate the graph."""
    _, _, out = _frontier_join(graph, frontier, (), sparse=True)
    return (
        out.filter(pred)
        .groupBy(F.col("src").alias("id"))
        .agg(F.count(F.lit(1)).alias("degree"))
    )


def pack_edges(graph, pred: Column):
    """Physically remove edges failing ``pred`` (``packEdges``,
    ``ligra/ligra.h:288-334``).  Where Ligra compacts adjacency arrays
    in place, we build a NEW LinkGraph over the filtered edge table —
    the immutable-dataset analog (the old graph's cache is dropped)."""
    from .graph import LinkGraph

    filtered = graph.edges.filter(pred).select(
        *[c for c in ("src", "dst", "weight") if c in graph.edges.columns]
    )
    return LinkGraph.from_edges(
        graph.spark,
        filtered,
        n=graph.n,
        num_partitions=graph.num_partitions,
        symmetric=False,
        salt_buckets=graph.salt_buckets,
    )


def cut_lineage(df: DataFrame) -> DataFrame:
    """localCheckpoint that ALSO resets plan statistics — for loops
    whose per-round plan references the previous round many times.

    ``Dataset.localCheckpoint`` truncates the logical plan but copies
    the origin plan's computed statistics onto the new leaf
    (``LogicalRDD.fromDataset`` keeps ``originStats`` so join
    strategies keep working across a checkpoint).  In a loop whose
    round-N plan joins round-N−1 against itself k times, sizeInBytes
    is a PRODUCT of k copies of the previous leaf's stat, so its
    BigInt bit-length grows k-fold per round and the driver ends up
    burning whole rounds inside ``BigInteger.multiply`` under
    ``SizeInBytesOnlyStatsPlanVisitor`` (observed at k≈16 in the
    k-truss peel: round 13 spent 77 s off-stage in Toom-Cook-3
    multiplies of million-bit stats).  Re-rooting the checkpointed
    RDD in a fresh ``LogicalRDD`` without originStats pins every
    round's leaf back to the 63-bit default.

    Plain ``IterState`` supersteps don't need this: their plans
    reference cached state 1-2×, so bit-lengths ADD per superstep
    (linear), and persisted leaves re-root stats at the materialized
    ``InMemoryRelation`` anyway.  Falls back to the plain checkpoint
    if the internal constructor is unavailable."""
    ck = df.localCheckpoint(eager=False)
    try:
        spark = df.sparkSession
        jdf = ck._jdf
        jds = spark._jsparkSession.internalCreateDataFrame(
            jdf.queryExecution().toRdd(), jdf.schema(), False
        )
        return DataFrame(jds, spark)
    except Exception:  # pragma: no cover - private-API drift
        return ck


def vertex_map(state: DataFrame, **cols: Column) -> DataFrame:
    """Apply column updates to every state row (``ligra.h:374-406``)."""
    return state.withColumns(dict(cols))


def vertex_filter(state: DataFrame, pred: Column) -> DataFrame:
    """Keep rows where pred (``ligra.h:410-459``)."""
    return state.filter(pred)


def _count_row() -> tuple[Column, ...]:
    # advance's aggregate when the caller names none: the row count
    return (F.count(F.lit(1)).alias("count"),)


@dataclass
class IterState:
    """Superstep state manager: persistence + lineage truncation.

    Usage:
        st = IterState(initial_df, num_partitions=g.num_partitions)
        while ...:
            new = <plan over st.df>
            new, (fsize,) = st.advance(new, F.count_if("in_frontier"))
        result = st.df
    """

    df: DataFrame
    num_partitions: int
    checkpoint_every: int = 4
    storage_level: StorageLevel = field(
        default_factory=lambda: StorageLevel.MEMORY_AND_DISK
    )
    manager: object | None = None  # optional ligra_spark.checkpoint.CheckpointManager
    name: str = "state"
    superstep: int = 0

    def __post_init__(self):
        self.df = self.df.persist(self.storage_level)
        # sparse-tail bookkeeping (advance_sparse): _base is the last
        # fully-materialized state, _overlay the accumulated changed
        # rows since (latest-wins by id); df is their composition
        self._base: DataFrame | None = None
        self._overlay: DataFrame | None = None
        self._overlay_steps = 0
        self._retired: list[DataFrame] = []

    def advance(self, new_df: DataFrame, *aggs: Column, metrics: dict | None = None):
        """Materialize the next superstep's state and compute ``aggs``
        (single-row aggregate Columns — the convergence sum or next
        frontier size, e.g. ``F.count_if("changed")``) over it in ONE
        Spark query, and only THEN drop the previous superstep's cache.
        With no ``aggs`` the Row holds the row count.

        Ordering is load-bearing: the new state's plan references the
        old cached state; unpersisting before materialization would
        recompute the entire superstep chain from the source — a
        quadratic blowup over 100 supersteps.

        With a checkpoint manager the query is the durable parquet
        write (``CheckpointManager.save`` observes ``aggs`` on it and
        records them with ``metrics`` in the step's ``_META.json``);
        the returned state is rooted at the written files, so the next
        superstep reads them instead of a second, cached copy.

        Returns (new_df, Row of the aggregates).
        """
        self.superstep += 1
        aggs = aggs or _count_row()
        old = self.df
        if self.manager is not None:
            # durable parquet checkpoint: truncates lineage AND makes the
            # run resumable (north rule)
            new_df, row = self.manager.save(
                new_df, self.name, self.superstep, metrics or {},
                num_partitions=self.num_partitions, aggs=aggs,
            )
        else:
            if self.superstep % self.checkpoint_every == 0:
                # eager localCheckpoint: materializes AND cuts the LOGICAL
                # plan.  Without the cut, each superstep's plan embeds the
                # previous one twice (frontier side + state side of the
                # join) — exponential plan growth that OOMs the analyzer
                # around superstep ~30 even though execution reads caches.
                # lazy: the checkpoint materializes inside the agg's job
                # below — one job per superstep instead of two
                new_df = new_df.localCheckpoint(eager=False)
            else:
                new_df = new_df.persist(self.storage_level)
            # materialize the new state while the old cache is still live
            row = new_df.agg(*aggs).first()
        self.df = new_df
        old.unpersist()
        self._drop_sparse_caches()
        return new_df, row

    # ---------------------------------------------------------- sparse tail
    def advance_sparse(self, changes_df: DataFrame, *aggs: Column):
        """Advance by CHANGED ROWS ONLY (frontier-delta state).

        On a convergence tail the frontier is tiny but ``advance``
        still writes the full n-row state every superstep — the
        dominant fixed cost the round-1 scaling runs measured.  Here
        only ``changes_df`` (rows whose values differ this superstep,
        full column schema) is persisted; the logical state becomes
        ``base ∪ overlay`` with latest-wins-by-id overlay semantics.
        Every ``checkpoint_every`` sparse steps the composition is
        compacted into a fresh full base, bounding both plan depth and
        the overlay read cost.  The reference has no analog (arrays
        mutate in place); this is the Spark-native equivalent of
        writing only the dirty cache lines.

        Returns (state_view_df, Row) — ``aggs`` are computed over the
        materialized ``changes_df`` (no ``aggs``: its row count, the
        next frontier size).
        """
        self.superstep += 1
        if self._base is None:
            self._base = self.df
        # localCheckpoint, not persist: the changes plan embeds the
        # composed view (which embeds the overlay chain) ~3x per step,
        # so caching alone leaves an exponentially-growing LOGICAL plan
        # that chokes the analyzer within a handful of supersteps.  The
        # checkpoint truncates the plan AND only writes the changed
        # rows — which is the whole point of the sparse tail.
        changes_df = changes_df.localCheckpoint(eager=False)
        result = changes_df.agg(*(aggs or _count_row())).first()
        if self._overlay is None:
            new_overlay = changes_df
        else:
            # latest wins: this superstep's rows shadow accumulated ones
            new_overlay = changes_df.unionByName(
                self._overlay.join(changes_df.select("id"), "id", "left_anti")
            ).persist(self.storage_level)
            # keep the constituent caches alive until compaction — the
            # union's plan reads them; unpersisting now would recompute
            self._retired.append(self._overlay)
        self._retired.append(changes_df)
        self._overlay = new_overlay
        self._overlay_steps += 1
        view = self._base.join(new_overlay.select("id"), "id", "left_anti").unionByName(
            new_overlay
        )
        if self._overlay_steps >= self.checkpoint_every:
            # compact: one full-state write per k sparse steps instead
            # of one per superstep
            view = view.localCheckpoint(eager=False)
            view.count()
            old_base = self._base
            self.df = view
            self._base = view
            self._overlay = None
            self._overlay_steps = 0
            old_base.unpersist()
            for df in self._retired:
                df.unpersist()
            self._retired = []
        else:
            self.df = view
        return self.df, result

    def _drop_sparse_caches(self):
        if self._base is not None and self._base is not self.df:
            self._base.unpersist()
        for df in self._retired:
            df.unpersist()
        self._base, self._overlay = None, None
        self._overlay_steps, self._retired = 0, []
