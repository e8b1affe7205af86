"""Hypergraph engine — Hygra's bipartite vertexProp / hyperedgeProp
(``/root/reference/ligra/hygra.h:36-37``, engine ``hygra.h:43-375``)
re-expressed over a two-direction incidence table.

The reference stores a hypergraph as two CSR halves (vertex→incident
hyperedges and hyperedge→member vertices, ``ligra/graph.h:130-170``
with sizes nv/mv/nh/mh); here the incidence relation is ONE DataFrame
``(vertex, hedge)`` pinned twice — once hash-partitioned on ``vertex``
(the v→h direction) and once on ``hedge`` (h→v).  Each direction is a
graph-shim that plugs straight into ``engine.edge_map``, so
``vertexProp`` / ``hyperedgeProp`` inherit the whole superstep plan:
broadcast-frontier sparse push, shuffled-hash dense path, and the
single groupBy(dst) monoid shuffle per half-step.

At 100 TB the incidence table is the natural Iceberg layout (bucketed
by vertex and by hyperedge respectively); nothing here materializes
per-hyperedge member lists, so hub hyperedges (a page linked by
millions) spread across partitions exactly like hub vertices do in
the plain-graph engine.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from .engine import edge_map

__all__ = ["HyperGraph", "vertex_prop", "hyperedge_prop"]


@dataclass
class _Direction:
    """One direction of the incidence, shaped like a LinkGraph for
    ``engine.edge_map``: its one frontier ⋈ edges join reads only
    edges and salt_buckets, and the direction rule
    (``engine.frontier_is_sparse``) reads m."""

    edges: DataFrame
    m: int
    salt_buckets: int = 1


@dataclass
class HyperGraph:
    """A loaded bipartite hypergraph (``hypergraph<vertex>``,
    ``ligra/graph.h:130-170``): nv vertex slots, nh hyperedge slots,
    m incidence pairs."""

    spark: SparkSession
    nv: int
    nh: int
    m: int
    num_partitions: int
    v2h: _Direction
    h2v: _Direction

    @classmethod
    def from_incidence(
        cls,
        spark: SparkSession,
        inc: DataFrame,
        nv: int | None = None,
        nh: int | None = None,
        num_partitions: int | None = None,
        vertex_col: str = "vertex",
        hedge_col: str = "hedge",
        weight_col: str | None = None,
    ) -> "HyperGraph":
        """Pin an incidence DataFrame.  Duplicate (vertex, hedge) rows
        are removed (membership is a set, ``hygra.h`` CSR semantics).
        ``weight_col`` (optional) attaches a per-incidence weight used
        in BOTH directions — the undirected weighted hypergraph of
        ``WeightedHyperReader.C`` (one weight per pin)."""
        p = num_partitions or spark.sparkContext.defaultParallelism
        wcols = (
            [F.col(weight_col).cast("long").alias("weight")] if weight_col else []
        )
        base = (
            inc.select(
                F.col(vertex_col).cast("long").alias("vertex"),
                F.col(hedge_col).cast("long").alias("hedge"),
                *wcols,
            )
            .dropDuplicates(["vertex", "hedge"])
        )
        w = [F.col("weight")] if weight_col else []
        fwd = (
            base.select(
                F.col("vertex").alias("src"), F.col("hedge").alias("dst"), *w
            )
            .repartition(p, "src")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        rev = (
            base.select(
                F.col("hedge").alias("src"), F.col("vertex").alias("dst"), *w
            )
            .repartition(p, "src")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        m = fwd.count()
        if nv is None:
            nv = fwd.agg(F.max("src")).first()[0] + 1
        if nh is None:
            nh = rev.agg(F.max("src")).first()[0] + 1
        return cls(
            spark=spark, nv=int(nv), nh=int(nh), m=int(m), num_partitions=p,
            v2h=_Direction(fwd, int(m)), h2v=_Direction(rev, int(m)),
        )

    @classmethod
    def from_directed_incidence(
        cls,
        spark: SparkSession,
        in_pins: DataFrame,
        out_pins: DataFrame,
        nv: int | None = None,
        nh: int | None = None,
        num_partitions: int | None = None,
        vertex_col: str = "vertex",
        hedge_col: str = "hedge",
    ) -> "HyperGraph":
        """DIRECTED hypergraph (``ligra/graph.h:130-170`` keeps
        separate in/out CSR halves per hyperedge; ``HyperReader.C``
        reads them independently): ``in_pins`` are the vertices whose
        visits gate a hyperedge (its v→h direction), ``out_pins`` the
        vertices it scatters to (h→v).  Needed by B-path semantics
        (``HyperBPath.C``) where the two pin sets genuinely differ —
        the undirected ``from_incidence`` pins one set both ways."""
        p = num_partitions or spark.sparkContext.defaultParallelism

        def _clean(df: DataFrame) -> DataFrame:
            return df.select(
                F.col(vertex_col).cast("long").alias("vertex"),
                F.col(hedge_col).cast("long").alias("hedge"),
            ).dropDuplicates(["vertex", "hedge"])

        inp, outp = _clean(in_pins), _clean(out_pins)
        fwd = (
            inp.select(F.col("vertex").alias("src"), F.col("hedge").alias("dst"))
            .repartition(p, "src")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        rev = (
            outp.select(F.col("hedge").alias("src"), F.col("vertex").alias("dst"))
            .repartition(p, "src")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        mv, mh = fwd.count(), rev.count()
        if nv is None:
            nv = (
                max(
                    fwd.agg(F.max("src")).first()[0] or 0,
                    rev.agg(F.max("dst")).first()[0] or 0,
                )
                + 1
            )
        if nh is None:
            nh = (
                max(
                    fwd.agg(F.max("dst")).first()[0] or 0,
                    rev.agg(F.max("src")).first()[0] or 0,
                )
                + 1
            )
        return cls(
            spark=spark, nv=int(nv), nh=int(nh), m=int(mv + mh),
            num_partitions=p,
            v2h=_Direction(fwd, int(mv)), h2v=_Direction(rev, int(mh)),
        )

    @property
    def vertices(self) -> DataFrame:
        return self.spark.range(self.nv).select(F.col("id").cast("long").alias("id"))

    @property
    def hyperedges(self) -> DataFrame:
        return self.spark.range(self.nh).select(F.col("id").cast("long").alias("id"))


def vertex_prop(
    hg: HyperGraph,
    frontier: DataFrame,
    message: Column,
    aggregate,
    frontier_size: int | None = None,
    extra_frontier_cols: tuple[str, ...] = (),
) -> DataFrame:
    """vertexProp (``hygra.h:36``): frontier VERTICES scatter along
    incidence to their hyperedges; returns (id=hyperedge, agg)."""
    return edge_map(
        hg.v2h, frontier, message, aggregate,
        frontier_size=frontier_size, extra_frontier_cols=extra_frontier_cols,
    )


def hyperedge_prop(
    hg: HyperGraph,
    frontier: DataFrame,
    message: Column,
    aggregate,
    frontier_size: int | None = None,
    extra_frontier_cols: tuple[str, ...] = (),
) -> DataFrame:
    """hyperedgeProp (``hygra.h:37``): frontier HYPEREDGES scatter to
    their member vertices; returns (id=vertex, agg)."""
    return edge_map(
        hg.h2v, frontier, message, aggregate,
        frontier_size=frontier_size, extra_frontier_cols=extra_frontier_cols,
    )
