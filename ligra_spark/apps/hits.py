"""HITS (hubs & authorities) over the directed link graph.

Not in the reference (Ligra ships PageRank only); added because HITS
is the other canonical web-link-analysis fixpoint and it exercises the
engine's BOTH traversal directions in one superstep — the forward
gather (``edge_map``) for authorities and the transposed gather
(``edge_map(in_edges=True)``, the ``graph.h:119-127`` flipEdges twin)
for hubs.

Exact computation shape (what the tests and the SQL oracle
transcribe):

    hub_raw_0[v]  = 1.0 for every vertex slot
    per iteration t = 1..k:
        auth_raw_t[v] = sum over in-edges (u→v) of hub_raw_{t-1}[u] / sh_{t-1}
        hub_raw_t[u]  = sum over out-edges (u→v) of auth_raw_t[v]
        sa_t = sum_v auth_raw_t[v],  sh_t = sum_u hub_raw_t[u]
    outputs: auth = auth_raw_k / sa_k, hub = hub_raw_k / sh_k

(sh_0 = 1.)  This is Kleinberg's power iteration with L1
normalization folded into scalar divisions: because every value is
non-negative, dividing by the collected sums is algebraically
identical to normalizing each vector before the next matvec, but it
keeps the plan at exactly two shuffles and ONE driver action per
iteration (the action returns both sums, which become literals in the
next superstep's plan).  Vertices with no in-edges get authority 0;
no out-edges → hub 0.

Physical plan per superstep:
    state(id, auth_raw, hub_raw)            [hash(id), persisted]
    auth msgs: state ⋈ edges ON id=src      → groupBy(dst).agg(sum)   [shuffle 1]
    hub  msgs: auth  ⋈ edges_in ON id=src   → groupBy(dst).agg(sum)   [shuffle 2]
    both joined back to the vertex universe [co-partitioned, no exchange]
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..engine import IterState, edge_map

__all__ = ["hits"]


def hits(
    graph,
    iters: int = 10,
    checkpoint_mgr=None,
    checkpoint_every: int = 4,
    resume: bool = False,
    name: str = "hits",
    on_superstep=None,
) -> tuple[DataFrame, int]:
    """Returns ((id, auth, hub) DataFrame over all n vertex slots,
    supersteps run).  Fixed iteration count (HITS has no natural
    monotone frontier; convergence tests belong to the caller)."""
    it = 0
    sh = 1.0  # L1 sum of hub_raw from the previous superstep
    sa = None
    if resume and checkpoint_mgr is not None and checkpoint_mgr.latest_step(name):
        it = checkpoint_mgr.latest_step(name)
        st_df = checkpoint_mgr.load(name, it, graph.num_partitions)
        # the normalizers are sums OVER the saved state — recompute
        # them with one agg instead of trusting side-channel metadata
        row = st_df.agg(F.sum("auth_raw").alias("sa"), F.sum("hub_raw").alias("sh")).first()
        sa, sh = float(row["sa"]), float(row["sh"])
    else:
        st_df = graph.vertices.select(
            "id", F.lit(0.0).alias("auth_raw"), F.lit(1.0).alias("hub_raw")
        )
    st = IterState(
        st_df,
        num_partitions=graph.num_partitions,
        checkpoint_every=checkpoint_every,
        manager=checkpoint_mgr,
        name=name,
        superstep=it,
    )
    while it < iters:
        it += 1
        # authority gather: sum of (normalized) hub over in-edges
        amsg = edge_map(
            graph,
            st.df.select("id", (F.col("hub_raw") / F.lit(sh)).alias("h")),
            message=F.col("h"),
            aggregate=F.sum,
            extra_frontier_cols=("h",),
        )
        auth = (
            graph.vertices.join(amsg.hint("shuffle_hash"), "id", "left")
            .select("id", F.coalesce("agg", F.lit(0.0)).alias("auth_raw"))
        )
        # hub gather: sum of auth over OUT-edges = gather along the
        # transposed adjacency (edge_map over edges_in groups by the
        # original src)
        hmsg = edge_map(
            graph,
            auth.select("id", F.col("auth_raw").alias("a")),
            message=F.col("a"),
            aggregate=F.sum,
            in_edges=True,
            extra_frontier_cols=("a",),
        )
        new = (
            auth.join(hmsg.hint("shuffle_hash"), "id", "left")
            .select("id", "auth_raw", F.coalesce("agg", F.lit(0.0)).alias("hub_raw"))
        )
        new, row = st.advance(
            new,
            F.sum("auth_raw").alias("sa"),
            F.sum("hub_raw").alias("sh"),
            metrics={"superstep": it},
        )
        sa, sh = float(row["sa"]), float(row["sh"])
        if on_superstep:
            on_superstep(it, {"sa": sa, "sh": sh})
    out = st.df.select(
        "id",
        F.try_divide("auth_raw", F.lit(sa)).alias("auth")
        if sa is not None
        else F.col("auth_raw").alias("auth"),
        F.try_divide("hub_raw", F.lit(sh)).alias("hub"),
    )
    return out, it
