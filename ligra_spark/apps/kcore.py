"""K-core decomposition by iterative peeling — semantics of
``/root/reference/apps/KCore.C:44-55`` on a symmetric graph.  For
k = 1..max_k: repeatedly peel alive vertices with degree < k (they get
core number k-1) and decrement their alive neighbors' degrees via
``groupBy(dst).count()`` (the ``edgeMapCount`` pattern,
``ligra/edgeMapReduce.h:76-81``).  The fork caps ``max_k = min(n, 10)``
(``KCore.C:87``) — pass max_k=10 to reproduce that quirk; None peels to
completion (true core numbers).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..engine import IterState, edge_map

__all__ = ["kcore"]


def kcore(
    graph,
    max_k: int | None = None,
    on_superstep=None,
) -> tuple[DataFrame, int]:
    """Returns ((id, core) for all n vertices, peel supersteps run)."""
    kmax = max_k if max_k is not None else graph.n
    init = graph.out_degrees.select(
        "id",
        F.col("outdeg").alias("deg"),
        F.lit(None).cast("long").alias("core"),
    )
    st = IterState(init, num_partitions=graph.num_partitions)
    steps = 0

    def _phase_counts(k):
        """ONE materializing job per peel step: (peelable at k, alive,
        min alive degree) — loop and phase-transition decisions come
        from the same action that persists the state, instead of 2-3
        separate count jobs per step (the driver-sync tail cost)."""
        alive = F.col("core").isNull()
        return (
            F.sum((alive & (F.col("deg") < k)).cast("long")).alias("p_k"),
            F.sum(alive.cast("long")).alias("alive"),
            F.min(F.when(alive, F.col("deg"))).alias("min_deg"),
        )

    # seed counts for k=1 (one job on the initial state)
    row = st.df.agg(*_phase_counts(1)).first()
    psize, n_alive, min_deg = row["p_k"], row["alive"], row["min_deg"]
    k = 1
    while k <= kmax and n_alive > 0:
        if psize is not None and psize == 0:
            # nothing peelable at k: every alive vertex has deg >=
            # min_deg >= k, so phases up to min_deg peel nothing —
            # jump straight to the first non-empty one (semantically
            # identical to the reference's empty phases, which assign
            # no core numbers)
            k = min_deg + 1
            if k > kmax:
                break
            psize = None  # ">0, exact size unknown until next action"
            continue
        peel = st.df.filter(F.col("core").isNull() & (F.col("deg") < k))
        steps += 1
        msgs = edge_map(
            graph,
            peel.select("id"),
            message=F.lit(1).cast("long"),
            aggregate=F.sum,
            frontier_size=psize,
        )
        new = (
            st.df.join(msgs, "id", "left")
            .select(
                "id",
                (F.col("deg") - F.coalesce("agg", F.lit(0))).alias("deg"),
                F.when(
                    F.col("core").isNull() & (F.col("deg") < k), F.lit(k - 1)
                )
                .otherwise(F.col("core"))
                .alias("core"),
            )
        )
        _, row = st.advance(new, *_phase_counts(k))
        psize, n_alive, min_deg = row["p_k"], row["alive"], row["min_deg"]
        if on_superstep:
            on_superstep(steps, {"k": k, "remaining": psize})
    final = st.df.select(
        "id", F.coalesce("core", F.lit(kmax)).cast("long").alias("core")
    )
    return final, steps
