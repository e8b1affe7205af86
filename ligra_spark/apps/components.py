"""Connected components + shortcutting label propagation — semantics of
``/root/reference/apps/Components.C:52-68`` and
``/root/reference/apps/Components-Shortcut.C:61-81`` (WSDM'18).

Both require a symmetric edge table (README.md:63-64 — run with ``-s``)
and converge to label = min vertex id in the component (exact-match
deliverable).  The frontier SHRINKS monotonically, so the engine's
sparse path (broadcast frontier) dominates late supersteps — the
direction optimization that defines Ligra (``ligra.h:261``).

Per-superstep plan: one shuffle for components (the groupBy(dst) min);
label propagation adds one more (the pointer-jump self-join on label)
but converges in O(log diameter)-ish rounds on web graphs instead of
O(diameter).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..engine import IterState, edge_map, msgs_join_side, sparse_tail_cut

__all__ = ["components", "label_propagation"]


def components(
    graph,
    max_iters: int = 10_000,
    checkpoint_mgr=None,
    checkpoint_every: int = 4,
    resume: bool = False,
    name: str = "components",
    on_superstep=None,
    edge_map_fn=edge_map,
    star_fallback_after: int | None = 16,
) -> tuple[DataFrame, int]:
    """Min-label propagation to fixpoint.  Returns ((id, component), rounds).

    A vertex re-enters the frontier iff its label changed this round
    (``Components.C:30-39``); loop until the frontier empties
    (``Components.C:62-67``).  With ``resume=True`` and a checkpoint
    manager, continues from the latest committed superstep (the state
    rows carry the ``changed`` frontier flag, so the frontier is
    reconstructed from the checkpoint alone — north rule).

    ``star_fallback_after``: min-label is O(diameter) rounds — right
    for crawl-shaped graphs (diameter < ~10 effective), catastrophic
    on chain-shaped ones.  If the frontier is still alive after this
    many rounds, the run hands off to the two-phase large/small-star
    contraction (``cc_star.cc_two_phase``, O(log² n) rounds,
    diameter-independent); the output labels are identical (min vertex
    id per component) so the switch is invisible to callers.  Web
    graphs converge well under the threshold and never pay it.
    ``None`` disables; checkpointed runs keep pure min-label (their
    committed state encodes the min-label schedule).
    """
    it = 0
    if resume and checkpoint_mgr is not None and checkpoint_mgr.latest_step(name):
        it = checkpoint_mgr.latest_step(name)
        init = checkpoint_mgr.load(name, it, graph.num_partitions)
    else:
        init = graph.vertices.select(
            "id", F.col("id").alias("label"), F.lit(True).alias("changed")
        )
    st = IterState(
        init,
        num_partitions=graph.num_partitions,
        checkpoint_every=checkpoint_every,
        manager=checkpoint_mgr,
        name=name,
        superstep=it,
    )
    # Convergence-tail rule: once the frontier is below this, persist
    # only the CHANGED rows per superstep (IterState.advance_sparse)
    # instead of rewriting the full n-row state — the full-state write
    # is the dominant fixed cost of late supersteps (BASELINE.md §3).
    # Durable-checkpoint runs stay dense (the manager owns the layout).
    sparse_threshold = 0 if checkpoint_mgr is not None else sparse_tail_cut(graph.n)
    if it > 0:
        # resumed: the frontier is the checkpointed changed-set
        frontier = st.df.filter("changed").select("id", "label")
        n_changed = frontier.count()
    else:
        n_changed = graph.n
        frontier = init.select("id", "label")
    while n_changed > 0 and it < max_iters:
        it += 1
        msgs = edge_map_fn(
            graph,
            frontier,
            message=F.col("label"),
            aggregate=F.min,
            frontier_size=n_changed,
            extra_frontier_cols=("label",),
        )
        if n_changed > sparse_threshold:
            new = (
                st.df.select("id", "label")
                .join(msgs_join_side(msgs, n_changed, graph.n), "id", "left")
                .select(
                    "id",
                    F.least("label", F.coalesce("agg", "label")).alias("new_label"),
                    "label",
                )
                .select(
                    "id",
                    F.col("new_label").alias("label"),
                    (F.col("new_label") < F.col("label")).alias("changed"),
                )
            )
            new, n_changed = st.advance(
                new,
                action=lambda df: df.filter("changed").count(),
                metrics={"superstep": it, "frontier_in": n_changed},
            )
            frontier = st.df.filter("changed").select("id", "label")
        else:
            # frontier-delta tail: materialize only improved rows.
            # No join hint here, deliberately: a shuffle_hash hint
            # would shuffle the full n-row state view every tail
            # superstep, while the msgs side is tiny (≤ frontier
            # fan-out).  With AQE on, the runtime sees the actual
            # msgs size and broadcasts it — the state stays an
            # in-place cached scan, which is what makes the tail
            # superstep O(frontier), not O(n), per exchange.
            changes = (
                st.df.select("id", "label")
                .join(msgs, "id")
                .filter(F.col("agg") < F.col("label"))
                .select(
                    "id",
                    F.col("agg").alias("label"),
                    F.lit(True).alias("changed"),
                )
            )
            _, n_changed = st.advance_sparse(changes)
            frontier = changes.select("id", "label")
        if on_superstep:
            on_superstep(it, {"frontier": n_changed})
        if (
            star_fallback_after is not None
            and checkpoint_mgr is None
            and n_changed > 0
            and it >= star_fallback_after
        ):
            # long-diameter structure detected: min-label progress is
            # bounded by one hop per round.  Re-solve with star
            # contraction (correctness does not depend on the partial
            # labels — the component partition is a property of the
            # edge set alone, so restarting loses only the < threshold
            # rounds already paid).
            from .cc_star import cc_two_phase

            labels, star_rounds = cc_two_phase(
                graph, on_superstep=on_superstep
            )
            return labels, it + star_rounds
    return st.df.select("id", F.col("label").alias("component")), it


def label_propagation(
    graph,
    max_iters: int = 10_000,
    checkpoint_mgr=None,
    checkpoint_every: int = 4,
    resume: bool = False,
    name: str = "label_propagation",
    on_superstep=None,
    edge_map_fn=edge_map,
) -> tuple[DataFrame, int]:
    """Shortcutting label propagation: min-label edge pass from active
    vertices, then pointer-jump ``label = label[label]``
    (``Components-Shortcut.C:30-42``); a vertex stays active while its
    label changed this round.  Fixpoint labels equal ``components``.
    Returns ((id, label), rounds)."""
    it = 0
    if resume and checkpoint_mgr is not None and checkpoint_mgr.latest_step(name):
        it = checkpoint_mgr.latest_step(name)
        init = checkpoint_mgr.load(name, it, graph.num_partitions)
    else:
        init = graph.vertices.select(
            "id", F.col("id").alias("label"), F.lit(True).alias("active")
        )
    st = IterState(
        init,
        num_partitions=graph.num_partitions,
        checkpoint_every=checkpoint_every,
        manager=checkpoint_mgr,
        name=name,
        superstep=it,
    )
    n_active = init.filter("active").count() if it > 0 else graph.n
    while n_active > 0 and it < max_iters:
        it += 1
        frontier = st.df.filter("active").select("id", "label")
        msgs = edge_map_fn(
            graph,
            frontier,
            message=F.col("label"),
            aggregate=F.min,
            frontier_size=n_active,
            extra_frontier_cols=("label",),
        )
        after_min = (
            st.df.select("id", "label")
            .join(msgs_join_side(msgs, n_active, graph.n), "id", "left")
            .select(
                "id",
                F.col("label").alias("prev"),
                F.least("label", F.coalesce("agg", "label")).alias("l1"),
            )
        )
        # pointer jump on the POST-min labels: label = l1[l1]
        mapping = after_min.select(
            F.col("id").alias("mid"), F.col("l1").alias("mlabel")
        )
        new = (
            after_min.join(mapping, after_min["l1"] == mapping["mid"])
            .select(
                "id",
                F.col("mlabel").alias("label"),
                (F.col("mlabel") != F.col("prev")).alias("active"),
            )
        )
        new, n_active = st.advance(
            new,
            action=lambda df: df.filter("active").count(),
            metrics={"superstep": it, "active_in": n_active},
        )
        if on_superstep:
            on_superstep(it, {"active": n_active})
    return st.df.select("id", "label"), it
