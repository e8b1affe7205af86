"""Resumability tests (north rule): kill after superstep k, resume from
the durable checkpoint, final scores identical to the uninterrupted
run; torn checkpoints are never resumed from."""

import os

import numpy as np
import pytest


class _Kill(Exception):
    pass


def test_pagerank_kill_resume_identical(spark, tiny_graph, tmp_path):
    from ligra_spark.apps import pagerank
    from ligra_spark.checkpoint import CheckpointManager

    mgr = CheckpointManager(spark, str(tmp_path / "ckpt"))

    def killer(it, m):
        if it == 3:
            raise _Kill()

    with pytest.raises(_Kill):
        pagerank(tiny_graph, max_iters=10, checkpoint_mgr=mgr, on_superstep=killer)
    assert mgr.latest_step("pagerank") == 3
    meta = mgr.metadata("pagerank", 3)
    assert meta["superstep"] == 3 and meta["files"], "lineage file list present"

    resumed, iters = pagerank(tiny_graph, max_iters=10, checkpoint_mgr=mgr, resume=True)
    assert iters == 10
    clean, _ = pagerank(tiny_graph, max_iters=10)
    a = {r["id"]: r["rank"] for r in resumed.collect()}
    b = {r["id"]: r["rank"] for r in clean.collect()}
    ra = np.array([a[i] for i in sorted(a)])
    rb = np.array([b[i] for i in sorted(b)])
    np.testing.assert_allclose(ra, rb, atol=1e-12, rtol=0)


def _path_graph(spark, n=24):
    """Symmetric path 0-1-...-(n-1): CC needs ~n rounds, LP ~log n."""
    import numpy as np

    from ligra_spark.graph import LinkGraph
    from tests.conftest import edges_df

    a = np.arange(n - 1, dtype=np.int64)
    src = np.concatenate([a, a + 1])
    dst = np.concatenate([a + 1, a])
    return LinkGraph.from_edges(
        spark, edges_df(spark, src, dst), n=n, symmetric=True
    ).materialize()


def test_components_kill_resume_identical(spark, tmp_path):
    from ligra_spark.apps import components
    from ligra_spark.checkpoint import CheckpointManager

    g = _path_graph(spark, 24)
    mgr = CheckpointManager(spark, str(tmp_path / "ckpt_cc"))

    def killer(it, m):
        if it == 3:
            raise _Kill()

    with pytest.raises(_Kill):
        components(g, checkpoint_mgr=mgr, on_superstep=killer)
    assert mgr.latest_step("components") == 3
    meta = mgr.metadata("components", 3)
    assert meta["metrics"]["frontier_in"] > 0, "iteration metrics recorded"

    resumed, iters = components(g, checkpoint_mgr=mgr, resume=True)
    # star_fallback_after=None: the comparison run must keep the pure
    # min-label schedule — this path graph's diameter exceeds the
    # default auto-star threshold, and checkpointed runs (like the
    # resumed one above) never auto-switch
    clean, clean_iters = components(g, star_fallback_after=None)
    assert iters == clean_iters, "resume continues the superstep count"
    a = {r["id"]: r["component"] for r in resumed.collect()}
    b = {r["id"]: r["component"] for r in clean.collect()}
    assert a == b and set(a.values()) == {0}


def test_label_propagation_kill_resume_identical(spark, tmp_path):
    from ligra_spark.apps import label_propagation
    from ligra_spark.checkpoint import CheckpointManager

    g = _path_graph(spark, 24)
    mgr = CheckpointManager(spark, str(tmp_path / "ckpt_lp"))

    def killer(it, m):
        if it == 2:
            raise _Kill()

    with pytest.raises(_Kill):
        label_propagation(g, checkpoint_mgr=mgr, on_superstep=killer)
    assert mgr.latest_step("label_propagation") == 2

    resumed, iters = label_propagation(g, checkpoint_mgr=mgr, resume=True)
    clean, clean_iters = label_propagation(g)
    assert iters == clean_iters
    a = {r["id"]: r["label"] for r in resumed.collect()}
    b = {r["id"]: r["label"] for r in clean.collect()}
    assert a == b and set(a.values()) == {0}


def test_torn_checkpoint_ignored(spark, tiny_graph, tmp_path):
    from ligra_spark.apps import pagerank
    from ligra_spark.checkpoint import CheckpointManager

    mgr = CheckpointManager(spark, str(tmp_path / "ckpt2"))
    pagerank(tiny_graph, max_iters=4, checkpoint_mgr=mgr)
    latest = mgr.latest_step("pagerank")
    os.remove(str(tmp_path / "ckpt2" / "pagerank" / f"step={latest}" / "_META.json"))
    assert mgr.latest_step("pagerank") == latest - 1


def test_prune_keeps_newest(spark, tiny_graph, tmp_path):
    from ligra_spark.apps import pagerank
    from ligra_spark.checkpoint import CheckpointManager

    mgr = CheckpointManager(spark, str(tmp_path / "ckpt3"))
    pagerank(tiny_graph, max_iters=5, checkpoint_mgr=mgr)
    mgr.prune("pagerank", keep_last=2)
    assert mgr.steps("pagerank") == [4, 5]


def test_pagerank_weighted_kill_resume_identical(spark, tmp_path):
    import numpy as np
    import pandas as pd

    from ligra_spark.apps import pagerank_weighted
    from ligra_spark.checkpoint import CheckpointManager
    from ligra_spark.graph import LinkGraph

    rng = np.random.default_rng(11)
    src = rng.integers(0, 40, 200).astype(np.int64)
    dst = rng.integers(0, 40, 200).astype(np.int64)
    w = rng.integers(1, 9, 200).astype(np.int64)
    edges = spark.createDataFrame(pd.DataFrame({"src": src, "dst": dst, "weight": w}))
    g = LinkGraph.from_edges(spark, edges, n=40, num_partitions=4).materialize()
    mgr = CheckpointManager(spark, str(tmp_path / "ckpt"))

    def killer(it, m):
        if it == 3:
            raise _Kill()

    with pytest.raises(_Kill):
        pagerank_weighted(
            g, max_iters=10, epsilon=0, checkpoint_mgr=mgr, on_superstep=killer
        )
    assert mgr.latest_step("pagerank_weighted") == 3

    resumed, iters = pagerank_weighted(
        g, max_iters=10, epsilon=0, checkpoint_mgr=mgr, resume=True
    )
    assert iters == 10
    clean, _ = pagerank_weighted(g, max_iters=10, epsilon=0)
    a = {r["id"]: r["rank"] for r in resumed.collect()}
    b = {r["id"]: r["rank"] for r in clean.collect()}
    ra = np.array([a[i] for i in sorted(a)])
    rb = np.array([b[i] for i in sorted(b)])
    np.testing.assert_allclose(ra, rb, atol=1e-12, rtol=0)
    g.unpersist()


def test_ktruss_kill_resume_identical(spark, tiny_graph_sym, tmp_path):
    """Kill the peel after round 2's committed checkpoint, resume, and
    the surviving edge set matches the uninterrupted run exactly (each
    peel round is a pure function of the current survivor set)."""
    from ligra_spark.apps import ktruss
    from ligra_spark.checkpoint import CheckpointManager

    mgr = CheckpointManager(spark, str(tmp_path / "ckpt_kt"))

    def killer(r, info):
        if r == 2:
            raise _Kill()

    with pytest.raises(_Kill):
        ktruss(tiny_graph_sym, 4, checkpoint_mgr=mgr, on_superstep=killer)
    assert mgr.latest_step("ktruss") == 2
    assert mgr.metadata("ktruss", 2)["metrics"]["edges_before_round"] > 0

    resumed, _ = ktruss(tiny_graph_sym, 4, checkpoint_mgr=mgr, resume=True)
    clean, _ = ktruss(tiny_graph_sym, 4)
    a = {(r["src"], r["dst"]) for r in resumed.collect()}
    b = {(r["src"], r["dst"]) for r in clean.collect()}
    assert a == b and len(a) > 0


def test_trustrank_kill_resume_identical(spark, tiny_graph, tmp_path):
    import numpy as np

    from ligra_spark.apps import trustrank
    from ligra_spark.checkpoint import CheckpointManager

    mgr = CheckpointManager(spark, str(tmp_path / "ckpt_tr"))

    def killer(it, m):
        if it == 3:
            raise _Kill()

    with pytest.raises(_Kill):
        trustrank(
            tiny_graph, [0, 3, 17], max_iters=10,
            checkpoint_mgr=mgr, on_superstep=killer,
        )
    assert mgr.latest_step("trustrank") == 3

    resumed, iters = trustrank(
        tiny_graph, [0, 3, 17], max_iters=10, checkpoint_mgr=mgr, resume=True
    )
    assert iters == 10
    clean, _ = trustrank(tiny_graph, [0, 3, 17], max_iters=10)
    a = {r["id"]: r["trust"] for r in resumed.collect()}
    b = {r["id"]: r["trust"] for r in clean.collect()}
    ra = np.array([a[i] for i in sorted(a)])
    rb = np.array([b[i] for i in sorted(b)])
    np.testing.assert_allclose(ra, rb, atol=1e-12, rtol=0)
