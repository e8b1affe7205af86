"""Resumability tests (north rule): kill after superstep k, resume from
the durable checkpoint, final scores identical to the uninterrupted
run; torn checkpoints are never resumed from."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F


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


# ---------------------------------------------------------------------------
# One Spark query per durable superstep, on the tiny sample graph.

_N = 128
_SEEDS = [0, 3, 17]


def _trustrank_oracle(src, dst, iters, damping=0.85):
    deg = np.bincount(src, minlength=_N).astype(np.float64)
    tele = np.zeros(_N)
    tele[_SEEDS] = 1.0 / len(_SEEDS)
    t = tele.copy()
    tele *= 1.0 - damping
    for _ in range(iters):
        t = damping * np.bincount(dst, weights=t[src] / deg[src], minlength=_N) + tele
    return t


def _by_id(df, col):
    got = {r["id"]: r[col] for r in df.collect()}
    return np.array([got[i] for i in range(_N)])


@pytest.mark.parametrize("app", ["pagerank", "trustrank", "components"])
def test_durable_kill_resume_matches_clean_and_oracle(
    spark, tiny_edges, tiny_sym, tiny_graph, tiny_graph_sym, tmp_path, app
):
    """Kill a durable run after superstep 2, resume from its checkpoint:
    the result equals an uninterrupted in-memory run and the numpy
    oracle, in the same superstep count."""
    from ligra_spark import oracle
    from ligra_spark.apps import components, pagerank, trustrank
    from ligra_spark.checkpoint import CheckpointManager

    _, src, dst = tiny_edges
    if app == "pagerank":
        col, g = "rank", tiny_graph
        run = lambda **kw: pagerank(g, max_iters=10, epsilon=0, **kw)  # noqa: E731
        want, want_iters = oracle.pagerank(_N, src, dst, max_iters=10, epsilon=0)[0], 10
    elif app == "trustrank":
        col, g = "trust", tiny_graph
        run = lambda **kw: trustrank(g, _SEEDS, max_iters=10, epsilon=0, **kw)  # noqa: E731
        want, want_iters = _trustrank_oracle(src, dst, 10), 10
    else:
        col, g = "component", tiny_graph_sym
        _, s, d = tiny_sym
        run = lambda **kw: components(g, **kw)  # noqa: E731
        want, want_iters = oracle.components(_N, s, d), None

    mgr = CheckpointManager(spark, str(tmp_path / app))

    def killer(it, _info):
        if it == 2:
            raise _Kill()

    with pytest.raises(_Kill):
        run(checkpoint_mgr=mgr, on_superstep=killer)
    assert mgr.latest_step(app) == 2
    resumed, iters = run(checkpoint_mgr=mgr, resume=True)
    clean, clean_iters = run()
    assert iters == clean_iters and iters > 2
    if want_iters is not None:
        assert iters == want_iters
    got_resumed, got_clean = _by_id(resumed, col), _by_id(clean, col)
    np.testing.assert_allclose(got_resumed, got_clean, rtol=0, atol=1e-15)
    np.testing.assert_allclose(got_resumed, want, rtol=1e-9, atol=0)


def test_meta_l1_is_the_saved_steps_own(spark, tiny_graph, tmp_path):
    """Every durable PageRank step's ``_META.json`` records that step's
    own L1, equal to Σ|rank − old| recomputed from its parquet."""
    from ligra_spark.apps import pagerank
    from ligra_spark.checkpoint import CheckpointManager

    mgr = CheckpointManager(spark, str(tmp_path / "ckpt"))
    seen = {}
    pagerank(tiny_graph, max_iters=4, epsilon=0, checkpoint_mgr=mgr,
             on_superstep=lambda it, info: seen.update({it: info["l1"]}))
    assert mgr.steps("pagerank") == [1, 2, 3, 4]
    for step in mgr.steps("pagerank"):
        meta = mgr.metadata("pagerank", step)
        assert meta["metrics"]["superstep"] == step
        assert "l1_prev" not in meta["metrics"]
        df = mgr.load("pagerank", step)
        # the recorded schema is the one the state was written with
        assert [f.name for f in df.schema] == ["id", "outdeg", "rank", "old"]
        (recomputed,) = df.agg(F.sum(F.abs(F.col("rank") - F.col("old")))).first()
        assert meta["metrics"]["l1"] == pytest.approx(recomputed, rel=1e-12)
        assert meta["metrics"]["l1"] == seen[step]


def test_durable_and_memory_advance_return_identical_aggregates(spark, tmp_path):
    """The durable advance (aggregates observed on the parquet write)
    and the in-memory one (``agg().first()``) return the same Row —
    values, types and field names — for counts, sums, a decimal sum
    and a min, and both default to the row count without aggregates."""
    from ligra_spark.checkpoint import CheckpointManager
    from ligra_spark.engine import IterState

    def aggs():
        return (
            F.count_if("even"),
            F.sum(F.abs(F.col("x") - 0.5)).alias("l1"),
            F.sum(F.xxhash64("id").cast("decimal(38,0)")).alias("h"),
            F.min("x").alias("mn"),
        )

    # x is a half-integral double, so every sum is exact in any order
    # (the durable write aggregates after its hash repartition, the
    # in-memory job before it)
    base = spark.range(200).select(
        "id", (F.col("id") % 7 / 2.0).alias("x"), (F.col("id") % 2 == 0).alias("even")
    )
    rows = {}
    durable = CheckpointManager(spark, str(tmp_path))
    for mode, mgr in (("memory", None), ("durable", durable)):
        st = IterState(base, num_partitions=4, manager=mgr, checkpoint_every=2)
        _, a = st.advance(st.df.withColumn("x", F.col("x") + 1), *aggs())
        _, b = st.advance(st.df.withColumn("x", F.col("x") * 2), *aggs())
        _, c = st.advance(st.df.filter("even"))
        rows[mode] = (a, b, c)
    for m, d in zip(rows["memory"], rows["durable"]):
        assert m.asDict() == d.asDict()
        assert [type(v) for v in m] == [type(v) for v in d]
    assert rows["durable"][2] == (100,)
    meta = durable.metadata("state", 2)
    assert meta["metrics"]["l1"] == rows["durable"][1]["l1"]
    assert meta["metrics"]["count_if(even)"] == 100


def test_durable_superstep_runs_one_query(spark, tiny_graph, tmp_path):
    """Pin the Spark jobs of a durable PageRank superstep: the parquet
    write with its shuffle stages, and nothing else — a re-read that
    infers the schema, a cache fill or a separate aggregate job each
    add a job here.  One job group per superstep, set from
    ``on_superstep``."""
    from ligra_spark.apps import pagerank
    from ligra_spark.checkpoint import CheckpointManager

    sc = spark.sparkContext
    tag = f"durable-{os.getpid()}-"
    mgr = CheckpointManager(spark, str(tmp_path / "ckpt"))

    def next_group(it, _info):
        sc.setJobGroup(f"{tag}{it + 1}", "durable superstep")

    try:
        next_group(0, None)
        pagerank(tiny_graph, max_iters=6, epsilon=0, checkpoint_mgr=mgr,
                 on_superstep=next_group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    # step 1 also reads the cached initial state; later steps read files
    jobs = [len(tracker.getJobIdsForGroup(f"{tag}{it}")) for it in range(2, 7)]
    # 4 under adaptive execution (each shuffle stage runs as its own
    # job, the parquet write last); 7 while the re-read inferred its
    # schema and a separate L1 job filled a cache of the re-read
    assert jobs == [4] * 5, jobs
