"""Physical-plan quality tests — the scale guarantees, asserted.

These pin the properties that make the engine viable at 100 TB:
column pruning reaches the parquet scan, the superstep join never
moves or broadcasts the edge table in dense mode, and the per-
superstep plan has exactly one shuffle on the message key.
"""

import re

import pytest
from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _tree_head(plan: str) -> str:
    """Operator-tree lines from the root down to the first cache scan —
    everything the job executes above the first cached input.  Cached
    subtrees (InMemoryRelation history) start after this point; their
    exchanges ran at cache-build time, not per job."""
    tree = plan.split("\n(1)")[0]
    return tree.split("InMemoryRelation")[0]


@pytest.fixture(scope="module")
def pages_parquet(spark, tmp_path_factory):
    from ligra_spark.fixtures import write_graph_fixture

    out = str(tmp_path_factory.mktemp("pp"))
    write_graph_fixture(out, scale="tiny", with_pages=True)
    return f"{out}/pages.parquet"


def test_extraction_column_pruning(spark, pages_parquet):
    """Selecting only links must read only (url, html) from parquet —
    text/lang/warc_ts never leave the scan (ReadSchema check)."""
    from ligra_spark.extract import extracted_pages

    pages = spark.read.parquet(pages_parquet)
    plan = _plan(extracted_pages(pages).select("url", "links"))
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert cols == {"url", "html"}, cols


def test_filter_pushdown_reaches_scan(spark, pages_parquet):
    pages = spark.read.parquet(pages_parquet)
    plan = _plan(pages.filter(F.col("lang") == "en").select("url"))
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in plan, plan


def test_dense_superstep_plan_shape(spark, tiny_graph):
    """Dense edge_map: shuffled-hash join (edges never broadcast or
    exchanged), exactly ONE exchange — the groupBy(dst) message
    shuffle."""
    from ligra_spark.engine import edge_map

    g = tiny_graph
    state = g.out_degrees.select("id", F.try_divide(F.lit(1.0), "outdeg").alias("share"))
    msgs = edge_map(
        g, state, message=F.col("share"), aggregate=F.sum,
        extra_frontier_cols=("share",),
    )
    plan = _plan(msgs)
    head = _tree_head(plan)
    # above the first cached input: the message shuffle is the ONLY
    # exchange, and the join is a shuffled-hash join (never broadcast)
    assert "ShuffledHashJoin" in head, head
    assert "BroadcastHashJoin" not in head, head
    assert len(re.findall(r"\bExchange\b", head)) == 1, head
    # the edge side feeds the join straight from its cache — a Filter
    # directly over InMemoryTableScan, no Exchange in between
    assert re.search(
        r"Filter \(\d+\)\s*\n\s*[:+\-| ]*InMemoryTableScan", plan
    ), plan


def test_sparse_superstep_broadcasts_frontier(spark, tiny_graph):
    from ligra_spark.engine import edge_map

    g = tiny_graph
    frontier = g.vertices.filter(F.col("id") < 3).select("id")
    msgs = edge_map(
        g, frontier, message=F.lit(1), aggregate=F.min, frontier_size=3
    )
    plan = _plan(msgs)
    assert "BroadcastHashJoin" in plan.split("InMemoryRelation")[0], plan


def test_msgs_join_side_policy(spark, tiny_graph):
    """The state ⋈ msgs join policy (engine.msgs_join_side): a big
    frontier pins shuffle-hash (the n-row state must never sort-merge
    or broadcast), a convergence-tail frontier drops the hint so the
    runtime can broadcast the actual (tiny) msgs and the state stays
    an in-place scan."""
    from ligra_spark.engine import edge_map, msgs_join_side

    g = tiny_graph
    state = g.vertices.select("id", F.col("id").alias("val"))
    frontier = g.vertices.select("id")
    msgs = edge_map(g, frontier, message=F.lit(1), aggregate=F.min,
                    frontier_size=g.n)
    # above the max(1024, n//64) cut -> hinted (the tiny fixture's n
    # is below the 1024 floor, so pass an explicit big frontier count)
    dense = state.join(msgs_join_side(msgs, 2048, g.n), "id", "left")
    head = _tree_head(_plan(dense))
    assert "ShuffledHashJoin" in head, head
    # sparse: no hint — the optimizer is free to broadcast msgs; the
    # contract here is the ABSENCE of the forced shuffle on the state
    sparse_msgs = msgs_join_side(msgs, 2, g.n)
    sparse = state.join(sparse_msgs, "id", "left")
    head2 = _tree_head(_plan(sparse))
    assert "ShuffledHashJoin" not in head2 or "Broadcast" in head2, head2


def _first_join_left_hint(df) -> str:
    """Hint on the left child of the first join from the top of the
    analyzed plan ('' when unhinted) — the frontier side of edge_map's
    frontier ⋈ edges join, where perfbench reads the branch taken."""
    node = df._jdf.queryExecution().analyzed()
    while node.nodeName() != "Join":
        node = node.children().apply(0)
    left = node.left()
    return left.hints().toString() if left.nodeName() == "ResolvedHint" else ""


def test_edge_map_forced_branches_match_oracle(spark, tiny_edges, tiny_graph):
    """edge_map and edge_map_multi under each branch of the one
    frontier ⋈ edges join — sparse (frontier_size=1), dense
    (frontier_size=None) and salted dense (salt_buckets=4) — return
    identical rows, equal to a numpy oracle, for a plain and a
    seed-grouped (batched multi-instance) frontier, on the tiny sample
    graph."""
    from collections import defaultdict

    from conftest import edges_df
    from ligra_spark.engine import edge_map, edge_map_multi
    from ligra_spark.graph import LinkGraph

    n, src, dst = tiny_edges
    plain = tiny_graph
    salted = LinkGraph.from_edges(
        spark, edges_df(spark, src, dst), n=n, salt_buckets=4
    ).materialize()
    # two seeds with overlapping frontiers: vertex v is in seed s's
    # frontier when v % (3 + s) == 0, with payload v + 1000 s
    rows = [(s, v, v + 1000 * s) for s in (0, 1) for v in range(n) if v % (3 + s) == 0]
    frontier = spark.createDataFrame(rows, "seed long, id long, val long")

    want_one, want_multi = {}, defaultdict(lambda: [0, None, 0])
    for s_, v, val in rows:
        for d in dst[src == v].tolist():
            if s_ == 0:
                want_one[d] = min(want_one.get(d, val), val)
            acc = want_multi[(s_, d)]
            acc[0] += val
            acc[1] = val if acc[1] is None else max(acc[1], val)
            acc[2] += 1
    want_multi = {k: tuple(v) for k, v in want_multi.items()}
    assert want_one and want_multi

    cases = {
        "sparse": (plain, 1, "broadcast"),
        "dense": (plain, None, "shuffle_hash"),
        "salted": (salted, None, "shuffle_hash"),
    }
    for branch, (g, fsize, hint) in cases.items():
        one = edge_map(
            g, frontier.filter("seed = 0"), message=F.col("val"), aggregate=F.min,
            frontier_size=fsize, extra_frontier_cols=("val",),
        )
        multi = edge_map_multi(
            g, frontier,
            [("s", F.col("val"), F.sum), ("mx", F.col("val"), F.max),
             ("c", F.lit(1), F.count)],
            frontier_size=fsize, extra_frontier_cols=("seed", "val"),
            group_frontier_cols=("seed",),
        )
        # the frontier is the hinted left side of the first join
        assert hint in _first_join_left_hint(one), branch
        assert hint in _first_join_left_hint(multi), branch
        assert {r["id"]: r["agg"] for r in one.collect()} == want_one, branch
        got = {(r["seed"], r["id"]): (r["s"], r["mx"], r["c"]) for r in multi.collect()}
        assert got == want_multi, branch


def test_level_bfs_from_sources_takes_sparse_branch(spark, tiny_graph, monkeypatch):
    """The shared level BFS (``apps.bfs._level_bfs``) started from
    several sources — one per component, as ecc_tk, ecc_rv/ecc_clrstv
    and ecc_simple_approx start it — is given its true frontier size,
    so on the tiny graph its first frontier ⋈ edges join broadcasts
    the frontier instead of building the dense shuffled-hash join."""
    from ligra_spark.apps import bfs

    joins = []
    edge_map = bfs.edge_map

    def recording(*args, **kwargs):
        joins.append(edge_map(*args, **kwargs))
        return joins[-1]

    monkeypatch.setattr(bfs, "edge_map", recording)
    g = tiny_graph
    sources = g.vertices.filter(F.col("id").isin(0, 5, 17)).select("id")
    st, _, steps = bfs._level_bfs(g, bfs._source_levels(g, sources), 3)
    st.df.unpersist()
    assert steps == len(joins) > 1
    assert "broadcast" in _first_join_left_hint(joins[0])


@pytest.fixture(scope="module")
def small_emb(spark):
    import numpy as np

    rng = np.random.default_rng(2)
    vecs = rng.normal(size=(64, 8)).astype("float32")
    return spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(64)],
        "vec_id long, embedding array<float>",
    )


def test_lsh_neardup_pairs_plan_no_cartesian(spark, small_emb):
    """The near-dup self-join is a hash equi-join on the bucket key —
    never a cartesian/nested-loop all-pairs plan."""
    from ligra_spark.functions.similarity import lsh_neardup_pairs

    plan = _plan(lsh_neardup_pairs(small_emb, threshold=0.5, bits=4, dim=8))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert re.search(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", plan), plan


def test_ivf_topk_plan_broadcasts_probes(spark, small_emb):
    """IVF candidates come from an equi-join on cluster id with the
    (tiny) probe side broadcast — the base table is never replicated
    or nested-loop scanned."""
    from pyspark.sql import functions as F

    from ligra_spark.functions.similarity import ivf_topk

    probes = small_emb.filter(F.col("vec_id") < 2)
    plan = _plan(ivf_topk(small_emb, probes, k=3, nlist=4, nprobe=2, dim=8))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_lsh_bucket_topk_plan_broadcasts_probes(spark, small_emb):
    from pyspark.sql import functions as F

    from ligra_spark.functions.similarity import lsh_bucket_topk

    probes = small_emb.filter(F.col("vec_id") < 2)
    plan = _plan(lsh_bucket_topk(small_emb, probes, k=3, bits=4, dim=8, tables=2))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_asof_join_plan_single_shuffle(spark):
    """asof_join plans as union → ONE exchange on the key (the window
    sort) — never an inequality nested-loop join."""
    from datetime import datetime

    from ligra_spark.functions.temporal import asof_join

    t0 = datetime(2024, 1, 1)
    left = spark.createDataFrame(
        [(1, 1, t0, 1.0)], "event_id long, user_id long, ts timestamp, value double"
    )
    right = spark.createDataFrame(
        [(1, t0, 2.0)], "user_id long, ts timestamp, value double"
    )
    plan = _plan(asof_join(left, right))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    # exactly one Exchange NODE (the formatted plan prints each node
    # twice: once in the tree, once in the detail section)
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
