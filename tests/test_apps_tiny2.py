"""Differential tests for the round-1 stretch apps (BC, Radii, MIS)
on the reference sample graph."""

import numpy as np
import pytest

from ligra_spark import oracle


def _by_id(df, col, n, fill=None):
    rows = {r["id"]: r[col] for r in df.collect()}
    return [rows.get(i, fill) for i in range(n)]


def test_bc_matches_oracle(tiny_graph, tiny_edges):
    from ligra_spark.apps import bc_single_source

    n, src, dst = tiny_edges
    expected = oracle.bc_single_source(n, src, dst, root=0)
    got_df, _ = bc_single_source(tiny_graph, root=0)
    got = np.array(_by_id(got_df, "bc", n, fill=0.0))
    np.testing.assert_allclose(got, expected, atol=1e-6, rtol=0)


def test_radii_matches_oracle(tiny_graph, tiny_edges):
    from ligra_spark.apps import radii

    n, src, dst = tiny_edges
    expected, oracle_rounds = oracle.radii(n, src, dst)
    got_df, rounds = radii(tiny_graph)
    got = np.array(_by_id(got_df, "radii", n))
    assert rounds == oracle_rounds
    np.testing.assert_array_equal(got, expected)


def test_mis_matches_oracle(tiny_graph_sym, tiny_sym):
    from ligra_spark.apps import mis

    n, src, dst = tiny_sym
    expected = oracle.mis_lex_first(n, src, dst)
    got_df, _ = mis(tiny_graph_sym)
    got = np.array(_by_id(got_df, "in_set", n))
    np.testing.assert_array_equal(got, expected)


def test_cf_matches_oracle(spark, tiny_sym):
    import numpy as np
    from ligra_spark.apps import cf_sgd
    from ligra_spark.graph import LinkGraph
    from tests.conftest import edges_df

    n, src, dst = tiny_sym
    w = 1 + (np.minimum(src, dst) * 31 + np.maximum(src, dst)) % 5
    expected = oracle.cf_sgd(n, src, dst, w)
    g = LinkGraph.from_edges(
        spark, edges_df(spark, src, dst, w), n=n, symmetric=True
    ).materialize()
    got_df, _ = cf_sgd(g)
    rows = {r["id"]: r["latent"] for r in got_df.collect()}
    got = np.array([rows[i] for i in range(n)])
    np.testing.assert_allclose(got, expected, atol=1e-9, rtol=0)
    g.unpersist()


def test_ecc_fm_matches_oracle(tiny_graph_sym, tiny_sym):
    from ligra_spark.apps import ecc_fm

    n, src, dst = tiny_sym
    expected, oracle_rounds = oracle.ecc_fm(n, src, dst, length=2, seed=0)
    got_df, rounds = ecc_fm(tiny_graph_sym, length=2, seed=0)
    got = np.array(_by_id(got_df, "ecc", n))
    assert rounds == oracle_rounds
    np.testing.assert_array_equal(got, expected)


def test_fm_masks_deterministic_and_geometric():
    m1 = oracle.fm_masks(256, length=2, seed=0)
    m2 = oracle.fm_masks(256, length=2, seed=0)
    np.testing.assert_array_equal(m1, m2)
    # every vertex has exactly one bit per 32-bit word
    for j in range(2):
        word = (m1 >> (32 * j)) & 0xFFFFFFFF
        pop = np.array([bin(int(w)).count("1") for w in word])
        np.testing.assert_array_equal(pop, np.ones(256))
    assert len(set(m1.tolist())) > 10  # masks vary across vertices


def test_ecc_loglog_matches_oracle(tiny_graph_sym, tiny_sym):
    from ligra_spark.apps import ecc_loglog

    n, src, dst = tiny_sym
    expected, oracle_rounds = oracle.ecc_loglog(n, src, dst, seed=0)
    got_df, rounds = ecc_loglog(tiny_graph_sym, seed=0)
    got = np.array(_by_id(got_df, "ecc", n))
    assert rounds == oracle_rounds
    np.testing.assert_array_equal(got, expected)


def test_ecc_exact_matches_oracle(tiny_graph_sym, tiny_sym):
    """kBFS-Exact: batched all-sources kBFS with elementwise max merge
    equals per-source BFS eccentricity on the sample graph, including
    the per-batch round schedule (2 batches at n=128)."""
    from ligra_spark.apps import ecc_exact

    n, src, dst = tiny_sym
    expected, oracle_rounds = oracle.ecc_exact(n, src, dst, batch_size=64)
    got_df, rounds = ecc_exact(tiny_graph_sym, batch_size=64)
    got = np.array(_by_id(got_df, "ecc", n, fill=0))
    assert rounds == oracle_rounds
    np.testing.assert_array_equal(got, expected)


def test_ecc_kbfs_matches_oracle(tiny_graph_sym, tiny_sym):
    """kBFS-Ecc phase 1 (hashed per-component sampling) on the sample
    graph: values and combined-run round count match the numpy
    transcription.  Default threshold (1024) means no phase 2 at
    n=128 — the two-phase path is pinned by the test below."""
    from ligra_spark.apps import ecc_kbfs

    n, src, dst = tiny_sym
    expected, oracle_rounds = oracle.ecc_kbfs(n, src, dst, seed=5)
    got_df, rounds = ecc_kbfs(tiny_graph_sym, seed=5)
    got = np.array(_by_id(got_df, "ecc", n, fill=0))
    assert rounds == oracle_rounds
    np.testing.assert_array_equal(got, expected)


def test_ecc_kbfs_two_phase_matches_oracle(tiny_graph_sym, tiny_sym):
    """Lowering the phase-2 trigger exercises the fringe re-sample
    (highest phase-1 ecc, ties to larger id) and the max-merge."""
    from ligra_spark.apps import ecc_kbfs

    n, src, dst = tiny_sym
    expected, oracle_rounds = oracle.ecc_kbfs(n, src, dst, seed=5, phase2_threshold=16)
    got_df, rounds = ecc_kbfs(tiny_graph_sym, seed=5, phase2_threshold=16)
    got = np.array(_by_id(got_df, "ecc", n, fill=0))
    assert rounds == oracle_rounds
    np.testing.assert_array_equal(got, expected)


def _tk_case(spark, n, src, dst):
    from ligra_spark.apps import ecc_tk
    from ligra_spark.graph import LinkGraph
    from tests.conftest import edges_df

    g = LinkGraph.from_edges(spark, edges_df(spark, src, dst), n=n, symmetric=True)
    expected, oracle_iters = oracle.ecc_tk(n, src, dst)
    got_df, iters = ecc_tk(g)
    got = np.array(_by_id(got_df, "ecc", n, fill=0))
    assert iters == oracle_iters
    np.testing.assert_array_equal(got, expected)
    # TK is exact: cross-check against the all-sources oracle
    exact, _ = oracle.ecc_exact(n, src, dst)
    np.testing.assert_array_equal(got, exact)


def test_ecc_tk_multi_component(spark):
    """TK on a path + triangle + isolated vertices: exercises the
    size-1/size-2 shortcuts and simultaneous multi-component
    candidate selection (4 combined iterations)."""
    from ligra_spark.rmat import make_symmetric

    src = np.concatenate([np.arange(9), [20, 21, 22]])
    dst = np.concatenate([np.arange(1, 10), [21, 22, 20]])
    s, d = make_symmetric(src, dst)
    _tk_case(spark, 23, s, d)


def test_ecc_tk_rmat(spark):
    """TK on a 64-vertex rMat graph (10 iterations): pins the
    odd/even argmax-upper/argmin-lower alternation and the
    largest-id tie-break against the transcription."""
    from ligra_spark.rmat import make_symmetric, rmat_edges

    src, dst = rmat_edges(64, 160, seed=1)
    s, d = make_symmetric(src, dst)
    _tk_case(spark, 64, s, d)


def test_ecc_simple_approx_matches_oracle(tiny_graph_sym, tiny_sym):
    """Simple-Approx-Ecc: one pinned-pick BFS per component, its depth
    assigned to every member; size-1/size-2 shortcuts."""
    from ligra_spark.apps import ecc_simple_approx

    n, src, dst = tiny_sym
    expected, oracle_rounds = oracle.ecc_simple_approx(n, src, dst, seed=3)
    got_df, rounds = ecc_simple_approx(tiny_graph_sym, seed=3)
    got = np.array(_by_id(got_df, "ecc", n, fill=0))
    assert rounds == oracle_rounds
    np.testing.assert_array_equal(got, expected)


def test_ecc_clrstv_matches_oracle(tiny_graph_sym, tiny_sym):
    """CLRSTV: sample + w + Ngh BFS scaffold with the pinned choices
    (hashInt positional sampling, largest-id furthest tie-break,
    (level,id)-ordered Ngh fill); every non-BFS'd vertex combines
    max(d, ecc_src - d) over all BFS'd sources."""
    from ligra_spark.apps import ecc_clrstv

    n, src, dst = tiny_sym
    expected, oracle_rounds = oracle.ecc_clrstv(n, src, dst, seed=4)
    got_df, rounds = ecc_clrstv(tiny_graph_sym, seed=4)
    got = np.array(_by_id(got_df, "ecc", n, fill=0))
    assert rounds == oracle_rounds
    np.testing.assert_array_equal(got, expected)


def test_ecc_rv_matches_oracle(tiny_graph_sym, tiny_sym):
    """RV: the CLRSTV scaffold plus min-parent Ngh-index propagation
    down the w-BFS tree and the vt consult rule."""
    from ligra_spark.apps import ecc_rv

    n, src, dst = tiny_sym
    expected, oracle_rounds = oracle.ecc_rv(n, src, dst, seed=4)
    got_df, rounds = ecc_rv(tiny_graph_sym, seed=4)
    got = np.array(_by_id(got_df, "ecc", n, fill=0))
    assert rounds == oracle_rounds
    np.testing.assert_array_equal(got, expected)


def test_trustrank_matches_numpy(tiny_graph, tiny_edges):
    """TrustRank == numpy fixpoint of t = (1-d)v + d T't with v uniform
    on the seeds and pagerank's lossy-dangling/duplicate-edge quirks."""
    import numpy as np

    from ligra_spark.apps import trustrank

    n, src, dst = tiny_edges
    seeds = [0, 3, 17]
    d = 0.85
    outdeg = np.bincount(src, minlength=n).astype(float)
    v = np.zeros(n)
    v[seeds] = 1.0 / len(seeds)
    t = v.copy()
    for _ in range(200):
        share = np.divide(t, outdeg, out=np.zeros(n), where=outdeg > 0)
        nxt = (1 - d) * v
        np.add.at(nxt, dst, d * share[src])
        if np.abs(nxt - t).sum() < 1e-7:
            t = nxt
            break
        t = nxt
    got, iters = trustrank(tiny_graph, seeds)
    pdf = got.toPandas().sort_values("id")
    np.testing.assert_allclose(pdf["trust"].to_numpy(), t, atol=1e-6, rtol=0)
    assert iters > 1


def test_salsa_matches_numpy(tiny_graph, tiny_edges):
    """SALSA closed form == numpy: per bipartite-support component c,
    auth(i) = (|A_c|/|A|) * indeg(i)/vol_a(c); hubs symmetric."""
    import numpy as np

    from ligra_spark.apps import salsa

    n, src, dst = tiny_edges
    # union-find over the bipartite support (hub j) -- (auth i+n)
    parent = list(range(2 * n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(src, dst):
        ra, rb = find(int(a)), find(int(b) + n)
        if ra != rb:
            parent[ra] = rb
    indeg = np.bincount(dst, minlength=n).astype(float)
    outdeg = np.bincount(src, minlength=n).astype(float)

    def side(deg, offset):
        support = [i for i in range(n) if deg[i] > 0]
        tot = len(support)
        csize, cvol = {}, {}
        for i in support:
            c = find(i + offset)
            csize[c] = csize.get(c, 0) + 1
            cvol[c] = cvol.get(c, 0.0) + deg[i]
        out = np.zeros(n)
        for i in support:
            c = find(i + offset)
            out[i] = (csize[c] / tot) * deg[i] / cvol[c]
        return out

    want_auth = side(indeg, n)
    want_hub = side(outdeg, 0)
    pdf = salsa(tiny_graph).toPandas().sort_values("id")
    np.testing.assert_allclose(pdf["auth"].to_numpy(), want_auth, atol=1e-12)
    np.testing.assert_allclose(pdf["hub"].to_numpy(), want_hub, atol=1e-12)


def test_community_lpa_matches_numpy(tiny_graph_sym, tiny_sym):
    """Synchronous mode-of-neighbors LPA, fixed 5 rounds, tie -> min
    label — replayed exactly in numpy."""
    import numpy as np

    from ligra_spark.apps import community_lpa

    n, src, dst = tiny_sym
    lab = np.arange(n)
    for _ in range(5):
        new = lab.copy()
        # incoming labels per dst
        from collections import Counter, defaultdict
        inc = defaultdict(Counter)
        for a, b in zip(src, dst):
            inc[int(b)][int(lab[a])] += 1
        for v in range(n):
            if inc[v]:
                best = sorted(inc[v].items(), key=lambda kv: (-kv[1], kv[0]))[0][0]
                new[v] = best
        lab = new
    got = community_lpa(tiny_graph_sym, rounds=5).toPandas().sort_values("id")
    np.testing.assert_array_equal(got["label"].to_numpy(), lab)


def _trustrank_fixed(n, src, dst, seeds, iters, d=0.85):
    """``iters`` supersteps of t = (1-d)v + d T't from t0 = v."""
    deg = np.bincount(src, minlength=n).astype(float)
    v = np.zeros(n)
    v[seeds] = 1.0 / len(seeds)
    t = v.copy()
    for _ in range(iters):
        t = d * np.bincount(dst, weights=t[src] / deg[src], minlength=n) + (1 - d) * v
    return t


@pytest.mark.parametrize("branch", ["dense", "sparse"])
@pytest.mark.parametrize(
    "app", ["radii", "ecc_fm", "ecc_loglog", "ecc_kbfs", "bfs_levels", "trustrank"]
)
def test_shared_loops_forced_branch_match_oracle(
    app, branch, monkeypatch, tiny_graph, tiny_edges, tiny_graph_sym, tiny_sym
):
    """The shared superstep loops (kBFS wave, level BFS, power
    iteration) under each engine branch: every frontier ⋈ edges join
    forced dense with the state ⋈ msgs join hinted, or forced sparse
    with it unhinted.  On the tiny graphs the engine's own rule always
    picks sparse/unhinted, so the dense run is the only oracle check of
    the dense plans.  Values equal the numpy oracle exactly (scores
    within 1e-9), with the same round count."""
    import importlib

    from ligra_spark import apps, engine

    sparse = branch == "sparse"
    taken = set()
    join = engine._frontier_join

    def frontier_join(graph, frontier, cols, sparse_, in_edges=False):
        taken.add(sparse_)
        return join(graph, frontier, cols, sparse_, in_edges)

    monkeypatch.setattr(engine, "_frontier_join", frontier_join)
    monkeypatch.setattr(engine, "frontier_is_sparse", lambda size, m: sparse)
    for loop in ("bfs", "ecc", "pagerank"):  # the shared loops' modules
        monkeypatch.setattr(
            importlib.import_module(f"ligra_spark.apps.{loop}"), "msgs_join_side",
            (lambda msgs, size, n: msgs) if sparse
            else (lambda msgs, size, n: msgs.hint("shuffle_hash")),
        )

    if app == "trustrank":
        n, src, dst = tiny_edges
        got_df, rounds = apps.trustrank(tiny_graph, [0, 3, 17], max_iters=12, epsilon=0)
        got = np.array(_by_id(got_df, "trust", n))
        np.testing.assert_allclose(
            got, _trustrank_fixed(n, src, dst, [0, 3, 17], 12), atol=1e-9, rtol=0
        )
        assert rounds == 12
    else:
        if app == "radii":
            (n, src, dst), g, col, fill = tiny_edges, tiny_graph, "radii", None
            expected, want_rounds = oracle.radii(n, src, dst)
            got_df, rounds = apps.radii(g)
        elif app == "bfs_levels":
            (n, src, dst), g, col, fill = tiny_edges, tiny_graph, "level", -1
            expected = oracle.bfs_levels(n, src, dst, root=0)
            want_rounds = expected.max()
            got_df, rounds = apps.bfs_levels(g, root=0)
        else:
            (n, src, dst), g, col, fill = tiny_sym, tiny_graph_sym, "ecc", 0
            expected, want_rounds = {
                "ecc_fm": lambda: oracle.ecc_fm(n, src, dst, length=2, seed=0),
                "ecc_loglog": lambda: oracle.ecc_loglog(n, src, dst, seed=0),
                "ecc_kbfs": lambda: oracle.ecc_kbfs(n, src, dst, seed=5),
            }[app]()
            kwargs = {"ecc_fm": {"length": 2, "seed": 0}, "ecc_kbfs": {"seed": 5}}
            got_df, rounds = getattr(apps, app)(g, **kwargs.get(app, {}))
        np.testing.assert_array_equal(np.array(_by_id(got_df, col, n, fill)), expected)
        assert rounds == want_rounds
    assert taken == {sparse}
