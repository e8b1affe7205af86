"""ACL push-PPR + sweep cut vs a direct numpy transcription of
``apps/localAlg/ACL-Sync-Local.C:79-128`` / ``sweep.h:66-110`` on the
generated 128-vertex symmetric sample graph."""

import numpy as np
import pytest


def _numpy_acl(n, src, dst, seed, alpha, eps, max_rounds=500):
    deg = np.bincount(src, minlength=n).astype(np.int64)
    order = np.argsort(src, kind="stable")
    s2, d2 = src[order], dst[order]
    starts = np.searchsorted(s2, np.arange(n + 1))
    if deg[seed] == 0:  # reference rejects degree-0 starts
        return np.zeros(n), np.zeros(n), 0, deg
    p = np.zeros(n)
    r = np.zeros(n)
    r[seed] = 1.0
    rounds = 0
    while rounds < max_rounds:
        f = np.flatnonzero((deg > 0) & (r > deg * eps))
        if len(f) == 0:
            break
        rounds += 1
        rold = r.copy()
        p[f] += alpha * rold[f]
        r[f] = rold[f] * (1 - alpha) / 2
        for u in f:
            nb = d2[starts[u] : starts[u + 1]]
            r[nb] += (1 - alpha) / 2 * rold[u] / deg[u]
    return p, r, rounds, deg


def _numpy_sweep(n, src, dst, p, deg, m):
    touched = np.flatnonzero(p > 0)
    ratio = np.round(p[touched] / deg[touched], 12)
    order = touched[np.lexsort((touched, -ratio))]  # ratio desc, id asc
    pos = {int(v): k + 1 for k, v in enumerate(order)}
    in_s = set()
    vol = 0
    crossing = 0
    best = (np.inf, -1, -1, -1)
    adj = {}
    o = np.argsort(src, kind="stable")
    s2, d2 = src[o], dst[o]
    starts = np.searchsorted(s2, np.arange(n + 1))
    for k, v in enumerate(order, 1):
        in_s.add(int(v))
        vol += int(deg[v])
        for w in d2[starts[v] : starts[v + 1]]:
            crossing += -1 if int(w) in in_s else 1
        denom = min(vol, m - vol)
        cond = 1.0 if (crossing == 0 or denom == 0) else crossing / denom
        if cond < best[0]:
            best = (cond, k, vol, crossing)
    return best  # (conductance, size_s, vol_s, edges_crossing)


@pytest.mark.parametrize("eps", [1e-4, 1e-6])
def test_ppr_matches_reference_transcription(spark, tiny_graph_sym, tiny_sym, eps):
    from ligra_spark.apps import ppr

    n, src, dst = tiny_sym
    seeds = [0, 5, 17]
    alpha = 0.15
    state, rounds = ppr(tiny_graph_sym, seeds, alpha=alpha, epsilon=eps)
    rows = state.collect()
    got = {(r["seed"], r["id"]): (r["p"], r["r"]) for r in rows}

    max_rounds = 0
    for s in seeds:
        p, r, rds, deg = _numpy_acl(n, src, dst, s, alpha, eps)
        max_rounds = max(max_rounds, rds)
        touched = np.flatnonzero((p > 0) | (r > 0))
        for v in touched:
            gp, gr = got[(s, int(v))]
            assert gp == pytest.approx(p[v], abs=1e-12), (s, v)
            assert gr == pytest.approx(r[v], abs=1e-12), (s, v)
        # no extra rows beyond the touched set
        extra = {k for k in got if k[0] == s} - {(s, int(v)) for v in touched}
        assert not extra
    assert rounds == max_rounds  # batched loop = max per-seed schedule


def test_ppr_sweep_matches_reference_transcription(spark, tiny_graph_sym, tiny_sym):
    from ligra_spark.apps import ppr, ppr_sweep

    n, src, dst = tiny_sym
    m = len(src)
    isolated = np.flatnonzero(np.bincount(src, minlength=n) == 0)
    assert isolated.size, "the sample graph has a degree-0 vertex"
    seeds = [0, int(isolated[0]), 17]
    state, _ = ppr(tiny_graph_sym, seeds, alpha=0.15, epsilon=1e-6)
    out = {r["seed"]: r for r in ppr_sweep(tiny_graph_sym, state).collect()}
    # the degree-0 seed is rejected at start (ACL-Sync-Local.C:85-88),
    # so it has no sweep row either
    assert set(out) == {0, 17}
    for s in sorted(out):
        p, _, _, deg = _numpy_acl(n, src, dst, s, 0.15, 1e-6)
        cond, size_s, vol_s, crossing = _numpy_sweep(n, src, dst, p, deg, m)
        r = out[s]
        assert r["size_s"] == size_s and r["vol_s"] == vol_s
        assert r["edges_crossing"] == crossing
        assert r["conductance"] == pytest.approx(cond, abs=1e-12)


def test_ppr_rejects_isolated_seed_silently_absent(spark, tiny_graph_sym):
    """A degree-0 seed contributes no state rows (the reference exits
    on such starts; the batched form just has nothing to push)."""
    from ligra_spark.apps import ppr

    state, rounds = ppr(tiny_graph_sym, [10_000 - 1], epsilon=1e-6)
    # vertex n-1 .. may exist; use an id outside the vertex range via deg join
    assert state.filter("seed = 9999").count() == 0
