"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes the engine's operator surface over the driver's
testdata tables; ``oracle_sql()`` gives the DuckDB-runnable ANSI twin
for every SQL-expressible query (convergence-defined apps — full
PageRank/CC/LP — are rows-only by design; their exactness is pinned by
tests/ against the numpy oracle instead).

Graph queries run over a canonical DERIVED link graph so both engines
see the same input: ``src = l_orderkey % 4096, dst = l_partkey % 4096``
from ``lineitem`` (duplicates kept — matching the reference generator's
duplicate-keeping semantics, ``utils/graphIO.h:343-353``), with vertex
universe 0..4095.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

V = 4096
EDGES_SQL = f"SELECT l_orderkey % {V} AS src, l_partkey % {V} AS dst FROM lineitem"
SYM_SQL = (
    "SELECT DISTINCT src, dst FROM ("
    "SELECT src, dst FROM e0 WHERE src <> dst "
    "UNION ALL SELECT dst AS src, src AS dst FROM e0 WHERE src <> dst) u"
)
PROBES = [0, 1, 2]
STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it"]
LANGS = {
    "en": ["the", "a", "and", "of"],
    "de": ["der", "die", "das", "und"],
    "fr": ["le", "la", "les", "et"],
    "es": ["el", "los", "las", "y"],
}


# ---------------------------------------------------------------- helpers
def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        (F.col("l_orderkey") % V).alias("src"), (F.col("l_partkey") % V).alias("dst")
    )


def _graph(spark: SparkSession, sf_dir: str, symmetric: bool = False):
    from ligra_spark.graph import LinkGraph

    return LinkGraph.from_edges(
        spark, _edges(spark, sf_dir), n=V, make_symmetric=symmetric
    )


# ---------------------------------------------------------------- entry
def entry(spark: SparkSession) -> DataFrame:
    """Flagship: 10-iteration PageRank over the derived link graph at
    sf0.001 (the TestAll.C benchmark shape)."""
    from ligra_spark.apps import pagerank

    g = _graph(spark, "/root/testdata/sf0.001")
    scores, _ = pagerank(g, max_iters=10)
    return scores.select("id", F.round("rank", 8).alias("rank"))


# ---------------------------------------------------------------- queries
def _q_out_degree(spark, sf):
    return (
        _edges(spark, sf)
        .groupBy(F.col("src").alias("id"))
        .agg(F.count(F.lit(1)).alias("outdeg"))
    )


def _q_degree_histogram(spark, sf):
    return _q_out_degree(spark, sf).groupBy("outdeg").agg(
        F.count(F.lit(1)).alias("n_vertices")
    )


def _q_two_hop(spark, sf):
    e = _edges(spark, sf)
    a = e.select(F.col("src").alias("id"), F.col("dst").alias("mid"))
    b = e.select(F.col("src").alias("mid"), F.col("dst").alias("d2"))
    return a.join(b, "mid").groupBy("id").agg(F.count(F.lit(1)).alias("paths2"))


def _q_triangles(spark, sf):
    from ligra_spark.apps.triangle import triangle_count_df

    return triangle_count_df(_graph(spark, sf, symmetric=True))


def _q_pagerank_k3(spark, sf):
    from ligra_spark.apps import pagerank

    scores, _ = pagerank(_graph(spark, sf), max_iters=3)
    return scores.select("id", F.round("rank", 8).alias("rank"))


def _q_pagerank_full(spark, sf):
    from ligra_spark.apps import pagerank

    scores, _ = pagerank(_graph(spark, sf), max_iters=100)
    return scores.select("id", F.round("rank", 8).alias("rank"))


def _q_pagerank_delta(spark, sf):
    from ligra_spark.apps import pagerank_delta

    scores, _ = pagerank_delta(_graph(spark, sf), max_iters=100)
    return scores.select("id", F.round("rank", 8).alias("rank"))


def _q_hits(spark, sf):
    from ligra_spark.apps import hits

    out, _ = hits(_graph(spark, sf), iters=5)
    return out.select(
        "id", F.round("auth", 8).alias("auth"), F.round("hub", 8).alias("hub")
    )


def _q_trustrank(spark, sf):
    """TrustRank (apps.trustrank): teleport-personalized PageRank over
    the trusted seed set PPR_SEEDS — pagerank's quirks kept (lossy
    dangling mass, duplicate edges count double).  Fixed 70-round
    schedule matching the oracle unroll exactly (converged L1 < 1e-7
    lands at 68 rounds at sf0.001 — close enough to the round-8 edge
    that the 2-round schedule gap flipped one row's 8th decimal)."""
    from ligra_spark.apps import trustrank

    scores, _ = trustrank(_graph(spark, sf), PPR_SEEDS, max_iters=70, epsilon=0.0)
    return scores.select("id", F.round("trust", 8).alias("trust"))


def _q_salsa(spark, sf):
    """SALSA (apps.salsa): closed-form stationary authority/hub scores
    per connected component of the bipartite support graph — one CC
    run + two degree aggs, no power iteration."""
    from ligra_spark.apps import salsa

    out = salsa(_graph(spark, sf))
    return out.select(
        "id", F.round("auth", 12).alias("auth"), F.round("hub", 12).alias("hub")
    )


def _q_community_lpa(spark, sf):
    """Synchronous community LPA (apps.community_lpa): 5 fixed rounds
    of adopt-the-modal-neighbor-label (tie -> min) over the symmetric
    graph — deterministic by construction, distinct from the min-label
    connectivity `label_propagation`."""
    from ligra_spark.apps import community_lpa

    return community_lpa(_graph(spark, sf, symmetric=True), rounds=5)


def _q_clique4(spark, sf):
    """4-clique count (apps.kclique): exact complete-quadruple census
    via degree-oriented path growth — Triangle.C's count one motif
    up; each clique enumerated once in orientation order."""
    from ligra_spark.apps import kclique_count_df

    return kclique_count_df(_graph(spark, sf, symmetric=True), 4)


def _q_cc_k4(spark, sf):
    from ligra_spark.apps import components

    labels, _ = components(_graph(spark, sf, symmetric=True), max_iters=4)
    return labels.select("id", F.col("component").alias("label"))


def _q_components(spark, sf):
    from ligra_spark.apps import components

    labels, _ = components(_graph(spark, sf, symmetric=True))
    return labels


def _q_pagerank_csr(spark, sf):
    """PageRank over the per-partition-CSR physical backend
    (``csr_backend.make_csr_edge_map``): same app code and convergence
    rule as ``pagerank``, different gather-scatter physics — sharing
    its oracle IS the cross-backend check."""
    import tempfile

    from ligra_spark.apps import pagerank
    from ligra_spark.csr_backend import make_csr_edge_map, pack_csr

    g = _graph(spark, sf)
    pack = pack_csr(g, tempfile.mkdtemp(prefix="csr_entry_pr_"))
    scores, _ = pagerank(g, max_iters=100, edge_map_fn=make_csr_edge_map(pack))
    return scores.select("id", F.round("rank", 8).alias("rank"))


def _q_components_csr(spark, sf):
    """Min-label components over the per-partition-CSR backend — exact
    labels, shares the ``components`` oracle."""
    import tempfile

    from ligra_spark.apps import components
    from ligra_spark.csr_backend import make_csr_edge_map, pack_csr

    g = _graph(spark, sf, symmetric=True)
    pack = pack_csr(g, tempfile.mkdtemp(prefix="csr_entry_cc_"))
    labels, _ = components(g, edge_map_fn=make_csr_edge_map(pack))
    return labels


def _q_cc_star(spark, sf):
    """Two-phase (large-star/small-star) CC — diameter-independent
    round count; fixpoint labeling identical to min-label components,
    so it shares the chained-min-rounds oracle."""
    from ligra_spark.apps import cc_two_phase

    labels, _ = cc_two_phase(_graph(spark, sf, symmetric=True))
    return labels


def _q_cc_incremental(spark, sf):
    """Streaming CC maintenance replayed as a batch query: the edge
    set split into 3 deterministic hash-batches and folded through
    ``apply_cc_batch`` (star-table versions + manifest commits in a
    scratch dir); the maintained labels must equal batch CC — shares
    the chained-min-rounds oracle with ``components``."""
    import shutil
    import tempfile

    from ligra_spark.streaming import apply_cc_batch, cc_labels

    cc_dir = tempfile.mkdtemp(prefix="ccinc_")
    try:
        for b in range(3):
            batch = _edges(spark, sf).filter(
                F.pmod(F.xxhash64("src", "dst"), F.lit(3)) == b
            )
            apply_cc_batch(
                batch, b, cc_dir, spark.sparkContext.defaultParallelism
            )
        # materialize off the scratch dir before deleting it — the
        # caller collects AFTER this function returns
        return cc_labels(
            spark, cc_dir, vertices=spark.range(V).select("id")
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(cc_dir, ignore_errors=True)


def _q_triangle_incremental(spark, sf):
    """Streaming triangle maintenance replayed as a batch query: the
    edge set split into 3 deterministic hash-batches and folded through
    ``apply_tri_batch`` (delta-proportional new-triangle enumeration +
    manifest commits in a scratch dir); the maintained total must equal
    the full recount — shares the triangle_count oracle."""
    import shutil
    import tempfile

    from ligra_spark.streaming import apply_tri_batch, read_tri_total

    tri_dir = tempfile.mkdtemp(prefix="triinc_")
    try:
        for b in range(3):
            batch = _edges(spark, sf).filter(
                F.pmod(F.xxhash64("src", "dst"), F.lit(3)) == b
            )
            apply_tri_batch(batch, b, tri_dir)
        total = read_tri_total(tri_dir)
    finally:
        shutil.rmtree(tri_dir, ignore_errors=True)
    return spark.createDataFrame([(total,)], "triangles long")


def _q_label_propagation(spark, sf):
    from ligra_spark.apps import label_propagation

    labels, _ = label_propagation(_graph(spark, sf, symmetric=True))
    return labels


def _q_bfs_k3(spark, sf):
    from ligra_spark.apps import bfs_levels

    levels, _ = bfs_levels(_graph(spark, sf), root=0, max_iters=3)
    return levels


def _q_bfs_full(spark, sf):
    from ligra_spark.apps import bfs_levels

    levels, _ = bfs_levels(_graph(spark, sf), root=0)
    return levels


def _q_sssp_full(spark, sf):
    from ligra_spark.apps import bellman_ford
    from ligra_spark.graph import LinkGraph

    g = LinkGraph.from_edges(spark, _edges_w(spark, sf), n=V)
    dists, _ = bellman_ford(g, root=0)
    return dists


def _q_sssp_csr(spark, sf):
    """Bellman-Ford over the weighted CSR backend (min_plus monoid,
    packed per-edge weights) — exact dists, shares the sssp oracle."""
    import tempfile

    from ligra_spark.apps import bellman_ford
    from ligra_spark.csr_backend import make_csr_edge_map, pack_csr
    from ligra_spark.graph import LinkGraph

    g = LinkGraph.from_edges(spark, _edges_w(spark, sf), n=V)
    pack = pack_csr(g, tempfile.mkdtemp(prefix="csr_entry_sssp_"))
    dists, _ = bellman_ford(g, root=0, edge_map_fn=make_csr_edge_map(pack))
    return dists


def _q_bfscc(spark, sf):
    from ligra_spark.apps import bfscc

    labels, _ = bfscc(_graph(spark, sf, symmetric=True))
    return labels


def _q_delta_stepping(spark, sf):
    from ligra_spark.apps import delta_stepping
    from ligra_spark.graph import LinkGraph

    g = LinkGraph.from_edges(spark, _edges_w(spark, sf), n=V)
    dists, _ = delta_stepping(g, root=0, delta=4)
    return dists


def _q_ecc_16(spark, sf):
    from ligra_spark.apps import ecc_estimate

    out, _ = ecc_estimate(_graph(spark, sf, symmetric=True), sources=list(range(16)))
    return out


def _q_harmonic_16(spark, sf):
    """Harmonic centrality from sources 0..15 (Boldi-Vigna) via the
    kBFS bit-wave machinery; exact integer-scaled accumulation makes
    the doubles bit-identical to the oracle's L//level sum."""
    from ligra_spark.apps import harmonic_from_sources

    out, _ = harmonic_from_sources(
        _graph(spark, sf, symmetric=True), sources=list(range(16))
    )
    return out.select("id", "harmonic")


def _q_closeness_16(spark, sf):
    """Sampled closeness centrality from the same kBFS pass: sources
    reaching v divided by their total distance — exact integer
    accumulators, one IEEE division."""
    from ligra_spark.apps import harmonic_from_sources

    out, _ = harmonic_from_sources(
        _graph(spark, sf, symmetric=True), sources=list(range(16))
    )
    return out.select("id", "closeness", "n_reached", "dist_sum")


def _q_ecc_fm(spark, sf):
    from ligra_spark.apps import ecc_fm

    out, _ = ecc_fm(_graph(spark, sf, symmetric=True), length=2, seed=0)
    return out


def _q_ecc_loglog(spark, sf):
    from ligra_spark.apps import ecc_loglog

    out, _ = ecc_loglog(_graph(spark, sf, symmetric=True), seed=0)
    return out


def _q_setcover(spark, sf):
    from ligra_spark.apps import setcover

    out, _ = setcover(_graph(spark, sf))
    return out


def _edges_w(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        (F.col("l_orderkey") % V).alias("src"),
        (F.col("l_partkey") % V).alias("dst"),
        (1 + F.col("l_orderkey") % 7).alias("weight"),
    )


def _q_sssp_k3(spark, sf):
    from ligra_spark.apps import bellman_ford
    from ligra_spark.graph import LinkGraph

    g = LinkGraph.from_edges(spark, _edges_w(spark, sf), n=V)
    dists, _ = bellman_ford(g, root=0, max_iters=3)
    return dists


def _q_lp_k2(spark, sf):
    from ligra_spark.apps import label_propagation

    labels, _ = label_propagation(_graph(spark, sf, symmetric=True), max_iters=2)
    return labels


def _q_bc(spark, sf):
    from ligra_spark.apps import bc_single_source

    out, _ = bc_single_source(_graph(spark, sf), root=0)
    return out.select("id", F.round("bc", 6).alias("bc"))


def _q_radii(spark, sf):
    from ligra_spark.apps import radii

    out, _ = radii(_graph(spark, sf))
    return out


def _q_mis(spark, sf):
    from ligra_spark.apps import mis

    out, _ = mis(_graph(spark, sf, symmetric=True))
    return out


def _q_kcore(spark, sf):
    from ligra_spark.apps import kcore

    out, _ = kcore(_graph(spark, sf, symmetric=True), max_k=10)
    return out


def _q_kcore_julienne(spark, sf):
    """FULL coreness via the Julienne bucket peel
    (``apps/bucketing/KCore.C:11-44``) over the V=256 symmetric
    derived graph (same universe as ``ecc_exact`` — the peel's step
    count is the number of distinct min-buckets, small here; unlike
    ``kcore`` there is no max_k cap).  Oracle: the iterated-H-index
    fixpoint (coreness), uncapped."""
    from ligra_spark.apps import kcore_julienne
    from ligra_spark.graph import LinkGraph

    li = _t(spark, sf, "lineitem")
    e = li.select(
        (F.col("l_orderkey") % V_ECC).alias("src"),
        (F.col("l_partkey") % V_ECC).alias("dst"),
    )
    g = LinkGraph.from_edges(spark, e, n=V_ECC, make_symmetric=True)
    res, _ = kcore_julienne(g)
    return res


PPR_SEEDS = [0, 1, 2, 3]  # all have degree > 0 on the symmetric gate graph
PPR_ALPHA = 0.15
PPR_EPS = 1e-6  # gate-scale ε: 28 rounds at sf0.001, 22 at sf0.01


def _q_ppr(spark, sf):
    """Batched multi-seed ACL push-PPR
    (``apps/localAlg/ACL-Sync-Local.C:79-128``) over the symmetric
    gate graph: (seed, id, p) for every vertex that entered the
    seed's frontier."""
    from ligra_spark.apps import ppr

    state, _ = ppr(
        _graph(spark, sf, symmetric=True),
        PPR_SEEDS,
        alpha=PPR_ALPHA,
        epsilon=PPR_EPS,
    )
    return state.filter(F.col("p") > 0).select(
        "seed", "id", F.round("p", 8).alias("p")
    )


def _q_ppr_sweep(spark, sf):
    """Sweep cut over the ACL output (``apps/localAlg/sweep.h:66-110``):
    per seed the min-conductance prefix of the p/deg ordering —
    (seed, size_s, vol_s, edges_crossing, conductance)."""
    from ligra_spark.apps import ppr, ppr_sweep

    g = _graph(spark, sf, symmetric=True)
    state, _ = ppr(g, PPR_SEEDS, alpha=PPR_ALPHA, epsilon=PPR_EPS)
    return ppr_sweep(g, state)


NIBBLE_EPS = 1e-5  # walk support stays sparse; threshold q > deg·ε
NIBBLE_T = 10      # the reference's -T default (Nibble-Serial.C:48)
HK_T = 3.0         # diffusion time, reference -t default
HK_EPS = 1e-4
HK_N = 3           # Taylor terms (reference -N; 3 exercises the
                   # non-last push + threshold + last-level paths)


def _q_nibble(spark, sf):
    """Batched multi-seed Nibble (``apps/localAlg/Nibble-Serial.C:
    40-73``): the truncated lazy-random-walk mass after T rounds over
    the symmetric gate graph."""
    from ligra_spark.apps import nibble

    state, _ = nibble(
        _graph(spark, sf, symmetric=True),
        PPR_SEEDS,
        epsilon=NIBBLE_EPS,
        max_rounds=NIBBLE_T,
    )
    return state.select("seed", "id", F.round("q", 8).alias("q"))


def _q_heat_kernel(spark, sf):
    """Batched multi-seed synchronous hk-relax
    (``apps/localAlg/HeatKernel-Parallel.C:94-181``): absorbed heat
    mass x after N Taylor levels over the symmetric gate graph."""
    from ligra_spark.apps import heat_kernel

    state, _ = heat_kernel(
        _graph(spark, sf, symmetric=True),
        PPR_SEEDS,
        t=HK_T,
        epsilon=HK_EPS,
        n_terms=HK_N,
    )
    # nudged rounding (floor(x·1e8 + .501)/1e8), NOT F.round: the hk
    # values are simple rationals that sit EXACTLY on .5 decimal
    # boundaries, and the two engines' summation orders differ by 1
    # ulp on some of them — HALF_UP then flips per engine.  The nudge
    # moves the decision boundary to .499 where no data lives; the
    # oracle applies the identical formula (see _heat_kernel_sql).
    return state.select(
        "seed", "id",
        (F.floor(F.col("x") * F.lit(1e8) + F.lit(0.501)) / F.lit(1e8)).alias("x"),
    )


HKR_T = 3.0    # reference -t default (HeatKernel-Randomized-Serial.C:56)
HKR_K = 10     # reference -K default (:54)
HKR_WALKS = 64  # reference -N default is 10; 64 keeps p dyadic AND
                # exercises endpoint collisions
HKR_SEED = 7


def _q_heat_kernel_rand(spark, sf):
    """Batched multi-seed rand-HK-PR
    (``apps/localAlg/HeatKernel-Randomized-Serial.C:47-88``, the
    Chung–Simpson Monte-Carlo estimator): empirical endpoint
    distribution of truncated-Poisson-length lazy walks over the
    symmetric gate graph, hashInt counter stream (no rounding needed
    — every p is an exact count/64)."""
    from ligra_spark.apps import heat_kernel_rand

    state, _ = heat_kernel_rand(
        _graph(spark, sf, symmetric=True),
        PPR_SEEDS,
        t=HKR_T,
        k_max=HKR_K,
        n_walks=HKR_WALKS,
        seed=HKR_SEED,
    )
    return state.select("seed", "id", "p")


N_TK = 255  # perfect binary tree: parent(i) = (i-1) // 2


def _q_ecc_tk(spark, sf):
    """Takes–Kosters bound-pruned exact eccentricity
    (``apps/eccentricity/TK.C:74-206``) over a perfect binary tree of
    255 vertices.  The gate's dense low-diameter derived graph makes
    TK's pruning degenerate to n iterations (SURVEY §8.4), and a
    torus (``gridGraph``) would too — it is vertex-transitive, every
    eccentricity equals the diameter, so lower==upper only ever holds
    at BFS roots.  A tree has heterogeneous eccentricities
    (depth(v) + D for v below the root, D at it), the regime TK's
    bounds exploit: 4 candidate BFSes to full convergence.  TK's
    OUTPUT is exact eccentricity — schedule-independent — so the
    oracle is the all-sources BFS unroll over the same tree."""
    from ligra_spark.graph import LinkGraph

    child = spark.range(1, N_TK).select(F.col("id").alias("src"))
    e = child.select("src", ((F.col("src") - 1) / 2).cast("long").alias("dst"))
    g = LinkGraph.from_edges(spark, e, n=N_TK, make_symmetric=True)
    from ligra_spark.apps import ecc_tk

    res, _ = ecc_tk(g)
    return res


NH = 2048
INC_SQL = (
    f"SELECT DISTINCT l_partkey % {V} AS v, l_orderkey % {NH} AS h FROM lineitem"
)


def _hyper(spark, sf):
    from ligra_spark.hygra import HyperGraph

    li = _t(spark, sf, "lineitem")
    inc = li.select(
        (F.col("l_partkey") % V).alias("vertex"),
        (F.col("l_orderkey") % NH).alias("hedge"),
    )
    return HyperGraph.from_incidence(spark, inc, nv=V, nh=NH)


def _q_hyper_bfs(spark, sf):
    from ligra_spark.apps import hyper_bfs

    out, _ = hyper_bfs(_hyper(spark, sf), root=0)
    return out


def _q_hyper_cc(spark, sf):
    from ligra_spark.apps import hyper_cc

    out, _ = hyper_cc(_hyper(spark, sf))
    return out


def _q_hyper_pagerank(spark, sf):
    """HyperPageRank (``apps/hyper/HyperPageRank.C:84-121``): 5 mass
    iterations over the bipartite incidence; hyperedge ranks are the
    final half-step's pH (memberless slots report the reset 0.0)."""
    from ligra_spark.apps import hyper_pagerank

    out, _ = hyper_pagerank(_hyper(spark, sf), max_iters=5)
    return out.select("kind", "id", F.round("rank", 8).alias("rank"))


def _q_hyper_kcore(spark, sf):
    """HyperKCore (``apps/hyper/HyperKCore.C:85-140``): peel vertices
    with induced degree < k; hyperedges die on first member removal."""
    from ligra_spark.apps import hyper_kcore

    out, _ = hyper_kcore(_hyper(spark, sf))
    return out


def _q_hyper_bc(spark, sf):
    """HyperBC (``apps/hyper/HyperBC.C:106-178``): single-source
    bipartite betweenness dependencies from vertex 0 — forward sigma
    half-steps, backward dependency rounds; all nv + nh nodes
    reported (unreached = 0.0)."""
    from ligra_spark.apps import hyper_bc

    out, _ = hyper_bc(_hyper(spark, sf), root=0)
    return out.select("kind", "id", F.round("dep", 8).alias("dep"))


def _q_hyper_kcore_efficient(spark, sf):
    """HyperKCore-Efficient (``apps/hyper/HyperKCore-Efficient.C:
    24-63``): Julienne-bucketed hypergraph coreness — same output as
    the ``HyperKCore.C`` peel loop (the oracle is shared), work
    proportional to incidences removed per bucket step."""
    from ligra_spark.apps import hyper_kcore_efficient

    out, _ = hyper_kcore_efficient(_hyper(spark, sf))
    return out


# per-pin weight for the weighted hypergraph: a deterministic function
# of (vertex, hedge) so Spark and DuckDB derive identical inputs
HINC_W = "(v * 7 + h * 13) % 10 + 1"


def _hyper_w(spark, sf):
    from ligra_spark.hygra import HyperGraph

    li = _t(spark, sf, "lineitem")
    inc = li.select(
        (F.col("l_partkey") % V).alias("vertex"),
        (F.col("l_orderkey") % NH).alias("hedge"),
    ).withColumn("w", (F.col("vertex") * 7 + F.col("hedge") * 13) % 10 + 1)
    return HyperGraph.from_incidence(spark, inc, nv=V, nh=NH, weight_col="w")


def _q_hyper_sssp(spark, sf):
    """HyperSSSP (``apps/hyper/HyperSSSP.C:60-100``): Bellman-Ford
    over the weighted incidence (weight used in both directions);
    unreached nodes are absent."""
    from ligra_spark.apps import hyper_sssp

    out, _ = hyper_sssp(_hyper_w(spark, sf), root=0)
    return out


def _q_hyper_mis(spark, sf):
    """HyperMIS (``apps/hyper/HyperMIS.C:119-160``): Beame-Luby with
    the reference's deterministic hashInt sampling — flags are exact
    (1 = out, r >= 2 = joined in round r)."""
    from ligra_spark.apps import hyper_mis

    out, _ = hyper_mis(_hyper(spark, sf))
    return out


# directed hypergraph for B-path: in-pins fold parts into a SMALL
# vertex range (so all-in-pins-visited activation actually fires) and
# NH is larger than the distinct-order count (so a hyperedge is one
# order's pin set, not a union of ~7 orders with ~20 in-pins that can
# never complete); out-pins come from suppkey — a genuinely different
# pin set, which is what makes B-path non-degenerate.
VB_BP, NH_BP = 32, 32768
INB_SQL = (
    f"SELECT DISTINCT l_partkey % {VB_BP} AS v, l_orderkey % {NH_BP} AS h FROM lineitem"
)
OUTB_SQL = (
    f"SELECT DISTINCT l_suppkey % {VB_BP} AS v, l_orderkey % {NH_BP} AS h FROM lineitem"
)


def _q_hyper_bpath(spark, sf):
    """HyperBPath (``apps/hyper/HyperBPath.C:27-80``): B-connectivity
    BFS over a DIRECTED hypergraph — a hyperedge activates only when
    ALL in-pins are visited, then scatters to its out-pins."""
    from ligra_spark.apps import hyper_bpath
    from ligra_spark.hygra import HyperGraph

    li = _t(spark, sf, "lineitem")
    inp = li.select(
        (F.col("l_partkey") % VB_BP).alias("vertex"),
        (F.col("l_orderkey") % NH_BP).alias("hedge"),
    )
    outp = li.select(
        (F.col("l_suppkey") % VB_BP).alias("vertex"),
        (F.col("l_orderkey") % NH_BP).alias("hedge"),
    )
    hg = HyperGraph.from_directed_incidence(spark, inp, outp, nv=VB_BP, nh=NH_BP)
    out, _ = hyper_bpath(hg, root=0)
    return out


def _q_cf(spark, sf):
    """CF-SGD over the weighted symmetric derived graph (weight = a
    deterministic function of the undirected pair so both engines see
    identical inputs).  Long-form output (id, k, latent_k) — scalar
    rows compare engine-portably, arrays don't."""
    from ligra_spark.apps import cf_sgd
    from ligra_spark.graph import LinkGraph, symmetrize

    ew = symmetrize(_edges(spark, sf)).withColumn(
        "weight",
        (1 + (F.least("src", "dst") * 31 + F.greatest("src", "dst")) % 5).cast("long"),
    )
    g = LinkGraph.from_edges(spark, ew, n=V, symmetric=True)
    lat, _ = cf_sgd(g)
    return lat.select(
        "id", F.posexplode("latent").alias("k", "lv")
    ).select("id", "k", F.round("lv", 8).alias("latent_k"))


BM25_TERMS = ["join", "merge", "window"]


def _q_doc_inverted_index(spark, sf):
    """Inverted index (functions.retrieval): per case-folded term the
    untruncated document frequency and the first-32 ascending doc_id
    posting list (comma-joined for the scalar-column gate compare)."""
    from ligra_spark.functions import inverted_index

    idx = inverted_index(_t(spark, sf, "documents"), max_postings=32)
    return idx.select(
        "term", "df", F.array_join("postings", ",").alias("postings")
    )


def _q_doc_bm25_topk(spark, sf):
    """BM25 top-20 (functions.retrieval) for the fixed query bag
    BM25_TERMS over the documents table; deterministic
    (round-8 score desc, doc_id asc) ranking."""
    from pyspark.sql import Window

    from ligra_spark.functions import bm25_scores

    s = bm25_scores(_t(spark, sf, "documents"), BM25_TERMS).select(
        "doc_id", F.round("score", 8).alias("score")
    )
    w = Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
    return (
        s.select("*", F.row_number().over(w).alias("rank"))
        .filter(F.col("rank") <= 20)
    )


SAMPLE_FRACTIONS = {"en": 0.5, "de": 0.25, "fr": 0.125}
SAMPLE_SEED = 7


def _q_doc_stratified_sample(spark, sf):
    """Deterministic per-language corpus sampling
    (functions.sampling): hash-gated membership via the bit-exact
    cross-engine hashInt, so the sample is identical on every engine,
    partitioning, and rerun; es/zh strata are dropped (not listed)."""
    from ligra_spark.functions import stratified_sample

    return stratified_sample(
        _t(spark, sf, "documents"),
        SAMPLE_FRACTIONS,
        key="lang",
        seed=SAMPLE_SEED,
    ).select("doc_id", "lang")


def _q_doc_exact_dedup(spark, sf):
    from ligra_spark.functions import exact_duplicates

    return exact_duplicates(_t(spark, sf, "documents"))


def _q_doc_neardup_clusters(spark, sf):
    """Full near-dup dedup flow: MinHash → LSH pairs → transitive
    closure via two-phase star contraction → canonical keeper."""
    from ligra_spark.functions.dedup import neardup_clusters

    return neardup_clusters(_t(spark, sf, "documents"))


def _q_doc_token_count(spark, sf):
    from ligra_spark.functions import with_token_count

    return with_token_count(_t(spark, sf, "documents")).select("doc_id", "n_tokens")


def _q_doc_quality(spark, sf):
    from ligra_spark.functions import with_quality

    return with_quality(_t(spark, sf, "documents")).select(
        "doc_id", "n_tokens", "alpha_ratio", "stop_hits", "quality"
    )


def _q_doc_gopher_filter(spark, sf):
    """Gopher-style repetition/quality gate (Rae et al. 2021 §A1.1
    semantics over tokens): zero-shuffle scan-project — the top-n-gram
    frequency is a sorted-array longest-equal-run, not a groupBy."""
    from ligra_spark.functions import gopher_filter

    return gopher_filter(_t(spark, sf, "documents")).select(
        "doc_id",
        "n_tokens",
        "distinct_frac",
        "top2gram_frac",
        "top3gram_frac",
        "mean_word_len",
        "symbol_frac",
        "gopher_pass",
        "gopher_reason",
    )


# deterministic PII injection shared by the Spark entry and the SQL
# oracle — the synthetic corpus contains no PII, so the gate plants
# one known item per residue class before scrubbing
_PII_SUFFIXES = [
    (0, " mail me at bob.smith+x@example.co.uk ok"),
    (1, " call +1 (415) 555-0199 now"),
    (2, " server at 10.0.255.7 down"),
]


def _q_doc_pii_redact(spark, sf):
    """C4-style PII scrub: email/IPv4/phone → typed placeholder tokens
    plus per-kind match counts; single codegen'd scan."""
    from ligra_spark.functions import redact_pii

    docs = _t(spark, sf, "documents")
    suffix = F.lit("")
    for r, s in reversed(_PII_SUFFIXES):
        suffix = F.when(F.col("doc_id") % 5 == r, F.lit(s)).otherwise(suffix)
    src = docs.withColumn("text", F.concat(F.col("text"), suffix))
    return redact_pii(src).select(
        "doc_id", "n_email", "n_phone", "n_ipv4", "redacted"
    )


# deterministic suffixes exercising the BPE pre-tokenizer's four
# branches (contraction, digit run, punctuation run, multi-space) —
# shared by the Spark entry and the SQL oracle
_BPE_SUFFIXES = [
    (0, " it's 1234 ok!"),
    (1, " we'll rock-n-roll 7x"),
    (2, "  spaced,punct;here"),
]


def _q_doc_shared_spans(spark, sf):
    """Span-level dedup detection (Lee et al. 2021 semantics): the
    corpus augmented with derived 'plagiarized' docs (token slice 5..28
    of every 10th doc) so verbatim shared spans exist; reports each
    pair's longest shared span via the diagonal gaps-and-islands plan."""
    from ligra_spark.functions.span_dedup import shared_span_pairs
    from ligra_spark.functions.text import tokens_col

    docs = _t(spark, sf, "documents")
    toks = tokens_col(F.col("text"))
    derived = docs.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat_ws(" ", F.slice(toks, 5, 24)).alias("text"),
    )
    aug = docs.select("doc_id", "text").unionByName(derived)
    return shared_span_pairs(aug, k=8)


def _q_doc_neardup_incremental(spark, sf):
    """Streaming dedup maintenance replayed as a batch query: the
    documents table split into 3 hash-batches and folded through
    ``apply_dedup_batch`` (persistent LSH-band + content-hash bucket
    index, collision edges into the incremental-CC star store); the
    maintained clustering is batch-split-independent and must equal
    the full-corpus closure over LSH pairs ∪ exact-dup pairs."""
    import shutil
    import tempfile

    from ligra_spark.streaming import apply_dedup_batch, dedup_state

    docs = _t(spark, sf, "documents")
    dd_dir = tempfile.mkdtemp(prefix="ddinc_")
    try:
        for b in range(3):
            batch = docs.filter(F.pmod(F.xxhash64("doc_id"), F.lit(3)) == b)
            apply_dedup_batch(
                batch, b, dd_dir, spark.sparkContext.defaultParallelism
            )
        return dedup_state(spark, dd_dir).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(dd_dir, ignore_errors=True)


def _q_doc_bpe_tokens(spark, sf):
    """BPE-ish token budgeting: GPT-2-style pre-tokenizer segment count
    + fertility ratio vs whitespace words; one codegen'd regexp scan."""
    from ligra_spark.functions.text import with_bpe_token_count

    docs = _t(spark, sf, "documents")
    suffix = F.lit("")
    for r, s in reversed(_BPE_SUFFIXES):
        suffix = F.when(F.col("doc_id") % 4 == r, F.lit(s)).otherwise(suffix)
    src = docs.withColumn("text", F.concat(F.col("text"), suffix))
    return with_bpe_token_count(src).select("doc_id", "n_bpe_tokens", "bpe_per_word")


def _q_doc_decontaminate(spark, sf):
    """Benchmark decontamination: per-doc count of distinct 8-token
    shingles shared with the benchmark slice (doc_id % 50 == 3).  The
    benchmark shingle set is broadcast; the corpus is scanned once."""
    from ligra_spark.functions import decontaminate

    docs = _t(spark, sf, "documents")
    bench = docs.filter(F.col("doc_id") % 50 == 3)
    return decontaminate(docs, bench, k=8)


def _q_doc_lang_guess(spark, sf):
    from ligra_spark.functions import with_lang_guess

    return with_lang_guess(_t(spark, sf, "documents")).select("doc_id", "lang_guess")


def _q_doc_fingerprint(spark, sf):
    from ligra_spark.functions import with_fingerprint

    return with_fingerprint(_t(spark, sf, "documents")).select("doc_id", "fingerprint")


def _q_jaccard_pairs(spark, sf):
    from ligra_spark.functions import token_jaccard_pairs

    return token_jaccard_pairs(_t(spark, sf, "documents"), threshold=0.9)


def _q_corpus_prep(spark, sf):
    from ligra_spark.functions import corpus_prep

    return corpus_prep(_t(spark, sf, "documents"))


def _q_minhash(spark, sf):
    from ligra_spark.functions import minhash_signatures

    return minhash_signatures(_t(spark, sf, "documents"), num_hashes=8, shingle_k=3)


def _q_lsh_pairs(spark, sf):
    from ligra_spark.functions import lsh_candidate_pairs, minhash_signatures

    sigs = minhash_signatures(_t(spark, sf, "documents"), num_hashes=8, shingle_k=3)
    return lsh_candidate_pairs(sigs, num_hashes=8, bands=4)


def _q_simhash(spark, sf):
    from ligra_spark.functions import simhash16

    return simhash16(_t(spark, sf, "documents"))


def _q_cosine_probe(spark, sf):
    from ligra_spark.functions.similarity import cosine_probe

    return cosine_probe(_t(spark, sf, "embeddings"), PROBES)


def _q_ann_topk(spark, sf):
    from pyspark.sql import Window
    from ligra_spark.functions.similarity import cosine_probe

    cp = cosine_probe(_t(spark, sf, "embeddings"), PROBES)
    w = Window.partitionBy("probe_id").orderBy(F.desc("cos_sim"), F.asc("vec_id"))
    return (
        cp.filter(F.col("vec_id") != F.col("probe_id"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
    )


def _q_ann_lsh(spark, sf):
    """The ANN scale path: hyperplane-LSH bucketed candidates (2-table
    OR-amplification) + exact re-rank.  dim passed explicitly (the
    testdata embeddings are 64-wide) — no driver-side length probe."""
    from ligra_spark.functions.similarity import lsh_bucket_topk

    emb = _t(spark, sf, "embeddings")
    probes = emb.filter(F.col("vec_id").isin(PROBES))
    return lsh_bucket_topk(emb, probes, k=5, bits=8, dim=64, tables=2)


def _q_ann_ivf(spark, sf):
    """The IVF ANN path: one cluster per base vector (nearest of 16
    deterministic centroids), probes expand to their 4 nearest
    clusters, exact cosine re-rank.  The bucketed-by-proximity
    alternative to ann_lsh_topk."""
    from ligra_spark.functions.similarity import ivf_topk

    emb = _t(spark, sf, "embeddings")
    probes = emb.filter(F.col("vec_id").isin(PROBES))
    return ivf_topk(emb, probes, k=5, nlist=16, nprobe=4, dim=64)


def _q_embedding_neardup(spark, sf):
    """Embedding-cosine near-duplicate pairs — the embedding leg of
    the dedup suite: LSH-bucketed candidates (never all-pairs),
    exact-cosine confirm.  bits=4/tables=2 chosen so the synthetic
    embeddings (max pairwise cosine ~0.51) yield a non-trivial result
    at threshold 0.35; at real near-dup thresholds (>=0.9) the same
    plan runs with bits=16+."""
    from ligra_spark.functions.similarity import lsh_neardup_pairs

    emb = _t(spark, sf, "embeddings")
    return lsh_neardup_pairs(emb, threshold=0.35, bits=4, dim=64, tables=2)


def _q_events_sessions(spark, sf):
    """Gap-based sessionization of the events table via
    F.session_window (the same operator the streaming path uses under
    a watermark): one row per (user, session) with count + value sum;
    session end = last event + gap."""
    from ligra_spark.streaming import sessionize

    return sessionize(
        _t(spark, sf, "events"), ts_col="ts", key_col="user_id",
        gap="10 minutes", value_col="value",
    )


def _q_events_asof(spark, sf):
    """As-of join: every 'click' event gains the user's most recent
    at-or-before 'view' event (timestamp + value).  Scale-safe union
    + running-last formulation (one shuffle on user_id) — DuckDB's
    native ASOF JOIN is the oracle."""
    from ligra_spark.functions.temporal import asof_join

    ev = _t(spark, sf, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", "value"
    )
    views = ev.filter(F.col("event_type") == "view").select("user_id", "ts", "value")
    return asof_join(clicks, views, on="ts", by="user_id", right_cols=("value",))


def _q_events_range(spark, sf):
    """Binned range join: per click event, count + value-sum of the
    same user's views in the following 30 minutes.  Equi-join on
    (user, time-bucket) + residual filter — no inequality nested-loop.
    Zero-match clicks kept with 0s (left-join semantics)."""
    from ligra_spark.functions.temporal import range_join

    ev = _t(spark, sf, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    views = ev.filter(F.col("event_type") == "view").select("user_id", "ts", "value")
    pairs = range_join(clicks, views, on="ts", by="user_id", window_s=1800)
    agg = pairs.groupBy("event_id").agg(
        F.count(F.lit(1)).alias("n_after"),
        F.round(F.sum("win_value"), 6).alias("sum_after"),
    )
    return clicks.join(agg, "event_id", "left").select(
        "event_id",
        "user_id",
        "ts",
        F.coalesce("n_after", F.lit(0)).alias("n_after"),
        F.round(F.coalesce("sum_after", F.lit(0.0)), 6).alias("sum_after"),
    )


def _q_events_hourly(spark, sf):
    ev = _t(spark, sf, "events")
    return ev.groupBy(
        F.date_trunc("hour", "ts").alias("hour"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 6).alias("sum_value"))


def _q_events_rollup(spark, sf):
    """Hierarchical rollup (day → event_type → grand total) in one
    pass — Spark's ROLLUP grouping-set expansion is the hypertable
    continuous-aggregate shape: partial aggs per grouping set, still
    one shuffle."""
    ev = _t(spark, sf, "events")
    return (
        # 4dp, not 6: the () grouping set sums the WHOLE table, where
        # cross-engine fp64 sum-order noise can exceed the 1e-6 grain
        ev.rollup(F.to_date("ts").alias("day"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
        # sentinel for subtotal rows: NULL day/type stringify
        # differently across engines (None vs NaT)
        .select(
            F.coalesce(F.col("day").cast("string"), F.lit("ALL")).alias("day"),
            F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
            "n",
            "sum_value",
        )
    )


def _q_ecc_simple_approx(spark, sf):
    """Simple 2-approx eccentricity (Simple-Approx-Ecc.C): one pinned
    BFS per component over the V=4096 symmetric derived graph, depth
    assigned to every member."""
    from ligra_spark.apps import ecc_simple_approx

    res, _ = ecc_simple_approx(_graph(spark, sf, symmetric=True), seed=0)
    return res


def _q_ecc_clrstv(spark, sf):
    """CLRSTV eccentricity estimator (CLRSTV.C) over the V=4096
    symmetric derived graph: sample/w/Ngh BFS scaffold, all-source
    max(d, ecc-d) combination for non-BFS'd vertices."""
    from ligra_spark.apps import ecc_clrstv

    res, _ = ecc_clrstv(_graph(spark, sf, symmetric=True), seed=0)
    return res


def _q_ecc_rv(spark, sf):
    """RV eccentricity estimator (RV.C): the CLRSTV scaffold plus
    min-parent Ngh-index propagation and the vt consult rule."""
    from ligra_spark.apps import ecc_rv

    res, _ = ecc_rv(_graph(spark, sf, symmetric=True), seed=0)
    return res


def _q_ecc_kbfs(spark, sf):
    """Two-phase kBFS eccentricity (kBFS-Ecc.C) over the V=4096
    symmetric derived graph: per-component hashInt sampling, 64-wave
    bitmask BFS, fringe re-sample for components > 1024, max merge."""
    from ligra_spark.apps import ecc_kbfs

    res, _ = ecc_kbfs(_graph(spark, sf, symmetric=True), seed=0)
    return res


V_ECC = 256  # smaller universe for the exact-eccentricity query: the
# all-sources kBFS is O(n/64) multi-BFS passes by design (kBFS-Exact.C)


def _q_ecc_exact(spark, sf):
    """Exact eccentricity via batched all-sources kBFS
    (``apps/eccentricity/kBFS-Exact.C``): 4 batches of 64 waves over a
    V=256 symmetric derived graph, elementwise max across batches."""
    from ligra_spark.apps import ecc_exact
    from ligra_spark.graph import LinkGraph

    li = _t(spark, sf, "lineitem")
    e = li.select(
        (F.col("l_orderkey") % V_ECC).alias("src"),
        (F.col("l_partkey") % V_ECC).alias("dst"),
    )
    g = LinkGraph.from_edges(spark, e, n=V_ECC, make_symmetric=True)
    res, _ = ecc_exact(g, batch_size=64)
    return res


def _q_events_user_hll(spark, sf):
    """Deterministic HyperLogLog distinct-user rollup per event type
    (b=6, raw estimator) next to the exact count and relative error —
    the cardinality-sketch rollup of a crawl-stats pipeline, bit-exact
    across engines via the hashInt avalanche + integer registers."""
    from ligra_spark.functions.sketches import hll_distinct

    ev = _t(spark, sf, "events")
    h = hll_distinct(ev, ["event_type"], "user_id", b=6)
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    return h.join(exact, "event_type").select(
        "event_type",
        "hll_distinct",
        "exact_users",
        (
            (F.col("hll_distinct") - F.col("exact_users"))
            / F.col("exact_users")
        ).alias("rel_err"),
    )


def _q_events_funnel(spark, sf):
    """Strict ordered funnel view→click→purchase: one groupBy(user) +
    a Catalyst state-machine aggregate; oracle = per-stage earliest-
    qualifying-timestamp chain (independent formulation)."""
    from ligra_spark.functions.funnel import funnel_counts

    return funnel_counts(
        _t(spark, sf, "events"), ["view", "click", "purchase"]
    )


def _q_events_retention(spark, sf):
    """Day-cohort retention matrix over events (first-seen cohort ×
    activity offset); dates emitted as strings so both engines hash
    identically."""
    from ligra_spark.functions.funnel import cohort_retention

    return cohort_retention(_t(spark, sf, "events")).select(
        F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
        "day_offset",
        "users",
    )


def _q_cycle4_count(spark, sf):
    """Exact 4-cycle census by the opposite-pair wedge identity."""
    from ligra_spark.apps import cycle4_count_df

    return cycle4_count_df(_graph(spark, sf, symmetric=True))


def _q_events_hub_onset(spark, sf):
    """Batch twin of the stateful streaming hub detector
    (``streaming.detect_new_hubs`` / applyInPandasWithState): for each
    user whose cumulative event count reaches the threshold, emit one
    row at the crossing event.  Ordering is (ts, event_id) — the
    deterministic event-time order the streaming test feeds."""
    from ligra_spark.streaming import hub_onsets

    ev = _t(spark, sf, "events")
    return hub_onsets(
        ev, key_col="user_id", order_cols=("ts", "event_id"), threshold=10
    ).select("user_id", "onset_ts", "onset_event_id", "in_links")


# ---- pages pipeline: the north-rule ingest path over synthesized pages.
# Both engines derive the SAME deterministic page set from documents:
# url = 'u' || doc_id, html = title + one <p> (the doc text) + two links
# whose targets land back inside the page set at the gate scale
# (closure is enforced by the dictionary inner join either way).
def _pages_df(spark, sf):
    docs = _t(spark, sf, "documents")
    link1 = (F.col("doc_id") * 7 % 97).cast("string")
    link2 = (F.col("doc_id") * 13 % 89).cast("string")
    html = F.concat(
        F.lit("<title>Doc "), F.col("doc_id").cast("string"), F.lit("</title>"),
        F.lit("<p>"), F.col("text"), F.lit("</p>"),
        F.lit('<a href="u'), link1, F.lit('">ref '),
        F.col("doc_id").cast("string"), F.lit("</a>"),
        F.lit('<a href="u'), link2, F.lit('">ref2</a>'),
    )
    return docs.select(
        F.concat(F.lit("u"), F.col("doc_id").cast("string")).alias("url"),
        F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("warc_ts"),
        F.encode(html, "UTF-8").alias("html"),
        F.col("text"),
        F.col("lang"),
    )


_PAGE_HTML_SQL = (
    "SELECT 'u' || doc_id AS url,"
    " '<title>Doc ' || doc_id || '</title><p>' || text || '</p>"
    '<a href="u\' || (doc_id * 7 % 97) || \'">ref \' || doc_id || \'</a>'
    '<a href="u\' || (doc_id * 13 % 89) || \'">ref2</a>\' AS html'
    " FROM documents"
)


def _q_page_extract(spark, sf):
    """The north-rule per-row invariant, driver-checked: text + link
    extraction over the pages table (ligra_spark.extract — pure
    Catalyst regexp), compared against DuckDB running the same
    extraction spec."""
    from ligra_spark.extract import extracted_pages

    return extracted_pages(_pages_df(spark, sf)).select(
        "url",
        F.col("extracted_text"),
        F.array_join("links", ",").alias("links"),
    )


def _q_page_link_graph(spark, sf):
    """The full ingest pipeline driver-checked end-to-end: pages →
    extract links → dense-id dictionary (lexicographic url rank) →
    (src, dst) edge table (ligra_spark.ingest.build_link_graph)."""
    from ligra_spark.ingest import build_link_graph

    g, _ = build_link_graph(spark, _pages_df(spark, sf))
    return g.edges.select("src", "dst")


def _hosted_pages_df(spark, sf):
    """Pages whose urls carry a real host (31 hosts, doc_id % 31) so
    the host-graph contraction has something to contract; links target
    other pages' full urls (doc_id*7 % 97 and doc_id*13 % 89)."""
    docs = _t(spark, sf, "documents")

    def url_of(k):
        return F.concat(
            F.lit("http://h"), (k % 31).cast("string"),
            F.lit(".test/p"), k.cast("string"),
        )

    u = url_of(F.col("doc_id"))
    l1 = url_of(F.col("doc_id") * 7 % 97)
    l2 = url_of(F.col("doc_id") * 13 % 89)
    html = F.concat(
        F.lit("<title>D</title>"),
        F.lit('<a href="'), l1, F.lit('">a</a>'),
        F.lit('<a href="'), l2, F.lit('">b</a>'),
    )
    return docs.select(
        u.alias("url"),
        F.to_timestamp(F.lit("2024-01-01 00:00:00")).alias("warc_ts"),
        F.encode(html, "UTF-8").alias("html"),
        F.col("text"),
        F.col("lang"),
    )


def _q_host_link_graph(spark, sf):
    """Common-Crawl-style host-graph construction driver-checked end to
    end: hosted pages → page link graph → host contraction (dense host
    ids = lexicographic host rank, weight = page-link multiplicity)."""
    from ligra_spark.ingest import build_link_graph, contract_to_host_graph

    g, d = build_link_graph(spark, _hosted_pages_df(spark, sf))
    he, _ = contract_to_host_graph(g.edges, d)
    return he


def _q_ktruss(spark, sf):
    """Maximal 4-truss of the symmetric graph (apps.ktruss): every
    surviving canonical edge closes >= 2 triangles among survivors.
    Fixpoint at this scale: 4 rounds (the 8-round oracle unroll is 2x
    past it; extra rounds are no-ops on a stable edge set)."""
    from ligra_spark.apps import ktruss

    e, _ = ktruss(_graph(spark, sf, symmetric=True), k=4)
    return e


def _q_truss_decomposition(spark, sf):
    """Per-edge trussness (apps.truss_decomposition): the max k whose
    k-truss contains the edge — KCore.C's decomposition idea one level
    up the cohesion ladder.  Gate graphs peel to empty at k = 5 with
    max trussness 4 (both SFs, measured), so the oracle's 4-level
    unroll is one level past the fixpoint."""
    from ligra_spark.apps import truss_decomposition

    res, _ = truss_decomposition(_graph(spark, sf, symmetric=True))
    return res


def _truss_decomp_sql(levels=(3, 4, 5, 6), rounds: int = 5) -> str:
    """Nested unroll of the trussness peel: per level k, ``rounds``
    peel rounds (identity once the level's fixpoint is reached —
    measured fixpoints: 2/4/1 rounds for k=3/4/5 at both gate SFs);
    edges removed within level k get trussness k-1.  Each level starts
    from the previous level's survivors (the (k)-truss is inside the
    (k-1)-truss)."""
    sql = (
        f"WITH e0 AS ({EDGES_SQL}), es AS ({SYM_SQL}),\n"
        "lvl3r0 AS MATERIALIZED (SELECT src, dst FROM es WHERE src < dst)"
    )
    parts = []
    for k in levels:
        need = k - 2
        for i in range(rounds):
            cur, nxt = f"lvl{k}r{i}", f"lvl{k}r{i + 1}"
            sql += (
                f",\nt{k}_{i} AS MATERIALIZED (SELECT a.src AS u, a.dst AS v, b.dst AS w\n"
                f"  FROM {cur} a JOIN {cur} b ON b.src = a.dst\n"
                f"  JOIN {cur} c ON c.src = a.src AND c.dst = b.dst),\n"
                f"x{k}_{i} AS (SELECT u AS src, v AS dst FROM t{k}_{i}\n"
                f"  UNION ALL SELECT v, w FROM t{k}_{i} UNION ALL SELECT u, w FROM t{k}_{i}),\n"
                f"s{k}_{i} AS (SELECT src, dst, count(*) AS cnt FROM x{k}_{i} GROUP BY src, dst),\n"
                f"{nxt} AS MATERIALIZED (SELECT e.src, e.dst FROM {cur} e\n"
                f"  JOIN s{k}_{i} s ON s.src = e.src AND s.dst = e.dst WHERE s.cnt >= {need})"
            )
        parts.append(
            f"SELECT src, dst, CAST({k - 1} AS BIGINT) AS trussness FROM\n"
            f"  (SELECT src, dst FROM lvl{k}r0 EXCEPT SELECT src, dst FROM lvl{k}r{rounds}) rm{k}"
        )
        if k != levels[-1]:
            sql += (
                f",\nlvl{k + 1}r0 AS MATERIALIZED (SELECT src, dst FROM lvl{k}r{rounds})"
            )
    return sql + "\n" + "\nUNION ALL\n".join(parts)


def _ktruss_sql(k: int = 4, rounds: int = 8) -> str:
    """Fixed-depth unroll of the peel-until-stable truss fixpoint:
    per round, id-ordered triangle enumeration on the surviving
    canonical edges, per-edge support via 3-projection union, keep
    support >= k-2 (inner join == the left-join-coalesce filter since
    k-2 > 0)."""
    need = k - 2
    sql = (
        f"WITH e0 AS ({EDGES_SQL}), es AS ({SYM_SQL}),\n"
        "c0 AS MATERIALIZED (SELECT src, dst FROM es WHERE src < dst)"
    )
    for i in range(rounds):
        sql += (
            f",\nt{i} AS MATERIALIZED (SELECT a.src AS u, a.dst AS v, b.dst AS w\n"
            f"  FROM c{i} a JOIN c{i} b ON b.src = a.dst\n"
            f"  JOIN c{i} c ON c.src = a.src AND c.dst = b.dst),\n"
            f"x{i} AS (SELECT u AS src, v AS dst FROM t{i}\n"
            f"  UNION ALL SELECT v, w FROM t{i} UNION ALL SELECT u, w FROM t{i}),\n"
            f"s{i} AS (SELECT src, dst, count(*) AS cnt FROM x{i} GROUP BY src, dst),\n"
            f"c{i + 1} AS MATERIALIZED (SELECT e.src, e.dst FROM c{i} e\n"
            f"  JOIN s{i} s ON s.src = e.src AND s.dst = e.dst WHERE s.cnt >= {need})"
        )
    return sql + f"\nSELECT src, dst FROM c{rounds}"


RW_STARTS, RW_REPS, RW_LEN, RW_SEED = 64, 4, 6, 0


def _q_random_walk_corpus(spark, sf):
    """DeepWalk-style training corpus (apps.random_walks): 4
    deterministic uniform walks of length 6 from each of 64 start
    vertices over the symmetric graph — counter-hash neighbor draws,
    so the oracle replays the identical walks."""
    from ligra_spark.apps import random_walks

    g = _graph(spark, sf, symmetric=True)
    return random_walks(
        g, spark.range(RW_STARTS), walks_per_start=RW_REPS,
        length=RW_LEN, seed=RW_SEED,
    )


def _random_walk_sql() -> str:
    """Inlined counter-hash VALUES (bit-exact numpy hash_int32) + one
    indexed-adjacency lookup CTE per step — the same replay technique
    as ``_heat_kernel_rand_sql``."""
    import numpy as np

    from ligra_spark.hashing import hash_int32

    stride = RW_LEN + 1
    rows = []
    for w in range(RW_STARTS * RW_REPS):
        for j in range(1, stride):
            h = int(hash_int32(np.uint32((w * stride + j + RW_SEED) & 0xFFFFFFFF)))
            rows.append(f"({w},{j},{h})")
    sql = (
        f"WITH e0 AS MATERIALIZED ({EDGES_SQL}),\n"
        f"es AS MATERIALIZED ({SYM_SQL}),\n"
        "degs AS MATERIALIZED (SELECT src AS id, count(*) AS deg FROM es GROUP BY src),\n"
        "eidx AS MATERIALIZED (SELECT src, dst,\n"
        "  row_number() OVER (PARTITION BY src ORDER BY dst) - 1 AS idx FROM es),\n"
        f"hv AS MATERIALIZED (SELECT * FROM (VALUES {','.join(rows)}) t(walk, j, h)),\n"
        f"w0 AS (SELECT CAST(s.range * {RW_REPS} + r.range AS BIGINT) AS walk,\n"
        f"  CAST(s.range AS BIGINT) AS x FROM range({RW_STARTS}) s, range({RW_REPS}) r)"
    )
    for j in range(1, stride):
        sql += (
            f",\nw{j} AS MATERIALIZED (SELECT w.walk,\n"
            "  CASE WHEN coalesce(d.deg, 0) > 0 THEN e.dst ELSE w.x END AS x\n"
            f"  FROM w{j - 1} w\n"
            "  LEFT JOIN degs d ON d.id = w.x\n"
            f"  JOIN hv ON hv.walk = w.walk AND hv.j = {j}\n"
            "  LEFT JOIN eidx e ON d.deg > 0 AND e.src = w.x AND e.idx = hv.h % d.deg)"
        )
    parts = [f"SELECT walk, {j} AS step, x AS id FROM w{j}" for j in range(stride)]
    return sql + "\n" + "\nUNION ALL ".join(parts)


def _q_url_normalize(spark, sf):
    """RFC 3986 §6.2 url canonicalization (extract.normalize_url) over
    deterministically-messy urls built from doc_id: mixed-case scheme
    and host, default/explicit/absent ports, empty vs cased vs queried
    paths, fragments.  The oracle derives the canonical form by CASE
    analysis on doc_id — no regex — so it is an independent
    derivation, not a transcription."""
    from ligra_spark.extract import normalize_url

    docs = _t(spark, sf, "documents")
    d = F.col("doc_id")
    scheme = F.element_at(
        F.array(
            F.lit("http"), F.lit("HTTP"), F.lit("https"),
            F.lit("HTTPS"), F.lit("ftp"),
        ),
        (d % 5 + 1).cast("int"),
    )
    port = F.element_at(
        F.array(F.lit(":80"), F.lit(":443"), F.lit(":8080"), F.lit("")),
        (d % 4 + 1).cast("int"),
    )
    path = F.element_at(
        F.array(
            F.lit(""),
            F.concat(F.lit("/P/"), d.cast("string")),
            F.concat(F.lit("/p/"), d.cast("string"), F.lit("?q=1")),
        ),
        (d % 3 + 1).cast("int"),
    )
    frag = F.when(d % 2 == 0, F.lit("#Sec")).otherwise(F.lit(""))
    messy = F.concat(
        scheme, F.lit("://HoSt"), (d % 31).cast("string"),
        F.lit(".ExAmple.COM"), port, path, frag,
    )
    return docs.select(
        "doc_id", messy.alias("url"), normalize_url(messy).alias("canonical")
    )


_URL_NORMALIZE_SQL = (
    "WITH m AS (SELECT doc_id,\n"
    "  CASE doc_id % 5 WHEN 0 THEN 'http' WHEN 1 THEN 'HTTP' WHEN 2 THEN 'https'\n"
    "    WHEN 3 THEN 'HTTPS' ELSE 'ftp' END AS scheme,\n"
    "  CASE doc_id % 5 WHEN 0 THEN 'http' WHEN 1 THEN 'http' WHEN 2 THEN 'https'\n"
    "    WHEN 3 THEN 'https' ELSE 'ftp' END AS scheme_l,\n"
    "  CASE doc_id % 4 WHEN 0 THEN ':80' WHEN 1 THEN ':443' WHEN 2 THEN ':8080' ELSE '' END AS port,\n"
    "  CASE doc_id % 3 WHEN 0 THEN '' WHEN 1 THEN '/P/' || doc_id\n"
    "    ELSE '/p/' || doc_id || '?q=1' END AS path,\n"
    "  CASE doc_id % 2 WHEN 0 THEN '#Sec' ELSE '' END AS frag\n"
    "  FROM documents)\n"
    "SELECT doc_id,\n"
    "  scheme || '://HoSt' || (doc_id % 31) || '.ExAmple.COM' || port || path || frag AS url,\n"
    "  scheme_l || '://host' || (doc_id % 31) || '.example.com' ||\n"
    "  CASE WHEN port = ':80' AND scheme_l <> 'http' THEN ':80'\n"
    "       WHEN port = ':443' AND scheme_l <> 'https' THEN ':443'\n"
    "       WHEN port = ':8080' THEN ':8080' ELSE '' END ||\n"
    "  CASE WHEN path = '' THEN '/' ELSE path END AS canonical\n"
    "FROM m"
)


def _q_reciprocity(spark, sf):
    """Directed-edge reciprocity over the link graph
    (apps.graph_stats.reciprocity)."""
    from ligra_spark.apps import reciprocity

    return reciprocity(_graph(spark, sf))


def _q_assortativity(spark, sf):
    """Degree-degree Pearson assortativity over the symmetric graph
    (apps.graph_stats.degree_assortativity) — exact integer moment
    sums, one final double formula."""
    from ligra_spark.apps import degree_assortativity

    return degree_assortativity(_graph(spark, sf, symmetric=True))


def _q_host_rank(spark, sf):
    """Weighted PageRank over the contracted host graph
    (apps.pagerank_weighted, weight = page-link multiplicity) — the
    crawl-prioritization host-rank, driver-checked end to end from
    pages through contraction to ranking.  Fixed 12 supersteps
    (epsilon=0) so the fixed-depth SQL oracle pins every value."""
    from ligra_spark.apps import pagerank_weighted
    from ligra_spark.graph import LinkGraph
    from ligra_spark.ingest import build_link_graph, contract_to_host_graph

    g, d = build_link_graph(spark, _hosted_pages_df(spark, sf))
    he, hd = contract_to_host_graph(g.edges, d)
    hg = LinkGraph.from_edges(spark, he, n=hd.count(), num_partitions=8)
    scores, _ = pagerank_weighted(hg, max_iters=12, epsilon=0)
    return scores.select("id", F.round("rank", 8).alias("rank"))


def _host_rank_sql(k: int) -> str:
    """Unrolled weighted-PR CTE over the host-graph transcription;
    same association as the Spark side: (rank / sum_w) * weight."""
    sql = (
        f"WITH hg AS MATERIALIZED ({_HOST_LINK_GRAPH_SQL}),\n"
        "v AS (SELECT DISTINCT id FROM (SELECT src AS id FROM hg UNION ALL SELECT dst FROM hg)),\n"
        "nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM v),\n"
        "wo AS (SELECT src AS id, CAST(sum(weight) AS DOUBLE) AS w FROM hg GROUP BY src),\n"
        "p0 AS (SELECT id, (SELECT 1.0/n FROM nn) AS rank FROM v)"
    )
    prev = "p0"
    for i in range(1, k + 1):
        sql += (
            f",\nc{i} AS MATERIALIZED (SELECT hg.dst AS id, sum({prev}.rank / wo.w * hg.weight) AS contrib\n"
            f"  FROM hg JOIN {prev} ON {prev}.id = hg.src JOIN wo ON wo.id = hg.src\n"
            "  GROUP BY hg.dst),\n"
            f"p{i} AS MATERIALIZED (SELECT v.id, 0.85 * coalesce(c{i}.contrib, 0) + (SELECT 0.15/n FROM nn) AS rank\n"
            f"  FROM v LEFT JOIN c{i} ON c{i}.id = v.id)"
        )
        prev = f"p{i}"
    return sql + f"\nSELECT id, round(rank, 8) AS rank FROM {prev}"


def _q_host_topk_pages(spark, sf):
    """Per-domain curation cap: the top-3 pages of every host by
    PageRank over the hosted page graph — the per-domain quota step of
    a training-data pipeline (rank-ordered, deterministic (rank desc,
    id) tie-break on round-8 ranks).  One window over the scored
    dictionary join; PR fixed at 12 supersteps for the oracle."""
    from pyspark.sql import Window

    from ligra_spark.apps import pagerank
    from ligra_spark.ingest import build_link_graph, host_of

    g, d = build_link_graph(spark, _hosted_pages_df(spark, sf))
    scores, _ = pagerank(g, max_iters=12, epsilon=0.0)
    joined = scores.join(d, "id").select(
        "id",
        "url",
        host_of(F.col("url")).alias("host"),
        F.round("rank", 8).alias("rank"),
    )
    w = Window.partitionBy("host").orderBy(F.col("rank").desc(), F.col("id"))
    return (
        joined.withColumn("pos", F.row_number().over(w).cast("long"))
        .filter(F.col("pos") <= 3)
    )


_HOST_TOPK_SQL = (
    "WITH p AS (SELECT doc_id,\n"
    "  'http://h' || (doc_id % 31) || '.test/p' || doc_id AS url,\n"
    "  'http://h' || ((doc_id*7 % 97) % 31) || '.test/p' || (doc_id*7 % 97) AS href1,\n"
    "  'http://h' || ((doc_id*13 % 89) % 31) || '.test/p' || (doc_id*13 % 89) AS href2\n"
    "  FROM documents),\n"
    "links AS (SELECT url, href1 AS href FROM p UNION ALL SELECT url, href2 AS href FROM p),\n"
    "lk AS (SELECT l.url, l.href FROM links l JOIN p t ON t.url = l.href),\n"
    "dict AS (SELECT url, doc_id, CAST(row_number() OVER (ORDER BY url) - 1 AS BIGINT) AS id FROM p),\n"
    "e AS MATERIALIZED (SELECT ds.id AS src, dd.id AS dst\n"
    "  FROM lk JOIN dict ds ON ds.url = lk.url JOIN dict dd ON dd.url = lk.href),\n"
    "deg AS MATERIALIZED (SELECT src AS id, count(*) AS outdeg FROM e GROUP BY src),\n"
    "nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM p),\n"
    "p0 AS (SELECT id, (SELECT 1.0/n FROM nn) AS rank FROM dict)"
    + "".join(
        f",\nc{i} AS MATERIALIZED (SELECT e.dst AS id, sum(p{i-1}.rank / deg.outdeg) AS contrib\n"
        f"  FROM e JOIN p{i-1} ON p{i-1}.id = e.src JOIN deg ON deg.id = e.src GROUP BY e.dst),\n"
        f"p{i} AS MATERIALIZED (SELECT d.id, 0.85 * coalesce(c{i}.contrib, 0) + (SELECT 0.15/n FROM nn) AS rank\n"
        f"  FROM dict d LEFT JOIN c{i} ON c{i}.id = d.id)"
        for i in range(1, 13)
    )
    + ",\nscored AS (SELECT d.id, d.url, 'h' || (d.doc_id % 31) || '.test' AS host,\n"
    "  round(p12.rank, 8) AS rank FROM dict d JOIN p12 ON p12.id = d.id)\n"
    "SELECT id, url, host, rank, pos FROM (\n"
    "  SELECT *, CAST(row_number() OVER (PARTITION BY host ORDER BY rank DESC, id) AS BIGINT) AS pos\n"
    "  FROM scored) WHERE pos <= 3"
)


def _q_triangle_lcc(spark, sf):
    """Per-vertex triangle counts + local clustering coefficient
    (apps.triangle.per_vertex_triangles) — the per-vertex array the
    reference accumulates (Triangle.C:46-56) before printing its sum."""
    from ligra_spark.apps import per_vertex_triangles

    return per_vertex_triangles(_graph(spark, sf, symmetric=True))


def _q_anchor_text_agg(spark, sf):
    """Inbound anchor-text aggregation per link target
    (ligra_spark.extract.anchor_text_summary): inlink count, distinct
    anchor texts, and the most-frequent anchor (deterministic
    tie-break) — the classic web-corpus signal for pages known only
    from links pointing at them."""
    from ligra_spark.extract import anchor_text_summary

    return anchor_text_summary(_pages_df(spark, sf))


_HOST_LINK_GRAPH_SQL = (
    "WITH p AS (SELECT 'http://h' || (doc_id % 31) || '.test/p' || doc_id AS url,\n"
    "  'http://h' || ((doc_id*7 % 97) % 31) || '.test/p' || (doc_id*7 % 97) AS href1,\n"
    "  'http://h' || ((doc_id*13 % 89) % 31) || '.test/p' || (doc_id*13 % 89) AS href2\n"
    "  FROM documents),\n"
    "links AS (SELECT url, href1 AS href FROM p UNION ALL SELECT url, href2 AS href FROM p),\n"
    "lk AS (SELECT l.url, l.href FROM links l JOIN p t ON t.url = l.href),\n"
    "hd AS (SELECT host, CAST(row_number() OVER (ORDER BY host) - 1 AS BIGINT) AS hid FROM\n"
    "  (SELECT DISTINCT regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.\\-]*://([^/:?#]+)', 1) AS host FROM p))\n"
    "SELECT hs.hid AS src, hdd.hid AS dst, count(*) AS weight FROM lk\n"
    "JOIN hd hs ON hs.host = regexp_extract(lk.url, '^[a-zA-Z][a-zA-Z0-9+.\\-]*://([^/:?#]+)', 1)\n"
    "JOIN hd hdd ON hdd.host = regexp_extract(lk.href, '^[a-zA-Z][a-zA-Z0-9+.\\-]*://([^/:?#]+)', 1)\n"
    "GROUP BY hs.hid, hdd.hid"
)


def _media_df(spark, sf):
    docs = _t(spark, sf, "documents")
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode("text", "UTF-8").alias("payload"),
    )


def _q_doc_media_decode(spark, sf):
    """Multimodal decode plumbing through the driver gate: the
    deterministic fake codec (8x8x3 image from sha256(payload)) runs
    inside the real Arrow mapInPandas path; DuckDB recomputes the
    pixel bytes as hex(sha256) repeated."""
    from ligra_spark.functions.multimodal import decode_images

    return decode_images(_media_df(spark, sf), fake=True).select(
        "media_id", "height", "width", "channels",
        F.lower(F.hex("pixels")).alias("pixels_hex"),
    )


def _ppm_media_df(spark, sf):
    """Deterministic REAL P6 payloads: an 8x8 binary-PPM image per
    document whose RGB plane is sha256(text) repeated — built
    entirely JVM-side (unhex ∘ sha2 + binary concat), decoded by the
    pure-numpy P6 codec (no fake path)."""
    docs = _t(spark, sf, "documents")
    digest = F.unhex(F.sha2(F.encode("text", "UTF-8"), 256))  # 32 bytes
    header = F.lit(b"P6\n# synthetic gate image\n8 8\n255\n")
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.concat(header, *([digest] * 6)).alias("payload"),
    )


def _q_doc_image_ppm(spark, sf):
    """``image_features`` over REAL P6 bytes (fake=False): the native
    numpy PPM decoder — header tokenizing incl. a comment line — runs
    inside the fused Arrow decode+features pass; DuckDB recomputes
    the identical pixel plane from sha256(text)."""
    from ligra_spark.functions.multimodal import image_features

    return image_features(_ppm_media_df(spark, sf), fake=False).select(
        "media_id", "height", "width", "channels",
        F.round("mean_r", 6).alias("mean_r"),
        F.round("mean_g", 6).alias("mean_g"),
        F.round("mean_b", 6).alias("mean_b"),
        "phash",
    )


def _q_compressed_graph(spark, sf):
    """Ligra+ byte-code round-trip (``sources/compressed.py``,
    semantics of ``/root/reference/ligra/byte.h:45-214`` +
    ``encoder.C:183-207``): the derived link graph is encoded to the
    reference's compressed binary format and decoded back through the
    varint reader; the oracle is the format's mandated canonical set
    (sorted, self-loops and duplicates removed).  Fixture-scale by
    design — the single-file format itself is the bound (SURVEY §2.3);
    web-scale storage is parquet/Iceberg."""
    import os
    import tempfile

    from ligra_spark.sources.compressed import (
        read_compressed_graph_df,
        write_compressed_graph,
    )

    pdf = _edges(spark, sf).toPandas()
    path = os.path.join(
        tempfile.mkdtemp(prefix="ligra_bytes_"), "graph.bytes"
    )
    write_compressed_graph(
        path, V, pdf["src"].to_numpy(), pdf["dst"].to_numpy()
    )
    df, _ = read_compressed_graph_df(spark, path)
    return df.select("src", "dst")


def _jpeg_media_df(spark, sf, progressive: bool = False):
    """Deterministic REAL baseline-JPEG payloads: a 16x16 grayscale
    JPEG per document whose four 8x8 blocks are UNIFORM at the first
    four sha256(text) bytes.  With the flat quant=8 table the
    quantized DC (= pixel − 128) round-trips bit-exactly through the
    pure-numpy codec (``functions/jpeg.py``), so DuckDB can recompute
    the decoded pixel plane — and every feature — from the digest
    alone.  ``progressive=True`` re-codes the SAME quantized
    coefficients as a multi-scan SOF2 stream (T.81 Annex G) — decode
    is bit-identical by construction, so the baseline oracle applies
    verbatim.  Encoding runs in an Arrow-batched pandas UDF (the
    encoder is the fixture; the operator under test is the decode
    path)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    docs = _t(spark, sf, "documents")
    digest = F.unhex(F.sha2(F.encode("text", "UTF-8"), 256))

    def enc(s):
        import numpy as np

        from ligra_spark.functions.jpeg import (
            encode_jpeg_baseline,
            encode_jpeg_progressive,
        )

        encode = encode_jpeg_progressive if progressive else encode_jpeg_baseline
        out = []
        for d in s:
            blocks = np.frombuffer(bytes(d)[:4], dtype=np.uint8).reshape(2, 2)
            img = np.kron(blocks, np.ones((8, 8), dtype=np.uint8))
            out.append(encode(img, quant=8))
        return pd.Series(out)

    enc.__annotations__ = {"s": pd.Series, "return": pd.Series}
    enc_udf = pandas_udf(enc, "binary")
    return docs.select(
        F.col("doc_id").alias("media_id"), enc_udf(digest).alias("payload")
    )


def _q_doc_image_jpeg(spark, sf):
    """``image_features`` over REAL baseline-JPEG bytes (fake=False):
    the native numpy JPEG decoder — marker walk, stream-supplied
    Huffman tables, dequant, IDCT, level shift — runs inside the
    fused Arrow decode+features pass; DuckDB recomputes the identical
    pixel plane from sha256(text)."""
    from ligra_spark.functions.multimodal import image_features

    return image_features(_jpeg_media_df(spark, sf), fake=False).select(
        "media_id", "height", "width", "channels",
        F.round("mean_r", 6).alias("mean_r"),
        F.round("mean_g", 6).alias("mean_g"),
        F.round("mean_b", 6).alias("mean_b"),
        "phash",
    )


def _q_doc_image_jpeg_prog(spark, sf):
    """``image_features`` over REAL progressive (SOF2) JPEG bytes:
    the Annex-G scan accumulator — spectral-selection bands, EOBn
    runs, successive-approximation refinements — runs inside the same
    fused Arrow pass.  Shares ``doc_image_jpeg``'s digest oracle
    verbatim because progressive re-codes identical quantized
    coefficients; matching it IS the cross-scan-mode check."""
    from ligra_spark.functions.multimodal import image_features

    return image_features(
        _jpeg_media_df(spark, sf, progressive=True), fake=False
    ).select(
        "media_id", "height", "width", "channels",
        F.round("mean_r", 6).alias("mean_r"),
        F.round("mean_g", 6).alias("mean_g"),
        F.round("mean_b", 6).alias("mean_b"),
        "phash",
    )


def _png_media_df(spark, sf):
    """Deterministic REAL PNG payloads: the SAME 8x8 RGB plane as the
    PPM entry (sha256(text) repeated), encoded to 8-bit color-type-2
    PNG in an Arrow-batched pandas UDF.  PNG is lossless, so decode
    is bit-exact by construction and the PPM oracle SQL applies
    verbatim."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    docs = _t(spark, sf, "documents")
    digest = F.unhex(F.sha2(F.encode("text", "UTF-8"), 256))

    def enc(s):
        import numpy as np

        from ligra_spark.functions.png import encode_png

        out = []
        for d in s:
            arr = np.frombuffer((bytes(d) * 6)[: 8 * 8 * 3], dtype=np.uint8)
            out.append(encode_png(arr.reshape(8, 8, 3)))
        return pd.Series(out)

    enc.__annotations__ = {"s": pd.Series, "return": pd.Series}
    enc_udf = pandas_udf(enc, "binary")
    return docs.select(
        F.col("doc_id").alias("media_id"), enc_udf(digest).alias("payload")
    )


def _q_doc_image_png(spark, sf):
    """``image_features`` over REAL 8-bit PNG bytes (fake=False): the
    native zlib+numpy PNG decoder — chunk walk, inflate, row
    unfilter — runs inside the fused Arrow decode+features pass;
    DuckDB recomputes the identical (lossless) pixel plane from
    sha256(text)."""
    from ligra_spark.functions.multimodal import image_features

    return image_features(_png_media_df(spark, sf), fake=False).select(
        "media_id", "height", "width", "channels",
        F.round("mean_r", 6).alias("mean_r"),
        F.round("mean_g", 6).alias("mean_g"),
        F.round("mean_b", 6).alias("mean_b"),
        "phash",
    )


def _webp_media_df(spark, sf):
    """Deterministic REAL lossless-WebP payloads: the SAME 8x8 RGB
    plane as the PPM/PNG entries (sha256(text) repeated), encoded to
    literal-only VP8L in an Arrow-batched pandas UDF.  VP8L is
    lossless, so decode is bit-exact by construction and the shared
    digest oracle SQL applies verbatim."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    docs = _t(spark, sf, "documents")
    digest = F.unhex(F.sha2(F.encode("text", "UTF-8"), 256))

    def enc(s):
        import numpy as np

        from ligra_spark.functions.webp import encode_webp_lossless

        out = []
        for d in s:
            arr = np.frombuffer((bytes(d) * 6)[: 8 * 8 * 3], dtype=np.uint8)
            out.append(encode_webp_lossless(arr.reshape(8, 8, 3)))
        return pd.Series(out)

    enc.__annotations__ = {"s": pd.Series, "return": pd.Series}
    enc_udf = pandas_udf(enc, "binary")
    return docs.select(
        F.col("doc_id").alias("media_id"), enc_udf(digest).alias("payload")
    )


def _q_doc_image_webp(spark, sf):
    """``image_features`` over REAL lossless-WebP (VP8L) bytes
    (fake=False): the native VP8L decoder — LSB-first bitstream,
    canonical prefix codes from code-length codes, transforms — runs
    inside the fused Arrow pass; lossless, so the shared PPM/PNG
    digest oracle recomputes the identical pixel plane."""
    from ligra_spark.functions.multimodal import image_features

    return image_features(_webp_media_df(spark, sf), fake=False).select(
        "media_id", "height", "width", "channels",
        F.round("mean_r", 6).alias("mean_r"),
        F.round("mean_g", 6).alias("mean_g"),
        F.round("mean_b", 6).alias("mean_b"),
        "phash",
    )


def _avi_media_df(spark, sf):
    """Deterministic REAL MJPEG-AVI payloads: a 2-frame 1-fps AVI per
    document; frame k is a 16x16 grayscale baseline JPEG whose four
    8x8 blocks are UNIFORM at sha256(text) bytes [4k, 4k+4) — the
    same exact-DC round-trip as ``_jpeg_media_df``, one window per
    frame."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    docs = _t(spark, sf, "documents")
    digest = F.unhex(F.sha2(F.encode("text", "UTF-8"), 256))

    def enc(s):
        import numpy as np

        from ligra_spark.functions.jpeg import encode_jpeg_baseline
        from ligra_spark.functions.video import encode_mjpeg_avi

        out = []
        for d in s:
            frames = []
            for k in range(2):
                grid = np.frombuffer(
                    bytes(d)[4 * k : 4 * k + 4], dtype=np.uint8
                ).reshape(2, 2)
                frames.append(
                    encode_jpeg_baseline(
                        np.kron(grid, np.ones((8, 8), dtype=np.uint8)), quant=8
                    )
                )
            out.append(encode_mjpeg_avi(frames, 1_000_000))
        return pd.Series(out)

    enc.__annotations__ = {"s": pd.Series, "return": pd.Series}
    enc_udf = pandas_udf(enc, "binary")
    return docs.select(
        F.col("doc_id").alias("media_id"),
        enc_udf(digest).alias("payload"),
        F.lit(2000).alias("duration_ms"),
    )


def _q_doc_video_frames(spark, sf):
    """``video_frame_features`` over REAL MJPEG-AVI bytes
    (fake=False): RIFF container walk → per-frame native JPEG decode
    → per-frame channel means, fused in one Arrow pass; DuckDB
    recomputes each frame's decoded plane from the sha256 window."""
    from ligra_spark.functions.multimodal import video_frame_features

    return video_frame_features(
        _avi_media_df(spark, sf), every_ms=1000, fake=False
    ).select(
        "media_id", "ts_ms", "height", "width",
        F.round("mean_r", 6).alias("mean_r"),
        F.round("mean_g", 6).alias("mean_g"),
        F.round("mean_b", 6).alias("mean_b"),
    )


def _gif_media_df(spark, sf):
    """Deterministic REAL GIF payloads: an 8x8 single-frame GIF89a
    per document over the identity grayscale palette, indices =
    sha256(text) bytes repeated — GIF is lossless palette lookup, so
    the decoded gray plane g(p) = digest[p mod 32] exactly."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    docs = _t(spark, sf, "documents")
    digest = F.unhex(F.sha2(F.encode("text", "UTF-8"), 256))

    def enc(s):
        import numpy as np

        from ligra_spark.functions.gif import encode_gif

        pal = np.stack([np.arange(256)] * 3, axis=1).astype(np.uint8)
        out = []
        for d in s:
            idx = np.frombuffer((bytes(d) * 2)[:64], dtype=np.uint8)
            out.append(encode_gif(idx.reshape(8, 8), pal))
        return pd.Series(out)

    enc.__annotations__ = {"s": pd.Series, "return": pd.Series}
    enc_udf = pandas_udf(enc, "binary")
    return docs.select(
        F.col("doc_id").alias("media_id"), enc_udf(digest).alias("payload")
    )


def _q_doc_image_gif(spark, sf):
    """``image_features`` over REAL GIF bytes (fake=False): the
    native LZW decoder — variable-width codes, clear-code resets,
    palette lookup — runs inside the fused Arrow decode+features
    pass; DuckDB recomputes the identical gray plane from
    sha256(text)."""
    from ligra_spark.functions.multimodal import image_features

    return image_features(_gif_media_df(spark, sf), fake=False).select(
        "media_id", "height", "width", "channels",
        F.round("mean_r", 6).alias("mean_r"),
        F.round("mean_g", 6).alias("mean_g"),
        F.round("mean_b", 6).alias("mean_b"),
        "phash",
    )


def _q_doc_media_format(spark, sf):
    """JVM-side magic-byte format sniffing (``with_media_format`` —
    hex-prefix compares, no Python, no decode) over a mixed corpus of
    REAL encoder outputs: each doc gets a jpeg/png/gif/ppm/wav/avi/
    webp/unknown payload by doc_id mod 8; the oracle states the
    expected routing directly."""
    import struct

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from ligra_spark.functions.multimodal import with_media_format

    docs = _t(spark, sf, "documents")
    digest = F.unhex(F.sha2(F.encode("text", "UTF-8"), 256))

    def enc(ids, digests):
        import numpy as np

        from ligra_spark.functions.gif import encode_gif
        from ligra_spark.functions.jpeg import encode_jpeg_baseline
        from ligra_spark.functions.png import encode_png
        from ligra_spark.functions.video import encode_mjpeg_avi

        pal = np.stack([np.arange(256)] * 3, axis=1).astype(np.uint8)
        out = []
        for i, d in zip(ids, digests):
            d = bytes(d)
            kind = int(i) % 8
            img8 = np.frombuffer((d * 2)[:64], dtype=np.uint8).reshape(8, 8)
            if kind == 0:
                grid = np.frombuffer(d[:4], dtype=np.uint8).reshape(2, 2)
                out.append(
                    encode_jpeg_baseline(
                        np.kron(grid, np.ones((8, 8), dtype=np.uint8)), quant=8
                    )
                )
            elif kind == 1:
                out.append(encode_png(img8))
            elif kind == 2:
                out.append(encode_gif(img8, pal))
            elif kind == 3:
                out.append(b"P6\n8 8\n255\n" + (d * 6)[: 8 * 8 * 3])
            elif kind == 4:
                fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
                body = (
                    b"WAVEfmt " + struct.pack("<I", len(fmt)) + fmt
                    + b"data" + struct.pack("<I", 32) + d
                )
                out.append(b"RIFF" + struct.pack("<I", len(body)) + body)
            elif kind == 5:
                grid = np.frombuffer(d[:4], dtype=np.uint8).reshape(2, 2)
                frame = encode_jpeg_baseline(
                    np.kron(grid, np.ones((8, 8), dtype=np.uint8)), quant=8
                )
                out.append(encode_mjpeg_avi([frame], 1_000_000))
            elif kind == 6:
                from ligra_spark.functions.webp import encode_webp_lossless

                out.append(encode_webp_lossless(img8))
            else:
                out.append(b"\x00" + d)  # 0x00 prefix: no magic matches
        return pd.Series(out)

    enc.__annotations__ = {
        "ids": pd.Series, "digests": pd.Series, "return": pd.Series
    }
    enc_udf = pandas_udf(enc, "binary")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        enc_udf(F.col("doc_id"), digest).alias("payload"),
    )
    return with_media_format(media).select("media_id", "format")


def _q_doc_image_features(spark, sf):
    """Fused decode + feature extraction (per-channel means + 64-bit
    average-hash) in one Arrow pass, vs a DuckDB transcription of the
    same math over the sha256-derived fake pixels."""
    from ligra_spark.functions.multimodal import image_features

    return image_features(_media_df(spark, sf), fake=True).select(
        "media_id", "height", "width", "channels",
        F.round("mean_r", 6).alias("mean_r"),
        F.round("mean_g", 6).alias("mean_g"),
        F.round("mean_b", 6).alias("mean_b"),
        "phash",
    )


def _driver_check_history() -> dict[str, tuple[int, bool]]:
    """Scan the repo's own ``CORRECTNESS_r*.json`` artifacts and return
    {entry: (last_round_checked, last_row_green)}.  Entries absent from
    every artifact have no key (never driver-checked)."""
    import glob
    import json
    import os
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    hist: dict[str, tuple[int, bool]] = {}
    for path in sorted(glob.glob(os.path.join(here, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as f:
                rows = json.load(f)
        except (OSError, ValueError):
            continue
        if not isinstance(rows, dict):
            continue
        for name, row in rows.items():
            if not isinstance(row, dict):
                continue
            green = bool(
                row.get("rows_match", False)
                and row.get("schema_match", True)
                and row.get("hash_match", True)
                and row.get("err") is None
            )
            prev = hist.get(name)
            if prev is None or rnd >= prev[0]:
                hist[name] = (rnd, green)
    return hist


def _rotate_head(reg: "dict[str, Callable]") -> "dict[str, Callable]":
    """Reorder the registry so the driver's head-50 sweep always checks
    the entries that need it most: (1) entries whose most recent driver
    row is red, (2) entries never driver-checked (this round's
    additions land here by construction), (3) everything else by
    least-recently-checked round.  Catalogue position breaks ties, so
    the order is deterministic for a given set of artifacts; any
    read failure degrades to the hand-written catalogue order."""
    try:
        hist = _driver_check_history()
    except Exception:
        return reg
    names = list(reg)
    cat = {n: i for i, n in enumerate(names)}

    def key(n):
        h = hist.get(n)
        if h is not None and not h[1]:
            return (0, h[0], cat[n])  # red in its latest row: re-check first
        if h is None:
            return (1, 0, cat[n])  # never driver-checked
        return (2, h[0], cat[n])  # green: oldest round first

    return {n: reg[n] for n in sorted(names, key=key)}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Registry order is load-bearing: the driver's correctness sweep
    # checks the FIRST 50 entries in dict order.  Since round 5 the
    # order is computed, not hand-maintained: _rotate_head puts
    # red-last entries first, never-checked entries next (so each
    # round's additions are swept by default), then green entries
    # least-recently-checked first.  The dict literal below is the
    # stable catalogue (tie-break) order.
    return _rotate_head({
        # ---- head-50: the driver's correctness sweep checks the
        # FIRST 50 entries in dict order.  Round-4 rotation: every
        # entry that had never earned a driver-green row (r03 verdict
        # item 2) plus the round-4 additions now sit in the head;
        # long-stable r02/r03-green entries moved to the tail, where
        # tests/ + tools/check_entry.py keep covering them.
        # graph engine (SURVEY.md §2.4 apps over the derived link graph)
        "triangle_lcc": _q_triangle_lcc,
        "ktruss4": _q_ktruss,
        "truss_decomposition": _q_truss_decomposition,
        # HITS hubs/authorities (our addition — the other canonical
        # web-link fixpoint; exercises both traversal directions)
        "hits": _q_hits,
        "cc_star": _q_cc_star,
        "cc_incremental": _q_cc_incremental,
        "triangle_incremental": _q_triangle_incremental,
        "ecc_tk": _q_ecc_tk,
        "kcore_julienne": _q_kcore_julienne,
        "ppr": _q_ppr,
        "nibble": _q_nibble,
        "heat_kernel": _q_heat_kernel,
        # promoted round 4 (first driver-green rows): localAlg
        # randomized variant, sweep cut, BFSCC, 4-cycle census
        "heat_kernel_rand": _q_heat_kernel_rand,
        "ppr_sweep": _q_ppr_sweep,
        "bfscc": _q_bfscc,
        "cycle4_count": _q_cycle4_count,
        # per-partition-CSR physical backend twins — same apps, same
        # oracles as pagerank/components/sssp (pagerank_csr r03-green;
        # the other two promoted round 4)
        "pagerank_csr": _q_pagerank_csr,
        "sssp_csr": _q_sssp_csr,
        "components_csr": _q_components_csr,
        # PageRankDelta: r02-green fixed unroll, promoted back for an
        # r04 row with the unrolled-CTE value oracle (verdict item 4)
        "pagerank_delta": _q_pagerank_delta,
        # training-data pipeline: text analysis + dedup
        "doc_inverted_index": _q_doc_inverted_index,
        "doc_bm25_topk": _q_doc_bm25_topk,
        "doc_neardup_clusters": _q_doc_neardup_clusters,
        "doc_shared_spans": _q_doc_shared_spans,
        "doc_neardup_incremental": _q_doc_neardup_incremental,
        "doc_gopher_filter": _q_doc_gopher_filter,
        "doc_pii_redact": _q_doc_pii_redact,
        "doc_decontaminate": _q_doc_decontaminate,
        "doc_bpe_tokens": _q_doc_bpe_tokens,
        "corpus_prep": _q_corpus_prep,
        # similarity search
        "ann_topk": _q_ann_topk,
        "ann_lsh_topk": _q_ann_lsh,
        "ann_ivf_topk": _q_ann_ivf,
        "embedding_neardup_pairs": _q_embedding_neardup,
        # windowed events (streaming-shaped aggs) — funnel/retention/
        # rollup promoted round 4
        "events_hourly": _q_events_hourly,
        "events_sessions": _q_events_sessions,
        "events_asof_view": _q_events_asof,
        "events_range_counts": _q_events_range,
        "events_funnel": _q_events_funnel,
        "events_retention": _q_events_retention,
        "events_rollup": _q_events_rollup,
        # pages pipeline (north-rule ingest) + multimodal + formats
        "page_extract": _q_page_extract,
        "page_link_graph": _q_page_link_graph,
        "host_link_graph": _q_host_link_graph,
        "host_rank": _q_host_rank,
        "host_topk_pages": _q_host_topk_pages,
        "doc_media_decode": _q_doc_media_decode,
        "doc_image_ppm": _q_doc_image_ppm,
        # round-4 additions: native baseline-JPEG decode over real
        # bytes; Ligra+ byte-code import round-trip
        "doc_image_jpeg": _q_doc_image_jpeg,
        "doc_image_jpeg_prog": _q_doc_image_jpeg_prog,
        "compressed_graph": _q_compressed_graph,
        # ---- tail (slot 51+): doc_image_png first (round-4 addition,
        # replica-green; same lossless plane as doc_image_ppm —
        # rotate into the head next round); r01/r02/r03 driver-green entries (and
        # their fixed-k gate variants), all still registered so
        # tools/check_entry.py and the judge can run them; the
        # round-4 demotions (reciprocity...doc_image_features) each
        # have an r03-green row in CORRECTNESS_r03.json.
        "doc_image_png": _q_doc_image_png,
        "doc_image_webp": _q_doc_image_webp,
        "doc_video_frames": _q_doc_video_frames,
        "doc_image_gif": _q_doc_image_gif,
        "doc_media_format": _q_doc_media_format,
        "reciprocity": _q_reciprocity,
        "assortativity": _q_assortativity,
        "trustrank": _q_trustrank,
        "salsa": _q_salsa,
        "community_lpa": _q_community_lpa,
        "clique4_count": _q_clique4,
        "harmonic_16": _q_harmonic_16,
        "closeness_16": _q_closeness_16,
        "doc_stratified_sample": _q_doc_stratified_sample,
        "events_hub_onset": _q_events_hub_onset,
        "events_user_hll": _q_events_user_hll,
        "anchor_text_agg": _q_anchor_text_agg,
        "url_normalize": _q_url_normalize,
        "random_walk_corpus": _q_random_walk_corpus,
        "doc_image_features": _q_doc_image_features,
        "pagerank": _q_pagerank_full,
        "triangle_count": _q_triangles,
        "label_propagation": _q_label_propagation,
        "sssp": _q_sssp_full,
        "doc_exact_dedup": _q_doc_exact_dedup,
        "minhash_lsh_pairs": _q_lsh_pairs,
        "components": _q_components,
        "bfs": _q_bfs_full,
        "hyper_cc": _q_hyper_cc,
        "radii": _q_radii,
        "mis": _q_mis,
        "setcover": _q_setcover,
        "cf": _q_cf,
        "kcore": _q_kcore,
        "bc": _q_bc,
        "delta_stepping": _q_delta_stepping,
        "ecc_kbfs": _q_ecc_kbfs,
        "hyper_bfs": _q_hyper_bfs,
        "hyper_pagerank": _q_hyper_pagerank,
        "doc_quality": _q_doc_quality,
        "minhash_signatures": _q_minhash,
        "embedding_cosine_probe": _q_cosine_probe,
        "doc_jaccard_pairs": _q_jaccard_pairs,
        "out_degree": _q_out_degree,
        "degree_histogram": _q_degree_histogram,
        # r02-green; token counting / language ID are also re-exercised
        # every round inside corpus_prep's composed gate
        "doc_token_count": _q_doc_token_count,
        "doc_lang_guess": _q_doc_lang_guess,
        # r02-green; its fingerprint column is re-verified every round
        # inside corpus_prep's output
        "doc_fingerprint": _q_doc_fingerprint,
        "simhash16": _q_simhash,
        "two_hop_count": _q_two_hop,
        "pagerank_k3": _q_pagerank_k3,
        "cc_k4": _q_cc_k4,
        "bfs_k3": _q_bfs_k3,
        "sssp_k3": _q_sssp_k3,
        "lp_k2": _q_lp_k2,
        "ecc_16": _q_ecc_16,
        "ecc_exact": _q_ecc_exact,
        "ecc_simple_approx": _q_ecc_simple_approx,
        "ecc_clrstv": _q_ecc_clrstv,
        "ecc_rv": _q_ecc_rv,
        "ecc_fm": _q_ecc_fm,
        "ecc_loglog": _q_ecc_loglog,
        "hyper_bpath": _q_hyper_bpath,
        "hyper_bc": _q_hyper_bc,
        "hyper_kcore": _q_hyper_kcore,
        "hyper_kcore_efficient": _q_hyper_kcore_efficient,
        "hyper_sssp": _q_hyper_sssp,
        "hyper_mis": _q_hyper_mis,
    })


# ---------------------------------------------------------------- oracle SQL
def _pr_sql(k: int) -> str:
    sql = (
        f"WITH e AS MATERIALIZED ({EDGES_SQL}),\n"
        "deg AS MATERIALIZED (SELECT src AS id, count(*) AS outdeg FROM e GROUP BY src),\n"
        f"v AS (SELECT CAST(range AS BIGINT) AS id FROM range({V})),\n"
        f"p0 AS (SELECT id, 1.0/{V} AS rank FROM v)"
    )
    prev = "p0"
    for i in range(1, k + 1):
        sql += (
            f",\nc{i} AS MATERIALIZED (SELECT e.dst AS id, sum({prev}.rank / deg.outdeg) AS contrib\n"
            f"  FROM e JOIN {prev} ON {prev}.id = e.src JOIN deg ON deg.id = e.src\n"
            f"  GROUP BY e.dst),\n"
            f"p{i} AS MATERIALIZED (SELECT v.id, 0.85 * coalesce(c{i}.contrib, 0) + 0.15/{V} AS rank\n"
            f"  FROM v LEFT JOIN c{i} ON c{i}.id = v.id)"
        )
        prev = f"p{i}"
    return sql + f"\nSELECT id, round(rank, 8) AS rank FROM {prev}"


def _trustrank_sql(k: int = 70) -> str:
    """Unrolled t = (1-d)·v + d·Tᵀt with v uniform on PPR_SEEDS —
    _pr_sql's shape with the per-vertex teleport column; double-cast
    literals replicate the engine's IEEE constant bit-for-bit."""
    seed_rows = ", ".join(f"({s})" for s in PPR_SEEDS)
    ns = len(PPR_SEEDS)
    v0 = f"(CAST(1.0 AS DOUBLE)/{ns})"
    tele = f"((CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) * {v0})"
    sql = (
        f"WITH e AS MATERIALIZED ({EDGES_SQL}),\n"
        "deg AS MATERIALIZED (SELECT src AS id, count(*) AS outdeg FROM e GROUP BY src),\n"
        f"v AS (SELECT CAST(range AS BIGINT) AS id FROM range({V})),\n"
        f"sd AS (SELECT * FROM (VALUES {seed_rows}) s(id)),\n"
        "tv AS MATERIALIZED (SELECT v.id,\n"
        f"  CASE WHEN sd.id IS NOT NULL THEN {tele} ELSE 0.0 END AS tele,\n"
        f"  CASE WHEN sd.id IS NOT NULL THEN {v0} ELSE 0.0 END AS trust\n"
        "  FROM v LEFT JOIN sd ON sd.id = v.id)"
    )
    prev = "tv"
    for i in range(1, k + 1):
        sql += (
            f",\nc{i} AS MATERIALIZED (SELECT e.dst AS id, sum({prev}.trust / deg.outdeg) AS contrib\n"
            f"  FROM e JOIN {prev} ON {prev}.id = e.src JOIN deg ON deg.id = e.src\n"
            f"  GROUP BY e.dst),\n"
            f"t{i} AS MATERIALIZED (SELECT tv.id, tv.tele,\n"
            f"  0.85 * coalesce(c{i}.contrib, 0) + tv.tele AS trust\n"
            f"  FROM tv LEFT JOIN c{i} ON c{i}.id = tv.id)"
        )
        prev = f"t{i}"
    return sql + f"\nSELECT id, round(trust, 8) AS trust FROM {prev}"


TOKS_SQL = (
    "SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term "
    "FROM documents WHERE length(trim(text)) > 0"
)


def _inverted_index_sql(cap: int = 32) -> str:
    """Inverted-index twin: distinct (term, doc), row_number posting
    rank per term ordered by doc_id, ordered comma-joined cap-first
    list + untruncated df."""
    return (
        f"WITH toks AS ({TOKS_SQL}),\n"
        "td AS (SELECT DISTINCT term, doc_id FROM toks),\n"
        "rk AS (SELECT term, doc_id,\n"
        "  row_number() OVER (PARTITION BY term ORDER BY doc_id) AS rk FROM td)\n"
        "SELECT term, count(*) AS df,\n"
        f"  array_to_string(list(doc_id ORDER BY doc_id) FILTER (WHERE rk <= {cap}), ',') AS postings\n"
        "FROM rk GROUP BY term"
    )


def _bm25_sql(topk: int = 20, k1: float = 1.2, b: float = 0.75) -> str:
    """BM25 twin of ``functions.retrieval.bm25_scores``: same Lucene
    idf, same corpus-wide N/avgdl (empty docs count with dl = 0), the
    engine's exact python-double constants inlined via repr so both
    engines evaluate identical IEEE literals."""
    terms = ", ".join(f"('{t}')" for t in BM25_TERMS)
    k1p1, k1r = repr(k1 + 1.0), repr(k1)
    omb, br = repr(1.0 - b), repr(b)
    return (
        f"WITH toks AS ({TOKS_SQL}),\n"
        "tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),\n"
        "dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),\n"
        "st AS (SELECT count(*) AS n_docs, avg(coalesce(dl.dl, 0)) AS avgdl\n"
        "  FROM documents d LEFT JOIN dl ON dl.doc_id = d.doc_id),\n"
        f"q AS (SELECT * FROM (VALUES {terms}) t(term)),\n"
        "qt AS (SELECT tf.doc_id, tf.term, tf.tf, dl.dl FROM tf\n"
        "  JOIN q USING (term) JOIN dl ON dl.doc_id = tf.doc_id),\n"
        "dfreq AS (SELECT term, count(*) AS dfreq FROM qt GROUP BY term),\n"
        "sc AS (SELECT qt.doc_id,\n"
        "  sum(ln((st.n_docs - dfreq.dfreq + CAST(0.5 AS DOUBLE))\n"
        "        / (dfreq.dfreq + CAST(0.5 AS DOUBLE)) + CAST(1.0 AS DOUBLE))\n"
        f"    * (qt.tf * CAST('{k1p1}' AS DOUBLE))\n"
        f"    / (qt.tf + CAST('{k1r}' AS DOUBLE)\n"
        f"       * (CAST('{omb}' AS DOUBLE) + CAST('{br}' AS DOUBLE) * qt.dl / st.avgdl))\n"
        "  ) AS score FROM qt CROSS JOIN st JOIN dfreq USING (term)\n"
        "  GROUP BY qt.doc_id)\n"
        "SELECT doc_id, score, rank FROM (SELECT doc_id,\n"
        "  round(score, 8) AS score,\n"
        "  row_number() OVER (ORDER BY round(score, 8) DESC, doc_id ASC) AS rank\n"
        f"  FROM sc) WHERE rank <= {topk}"
    )


def _stratified_sample_sql() -> str:
    """DuckDB twin of ``functions.sampling.stratified_sample`` on the
    documents table: the same hashInt avalanche (``_h32_sql``) over
    (doc_id + seed*mix) mod 2^32, the same exact integer thresholds."""
    mix = (SAMPLE_SEED * 0x9E3779B9) & 0xFFFFFFFF
    thr = " ".join(
        f"WHEN lang = '{k}' THEN {int(v * (1 << 32))}"
        for k, v in SAMPLE_FRACTIONS.items()
    )
    inner = (
        f"SELECT doc_id, lang, (doc_id + {mix}) % {1 << 32} AS a FROM documents"
    )
    return (
        f"SELECT doc_id, lang FROM ({_h32_sql(inner, 'doc_id, lang')})\n"
        f"WHERE g < CASE {thr} ELSE NULL END"
    )


def _community_lpa_sql(rounds: int = 5) -> str:
    """Unrolled synchronous LPA: per round a (dst, label) count over
    incoming neighbor labels, the per-dst mode via a
    count-desc-label-asc row_number window, vertices with no incoming
    labels keep their own."""
    sql = (
        f"WITH e0 AS MATERIALIZED ({EDGES_SQL}),\n"
        f"es AS MATERIALIZED ({SYM_SQL}),\n"
        f"v AS (SELECT CAST(range AS BIGINT) AS id FROM range({V})),\n"
        "l0 AS (SELECT id, id AS label FROM v)"
    )
    prev = "l0"
    for i in range(1, rounds + 1):
        sql += (
            f",\nc{i} AS MATERIALIZED (SELECT es.dst AS id, {prev}.label, count(*) AS cnt\n"
            f"  FROM es JOIN {prev} ON {prev}.id = es.src GROUP BY es.dst, {prev}.label),\n"
            f"b{i} AS (SELECT id, label FROM (SELECT id, label,\n"
            f"  row_number() OVER (PARTITION BY id ORDER BY cnt DESC, label ASC) AS rk\n"
            f"  FROM c{i}) WHERE rk = 1),\n"
            f"l{i} AS MATERIALIZED (SELECT {prev}.id, coalesce(b{i}.label, {prev}.label) AS label\n"
            f"  FROM {prev} LEFT JOIN b{i} ON b{i}.id = {prev}.id)"
        )
        prev = f"l{i}"
    return sql + f"\nSELECT id, label FROM {prev}"


def _salsa_sql(cc_rounds: int = 10) -> str:
    """SALSA closed form: min-label CC unroll over the bipartite
    support graph (hub j ↔ authority i+V per edge, fixpoint depth 7/6
    at sf0.001/sf0.01 — 10 rounds is past both), then per-component
    degree normalization mirroring apps/salsa.py's exact expression
    order so the doubles are bit-identical."""
    sql = (
        f"WITH e0 AS MATERIALIZED ({EDGES_SQL}),\n"
        f"bip AS MATERIALIZED (SELECT src, dst + {V} AS dst FROM e0\n"
        f"  UNION ALL SELECT dst + {V} AS src, src AS dst FROM e0),\n"
        f"v2 AS (SELECT CAST(range AS BIGINT) AS id FROM range({2 * V})),\n"
        "l0 AS (SELECT id, id AS label FROM v2)"
    )
    prev = "l0"
    for i in range(1, cc_rounds + 1):
        sql += (
            f",\nm{i} AS MATERIALIZED (SELECT bip.dst AS id, min({prev}.label) AS minl\n"
            f"  FROM bip JOIN {prev} ON {prev}.id = bip.src GROUP BY bip.dst),\n"
            f"l{i} AS MATERIALIZED (SELECT {prev}.id, least({prev}.label, coalesce(m{i}.minl, {prev}.label)) AS label\n"
            f"  FROM {prev} LEFT JOIN m{i} ON m{i}.id = {prev}.id)"
        )
        prev = f"l{i}"
    return sql + (
        f",\nindeg AS (SELECT dst AS id, count(*) AS deg FROM e0 GROUP BY dst),\n"
        "outdeg AS (SELECT src AS id, count(*) AS deg FROM e0 GROUP BY src),\n"
        f"an AS MATERIALIZED (SELECT i.id, i.deg, c.label FROM indeg i\n"
        f"  JOIN {prev} c ON c.id = i.id + {V}),\n"
        "hn AS MATERIALIZED (SELECT o.id, o.deg, c.label FROM outdeg o\n"
        f"  JOIN {prev} c ON c.id = o.id),\n"
        "atot AS (SELECT count(*) AS tot FROM an),\n"
        "htot AS (SELECT count(*) AS tot FROM hn),\n"
        "acomp AS (SELECT label, count(*) AS csize, sum(deg) AS cvol FROM an GROUP BY label),\n"
        "hcomp AS (SELECT label, count(*) AS csize, sum(deg) AS cvol FROM hn GROUP BY label),\n"
        "auth AS (SELECT an.id,\n"
        "  (acomp.csize / CAST(atot.tot AS DOUBLE)) * an.deg / acomp.cvol AS auth\n"
        "  FROM an JOIN acomp USING (label) CROSS JOIN atot),\n"
        "hub AS (SELECT hn.id,\n"
        "  (hcomp.csize / CAST(htot.tot AS DOUBLE)) * hn.deg / hcomp.cvol AS hub\n"
        "  FROM hn JOIN hcomp USING (label) CROSS JOIN htot),\n"
        f"vv AS (SELECT CAST(range AS BIGINT) AS id FROM range({V}))\n"
        "SELECT vv.id, round(coalesce(auth.auth, 0.0), 12) AS auth,\n"
        "  round(coalesce(hub.hub, 0.0), 12) AS hub\n"
        "FROM vv LEFT JOIN auth ON auth.id = vv.id LEFT JOIN hub ON hub.id = vv.id"
    )


def _hits_sql(k: int) -> str:
    """Unrolled transcription of apps/hits.py's exact computation
    shape: raw matvecs with the previous hub sum folded in as a
    per-element scalar division (sh_0 = 1)."""
    sql = (
        f"WITH e AS MATERIALIZED ({EDGES_SQL}),\n"
        f"v AS (SELECT CAST(range AS BIGINT) AS id FROM range({V})),\n"
        "h0 AS (SELECT id, CAST(1.0 AS DOUBLE) AS hub_raw FROM v)"
    )
    for i in range(1, k + 1):
        div = (
            f"(SELECT sum(hub_raw) FROM h{i-1})" if i > 1 else "CAST(1.0 AS DOUBLE)"
        )
        sql += (
            f",\na{i} AS MATERIALIZED (SELECT v.id, coalesce(s.x, CAST(0.0 AS DOUBLE)) AS auth_raw FROM v LEFT JOIN\n"
            f"  (SELECT e.dst AS id, sum(h.hub_raw / {div}) AS x\n"
            f"   FROM e JOIN h{i-1} h ON h.id = e.src GROUP BY e.dst) s USING (id)),\n"
            f"h{i} AS MATERIALIZED (SELECT v.id, coalesce(s.x, CAST(0.0 AS DOUBLE)) AS hub_raw FROM v LEFT JOIN\n"
            f"  (SELECT e.src AS id, sum(a.auth_raw) AS x\n"
            f"   FROM e JOIN a{i} a ON a.id = e.dst GROUP BY e.src) s USING (id))"
        )
    return sql + (
        f"\nSELECT a.id, round(a.auth_raw / (SELECT sum(auth_raw) FROM a{k}), 8) AS auth,\n"
        f"round(h.hub_raw / (SELECT sum(hub_raw) FROM h{k}), 8) AS hub\n"
        f"FROM a{k} a JOIN h{k} h ON a.id = h.id"
    )


def _cc_sql(k: int, label_col: str = "label") -> str:
    """k chained min-label rounds.  With k >= the graph's fixpoint depth
    (5 at sf0.01/sf0.001, measured) this IS the converged component
    labeling — used both for the fixed-k gate (cc_k4) and, with margin,
    as the exact oracle for the convergence-defined apps."""
    sql = (
        f"WITH e0 AS MATERIALIZED ({EDGES_SQL}),\n"
        f"es AS MATERIALIZED ({SYM_SQL}),\n"
        f"v AS (SELECT CAST(range AS BIGINT) AS id FROM range({V})),\n"
        "l0 AS (SELECT id, id AS label FROM v)"
    )
    prev = "l0"
    for i in range(1, k + 1):
        sql += (
            f",\nm{i} AS MATERIALIZED (SELECT es.dst AS id, min({prev}.label) AS minl\n"
            f"  FROM es JOIN {prev} ON {prev}.id = es.src GROUP BY es.dst),\n"
            f"l{i} AS MATERIALIZED (SELECT {prev}.id, least({prev}.label, coalesce(m{i}.minl, {prev}.label)) AS label\n"
            f"  FROM {prev} LEFT JOIN m{i} ON m{i}.id = {prev}.id)"
        )
        prev = f"l{i}"
    return sql + f"\nSELECT id, label AS {label_col} FROM {prev}"


EDGES_W_SQL = (
    f"SELECT l_orderkey % {V} AS src, l_partkey % {V} AS dst, "
    "1 + l_orderkey % 7 AS weight FROM lineitem"
)


def _sssp_sql(k: int) -> str:
    sql = (
        f"WITH e AS MATERIALIZED ({EDGES_W_SQL}),\n"
        "d0 AS (SELECT CAST(0 AS BIGINT) AS id, CAST(0 AS BIGINT) AS dist)"
    )
    prev = "d0"
    for i in range(1, k + 1):
        sql += (
            f",\nr{i} AS MATERIALIZED (SELECT e.dst AS id, min(p.dist + e.weight) AS nd\n"
            f"  FROM e JOIN {prev} p ON p.id = e.src GROUP BY e.dst),\n"
            f"d{i} AS MATERIALIZED (SELECT coalesce(a.id, b.id) AS id, least(a.dist, b.nd) AS dist\n"
            f"  FROM {prev} a FULL OUTER JOIN r{i} b ON a.id = b.id)"
        )
        prev = f"d{i}"
    return sql + f"\nSELECT id, dist FROM {prev}"


def _lp_sql(k: int) -> str:
    sql = (
        f"WITH e0 AS MATERIALIZED ({EDGES_SQL}),\n"
        f"es AS MATERIALIZED ({SYM_SQL}),\n"
        f"v AS (SELECT CAST(range AS BIGINT) AS id FROM range({V})),\n"
        "l0 AS (SELECT id, id AS label FROM v)"
    )
    prev = "l0"
    for i in range(1, k + 1):
        sql += (
            f",\nm{i} AS MATERIALIZED (SELECT es.dst AS id, min({prev}.label) AS minl\n"
            f"  FROM es JOIN {prev} ON {prev}.id = es.src GROUP BY es.dst),\n"
            f"a{i} AS MATERIALIZED (SELECT {prev}.id, least({prev}.label, coalesce(m{i}.minl, {prev}.label)) AS label\n"
            f"  FROM {prev} LEFT JOIN m{i} ON m{i}.id = {prev}.id),\n"
            # pointer jump: label := label-of-label (Components-Shortcut.C:35-37)
            f"l{i} AS MATERIALIZED (SELECT x.id, y.label FROM a{i} x JOIN a{i} y ON x.label = y.id)"
        )
        prev = f"l{i}"
    return sql + f"\nSELECT id, label FROM {prev}"


def _ecc_sql(k: int, n_sources: int = 16) -> str:
    """Multi-source BFS from sources 0..n_sources-1 over the symmetric
    graph; ecc estimate per vertex = max over sources of BFS distance
    (the kBFS eccentricity-estimate semantics, ``apps/eccentricity``,
    with explicit sources instead of hashed sampling)."""
    sql = (
        f"WITH e0 AS MATERIALIZED ({EDGES_SQL}),\nes AS MATERIALIZED ({SYM_SQL}),\n"
        f"vis0 AS (SELECT CAST(range AS BIGINT) AS sample, CAST(range AS BIGINT) AS id, "
        f"0 AS level FROM range({n_sources}))"
    )
    prev = "vis0"
    for i in range(1, k + 1):
        sql += (
            f",\nf{i} AS MATERIALIZED (SELECT DISTINCT p.sample, e.dst AS id FROM es e "
            f"JOIN {prev} p ON p.id = e.src AND p.level = {i - 1}),\n"
            f"nf{i} AS (SELECT sample, id FROM f{i} x WHERE NOT EXISTS "
            f"(SELECT 1 FROM {prev} v WHERE v.sample = x.sample AND v.id = x.id)),\n"
            f"vis{i} AS MATERIALIZED (SELECT sample, id, level FROM {prev} "
            f"UNION ALL SELECT sample, id, {i} AS level FROM nf{i})"
        )
        prev = f"vis{i}"
    return (
        sql
        + f"\nSELECT id, CAST(max(level) AS INT) AS ecc FROM {prev} GROUP BY id"
    )


def _harmonic_sql(k: int, n_sources: int = 16, max_rounds: int = 24) -> str:
    """DuckDB twin of ``apps.harmonic.harmonic_from_sources`` with
    sources 0..n_sources-1: _ecc_sql's per-(sample, id) BFS-level CTE
    chain, then hnum = Σ over sources of L // level (exact integers,
    L = lcm(1..max_rounds) — same scaled accumulation as the engine)
    and ONE double division, so the values match bit-for-bit."""
    import math

    scale = math.lcm(*range(1, max_rounds + 1))
    sql = (
        f"WITH e0 AS MATERIALIZED ({EDGES_SQL}),\nes AS MATERIALIZED ({SYM_SQL}),\n"
        f"vis0 AS (SELECT CAST(range AS BIGINT) AS sample, CAST(range AS BIGINT) AS id, "
        f"0 AS level FROM range({n_sources}))"
    )
    prev = "vis0"
    for i in range(1, k + 1):
        sql += (
            f",\nf{i} AS MATERIALIZED (SELECT DISTINCT p.sample, e.dst AS id FROM es e "
            f"JOIN {prev} p ON p.id = e.src AND p.level = {i - 1}),\n"
            f"nf{i} AS (SELECT sample, id FROM f{i} x WHERE NOT EXISTS "
            f"(SELECT 1 FROM {prev} v WHERE v.sample = x.sample AND v.id = x.id)),\n"
            f"vis{i} AS MATERIALIZED (SELECT sample, id, level FROM {prev} "
            f"UNION ALL SELECT sample, id, {i} AS level FROM nf{i})"
        )
        prev = f"vis{i}"
    return (
        sql
        + f",\nh AS (SELECT id, sum(CASE WHEN level > 0 THEN {scale} // level "
        f"ELSE 0 END) AS hnum FROM {prev} GROUP BY id)\n"
        f"SELECT v.range AS id, CAST(coalesce(h.hnum, 0) AS DOUBLE) / {scale} "
        f"AS harmonic FROM range({V}) v LEFT JOIN h ON h.id = v.range"
    )


def _closeness_sql(k: int, n_sources: int = 16) -> str:
    """DuckDB twin of the closeness_16 entry: count/sum of BFS levels
    from the same vis CTE chain, one double division."""
    base = _harmonic_sql(k, n_sources)
    head, _, _ = base.rpartition(",\nh AS (")
    return (
        head
        + ",\nh AS (SELECT id, sum(CASE WHEN level > 0 THEN 1 ELSE 0 END) AS rc, "
        "sum(CASE WHEN level > 0 THEN level ELSE 0 END) AS sd "
        f"FROM vis{k} GROUP BY id)\n"
        "SELECT v.range AS id, CASE WHEN coalesce(h.sd, 0) > 0 THEN "
        "CAST(h.rc AS DOUBLE) / CAST(h.sd AS DOUBLE) ELSE 0.0 END AS closeness, "
        "CAST(coalesce(h.rc, 0) AS INT) AS n_reached, "
        "CAST(coalesce(h.sd, 0) AS BIGINT) AS dist_sum "
        f"FROM range({V}) v LEFT JOIN h ON h.id = v.range"
    )


def _ecc_kbfs_sql(
    kcc: int = 12,
    kb1: int = 10,
    kb2: int = 10,
    seed: int = 0,
    thresh: int = 1024,
) -> str:
    """DuckDB twin of ``apps.ecc.ecc_kbfs``: converged min-label
    components (chained CTEs), per-component ``hashInt(i + seed) %%
    size`` sampling with the 64 hash constants inlined (computed by
    the same bit-exact ``hashing.hash_int32``), multi-source BFS
    (ecc1 = max level per vertex, size-1 → 0 / size-2 → 1), fringe
    re-sample (ecc DESC, id DESC) for components above the threshold,
    second BFS, elementwise max."""
    import numpy as np

    from ligra_spark.hashing import hash_int32

    hvals = [
        int(h)
        for h in hash_int32(np.arange(64, dtype=np.uint32) + np.uint32(seed))
    ]
    hs_rows = ", ".join(f"({i}, {h})" for i, h in enumerate(hvals))

    sql = (
        f"WITH e0 AS MATERIALIZED ({EDGES_SQL}),\n"
        f"es AS MATERIALIZED ({SYM_SQL}),\n"
        f"v AS (SELECT CAST(range AS BIGINT) AS id FROM range({V})),\n"
        "l0 AS (SELECT id, id AS label FROM v)"
    )
    prev = "l0"
    for i in range(1, kcc + 1):
        sql += (
            f",\nm{i} AS MATERIALIZED (SELECT es.dst AS id, min({prev}.label) AS minl\n"
            f"  FROM es JOIN {prev} ON {prev}.id = es.src GROUP BY es.dst),\n"
            f"l{i} AS MATERIALIZED (SELECT {prev}.id, least({prev}.label, "
            f"coalesce(m{i}.minl, {prev}.label)) AS label\n"
            f"  FROM {prev} LEFT JOIN m{i} ON m{i}.id = {prev}.id)"
        )
        prev = f"l{i}"
    sql += (
        f",\npos AS MATERIALIZED (SELECT id, label AS component,\n"
        f"  row_number() OVER (PARTITION BY label ORDER BY id) - 1 AS pos,\n"
        f"  count(*) OVER (PARTITION BY label) AS csize FROM {prev}),\n"
        f"hs AS (SELECT * FROM (VALUES {hs_rows}) AS t(i, h)),\n"
        "comps AS (SELECT DISTINCT component, csize FROM pos WHERE csize > 2),\n"
        "chosen AS (SELECT DISTINCT c.component, h.h % c.csize AS pos\n"
        "  FROM comps c JOIN hs h ON h.i < least(c.csize, 64)),\n"
        "src1 AS (SELECT p.id FROM chosen ch JOIN pos p\n"
        "  ON p.component = ch.component AND p.pos = ch.pos),\n"
        "w1_0 AS (SELECT id AS sample, id, 0 AS level FROM src1)"
    )
    prev = "w1_0"
    for i in range(1, kb1 + 1):
        sql += (
            f",\nf1_{i} AS MATERIALIZED (SELECT DISTINCT p.sample, e.dst AS id FROM es e "
            f"JOIN {prev} p ON p.id = e.src AND p.level = {i - 1}),\n"
            f"n1_{i} AS (SELECT sample, id FROM f1_{i} x WHERE NOT EXISTS "
            f"(SELECT 1 FROM {prev} v WHERE v.sample = x.sample AND v.id = x.id)),\n"
            f"w1_{i} AS MATERIALIZED (SELECT sample, id, level FROM {prev} "
            f"UNION ALL SELECT sample, id, {i} AS level FROM n1_{i})"
        )
        prev = f"w1_{i}"
    sql += (
        f",\necc1 AS MATERIALIZED (SELECT p.id, p.component, p.csize,\n"
        "  CASE WHEN p.csize = 1 THEN 0 WHEN p.csize = 2 THEN 1\n"
        "       ELSE coalesce(m.e, 0) END AS ecc\n"
        f"  FROM pos p LEFT JOIN (SELECT id, max(level) AS e FROM {prev} "
        "GROUP BY id) m ON m.id = p.id),\n"
        "src2 AS (SELECT id FROM (SELECT id, csize, ecc,\n"
        "  row_number() OVER (PARTITION BY component ORDER BY ecc DESC, id DESC) AS rk\n"
        f"  FROM ecc1 WHERE csize > {thresh}) r WHERE rk <= least(csize, 64)),\n"
        "w2_0 AS (SELECT id AS sample, id, 0 AS level FROM src2)"
    )
    prev = "w2_0"
    for i in range(1, kb2 + 1):
        sql += (
            f",\nf2_{i} AS MATERIALIZED (SELECT DISTINCT p.sample, e.dst AS id FROM es e "
            f"JOIN {prev} p ON p.id = e.src AND p.level = {i - 1}),\n"
            f"n2_{i} AS (SELECT sample, id FROM f2_{i} x WHERE NOT EXISTS "
            f"(SELECT 1 FROM {prev} v WHERE v.sample = x.sample AND v.id = x.id)),\n"
            f"w2_{i} AS MATERIALIZED (SELECT sample, id, level FROM {prev} "
            f"UNION ALL SELECT sample, id, {i} AS level FROM n2_{i})"
        )
        prev = f"w2_{i}"
    return sql + (
        f"\nSELECT e1.id, CAST(greatest(e1.ecc, coalesce(m2.e, 0)) AS INT) AS ecc\n"
        f"FROM ecc1 e1 LEFT JOIN (SELECT id, max(level) AS e FROM {prev} "
        "GROUP BY id) m2 ON m2.id = e1.id"
    )


def _ecc_simple_approx_sql(kcc: int = 12, kb: int = 12, seed: int = 0) -> str:
    """DuckDB twin of ``apps.ecc.ecc_simple_approx``: converged
    components, per-component source at position hashInt(seed) %% size,
    one multi-source BFS, per-component max level assigned to every
    member (size-1 → 0, size-2 → 1)."""
    import numpy as np

    from ligra_spark.hashing import hash_int32

    h = int(hash_int32(np.uint32(seed)))
    sql = (
        f"WITH e0 AS MATERIALIZED ({EDGES_SQL}),\n"
        f"es AS MATERIALIZED ({SYM_SQL}),\n"
        f"v AS (SELECT CAST(range AS BIGINT) AS id FROM range({V})),\n"
        "l0 AS (SELECT id, id AS label FROM v)"
    )
    prev = "l0"
    for i in range(1, kcc + 1):
        sql += (
            f",\nm{i} AS MATERIALIZED (SELECT es.dst AS id, min({prev}.label) AS minl\n"
            f"  FROM es JOIN {prev} ON {prev}.id = es.src GROUP BY es.dst),\n"
            f"l{i} AS MATERIALIZED (SELECT {prev}.id, least({prev}.label, "
            f"coalesce(m{i}.minl, {prev}.label)) AS label\n"
            f"  FROM {prev} LEFT JOIN m{i} ON m{i}.id = {prev}.id)"
        )
        prev = f"l{i}"
    sql += (
        f",\npos AS MATERIALIZED (SELECT id, label AS component,\n"
        f"  row_number() OVER (PARTITION BY label ORDER BY id) - 1 AS pos,\n"
        f"  count(*) OVER (PARTITION BY label) AS csize FROM {prev}),\n"
        f"src AS (SELECT id FROM pos WHERE csize > 2 AND pos = {h} % csize),\n"
        "w0 AS (SELECT id AS sample, id, 0 AS level FROM src)"
    )
    prev = "w0"
    for i in range(1, kb + 1):
        sql += (
            f",\nf{i} AS MATERIALIZED (SELECT DISTINCT p.sample, e.dst AS id FROM es e "
            f"JOIN {prev} p ON p.id = e.src AND p.level = {i - 1}),\n"
            f"nf{i} AS (SELECT sample, id FROM f{i} x WHERE NOT EXISTS "
            f"(SELECT 1 FROM {prev} v WHERE v.sample = x.sample AND v.id = x.id)),\n"
            f"w{i} AS MATERIALIZED (SELECT sample, id, level FROM {prev} "
            f"UNION ALL SELECT sample, id, {i} AS level FROM nf{i})"
        )
        prev = f"w{i}"
    return sql + (
        f",\nce AS (SELECT p.component, max(w.level) AS ecc_w\n"
        f"  FROM {prev} w JOIN pos p ON p.id = w.id GROUP BY p.component)\n"
        "SELECT p.id, CAST(CASE WHEN p.csize = 1 THEN 0 WHEN p.csize = 2 THEN 1\n"
        "  ELSE coalesce(ce.ecc_w, 0) END AS INT) AS ecc\n"
        "FROM pos p LEFT JOIN ce ON ce.component = p.component"
    )


_H32_T = 1 << 32
_H32_C = [0x7ED55D16, 0xC761C23C, 0x165667B1, 0xD3A2646C, 0xFD7046C5, 0xB55A4F09]


def _h32_sql(inner: str, keep: str) -> str:
    """``hashInt(uint)`` (``utils.h:366-374``) in DuckDB: BIGINT
    modular arithmetic over ``inner`` (must yield ``keep`` columns plus
    ``a`` in [0, 2^32)).  Yields (keep..., g).  Bit-exact twin of
    ``ligra_spark.hashing.hash_int32`` (tested there vs Spark)."""
    T, C = _H32_T, _H32_C
    return (
        f"SELECT {keep}, xor(xor(f, {C[5]}), f // {1 << 16}) AS g FROM (\n"
        f" SELECT {keep}, (e + {C[4]} + e * {1 << 3}) % {T} AS f FROM (\n"
        f"  SELECT {keep}, xor((d + {C[3]}) % {T}, (d * {1 << 9}) % {T}) AS e FROM (\n"
        f"   SELECT {keep}, (c + {C[2]} + c * {1 << 5}) % {T} AS d FROM (\n"
        f"    SELECT {keep}, xor(xor(b, {C[1]}), b // {1 << 19}) AS c FROM (\n"
        f"     SELECT {keep}, (a + {C[0]} + a * {1 << 12}) % {T} AS b FROM (\n"
        f"      {inner}))))))"
    )


def _funnel_sql(steps=("view", "click", "purchase")) -> str:
    """DuckDB twin of the events_funnel entry: per-stage earliest-
    qualifying-timestamp chain (t_i = min ts of step_i strictly after
    t_{i-1}) — equals the engine's greedy state machine by the
    exchange argument."""
    ctes = [
        f"s1 AS (SELECT user_id, min(ts) AS t FROM events "
        f"WHERE event_type = '{steps[0]}' GROUP BY 1)"
    ]
    for i in range(1, len(steps)):
        ctes.append(
            f"s{i + 1} AS (SELECT e.user_id, min(e.ts) AS t FROM events e "
            f"JOIN s{i} ON s{i}.user_id = e.user_id "
            f"WHERE e.event_type = '{steps[i]}' AND e.ts > s{i}.t GROUP BY 1)"
        )
    selects = [
        f"SELECT {i + 1} AS stage, '{s}' AS step, "
        f"(SELECT count(*) FROM s{i + 1}) AS users"
        for i, s in enumerate(steps)
    ]
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL ".join(selects)


def _hll_sql(b: int = 6) -> str:
    """DuckDB twin of the events_user_hll entry: same hashInt
    avalanche (``_h32_sql``), same integer register/rho ladder, same
    single float expression — values match bit-for-bit."""
    from ligra_spark.functions.sketches import hll_alpha

    m = 1 << b
    wbits = 32 - b
    rmax = wbits + 1
    alpha = hll_alpha(m)
    knum = float(m * m * (1 << rmax))
    ladder = " ".join(
        f"WHEN w >= {1 << k} AND w < {1 << (k + 1)} THEN {wbits - k}"
        for k in range(wbits)
    )
    inner = (
        "SELECT event_type, user_id % 4294967296 AS a FROM events"
    )
    return (
        f"WITH hh AS ({_h32_sql(inner, 'event_type')}),\n"
        f"rr AS (SELECT event_type, g % {m} AS j, "
        f"CASE {ladder} ELSE {rmax} END AS rho "
        f"FROM (SELECT event_type, g, g // {m} AS w FROM hh)),\n"
        "regs AS (SELECT event_type, j, max(rho) AS mj FROM rr GROUP BY 1, 2),\n"
        "pg AS (SELECT event_type, "
        f"sum(CAST(1 AS BIGINT) << ({rmax} - mj)) AS sp, count(*) AS nr "
        "FROM regs GROUP BY 1),\n"
        f"h AS (SELECT event_type, {alpha!r} * ({knum!r} / "
        f"CAST(sp + ({m} - nr) * {1 << rmax} AS DOUBLE)) AS hll_distinct FROM pg),\n"
        "x AS (SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) "
        "AS exact_users FROM events GROUP BY 1)\n"
        "SELECT h.event_type, h.hll_distinct, x.exact_users, "
        "(h.hll_distinct - x.exact_users) / x.exact_users AS rel_err "
        "FROM h JOIN x ON h.event_type = x.event_type"
    )


def _rv_scaffold_sql(kcc: int, kb: int, seed: int) -> str:
    """Shared WITH-chain for the RV/CLRSTV oracles (components,
    positional hashInt sampling with fallback + cap, per-sample BFS
    pair tables, furthest-w, w-BFS, Ngh ranking, per-Ngh BFS pair
    tables) — see ``apps.ecc_rv`` for the pinned semantics.  Ends
    after CTE definitions; callers append their final select."""
    import numpy as np

    from ligra_spark.apps.ecc_rv import _max_sample_size, _params
    from ligra_spark.hashing import hash_int32

    h0 = int(hash_int32(np.uint32(seed)))
    cap = _max_sample_size(V)
    par_rows = ", ".join(
        f"({c}, {_params(c)[1]}, {_params(c)[2]})" for c in range(3, V + 1)
    )

    sql = (
        f"WITH e0 AS MATERIALIZED ({EDGES_SQL}),\n"
        f"es AS MATERIALIZED ({SYM_SQL}),\n"
        f"v AS (SELECT CAST(range AS BIGINT) AS id FROM range({V})),\n"
        "l0 AS (SELECT id, id AS label FROM v)"
    )
    prev = "l0"
    for i in range(1, kcc + 1):
        sql += (
            f",\ncm{i} AS MATERIALIZED (SELECT es.dst AS id, min({prev}.label) AS minl\n"
            f"  FROM es JOIN {prev} ON {prev}.id = es.src GROUP BY es.dst),\n"
            f"l{i} AS MATERIALIZED (SELECT {prev}.id, least({prev}.label, "
            f"coalesce(cm{i}.minl, {prev}.label)) AS label\n"
            f"  FROM {prev} LEFT JOIN cm{i} ON cm{i}.id = {prev}.id)"
        )
        prev = f"l{i}"
    hash_inner = (
        f"SELECT id, component, pos, csize, (pos + {seed}) % {_H32_T} AS a\n"
        "      FROM pos WHERE csize > 2"
    )
    sql += (
        f",\npos AS MATERIALIZED (SELECT id, label AS component,\n"
        f"  row_number() OVER (PARTITION BY label ORDER BY id) - 1 AS pos,\n"
        f"  count(*) OVER (PARTITION BY label) AS csize FROM {prev}),\n"
        f"par AS (SELECT * FROM (VALUES {par_rows}) AS t(csize, ssize, nsize)),\n"
        f"hh AS MATERIALIZED ({_h32_sql(hash_inner, 'id, component, pos, csize')}),\n"
        "samp0 AS (SELECT hh.id, hh.component, hh.pos FROM hh JOIN par USING (csize)\n"
        "  WHERE g % csize < ssize),\n"
        "sampcap AS (SELECT id, component FROM (SELECT id, component,\n"
        "  row_number() OVER (PARTITION BY component ORDER BY pos) AS rk FROM samp0) r\n"
        f"  WHERE rk <= {cap}),\n"
        "fb AS (SELECT p.id, p.component FROM pos p JOIN (\n"
        f"  SELECT component, {h0} % csize AS pos FROM\n"
        "    (SELECT DISTINCT component, csize FROM pos WHERE csize > 2) c\n"
        "  WHERE component NOT IN (SELECT DISTINCT component FROM sampcap)) m\n"
        "  ON m.component = p.component AND m.pos = p.pos),\n"
        "src1 AS MATERIALIZED (SELECT * FROM sampcap UNION ALL SELECT * FROM fb),\n"
        "p1_0 AS (SELECT id AS sample, id, 0 AS level FROM src1)"
    )
    prev = "p1_0"
    for i in range(1, kb + 1):
        sql += (
            f",\npf1_{i} AS MATERIALIZED (SELECT DISTINCT p.sample, e.dst AS id FROM es e "
            f"JOIN {prev} p ON p.id = e.src AND p.level = {i - 1}),\n"
            f"pn1_{i} AS (SELECT sample, id FROM pf1_{i} x WHERE NOT EXISTS "
            f"(SELECT 1 FROM {prev} v WHERE v.sample = x.sample AND v.id = x.id)),\n"
            f"p1_{i} AS MATERIALIZED (SELECT sample, id, level FROM {prev} "
            f"UNION ALL SELECT sample, id, {i} AS level FROM pn1_{i})"
        )
        prev = f"p1_{i}"
    p1 = prev
    sql += (
        f",\nsample_ecc AS MATERIALIZED (SELECT sample, max(level) AS se FROM {p1} GROUP BY sample),\n"
        f"mind AS (SELECT id, min(level) AS mind FROM {p1} GROUP BY id),\n"
        "wt AS MATERIALIZED (SELECT id, component FROM (SELECT p.id, p.component,\n"
        "  row_number() OVER (PARTITION BY p.component ORDER BY m.mind DESC, p.id DESC) AS rk\n"
        "  FROM pos p JOIN mind m ON m.id = p.id WHERE p.csize > 2) r WHERE rk = 1),\n"
        "w_0 AS (SELECT id, 0 AS level FROM wt)"
    )
    prev = "w_0"
    for i in range(1, kb + 1):
        sql += (
            f",\nwf{i} AS MATERIALIZED (SELECT DISTINCT e.dst AS id FROM es e "
            f"JOIN {prev} p ON p.id = e.src AND p.level = {i - 1}),\n"
            f"wn{i} AS (SELECT id FROM wf{i} WHERE id NOT IN (SELECT id FROM {prev})),\n"
            f"w_{i} AS MATERIALIZED (SELECT id, level FROM {prev} "
            f"UNION ALL SELECT id, {i} AS level FROM wn{i})"
        )
        prev = f"w_{i}"
    wk = prev
    sql += (
        f",\nw_ecc AS (SELECT p.component, max(w.level) AS we FROM {wk} w "
        "JOIN pos p USING (id) GROUP BY p.component),\n"
        f"ngh AS MATERIALIZED (SELECT id, component, level, rk - 1 AS ngh_idx FROM (\n"
        f"  SELECT p.id, p.component, w.level, pp.nsize,\n"
        "  row_number() OVER (PARTITION BY p.component ORDER BY w.level, p.id) AS rk\n"
        f"  FROM pos p JOIN {wk} w USING (id) JOIN par pp USING (csize)) r\n"
        "  WHERE rk <= nsize),\n"
        "p2_0 AS (SELECT id AS sample, id, 0 AS level FROM ngh)"
    )
    prev = "p2_0"
    for i in range(1, kb + 1):
        sql += (
            f",\npf2_{i} AS MATERIALIZED (SELECT DISTINCT p.sample, e.dst AS id FROM es e "
            f"JOIN {prev} p ON p.id = e.src AND p.level = {i - 1}),\n"
            f"pn2_{i} AS (SELECT sample, id FROM pf2_{i} x WHERE NOT EXISTS "
            f"(SELECT 1 FROM {prev} v WHERE v.sample = x.sample AND v.id = x.id)),\n"
            f"p2_{i} AS MATERIALIZED (SELECT sample, id, level FROM {prev} "
            f"UNION ALL SELECT sample, id, {i} AS level FROM pn2_{i})"
        )
        prev = f"p2_{i}"
    p2 = prev
    sql += (
        f",\nngh_ecc AS MATERIALIZED (SELECT sample, max(level) AS ne FROM {p2} GROUP BY sample),\n"
        "exact AS MATERIALIZED (SELECT id, max(ex) AS exact FROM (\n"
        "  SELECT s.id, e.se AS ex FROM src1 s JOIN sample_ecc e ON e.sample = s.id\n"
        "  UNION ALL SELECT wt.id, w_ecc.we AS ex FROM wt JOIN w_ecc USING (component)\n"
        "  UNION ALL SELECT n.id, e.ne AS ex FROM ngh n JOIN ngh_ecc e ON e.sample = n.id) u\n"
        "  GROUP BY id)"
    )
    return sql, p1, p2, wk


def _ecc_clrstv_sql(kcc: int = 12, kb: int = 10, seed: int = 0) -> str:
    sql, p1, p2, wk = _rv_scaffold_sql(kcc, kb, seed)
    return sql + (
        f",\nest1 AS (SELECT p.id, max(greatest(p.level, e.se - p.level)) AS e1\n"
        f"  FROM {p1} p JOIN sample_ecc e USING (sample) GROUP BY p.id),\n"
        f"est2 AS (SELECT p.id, max(greatest(p.level, e.ne - p.level)) AS e2\n"
        f"  FROM {p2} p JOIN ngh_ecc e USING (sample) GROUP BY p.id)\n"
        "SELECT p.id, CAST(CASE WHEN p.csize = 1 THEN 0 WHEN p.csize = 2 THEN 1\n"
        "  WHEN x.exact IS NOT NULL THEN x.exact\n"
        "  ELSE greatest(e1.e1, greatest(wl.level, we.we - wl.level), e2.e2) END AS INT) AS ecc\n"
        "FROM pos p LEFT JOIN exact x USING (id)\n"
        "LEFT JOIN est1 e1 USING (id) LEFT JOIN est2 e2 USING (id)\n"
        f"LEFT JOIN {wk} wl USING (id) LEFT JOIN w_ecc we USING (component)"
    )


def _ecc_rv_sql(kcc: int = 12, kb: int = 10, seed: int = 0) -> str:
    sql, p1, p2, wk = _rv_scaffold_sql(kcc, kb, seed)
    # min-parent Ngh-index propagation down the w-BFS tree
    sql += ",\neff0 AS (SELECT id, ngh_idx AS eff FROM ngh WHERE level = 0)"
    sec_names = []
    for i in range(1, kb + 1):
        prev_eff = f"eff{i - 1}"
        sql += (
            f",\nsc{i} AS MATERIALIZED (SELECT c.id, min(e.eff) AS sec\n"
            f"  FROM {prev_eff} e JOIN es ON es.src = e.id\n"
            f"  JOIN (SELECT id FROM {wk} WHERE level = {i}) c ON c.id = es.dst\n"
            "  GROUP BY c.id),\n"
            f"eff{i} AS (SELECT s.id, coalesce(n.ngh_idx, s.sec) AS eff\n"
            f"  FROM sc{i} s LEFT JOIN ngh n USING (id))"
        )
        sec_names.append(f"SELECT id, sec FROM sc{i}")
    sec_union = " UNION ALL ".join(sec_names)
    return sql + (
        f",\nsec_all AS MATERIALIZED ({sec_union}),\n"
        f"maxd1 AS (SELECT id, max(level) AS maxd1 FROM {p1} GROUP BY id),\n"
        "minr AS (SELECT s.component, min(e.se) AS min_r FROM src1 s\n"
        "  JOIN sample_ecc e ON e.sample = s.id GROUP BY s.component),\n"
        "vt AS (SELECT s.id, n.id AS vt_id FROM sec_all s\n"
        "  JOIN pos p USING (id)\n"
        "  JOIN ngh n ON n.component = p.component AND n.ngh_idx = s.sec),\n"
        f"dvtw AS (SELECT p2.sample AS vt_id, p2.level AS d_vt_w FROM {p2} p2\n"
        "  JOIN wt ON wt.id = p2.id),\n"
        f"est AS (SELECT vt.id, d.level AS d_vt_v, dw.d_vt_w, ne.ne AS vt_ecc\n"
        f"  FROM vt JOIN {p2} d ON d.sample = vt.vt_id AND d.id = vt.id\n"
        "  JOIN dvtw dw ON dw.vt_id = vt.vt_id\n"
        "  JOIN ngh_ecc ne ON ne.sample = vt.vt_id)\n"
        "SELECT p.id, CAST(CASE WHEN p.csize = 1 THEN 0 WHEN p.csize = 2 THEN 1\n"
        "  WHEN x.exact IS NOT NULL THEN x.exact\n"
        "  WHEN est.d_vt_v <= est.d_vt_w\n"
        "    THEN greatest(greatest(m.maxd1, wl.level), est.vt_ecc)\n"
        "  ELSE greatest(greatest(m.maxd1, wl.level), mr.min_r) END AS INT) AS ecc\n"
        "FROM pos p LEFT JOIN exact x USING (id)\n"
        "LEFT JOIN maxd1 m USING (id)\n"
        f"LEFT JOIN {wk} wl USING (id)\n"
        "LEFT JOIN est USING (id)\n"
        "LEFT JOIN minr mr USING (component)"
    )


def _ecc_exact_sql(k: int, v: int = V_ECC) -> str:
    """All-sources multi-BFS over the V=256 symmetric derived graph:
    exact ecc(u) = max over sources s of dist(s, u).  Same chained-CTE
    shape as ``_ecc_sql`` with every vertex a source (the kBFS-Exact
    batching is a Spark-side cost split — the fixpoint is identical)."""
    edges = f"SELECT l_orderkey % {v} AS src, l_partkey % {v} AS dst FROM lineitem"
    sql = (
        f"WITH e0 AS MATERIALIZED ({edges}),\nes AS MATERIALIZED ({SYM_SQL}),\n"
        f"vis0 AS (SELECT CAST(range AS BIGINT) AS sample, CAST(range AS BIGINT) AS id, "
        f"0 AS level FROM range({v}))"
    )
    prev = "vis0"
    for i in range(1, k + 1):
        sql += (
            f",\nf{i} AS MATERIALIZED (SELECT DISTINCT p.sample, e.dst AS id FROM es e "
            f"JOIN {prev} p ON p.id = e.src AND p.level = {i - 1}),\n"
            f"nf{i} AS (SELECT sample, id FROM f{i} x WHERE NOT EXISTS "
            f"(SELECT 1 FROM {prev} v WHERE v.sample = x.sample AND v.id = x.id)),\n"
            f"vis{i} AS MATERIALIZED (SELECT sample, id, level FROM {prev} "
            f"UNION ALL SELECT sample, id, {i} AS level FROM nf{i})"
        )
        prev = f"vis{i}"
    return (
        sql
        + f"\nSELECT id, CAST(max(level) AS INT) AS ecc FROM {prev} GROUP BY id"
    )


def _ppr_scaffold_sql(rounds: int) -> str:
    """WITH-chain computing the ACL push state s{rounds} =
    (seed, id, p, r) over the symmetric gate graph — the fixed-point
    is reached well before ``rounds`` (28 at sf0.001, 22 at sf0.01 for
    ε=1e-6); later rounds see an empty frontier and are identity."""
    a, oma2, eps = PPR_ALPHA, (1.0 - PPR_ALPHA) / 2.0, PPR_EPS
    seed_rows = ", ".join(f"({s})" for s in PPR_SEEDS)
    sql = (
        f"WITH e0 AS MATERIALIZED ({EDGES_SQL}),\n"
        f"es AS MATERIALIZED ({SYM_SQL}),\n"
        # degs only lists vertices WITH out-edges — the inner joins
        # below therefore implement the deg > 0 frontier rule
        "degs AS MATERIALIZED (SELECT src AS id, count(*) AS deg FROM es GROUP BY src),\n"
        f"sd AS (SELECT * FROM (VALUES {seed_rows}) t(seed)),\n"
        "s0 AS (SELECT sd.seed, sd.seed AS id, 0.0 AS p, 1.0 AS r FROM sd\n"
        "  JOIN degs d ON d.id = sd.seed)"
    )
    for i in range(1, rounds + 1):
        p_, f_, u_ = f"s{i - 1}", f"f{i}", f"u{i}"
        sql += (
            f",\n{f_} AS MATERIALIZED (SELECT s.seed, s.id, s.r, d.deg FROM {p_} s\n"
            f"  JOIN degs d USING (id) WHERE s.r > d.deg * {eps}),\n"
            f"pu{i} AS MATERIALIZED (SELECT f.seed, e.dst AS id,\n"
            f"  sum({oma2} * f.r / f.deg) AS pu\n"
            f"  FROM es e JOIN {f_} f ON f.id = e.src GROUP BY f.seed, e.dst),\n"
            f"{u_} AS (SELECT s.seed, s.id,\n"
            f"  CASE WHEN f.id IS NOT NULL THEN s.p + {a} * s.r ELSE s.p END AS p,\n"
            f"  CASE WHEN f.id IS NOT NULL THEN s.r * {oma2} ELSE s.r END AS r\n"
            f"  FROM {p_} s LEFT JOIN {f_} f ON f.seed = s.seed AND f.id = s.id),\n"
            f"s{i} AS MATERIALIZED (SELECT coalesce(a.seed, b.seed) AS seed,\n"
            "  coalesce(a.id, b.id) AS id, coalesce(a.p, 0) AS p,\n"
            f"  coalesce(a.r, 0) + coalesce(b.pu, 0) AS r\n"
            f"  FROM {u_} a FULL JOIN pu{i} b ON a.seed = b.seed AND a.id = b.id)"
        )
    return sql


def _ppr_sql(rounds: int = 32) -> str:
    return (
        _ppr_scaffold_sql(rounds)
        + f"\nSELECT seed, id, round(p, 8) AS p FROM s{rounds} WHERE p > 0"
    )


def _ppr_sweep_sql(rounds: int = 32) -> str:
    """Sweep cut (``sweep.h:66-110``) on top of the ACL state: order
    touched by round(p/deg, 12) DESC then id ASC; an edge crosses
    prefix k iff pos(u) <= k < pos(w), so it contributes +1 at pos(u)
    and -1 at pos(w) (the interval form of the reference's
    incremental counter); conductance = crossing / min(vol, m - vol)
    (1.0 when crossing or the denominator is 0); the best prefix is
    the FIRST attaining the minimum."""
    k = rounds
    return _ppr_scaffold_sql(k) + (
        f",\nmm AS (SELECT count(*) AS m FROM es),\n"
        f"tt AS (SELECT s.seed, s.id, d.deg, round(s.p / d.deg, 12) AS ratio\n"
        f"  FROM s{k} s JOIN degs d USING (id) WHERE s.p > 0),\n"
        "ps AS MATERIALIZED (SELECT seed, id, deg,\n"
        "  row_number() OVER (PARTITION BY seed ORDER BY ratio DESC, id ASC) AS pos\n"
        "  FROM tt),\n"
        "dl AS MATERIALIZED (SELECT pu.seed, pu.pos,\n"
        "  sum(CASE WHEN pw.pos IS NULL OR pw.pos > pu.pos THEN 1 ELSE -1 END) AS dd\n"
        "  FROM es e JOIN ps pu ON pu.id = e.src\n"
        "  LEFT JOIN ps pw ON pw.seed = pu.seed AND pw.id = e.dst\n"
        "  GROUP BY pu.seed, pu.pos),\n"
        "pre AS (SELECT ps.seed, ps.pos,\n"
        "  sum(coalesce(dl.dd, 0)) OVER w AS crossing,\n"
        "  sum(ps.deg) OVER w AS vol_s\n"
        "  FROM ps LEFT JOIN dl ON dl.seed = ps.seed AND dl.pos = ps.pos\n"
        "  WINDOW w AS (PARTITION BY ps.seed ORDER BY ps.pos\n"
        "               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),\n"
        "cn AS (SELECT seed, pos, crossing, vol_s,\n"
        "  CASE WHEN crossing = 0 OR least(vol_s, (SELECT m FROM mm) - vol_s) <= 0\n"
        "       THEN 1.0\n"
        "       ELSE CAST(crossing AS DOUBLE) / least(vol_s, (SELECT m FROM mm) - vol_s)\n"
        "  END AS conductance FROM pre),\n"
        "bst AS (SELECT *, row_number() OVER (PARTITION BY seed\n"
        "  ORDER BY conductance ASC, pos ASC) AS rk FROM cn)\n"
        "SELECT seed, pos AS size_s, CAST(vol_s AS BIGINT) AS vol_s,\n"
        "  CAST(crossing AS BIGINT) AS edges_crossing,\n"
        "  conductance FROM bst WHERE rk = 1"
    )


def _nibble_sql(rounds: int = NIBBLE_T) -> str:
    """Unrolled Nibble rounds (``Nibble-Serial.C:56-72``): per round,
    frontier = q > deg·ε; q' = self-retention q/2 ∪ pushes q/(2·deg)
    summed (below-threshold rows of ACTIVE seeds are dropped — the
    truncation); seeds with an empty frontier keep their state
    verbatim (the per-seed loop exit)."""
    eps = NIBBLE_EPS
    seed_rows = ", ".join(f"({s})" for s in PPR_SEEDS)
    sql = (
        f"WITH e0 AS MATERIALIZED ({EDGES_SQL}),\n"
        f"es AS MATERIALIZED ({SYM_SQL}),\n"
        "degs AS MATERIALIZED (SELECT src AS id, count(*) AS deg FROM es GROUP BY src),\n"
        f"sd AS (SELECT * FROM (VALUES {seed_rows}) t(seed)),\n"
        "s0 AS (SELECT sd.seed, sd.seed AS id, 1.0 AS q FROM sd\n"
        "  JOIN degs d ON d.id = sd.seed)"
    )
    for i in range(1, rounds + 1):
        p_ = f"s{i - 1}"
        sql += (
            f",\nf{i} AS MATERIALIZED (SELECT s.seed, s.id, s.q, d.deg FROM {p_} s\n"
            f"  JOIN degs d USING (id) WHERE s.q > d.deg * {eps!r}),\n"
            f"a{i} AS MATERIALIZED (SELECT DISTINCT seed FROM f{i}),\n"
            f"n{i} AS MATERIALIZED (SELECT seed, id, sum(q) AS q FROM (\n"
            f"  SELECT seed, id, q / 2 AS q FROM f{i}\n"
            "  UNION ALL\n"
            f"  SELECT f.seed, e.dst AS id, f.q / (2 * f.deg) AS q\n"
            f"    FROM es e JOIN f{i} f ON f.id = e.src) GROUP BY seed, id),\n"
            f"s{i} AS MATERIALIZED (SELECT * FROM n{i} UNION ALL\n"
            f"  SELECT s.seed, s.id, s.q FROM {p_} s\n"
            f"  WHERE NOT EXISTS (SELECT 1 FROM a{i} a WHERE a.seed = s.seed))"
        )
    # HALF_UP to 8 decimals, spelled out: walk masses are dyadic
    # rationals (1/(2^a·Πdeg) with power-of-two degs), so exact
    # .5-boundary values occur and DuckDB's double round() is
    # half-to-even while Spark's is HALF_UP; floor(x·1e8 + 0.5) is
    # HALF_UP for the positive masses here.
    return sql + (
        f"\nSELECT seed, id, floor(q * 1e8 + 0.5) / 1e8 AS q FROM s{rounds}"
    )


def _heat_kernel_sql(
    t: float = HK_T, eps: float = HK_EPS, n_terms: int = HK_N, digits: int = 8
) -> str:
    """Unrolled synchronous hk-relax levels
    (``HeatKernel-Parallel.C:128-170``): per level j, frontier rows'
    residuals are absorbed into x; r is REPLACED by the pushes
    (t/(j+1)·r/deg, truncating old residuals); the next frontier is
    r ≥ deg·C/ψ_{j+1} (r > 0 ⇔ sparse-map membership); the last level
    pushes straight into x with factor 1.  Threshold literals are the
    exact doubles the app computes (same psis code path)."""
    import math

    from ligra_spark.apps import heat_kernel_psis

    psis = heat_kernel_psis(t, n_terms)
    constant = math.exp(t) * eps / (2.0 * n_terms)
    seed_rows = ", ".join(f"({s})" for s in PPR_SEEDS)
    sql = (
        f"WITH e0 AS MATERIALIZED ({EDGES_SQL}),\n"
        f"es AS MATERIALIZED ({SYM_SQL}),\n"
        "degs AS MATERIALIZED (SELECT src AS id, count(*) AS deg FROM es GROUP BY src),\n"
        f"sd AS (SELECT * FROM (VALUES {seed_rows}) t(seed)),\n"
        "t0 AS (SELECT sd.seed, sd.seed AS id, 0.0 AS x, 1.0 AS r,\n"
        "  TRUE AS is_front FROM sd JOIN degs d ON d.id = sd.seed)"
    )
    for j in range(n_terms):
        last = j + 1 == n_terms
        factor = 1.0 if last else t / float(j + 1)
        p_ = f"t{j}"
        sql += (
            f",\nf{j} AS MATERIALIZED (SELECT s.seed, s.id, s.r, d.deg FROM {p_} s\n"
            f"  JOIN degs d USING (id) WHERE s.is_front),\n"
            f"a{j} AS MATERIALIZED (SELECT DISTINCT seed FROM f{j}),\n"
            f"ab{j} AS (SELECT s.seed, s.id,\n"
            "  s.x + CASE WHEN s.is_front THEN s.r ELSE 0.0 END AS x\n"
            f"  FROM {p_} s JOIN a{j} USING (seed)),\n"
            f"pu{j} AS MATERIALIZED (SELECT f.seed, e.dst AS id,\n"
            f"  sum({factor!r} * f.r / f.deg) AS pu\n"
            f"  FROM es e JOIN f{j} f ON f.id = e.src GROUP BY f.seed, e.dst)"
        )
        if last:
            sql += (
                f",\nm{j} AS (SELECT coalesce(a.seed, b.seed) AS seed,\n"
                "  coalesce(a.id, b.id) AS id,\n"
                "  coalesce(a.x, 0) + coalesce(b.pu, 0) AS x,\n"
                "  0.0 AS r, FALSE AS is_front\n"
                f"  FROM ab{j} a FULL JOIN pu{j} b ON a.seed = b.seed AND a.id = b.id)"
            )
        else:
            thr = constant / psis[j + 1]
            sql += (
                f",\nm{j} AS (SELECT u.seed, u.id, u.x, u.r,\n"
                f"  (u.r > 0 AND u.r >= coalesce(d.deg, 0) * {thr!r}) AS is_front\n"
                "  FROM (SELECT coalesce(a.seed, b.seed) AS seed,\n"
                "    coalesce(a.id, b.id) AS id, coalesce(a.x, 0) AS x,\n"
                "    coalesce(b.pu, 0) AS r\n"
                f"    FROM ab{j} a FULL JOIN pu{j} b ON a.seed = b.seed AND a.id = b.id) u\n"
                "  LEFT JOIN degs d ON d.id = u.id)"
            )
        sql += (
            f",\nt{j + 1} AS MATERIALIZED (\n"
            f"  SELECT seed, id, x, r, is_front FROM m{j} WHERE x <> 0 OR r <> 0\n"
            "  UNION ALL\n"
            f"  SELECT s.seed, s.id, s.x, s.r, s.is_front FROM {p_} s\n"
            f"  WHERE NOT EXISTS (SELECT 1 FROM a{j} a WHERE a.seed = s.seed))"
        )
    # Nudged rounding, identical formula to _q_heat_kernel: hk values
    # are simple rationals that land EXACTLY on .5 decimal boundaries
    # (1/512 at 8 digits, 3/6400 at 7), and the engines' summation
    # orders differ by 1 ulp on some — any boundary AT .5 flips per
    # engine at some sf.  floor(x·1e8 + .501) moves the boundary to
    # .499 where the data never lands.
    scale = 10 ** digits
    return sql + (
        f"\nSELECT seed, id, floor(x * {scale} + 0.501) / {scale} AS x"
        f" FROM t{n_terms} WHERE x > 0"
    )


def _heat_kernel_rand_sql(
    t: float = HKR_T,
    k_max: int = HKR_K,
    n_walks: int = HKR_WALKS,
    seed: int = HKR_SEED,
) -> str:
    """Unrolled rand-HK-PR walks
    (``HeatKernel-Randomized-Serial.C:69-85``): the hash draws depend
    only on the (seed, walk, step) counter — not on the graph — so
    they are precomputed with the bit-exact numpy ``hash_int32`` and
    inlined as a VALUES table; the SQL then replays each step as an
    indexed-adjacency lookup ``idx = h % deg`` (neighbors ranked by
    ascending dst, same as the app).  Walk w steps at level j iff
    u ≥ CDF(j); deg-0 landings freeze (null lookup → coalesce)."""
    import numpy as np

    from ligra_spark.apps import hk_walk_probs
    from ligra_spark.hashing import hash_int32

    probs = hk_walk_probs(t, k_max)
    stride = k_max + 1
    hv_rows = []
    for s in PPR_SEEDS:
        for w in range(n_walks):
            base = (s * n_walks + w) * stride + seed
            for j in range(stride):
                h = int(hash_int32(np.uint32((base + j) & 0xFFFFFFFF)))
                hv_rows.append(f"({s},{w},{j},{h})")
    sql = (
        f"WITH e0 AS MATERIALIZED ({EDGES_SQL}),\n"
        f"es AS MATERIALIZED ({SYM_SQL}),\n"
        "degs AS MATERIALIZED (SELECT src AS id, count(*) AS deg FROM es GROUP BY src),\n"
        "eidx AS MATERIALIZED (SELECT src, dst,\n"
        "  row_number() OVER (PARTITION BY src ORDER BY dst) - 1 AS idx FROM es),\n"
        f"hv AS MATERIALIZED (SELECT * FROM (VALUES {','.join(hv_rows)})"
        " t(seed, walk, j, h)),\n"
        "w0 AS (SELECT hv.seed, hv.walk, hv.seed AS x,\n"
        "  hv.h / 4294967295.0 AS u FROM hv\n"
        "  JOIN degs d ON d.id = hv.seed AND d.deg > 0 WHERE hv.j = 0)"
    )
    cdf = 0.0
    for j in range(k_max):
        cdf += probs[j]
        sql += (
            f",\nw{j + 1} AS MATERIALIZED (SELECT w.seed, w.walk,\n"
            f"  CASE WHEN w.u < {cdf!r} THEN w.x\n"
            "       ELSE coalesce(e.dst, w.x) END AS x, w.u\n"
            f"  FROM w{j} w\n"
            "  LEFT JOIN degs d ON d.id = w.x\n"
            f"  LEFT JOIN hv ON hv.seed = w.seed AND hv.walk = w.walk"
            f" AND hv.j = {j + 1}\n"
            f"  LEFT JOIN eidx e ON w.u >= {cdf!r} AND d.deg > 0\n"
            "    AND e.src = w.x AND e.idx = hv.h % d.deg)"
        )
    return sql + (
        f"\nSELECT seed, x AS id, count(*) / {float(n_walks)!r} AS p"
        f" FROM w{k_max} GROUP BY seed, x"
    )


def _ecc_tk_sql(k: int = 16, n: int = N_TK) -> str:
    """Exact eccentricity of the 255-vertex perfect binary tree via
    the all-sources multi-BFS unroll (same CTE shape as
    ``_ecc_exact_sql``): TK's bound-pruned schedule computes exactly
    this fixpoint, so the oracle is schedule-independent.  k must be
    >= the tree diameter (14 at n=255; 16 gives margin — extra
    levels are no-ops on an exhausted frontier)."""
    sql = (
        f"WITH ch AS (SELECT CAST(range AS BIGINT) AS src FROM range(1, {n})),\n"
        "e0 AS (SELECT src, (src - 1) // 2 AS dst FROM ch),\n"
        "es AS MATERIALIZED (SELECT src, dst FROM e0 "
        "UNION SELECT dst AS src, src AS dst FROM e0),\n"
        f"vis0 AS (SELECT CAST(range AS BIGINT) AS sample, CAST(range AS BIGINT) AS id, "
        f"0 AS level FROM range({n}))"
    )
    prev = "vis0"
    for i in range(1, k + 1):
        sql += (
            f",\nf{i} AS MATERIALIZED (SELECT DISTINCT p.sample, e.dst AS id FROM es e "
            f"JOIN {prev} p ON p.id = e.src AND p.level = {i - 1}),\n"
            f"nf{i} AS (SELECT sample, id FROM f{i} x WHERE NOT EXISTS "
            f"(SELECT 1 FROM {prev} v WHERE v.sample = x.sample AND v.id = x.id)),\n"
            f"vis{i} AS MATERIALIZED (SELECT sample, id, level FROM {prev} "
            f"UNION ALL SELECT sample, id, {i} AS level FROM nf{i})"
        )
        prev = f"vis{i}"
    return (
        sql
        + f"\nSELECT id, CAST(max(level) AS INT) AS ecc FROM {prev} GROUP BY id"
    )


def _kcore_julienne_sql(iters: int = 10, v: int = V_ECC) -> str:
    """FULL coreness of the V=256 symmetric derived graph via the
    iterated-H-index fixpoint (Lü et al. 2016) — the uncapped twin of
    ``_kcore_sql`` (the Julienne peel computes coreness exactly;
    H-index converges to the same fixpoint).  Measured convergence:
    7 iters at sf0.001, 6 at sf0.01; extra iterations idempotent."""
    edges = f"SELECT l_orderkey % {v} AS src, l_partkey % {v} AS dst FROM lineitem"
    sql = (
        f"WITH e0 AS MATERIALIZED ({edges}),\n"
        f"es AS MATERIALIZED ({SYM_SQL}),\n"
        f"v AS (SELECT CAST(range AS BIGINT) AS id FROM range({v})),\n"
        "c0 AS MATERIALIZED (SELECT v.id, CAST(coalesce(d.deg, 0) AS BIGINT) AS val\n"
        "  FROM v LEFT JOIN (SELECT src AS id, count(*) AS deg FROM es GROUP BY src) d\n"
        "  ON d.id = v.id)"
    )
    for t in range(1, iters + 1):
        sql += (
            f",\nh{t} AS MATERIALIZED (SELECT id, max(least(x, rn)) AS hv FROM (\n"
            f"  SELECT es.dst AS id, c.val AS x,\n"
            "  row_number() OVER (PARTITION BY es.dst ORDER BY c.val DESC) AS rn\n"
            f"  FROM es JOIN c{t - 1} c ON c.id = es.src) q GROUP BY id),\n"
            f"c{t} AS MATERIALIZED (SELECT v.id, coalesce(h.hv, 0) AS val\n"
            f"  FROM v LEFT JOIN h{t} h ON h.id = v.id)"
        )
    return sql + f"\nSELECT id, val AS core FROM c{iters}"


def _bfs_sql(k: int) -> str:
    sql = f"WITH e AS MATERIALIZED ({EDGES_SQL}),\nvis0 AS (SELECT CAST(0 AS BIGINT) AS id, 0 AS level)"
    prev = "vis0"
    for i in range(1, k + 1):
        sql += (
            f",\nf{i} AS MATERIALIZED (SELECT DISTINCT e.dst AS id FROM e JOIN {prev} p "
            f"ON p.id = e.src AND p.level = {i - 1}),\n"
            f"nf{i} AS (SELECT id FROM f{i} WHERE id NOT IN (SELECT id FROM {prev})),\n"
            f"vis{i} AS MATERIALIZED (SELECT id, level FROM {prev} "
            f"UNION ALL SELECT id, {i} AS level FROM nf{i})"
        )
        prev = f"vis{i}"
    return sql + f"\nSELECT id, CAST(level AS INT) AS level FROM {prev}"


def _prdelta_sql(k: int) -> str:
    """PageRankDelta (``apps/PageRankDelta.C:47-75``) unrolled to
    EXACTLY the measured stopping round at the driver gate scale
    (sf0.01: 6 rounds; tests pin the engine to the same count vs the
    numpy oracle).  Unlike plain PageRank, extra rounds are NOT
    harmless (each adds sub-epsilon deltas visible at round-8), so the
    depth is exact, not a margin."""
    sql = (
        f"WITH e AS MATERIALIZED ({EDGES_SQL}),\n"
        "deg AS MATERIALIZED (SELECT src AS id, count(*) AS outdeg FROM e GROUP BY src),\n"
        f"v AS (SELECT CAST(range AS BIGINT) AS id FROM range({V})),\n"
        f"s0 AS (SELECT id, 0.0 AS p, 1.0/{V} AS delta, TRUE AS active FROM v)"
    )
    for i in range(1, k + 1):
        prev = f"s{i - 1}"
        sql += (
            f",\ng{i} AS MATERIALIZED (SELECT e.dst AS id, sum(s.delta / deg.outdeg) AS ngh\n"
            f"  FROM e JOIN {prev} s ON s.id = e.src AND s.active\n"
            f"  JOIN deg ON deg.id = e.src GROUP BY e.dst)"
        )
        if i == 1:  # PR_Vertex_F_FirstRound: p += d1, delta = d1 - 1/n
            sql += (
                f",\nt1 AS MATERIALIZED (SELECT s.id, s.p AS p0,\n"
                f"  0.85 * coalesce(g.ngh, 0) + 0.15/{V} AS d1\n"
                f"  FROM {prev} s LEFT JOIN g1 g ON g.id = s.id),\n"
                f"s1 AS MATERIALIZED (SELECT id, p0 + d1 AS p, d1 - 1.0/{V} AS delta,\n"
                f"  abs(d1 - 1.0/{V}) > 0.01 * (p0 + d1) AS active FROM t1)"
            )
        else:  # PR_Vertex_F: active iff |0.85*ngh| > 0.01*p_old
            sql += (
                f",\ns{i} AS MATERIALIZED (SELECT s.id,\n"
                "  CASE WHEN abs(0.85 * coalesce(g.ngh, 0)) > 0.01 * s.p\n"
                "       THEN s.p + 0.85 * coalesce(g.ngh, 0) ELSE s.p END AS p,\n"
                "  0.85 * coalesce(g.ngh, 0) AS delta,\n"
                "  abs(0.85 * coalesce(g.ngh, 0)) > 0.01 * s.p AS active\n"
                f"  FROM s{i - 1} s LEFT JOIN g{i} g ON g.id = s.id)"
            )
    return sql + f"\nSELECT id, round(p, 8) AS rank FROM s{k}"


def _bc_sql(depth: int) -> str:
    """Single-source BC (``apps/BC.C:95-148``): forward sigma
    accumulation to the measured BFS depth (sf0.01: 4 from root 0 over
    the directed dup-keeping edge table), then backward dependency
    rounds in inverse space.  Duplicate edges count as parallel
    shortest paths in BOTH phases (sum over edge rows, not distinct
    neighbors) — matching the engine's sum monoid."""
    sql = (
        f"WITH e AS MATERIALIZED ({EDGES_SQL}),\n"
        "a0 AS (SELECT CAST(0 AS BIGINT) AS id, 0 AS level, 1.0 AS sigma)"
    )
    for i in range(1, depth + 1):
        sql += (
            f",\nm{i} AS MATERIALIZED (SELECT e.dst AS id, sum(p.sigma) AS sigma\n"
            f"  FROM e JOIN a{i - 1} p ON p.id = e.src AND p.level = {i - 1} GROUP BY e.dst),\n"
            f"a{i} AS MATERIALIZED (SELECT id, level, sigma FROM a{i - 1}\n"
            f"  UNION ALL SELECT m.id, {i} AS level, m.sigma FROM m{i} m\n"
            f"  WHERE m.id NOT IN (SELECT id FROM a{i - 1}))"
        )
    # backward: dep(level depth) = 1/sigma; dep(r-1) = 1/sigma + sum of
    # next level's dep over out-edges (BC.C:124-139 in inverse space)
    sql += (
        f",\ndep{depth} AS MATERIALIZED (SELECT id, level, sigma, 1.0/sigma AS dep\n"
        f"  FROM a{depth} WHERE level = {depth})"
    )
    for r in range(depth - 1, -1, -1):
        sql += (
            f",\nb{r} AS MATERIALIZED (SELECT e.src AS id, sum(d.dep) AS s\n"
            f"  FROM e JOIN dep{r + 1} d ON d.id = e.dst GROUP BY e.src),\n"
            f"dep{r} AS MATERIALIZED (SELECT a.id, a.level, a.sigma,\n"
            f"  1.0/a.sigma + coalesce(b.s, 0) AS dep\n"
            f"  FROM a{depth} a LEFT JOIN b{r} b ON b.id = a.id WHERE a.level = {r})"
        )
    union = "\nUNION ALL ".join(f"SELECT * FROM dep{r}" for r in range(depth + 1))
    return (
        sql
        + f"\nSELECT id, round(dep * sigma - 1.0, 6) AS bc FROM ({union}) allv"
    )


def _radii_sql(depth: int) -> str:
    """Radii estimate (``apps/Radii.C:72-99``): the 64-bit OR-mask
    propagation is equivalent to "radii[v] = max over sampled sources
    of directed BFS distance" (bit i reaches v exactly at round
    dist(v_i, v); the mask last grows at the max such round).  Sources
    are the reference's hashInt(i) % n samples, computed here with the
    bit-exact ``ligra_spark.hashing`` port and embedded as literals.
    Depth is fixpoint + margin (sf0.01: 6 rounds measured)."""
    import numpy as np

    from ligra_spark.hashing import hash_int32

    starts = sorted({int(hash_int32(np.uint32(i))) % V for i in range(64)})
    vals = ", ".join(f"({s})" for s in starts)
    sql = (
        f"WITH e AS MATERIALIZED ({EDGES_SQL}),\n"
        f"v AS (SELECT CAST(range AS BIGINT) AS id FROM range({V})),\n"
        f"vis0 AS (SELECT CAST(c0 AS BIGINT) AS sample, CAST(c0 AS BIGINT) AS id,"
        f" 0 AS level FROM (VALUES {vals}) t(c0))"
    )
    prev = "vis0"
    for i in range(1, depth + 1):
        sql += (
            f",\nf{i} AS MATERIALIZED (SELECT DISTINCT p.sample, e.dst AS id FROM e "
            f"JOIN {prev} p ON p.id = e.src AND p.level = {i - 1}),\n"
            f"nf{i} AS (SELECT sample, id FROM f{i} x WHERE NOT EXISTS "
            f"(SELECT 1 FROM {prev} q WHERE q.sample = x.sample AND q.id = x.id)),\n"
            f"vis{i} AS MATERIALIZED (SELECT sample, id, level FROM {prev} "
            f"UNION ALL SELECT sample, id, {i} AS level FROM nf{i})"
        )
        prev = f"vis{i}"
    return (
        sql
        + f",\nmx AS (SELECT id, max(level) AS mx FROM {prev} GROUP BY id)\n"
        "SELECT v.id, CAST(coalesce(mx.mx, -1) AS BIGINT) AS radii\n"
        "FROM v LEFT JOIN mx ON mx.id = v.id"
    )


def _ecc_fm_sql(rounds: int, length: int = 2, seed: int = 0) -> str:
    """FM-sketch eccentricity (``apps/eccentricity/FM-Ecc.C``): the
    packed init masks are embedded as literals from the bit-exact
    numpy port (``oracle.fm_masks``); per round, full-push OR
    propagation — equivalent to the engine's changed-frontier gating
    because a bit reaches v exactly at its origin-set BFS distance
    either way.  Depth = measured fixpoint (sf0.01: 4) + margin
    (extra rounds are no-ops at the mask fixpoint)."""
    from ligra_spark.oracle import fm_masks

    masks = fm_masks(V, length, seed)
    vals = ", ".join(f"({i}, {int(m)})" for i, m in enumerate(masks))
    sql = (
        f"WITH e0 AS MATERIALIZED ({EDGES_SQL}),\n"
        f"es AS MATERIALIZED ({SYM_SQL}),\n"
        f"m0 AS MATERIALIZED (SELECT CAST(c0 AS BIGINT) AS id, CAST(c1 AS BIGINT) AS mask,"
        f" 0 AS ecc FROM (VALUES {vals}) t(c0, c1))"
    )
    for r in range(1, rounds + 1):
        sql += (
            f",\ng{r} AS MATERIALIZED (SELECT es.dst AS id, bit_or(m.mask) AS agg\n"
            f"  FROM es JOIN m{r - 1} m ON m.id = es.src GROUP BY es.dst),\n"
            f"m{r} AS MATERIALIZED (SELECT m.id,\n"
            "  m.mask | coalesce(g.agg, 0) AS mask,\n"
            f"  CASE WHEN (m.mask | coalesce(g.agg, 0)) <> m.mask THEN {r} ELSE m.ecc END AS ecc\n"
            f"  FROM m{r - 1} m LEFT JOIN g{r} g ON g.id = m.id)"
        )
    return sql + f"\nSELECT id, CAST(ecc AS BIGINT) AS ecc FROM m{rounds}"


def _ecc_loglog_sql(rounds: int, seed: int = 0) -> str:
    """LogLog-sketch eccentricity: packed 10x6-bit counters embedded
    from the bit-exact numpy port (``oracle.loglog_masks``); per round
    a 10-lane max aggregate + repack.  Depth = measured fixpoint
    (sf0.01: 5) + margin; extra rounds no-op at the register
    fixpoint."""
    from ligra_spark.oracle import loglog_masks

    masks = loglog_masks(V, seed)
    vals = ", ".join(f"({i}, {int(m)})" for i, m in enumerate(masks))
    maxes = ",\n".join(
        f"  max((m.mask >> {6 * j}) & 63) AS a{j}" for j in range(10)
    )
    repack = " + ".join(
        f"(greatest((m.mask >> {6 * j}) & 63, coalesce(g.a{j}, 0)) << {6 * j})"
        for j in range(10)
    )
    sql = (
        f"WITH e0 AS MATERIALIZED ({EDGES_SQL}),\n"
        f"es AS MATERIALIZED ({SYM_SQL}),\n"
        f"m0 AS MATERIALIZED (SELECT CAST(c0 AS BIGINT) AS id, CAST(c1 AS BIGINT) AS mask,"
        f" 0 AS ecc FROM (VALUES {vals}) t(c0, c1))"
    )
    for r in range(1, rounds + 1):
        sql += (
            f",\ng{r} AS MATERIALIZED (SELECT es.dst AS id,\n{maxes}\n"
            f"  FROM es JOIN m{r - 1} m ON m.id = es.src GROUP BY es.dst),\n"
            f"t{r} AS MATERIALIZED (SELECT m.id, m.mask, m.ecc,\n"
            f"  CASE WHEN g.id IS NULL THEN m.mask ELSE {repack} END AS nm\n"
            f"  FROM m{r - 1} m LEFT JOIN g{r} g ON g.id = m.id),\n"
            f"m{r} AS MATERIALIZED (SELECT id, nm AS mask,\n"
            f"  CASE WHEN nm <> mask THEN {r} ELSE ecc END AS ecc FROM t{r})"
        )
    return sql + f"\nSELECT id, CAST(ecc AS BIGINT) AS ecc FROM m{rounds}"


def _mis_sql(rounds: int) -> str:
    """Parallel lexicographic-greedy MIS (``apps/MIS.C``, priority =
    id): per round, live vertices beating every live neighbor's id join
    the set and knock out their neighbors.  Depth = measured fixpoint +
    margin (sf0.01: 6 rounds); extra rounds are no-ops on an empty live
    set."""
    sql = (
        f"WITH e0 AS MATERIALIZED ({EDGES_SQL}),\n"
        f"es AS MATERIALIZED ({SYM_SQL}),\n"
        f"v AS (SELECT CAST(range AS BIGINT) AS id FROM range({V})),\n"
        "s0 AS (SELECT id, TRUE AS live, FALSE AS inset FROM v)"
    )
    for i in range(1, rounds + 1):
        sql += (
            f",\nmn{i} AS MATERIALIZED (SELECT es.dst AS id, min(es.src) AS mn\n"
            f"  FROM es JOIN s{i - 1} p ON p.id = es.src AND p.live GROUP BY es.dst),\n"
            f"w{i} AS MATERIALIZED (SELECT s.id, s.live, s.inset,\n"
            "  s.live AND (m.mn IS NULL OR m.mn > s.id) AS winner\n"
            f"  FROM s{i - 1} s LEFT JOIN mn{i} m ON m.id = s.id),\n"
            f"k{i} AS MATERIALIZED (SELECT DISTINCT es.dst AS id FROM es\n"
            f"  JOIN w{i} w ON w.id = es.src AND w.winner),\n"
            f"s{i} AS MATERIALIZED (SELECT w.id,\n"
            "  w.live AND NOT w.winner AND k.id IS NULL AS live,\n"
            "  w.inset OR w.winner AS inset\n"
            f"  FROM w{i} w LEFT JOIN k{i} k ON k.id = w.id)"
        )
    return sql + f"\nSELECT id, inset AS in_set FROM s{rounds}"


def _kcore_sql(iters: int, cap: int = 10) -> str:
    """Core numbers via the iterated-H-index fixpoint (Lü et al. 2016:
    c_0 = degree, c_{t+1}(v) = H-index of neighbors' c_t; converges to
    coreness), capped at the fork's max_k quirk (``KCore.C:87``) —
    peeling phase k assigns k-1 exactly to coreness-(k-1) vertices, so
    the capped peel output IS min(coreness, cap).  H-index in SQL:
    max(least(value, desc-rank)).  Depth = measured convergence +
    margin (sf0.01: 14 iters); extra iterations are idempotent."""
    sql = (
        f"WITH e0 AS MATERIALIZED ({EDGES_SQL}),\n"
        f"es AS MATERIALIZED ({SYM_SQL}),\n"
        f"v AS (SELECT CAST(range AS BIGINT) AS id FROM range({V})),\n"
        "c0 AS MATERIALIZED (SELECT v.id, CAST(coalesce(d.deg, 0) AS BIGINT) AS val\n"
        "  FROM v LEFT JOIN (SELECT src AS id, count(*) AS deg FROM es GROUP BY src) d\n"
        "  ON d.id = v.id)"
    )
    for t in range(1, iters + 1):
        sql += (
            f",\nh{t} AS MATERIALIZED (SELECT id, max(least(x, rn)) AS hv FROM (\n"
            f"  SELECT es.dst AS id, c.val AS x,\n"
            "  row_number() OVER (PARTITION BY es.dst ORDER BY c.val DESC) AS rn\n"
            f"  FROM es JOIN c{t - 1} c ON c.id = es.src) q GROUP BY id),\n"
            f"c{t} AS MATERIALIZED (SELECT v.id, coalesce(h.hv, 0) AS val\n"
            f"  FROM v LEFT JOIN h{t} h ON h.id = v.id)"
        )
    return sql + f"\nSELECT id, CAST(least(val, {cap}) AS BIGINT) AS core FROM c{iters}"


def _setcover_sql(rounds: int, epsilon: float = 0.01) -> str:
    """Bucketed greedy set cover (``apps/bucketing/SetCover.C:25-96``)
    unrolled: per round the current max bucket k is a scalar subquery,
    active sets recount uncovered out-edges (dups count), sets still >=
    ceil((1+eps)^k) acquire elements by min-src writeMin, winners with
    >= ceil((1+eps)^(k-1)) won EDGES join the cover; processed sets
    rebucket by the recount.  Rounds past the measured schedule length
    (sf0.01: 68) are no-ops: max(bucket) over an empty live set is
    NULL and every guarded comparison fails."""
    x = f"(1.0 / ln({1.0 + epsilon}))"
    sql = (
        f"WITH e AS MATERIALIZED ({EDGES_SQL}),\n"
        f"v AS (SELECT CAST(range AS BIGINT) AS id FROM range({V})),\n"
        "s0 AS MATERIALIZED (SELECT v.id, CAST(coalesce(d.deg, 0) AS BIGINT) AS deg,\n"
        f"  CASE WHEN coalesce(d.deg, 0) > 0 THEN CAST(floor({x} * ln(coalesce(d.deg, 0))) AS BIGINT) END AS bucket,\n"
        "  FALSE AS in_cover, FALSE AS covered\n"
        "  FROM v LEFT JOIN (SELECT src AS id, count(*) AS deg FROM e GROUP BY src) d\n"
        "  ON d.id = v.id)"
    )
    for i in range(1, rounds + 1):
        p = f"s{i - 1}"
        k = f"(SELECT k FROM k{i})"
        sql += (
            f",\nk{i} AS MATERIALIZED (SELECT max(bucket) AS k FROM {p}),\n"
            # 1. pack-count: uncovered out-edges of the current bucket's sets
            f"cnt{i} AS MATERIALIZED (SELECT e.src AS id, count(*) AS nd FROM e\n"
            f"  JOIN {p} a ON a.id = e.src AND a.bucket = {k}\n"
            f"  JOIN {p} t ON t.id = e.dst AND NOT t.covered GROUP BY e.src),\n"
            # 2. writeMin acquisition by sets still above ceil((1+eps)^k)
            f"own{i} AS MATERIALIZED (SELECT e.dst AS elm, min(e.src) AS owner FROM e\n"
            f"  JOIN cnt{i} c ON c.id = e.src AND c.nd >= CAST(ceil(power({1.0 + epsilon}, {k})) AS BIGINT)\n"
            f"  JOIN {p} t ON t.id = e.dst AND NOT t.covered GROUP BY e.dst),\n"
            # 3. won-EDGE counts per owner; cover when >= low threshold
            f"won{i} AS MATERIALIZED (SELECT o.owner AS id, count(*) AS nw FROM e\n"
            f"  JOIN own{i} o ON o.elm = e.dst AND o.owner = e.src GROUP BY o.owner),\n"
            f"win{i} AS MATERIALIZED (SELECT id FROM won{i}\n"
            f"  WHERE nw >= greatest(CAST(ceil(power({1.0 + epsilon}, {k} - 1)) AS BIGINT), 1)),\n"
            f"ncv{i} AS MATERIALIZED (SELECT DISTINCT o.elm AS id FROM own{i} o\n"
            f"  JOIN win{i} w ON w.id = o.owner),\n"
            # 4. apply: deg/bucket for processed sets, cover/covered flags
            f"s{i} AS MATERIALIZED (SELECT s.id,\n"
            f"  CASE WHEN s.bucket = {k} THEN coalesce(c.nd, 0) ELSE s.deg END AS deg,\n"
            f"  CASE WHEN s.bucket = {k} THEN\n"
            "    (CASE WHEN s.in_cover OR w.id IS NOT NULL THEN NULL\n"
            "          WHEN coalesce(c.nd, 0) > 0\n"
            f"          THEN CAST(floor({x} * ln(coalesce(c.nd, 0))) AS BIGINT) END)\n"
            "  ELSE s.bucket END AS bucket,\n"
            "  s.in_cover OR w.id IS NOT NULL AS in_cover,\n"
            "  s.covered OR n.id IS NOT NULL AS covered\n"
            f"  FROM {p} s LEFT JOIN cnt{i} c ON c.id = s.id\n"
            f"  LEFT JOIN win{i} w ON w.id = s.id\n"
            f"  LEFT JOIN ncv{i} n ON n.id = s.id)"
        )
    return sql + f"\nSELECT id, in_cover, covered FROM s{rounds}"


_TOKS = (
    "SELECT doc_id, text, CASE WHEN length(trim(text)) = 0 THEN [] "
    "ELSE regexp_split_to_array(trim(text), '\\s+') END AS toks FROM documents"
)


def _list_lit(words) -> str:
    return "[" + ", ".join(f"'{w}'" for w in words) + "]"


_BIP_SQL = (
    f"SELECT v AS src, {V} + h AS dst FROM inc "
    f"UNION ALL SELECT {V} + h AS src, v AS dst FROM inc"
)


def _hyper_bfs_sql(k: int) -> str:
    """Bipartite BFS from vertex 0 over the incidence-derived node set
    (vertices 0..V-1, hyperedges V..V+NH-1): vertexProp/hyperedgeProp
    half-steps ARE single bipartite hops, so levels alternate
    even=vertex / odd=hyperedge.  Depth = measured (sf0.01: 4) +
    margin."""
    sql = (
        f"WITH inc AS MATERIALIZED ({INC_SQL}),\n"
        f"bip AS MATERIALIZED ({_BIP_SQL}),\n"
        "vis0 AS (SELECT CAST(0 AS BIGINT) AS id, 0 AS level)"
    )
    prev = "vis0"
    for i in range(1, k + 1):
        sql += (
            f",\nf{i} AS MATERIALIZED (SELECT DISTINCT b.dst AS id FROM bip b "
            f"JOIN {prev} p ON p.id = b.src AND p.level = {i - 1}),\n"
            f"nf{i} AS (SELECT id FROM f{i} WHERE id NOT IN (SELECT id FROM {prev})),\n"
            f"vis{i} AS MATERIALIZED (SELECT id, level FROM {prev} "
            f"UNION ALL SELECT id, {i} AS level FROM nf{i})"
        )
        prev = f"vis{i}"
    return sql + (
        f"\nSELECT CASE WHEN id < {V} THEN 'v' ELSE 'h' END AS kind,\n"
        f"  CASE WHEN id < {V} THEN id ELSE id - {V} END AS id,\n"
        f"  CAST(level AS INT) AS level FROM {prev}"
    )


def _hyper_cc_sql(k: int) -> str:
    """Bipartite min-label fixpoint (HyperCC): vertex init = own id,
    hyperedge init = V + h (never survives a nonempty membership, the
    UINT_E_MAX analog); memberless hyperedges report NULL.  Depth =
    measured fixpoint (sf0.01: 5) + margin."""
    sql = (
        f"WITH inc AS MATERIALIZED ({INC_SQL}),\n"
        f"bip AS MATERIALIZED ({_BIP_SQL}),\n"
        f"v AS (SELECT CAST(range AS BIGINT) AS id FROM range({V + NH})),\n"
        "l0 AS (SELECT id, id AS label FROM v)"
    )
    prev = "l0"
    for i in range(1, k + 1):
        sql += (
            f",\nm{i} AS MATERIALIZED (SELECT bip.dst AS id, min({prev}.label) AS minl\n"
            f"  FROM bip JOIN {prev} ON {prev}.id = bip.src GROUP BY bip.dst),\n"
            f"l{i} AS MATERIALIZED (SELECT {prev}.id, least({prev}.label, "
            f"coalesce(m{i}.minl, {prev}.label)) AS label\n"
            f"  FROM {prev} LEFT JOIN m{i} ON m{i}.id = {prev}.id)"
        )
        prev = f"l{i}"
    return sql + (
        f"\nSELECT 'v' AS kind, id, label FROM {prev} WHERE id < {V}\n"
        f"UNION ALL SELECT 'h' AS kind, id - {V} AS id,\n"
        f"  CASE WHEN id - {V} IN (SELECT h FROM inc) THEN label END AS label\n"
        f"FROM {prev} WHERE id >= {V}"
    )


def _hyper_pr_sql(iters: int) -> str:
    """HyperPageRank (``apps/hyper/HyperPageRank.C:107-113``)
    unrolled: pH[h] = Σ pV[v]/degV(v) over members, pV[v] =
    d·Σ pH[h]/degH(h) + (1-d)/nv.  Fixed iteration count — exact
    unroll, no convergence margin needed."""
    sql = (
        f"WITH inc AS MATERIALIZED ({INC_SQL}),\n"
        "dv AS MATERIALIZED (SELECT v AS id, count(*) AS deg FROM inc GROUP BY v),\n"
        "dh AS MATERIALIZED (SELECT h AS id, count(*) AS deg FROM inc GROUP BY h),\n"
        f"vv AS (SELECT CAST(range AS BIGINT) AS id FROM range({V})),\n"
        f"hh AS (SELECT CAST(range AS BIGINT) AS id FROM range({NH})),\n"
        f"p0 AS (SELECT id, 1.0/{V} AS p FROM vv)"
    )
    prev = "p0"
    for i in range(1, iters + 1):
        sql += (
            f",\nph{i} AS MATERIALIZED (SELECT inc.h AS id, sum({prev}.p / dv.deg) AS p\n"
            f"  FROM inc JOIN {prev} ON {prev}.id = inc.v JOIN dv ON dv.id = inc.v\n"
            "  GROUP BY inc.h),\n"
            f"p{i} AS MATERIALIZED (SELECT vv.id,\n"
            f"  0.85 * coalesce(s.c, 0) + (1.0 - 0.85)/{V} AS p\n"
            f"  FROM vv LEFT JOIN (SELECT inc.v AS id, sum(ph{i}.p / dh.deg) AS c\n"
            f"    FROM inc JOIN ph{i} ON ph{i}.id = inc.h JOIN dh ON dh.id = inc.h\n"
            "    GROUP BY inc.v) s ON s.id = vv.id)"
        )
        prev = f"p{i}"
    return sql + (
        f"\nSELECT 'v' AS kind, id, round(p, 8) AS rank FROM p{iters}\n"
        f"UNION ALL SELECT 'h' AS kind, hh.id, round(coalesce(ph{iters}.p, 0.0), 8) AS rank\n"
        f"FROM hh LEFT JOIN ph{iters} ON ph{iters}.id = hh.id"
    )


def _hyper_bc_sql(d: int, past_end: bool = False) -> str:
    """HyperBC (``apps/hyper/HyperBC.C:106-178``) unrolled over the
    bipartite node space: forward sigma accumulation to the measured
    deepest vertex level d (4 at BOTH gate SFs), then backward
    dependency rounds — vertices at levels d..2 get +1, hyperedges at
    level r-1 receive Σ depV/σV, vertices at r-2 receive σV · Σ depH.
    ``past_end``: the reference's visited-flag quirk — when the
    forward phase ended on an empty VERTEX frontier (sf0.001), the
    marked-but-childless hyperedges at level d+1 receive Σ depV/σV in
    the first backward round (``HyperBC.C:150-158``); at sf0.01 the
    forward phase ends on an empty hyperedge frontier, so no such
    receivers exist and the flag stays off.  Unreached nodes report
    0.0 (zero-initialized reference arrays)."""
    fwd = d + 1 if past_end else d
    sql = (
        f"WITH inc AS MATERIALIZED ({INC_SQL}),\n"
        f"bip AS MATERIALIZED ({_BIP_SQL}),\n"
        "a0 AS (SELECT CAST(0 AS BIGINT) AS id, 0 AS level, 1.0 AS sigma)"
    )
    for i in range(1, fwd + 1):
        sql += (
            f",\nm{i} AS MATERIALIZED (SELECT b.dst AS id, sum(p.sigma) AS sigma\n"
            f"  FROM bip b JOIN a{i - 1} p ON p.id = b.src AND p.level = {i - 1}"
            f" GROUP BY b.dst),\n"
            f"a{i} AS MATERIALIZED (SELECT id, level, sigma FROM a{i - 1}\n"
            f"  UNION ALL SELECT m.id, {i} AS level, m.sigma FROM m{i} m\n"
            f"  WHERE m.id NOT IN (SELECT id FROM a{i - 1}))"
        )
    sql += (
        f",\nvd{d} AS MATERIALIZED (SELECT id, sigma, 1.0 AS dep"
        f" FROM a{fwd} WHERE level = {d})"
    )
    if past_end:
        sql += (
            f",\nhdq AS MATERIALIZED (SELECT b.dst AS id,"
            f" sum(v.dep / v.sigma) AS dep\n"
            f"  FROM bip b JOIN vd{d} v ON v.id = b.src\n"
            f"  WHERE b.dst IN (SELECT id FROM a{fwd} WHERE level = {d + 1})"
            f" GROUP BY b.dst)"
        )
    for r in range(d, 1, -2):
        plus1 = "1.0" if r - 2 >= 2 else "0.0"
        sql += (
            f",\nhd{r - 1} AS MATERIALIZED (SELECT b.dst AS id,"
            f" sum(v.dep / v.sigma) AS dep\n"
            f"  FROM bip b JOIN vd{r} v ON v.id = b.src\n"
            f"  WHERE b.dst IN (SELECT id FROM a{d} WHERE level = {r - 1})"
            f" GROUP BY b.dst),\n"
            f"vd{r - 2} AS MATERIALIZED (SELECT a.id, a.sigma,\n"
            f"  coalesce(s.x, 0) * a.sigma + {plus1} AS dep\n"
            f"  FROM a{d} a LEFT JOIN (SELECT b.dst AS id, sum(h.dep) AS x\n"
            f"    FROM bip b JOIN hd{r - 1} h ON h.id = b.src GROUP BY b.dst) s"
            f" ON s.id = a.id\n"
            f"  WHERE a.level = {r - 2})"
        )
    vparts = " UNION ALL ".join(
        f"SELECT id, dep FROM vd{r}" for r in range(d, -1, -2)
    )
    hparts = " UNION ALL ".join(
        f"SELECT id, dep FROM hd{r}" for r in range(d - 1, 0, -2)
    )
    if past_end:
        hparts += " UNION ALL SELECT id, dep FROM hdq"
    return sql + (
        f"\nSELECT 'v' AS kind, vv.id, round(coalesce(dv.dep, 0.0), 8) AS dep\n"
        f"FROM (SELECT CAST(range AS BIGINT) AS id FROM range({V})) vv\n"
        f"LEFT JOIN ({vparts}) dv ON dv.id = vv.id\n"
        f"UNION ALL SELECT 'h' AS kind, hh.id,"
        f" round(coalesce(dh.dep, 0.0), 8) AS dep\n"
        f"FROM (SELECT CAST(range AS BIGINT) AS id FROM range({NH})) hh\n"
        f"LEFT JOIN ({hparts}) dh ON dh.id - {V} = hh.id"
    )


def _hyper_bpath_sql(k: int) -> str:
    """B-path BFS unrolled: per iteration, hyperedges whose FULL
    in-pin set is inside the visited-vertex set activate (level
    2i-1), then their out-pins join the visited set (level 2i).
    Depth = measured fixpoint (sf0.01: 3 iterations) + margin."""
    sql = (
        f"WITH inb AS MATERIALIZED ({INB_SQL}),\n"
        f"outb AS MATERIALIZED ({OUTB_SQL}),\n"
        "need AS MATERIALIZED (SELECT h, count(*) AS need FROM inb GROUP BY h),\n"
        "vis0 AS (SELECT CAST(0 AS BIGINT) AS id, 0 AS level),\n"
        "hall0 AS (SELECT CAST(NULL AS BIGINT) AS id, 0 AS level WHERE 1=0)"
    )
    prevv, prevh = "vis0", "hall0"
    for i in range(1, k + 1):
        sql += (
            f",\nc{i} AS (SELECT inb.h AS id, count(*) AS c FROM inb\n"
            f"  WHERE inb.v IN (SELECT id FROM {prevv}) GROUP BY inb.h),\n"
            f"nh{i} AS MATERIALIZED (SELECT c{i}.id, {2 * i - 1} AS level FROM c{i}\n"
            f"  JOIN need ON need.h = c{i}.id AND need.need = c{i}.c\n"
            f"  WHERE c{i}.id NOT IN (SELECT id FROM {prevh})),\n"
            f"hall{i} AS MATERIALIZED (SELECT * FROM {prevh} UNION ALL SELECT * FROM nh{i}),\n"
            f"nv{i} AS (SELECT DISTINCT outb.v AS id FROM outb JOIN nh{i} ON nh{i}.id = outb.h\n"
            f"  WHERE outb.v NOT IN (SELECT id FROM {prevv})),\n"
            f"vis{i} AS MATERIALIZED (SELECT * FROM {prevv} "
            f"UNION ALL SELECT id, {2 * i} AS level FROM nv{i})"
        )
        prevv, prevh = f"vis{i}", f"hall{i}"
    return sql + (
        f"\nSELECT 'v' AS kind, id, CAST(level AS INT) AS level FROM {prevv}\n"
        f"UNION ALL SELECT 'h' AS kind, id, CAST(level AS INT) AS level FROM {prevh}"
    )


def _hyper_kcore_sql(rounds: int) -> str:
    """HyperKCore peel loop (``apps/hyper/HyperKCore.C:104-131``)
    unrolled with the scalar k carried as a one-row CTE: remove
    active deg<k vertices at core k-1, kill touched live hyperedges,
    decrement surviving members clamped at k-1; k bumps on a
    no-removal round.  Rounds past the measured schedule are no-ops
    (rm empty → only k increments)."""
    sql = (
        f"WITH inc AS MATERIALIZED ({INC_SQL}),\n"
        f"vv AS (SELECT CAST(range AS BIGINT) AS id FROM range({V})),\n"
        "s0 AS MATERIALIZED (SELECT vv.id, CAST(coalesce(d.deg, 0) AS BIGINT) AS deg,\n"
        "  CAST(NULL AS BIGINT) AS core\n"
        "  FROM vv LEFT JOIN (SELECT v AS id, count(*) AS deg FROM inc GROUP BY v) d\n"
        "  ON d.id = vv.id),\n"
        "dead0 AS (SELECT h FROM inc WHERE FALSE),\n"
        "k0 AS (SELECT CAST(1 AS BIGINT) AS k)"
    )
    for i in range(1, rounds + 1):
        p, dp, kp = f"s{i - 1}", f"dead{i - 1}", f"k{i - 1}"
        k = f"(SELECT k FROM {kp})"
        sql += (
            f",\nrm{i} AS MATERIALIZED (SELECT id FROM {p} WHERE core IS NULL AND deg < {k}),\n"
            f"nd{i} AS MATERIALIZED (SELECT DISTINCT inc.h FROM inc JOIN rm{i} ON rm{i}.id = inc.v\n"
            f"  WHERE inc.h NOT IN (SELECT h FROM {dp})),\n"
            f"dead{i} AS MATERIALIZED (SELECT h FROM {dp} UNION ALL SELECT h FROM nd{i}),\n"
            f"cnt{i} AS MATERIALIZED (SELECT inc.v AS id, count(*) AS c FROM inc\n"
            f"  JOIN nd{i} ON nd{i}.h = inc.h GROUP BY inc.v),\n"
            f"s{i} AS MATERIALIZED (SELECT s.id,\n"
            f"  CASE WHEN s.core IS NULL AND s.deg < {k} THEN {k} - 1\n"
            f"       WHEN s.core IS NULL THEN greatest(s.deg - coalesce(c.c, 0), {k} - 1)\n"
            f"       ELSE s.deg END AS deg,\n"
            f"  CASE WHEN s.core IS NULL AND s.deg < {k} THEN {k} - 1 ELSE s.core END AS core\n"
            f"  FROM {p} s LEFT JOIN cnt{i} c ON c.id = s.id),\n"
            f"k{i} AS MATERIALIZED (SELECT CASE WHEN (SELECT count(*) FROM rm{i}) = 0\n"
            f"  THEN k + 1 ELSE k END AS k FROM {kp})"
        )
    return sql + f"\nSELECT id, core FROM s{rounds}"


def _hyper_sssp_sql(k: int) -> str:
    """HyperSSSP (``apps/hyper/HyperSSSP.C:60-100``): synchronous
    Bellman-Ford relaxation over the weighted bipartite expansion
    (per-pin weight ``HINC_W`` in both directions) to fixpoint —
    converged writeMin distances ARE bipartite shortest paths.
    Depth = measured fixpoint + margin; extra steps are idempotent.
    Unreached nodes never enter the distance table (absent rows)."""
    sql = (
        f"WITH inc AS MATERIALIZED ({INC_SQL}),\n"
        f"bipw AS MATERIALIZED (SELECT v AS src, {V} + h AS dst, CAST({HINC_W} AS BIGINT) AS w FROM inc\n"
        f"  UNION ALL SELECT {V} + h AS src, v AS dst, CAST({HINC_W} AS BIGINT) AS w FROM inc),\n"
        "d0 AS (SELECT CAST(0 AS BIGINT) AS id, CAST(0 AS BIGINT) AS dist)"
    )
    prev = "d0"
    for i in range(1, k + 1):
        sql += (
            f",\nr{i} AS MATERIALIZED (SELECT b.dst AS id, min(p.dist + b.w) AS nd\n"
            f"  FROM bipw b JOIN {prev} p ON p.id = b.src GROUP BY b.dst),\n"
            f"d{i} AS MATERIALIZED (SELECT coalesce(p.id, r.id) AS id,\n"
            "  CASE WHEN p.dist IS NULL THEN r.nd WHEN r.nd IS NULL THEN p.dist\n"
            "       ELSE least(p.dist, r.nd) END AS dist\n"
            f"  FROM {prev} p FULL OUTER JOIN r{i} r ON r.id = p.id)"
        )
        prev = f"d{i}"
    return sql + (
        f"\nSELECT CASE WHEN id < {V} THEN 'v' ELSE 'h' END AS kind,\n"
        f"  CASE WHEN id < {V} THEN id ELSE id - {V} END AS id, dist FROM {prev}"
    )


_H64_T = 1 << 64
_H64_C = [
    0x7ED55D166BEF7A1D,
    0xC761C23C510FA2DD,
    0x165667B183A9C0E1,
    0xD3A2646CAB3487E3,
    0xFD7046C5EF9AB54C,
    0xB55A4F090DD4A67B,
]


def _h64_sql(inner: str) -> str:
    """``hashInt(ulong)`` (``utils.h:376-384``) in DuckDB: HUGEINT
    modular arithmetic over ``inner`` (must yield columns (id, a) with
    a = the HUGEINT hash input).  Yields (id, g).  Verified bit-exact
    vs ``ligra_spark.hashing.hash_int64`` over [0, 100000)."""
    T, C = _H64_T, _H64_C
    return (
        f"SELECT id, xor(xor(f, CAST({C[5]} AS HUGEINT)), f // {1 << 32}) AS g FROM (\n"
        f" SELECT id, (e + {C[4]} + (e * {1 << 3}) % {T}) % {T} AS f FROM (\n"
        f"  SELECT id, xor((d + {C[3]}) % {T}, (d * {1 << 49}) % {T}) AS e FROM (\n"
        f"   SELECT id, (c + {C[2]} + (c * {1 << 59}) % {T}) % {T} AS d FROM (\n"
        f"    SELECT id, xor(xor(b, CAST({C[1]} AS HUGEINT)), b // {1 << 9}) AS c FROM (\n"
        f"     SELECT id, (a + {C[0]} + (a * {1 << 12}) % {T}) % {T} AS b FROM (\n"
        f"      {inner}))))))"
    )


def _hyper_mis_sql(rounds: int, inverse_prob: int = 3) -> str:
    """HyperMIS (``apps/hyper/HyperMIS.C:119-160``) unrolled: per
    round, undecided vertices sample via hashInt(id + off) % p == 0
    (off = cumulative processed frontier, carried as a one-row CTE);
    fully-tentative live hyperedges veto their members; survivors
    join (flag = round); pins to new members are packed away;
    singleton hyperedges force their member out and leave.  Rounds
    past the measured schedule are no-ops (no undecided -> no tent,
    no full, no change)."""
    sql = (
        f"WITH inc0 AS MATERIALIZED ({INC_SQL}),\n"
        f"vv AS (SELECT CAST(range AS BIGINT) AS id FROM range({V})),\n"
        "s0 AS (SELECT id, CAST(0 AS BIGINT) AS flag FROM vv),\n"
        "off0 AS (SELECT CAST(0 AS BIGINT) AS o)"
    )
    for i in range(1, rounds + 1):
        p, pinc, poff, r = f"s{i - 1}", f"inc{i - 1}", f"off{i - 1}", i + 1
        hash_inner = (
            f"SELECT id, CAST(id + (SELECT o FROM {poff}) AS HUGEINT) AS a\n"
            f"      FROM {p} WHERE flag = 0"
        )
        sql += (
            f",\ntn{i} AS MATERIALIZED (SELECT id FROM ({_h64_sql(hash_inner)})\n"
            f"  WHERE g % {inverse_prob} = 0),\n"
            f"hs{i} AS MATERIALIZED (SELECT i.h, count(*) AS deg, count(t.id) AS tcnt\n"
            f"  FROM {pinc} i LEFT JOIN tn{i} t ON t.id = i.v GROUP BY i.h),\n"
            f"vt{i} AS MATERIALIZED (SELECT DISTINCT i.v AS id FROM {pinc} i\n"
            f"  JOIN hs{i} f ON f.h = i.h AND f.tcnt = f.deg),\n"
            f"ni{i} AS MATERIALIZED (SELECT id FROM tn{i}\n"
            f"  WHERE id NOT IN (SELECT id FROM vt{i})),\n"
            f"pk{i} AS MATERIALIZED (SELECT v, h FROM {pinc}\n"
            f"  WHERE v NOT IN (SELECT id FROM ni{i})),\n"
            f"pd{i} AS MATERIALIZED (SELECT h, count(*) AS deg FROM pk{i} GROUP BY h),\n"
            f"fo{i} AS MATERIALIZED (SELECT DISTINCT p.v AS id FROM pk{i} p\n"
            f"  JOIN pd{i} d ON d.h = p.h AND d.deg = 1),\n"
            f"inc{i} AS MATERIALIZED (SELECT p.v, p.h FROM pk{i} p\n"
            f"  JOIN pd{i} d ON d.h = p.h AND d.deg >= 2),\n"
            f"s{i} AS MATERIALIZED (SELECT s.id,\n"
            f"  CAST(CASE WHEN s.flag != 0 THEN s.flag\n"
            f"       WHEN n.id IS NOT NULL THEN {r}\n"
            f"       WHEN f.id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS flag\n"
            f"  FROM {p} s LEFT JOIN ni{i} n ON n.id = s.id\n"
            f"  LEFT JOIN fo{i} f ON f.id = s.id),\n"
            f"off{i} AS (SELECT o + (SELECT count(*) FROM {p} WHERE flag = 0) AS o\n"
            f"  FROM {poff})"
        )
    return sql + f"\nSELECT id, flag FROM s{rounds}"


def _cf_sql(iters: int = 5, K: int = 20) -> str:
    """CF-SGD (``apps/CF.C:83-137``): K latent dims in LONG FORM
    (id, k, val) so the per-edge dot product and the per-(dst, dim)
    gradient are plain joins + group-bys — no list ops.  Weight =
    1 + (31*min + max) % 5 over the undirected pair (same expression
    as the Spark query).  step/lambda/init are the reference defaults
    (0.00000035 / 0.001 / 0.5)."""
    sql = (
        f"WITH e0 AS MATERIALIZED ({EDGES_SQL}),\n"
        f"es AS MATERIALIZED ({SYM_SQL}),\n"
        "ew AS MATERIALIZED (SELECT src, dst,\n"
        "  CAST(1 + (least(src, dst) * 31 + greatest(src, dst)) % 5 AS BIGINT) AS weight\n"
        "  FROM es),\n"
        f"v AS (SELECT CAST(range AS BIGINT) AS id FROM range({V})),\n"
        f"dims AS (SELECT CAST(range AS INT) AS k FROM range({K})),\n"
        "l0 AS MATERIALIZED (SELECT id, k, 0.5 AS val FROM v CROSS JOIN dims)"
    )
    for i in range(1, iters + 1):
        p = f"l{i - 1}"
        sql += (
            f",\nerr{i} AS MATERIALIZED (SELECT e.src, e.dst,\n"
            "  e.weight - sum(s.val * d.val) AS err\n"
            f"  FROM ew e JOIN {p} s ON s.id = e.src JOIN {p} d ON d.id = e.dst AND d.k = s.k\n"
            "  GROUP BY e.src, e.dst, e.weight),\n"
            f"g{i} AS MATERIALIZED (SELECT r.dst AS id, s.k, sum(s.val * r.err) AS g\n"
            f"  FROM err{i} r JOIN {p} s ON s.id = r.src GROUP BY r.dst, s.k),\n"
            f"l{i} AS MATERIALIZED (SELECT l.id, l.k,\n"
            "  l.val + 3.5e-7 * (-1e-3 * l.val + coalesce(g.g, 0)) AS val\n"
            f"  FROM {p} l LEFT JOIN g{i} g ON g.id = l.id AND g.k = l.k)"
        )
    return sql + f"\nSELECT id, k, round(val, 8) AS latent_k FROM l{iters}"


def _quality_sql() -> str:
    stop = _list_lit(STOPWORDS)
    return (
        f"WITH t AS ({_TOKS}),\n"
        "q AS (SELECT doc_id,\n"
        "  CAST(len(toks) AS INT) AS n_tokens,\n"
        "  CASE WHEN length(text) = 0 THEN 0.0 "
        "ELSE length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) * 1.0 / length(text) END AS ar,\n"
        f"  CAST(len(list_distinct(list_intersect(toks, {stop}))) AS INT) AS stop_hits\n"
        "FROM t)\n"
        "SELECT doc_id, n_tokens, round(ar, 8) AS alpha_ratio, stop_hits,\n"
        f"  round(0.5 * ar + 0.3 * least(1.0, n_tokens / 64.0) + 0.2 * (stop_hits / {float(len(STOPWORDS))}), 8) AS quality\n"
        "FROM q"
    )


def _gopher_sql() -> str:
    """DuckDB twin of functions.quality_filters.gopher_filter: same
    token convention as _TOKS, same n-gram separator (chr(31)), same
    thresholds and rule order.  The oracle finds the top n-gram count
    with unnest + GROUP BY (relational restatement of the engine's
    sorted-array longest-equal-run)."""
    from ligra_spark.functions.quality_filters import GOPHER_DEFAULTS as T

    return (
        f"WITH t AS ({_TOKS}),\n"
        "s AS (SELECT doc_id, text, toks, len(toks) AS n FROM t),\n"
        "g2 AS (SELECT doc_id, unnest(list_transform(range(1, n), "
        "i -> toks[i] || chr(31) || toks[i+1])) AS g FROM s WHERE n >= 2),\n"
        "g3 AS (SELECT doc_id, unnest(list_transform(range(1, n - 1), "
        "i -> toks[i] || chr(31) || toks[i+1] || chr(31) || toks[i+2])) AS g "
        "FROM s WHERE n >= 3),\n"
        "t2 AS (SELECT doc_id, max(c) AS c2 FROM "
        "(SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1, 2) GROUP BY 1),\n"
        "t3 AS (SELECT doc_id, max(c) AS c3 FROM "
        "(SELECT doc_id, g, count(*) AS c FROM g3 GROUP BY 1, 2) GROUP BY 1),\n"
        "m AS (SELECT s.doc_id,\n"
        "  CAST(n AS INT) AS n_tokens,\n"
        "  CASE WHEN n = 0 THEN 1.0 "
        "ELSE len(list_distinct(toks)) / CAST(n AS DOUBLE) END AS distinct_frac,\n"
        "  CASE WHEN n < 2 THEN 0.0 "
        "ELSE coalesce(c2, 0) * 2 / CAST(n AS DOUBLE) END AS top2gram_frac,\n"
        "  CASE WHEN n < 3 THEN 0.0 "
        "ELSE coalesce(c3, 0) * 3 / CAST(n AS DOUBLE) END AS top3gram_frac,\n"
        "  CASE WHEN n = 0 THEN 0.0 ELSE "
        "coalesce(list_sum(list_transform(toks, x -> length(x))), 0) "
        "/ CAST(n AS DOUBLE) END AS mean_word_len,\n"
        "  CASE WHEN length(text) = 0 THEN 0.0 ELSE "
        "length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) "
        "/ CAST(length(text) AS DOUBLE) END AS symbol_frac\n"
        "FROM s LEFT JOIN t2 ON t2.doc_id = s.doc_id "
        "LEFT JOIN t3 ON t3.doc_id = s.doc_id),\n"
        "r AS (SELECT *, CASE\n"
        f"  WHEN n_tokens < {T['min_tokens']} THEN 'too_short'\n"
        f"  WHEN n_tokens > {T['max_tokens']} THEN 'too_long'\n"
        f"  WHEN mean_word_len < {T['min_mean_word_len']} THEN 'word_len_low'\n"
        f"  WHEN mean_word_len > {T['max_mean_word_len']} THEN 'word_len_high'\n"
        f"  WHEN symbol_frac > {T['max_symbol_frac']} THEN 'symbol_heavy'\n"
        f"  WHEN distinct_frac < {T['min_distinct_frac']} THEN 'low_distinct'\n"
        f"  WHEN top2gram_frac > {T['max_top2gram_frac']} THEN 'rep_2gram'\n"
        f"  WHEN top3gram_frac > {T['max_top3gram_frac']} THEN 'rep_3gram'\n"
        "  ELSE '' END AS gopher_reason FROM m)\n"
        "SELECT doc_id, n_tokens, distinct_frac, top2gram_frac, top3gram_frac, "
        "mean_word_len, symbol_frac, gopher_reason = '' AS gopher_pass, "
        "gopher_reason FROM r"
    )


def _pii_sql() -> str:
    """DuckDB twin of functions.quality_filters.redact_pii over the
    same injected-PII text; patterns are shared verbatim (RE2/Java-
    portable: character classes only)."""
    from ligra_spark.functions.quality_filters import PII_PATTERNS

    em, ph, ip = (PII_PATTERNS[k] for k in ("email", "phone", "ipv4"))
    case = (
        "CASE "
        + " ".join(
            f"WHEN doc_id % 5 = {r} THEN '{s}'" for r, s in _PII_SUFFIXES
        )
        + " ELSE '' END"
    )
    return (
        f"WITH src AS (SELECT doc_id, text || {case} AS text FROM documents),\n"
        f"e AS (SELECT doc_id, text, "
        f"regexp_replace(text, '{em}', '<EMAIL>', 'g') AS t1 FROM src),\n"
        f"i AS (SELECT doc_id, text, t1, "
        f"regexp_replace(t1, '{ip}', '<IPV4>', 'g') AS t2 FROM e)\n"
        "SELECT doc_id,\n"
        f"  CAST(len(regexp_extract_all(text, '{em}')) AS INT) AS n_email,\n"
        f"  CAST(len(regexp_extract_all(t2, '{ph}')) AS INT) AS n_phone,\n"
        f"  CAST(len(regexp_extract_all(t1, '{ip}')) AS INT) AS n_ipv4,\n"
        f"  regexp_replace(t2, '{ph}', '<PHONE>', 'g') AS redacted\n"
        "FROM i"
    )


def _shared_spans_sql(k: int = 8, cap: int = 64) -> str:
    """DuckDB twin of the doc_shared_spans entry: same augmentation
    (toks[5:28] of every 10th doc), grams joined by STRING (the engine
    joins 64-bit gram hashes — identical pairing modulo 2^-64
    collisions), same diagonal/run windows."""
    gram = " || chr(31) || ".join(
        f"toks[i+{j}]" if j else "toks[i]" for j in range(k)
    )
    return (
        f"WITH t AS ({_TOKS}),\n"
        "aug AS (SELECT doc_id, toks FROM t UNION ALL "
        "SELECT doc_id + 100000 AS doc_id, toks[5:28] AS toks FROM t "
        "WHERE doc_id % 10 = 0),\n"
        "g AS (SELECT doc_id, "
        f"unnest(range(0, greatest(len(toks) - {k - 1}, 0))) AS pos, "
        f"unnest(list_transform(range(1, len(toks) - {k - 2}), i -> {gram})) AS gram "
        "FROM aug),\n"
        "ok AS (SELECT gram FROM (SELECT gram, count(DISTINCT doc_id) AS df "
        f"FROM g GROUP BY 1) WHERE df <= {cap}),\n"
        "gg AS (SELECT g.* FROM g JOIN ok USING (gram)),\n"
        "m AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, "
        "a.pos AS pos_a, a.pos - b.pos AS diag "
        "FROM gg a JOIN gg b USING (gram) WHERE a.doc_id < b.doc_id),\n"
        "r AS (SELECT doc_a, doc_b, diag, pos_a, pos_a - row_number() OVER "
        "(PARTITION BY doc_a, doc_b, diag ORDER BY pos_a) AS blk FROM m),\n"
        "pr AS (SELECT doc_a, doc_b, diag, blk, count(*) AS run "
        "FROM r GROUP BY 1, 2, 3, 4)\n"
        f"SELECT doc_a, doc_b, CAST(max(run) + {k - 1} AS INT) AS max_span_tokens, "
        "CAST(sum(run) AS BIGINT) AS n_matching_grams FROM pr GROUP BY 1, 2"
    )


def _bpe_sql() -> str:
    """DuckDB twin of text.with_bpe_token_count over the same injected
    suffixes; the shared pattern is RE2/Java-portable (no lookaheads)."""
    from ligra_spark.functions.text import BPE_SPLIT_RE

    re_sql = BPE_SPLIT_RE.replace("'", "''")
    case = (
        "CASE "
        + " ".join(
            f"WHEN doc_id % 4 = {r} THEN '{s.replace(chr(39), chr(39) * 2)}'"
            for r, s in _BPE_SUFFIXES
        )
        + " ELSE '' END"
    )
    return (
        f"WITH src AS (SELECT doc_id, text || {case} AS text FROM documents),\n"
        f"c AS (SELECT doc_id, text, "
        f"len(regexp_extract_all(text, '{re_sql}')) AS nb FROM src)\n"
        "SELECT doc_id, CAST(nb AS INT) AS n_bpe_tokens,\n"
        "  CASE WHEN length(trim(text)) = 0 THEN 0.0 ELSE "
        "nb / CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS DOUBLE) "
        "END AS bpe_per_word\n"
        "FROM c"
    )


def _decontaminate_sql(k: int = 8) -> str:
    """DuckDB twin of functions.quality_filters.decontaminate with the
    entry's benchmark slice (doc_id % 50 == 3)."""
    gram = " || chr(31) || ".join(f"toks[i+{j}]" if j else "toks[i]" for j in range(k))
    return (
        f"WITH t AS ({_TOKS}),\n"
        "s AS (SELECT doc_id, toks, len(toks) AS n FROM t),\n"
        f"sh AS (SELECT doc_id, unnest(list_distinct(list_transform("
        f"range(1, n - {k - 2}), i -> {gram}))) AS g FROM s WHERE n >= {k}),\n"
        "b AS (SELECT DISTINCT g FROM sh WHERE doc_id % 50 = 3),\n"
        "h AS (SELECT sh.doc_id, count(*) AS overlap_ngrams "
        "FROM sh JOIN b USING (g) GROUP BY 1)\n"
        "SELECT d.doc_id, coalesce(h.overlap_ngrams, 0) AS overlap_ngrams, "
        "coalesce(h.overlap_ngrams, 0) > 0 AS contaminated "
        "FROM documents d LEFT JOIN h ON h.doc_id = d.doc_id"
    )


def _lang_sql() -> str:
    scores = ",\n".join(
        f"  CAST(len(list_distinct(list_intersect(toks, {_list_lit(w)}))) AS INT) AS s_{l}"
        for l, w in LANGS.items()
    )
    order = list(LANGS)
    best = "greatest(" + ", ".join(f"s_{l}" for l in order) + ")"
    case = "CASE " + " ".join(
        f"WHEN s_{l} > 0 AND s_{l} = {best} THEN '{l}'" for l in order
    ) + " ELSE 'und' END"
    return (
        f"WITH t AS ({_TOKS}),\n"
        f"s AS (SELECT doc_id,\n{scores}\nFROM t)\n"
        f"SELECT doc_id, {case} AS lang_guess FROM s"
    )


_DT_SQL = (
    "SELECT DISTINCT doc_id, tok FROM ("
    "SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok "
    "FROM documents WHERE length(trim(text)) > 0) u"
)


def _jaccard_sql(threshold: float = 0.9, df_fraction: float = 0.1) -> str:
    """Applies the same auto hot-token cap as ``token_jaccard_pairs``:
    tokens with document frequency > max(16, df_fraction*n_docs) are
    dropped from the inverted index before the self-join."""
    return (
        f"WITH dt0 AS ({_DT_SQL}),\n"
        "nd AS (SELECT count(DISTINCT doc_id) AS ndocs FROM dt0),\n"
        "dt AS (SELECT dt0.* FROM dt0 WHERE dt0.tok NOT IN (\n"
        "  SELECT tok FROM dt0 GROUP BY tok\n"
        f"  HAVING count(*) > greatest(16.0, (SELECT ndocs FROM nd) * {df_fraction}))),\n"
        "sz AS (SELECT doc_id, count(*) AS sz FROM dt GROUP BY doc_id),\n"
        "inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter\n"
        "  FROM dt a JOIN dt b ON a.tok = b.tok AND a.doc_id < b.doc_id\n"
        "  GROUP BY a.doc_id, b.doc_id),\n"
        "j AS (SELECT doc_a, doc_b,\n"
        "  round(inter * 1.0 / (sa.sz + sb.sz - inter), 8) AS jaccard\n"
        "  FROM inter JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b)\n"
        f"SELECT doc_a, doc_b, jaccard FROM j WHERE jaccard >= {threshold}"
    )


def _hash_sql(expr: str, seed: int) -> str:
    return f"CAST(('0x' || substring(md5('s{seed}:' || {expr}), 1, 8)) AS BIGINT)"


_SHINGLES_SQL = (
    "SELECT DISTINCT doc_id, shingle FROM (\n"
    "  SELECT doc_id, tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w AS shingle,\n"
    "         lead(tok, 2) OVER w AS last2\n"
    "  FROM (SELECT doc_id, unnest(toks) AS tok, generate_subscripts(toks, 1) AS i\n"
    "        FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks\n"
    "              FROM documents WHERE length(trim(text)) > 0) x) y\n"
    "  WINDOW w AS (PARTITION BY doc_id ORDER BY i)\n"
    ") z WHERE last2 IS NOT NULL"
)


def _corpus_prep_sql(quality_min: float = 0.65, lang: str = "en") -> str:
    """Composed corpus-prep oracle: the quality/lang/LSH builders'
    stages as CTEs over the same thresholds as
    ``functions.pipeline.corpus_prep`` defaults.  The LSH stage must
    run over the exact-dedup survivors, so its source-table reference
    is retargeted from the ``documents`` view to the ``ex`` CTE."""
    lsh = _lsh_sql(8, 4).replace("FROM documents", "FROM ex")
    return (
        f"WITH q AS ({_quality_sql()}),\n"
        f"lg AS ({_lang_sql()}),\n"
        "kept AS (SELECT d.doc_id, d.text, q.quality, q.n_tokens, lg.lang_guess\n"
        "         FROM documents d JOIN q USING (doc_id) JOIN lg ON lg.doc_id = d.doc_id\n"
        f"         WHERE q.quality >= {quality_min} AND lg.lang_guess = '{lang}'),\n"
        "ex AS (SELECT k.* FROM kept k JOIN (SELECT min(doc_id) AS keep_id\n"
        "       FROM kept GROUP BY md5(text)) m ON k.doc_id = m.keep_id),\n"
        f"pairs AS ({lsh})\n"
        "SELECT e.doc_id, e.lang_guess, e.n_tokens, e.quality,\n"
        "  md5(lower(regexp_replace(trim(e.text), '\\s+', ' ', 'g'))) AS fingerprint\n"
        "FROM ex e WHERE e.doc_id NOT IN (SELECT doc_b FROM pairs)"
    )


def _mix_sql(s: int, h: str = "h1") -> str:
    """SQL twin of dedup._mix_consts universal-hash mix for seed s."""
    from ligra_spark.functions.dedup import _mix_consts

    a, b = _mix_consts(s)
    return f"({a} * {h} + {b}) % 4294967296"


def _minhash_sql(num_hashes: int = 8) -> str:
    mins = ",\n".join(f"  min({_mix_sql(s)}) AS h{s}" for s in range(num_hashes))
    return (
        f"WITH sh AS ({_SHINGLES_SQL}),\n"
        f"base AS (SELECT doc_id, {_hash_sql('shingle', 0)} AS h1 FROM sh)\n"
        f"SELECT doc_id,\n{mins}\nFROM base GROUP BY doc_id"
    )


def _lsh_sql(num_hashes: int = 8, bands: int = 4) -> str:
    rpb = num_hashes // bands
    parts = []
    for b in range(bands):
        cols = " || '|' || ".join(
            f"CAST(h{b * rpb + j} AS VARCHAR)" for j in range(rpb)
        )
        parts.append(
            f"SELECT doc_id, md5('{b}' || '|' || {cols}) AS bkey FROM sig"
        )
    bands_sql = "\nUNION ALL\n".join(parts)
    mins = ", ".join(f"min({_mix_sql(s)}) AS h{s}" for s in range(num_hashes))
    return (
        f"WITH sh AS ({_SHINGLES_SQL}),\n"
        f"base AS (SELECT doc_id, {_hash_sql('shingle', 0)} AS h1 FROM sh),\n"
        f"sig AS (SELECT doc_id, {mins} FROM base GROUP BY doc_id),\n"
        f"bands AS ({bands_sql})\n"
        "SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared_bands\n"
        "FROM bands a JOIN bands b ON a.bkey = b.bkey AND a.doc_id < b.doc_id\n"
        "GROUP BY a.doc_id, b.doc_id"
    )


def _neardup_clusters_sql(k: int = 12) -> str:
    """Oracle for the composed near-dup dedup flow: the LSH-pairs
    builder verbatim, then k chained min-label rounds over the
    symmetric pair graph (k=12 ≫ any duplicate family's diameter at
    sf0.01 — the Spark side runs the two-phase contraction to ITS
    fixpoint, and both land on cluster = min doc id of the family)."""
    sql = (
        f"WITH p0 AS MATERIALIZED ({_lsh_sql(8, 4)}),\n"
        "es AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM p0\n"
        "  UNION SELECT doc_b, doc_a FROM p0),\n"
        "v AS (SELECT DISTINCT doc_id AS id FROM documents),\n"
        "l0 AS (SELECT id, id AS label FROM v)"
    )
    prev = "l0"
    for i in range(1, k + 1):
        sql += (
            f",\nm{i} AS MATERIALIZED (SELECT es.dst AS id, min({prev}.label) AS minl\n"
            f"  FROM es JOIN {prev} ON {prev}.id = es.src GROUP BY es.dst),\n"
            f"l{i} AS MATERIALIZED (SELECT {prev}.id, least({prev}.label, coalesce(m{i}.minl, {prev}.label)) AS label\n"
            f"  FROM {prev} LEFT JOIN m{i} ON m{i}.id = {prev}.id)"
        )
        prev = f"l{i}"
    return sql + (
        f"\nSELECT id AS doc_id, label AS cluster,"
        f" CAST(label = id AS INT) AS keep FROM {prev}"
    )


def _neardup_incr_sql(k: int = 12) -> str:
    """Oracle for the incremental dedup maintainer: the batch closure
    it must equal — LSH pairs UNION exact-content pairs (the x-bucket),
    then the same chained min-label rounds as _neardup_clusters_sql."""
    sql = (
        f"WITH lp AS MATERIALIZED ({_lsh_sql(8, 4)}),\n"
        "p0 AS MATERIALIZED (SELECT doc_a, doc_b FROM lp\n"
        "  UNION SELECT a.doc_id AS doc_a, b.doc_id AS doc_b FROM documents a\n"
        "  JOIN documents b ON md5(a.text) = md5(b.text) AND a.doc_id < b.doc_id),\n"
        "es AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM p0\n"
        "  UNION SELECT doc_b, doc_a FROM p0),\n"
        "v AS (SELECT DISTINCT doc_id AS id FROM documents),\n"
        "l0 AS (SELECT id, id AS label FROM v)"
    )
    prev = "l0"
    for i in range(1, k + 1):
        sql += (
            f",\nm{i} AS MATERIALIZED (SELECT es.dst AS id, min({prev}.label) AS minl\n"
            f"  FROM es JOIN {prev} ON {prev}.id = es.src GROUP BY es.dst),\n"
            f"l{i} AS MATERIALIZED (SELECT {prev}.id, least({prev}.label, coalesce(m{i}.minl, {prev}.label)) AS label\n"
            f"  FROM {prev} LEFT JOIN m{i} ON m{i}.id = {prev}.id)"
        )
        prev = f"l{i}"
    return sql + (
        f"\nSELECT id AS doc_id, label AS cluster,"
        f" CAST(label = id AS INT) AS keep FROM {prev}"
    )


def _simhash_sql() -> str:
    h = _hash_sql("tok", 99)
    sums = ",\n".join(f"  sum(({h} >> {b}) & 1) AS b{b}" for b in range(16))
    bits = " + ".join(
        f"CASE WHEN b{b} * 2 > ntok THEN {1 << b} ELSE 0 END" for b in range(16)
    )
    return (
        f"WITH dt AS ({_DT_SQL}),\n"
        f"s AS (SELECT doc_id, count(*) AS ntok,\n{sums}\nFROM dt GROUP BY doc_id)\n"
        f"SELECT doc_id, CAST({bits} AS BIGINT) AS simhash FROM s"
    )


_COSINE_SQL = (
    "WITH flat AS (SELECT vec_id AS vid, generate_subscripts(embedding, 1) AS i,\n"
    "  CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),\n"
    "norms AS (SELECT vid, sqrt(sum(x * x)) AS nrm FROM flat GROUP BY vid),\n"
    "probes AS (SELECT vid AS probe_id, i, x AS px FROM flat WHERE vid IN (0, 1, 2)),\n"
    "dots AS (SELECT probe_id, vid, sum(px * x) AS dot FROM probes JOIN flat USING (i)\n"
    "  GROUP BY probe_id, vid)\n"
    "SELECT dots.probe_id, dots.vid AS vec_id, round(dot / (n1.nrm * n2.nrm), 6) AS cos_sim\n"
    "FROM dots JOIN norms n1 ON n1.vid = dots.vid\n"
    "JOIN norms n2 ON n2.vid = dots.probe_id"
)


def _ann_lsh_sql(bits: int = 8, dim: int = 64, tables: int = 2, k: int = 5) -> str:
    """Recomputes the SAME md5-seeded hyperplanes as
    ``ligra_spark.functions.similarity.hyperplanes`` (component =
    first-8-hex(md5('seed:bit:i')) / 0xFFFFFFFF * 2 - 1), buckets by
    packed sign bits per table, unions same-bucket candidates across
    tables, exact-cosine re-ranks.  Ranking runs on the UNROUNDED
    cosine (as the Spark window does); rounding is final-select only."""
    probes = ", ".join(str(p) for p in PROBES)
    return (
        "WITH flat AS MATERIALIZED (SELECT vec_id AS vid,\n"
        "  generate_subscripts(embedding, 1) - 1 AS i,\n"
        "  CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),\n"
        "planes AS MATERIALIZED (SELECT tt.t, bb.b, ii.i,\n"
        "  (CAST(('0x' || substring(md5(CAST(tt.t AS VARCHAR) || ':' || CAST(bb.b AS VARCHAR)\n"
        "     || ':' || CAST(ii.i AS VARCHAR)), 1, 8)) AS BIGINT) / 4294967295.0) * 2.0 - 1.0 AS c\n"
        f"  FROM (SELECT CAST(range AS INT) AS t FROM range({tables})) tt,\n"
        f"       (SELECT CAST(range AS INT) AS b FROM range({bits})) bb,\n"
        f"       (SELECT CAST(range AS INT) AS i FROM range({dim})) ii),\n"
        "dots AS MATERIALIZED (SELECT f.vid, p.t, p.b, sum(f.x * p.c) AS dot\n"
        "  FROM flat f JOIN planes p ON p.i = f.i GROUP BY f.vid, p.t, p.b),\n"
        "sig AS MATERIALIZED (SELECT vid, t,\n"
        "  sum(CASE WHEN dot >= 0 THEN CAST(1 AS BIGINT) << b ELSE CAST(0 AS BIGINT) END) AS bucket\n"
        "  FROM dots GROUP BY vid, t),\n"
        "cand AS MATERIALIZED (SELECT DISTINCT p.vid AS probe_id, s.vid AS vec_id\n"
        "  FROM sig p JOIN sig s ON s.t = p.t AND s.bucket = p.bucket\n"
        f"  WHERE p.vid IN ({probes}) AND s.vid <> p.vid),\n"
        "norms AS MATERIALIZED (SELECT vid, sqrt(sum(x * x)) AS nrm FROM flat GROUP BY vid),\n"
        "ds AS MATERIALIZED (SELECT c.probe_id, c.vec_id, sum(a.x * b.x) AS dot\n"
        "  FROM cand c JOIN flat a ON a.vid = c.probe_id\n"
        "  JOIN flat b ON b.vid = c.vec_id AND b.i = a.i\n"
        "  GROUP BY c.probe_id, c.vec_id),\n"
        "scored AS (SELECT ds.probe_id, ds.vec_id,\n"
        "  ds.dot / (n1.nrm * n2.nrm) AS cs\n"
        "  FROM ds JOIN norms n1 ON n1.vid = ds.vec_id\n"
        "  JOIN norms n2 ON n2.vid = ds.probe_id)\n"
        "SELECT probe_id, vec_id, round(cs, 6) AS cos_sim, CAST(rank AS INT) AS rank FROM (\n"
        "  SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY cs DESC, vec_id) AS rank\n"
        f"  FROM scored) r WHERE rank <= {k}"
    )


def _neardup_sql(bits: int = 4, dim: int = 64, tables: int = 2, thr: float = 0.35) -> str:
    """DuckDB twin of ``lsh_neardup_pairs``: same md5-seeded
    hyperplanes as ``_ann_lsh_sql``, per-table bucket SELF-join
    (a_id < b_id), distinct union across tables, exact cosine
    confirmed on the ROUNDED value (both engines round to 6dp before
    the threshold compare, so the boundary is engine-independent)."""
    return (
        "WITH flat AS MATERIALIZED (SELECT vec_id AS vid,\n"
        "  generate_subscripts(embedding, 1) - 1 AS i,\n"
        "  CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),\n"
        "planes AS MATERIALIZED (SELECT tt.t, bb.b, ii.i,\n"
        "  (CAST(('0x' || substring(md5(CAST(tt.t AS VARCHAR) || ':' || CAST(bb.b AS VARCHAR)\n"
        "     || ':' || CAST(ii.i AS VARCHAR)), 1, 8)) AS BIGINT) / 4294967295.0) * 2.0 - 1.0 AS c\n"
        f"  FROM (SELECT CAST(range AS INT) AS t FROM range({tables})) tt,\n"
        f"       (SELECT CAST(range AS INT) AS b FROM range({bits})) bb,\n"
        f"       (SELECT CAST(range AS INT) AS i FROM range({dim})) ii),\n"
        "dots AS MATERIALIZED (SELECT f.vid, p.t, p.b, sum(f.x * p.c) AS dot\n"
        "  FROM flat f JOIN planes p ON p.i = f.i GROUP BY f.vid, p.t, p.b),\n"
        "sig AS MATERIALIZED (SELECT vid, t,\n"
        "  sum(CASE WHEN dot >= 0 THEN CAST(1 AS BIGINT) << b ELSE CAST(0 AS BIGINT) END) AS bucket\n"
        "  FROM dots GROUP BY vid, t),\n"
        "cand AS MATERIALIZED (SELECT DISTINCT a.vid AS a_id, s.vid AS b_id\n"
        "  FROM sig a JOIN sig s ON s.t = a.t AND s.bucket = a.bucket\n"
        "  WHERE a.vid < s.vid),\n"
        "norms AS MATERIALIZED (SELECT vid, sqrt(sum(x * x)) AS nrm FROM flat GROUP BY vid),\n"
        "ds AS (SELECT c.a_id, c.b_id, sum(a.x * b.x) AS dot\n"
        "  FROM cand c JOIN flat a ON a.vid = c.a_id\n"
        "  JOIN flat b ON b.vid = c.b_id AND b.i = a.i\n"
        "  GROUP BY c.a_id, c.b_id)\n"
        "SELECT a_id, b_id, cos_sim FROM (\n"
        "  SELECT ds.a_id, ds.b_id, round(ds.dot / (n1.nrm * n2.nrm), 6) AS cos_sim\n"
        "  FROM ds JOIN norms n1 ON n1.vid = ds.a_id\n"
        "  JOIN norms n2 ON n2.vid = ds.b_id) r\n"
        f"WHERE cos_sim >= {thr}"
    )


def _ivf_sql(
    nlist: int = 16, nprobe: int = 4, dim: int = 64, k: int = 5, seed: int = 100
) -> str:
    """DuckDB twin of ``ivf_topk``: centroid j component i =
    md5-uniform('{seed}:{j}:{i}') (the ``hyperplanes`` codebook),
    assignment = argmin of (||c||^2 - 2 v·c) with ties by centroid id
    (matching the numpy stable argsort), probes take nprobe nearest
    clusters, exact cosine re-rank on the UNROUNDED value."""
    probes = ", ".join(str(p) for p in PROBES)
    return (
        "WITH flat AS MATERIALIZED (SELECT vec_id AS vid,\n"
        "  generate_subscripts(embedding, 1) - 1 AS i,\n"
        "  CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),\n"
        "cents AS MATERIALIZED (SELECT jj.j, ii.i,\n"
        f"  (CAST(('0x' || substring(md5('{seed}' || ':' || CAST(jj.j AS VARCHAR)\n"
        "     || ':' || CAST(ii.i AS VARCHAR)), 1, 8)) AS BIGINT) / 4294967295.0) * 2.0 - 1.0 AS c\n"
        f"  FROM (SELECT CAST(range AS INT) AS j FROM range({nlist})) jj,\n"
        f"       (SELECT CAST(range AS INT) AS i FROM range({dim})) ii),\n"
        "c2 AS MATERIALIZED (SELECT j, sum(c * c) AS cc FROM cents GROUP BY j),\n"
        "dist AS MATERIALIZED (SELECT f.vid, c.j,\n"
        "  any_value(c2.cc) - 2.0 * sum(f.x * c.c) AS d\n"
        "  FROM flat f JOIN cents c ON c.i = f.i JOIN c2 ON c2.j = c.j\n"
        "  GROUP BY f.vid, c.j),\n"
        "assign AS MATERIALIZED (SELECT vid, j AS cluster FROM (\n"
        "  SELECT vid, j, row_number() OVER (PARTITION BY vid ORDER BY d, j) AS rn\n"
        "  FROM dist) r WHERE rn = 1),\n"
        "pclust AS MATERIALIZED (SELECT vid AS probe_id, j AS cluster FROM (\n"
        "  SELECT vid, j, row_number() OVER (PARTITION BY vid ORDER BY d, j) AS rn\n"
        f"  FROM dist WHERE vid IN ({probes})) r WHERE rn <= {nprobe}),\n"
        "cand AS MATERIALIZED (SELECT p.probe_id, a.vid AS vec_id\n"
        "  FROM pclust p JOIN assign a ON a.cluster = p.cluster\n"
        "  WHERE a.vid <> p.probe_id),\n"
        "norms AS MATERIALIZED (SELECT vid, sqrt(sum(x * x)) AS nrm FROM flat GROUP BY vid),\n"
        "ds AS (SELECT c.probe_id, c.vec_id, sum(a.x * b.x) AS dot\n"
        "  FROM cand c JOIN flat a ON a.vid = c.probe_id\n"
        "  JOIN flat b ON b.vid = c.vec_id AND b.i = a.i\n"
        "  GROUP BY c.probe_id, c.vec_id),\n"
        "scored AS (SELECT ds.probe_id, ds.vec_id,\n"
        "  ds.dot / (n1.nrm * n2.nrm) AS cs\n"
        "  FROM ds JOIN norms n1 ON n1.vid = ds.vec_id\n"
        "  JOIN norms n2 ON n2.vid = ds.probe_id)\n"
        "SELECT probe_id, vec_id, round(cs, 6) AS cos_sim, CAST(rank AS INT) AS rank FROM (\n"
        "  SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY cs DESC, vec_id) AS rank\n"
        f"  FROM scored) r WHERE rank <= {k}"
    )


_PAGE_EXTRACT_SQL = (
    f"WITH p AS ({_PAGE_HTML_SQL})\n"
    "SELECT url,\n"
    "  array_to_string(\n"
    "    regexp_extract_all(html, '<title>(.*?)</title>', 1)\n"
    "    || regexp_extract_all(html, '<p>(.*?)</p>', 1)\n"
    "    || regexp_extract_all(html, '<a href=\"[^\"]*\">(.*?)</a>', 1),\n"
    "    chr(10)) AS extracted_text,\n"
    "  array_to_string(regexp_extract_all(html, '<a href=\"([^\"]*)\">', 1), ',') AS links\n"
    "FROM p"
)

# dictionary = dense lexicographic url rank (binary collation in both
# engines); inner joins enforce graph closure; duplicate links kept
_PAGE_LINK_GRAPH_SQL = (
    f"WITH p AS ({_PAGE_HTML_SQL}),\n"
    "links AS (SELECT url,\n"
    "  unnest(regexp_extract_all(html, '<a href=\"([^\"]*)\">', 1)) AS href FROM p),\n"
    "dict AS (SELECT url, CAST(row_number() OVER (ORDER BY url) - 1 AS BIGINT) AS id\n"
    "  FROM p)\n"
    "SELECT ds.id AS src, dd.id AS dst\n"
    "FROM links JOIN dict ds ON ds.url = links.url\n"
    "JOIN dict dd ON dd.url = links.href"
)

# fake codec twin: pixels = (sha256(payload) * 6)[:192], so the hex of
# the pixel buffer is the digest hex repeated, truncated to 384 chars
_MEDIA_DECODE_SQL = (
    "SELECT doc_id AS media_id, 8 AS height, 8 AS width, 3 AS channels,\n"
    "  substr(repeat(sha256(text), 6), 1, 384) AS pixels_hex\n"
    "FROM documents"
)

# image_features twin over the fake pixels: pixel p channel c is digest
# byte (3p+c) mod 32; phash bit k set iff the pixel's channel sum x 64
# exceeds the image's total channel sum (the operator's integer-exact
# threshold — engine-order-independent), packed MSB-first as two
# 32-bit halves (1<<63 overflows BIGINT sums otherwise)
_IMAGE_FEATURES_SQL = (
    "WITH d AS (SELECT doc_id AS media_id, sha256(text) AS hx FROM documents),\n"
    "px AS (SELECT media_id, p,\n"
    "  ('0x' || substr(hx, 2 * ((3 * p) % 32) + 1, 2))::INT AS r,\n"
    "  ('0x' || substr(hx, 2 * ((3 * p + 1) % 32) + 1, 2))::INT AS g,\n"
    "  ('0x' || substr(hx, 2 * ((3 * p + 2) % 32) + 1, 2))::INT AS b\n"
    "  FROM d, generate_series(0, 63) AS t(p)),\n"
    "m AS (SELECT media_id, avg(CAST(r AS DOUBLE)) AS mean_r,\n"
    "  avg(CAST(g AS DOUBLE)) AS mean_g, avg(CAST(b AS DOUBLE)) AS mean_b,\n"
    "  sum(r + g + b) AS total FROM px GROUP BY media_id),\n"
    "bits AS (SELECT px.media_id, px.p,\n"
    "  CASE WHEN (px.r + px.g + px.b) * 64 > m.total THEN 1 ELSE 0 END AS bit\n"
    "  FROM px JOIN m USING (media_id)),\n"
    "ph AS (SELECT media_id,\n"
    "  CAST(sum(CASE WHEN p < 32 THEN CAST(bit AS BIGINT) << (31 - p) ELSE 0 END) AS BIGINT) AS hi,\n"
    "  CAST(sum(CASE WHEN p >= 32 THEN CAST(bit AS BIGINT) << (63 - p) ELSE 0 END) AS BIGINT) AS lo\n"
    "  FROM bits GROUP BY media_id)\n"
    "SELECT m.media_id, 8 AS height, 8 AS width, 3 AS channels,\n"
    "  round(m.mean_r, 6) AS mean_r, round(m.mean_g, 6) AS mean_g,\n"
    "  round(m.mean_b, 6) AS mean_b,\n"
    "  printf('%08x%08x', ph.hi, ph.lo) AS phash\n"
    "FROM m JOIN ph USING (media_id)"
)

# doc_image_jpeg: the decoded 16x16 grayscale plane is four uniform
# 8x8 blocks at the first four sha256 bytes (bit-exact DC round-trip,
# see _jpeg_media_df), so: gray(r,c) = d[2*(r div 8) + (c div 8)],
# every channel mean = (d0+d1+d2+d3)/4 (exact: /4 and numpy's /256 of
# an exact integer sum are both power-of-two divisions), and
# average-hash bit p (first 64 row-major pixels = rows 0..3) compares
# 3*g*256 > 3*64*(d0+d1+d2+d3)  <=>  4*g > d0+d1+d2+d3 in exact ints.
_JPEG_FEATURES_SQL = (
    "WITH d AS (SELECT doc_id AS media_id, sha256(text) AS hx FROM documents),\n"
    "b AS (SELECT media_id,\n"
    "  ('0x' || substr(hx, 1, 2))::INT AS d0, ('0x' || substr(hx, 3, 2))::INT AS d1,\n"
    "  ('0x' || substr(hx, 5, 2))::INT AS d2, ('0x' || substr(hx, 7, 2))::INT AS d3\n"
    "  FROM d),\n"
    "px AS (SELECT media_id, p,\n"
    "  CASE WHEN (p % 16) < 8 THEN d0 ELSE d1 END AS g,\n"
    "  d0 + d1 + d2 + d3 AS s\n"
    "  FROM b, generate_series(0, 63) AS t(p)),\n"
    "ph AS (SELECT media_id,\n"
    "  CAST(sum(CASE WHEN p < 32 THEN CAST(CASE WHEN 4 * g > s THEN 1 ELSE 0 END AS BIGINT) << (31 - p) ELSE 0 END) AS BIGINT) AS hi,\n"
    "  CAST(sum(CASE WHEN p >= 32 THEN CAST(CASE WHEN 4 * g > s THEN 1 ELSE 0 END AS BIGINT) << (63 - p) ELSE 0 END) AS BIGINT) AS lo\n"
    "  FROM px GROUP BY media_id)\n"
    "SELECT b.media_id, 16 AS height, 16 AS width, 3 AS channels,\n"
    "  round((d0 + d1 + d2 + d3) / 4.0, 6) AS mean_r,\n"
    "  round((d0 + d1 + d2 + d3) / 4.0, 6) AS mean_g,\n"
    "  round((d0 + d1 + d2 + d3) / 4.0, 6) AS mean_b,\n"
    "  printf('%08x%08x', ph.hi, ph.lo) AS phash\n"
    "FROM b JOIN ph USING (media_id)"
)

_HUB_ONSET_SQL = (
    "SELECT user_id, onset_ts, onset_event_id, in_links FROM (\n"
    "  SELECT user_id, ts AS onset_ts, event_id AS onset_event_id,\n"
    "    CAST(10 AS BIGINT) AS in_links,\n"
    "    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn\n"
    "  FROM events) r WHERE rn = 10"
)


def oracle_sql(sf: str | float | None = None) -> dict[str, str]:
    """DuckDB twins for every ``queries()`` entry.  The no-argument
    form is the driver's contract (unroll depths measured at its gate
    scale, sf0.01).  ``sf`` selects the measured parameters for a
    different scale — the iterative apps run to DATA-DEPENDENT
    convergence, so fixed-unroll oracles must unroll to that scale's
    measured fixpoint (sf0.001: PageRank converges in 62 rounds not
    12, BFS from 0 reaches depth 8 not 4, HyperBC's forward phase
    ends on an empty vertex frontier which arms the reference's
    past-the-end dep quirk).  Used by tools/check_entry.py for the
    all-SF catalogue sweep."""
    base = _oracle_sql_sf001() if _is_sf001(sf) else {}
    out = _oracle_sql_gate()
    out.update(base)
    return out


def _is_sf001(sf) -> bool:
    if sf is None:
        return False
    if isinstance(sf, float):
        return abs(sf - 0.001) < 1e-9
    return str(sf).rstrip("/").endswith("0.001")


def _oracle_sql_sf001() -> dict[str, str]:
    """Measured-at-sf0.001 overrides (convergence rounds / BFS depths
    re-measured on that dataset; everything else inherits the gate
    oracles unchanged)."""
    return {
        "pagerank": _pr_sql(62),
        "pagerank_csr": _pr_sql(62),
        "pagerank_delta": _prdelta_sql(10),
        "bc": _bc_sql(8),
        "hyper_bc": _hyper_bc_sql(4, past_end=True),
    }


def _oracle_sql_gate() -> dict[str, str]:
    return {
        "out_degree": f"WITH e AS ({EDGES_SQL}) "
        "SELECT src AS id, count(*) AS outdeg FROM e GROUP BY src",
        "degree_histogram": f"WITH e AS ({EDGES_SQL}), "
        "d AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src) "
        "SELECT outdeg, count(*) AS n_vertices FROM d GROUP BY outdeg",
        "two_hop_count": f"WITH e AS ({EDGES_SQL}) "
        "SELECT a.src AS id, count(*) AS paths2 FROM e a JOIN e b ON a.dst = b.src "
        "GROUP BY a.src",
        "triangle_count": f"WITH e0 AS ({EDGES_SQL}), es AS ({SYM_SQL}) "
        "SELECT count(*) AS triangles FROM es e1 "
        "JOIN es e2 ON e1.dst = e2.src AND e1.src < e1.dst AND e2.src < e2.dst "
        "JOIN es e3 ON e3.src = e1.src AND e3.dst = e2.dst",
        # maintained total == full recount: same oracle as triangle_count
        "triangle_incremental": f"WITH e0 AS ({EDGES_SQL}), es AS ({SYM_SQL}) "
        "SELECT count(*) AS triangles FROM es e1 "
        "JOIN es e2 ON e1.dst = e2.src AND e1.src < e1.dst AND e2.src < e2.dst "
        "JOIN es e3 ON e3.src = e1.src AND e3.dst = e2.dst",
        "clique4_count": f"WITH e0 AS ({EDGES_SQL}), es AS ({SYM_SQL}), "
        "cs AS MATERIALIZED (SELECT src, dst FROM es WHERE src < dst) "
        "SELECT count(*) AS cliques FROM cs ab "
        "JOIN cs bc ON bc.src = ab.dst "
        "JOIN cs cd ON cd.src = bc.dst "
        "JOIN cs ac ON ac.src = ab.src AND ac.dst = bc.dst "
        "JOIN cs ad ON ad.src = ab.src AND ad.dst = cd.dst "
        "JOIN cs bd ON bd.src = ab.dst AND bd.dst = cd.dst",
        "ktruss4": _ktruss_sql(4, 8),
        "truss_decomposition": _truss_decomp_sql(),
        "trustrank": _trustrank_sql(70),
        "salsa": _salsa_sql(10),
        "community_lpa": _community_lpa_sql(5),
        "triangle_lcc": f"WITH e0 AS ({EDGES_SQL}), es AS ({SYM_SQL}),\n"
        "t AS (SELECT e1.src AS u, e1.dst AS v, e2.dst AS w FROM es e1\n"
        "  JOIN es e2 ON e1.dst = e2.src AND e1.src < e1.dst AND e2.src < e2.dst\n"
        "  JOIN es e3 ON e3.src = e1.src AND e3.dst = e2.dst),\n"
        "x AS (SELECT u AS id FROM t UNION ALL SELECT v FROM t UNION ALL SELECT w FROM t),\n"
        "tc AS (SELECT id, count(*) AS tri FROM x GROUP BY id),\n"
        "deg AS (SELECT src AS id, count(*) AS deg FROM es GROUP BY src),\n"
        f"v AS (SELECT CAST(range AS BIGINT) AS id FROM range({V}))\n"
        "SELECT v.id, CAST(coalesce(tc.tri, 0) AS BIGINT) AS triangles,\n"
        "  round(CASE WHEN coalesce(deg.deg, 0) >= 2\n"
        "    THEN 2.0 * coalesce(tc.tri, 0) / (deg.deg * (deg.deg - 1.0))\n"
        "    ELSE 0.0 END, 8) AS lcc\n"
        "FROM v LEFT JOIN tc ON tc.id = v.id LEFT JOIN deg ON deg.id = v.id",
        "reciprocity": f"WITH e0 AS ({EDGES_SQL}),\n"
        "e AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),\n"
        "r AS (SELECT count(*) AS reciprocated FROM e\n"
        "  WHERE EXISTS (SELECT 1 FROM e x WHERE x.src = e.dst AND x.dst = e.src)),\n"
        "t AS (SELECT count(*) AS edges FROM e)\n"
        "SELECT t.edges, r.reciprocated,\n"
        "  round(CAST(r.reciprocated AS DOUBLE) / t.edges, 8) AS reciprocity\n"
        "FROM t, r",
        "assortativity": f"WITH e0 AS ({EDGES_SQL}), es AS ({SYM_SQL}),\n"
        "deg AS (SELECT src AS id, count(*) AS d FROM es GROUP BY src),\n"
        "xy AS (SELECT a.d AS x, b.d AS y FROM es\n"
        "  JOIN deg a ON a.id = es.src JOIN deg b ON b.id = es.dst),\n"
        "s AS (SELECT count(*) AS m, sum(x) AS sx, sum(y) AS sy,\n"
        "  sum(x*y) AS sxy, sum(x*x) AS sxx, sum(y*y) AS syy FROM xy)\n"
        "SELECT CAST(m AS BIGINT) AS pairs,\n"
        "  round((sxy - sx*sy/CAST(m AS DOUBLE))\n"
        "    / sqrt((sxx - sx*sx/CAST(m AS DOUBLE)) * (syy - sy*sy/CAST(m AS DOUBLE))), 8)\n"
        "  AS assortativity FROM s",
        "pagerank_k3": _pr_sql(3),
        "hits": _hits_sql(5),
        # Convergence-defined apps, matched by VALUE with fixed-depth
        # chained CTEs sized 2x+ past the measured fixpoint depth at the
        # driver's gate scale (sf0.01: PR stops at iter 12 with 3x L1
        # margin; CC/LP fixpoint depth 5; BFS depth 4; BF rounds 9).
        "pagerank": _pr_sql(12),
        "components": _cc_sql(12, label_col="component"),
        "cc_star": _cc_sql(12, label_col="component"),
        "cc_incremental": _cc_sql(12, label_col="component"),
        "label_propagation": _cc_sql(12, label_col="label"),
        "bfscc": _cc_sql(12, label_col="label"),
        "cc_k4": _cc_sql(4),
        "bfs_k3": _bfs_sql(3),
        "bfs": _bfs_sql(12),
        "sssp_k3": _sssp_sql(3),
        "sssp": _sssp_sql(18),
        "delta_stepping": _sssp_sql(18),
        "ecc_16": _ecc_sql(12),
        "harmonic_16": _harmonic_sql(12),
        "closeness_16": _closeness_sql(12),
        # measured max distance 2 at sf0.01 (V=256 is dense); 2x margin
        "ecc_exact": _ecc_exact_sql(4),
        # cc fixpoint 5, wave depth <= diameter 6 at sf0.01; margins
        "ecc_kbfs": _ecc_kbfs_sql(12, 10, 10),
        "ecc_simple_approx": _ecc_simple_approx_sql(12, 12),
        "ecc_clrstv": _ecc_clrstv_sql(12, 10),
        "ecc_rv": _ecc_rv_sql(12, 10),
        "lp_k2": _lp_sql(2),
        # Formerly rows-only — fixed-depth chained-CTE transcriptions
        # (depths measured at the sf0.01 gate; see each builder):
        "pagerank_delta": _prdelta_sql(6),
        "bc": _bc_sql(4),
        "radii": _radii_sql(8),
        "ecc_fm": _ecc_fm_sql(8),
        "ecc_loglog": _ecc_loglog_sql(9),
        "mis": _mis_sql(8),
        "kcore": _kcore_sql(18),
        "kcore_julienne": _kcore_julienne_sql(10),
        "ecc_tk": _ecc_tk_sql(16),
        "ppr": _ppr_sql(32),
        "ppr_sweep": _ppr_sweep_sql(32),
        "nibble": _nibble_sql(),
        "heat_kernel": _heat_kernel_sql(),
        "heat_kernel_rand": _heat_kernel_rand_sql(),
        "setcover": _setcover_sql(72),
        "cf": _cf_sql(5, 20),
        "hyper_bfs": _hyper_bfs_sql(8),
        "hyper_bpath": _hyper_bpath_sql(6),
        # exact measured forward depth (sf0.01: deepest vertex level 4)
        "hyper_bc": _hyper_bc_sql(4),
        "hyper_cc": _hyper_cc_sql(10),
        # exact unroll (fixed 5 iters) / measured schedule + margin
        # (sf0.01: kcore 24 peel rounds, sssp fixpoint 7 half-steps)
        "hyper_pagerank": _hyper_pr_sql(5),
        "hyper_kcore": _hyper_kcore_sql(36),
        # same coreness as hyper_kcore, computed by the Julienne
        # bucket loop — sharing the peel-loop oracle IS the check
        "hyper_kcore_efficient": _hyper_kcore_sql(36),
        "hyper_sssp": _hyper_sssp_sql(16),
        # measured schedule at sf0.01: 21 rounds; extras are no-ops
        "hyper_mis": _hyper_mis_sql(30),
        "doc_exact_dedup": "SELECT md5(text) AS h, min(doc_id) AS keep_id, "
        "count(*) AS copies FROM documents GROUP BY md5(text)",
        "doc_stratified_sample": _stratified_sample_sql(),
        "doc_inverted_index": _inverted_index_sql(32),
        "doc_bm25_topk": _bm25_sql(20),
        "doc_token_count": "SELECT doc_id, CAST(CASE WHEN length(trim(text)) = 0 THEN 0 "
        "ELSE length(regexp_split_to_array(trim(text), '\\s+')) END AS INT) AS n_tokens "
        "FROM documents",
        "doc_quality": _quality_sql(),
        "doc_gopher_filter": _gopher_sql(),
        "doc_pii_redact": _pii_sql(),
        "doc_decontaminate": _decontaminate_sql(8),
        "doc_bpe_tokens": _bpe_sql(),
        "doc_shared_spans": _shared_spans_sql(8),
        "events_user_hll": _hll_sql(6),
        "doc_neardup_incremental": _neardup_incr_sql(12),
        "events_funnel": _funnel_sql(),
        "events_retention": "WITH f AS (SELECT user_id, CAST(min(ts) AS DATE) "
        "AS cohort_day FROM events GROUP BY 1),\n"
        "a AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events)\n"
        "SELECT strftime(f.cohort_day, '%Y-%m-%d') AS cohort_day, "
        "CAST(date_diff('day', f.cohort_day, a.d) AS INT) AS day_offset, "
        "CAST(count(DISTINCT a.user_id) AS BIGINT) AS users "
        "FROM a JOIN f USING (user_id) GROUP BY f.cohort_day, day_offset",
        "cycle4_count": f"WITH e0 AS ({EDGES_SQL}), es AS ({SYM_SQL}),\n"
        "cn AS (SELECT a.dst AS u, b.dst AS w, count(*) AS c FROM es a "
        "JOIN es b ON a.src = b.src AND a.dst < b.dst GROUP BY 1, 2)\n"
        "SELECT CAST(coalesce(sum(c * (c - 1)) // 4, 0) AS BIGINT) AS cycles4 FROM cn",
        "doc_lang_guess": _lang_sql(),
        "doc_fingerprint": "SELECT doc_id, "
        "md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fingerprint "
        "FROM documents",
        "doc_jaccard_pairs": _jaccard_sql(0.9),
        "minhash_signatures": _minhash_sql(8),
        "minhash_lsh_pairs": _lsh_sql(8, 4),
        "doc_neardup_clusters": _neardup_clusters_sql(12),
        "corpus_prep": _corpus_prep_sql(),
        "simhash16": _simhash_sql(),
        "embedding_cosine_probe": _COSINE_SQL,
        "ann_topk": (
            f"WITH cp AS ({_COSINE_SQL})\n"
            "SELECT probe_id, vec_id, cos_sim, CAST(rank AS INT) AS rank FROM (\n"
            "  SELECT *, row_number() OVER (PARTITION BY probe_id "
            "ORDER BY cos_sim DESC, vec_id) AS rank\n"
            "  FROM cp WHERE vec_id <> probe_id) r WHERE rank <= 5"
        ),
        "ann_lsh_topk": _ann_lsh_sql(8, 64, 2, 5),
        "ann_ivf_topk": _ivf_sql(16, 4, 64, 5),
        "embedding_neardup_pairs": _neardup_sql(4, 64, 2, 0.35),
        "events_hourly": "SELECT date_trunc('hour', ts) AS hour, event_type, "
        "count(*) AS n, round(sum(value), 6) AS sum_value FROM events "
        "GROUP BY date_trunc('hour', ts), event_type",
        "events_rollup": "SELECT coalesce(CAST(CAST(ts AS DATE) AS VARCHAR), 'ALL') AS day, "
        "coalesce(event_type, 'ALL') AS event_type, "
        "count(*) AS n, round(sum(value), 4) AS sum_value FROM events "
        "GROUP BY ROLLUP(CAST(ts AS DATE), event_type)",
        # gap-island sessionization: new session only when the gap to
        # the previous event EXCEEDS 10 min — session_window merges an
        # event landing exactly on the session end (closed boundary,
        # pinned by tests/test_multimodal_streaming.py); end = last + gap
        "events_sessions": (
            "WITH o AS (SELECT user_id, ts, value, event_id,\n"
            "  CASE WHEN lag(ts) OVER w IS NULL\n"
            "       OR ts - lag(ts) OVER w > INTERVAL 10 MINUTE THEN 1 ELSE 0 END AS new_s\n"
            "  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),\n"
            "i AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id\n"
            "  ROWS UNBOUNDED PRECEDING) AS sid FROM o)\n"
            "SELECT min(ts) AS session_start, max(ts) + INTERVAL 10 MINUTE AS session_end,\n"
            "  user_id, count(*) AS n_events, round(sum(value), 6) AS sum_value\n"
            "FROM i GROUP BY user_id, sid"
        ),
        # plain inequality join is fine at oracle scale; half-open
        # (l.ts, l.ts + 30min] matches the binned residual filter
        "events_range_counts": (
            "SELECT l.event_id, l.user_id, l.ts,\n"
            "  count(r.ts) AS n_after,\n"
            "  round(coalesce(sum(r.value), 0), 6) AS sum_after\n"
            "FROM (SELECT event_id, user_id, ts FROM events\n"
            "      WHERE event_type = 'click') l\n"
            "LEFT JOIN (SELECT user_id, ts, value FROM events\n"
            "      WHERE event_type = 'view') r\n"
            "  ON r.user_id = l.user_id AND r.ts > l.ts\n"
            "  AND r.ts <= l.ts + INTERVAL 30 MINUTE\n"
            "GROUP BY l.event_id, l.user_id, l.ts"
        ),
        "events_asof_view": (
            "SELECT l.event_id, l.user_id, l.ts, l.value,\n"
            "  r.ts AS asof_ts, r.value AS asof_value\n"
            "FROM (SELECT event_id, user_id, ts, value FROM events\n"
            "      WHERE event_type = 'click') l\n"
            "ASOF LEFT JOIN (SELECT user_id, ts, value FROM events\n"
            "      WHERE event_type = 'view') r\n"
            "  ON l.user_id = r.user_id AND l.ts >= r.ts"
        ),
        "events_hub_onset": _HUB_ONSET_SQL,
        "page_extract": _PAGE_EXTRACT_SQL,
        "page_link_graph": _PAGE_LINK_GRAPH_SQL,
        "host_link_graph": _HOST_LINK_GRAPH_SQL,
        "host_rank": _host_rank_sql(12),
        "host_topk_pages": _HOST_TOPK_SQL,
        "url_normalize": _URL_NORMALIZE_SQL,
        "random_walk_corpus": _random_walk_sql(),
        # DuckDB's parallel unnest zips the two regexp arrays exactly
        # like the Spark side's arrays_zip
        "anchor_text_agg": (
            f"WITH pages AS MATERIALIZED ({_PAGE_HTML_SQL}),\n"
            "a AS (SELECT unnest(regexp_extract_all(html, '<a href=\"([^\"]*)\">', 1)) AS href,\n"
            "             unnest(regexp_extract_all(html, '<a href=\"[^\"]*\">(.*?)</a>', 1)) AS anchor_text\n"
            "      FROM pages),\n"
            "c AS (SELECT href, anchor_text, count(*) AS cnt FROM a GROUP BY 1, 2),\n"
            "r AS (SELECT href, anchor_text,\n"
            "             row_number() OVER (PARTITION BY href ORDER BY cnt DESC, anchor_text) AS rn,\n"
            "             CAST(sum(cnt) OVER (PARTITION BY href) AS BIGINT) AS inlinks,\n"
            "             CAST(count(*) OVER (PARTITION BY href) AS BIGINT) AS distinct_anchors\n"
            "      FROM c)\n"
            "SELECT href AS url, inlinks, distinct_anchors, anchor_text AS top_anchor\n"
            "FROM r WHERE rn = 1"
        ),
        "doc_media_decode": _MEDIA_DECODE_SQL,
        "doc_image_features": _IMAGE_FEATURES_SQL,
        # identical pixel plane (sha256 repeated), but the Spark side
        # decodes REAL P6 bytes through the native numpy codec
        "doc_image_ppm": _IMAGE_FEATURES_SQL,
        "doc_image_jpeg": _JPEG_FEATURES_SQL,
        # progressive re-codes the same quantized coefficients, so the
        # decoded plane — and the digest oracle — are identical
        "doc_image_jpeg_prog": _JPEG_FEATURES_SQL,
        # PNG is lossless: identical plane to the PPM entry
        "doc_image_png": _IMAGE_FEATURES_SQL,
        # VP8L is lossless: identical decoded plane, identical oracle
        "doc_image_webp": _IMAGE_FEATURES_SQL,
        # GIF identity-palette plane: g(p) = digest[p mod 32]; bit p
        # compares 3g*64 > 3*sum  <=>  g*64 > sum in exact ints
        "doc_image_gif": (
            "WITH d AS (SELECT doc_id AS media_id, sha256(text) AS hx FROM documents),\n"
            "px AS (SELECT media_id, p,\n"
            "  ('0x' || substr(hx, 2 * (p % 32) + 1, 2))::INT AS g\n"
            "  FROM d, generate_series(0, 63) AS t(p)),\n"
            "m AS (SELECT media_id, avg(CAST(g AS DOUBLE)) AS mean,\n"
            "  sum(g) AS total FROM px GROUP BY media_id),\n"
            "ph AS (SELECT px.media_id,\n"
            "  CAST(sum(CASE WHEN p < 32 THEN CAST(CASE WHEN px.g * 64 > m.total THEN 1 ELSE 0 END AS BIGINT) << (31 - p) ELSE 0 END) AS BIGINT) AS hi,\n"
            "  CAST(sum(CASE WHEN p >= 32 THEN CAST(CASE WHEN px.g * 64 > m.total THEN 1 ELSE 0 END AS BIGINT) << (63 - p) ELSE 0 END) AS BIGINT) AS lo\n"
            "  FROM px JOIN m USING (media_id) GROUP BY px.media_id)\n"
            "SELECT m.media_id, 8 AS height, 8 AS width, 3 AS channels,\n"
            "  round(m.mean, 6) AS mean_r, round(m.mean, 6) AS mean_g,\n"
            "  round(m.mean, 6) AS mean_b,\n"
            "  printf('%08x%08x', ph.hi, ph.lo) AS phash\n"
            "FROM m JOIN ph USING (media_id)"
        ),
        # the mixed-fixture construction maps doc_id mod 8 to a format
        "doc_media_format": (
            "SELECT doc_id AS media_id,\n"
            "  CASE doc_id % 8 WHEN 0 THEN 'jpeg' WHEN 1 THEN 'png'\n"
            "    WHEN 2 THEN 'gif' WHEN 3 THEN 'ppm' WHEN 4 THEN 'wav'\n"
            "    WHEN 5 THEN 'avi' WHEN 6 THEN 'webp'\n"
            "    ELSE 'unknown' END AS format\n"
            "FROM documents"
        ),
        # frame k of the AVI decodes to uniform blocks at digest bytes
        # [4k, 4k+4) (exact-DC JPEG round-trip); digest byte 4k+j sits
        # at hex chars substr(hx, 8k+2j+1, 2)
        "doc_video_frames": (
            "WITH d AS (SELECT doc_id AS media_id, sha256(text) AS hx FROM documents),\n"
            "f AS (SELECT media_id, k,\n"
            "  round((('0x' || substr(hx, 8 * k + 1, 2))::INT\n"
            "       + ('0x' || substr(hx, 8 * k + 3, 2))::INT\n"
            "       + ('0x' || substr(hx, 8 * k + 5, 2))::INT\n"
            "       + ('0x' || substr(hx, 8 * k + 7, 2))::INT) / 4.0, 6) AS mean\n"
            "  FROM d, generate_series(0, 1) AS t(k))\n"
            "SELECT media_id, CAST(k * 1000 AS INT) AS ts_ms,\n"
            "  16 AS height, 16 AS width,\n"
            "  mean AS mean_r, mean AS mean_g, mean AS mean_b FROM f"
        ),
        # the byte-code round-trip reproduces encoder.C's canonical
        # edge set: sorted-unique, self-loops dropped
        "compressed_graph": f"WITH e AS ({EDGES_SQL}) "
        "SELECT DISTINCT src, dst FROM e WHERE src <> dst",
        # CSR-backend twins share the join-engine oracles: matching
        # them IS the cross-backend equality check
        "pagerank_csr": _pr_sql(12),
        "components_csr": _cc_sql(12, label_col="component"),
        "sssp_csr": _sssp_sql(18),
    }
