"""Ligra-format import/export round-trip tests on the tiny sample
graph, written in Ligra's (Weighted)AdjacencyGraph text format."""

import numpy as np


def _write_adjacency_text(path, n, src, dst, weights=None):
    """Ligra's (Weighted)AdjacencyGraph text: header, n, m, n offsets,
    m targets[, m weights], one value per line, edges in (src, dst)
    order.  Returns the written lines."""
    order = np.lexsort((dst, src))
    offsets = np.searchsorted(src[order], np.arange(n))
    body = [n, len(src), *offsets.tolist(), *dst[order].tolist()]
    if weights is not None:
        body += weights[order].tolist()
    head = "WeightedAdjacencyGraph" if weights is not None else "AdjacencyGraph"
    lines = [head, *map(str, body)]
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")
    return lines


def test_read_adjacency_graph_df(spark, tiny_edges, tmp_path):
    from ligra_spark.sources import read_adjacency_graph_df

    n, src, dst = tiny_edges
    path = str(tmp_path / "g.adj")
    _write_adjacency_text(path, n, src, dst)
    df, n2 = read_adjacency_graph_df(spark, path)
    assert n2 == n == 128
    got = df.toPandas().sort_values(["src", "dst"]).reset_index(drop=True)
    order = np.lexsort((dst, src))
    np.testing.assert_array_equal(got["src"].to_numpy(), src[order])
    np.testing.assert_array_equal(got["dst"].to_numpy(), dst[order])


def test_weighted_adjacency_graph(spark, tiny_edges, tmp_path):
    from ligra_spark.sources import read_adjacency_graph_df

    n, src, dst = tiny_edges
    weights = 1 + (src * 7 + dst) % 7  # in [1, log2(n)], as adjGraphAddWeights
    path = str(tmp_path / "g.wadj")
    _write_adjacency_text(path, n, src, dst, weights)
    df, n2 = read_adjacency_graph_df(spark, path)
    assert "weight" in df.columns and n2 == n == 128
    assert df.count() == len(src) == 708
    got = sorted(map(tuple, df.select("src", "dst", "weight").collect()))
    assert got == sorted(zip(src.tolist(), dst.tolist(), weights.tolist()))


def test_roundtrip_text(spark, tiny_edges, tmp_path):
    from ligra_spark.sources import read_adjacency_graph_df, write_adjacency_graph

    n, src, dst = tiny_edges
    path = str(tmp_path / "in.adj")
    theirs = _write_adjacency_text(path, n, src, dst)
    df, n2 = read_adjacency_graph_df(spark, path)
    out = str(tmp_path / "g.adj")
    write_adjacency_graph(df, n2, out)
    with open(out) as f:
        ours = [l.strip() for l in f if l.strip()]
    assert ours == theirs, "line-level round trip of the AdjacencyGraph text"


def test_binary_csr_roundtrip(spark, tiny_edges, tmp_path):
    import numpy as np

    from ligra_spark.adjacency import edges_to_csr
    from ligra_spark.sources import read_binary_csr_df

    n, src, dst = tiny_edges
    offsets, targets = edges_to_csr(n, src, dst)
    (tmp_path / "g.config").write_text(f"{n} {len(targets)}")
    offsets.astype(np.int64).tofile(tmp_path / "g.idx")
    targets.astype(np.int64).tofile(tmp_path / "g.adj")
    df, n2 = read_binary_csr_df(
        spark, str(tmp_path / "g.config"), str(tmp_path / "g.idx"), str(tmp_path / "g.adj")
    )
    assert n2 == n and df.count() == len(src)


def test_adjacency_hypergraph_roundtrip(spark, tmp_path):
    """(Weighted)AdjacencyHypergraph round-trip
    (``ligra/hypergraphIO.h:36-115`` layout: header, nv/mv/nh/mh,
    vertex CSR half [+weights], hyperedge CSR half [+weights]):
    write → read → exact incidence equality, and re-write →
    byte-identical file."""
    import pandas as pd

    from ligra_spark.sources import (
        read_adjacency_hypergraph_df,
        write_adjacency_hypergraph,
    )

    rng = np.random.default_rng(7)
    nv, nh = 20, 9
    # directed: the two halves are genuinely different relations
    v_half = pd.DataFrame(
        sorted(
            {(int(v), int(h)) for v, h in zip(rng.integers(0, nv, 60), rng.integers(0, nh, 60))}
        ),
        columns=["vertex", "hedge"],
    )
    h_half = pd.DataFrame(
        sorted(
            {(int(v), int(h)) for v, h in zip(rng.integers(0, nv, 40), rng.integers(0, nh, 40))}
        ),
        columns=["vertex", "hedge"],
    )
    v_half["weight"] = (v_half["vertex"] * 3 + v_half["hedge"]) % 7 + 1
    h_half["weight"] = (h_half["vertex"] + h_half["hedge"] * 5) % 7 + 1
    path = str(tmp_path / "hyper.adj")
    write_adjacency_hypergraph(
        spark.createDataFrame(v_half), spark.createDataFrame(h_half), nv, nh, path
    )
    v2, h2, nv2, nh2 = read_adjacency_hypergraph_df(spark, path)
    assert (nv2, nh2) == (nv, nh)
    got_v = v2.toPandas().sort_values(["vertex", "hedge"]).reset_index(drop=True)
    got_h = h2.toPandas().sort_values(["vertex", "hedge"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(
        got_v, v_half.sort_values(["vertex", "hedge"]).reset_index(drop=True),
        check_dtype=False,
    )
    pd.testing.assert_frame_equal(
        got_h, h_half.sort_values(["vertex", "hedge"]).reset_index(drop=True),
        check_dtype=False,
    )
    # byte-identical re-write
    path2 = str(tmp_path / "hyper2.adj")
    write_adjacency_hypergraph(v2, h2, nv, nh, path2)
    assert open(path).read() == open(path2).read()
    # the loaded halves drive the engine: directed B-path runs on them
    from ligra_spark.apps import hyper_bfs
    from ligra_spark.hygra import HyperGraph

    hg = HyperGraph.from_incidence(spark, v2.drop("weight"), nv=nv, nh=nh)
    out, _ = hyper_bfs(hg, root=int(v_half["vertex"].iloc[0]))
    assert out.count() > 0


# ------------------------------------------------- utils/ converters
def test_snap_to_adjacency_roundtrip(spark, tmp_path):
    """SNAPtoAdj: leading-#-comments skipped, duplicates/self-loops
    preserved, within-source input order preserved (graphFromEdges is
    a stable source-only sort); -s routes through makeSymmetric."""
    from ligra_spark.sources import read_adjacency_graph_df, snap_to_adjacency

    snap = tmp_path / "g.snap"
    snap.write_text("# comment\n# another\n0 2\n2 1\n0 1\n0 2\n1 1\n")
    out = tmp_path / "g.adj"
    n = snap_to_adjacency(str(snap), str(out))
    assert n == 3
    df, n2 = read_adjacency_graph_df(spark, str(out))
    assert n2 == 3
    got = [(r["src"], r["dst"]) for r in df.collect()]
    # stable by src: vertex 0 keeps file order 2,1,2; dup + self-loop kept
    assert got == [(0, 2), (0, 1), (0, 2), (1, 1), (2, 1)]

    out_s = tmp_path / "gs.adj"
    snap_to_adjacency(str(snap), str(out_s), sym=True)
    dfs, _ = read_adjacency_graph_df(spark, str(out_s))
    gs = sorted((r["src"], r["dst"]) for r in dfs.collect())
    assert gs == [(0, 1), (0, 2), (1, 0), (1, 2), (2, 0), (2, 1)]


def test_add_log_weights_formula(spark, tmp_path):
    """adjGraphAddWeights: weight of CSR edge i is
    hashInt(i) % (2*trunc(log2(n))) // 2 + 1."""
    import numpy as np

    from ligra_spark.hashing import hash_int32
    from ligra_spark.sources import add_log_weights, read_adjacency_graph_df
    from ligra_spark.sources.convert import _write_adjacency_arrays

    n = 16
    src = np.repeat(np.arange(n, dtype=np.int64), 2)
    dst = (src * 3 + 1) % n
    plain = tmp_path / "p.adj"
    _write_adjacency_arrays(str(plain), n, src, dst)
    out = tmp_path / "w.adj"
    add_log_weights(str(plain), str(out))
    df, _ = read_adjacency_graph_df(spark, str(out))
    got = [r["weight"] for r in df.collect()]
    L = int(np.log2(n))
    want = ((hash_int32(np.arange(2 * n, dtype=np.uint32)).astype(np.int64)
             % (2 * L)) // 2 + 1).tolist()
    assert got == want


def test_read_konect_bipartite_compression(tmp_path):
    """readKONECT: %-comments, both id spaces dense-ranked over USED
    ids, duplicates preserved."""
    import numpy as np

    from ligra_spark.sources import read_konect_bipartite

    f = tmp_path / "k.tsv"
    f.write_text("% meta\n% more\n5 100\n9 100\n5 300\n9 300\n5 100\n")
    v, h, nv, nh = read_konect_bipartite(str(f))
    assert (nv, nh) == (2, 2)
    assert v.tolist() == [0, 1, 0, 1, 0]  # 5->0, 9->1
    assert h.tolist() == [0, 0, 1, 1, 0]  # 100->0, 300->1
    assert len(v) == 5  # duplicate row kept


def test_rand_hypergraph_pins(spark):
    """hyperedgeRandom: pins of hyperedge i = {hashInt(i*c+j) % nv},
    per-hyperedge sorted unique; feeds the hypergraph engine."""
    import numpy as np

    from ligra_spark.hashing import hash_int32
    from ligra_spark.hygra import HyperGraph
    from ligra_spark.sources import rand_hypergraph

    nv, nh, c = 20, 8, 3
    h, v = rand_hypergraph(nv, nh, c)
    want = {
        i: sorted({int(hash_int32(np.uint32(i * c + j))) % nv for j in range(c)})
        for i in range(nh)
    }
    got: dict[int, list[int]] = {}
    for hh, vv in zip(h.tolist(), v.tolist()):
        got.setdefault(hh, []).append(vv)
    assert got == {i: p for i, p in want.items()}

    import pandas as pd

    inc = spark.createDataFrame(
        pd.DataFrame({"vertex": v.astype("int64"), "hedge": h.astype("int64")})
    )
    hg = HyperGraph.from_incidence(spark, inc, nv=nv, nh=nh)
    assert hg.m == len(v)  # generator output is already duplicate-free


def test_community_clique_mesh_binary(spark, tmp_path):
    """Community hypergraph reader (dense-rank, line = hyperedge),
    clique expansion multiset, MESH CSV dump, and the binary CSR
    writer round-tripping through read_binary_csr_df."""
    import numpy as np

    from ligra_spark.sources import (
        clique_expand,
        read_binary_csr_df,
        read_community_hypergraph,
        write_binary_csr,
        write_mesh_csv,
    )

    f = tmp_path / "c.txt"
    f.write_text("# comment\n10 30 20\n30 40\n50\n")
    v, h, nv, nh = read_community_hypergraph(str(f))
    assert (nv, nh) == (5, 3)  # used ids 10,20,30,40,50 -> 0..4
    assert v.tolist() == [0, 2, 1, 2, 3, 4]
    assert h.tolist() == [0, 0, 0, 1, 1, 2]

    s, d = clique_expand(v, h)
    got = sorted(zip(s.tolist(), d.tolist()))
    want = sorted(
        [(0, 2), (0, 1), (2, 0), (2, 1), (1, 0), (1, 2),  # hyperedge 0
         (2, 3), (3, 2)]                                   # hyperedge 1
    )
    assert got == want  # singleton hyperedge 2 contributes nothing

    mesh = tmp_path / "m.csv"
    write_mesh_csv(h, v, str(mesh))
    assert mesh.read_text().splitlines()[0] == "0,0"
    assert len(mesh.read_text().splitlines()) == 6

    cfg, idx, adj = (str(tmp_path / x) for x in ("cfg", "idx", "adj"))
    write_binary_csr(cfg, idx, adj, 5, np.asarray(s), np.asarray(d))
    df, n = read_binary_csr_df(spark, cfg, idx, adj)
    assert n == 5
    back = sorted((r["src"], r["dst"]) for r in df.collect())
    assert back == want


def test_read_wgh_snap_edges(tmp_path):
    from ligra_spark.sources import read_wgh_snap_edges

    f = tmp_path / "w.snap"
    f.write_text("# c\n0 1 7\n1 2 3\n")
    s, d, w, n = read_wgh_snap_edges(str(f))
    assert (s.tolist(), d.tolist(), w.tolist(), n) == ([0, 1], [1, 2], [7, 3], 3)


def test_hyper_binary_roundtrip(spark, tmp_path):
    """hyperAdjToBinary.C: text hypergraph → .config/.vidx/.vadj/
    .hidx/.hadj (int64; weighted = edges then weights per half,
    graphIO.h readWghHypergraphFromFile layout), byte-inverse of
    read_binary_hypergraph, and the weighted path round-trips the
    adjHypergraphAddWeights output."""
    import pandas as pd

    from ligra_spark.sources import write_adjacency_hypergraph
    from ligra_spark.sources.convert import (
        add_log_weights_hypergraph,
        hyper_adj_to_binary,
        read_binary_hypergraph,
    )
    from ligra_spark.sources.adjacency_io import read_adjacency_hypergraph

    rng = np.random.default_rng(11)
    nv, nh = 16, 6
    v_half = pd.DataFrame(
        sorted({(int(v), int(h)) for v, h in
                zip(rng.integers(0, nv, 50), rng.integers(0, nh, 50))}),
        columns=["vertex", "hedge"],
    )
    h_half = pd.DataFrame(
        sorted({(int(v), int(h)) for v, h in
                zip(rng.integers(0, nv, 30), rng.integers(0, nh, 30))}),
        columns=["vertex", "hedge"],
    )
    path = str(tmp_path / "h.adj")
    write_adjacency_hypergraph(
        spark.createDataFrame(v_half), spark.createDataFrame(h_half), nv, nh, path
    )
    # unweighted binary round-trip
    pre = str(tmp_path / "h")
    hyper_adj_to_binary(path, pre)
    want = read_adjacency_hypergraph(path)
    got = read_binary_hypergraph(pre)
    assert got[0] == want[0] and got[1] == want[1]
    for a, b in zip(got[2:6], want[2:6]):
        assert np.array_equal(a, b)
    assert got[6] is None and got[7] is None
    cfg = open(pre + ".config").read()
    assert cfg == f"{nv} {len(v_half)} {nh} {len(h_half)}"  # no newline

    # weighted: add_log_weights_hypergraph formula, then binary trip
    wpath = str(tmp_path / "hw.adj")
    add_log_weights_hypergraph(path, wpath)
    nv2, nh2, v_off, v_tgt, h_off, h_tgt, v_w, h_w = read_adjacency_hypergraph(wpath)
    from ligra_spark.adjacency import csr_to_edges
    from ligra_spark.hashing import hash_int32

    L = max(1, int(np.log2(max(nv, nh))))
    ids = np.arange(nh, dtype=np.uint32)
    in_w = hash_int32(ids).astype(np.int64) % L + 1
    out_w = hash_int32(ids + np.uint32(nh)).astype(np.int64) % L + 1
    assert np.array_equal(v_w, in_w[v_tgt])          # pin (v→h): InW[h]
    h_src, _ = csr_to_edges(nh, h_off, h_tgt)
    assert np.array_equal(h_w, out_w[h_src])         # pin (h→v): OutW[h]

    wpre = str(tmp_path / "hw")
    hyper_adj_to_binary(wpath, wpre)
    got_w = read_binary_hypergraph(wpre)
    for a, b in zip(got_w[2:], (v_off, v_tgt, h_off, h_tgt, v_w, h_w)):
        assert np.array_equal(a, b)


def test_write_adjacency_graph_distributed(spark, tmp_path):
    """Executor-side writer produces byte-identical files to the
    driver-side writer, weighted and unweighted."""
    import pandas as pd

    from ligra_spark.sources import write_adjacency_graph
    from ligra_spark.sources.adjacency_io import write_adjacency_graph_distributed

    rng = np.random.default_rng(3)
    n = 40
    pdf = pd.DataFrame(
        sorted({(int(a), int(b)) for a, b in
                zip(rng.integers(0, n, 300), rng.integers(0, n, 300))}),
        columns=["src", "dst"],
    )
    for weighted in (False, True):
        df = pdf.copy()
        if weighted:
            df["weight"] = (df["src"] * 7 + df["dst"]) % 11 + 1
        edges = spark.createDataFrame(df).repartition(8)  # scrambled layout
        a, b = str(tmp_path / f"a{weighted}.adj"), str(tmp_path / f"b{weighted}.adj")
        write_adjacency_graph(edges, n, a)
        write_adjacency_graph_distributed(edges, n, b)
        assert open(a).read() == open(b).read()


def test_hypergraph_distributed_writer_byte_identical(spark, tmp_path):
    """The executor-side hypergraph writer produces byte-identical
    files to the driver-side one (weighted and unweighted), with no
    toPandas funnel."""
    import pandas as pd

    from ligra_spark.sources import (
        write_adjacency_hypergraph,
        write_adjacency_hypergraph_distributed,
    )

    rng = np.random.default_rng(13)
    nv, nh = 17, 8
    v_half = pd.DataFrame(
        sorted({(int(v), int(h)) for v, h in
                zip(rng.integers(0, nv, 50), rng.integers(0, nh, 50))}),
        columns=["vertex", "hedge"],
    )
    h_half = pd.DataFrame(
        sorted({(int(v), int(h)) for v, h in
                zip(rng.integers(0, nv, 35), rng.integers(0, nh, 35))}),
        columns=["vertex", "hedge"],
    )
    for weighted in (False, True):
        vh, hh = v_half.copy(), h_half.copy()
        if weighted:
            vh["weight"] = (vh["vertex"] + 2 * vh["hedge"]) % 5 + 1
            hh["weight"] = (3 * hh["vertex"] + hh["hedge"]) % 5 + 1
        p_drv = str(tmp_path / f"drv{weighted}.adj")
        p_dst = str(tmp_path / f"dst{weighted}.adj")
        write_adjacency_hypergraph(
            spark.createDataFrame(vh), spark.createDataFrame(hh), nv, nh, p_drv
        )
        write_adjacency_hypergraph_distributed(
            spark.createDataFrame(vh), spark.createDataFrame(hh), nv, nh, p_dst
        )
        assert open(p_drv).read() == open(p_dst).read()
