"""spark-submit entry point for cluster runs (north rule: ``spark-submit
--py-files ligra_spark.zip jobs/run_app.py ...``).

Examples:
    spark-submit --py-files ligra_spark.zip jobs/run_app.py \
        --app pagerank --edges s3://bucket/edges --n 1000000 \
        --checkpoint s3://bucket/ckpt --resume --output s3://bucket/scores

    spark-submit ... --app components --pages s3://bucket/pages \
        --symmetrize --output .../labels

Local smoke: python jobs/run_app.py --app pagerank \
    --edges /tmp/fix/edges_directed.parquet --output /tmp/out
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

APPS = (
    "pagerank pagerank_delta components label_propagation triangle bfs "
    "bellman_ford kcore bc radii mis cf "
    "bfscc delta_stepping kcore_julienne ecc ecc_fm ecc_loglog setcover "
    "hyper_bfs hyper_bpath hyper_cc hyper_pagerank hyper_sssp hyper_kcore "
    "hyper_kcore_efficient hyper_mis hyper_bc "
    "hits trustrank salsa ppr ktruss truss_decomposition community_lpa "
    "kclique triangle_lcc harmonic cycle4"
).split()


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--app", required=True, choices=APPS)
    src = ap.add_mutually_exclusive_group()
    src.add_argument("--edges", help="parquet edge table (src,dst[,weight])")
    src.add_argument("--pages", help="pages table -> ingest to edges first")
    src.add_argument(
        "--bucketed-table",
        help="catalog name of a bucketBy(src) edge table written by "
        "sources.write_bucketed_edges: loads with ZERO shuffle "
        "(--symmetrize/--salt-buckets must describe how it was written)",
    )
    src.add_argument(
        "--incidence",
        help="parquet incidence table (vertex,hedge[,weight]) for hyper_* apps",
    )
    ap.add_argument(
        "--in-pins", help="directed in-pin incidence parquet (hyper_bpath)"
    )
    ap.add_argument(
        "--out-pins", help="directed out-pin incidence parquet (hyper_bpath)"
    )
    ap.add_argument("--nv", type=int, default=None, help="hypergraph vertex slots")
    ap.add_argument("--nh", type=int, default=None, help="hypergraph hyperedge slots")
    ap.add_argument(
        "--weight-col", default=None, help="incidence weight column (hyper_sssp)"
    )
    ap.add_argument("--n", type=int, default=None, help="vertex count override")
    ap.add_argument("--output", required=True)
    ap.add_argument("--checkpoint", default=None)
    ap.add_argument("--resume", action="store_true")
    ap.add_argument("--symmetrize", action="store_true")
    ap.add_argument("--salt-buckets", type=int, default=1)
    ap.add_argument(
        "--save-bucketed-table",
        default=None,
        help="also persist the loaded/ingested edge table as a "
        "bucketBy(src) catalog table (one-time layout cost; later runs "
        "pass --bucketed-table for a zero-shuffle load)",
    )
    ap.add_argument(
        "--save-bucketed-path", default=None,
        help="storage path for --save-bucketed-table (required with it)",
    )
    ap.add_argument(
        "--buckets", type=int, default=None,
        help="bucket count for --save-bucketed-table (default: the "
        "graph's partition count)",
    )
    ap.add_argument("--max-iters", type=int, default=100)
    ap.add_argument("--root", type=int, default=0)
    ap.add_argument("--k", type=int, default=4, help="ktruss/kclique k")
    ap.add_argument(
        "--seeds", type=int, nargs="+", default=[0],
        help="trustrank/ppr seed vertex ids",
    )
    ap.add_argument("--partitions", type=int, default=None)
    args = ap.parse_args(argv)
    # validate BEFORE the (possibly hours-long) graph load
    if args.save_bucketed_table and not args.save_bucketed_path:
        ap.error("--save-bucketed-table requires --save-bucketed-path")

    from pyspark.sql import SparkSession

    from ligra_spark.graph import LinkGraph

    spark = SparkSession.builder.appName(f"ligra_spark:{args.app}").getOrCreate()

    if args.app.startswith("hyper_"):
        return _run_hyper(spark, args)
    if not (args.edges or args.pages or args.bucketed_table):
        ap.error("--edges, --pages or --bucketed-table is required for graph apps")

    if args.bucketed_table:
        from ligra_spark.sources import read_bucketed_graph

        g = read_bucketed_graph(
            spark,
            args.bucketed_table,
            n=args.n,
            symmetric=args.symmetrize,
            salt_buckets=args.salt_buckets,
        )
    elif args.pages:
        from ligra_spark.ingest import build_link_graph

        g, dictionary = build_link_graph(
            spark,
            spark.read.parquet(args.pages),
            num_partitions=args.partitions,
            make_symmetric=args.symmetrize,
        )
        dictionary.write.mode("overwrite").parquet(f"{args.output}_dictionary")
    else:
        g = LinkGraph.from_parquet(
            spark,
            args.edges,
            n=args.n,
            num_partitions=args.partitions,
            make_symmetric=args.symmetrize,
            salt_buckets=args.salt_buckets,
        )
    g.materialize()

    if args.save_bucketed_table:
        from ligra_spark.sources import write_bucketed_edges

        write_bucketed_edges(
            g.edges,
            args.save_bucketed_table,
            args.save_bucketed_path,
            buckets=args.buckets or g.num_partitions,
            salt_buckets=args.salt_buckets,
        )

    mgr = None
    if args.checkpoint:
        from ligra_spark.checkpoint import CheckpointManager

        mgr = CheckpointManager(spark, args.checkpoint)

    metrics = []

    def track(it, m):
        metrics.append({"superstep": it, **m})

    t0 = time.perf_counter()
    import ligra_spark.apps as apps

    if args.app == "pagerank":
        out, iters = apps.pagerank(
            g, max_iters=args.max_iters, checkpoint_mgr=mgr, resume=args.resume,
            on_superstep=track,
        )
    elif args.app == "pagerank_delta":
        out, iters = apps.pagerank_delta(
            g, max_iters=args.max_iters, checkpoint_mgr=mgr, on_superstep=track
        )
    elif args.app == "components":
        out, iters = apps.components(
            g, checkpoint_mgr=mgr, resume=args.resume, on_superstep=track
        )
    elif args.app == "label_propagation":
        out, iters = apps.label_propagation(
            g, checkpoint_mgr=mgr, resume=args.resume, on_superstep=track
        )
    elif args.app == "triangle":
        from ligra_spark.apps.triangle import triangle_count_df

        out, iters = triangle_count_df(g), 1
    elif args.app == "bfs":
        out, iters = apps.bfs_levels(g, root=args.root, on_superstep=track)
    elif args.app == "bellman_ford":
        out, iters = apps.bellman_ford(g, root=args.root, on_superstep=track)
    elif args.app == "kcore":
        out, iters = apps.kcore(g, on_superstep=track)
    elif args.app == "bc":
        out, iters = apps.bc_single_source(g, root=args.root, on_superstep=track)
    elif args.app == "radii":
        out, iters = apps.radii(g, on_superstep=track)
    elif args.app == "mis":
        out, iters = apps.mis(g, on_superstep=track)
    elif args.app == "cf":
        out, iters = apps.cf_sgd(g, on_superstep=track)
    elif args.app == "bfscc":
        out, iters = apps.bfscc(g, on_superstep=track)
    elif args.app == "delta_stepping":
        out, iters = apps.delta_stepping(g, root=args.root, on_superstep=track)
    elif args.app == "kcore_julienne":
        out, iters = apps.kcore_julienne(g, on_superstep=track)
    elif args.app == "ecc_fm":
        out, iters = apps.ecc_fm(g, on_superstep=track)
    elif args.app == "ecc_loglog":
        out, iters = apps.ecc_loglog(g, on_superstep=track)
    elif args.app == "ecc":
        out, iters = apps.ecc_estimate(
            g, sources=list(range(min(g.n, 64))), on_superstep=track
        )
    elif args.app == "setcover":
        out, iters = apps.setcover(g, on_superstep=track)
    elif args.app == "hits":
        out, iters = apps.hits(g, iters=args.max_iters)
    elif args.app == "trustrank":
        out, iters = apps.trustrank(
            g, seeds=args.seeds, max_iters=args.max_iters,
            checkpoint_mgr=mgr, resume=args.resume, on_superstep=track,
        )
    elif args.app == "salsa":
        out, iters = apps.salsa(g), 1
    elif args.app == "ppr":
        out, iters = apps.ppr(g, seeds=args.seeds, on_superstep=track)
    elif args.app == "ktruss":
        out, iters = apps.ktruss(
            g, k=args.k, checkpoint_mgr=mgr, resume=args.resume,
            on_superstep=track,
        )
    elif args.app == "truss_decomposition":
        out, iters = apps.truss_decomposition(g, on_superstep=track)
    elif args.app == "community_lpa":
        out, iters = apps.community_lpa(g, rounds=args.max_iters), args.max_iters
    elif args.app == "kclique":
        from ligra_spark.apps import kclique_count_df

        out, iters = kclique_count_df(g, args.k), 1
    elif args.app == "triangle_lcc":
        out, iters = apps.per_vertex_triangles(g), 1
    elif args.app == "cycle4":
        from ligra_spark.apps import cycle4_count_df

        out, iters = cycle4_count_df(g), 1
    elif args.app == "harmonic":
        out, iters = apps.harmonic_from_sources(
            g, sources=args.seeds, on_superstep=track
        )

    out.write.mode("overwrite").parquet(args.output)
    elapsed = time.perf_counter() - t0
    summary = {
        "app": args.app,
        "n": g.n,
        "m": g.m,
        "supersteps": iters,
        "sec": round(elapsed, 2),
        "edges_per_sec_per_superstep": round(g.m / (elapsed / max(iters, 1))),
        "superstep_metrics": metrics[-5:],
    }
    print(json.dumps(summary))
    with open(os.path.join("/tmp", f"ligra_spark_{args.app}_summary.json"), "w") as f:
        json.dump(summary, f)


def _run_hyper(spark, args):
    """Dispatch for the hypergraph suite: loads the incidence table(s)
    into a HyperGraph and runs the chosen app."""
    import ligra_spark.apps as apps
    from ligra_spark.hygra import HyperGraph

    if args.app == "hyper_bpath":
        if not (args.in_pins and args.out_pins):
            raise SystemExit("hyper_bpath needs --in-pins and --out-pins")
        hg = HyperGraph.from_directed_incidence(
            spark,
            spark.read.parquet(args.in_pins),
            spark.read.parquet(args.out_pins),
            nv=args.nv, nh=args.nh, num_partitions=args.partitions,
        )
    else:
        if not args.incidence:
            raise SystemExit(f"{args.app} needs --incidence")
        hg = HyperGraph.from_incidence(
            spark,
            spark.read.parquet(args.incidence),
            nv=args.nv, nh=args.nh, num_partitions=args.partitions,
            weight_col=args.weight_col,
        )

    metrics = []

    def track(it, m):
        metrics.append({"superstep": it, **m})

    t0 = time.perf_counter()
    if args.app == "hyper_bfs":
        out, iters = apps.hyper_bfs(hg, root=args.root, on_superstep=track)
    elif args.app == "hyper_bpath":
        out, iters = apps.hyper_bpath(hg, root=args.root, on_superstep=track)
    elif args.app == "hyper_cc":
        out, iters = apps.hyper_cc(hg, on_superstep=track)
    elif args.app == "hyper_pagerank":
        out, iters = apps.hyper_pagerank(
            hg, max_iters=args.max_iters, on_superstep=track
        )
    elif args.app == "hyper_sssp":
        out, iters = apps.hyper_sssp(hg, root=args.root, on_superstep=track)
    elif args.app == "hyper_kcore":
        out, iters = apps.hyper_kcore(hg, on_superstep=track)
    elif args.app == "hyper_kcore_efficient":
        out, iters = apps.hyper_kcore_efficient(hg, on_superstep=track)
    elif args.app == "hyper_mis":
        out, iters = apps.hyper_mis(hg, on_superstep=track)
    elif args.app == "hyper_bc":
        out, iters = apps.hyper_bc(hg, root=args.root, on_superstep=track)

    out.write.mode("overwrite").parquet(args.output)
    elapsed = time.perf_counter() - t0
    summary = {
        "app": args.app,
        "nv": hg.nv,
        "nh": hg.nh,
        "m": hg.m,
        "supersteps": iters,
        "sec": round(elapsed, 2),
        "incidences_per_sec_per_superstep": round(
            hg.m / (elapsed / max(iters, 1))
        ),
        "superstep_metrics": metrics[-5:],
    }
    print(json.dumps(summary))
    with open(os.path.join("/tmp", f"ligra_spark_{args.app}_summary.json"), "w") as f:
        json.dump(summary, f)


if __name__ == "__main__":
    main()
