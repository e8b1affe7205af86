"""The benchmark workloads.  Each drives only the public
ligra_spark surface and has the same life cycle:

- ``setup()``   ready SparkSession -> engine-ready input (timed as setup_s);
- ``warm_up()`` untimed run of every plan shape the solve uses;
- ``solve()``   engine-ready input -> every result collected (solve_s);
- ``check()``   compares one solve's results with the cached oracle
                answers; each entry is one attempted operation.

``crawl_rank``    dense PageRank to convergence with a durable checkpoint
                  every superstep, killed halfway and resumed.
``frontier_tail`` CC on a graph whose link chains keep a tiny frontier
                  alive, then triangle counting; nothing is checkpointed.
``media_decode``  Python codecs inside mapInPandas; no graph at all.
``frontier_media`` frontier_tail and media_decode in one run, one after
                  the other: the gated form of both (see README.md).
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from ligra_spark import ingest
from ligra_spark.apps import components, pagerank, triangle_count
from ligra_spark.checkpoint import CheckpointManager
from ligra_spark.functions import gif, jpeg, png, webp
from ligra_spark.functions.multimodal import decode_images, with_media_format
from ligra_spark.graph import symmetrize

from inputs import CRAWL_DAMPING, MEDIA_SIZES, MEDIA_SLOTS, oracle_arrays

PSNR_FLOOR_DB = 30.0
PR_RTOL = 1e-6
MB = 1e6


def dir_mb(path: str) -> float:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total / MB


def _column_by_id(rows, n: int, col: str) -> np.ndarray:
    """Dense per-vertex array of ``col``; -1 where a vertex is missing."""
    out = np.full(n, -1, dtype=np.float64)
    for r in rows:
        out[r["id"]] = r[col]
    return out


class _Kill(Exception):
    """Raised from on_superstep to kill a run mid-solve."""


class Workload:
    name = ""
    # set-ups per timed run; setup_s is their median, so the first
    # (cold) one never sets it
    setup_reps = 3
    # solves per timed run, however short --seconds is; solve_s is
    # their median
    min_solves = 1

    def attach(self, spark, workdir: str, tracer) -> None:
        self.spark = spark
        self.workdir = workdir
        self.tracer = tracer

    def teardown(self) -> None:
        self.spark.catalog.clearCache()

    def check_setup(self) -> list[tuple[str, bool]]:
        return []

    def facts(self) -> dict:
        """Sizes and probe timings for the traced run's per-layer report."""
        return {}

    def extra_metrics(self, solves: list[dict]) -> dict:
        """The workload's own metrics: name -> (unit, one value per solve)."""
        return {}


class _GraphWorkload(Workload):
    symmetric = False

    def setup(self) -> None:
        pages = self.spark.read.parquet(os.path.join(self.meta["dir"], "pages.parquet"))
        g, self.dictionary = ingest.build_link_graph(
            self.spark, pages, make_symmetric=self.symmetric
        )
        self.graph = g.materialize()

    def check_setup(self) -> list[tuple[str, bool]]:
        return [("graph_n", self.graph.n == self.meta["n"])]

    def facts(self) -> dict:
        return {
            "ingest.pages": self.meta["n"],
            "ingest.links": self.meta["links"],
            "ingest.html_mb": self.meta["html_bytes"] / MB,
            "graph.n": self.graph.n,
            "graph.m": self.graph.m,
        }


class CrawlRank(_GraphWorkload):
    name = "crawl_rank"

    def __init__(self, seed: int, cache):
        self.meta = cache.get("crawl", seed)
        self.want = oracle_arrays(self.meta)["pagerank"]
        self.iters = self.meta["pagerank_iters"]
        self.kill_at = self.iters // 2

    def warm_up(self) -> None:
        # both legs' plan shapes, including the parquet write and the
        # resume read, for one superstep each
        self._pagerank_legs(os.path.join(self.workdir, "warm-ckpt"), kill_at=1, max_iters=2)

    def _pagerank_legs(self, ckpt_dir: str, kill_at: int, max_iters: int = 100):
        shutil.rmtree(ckpt_dir, ignore_errors=True)
        mgr = CheckpointManager(self.spark, ckpt_dir)
        tr, g = self.tracer, self.graph

        def kill(it, _info):
            if it == kill_at:
                raise _Kill

        t0 = time.perf_counter()
        try:
            with tr.app("pagerank"):
                pagerank(g, max_iters=max_iters, damping=CRAWL_DAMPING, checkpoint_mgr=mgr,
                         on_superstep=tr.step_hook("pagerank", kill),
                         edge_map_fn=tr.edge_map_fn())
            killed = False
        except _Kill:
            killed = True
        t1 = time.perf_counter()
        with tr.app("pagerank_resume"):
            scores, iters = pagerank(g, max_iters=max_iters, damping=CRAWL_DAMPING,
                                     checkpoint_mgr=mgr, resume=True,
                                     on_superstep=tr.step_hook("pagerank_resume"),
                                     edge_map_fn=tr.edge_map_fn())
            rows = scores.collect()
        t2 = time.perf_counter()
        return {
            "solve_s": t2 - t0,
            "recover_s": t2 - t1,
            "killed": killed,
            "latest_step": mgr.latest_step("pagerank"),
            "iters": iters,
            "rows": rows,
            "write_mb": dir_mb(ckpt_dir),
        }

    def solve(self) -> dict:
        ckpt = os.path.join(self.workdir, "ckpt")
        r = self._pagerank_legs(ckpt, kill_at=self.kill_at)
        shutil.rmtree(ckpt, ignore_errors=True)
        return r

    def check(self, r: dict) -> list[tuple[str, bool]]:
        got = _column_by_id(r["rows"], self.meta["n"], "rank")
        return [
            ("pagerank_scores", bool(np.allclose(got, self.want, rtol=PR_RTOL, atol=0))),
            # killed at the planned superstep, resumed, and converged in
            # the same superstep count as the uninterrupted oracle
            ("pagerank_kill_resume", r["killed"] and r["iters"] == self.iters
             and r["latest_step"] == self.iters),
        ]

    def extra_metrics(self, solves: list[dict]) -> dict:
        return {"recover_s": ("s", [r["recover_s"] for r in solves])}


class FrontierTail(_GraphWorkload):
    name = "frontier_tail"
    symmetric = True
    min_solves = 3  # a short solve whose tail supersteps swing with the box

    def __init__(self, seed: int, cache):
        self.meta = cache.get("tail", seed)
        self.want = oracle_arrays(self.meta)

    def warm_up(self) -> None:
        # CC's dense first supersteps and the triangle joins.  The
        # sparse-tail shapes only appear in CC's last supersteps; they
        # warm up in the first timed solve, which is then the slowest
        # of the three and which the median leaves out.
        def kill(it, _info):
            if it == 2:
                raise _Kill

        try:
            components(self.graph, on_superstep=kill)
        except _Kill:
            pass
        triangle_count(self.graph)

    def solve(self) -> dict:
        tr, g = self.tracer, self.graph
        t0 = time.perf_counter()
        with tr.app("components"):
            cc, cc_rounds = components(g, on_superstep=tr.step_hook("components"),
                                       edge_map_fn=tr.edge_map_fn())
            cc_rows = cc.collect()
        with tr.app("triangle_count"):
            tri = triangle_count(g)
        return {
            "solve_s": time.perf_counter() - t0,
            "cc_rows": cc_rows,
            "cc_rounds": cc_rounds,
            "triangles": tri,
        }

    def check(self, r: dict) -> list[tuple[str, bool]]:
        n = self.meta["n"]
        return [
            ("components_labels", np.array_equal(
                _column_by_id(r["cc_rows"], n, "component"), self.want["components"])),
            # pure min-label schedule: no star fallback ran
            ("components_rounds", r["cc_rounds"] == self.meta["components_rounds"]),
            ("triangle_total", r["triangles"] == self.meta["triangles"]),
        ]

    def facts(self) -> dict:
        # symmetrization is folded into materialize; time it on its own
        pages = self.spark.read.parquet(os.path.join(self.meta["dir"], "pages.parquet"))
        edges = ingest.build_edges(pages, self.dictionary)
        t0 = time.perf_counter()
        with self.tracer.span("graph.symmetrize", "graph"):
            symmetrize(edges).count()
        return {**super().facts(), "graph.symmetrize_s": time.perf_counter() - t0}


class MediaDecode(Workload):
    name = "media_decode"
    setup_reps = 4  # a sub-second set-up: more samples for the same steadiness
    min_solves = 3  # CPU-bound Python: the median of several passes

    def __init__(self, seed: int, cache):
        self.meta = cache.get("media", seed)
        self.images = {im["media_id"]: im for im in self.meta["images"]}
        self.jpeg_ids = [i for i, im in self.images.items() if im["format"].startswith("jpeg")]
        self.sources = oracle_arrays(self.meta)
        self.path = os.path.join(self.meta["dir"], "media.parquet")

    def setup(self) -> None:
        # one partition per slot; slots have near-equal decode cost
        df = self.spark.read.parquet(self.path).repartitionByRange(MEDIA_SLOTS, "slot")
        self.media = with_media_format(df).cache()
        self.media.count()

    def check_setup(self) -> list[tuple[str, bool]]:
        tags = dict(self.media.select("media_id", "format").collect())
        want = {i: im["format"].split("_")[0] for i, im in self.images.items()}
        return [("media_format_tags", tags == want)]

    def warm_up(self) -> None:
        icons = [i for i, im in self.images.items() if im["size"] == MEDIA_SIZES[0]]
        decode_images(self.media.filter(F.col("media_id").isin(icons))).count()

    def solve(self) -> dict:
        t0 = time.perf_counter()
        with self.tracer.app("decode_images", layer="functions"):
            rows = decode_images(self.media).select(
                "media_id", "height", "width", "channels",
                F.sha2("pixels", 256).alias("sha256"),
                F.when(F.col("media_id").isin(self.jpeg_ids), F.col("pixels")).alias("pixels"),
            ).collect()
        return {"solve_s": time.perf_counter() - t0, "rows": rows}

    def check(self, r: dict) -> list[tuple[str, bool]]:
        by_id = {row["media_id"]: row for row in r["rows"]}
        out = []
        for mid, im in self.images.items():
            row = by_id.get(mid)
            ok = row is not None and [row["height"], row["width"], row["channels"]] == im["shape"]
            if ok and mid in self.jpeg_ids:
                got = np.frombuffer(row["pixels"], dtype=np.uint8).reshape(im["shape"])
                ok = psnr(got, self.sources[f"src{mid}"]) >= PSNR_FLOOR_DB
            elif ok:
                ok = row["sha256"] == im["sha256"]
            out.append((f"decode_{mid}", ok))
        return out

    def extra_metrics(self, solves: list[dict]) -> dict:
        coded = self.meta["coded_bytes"] / MB
        return {"decode_mb_per_s": ("MB/s", [coded / r["solve_s"] for r in solves])}

    def facts(self) -> dict:
        """Single-threaded probe of each codec in the driver, over one
        copy of the corpus: per-format MB/s and how JPEG's per-byte
        cost grows from the smallest size class to the largest."""
        decoders = {"jpeg": (jpeg, "decode_jpeg"), "webp": (webp, "decode_webp"),
                    "gif": (gif, "decode_gif"), "png": (png, "decode_png")}
        table = pq.read_table(self.path).to_pydict()
        spent, coded, jpeg_class = {}, {}, {}
        with self.tracer.span("codec.probe", "functions"):
            for mid, payload in zip(table["media_id"], table["payload"]):
                im = self.images[mid]
                if im["copy"] != 0:
                    continue
                fmt = im["format"].split("_")[0]
                # looked up per call so a traced run sees the wrapped decoder
                decode = getattr(*decoders[fmt])
                t0 = time.perf_counter()
                decode(payload)
                dt = time.perf_counter() - t0
                spent[fmt] = spent.get(fmt, 0.0) + dt
                coded[fmt] = coded.get(fmt, 0) + len(payload)
                if fmt == "jpeg":
                    t, b = jpeg_class.get(im["size"], (0.0, 0))
                    jpeg_class[im["size"]] = (t + dt, b + len(payload))
        per_byte = {s: t / b for s, (t, b) in jpeg_class.items()}
        out = {f"codec.{fmt}_mb_per_s": coded[fmt] / MB / spent[fmt] for fmt in spent}
        out["codec.jpeg_size_ratio"] = per_byte[max(per_byte)] / per_byte[min(per_byte)]
        out["codec.images"] = sum(im["copy"] == 0 for im in self.images.values())
        out["codec.coded_mb"] = sum(coded.values()) / MB
        return out


def psnr(got: np.ndarray, want: np.ndarray) -> float:
    mse = float(np.mean((got.astype(np.float64) - want.astype(np.float64)) ** 2))
    return float("inf") if mse == 0 else 10.0 * np.log10(255.0**2 / mse)


class FrontierMedia(Workload):
    """``frontier_tail`` then ``media_decode`` in one process.  A run of
    either alone pays 20-25 s of JVM start and cold set-up that no
    metric sees; sharing them keeps both inside the run budget.  The
    traced run still splits the solve into its graph apps and
    ``decode_images``."""

    name = "frontier_media"
    min_solves = 3

    def __init__(self, seed: int, cache):
        self.parts = (FrontierTail(seed, cache), MediaDecode(seed, cache))

    def attach(self, spark, workdir: str, tracer) -> None:
        super().attach(spark, workdir, tracer)
        for p in self.parts:
            p.attach(spark, workdir, tracer)

    def setup(self) -> None:
        for p in self.parts:
            p.setup()

    def check_setup(self) -> list[tuple[str, bool]]:
        return [c for p in self.parts for c in p.check_setup()]

    def warm_up(self) -> None:
        for p in self.parts:
            p.warm_up()

    def solve(self) -> dict:
        t0 = time.perf_counter()
        parts = [p.solve() for p in self.parts]
        return {"solve_s": time.perf_counter() - t0, "parts": parts}

    def check(self, r: dict) -> list[tuple[str, bool]]:
        return [c for p, pr in zip(self.parts, r["parts"]) for c in p.check(pr)]

    def facts(self) -> dict:
        return {k: v for p in self.parts for k, v in p.facts().items()}

    def extra_metrics(self, solves: list[dict]) -> dict:
        out = {}
        for i, p in enumerate(self.parts):
            out[f"{p.name}.solve_s"] = ("s", [r["parts"][i]["solve_s"] for r in solves])
            out.update(p.extra_metrics([r["parts"][i] for r in solves]))
        return out


WORKLOADS = {w.name: w for w in (CrawlRank, FrontierTail, MediaDecode, FrontierMedia)}
