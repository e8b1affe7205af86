"""Per-partition CSR execution backend for the dense superstep hot path.

The join engine (:mod:`.engine`) expresses ``edgeMap`` as
frontier ⋈ edges → groupBy(dst).agg(monoid) — one JVM-side shuffle per
superstep.  This module is the alternative PHYSICAL backend the north
star names explicitly: "adjacency stored as per-partition CSR arrays
inside grouped pandas UDFs".  Semantics are identical to
:func:`ligra_spark.engine.edge_map` for the two monoids the iterative
headliners need (``sum`` for PageRank shares, ``min`` for
components / label propagation); the tests pin cross-backend equality
(allclose 1e-9 scores, exact labels) and both backends are benchmarked
against each other in ``tools/bench_csr.py`` — ship numbers, not vibes.

Layout
------
Edges are split into ``P`` residue classes ``part = src mod P`` (modulo,
NOT hash, so the per-partition gather index is exactly ``id // P`` — an
O(1) vectorized scatter/gather with no searchsorted).  Each part is
packed ONCE (``pack_csr``) into a dst-run CSR triple, stored as one
``.npz`` under ``pack_dir``:

    esrc_div[m_p]  src // P per edge, in dst-sorted order
    udst[u_p]      unique destination ids of this part's edges
    ustart[u_p]    run offsets into esrc_div (np.*.reduceat layout)

plus a JSON ``manifest.json`` (n, P, per-part file map) committed last —
the same atomic-manifest pattern as :mod:`.checkpoint`.  The pack is
written executor-side (``groupBy(part).applyInPandas`` writer); on a
real cluster ``pack_dir`` lives on shared storage, the same contract as
checkpoint dirs.

Superstep
---------
``csr_edge_map`` groups the (id, payload) frontier by ``pmod(id, P)``
and runs a numpy kernel per part inside ``applyInPandas``:

    x[ids // P] = payload                  # scatter (identity elsewhere)
    vals = x[esrc_div]                     # gather: one value per edge
    partial = ufunc.reduceat(vals, ustart) # segment-reduce per dst run
    emit (udst, partial)                   # ≤ u_p rows, pre-combined

then one ``groupBy(id).agg`` over the per-part partials — the same
final-combine shuffle shape as the join engine's map-side partial aggs.
Per superstep the wire carries the n-row frontier (Arrow, into Python)
plus the ≤ Σu_p partial rows back; the packed edge arrays NEVER move —
each Python worker memoizes the parts it has loaded
(``spark.python.worker.reuse`` keeps workers alive), so steady-state
supersteps read edges from process memory, falling back to the OS page
cache on a cold worker.

Scale notes: pack ``P`` independently of ``num_partitions`` — pick it so
m/P edge rows fit one Arrow group comfortably (≤ ~10M edges / ~160 MB a
part); the worker cache holds the parts a worker has served
(≤ 16 B × m/P each, LRU-capped at ``_CACHE_CAP`` parts per process).

Reference parity: this is the same physical idea as Ligra's CSR
in-memory layout (``/root/reference/ligra/graph.h:98-128`` neighbor
arrays + ``ligra/ligra.h:233-299`` edgeMapDense over them), re-homed to
one CSR per partition instead of one per machine.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import engine

__all__ = ["CsrPack", "pack_csr", "load_pack", "csr_edge_map", "make_csr_edge_map"]

# identity element for the min monoid: any real label is < n << 2^62
_MIN_SENTINEL = np.int64(1) << 62

# per-worker-process memoized part arrays: {(pack_dir, part): dict}
_PART_CACHE: dict[tuple[str, int], dict] = {}
_CACHE_CAP = 64  # parts per worker process (~16 B × m/P each)


@dataclass(frozen=True)
class CsrPack:
    """Handle to a packed per-partition CSR adjacency on disk."""

    pack_dir: str
    n: int
    m: int
    parts: int
    part_files: dict[int, str]  # part -> filename (relative to pack_dir)
    weighted: bool = False


def pack_csr(graph, pack_dir: str, parts: int | None = None) -> CsrPack:
    """Pack ``graph.edges`` into per-partition CSR files (once, executor-side).

    ``parts`` defaults to the graph's partition count; at scale choose it
    so one part's edges (m/parts rows) fit a single Arrow group.
    """
    P = int(parts or graph.num_partitions)
    os.makedirs(pack_dir, exist_ok=True)
    weighted = "weight" in graph.edges.columns

    def _writer(key, pdf: pd.DataFrame) -> pd.DataFrame:
        part = int(key[0])
        src = pdf["src"].to_numpy(np.int64)
        dst = pdf["dst"].to_numpy(np.int64)
        order = np.argsort(dst, kind="stable")
        dst_sorted = dst[order]
        arrays = {
            "esrc_div": src[order] // P,
        }
        arrays["udst"], arrays["ustart"] = np.unique(dst_sorted, return_index=True)
        if weighted:
            arrays["w"] = pdf["weight"].to_numpy(np.int64)[order]
        fname = f"part-{part:05d}.npz"
        path = os.path.join(pack_dir, fname)
        tmp = f"{path}.tmp.{os.getpid()}"
        with open(tmp, "wb") as f:
            np.savez(f, **arrays)
        os.replace(tmp, path)  # atomic publish, idempotent under task retry
        return pd.DataFrame({"part": [part], "m": [len(src)], "file": [fname]})

    cols = ["src", "dst"] + (["weight"] if weighted else [])
    rows = (
        graph.edges.select(*cols)
        .withColumn("part", F.pmod(F.col("src"), F.lit(P)).cast("int"))
        .groupBy("part")
        .applyInPandas(_writer, schema="part int, m long, file string")
        .collect()
    )
    part_files = {int(r["part"]): r["file"] for r in rows}
    manifest = {
        "n": graph.n,
        "m": graph.m,
        "parts": P,
        "weighted": weighted,
        "part_files": {str(k): v for k, v in sorted(part_files.items())},
    }
    tmp = os.path.join(pack_dir, f"manifest.json.tmp.{os.getpid()}")
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    os.replace(tmp, os.path.join(pack_dir, "manifest.json"))
    return CsrPack(pack_dir, graph.n, graph.m, P, part_files, weighted)


def load_pack(pack_dir: str) -> CsrPack:
    """Reopen a committed pack from its manifest."""
    with open(os.path.join(pack_dir, "manifest.json")) as f:
        man = json.load(f)
    return CsrPack(
        pack_dir,
        int(man["n"]),
        int(man["m"]),
        int(man["parts"]),
        {int(k): v for k, v in man["part_files"].items()},
        bool(man.get("weighted", False)),
    )


def _load_part(pack_dir: str, fname: str, part: int) -> dict:
    key = (pack_dir, part)
    arrs = _PART_CACHE.get(key)
    if arrs is None:
        with np.load(os.path.join(pack_dir, fname)) as z:
            arrs = {k: z[k] for k in z.files}
        if len(_PART_CACHE) >= _CACHE_CAP:
            _PART_CACHE.pop(next(iter(_PART_CACHE)))
        _PART_CACHE[key] = arrs
    return arrs


def csr_edge_map(
    spark_or_pack,
    frontier: DataFrame,
    mode: str,
    pack: CsrPack | None = None,
) -> DataFrame:
    """One gather-scatter pass over the packed adjacency.

    frontier : DataFrame(id, payload) — payload double for ``mode="sum"``
               (PageRank shares), long for ``mode="min"`` (labels).
    Returns (id, agg) for every vertex that received ≥1 message, exactly
    :func:`ligra_spark.engine.edge_map`'s contract.  ``mode="sum"``
    additionally masks zero-information dsts only when the frontier is
    sparse — tracked with a receive-mark reduce, one extra O(m_p) pass.
    """
    if pack is None:  # (pack, frontier, mode) calling convention
        pack = spark_or_pack
    if mode not in ("sum", "min", "min_plus", "or"):
        raise ValueError(f"unsupported monoid {mode!r}")
    if mode == "min_plus" and not pack.weighted:
        raise ValueError("min_plus needs a pack built from a weighted edge table")
    pack_dir, P, n = pack.pack_dir, pack.parts, pack.n
    part_files = pack.part_files
    xlen = (n - 1) // P + 1
    is_sum = mode == "sum"
    out_schema = "id long, agg double" if is_sum else "id long, agg long"
    empty = pd.DataFrame(
        {"id": np.array([], np.int64),
         "agg": np.array([], np.float64 if is_sum else np.int64)}
    )

    def _receive_mask(idx, arrs):
        """Which dst runs saw ≥1 FRONTIER edge — the edge_map contract's
        'received a message' filter, one extra O(m_p) int8 pass."""
        mark = np.zeros(xlen, bool)
        mark[idx] = True
        return np.maximum.reduceat(
            mark[arrs["esrc_div"]].astype(np.int8), arrs["ustart"]
        ).astype(bool)

    def _kernel(key, pdf: pd.DataFrame) -> pd.DataFrame:
        part = int(key[0])
        fname = part_files.get(part)
        if fname is None or len(pdf) == 0:
            return empty
        arrs = _load_part(pack_dir, fname, part)
        ids = pdf["id"].to_numpy(np.int64)
        idx = ids // P
        if mode in ("sum", "or"):
            if is_sum:
                x = np.zeros(xlen, np.float64)
                x[idx] = pdf["payload"].to_numpy(np.float64)
                partial = np.add.reduceat(x[arrs["esrc_div"]], arrs["ustart"])
            else:
                x = np.zeros(xlen, np.int64)
                x[idx] = pdf["payload"].to_numpy(np.int64)
                partial = np.bitwise_or.reduceat(
                    x[arrs["esrc_div"]], arrs["ustart"]
                )
            if len(ids) < xlen:  # sparse frontier: mask no-message dsts
                got = _receive_mask(idx, arrs)
                return pd.DataFrame({"id": arrs["udst"][got], "agg": partial[got]})
            return pd.DataFrame({"id": arrs["udst"], "agg": partial})
        x = np.full(xlen, _MIN_SENTINEL, np.int64)
        x[idx] = pdf["payload"].to_numpy(np.int64)
        vals = x[arrs["esrc_div"]]
        if mode == "min_plus":  # writeMin(dist + weight); weights may be
            # negative (Bellman-Ford), so re-pin unset srcs explicitly
            unset = vals == _MIN_SENTINEL
            vals = vals + arrs["w"]
            vals[unset] = _MIN_SENTINEL
        partial = np.minimum.reduceat(vals, arrs["ustart"])
        got = partial != _MIN_SENTINEL
        return pd.DataFrame({"id": arrs["udst"][got], "agg": partial[got]})

    partials = (
        frontier.select("id", "payload")
        .withColumn("part", F.pmod(F.col("id"), F.lit(P)).cast("int"))
        .groupBy("part")
        .applyInPandas(_kernel, schema=out_schema)
    )
    agg = F.sum if is_sum else F.bit_or if mode == "or" else F.min
    return partials.groupBy("id").agg(agg("agg").alias("agg"))


def make_csr_edge_map(pack: CsrPack, sparse_fallback: bool = True):
    """Adapter with :func:`ligra_spark.engine.edge_map`'s signature, for
    the apps' ``edge_map_fn`` hook — the payload column is the (single)
    ``extra_frontier_cols`` entry, the monoid is ``F.sum``/``F.min``.

    ``sparse_fallback`` is Ligra's sparse/dense direction switch applied
    ACROSS backends (``ligra/ligra.h:237,261``): when the frontier is
    below the engine's broadcast threshold, route the pass to the join
    engine's sparse path (broadcast frontier, partition-local BHJ) —
    a tiny frontier doesn't amortize the Python roundtrip, and measured
    CC wall time with the fallback recovers the join engine's
    convergence-tail speed (CSR_BACKEND_r03.json).
    """

    def _em(
        graph,
        frontier: DataFrame,
        message,
        aggregate,
        frontier_size=None,
        in_edges: bool = False,
        extra_frontier_cols=(),
        group_frontier_cols=(),
    ) -> DataFrame:
        if in_edges or group_frontier_cols or len(extra_frontier_cols) != 1:
            raise NotImplementedError(
                "CSR backend covers the single-payload out-edge hot path"
            )
        if sparse_fallback and engine.frontier_is_sparse(frontier_size, graph.m):
            return engine.edge_map(
                graph,
                frontier,
                message,
                aggregate,
                frontier_size=frontier_size,
                extra_frontier_cols=extra_frontier_cols,
            )
        mode = (
            "sum"
            if aggregate is F.sum
            else "min"
            if aggregate is F.min
            else "or"
            if aggregate is F.bit_or
            else None
        )
        if mode is None:
            raise NotImplementedError(
                f"CSR backend monoids: sum, min, bit_or (got {aggregate})"
            )
        if mode == "min" and "weight" in str(message):
            # writeMin(payload + weight) — Bellman-Ford's relaxation
            mode = "min_plus"
        payload = extra_frontier_cols[0]
        return csr_edge_map(
            pack, frontier.select("id", F.col(payload).alias("payload")), mode
        )

    return _em
