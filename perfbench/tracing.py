"""Spans and counts at the public boundaries of each ligra_spark layer.

Tracing is off in the timed (end-to-end) runs.  When a ``Tracer`` is
enabled it wraps public names from the outside -- nothing in the
program is edited -- and records:

- spans ``(id, name, layer, parent, root, start, end)`` kept in memory
  and written as JSON when the run ends; ``root`` is the top-level span
  (one app call or one set-up step) a span belongs to;
- counts at the same boundaries (calls, edge-map branches, fallbacks);
- superstep boundaries, taken from the apps' public ``on_superstep``
  hook;
- Spark stage metrics from the local UI's REST API, one job group per
  app call (the UI is switched on in traced runs only).

``per_layer_metrics`` turns one traced run into the fixed metric set
listed in ``BENCHMARK.json``; layers a workload bypasses read zero.
"""

from __future__ import annotations

import contextlib
import importlib
import json
import os
import statistics
import time
import urllib.request
from collections import Counter, defaultdict

# names wrapped on the program's classes/modules while tracing:
# (module path, attribute path, span name, layer)
_PATCHES = (
    ("ligra_spark.ingest", "build_link_graph", "ingest.build_link_graph", "ingest"),
    ("ligra_spark.graph", "LinkGraph.materialize", "graph.materialize", "graph"),
    ("ligra_spark.engine", "IterState.advance", "engine.advance", "engine"),
    ("ligra_spark.engine", "IterState.advance_sparse", "engine.advance_sparse", "engine"),
    ("ligra_spark.checkpoint", "CheckpointManager.save", "checkpoint.save", "checkpoint"),
    ("ligra_spark.checkpoint", "CheckpointManager.load", "checkpoint.load", "checkpoint"),
    ("ligra_spark.apps.cc_star", "cc_two_phase", "engine.star_fallback", "engine"),
    ("ligra_spark.functions.jpeg", "decode_jpeg", "codec.jpeg", "functions"),
    ("ligra_spark.functions.webp", "decode_webp", "codec.webp", "functions"),
    ("ligra_spark.functions.gif", "decode_gif", "codec.gif", "functions"),
    ("ligra_spark.functions.png", "decode_png", "codec.png", "functions"),
)

LAYERS = ("ingest", "graph", "engine", "checkpoint", "apps", "functions")

# job groups with their own Spark metrics: one per app call of the solve
APP_GROUPS = (
    "pagerank",
    "pagerank_resume",
    "components",
    "triangle_count",
    "decode_images",
)
_SPARK_APP_FIELDS = ("jobs", "tasks", "shuffle_write_mb", "shuffle_read_mb", "executor_run_s")
_SPARK_TOTAL_FIELDS = (
    "jobs", "stages", "tasks", "shuffle_write_mb", "shuffle_read_mb",
    "executor_run_s", "gc_s", "spill_mb",
)

MB = 1e6


def _resolve(module: str, attr: str):
    owner = importlib.import_module(module)
    *path, name = attr.split(".")
    for p in path:
        owner = getattr(owner, p)
    return owner, name


class Tracer:
    """In-memory spans and counts; a disabled tracer records nothing and
    hands back the unwrapped callables."""

    def __init__(self, spark=None):
        self.spark = spark
        self.enabled = False
        self.spans: list[dict] = []
        self.counts: Counter = Counter()
        self.steps: dict[str, list[float]] = defaultdict(list)
        self._stack: list[int] = []
        self._originals: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------ spans
    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": sid,
            "name": name,
            "layer": layer,
            "parent": parent,
            "root": self.spans[parent]["root"] if parent is not None else sid,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    @contextlib.contextmanager
    def app(self, group: str, layer: str = "apps"):
        """One app call: a span in ``layer`` plus its own Spark job group."""
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        sc.setJobGroup(group, group)
        try:
            with self.span(f"apps.{group}", layer) as rec:
                yield rec
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    def _wrapped(self, fn, name: str, layer: str):
        tracer = self

        def traced(*args, **kwargs):
            tracer.counts[name] += 1
            with tracer.span(name, layer):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced

    # ---------------------------------------------------------- patching
    def enable(self) -> None:
        if self.enabled:
            return
        self.enabled = True
        for module, attr, name, layer in _PATCHES:
            owner, field = _resolve(module, attr)
            orig = getattr(owner, field)
            self._originals.append((owner, field, orig))
            setattr(owner, field, self._wrapped(orig, name, layer))

    def disable(self) -> None:
        for owner, field, orig in reversed(self._originals):
            setattr(owner, field, orig)
        self._originals = []
        self.enabled = False

    def edge_map_fn(self):
        """``edge_map`` to pass as an app's ``edge_map_fn``: plain when
        disabled; traced, it times plan construction (driver side) and
        counts which branch the call took."""
        from ligra_spark.engine import edge_map

        if not self.enabled:
            return edge_map
        tracer = self

        def traced_edge_map(*args, **kwargs):
            with tracer.span("engine.edge_map", "engine"):
                out = edge_map(*args, **kwargs)
            tracer.counts["engine.edge_map"] += 1
            branch = "sparse" if broadcasts_frontier(out) else "dense"
            tracer.counts[f"engine.edge_map_{branch}"] += 1
            return out

        return traced_edge_map

    def step_hook(self, group: str, then=None):
        """``on_superstep`` callback recording superstep end times for
        ``group``; ``then`` is called afterwards (e.g. to kill a run)."""
        tracer = self

        def hook(it, info):
            if tracer.enabled:
                tracer.steps[group].append(time.perf_counter())
            if then is not None:
                then(it, info)

        return hook

    # ------------------------------------------------------------ output
    def total(self, name: str) -> float:
        """Summed duration of the finished spans called ``name``."""
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name and s["end"] is not None)

    def self_times(self) -> dict[str, float]:
        """Per layer: span durations minus the part of each interval
        covered by child spans."""
        children = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                children[s["parent"]].append((s["start"], s["end"]))
        out = {layer: 0.0 for layer in LAYERS}
        for s in self.spans:
            if s["end"] is None or s["layer"] not in out:
                continue
            covered, cur_end = 0.0, s["start"]
            for a, b in sorted(children[s["id"]]):
                a = max(a, cur_end)
                if b > a:
                    covered += b - a
                    cur_end = b
            out[s["layer"]] += (s["end"] - s["start"]) - covered
        return out

    def write(self, path: str, metrics: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(
                {"spans": self.spans, "counts": dict(self.counts),
                 "steps": self.steps, "metrics": metrics},
                f,
            )


def broadcasts_frontier(msgs) -> bool:
    """Whether ``edge_map`` took its broadcast (sparse) branch, read from
    the plan it returned: the frontier side of its frontier ⋈ edges join
    (the first join from the top) carries a broadcast hint."""
    node = msgs._jdf.queryExecution().analyzed()
    while node.nodeName() != "Join":
        node = node.children().apply(0)
    left = node.left()
    return left.nodeName() == "ResolvedHint" and "broadcast" in left.hints().toString()


# ----------------------------------------------------------- Spark REST
def _get_json(url: str):
    with urllib.request.urlopen(url, timeout=10) as r:
        return json.load(r)


def spark_stage_metrics(spark) -> dict[str, dict]:
    """Per job group (and ``_total`` over the app groups): jobs, stages,
    tasks, shuffle bytes, executor run time, GC time and spill, read
    from the local UI's REST API once no job is still running."""
    sc = spark.sparkContext
    port = sc.uiWebUrl.rsplit(":", 1)[1]
    base = f"http://localhost:{port}/api/v1/applications/{sc.applicationId}"
    deadline = time.monotonic() + 30
    jobs = _get_json(f"{base}/jobs")
    while any(j["status"] == "RUNNING" for j in jobs) and time.monotonic() < deadline:
        time.sleep(0.2)
        jobs = _get_json(f"{base}/jobs")
    stages = {
        s["stageId"]: s
        for s in _get_json(f"{base}/stages?status=complete")
        if s.get("attemptId", 0) == 0
    }
    seen_stage: set[int] = set()
    out: dict[str, dict] = {}
    for j in sorted(jobs, key=lambda j: j["jobId"]):
        group = j.get("jobGroup")
        if group not in APP_GROUPS:
            continue
        rows = [out.setdefault(group, Counter()), out.setdefault("_total", Counter())]
        for acc in rows:
            acc["jobs"] += 1
        for sid in j["stageIds"]:
            s = stages.get(sid)
            if s is None or sid in seen_stage:
                continue  # skipped (reused shuffle) or counted already
            seen_stage.add(sid)
            for acc in rows:
                acc["stages"] += 1
                acc["tasks"] += s["numCompleteTasks"]
                acc["shuffle_write_mb"] += s["shuffleWriteBytes"] / MB
                acc["shuffle_read_mb"] += s["shuffleReadBytes"] / MB
                acc["executor_run_s"] += s["executorRunTime"] / 1e3
                acc["gc_s"] += s["jvmGcTime"] / 1e3
                acc["spill_mb"] += (s["memoryBytesSpilled"] + s["diskBytesSpilled"]) / MB
    return out


# ------------------------------------------------------ metric assembly
def _tail(samples: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples beyond it -- never below the median."""
    xs = sorted(samples)
    k = max(len(xs) - 11, len(xs) // 2)
    return xs[k], 100.0 * (k + 1) / len(xs)


def superstep_walls(tracer: Tracer) -> dict[str, list[float]]:
    """Per app group: wall time of each superstep, the first measured
    from the app span's start."""
    starts = {s["name"][len("apps."):]: s["start"] for s in tracer.spans
              if s["name"].startswith("apps.")}
    walls = {}
    for group, ends in tracer.steps.items():
        prev = starts.get(group, ends[0])
        ws = []
        for t in ends:
            ws.append(t - prev)
            prev = t
        walls[group] = ws
    return walls


PER_LAYER: list[tuple[str, str]] = [
    ("session.start_s", "s"),
    ("ingest.build_s", "s"),
    ("ingest.pages", "count"),
    ("ingest.links", "count"),
    ("ingest.mb_per_s", "MB/s"),
    ("graph.materialize_s", "s"),
    ("graph.symmetrize_s", "s"),
    ("graph.n", "count"),
    ("graph.m", "count"),
    ("engine.supersteps", "count"),
    ("engine.superstep_p50_s", "s"),
    ("engine.superstep_tail_s", "s"),
    ("engine.superstep_tail_pct", "%"),
    ("engine.superstep_samples", "count"),
    ("engine.advance_s", "s"),
    ("engine.advance_calls", "count"),
    ("engine.edge_map_plan_s", "s"),
    ("engine.edge_map_calls", "count"),
    ("engine.driver_s", "s"),
    ("engine.advance_sparse_s", "s"),
    ("engine.advance_sparse_calls", "count"),
    ("engine.sparse_supersteps", "count"),
    ("engine.dense_supersteps", "count"),
    ("engine.star_fallbacks", "count"),
    ("checkpoint.save_s", "s"),
    ("checkpoint.saves", "count"),
    ("checkpoint.load_s", "s"),
    ("checkpoint.loads", "count"),
    ("checkpoint.write_mb", "MB"),
    ("checkpoint.resume_first_step_s", "s"),
    ("apps.pagerank_s", "s"),
    ("apps.pagerank_supersteps", "count"),
    ("apps.pagerank_resume_s", "s"),
    ("apps.pagerank_resume_supersteps", "count"),
    ("apps.components_s", "s"),
    ("apps.components_supersteps", "count"),
    ("apps.components_tail3_s", "s"),
    ("apps.triangle_count_s", "s"),
    *[(f"spark.{f}", "count" if f in ("jobs", "stages", "tasks") else
       ("MB" if f.endswith("_mb") else "s")) for f in _SPARK_TOTAL_FIELDS],
    ("spark.jobs_per_superstep", "count"),
    *[(f"spark.{g}.{f}", "count" if f in ("jobs", "tasks") else
       ("MB" if f.endswith("_mb") else "s"))
      for g in APP_GROUPS for f in _SPARK_APP_FIELDS],
    ("codec.jpeg_mb_per_s", "MB/s"),
    ("codec.webp_mb_per_s", "MB/s"),
    ("codec.gif_mb_per_s", "MB/s"),
    ("codec.png_mb_per_s", "MB/s"),
    ("codec.jpeg_size_ratio", "ratio"),
    ("codec.images", "count"),
    ("codec.coded_mb", "MB"),
    ("media.decode_images_s", "s"),
    *[(f"self.{layer}_s", "s") for layer in LAYERS],
    ("trace.overhead", "s"),
    ("trace.spans", "count"),
]


def per_layer_metrics(tracer: Tracer, facts: dict, spark_metrics: dict) -> dict:
    """Assemble every PER_LAYER metric from one traced run.  ``facts``
    holds what the workload measured itself (sizes, probe timings,
    overhead); anything absent reads zero."""
    m = dict.fromkeys((name for name, _ in PER_LAYER), 0.0)
    m.update({k: v for k, v in facts.items() if k in m})

    m["ingest.build_s"] = tracer.total("ingest.build_link_graph")
    m["graph.materialize_s"] = tracer.total("graph.materialize")
    if m["ingest.build_s"] > 0:
        m["ingest.mb_per_s"] = facts.get("ingest.html_mb", 0.0) / (
            m["ingest.build_s"] + m["graph.materialize_s"]
        )

    walls = superstep_walls(tracer)
    all_walls = [w for ws in walls.values() for w in ws]
    m["engine.supersteps"] = len(all_walls)
    if all_walls:
        m["engine.superstep_p50_s"] = statistics.median(all_walls)
        m["engine.superstep_tail_s"], m["engine.superstep_tail_pct"] = _tail(all_walls)
    m["engine.superstep_samples"] = len(all_walls)
    m["engine.advance_s"] = tracer.total("engine.advance")
    m["engine.advance_calls"] = tracer.counts["engine.advance"]
    m["engine.advance_sparse_s"] = tracer.total("engine.advance_sparse")
    m["engine.advance_sparse_calls"] = tracer.counts["engine.advance_sparse"]
    m["engine.edge_map_plan_s"] = tracer.total("engine.edge_map")
    m["engine.edge_map_calls"] = tracer.counts["engine.edge_map"]
    m["engine.sparse_supersteps"] = tracer.counts["engine.edge_map_sparse"]
    m["engine.dense_supersteps"] = tracer.counts["engine.edge_map_dense"]
    m["engine.star_fallbacks"] = tracer.counts["engine.star_fallback"]
    if all_walls:
        m["engine.driver_s"] = sum(all_walls) - m["engine.advance_s"] - m["engine.advance_sparse_s"]

    m["checkpoint.save_s"] = tracer.total("checkpoint.save")
    m["checkpoint.saves"] = tracer.counts["checkpoint.save"]
    m["checkpoint.load_s"] = tracer.total("checkpoint.load")
    m["checkpoint.loads"] = tracer.counts["checkpoint.load"]
    if walls.get("pagerank_resume"):
        m["checkpoint.resume_first_step_s"] = walls["pagerank_resume"][0]

    for group in ("pagerank", "pagerank_resume", "components", "triangle_count"):
        m[f"apps.{group}_s"] = tracer.total(f"apps.{group}")
        if f"apps.{group}_supersteps" in m:
            m[f"apps.{group}_supersteps"] = len(walls.get(group, []))
    if walls.get("components"):
        m["apps.components_tail3_s"] = sum(walls["components"][-3:])
    m["media.decode_images_s"] = tracer.total("apps.decode_images")

    total = spark_metrics.get("_total", {})
    for f in _SPARK_TOTAL_FIELDS:
        m[f"spark.{f}"] = total.get(f, 0)
    iter_jobs = sum(
        spark_metrics.get(g, {}).get("jobs", 0) for g in walls
    )
    if all_walls:
        m["spark.jobs_per_superstep"] = iter_jobs / len(all_walls)
    for g in APP_GROUPS:
        for f in _SPARK_APP_FIELDS:
            m[f"spark.{g}.{f}"] = spark_metrics.get(g, {}).get(f, 0)

    for layer, t in tracer.self_times().items():
        m[f"self.{layer}_s"] = t
    m["trace.spans"] = len(tracer.spans)
    return m
