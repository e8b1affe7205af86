"""Durable per-superstep checkpointing with lineage + iteration metrics.

The north rule requires every superstep to checkpoint frontier/score
DataFrames so runs resume mid-algorithm — a capability the reference
lacks (results are discarded, ``/root/reference/README.md:430-431``).

Layout (an Iceberg-shaped table layout on plain parquet — the sandbox
has no Iceberg runtime jar; on a real cluster swap ``_write``/``_read``
for ``writeTo(...).createOrReplace()`` / ``spark.read.table`` and the
metadata JSON for Iceberg snapshot properties):

    <root>/<name>/step=<k>/part-*.parquet     data, partitioned layout
    <root>/<name>/step=<k>/_META.json         superstep metadata:
        {superstep, metrics{...}, num_partitions, schema, files[...],
         committed_at_step}                    per-partition lineage =
                                               the file list, each file
                                               holding one hash bucket

One durable superstep is ONE Spark query: ``save`` writes the
superstep's plan, hash-repartitioned on ``id``, with the caller's
convergence aggregates attached as an ``observe`` above the last
exchange, so the write's result stage computes them exactly once.  The
observed values go into ``_META.json``'s ``metrics``, and the returned
state is a re-read of the written files with the schema recorded in
``_META.json`` — no schema-inference job, no cache, no second action.
``load`` (resume) reads the same way.

Writes are atomic-by-rename of _META.json: a crash mid-write leaves no
_META.json, so ``latest_step`` never returns a torn checkpoint.
"""

from __future__ import annotations

import json
import os
import re

from pyspark.sql import Column, DataFrame, Observation, Row, SparkSession
from pyspark.sql.types import StructType

__all__ = ["CheckpointManager"]

_STEP_RE = re.compile(r"^step=(\d+)$")


class CheckpointManager:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    # ------------------------------------------------------------------
    def _dir(self, name: str, step: int) -> str:
        return os.path.join(self.root, name, f"step={step}")

    def save(
        self,
        df: DataFrame,
        name: str,
        step: int,
        metrics: dict,
        num_partitions: int | None = None,
        aggs: tuple[Column, ...] = (),
    ) -> tuple[DataFrame, Row]:
        """Write a superstep's state in one Spark query; returns
        (re-read DataFrame, Row of ``aggs`` observed on the write).
        The plan lineage of the re-read roots at the files (truncation
        for free), and ``_META.json`` records ``metrics`` plus the
        observed values.

        The write preserves hash-bucket layout: the DataFrame is
        repartitioned on ``id`` so each output file is one hash bucket
        (per-partition lineage), and the re-read is repartitioned the
        same way so co-partitioned joins keep working.
        """
        d = self._dir(name, step)
        out = df
        if num_partitions and "id" in df.columns:
            out = df.repartition(num_partitions, "id")
        if aggs:
            # above the exchange: the result stage sees each row once
            obs = Observation()
            out = out.observe(obs, *aggs)
        out.write.mode("overwrite").parquet(d)
        observed = obs.get if aggs else {}
        files = sorted(
            f for f in os.listdir(d) if f.endswith(".parquet") and not f.startswith("_")
        )
        meta = {
            "superstep": step,
            "metrics": {**metrics, **observed},
            "num_partitions": num_partitions,
            "schema": df.schema.jsonValue(),
            "files": files,
        }
        tmp = os.path.join(d, "_META.json.tmp")
        with open(tmp, "w") as f:
            # default=str: decimal aggregates (exact hash sums) as text
            json.dump(meta, f, default=str)
        os.rename(tmp, os.path.join(d, "_META.json"))
        return self._read(d, df.schema, num_partitions), Row(**observed)

    def load(self, name: str, step: int, num_partitions: int | None = None) -> DataFrame:
        schema = StructType.fromJson(self.metadata(name, step)["schema"])
        return self._read(self._dir(name, step), schema, num_partitions)

    def _read(self, d: str, schema: StructType, num_partitions: int | None):
        # the recorded schema spares Spark its footer-inference job
        df = self.spark.read.schema(schema).parquet(d)
        if num_partitions and "id" in schema.fieldNames():
            df = df.repartition(num_partitions, "id")
        return df

    # ------------------------------------------------------------------
    def steps(self, name: str) -> list[int]:
        """Committed (non-torn) supersteps, ascending."""
        base = os.path.join(self.root, name)
        if not os.path.isdir(base):
            return []
        out = []
        for entry in os.listdir(base):
            m = _STEP_RE.match(entry)
            if m and os.path.exists(os.path.join(base, entry, "_META.json")):
                out.append(int(m.group(1)))
        return sorted(out)

    def latest_step(self, name: str) -> int | None:
        s = self.steps(name)
        return s[-1] if s else None

    def metadata(self, name: str, step: int) -> dict:
        with open(os.path.join(self._dir(name, step), "_META.json")) as f:
            return json.load(f)

    def prune(self, name: str, keep_last: int = 2) -> None:
        """Drop all but the newest ``keep_last`` checkpoints (bounded
        storage for 100-superstep runs)."""
        import shutil

        for s in self.steps(name)[:-keep_last]:
            shutil.rmtree(self._dir(name, s), ignore_errors=True)
