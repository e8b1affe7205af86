"""Real `spark-submit --py-files` packaging test (north rule: the
engine "submits via spark-submit --py-files to multi-executor
clusters").

No cluster exists in this sandbox, so what CAN be verified for real is
the packaging contract: build ``ligra_spark.zip`` exactly as the
documented submit line does (jobs/run_app.py:1-12), copy the job file
to a directory OUTSIDE the repo, scrub PYTHONPATH, and run the actual
``spark-submit`` binary — the ``ligra_spark`` import in the driver and
in the Python workers can then only resolve through ``--py-files``.
A broken zip (missing subpackage, repo-relative import, file access
outside the package) fails this test and would fail the same way on a
real cluster.

The submitted PageRank's scores are compared to an in-process library
run at the north rule's own tolerance (allclose 1e-6), and the
per-superstep metrics JSON the job emits is checked non-empty
(iteration-metrics evidence, BASELINE.json north_rule).
"""

import json
import os
import shutil
import subprocess
import sys
import zipfile

import numpy as np
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

pytestmark = pytest.mark.skipif(
    shutil.which("spark-submit") is None, reason="spark-submit not on PATH"
)


def _build_zip(dest: str) -> str:
    """ligra_spark.zip with the package at the archive root — the
    layout `--py-files` expects (it prepends the zip to sys.path)."""
    zpath = os.path.join(dest, "ligra_spark.zip")
    pkg = os.path.join(REPO, "ligra_spark")
    with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED) as zf:
        for root, dirs, files in os.walk(pkg):
            dirs[:] = [d for d in dirs if d != "__pycache__"]
            for name in files:
                if not name.endswith(".py"):
                    continue
                full = os.path.join(root, name)
                zf.write(full, os.path.relpath(full, REPO))
    return zpath


def test_spark_submit_pyfiles_pagerank(spark, tiny_graph, tmp_path):
    zpath = _build_zip(str(tmp_path))
    job = str(tmp_path / "run_app.py")
    shutil.copyfile(os.path.join(REPO, "jobs", "run_app.py"), job)

    edges = str(tmp_path / "edges.parquet")
    tiny_graph.edges.select("src", "dst").write.mode("overwrite").parquet(edges)
    out = str(tmp_path / "scores.parquet")

    env = dict(os.environ)
    env.pop("PYTHONPATH", None)  # imports must come from --py-files
    env["PYSPARK_PYTHON"] = sys.executable
    summary_file = "/tmp/ligra_spark_pagerank_summary.json"
    if os.path.exists(summary_file):
        os.remove(summary_file)

    proc = subprocess.run(
        [
            "spark-submit",
            "--master", "local[4]",
            "--conf", "spark.sql.shuffle.partitions=4",
            "--conf", "spark.ui.enabled=false",
            "--py-files", zpath,
            job,
            "--app", "pagerank",
            "--edges", edges,
            "--n", str(tiny_graph.n),
            "--max-iters", "5",
            "--output", out,
        ],
        cwd=str(tmp_path),  # NOT the repo — run_app's own dir trick must not help
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]

    # North-rule tolerance: per-vertex scores allclose 1e-6 vs library run.
    from ligra_spark.apps import pagerank

    expected, _ = pagerank(tiny_graph, max_iters=5)
    exp = {r["id"]: r["rank"] for r in expected.collect()}
    got = {r["id"]: r["rank"] for r in spark.read.parquet(out).collect()}
    assert set(got) == set(exp)
    ids = sorted(exp)
    assert np.allclose(
        [got[i] for i in ids], [exp[i] for i in ids], rtol=0, atol=1e-6
    )

    # Iteration metrics made it out of the submitted run.
    with open(summary_file) as f:
        summary = json.load(f)
    assert summary["supersteps"] >= 1
    assert summary["superstep_metrics"], "per-superstep metrics missing"


def test_spark_submit_bucketed_table_pagerank(spark, tiny_graph, tmp_path):
    """--bucketed-table through real spark-submit: a Hive-catalog
    bucketed edge table written by one process is loaded (bucket spec
    intact, zero-shuffle path) by the submitted job in another."""
    zpath = _build_zip(str(tmp_path))
    job = str(tmp_path / "run_app.py")
    shutil.copyfile(os.path.join(REPO, "jobs", "run_app.py"), job)
    wh = str(tmp_path / "wh")

    env = dict(os.environ)
    env.pop("PYTHONPATH", None)
    env["PYSPARK_PYTHON"] = sys.executable

    # process 1: write the bucketed table into a derby-backed Hive
    # catalog (cwd pins metastore_db under tmp_path)
    setup = str(tmp_path / "setup_table.py")
    with open(setup, "w") as f:
        f.write(
            "import sys\n"
            "from pyspark.sql import SparkSession\n"
            "from ligra_spark.sources import write_bucketed_edges\n"
            "spark = SparkSession.builder.getOrCreate()\n"
            "e = spark.read.parquet(sys.argv[1])\n"
            f"write_bucketed_edges(e, 'submit_edges_b', '{wh}/submit_edges_b', buckets=4)\n"
        )
    edges = str(tmp_path / "edges.parquet")
    tiny_graph.edges.select("src", "dst").write.mode("overwrite").parquet(edges)

    common = [
        "spark-submit",
        "--master", "local[4]",
        "--conf", "spark.sql.shuffle.partitions=4",
        "--conf", "spark.ui.enabled=false",
        "--conf", "spark.sql.catalogImplementation=hive",
        "--conf", f"spark.sql.warehouse.dir={wh}",
        "--py-files", zpath,
    ]
    proc = subprocess.run(
        common + [setup, edges],
        cwd=str(tmp_path), env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]

    # process 2: the job loads the table by name and runs pagerank
    out = str(tmp_path / "scores_b.parquet")
    proc = subprocess.run(
        common + [
            job,
            "--app", "pagerank",
            "--bucketed-table", "submit_edges_b",
            "--n", str(tiny_graph.n),
            "--max-iters", "5",
            "--output", out,
        ],
        cwd=str(tmp_path), env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]

    from ligra_spark.apps import pagerank

    expected, _ = pagerank(tiny_graph, max_iters=5)
    exp = {r["id"]: r["rank"] for r in expected.collect()}
    got = {r["id"]: r["rank"] for r in spark.read.parquet(out).collect()}
    assert set(got) == set(exp)
    ids = sorted(exp)
    assert np.allclose(
        [got[i] for i in ids], [exp[i] for i in ids], rtol=0, atol=1e-6
    )


def test_spark_submit_ecc_fm_executor_imports(spark, tiny_graph_sym, tmp_path):
    """ecc_fm through real spark-submit: its init masks come from a
    pandas UDF that calls ``ligra_spark.hashing`` inside executor Python
    workers, which can resolve the package ONLY via --py-files.  The
    eccentricities must equal the in-process run exactly."""
    zpath = _build_zip(str(tmp_path))
    job = str(tmp_path / "run_app.py")
    shutil.copyfile(os.path.join(REPO, "jobs", "run_app.py"), job)

    edges = str(tmp_path / "edges_sym.parquet")
    tiny_graph_sym.edges.select("src", "dst").write.mode("overwrite").parquet(edges)
    out = str(tmp_path / "ecc.parquet")

    env = dict(os.environ)
    env.pop("PYTHONPATH", None)
    env["PYSPARK_PYTHON"] = sys.executable

    proc = subprocess.run(
        [
            "spark-submit",
            "--master", "local[4]",
            "--conf", "spark.sql.shuffle.partitions=4",
            "--conf", "spark.ui.enabled=false",
            "--py-files", zpath,
            job,
            "--app", "ecc_fm",
            "--edges", edges,
            "--n", str(tiny_graph_sym.n),
            "--output", out,
        ],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]

    from ligra_spark.apps import ecc_fm

    expected, _ = ecc_fm(tiny_graph_sym)
    exp = sorted((r["id"], r["ecc"]) for r in expected.collect())
    got = sorted(map(tuple, spark.read.parquet(out).select("id", "ecc").collect()))
    assert got == exp
