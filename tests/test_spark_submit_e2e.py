"""End-to-end `spark-submit --py-files` on a multi-executor master.

The north rule's deployment clause (BASELINE.json): the job "runs via
spark-submit --py-files on a multi-executor cluster". This test runs it —
literally: the engine package is zipped, the job scripts are copied to a
NEUTRAL directory (so the repo root is not importable from the driver's
cwd or the script's parent, and every quickb_spark import on the driver
AND the executors must come from the --py-files zip), and both jobs run
under `spark-submit --master local-cluster[2,2,2048]` — two separate
executor JVMs, each forking its own Python workers.

Assertions:
  * the cluster-submitted build produces a complete committed index;
  * the cluster-submitted query job writes top-k results;
  * those results are RANK-IDENTICAL (ids exact, scores to 1e-6) to an
    in-process build+serve over the same corpus and config — i.e. the
    deployment path changes nothing about what the engine computes.
"""

from __future__ import annotations

import os
import subprocess
import sys
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPARK_SUBMIT = os.path.join(
    os.path.dirname(__import__("pyspark").__file__), "bin", "spark-submit"
)

N_DOCS = 300
N_QUERIES = 6
BUILD_ARGS = [
    "--term-buckets", "8",
    "--wave-size", "8",
]


def _zip_package(dest: str) -> None:
    pkg = os.path.join(REPO, "quickb_spark")
    with zipfile.ZipFile(dest, "w", zipfile.ZIP_DEFLATED) as zf:
        for root, _dirs, files in os.walk(pkg):
            if "__pycache__" in root:
                continue
            for name in files:
                if not name.endswith(".py"):
                    continue
                full = os.path.join(root, name)
                zf.write(full, os.path.relpath(full, REPO))


def _submit(script: str, script_args: list[str], cwd: str, zip_path: str) -> None:
    env = dict(os.environ)
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    # the driver must NOT see the repo via PYTHONPATH — only the zip
    env.pop("PYTHONPATH", None)
    out = subprocess.run(
        [
            SPARK_SUBMIT,
            "--master", "local-cluster[2,2,2048]",
            "--conf", "spark.ui.enabled=false",
            "--conf", "spark.sql.shuffle.partitions=8",
            "--conf", "spark.executor.memory=1500m",
            "--conf", "spark.scheduler.minRegisteredResourcesRatio=1.0",
            "--conf", "spark.scheduler.maxRegisteredResourcesWaitingTime=90s",
            "--py-files", zip_path,
            os.path.join(cwd, script),
            *script_args,
        ],
        cwd=cwd,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert out.returncode == 0, (
        f"spark-submit {script} failed\n--- stdout ---\n{out.stdout[-3000:]}"
        f"\n--- stderr ---\n{out.stderr[-3000:]}"
    )


def test_spark_submit_py_files_cluster_e2e(spark, tmp_path):
    from pyspark.sql import functions as F

    from quickb_spark.config import EngineConfig, IndexConfig
    from quickb_spark.corpus import fixture_queries, generate_documents_df
    from quickb_spark.index.segments import build_index
    from quickb_spark.query.searcher import Searcher

    work = str(tmp_path)
    corpus = os.path.join(work, "corpus")
    queries_pq = os.path.join(work, "queries")
    idx = os.path.join(work, "idx_cluster")
    out = os.path.join(work, "topk")

    generate_documents_df(spark, N_DOCS, seed=7, partitions=4).write.parquet(corpus)
    qset = fixture_queries()[:N_QUERIES]
    spark.createDataFrame(qset, ["query_id", "query_text"]).coalesce(1).write.parquet(
        queries_pq
    )

    zip_path = os.path.join(work, "quickb_spark.zip")
    _zip_package(zip_path)
    # neutral copies: dirname(dirname(script)) is tmp_path's parent, not the
    # repo, so the scripts' sys.path fallback cannot reach the working tree
    for job in ("build_index.py", "run_queries.py"):
        with open(os.path.join(REPO, "jobs", job)) as f:
            src = f.read()
        with open(os.path.join(work, job), "w") as f:
            f.write(src)

    _submit(
        "build_index.py",
        ["--input", corpus, "--index-dir", idx, *BUILD_ARGS],
        work,
        zip_path,
    )
    stats = os.path.join(idx, "meta", "stats.json")
    assert os.path.exists(stats), "cluster build committed no stats.json"

    _submit(
        "run_queries.py",
        ["--index-dir", idx, "--queries", queries_pq, "--k", "5",
         "--output", out],
        work,
        zip_path,
    )

    got = (
        spark.read.parquet(out)
        .select("query_id", "rank", "doc_id", F.round("score", 6).alias("score"))
        .collect()
    )
    assert got, "cluster-submitted query job returned no rows"

    # reference: same corpus + config, built and served in THIS process
    idx_local = os.path.join(work, "idx_local")
    cfg = EngineConfig(
        index=IndexConfig(term_buckets=8)
    )
    build_index(
        spark, index_dir=idx_local, cfg=cfg, wave_size=8,
        documents=spark.read.parquet(corpus), corpus_uri=corpus,
    )
    want = (
        Searcher(spark, idx_local)
        .topk(qset, k=5)
        .toDF()
        .select("query_id", "rank", "doc_id", F.round("score", 6).alias("score"))
        .collect()
    )
    assert sorted(map(tuple, got)) == sorted(map(tuple, want)), (
        "spark-submit cluster results differ from in-process results"
    )
