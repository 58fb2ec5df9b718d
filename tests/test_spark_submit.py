"""The north-rule deployment clause: the engine runs via
``spark-submit --py-files engine.zip run_crawl_job.py`` — the package is
shipped as a zip (driver AND python workers import it from there, i.e.
the same mechanism a multi-executor cluster uses), and the submitted job
produces the crawl log, final state and metrics of the in-process
simulator, then resumes as a no-op when re-submitted (Q14 exactly-once).

Reference parity: the reference deploys crawlers as ansible-shipped
processes (reference: ansible/roles/crawler); here deployment is the
standard Spark artifact path. Sandbox stand-in for "multi-executor": the
submit runs at a parallelism level (local[4]) different from the
test session's, so equality also re-evidences partitioning independence
across the deployment boundary.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import zipfile

import pytest

from scrapy_cluster_test_spark import datagen

from . import crawl_oracle as oracle

N_IMAGES = 300
N_SEEDS = 12
BUDGET_SCALE = 0.1
MAX_EPOCHS = 40

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = "/tmp/sct_submit"
DATA = f"{WORK}/data"
JOB_SUB = f"{WORK}/job_submit"

SPARK_SUBMIT = shutil.which("spark-submit")


def _zip_engine(dest: str) -> None:
    pkg = os.path.join(ROOT, "scrapy_cluster_test_spark")
    with zipfile.ZipFile(dest, "w", zipfile.ZIP_DEFLATED) as z:
        for dirpath, _dirs, files in os.walk(pkg):
            if "__pycache__" in dirpath:
                continue
            for f in files:
                if not f.endswith(".py"):
                    continue
                full = os.path.join(dirpath, f)
                z.write(full, os.path.relpath(full, ROOT))


def _submit(job_dir: str, cwd: str, env: dict) -> dict:
    cmd = [
        SPARK_SUBMIT,
        "--master", "local[4]",
        "--driver-memory", "4g",
        "--conf", "spark.ui.enabled=false",
        "--py-files", os.path.join(cwd, "engine.zip"),
        os.path.join(cwd, "run_crawl_job.py"),
        "--data-dir", DATA,
        "--job-dir", job_dir,
        "--n-images", str(N_IMAGES),
        "--max-epochs", str(MAX_EPOCHS),
    ]
    out = subprocess.run(
        cmd, cwd=cwd, env=env, capture_output=True, text=True, timeout=600
    )
    assert out.returncode == 0, out.stderr[-4000:]
    # the summary is the last JSON line on stdout
    lines = [ln for ln in out.stdout.splitlines() if ln.startswith("{")]
    assert lines, out.stdout[-2000:]
    return json.loads(lines[-1])


@pytest.mark.skipif(SPARK_SUBMIT is None, reason="spark-submit not on PATH")
def test_spark_submit_py_files_matches_inprocess(spark):
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    datagen.generate_all(
        spark, DATA, n_images=N_IMAGES, n_seeds=N_SEEDS, budget_scale=BUDGET_SCALE
    )

    # stage an isolated submit dir: the script WITHOUT the package next to
    # it, so imports can only resolve through --py-files
    _zip_engine(os.path.join(WORK, "engine.zip"))
    shutil.copy(os.path.join(ROOT, "run_crawl_job.py"), WORK)
    env = {
        k: v
        for k, v in os.environ.items()
        # scrub anything that could leak the repo onto the submit's path
        if k not in ("PYTHONPATH",)
    }
    summary_sub = _submit(JOB_SUB, WORK, env)

    sim = oracle.simulate_universe(
        DATA, N_IMAGES, N_SEEDS, max_epochs=MAX_EPOCHS, budget_scale=BUDGET_SCALE
    )
    assert summary_sub["done"]
    assert summary_sub["total_fetched"] == len(sim.crawl_log)
    oracle.assert_matches_simulator(spark, JOB_SUB, sim)

    # re-submitting the finished job resumes from the last committed epoch
    # and is a no-op: same totals, no new epochs
    summary_again = _submit(JOB_SUB, WORK, env)
    assert summary_again["total_fetched"] == summary_sub["total_fetched"]
    assert summary_again["epochs"] == summary_sub["epochs"]
    oracle.assert_matches_simulator(spark, JOB_SUB, sim)
