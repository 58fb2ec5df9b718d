"""Job-dir writer lease + commit fencing (locking.py, epoch.run_crawl).

The reference runs one spider process per job and relies on Mongo for
state; two spiders on the same job would interleave writes silently.
Here the failure is made loud: a second live run_crawl on the same
job_dir raises WriterConflict, a crashed writer's lease self-heals, and
a usurped (zombie) writer aborts at the fence instead of publishing a
_COMMIT marker."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

from scrapy_cluster_test_spark import datagen, locking
from scrapy_cluster_test_spark.plans import epoch as ep

DATA = "/tmp/sct_joblock_data"


@pytest.fixture(scope="module")
def universe(spark):
    datagen.generate_all(spark, DATA, n_images=300, n_seeds=6)
    return DATA


def _params(job_dir, **kw):
    kw.setdefault("max_epochs", 3)
    return ep.CrawlParams(
        images_path=f"{DATA}/images.parquet",
        seeds_path=f"{DATA}/seeds.parquet",
        domains_path=f"{DATA}/domains.parquet",
        robots_path=f"{DATA}/robots.parquet",
        job_dir=job_dir,
        n_images=300,
        seller_cap=30,
        asin_cap=20,
        **kw,
    )


def _dead_pid() -> int:
    proc = subprocess.run(
        [sys.executable, "-c", "import os; print(os.getpid())"],
        capture_output=True,
        text=True,
    )
    return int(proc.stdout.strip())


def test_second_live_writer_conflicts(spark, universe, tmp_path):
    job = str(tmp_path / "job")
    with open(job + ".lock", "w") as f:
        f.write(str(os.getpid()))  # this very process: definitely alive
    try:
        with pytest.raises(locking.WriterConflict, match="live process"):
            ep.run_crawl(spark, _params(job, lock_timeout_s=0.3))
        assert not os.path.isdir(job)  # nothing was written
    finally:
        os.unlink(job + ".lock")


def test_crashed_writer_lease_breaks_and_resumes(spark, universe, tmp_path):
    job = str(tmp_path / "job")
    summary = ep.run_crawl(spark, _params(job, max_epochs=1))
    assert summary["epochs"] == 1 and not summary["done"]
    assert not os.path.exists(job + ".lock")  # released on clean exit
    # a crashed writer strands its lease mid-crawl
    with open(job + ".lock", "w") as f:
        f.write(str(_dead_pid()))
    resumed = ep.run_crawl(spark, _params(job), resume=True)
    assert resumed["epochs"] > 1
    assert not os.path.exists(job + ".lock")


def test_fence_blocks_usurped_commit(spark, universe, tmp_path):
    """A writer whose lease is gone at publish time must not commit."""
    job = str(tmp_path / "job")
    ep.run_crawl(spark, _params(job, max_epochs=1))
    state = ep.read_commit(job, 1)
    with pytest.raises(locking.WriterConflict, match="lost before committing"):
        ep.run_epoch(
            spark,
            _params(job),
            2,
            state["seq_base"],
            prev_state=state,
            fence=lambda: False,
        )
    # the aborted epoch is invisible: no marker, resume point unchanged
    assert ep.last_committed_epoch(job) == 1
    # and a healthy writer simply redoes epoch 2 over the orphan files
    resumed = ep.run_crawl(spark, _params(job), resume=True)
    assert resumed["epochs"] >= 2
    assert ep.last_committed_epoch(job) >= 2


def test_lock_yields_path_and_owns_lock(tmp_path):
    target = str(tmp_path / "t")
    with locking.pid_lock(target, what="test") as lock:
        assert lock == target + ".lock"
        assert locking.owns_lock(lock)
        # usurpation flips ownership without touching the holder
        with open(lock, "w") as f:
            f.write(str(_dead_pid()))
        assert not locking.owns_lock(lock)
        # holder must NOT delete a lease it no longer owns on exit
    assert os.path.exists(lock)
    os.unlink(lock)
