"""The concurrent post-commit tail (epoch.run_epoch): every per-epoch
job after the commit checkpoint (the delta write and compaction, bloom
maintenance, the carry checkpoints, the pipelined next-epoch pop,
child_ctx, metrics) runs from driver threads. Two contracts pin the
concurrency down:

1. output-identity — the overlap and the pipelined pop are pure latency
   hiding: the crawl equals the single-threaded simulator, which runs
   every step of an epoch serially and pops only after the commit;
2. crash-atomicity — a tail job failing means the epoch's _COMMIT is
   never published, so resume discards the partial epoch and converges
   to the uninterrupted run (the same contract the torn-write test pins
   for the commit write itself).
"""

from __future__ import annotations

import os

import pytest

from scrapy_cluster_test_spark import datagen
from scrapy_cluster_test_spark.operators import seen as seen_ops
from scrapy_cluster_test_spark.plans import epoch as ep

from . import crawl_oracle as oracle

DATA = "/tmp/sct_tail_data"
N_IMAGES, N_SEEDS = 400, 8
CAPS = dict(seller_cap=40, asin_cap=25)
MAX_EPOCHS = 7


@pytest.fixture(scope="module")
def sim(spark):
    datagen.generate_all(spark, DATA, n_images=N_IMAGES, n_seeds=N_SEEDS)
    return oracle.simulate_universe(
        DATA, N_IMAGES, N_SEEDS, max_epochs=MAX_EPOCHS, **CAPS
    )


def _params(job_dir, **kw):
    kw.setdefault("compact_every", 3)
    kw.setdefault("max_epochs", MAX_EPOCHS)
    return ep.CrawlParams(
        images_path=f"{DATA}/images.parquet",
        seeds_path=f"{DATA}/seeds.parquet",
        domains_path=f"{DATA}/domains.parquet",
        robots_path=f"{DATA}/robots.parquet",
        job_dir=job_dir,
        n_images=N_IMAGES,
        **CAPS,
        **kw,
    )


@pytest.fixture(scope="module")
def crawl(spark, sim, tmp_path_factory):
    job = str(tmp_path_factory.mktemp("tail") / "job")
    fallbacks_before = ep.PREPOP_FALLBACKS
    ep.run_crawl(spark, _params(job))
    return job, ep.PREPOP_FALLBACKS - fallbacks_before


def test_concurrent_tail_equals_serial(spark, sim, crawl):
    """Thread-pool tail vs the serial simulator: same log, final state,
    seen set and metrics — the overlap may reorder job COMPLETION but
    never changes any job's input (each consumes only committed files or
    checkpointed relations)."""
    job, _ = crawl
    oracle.assert_matches_simulator(spark, job, sim)


def test_pipelined_pop_equals_unpipelined(spark, sim, crawl):
    """Epoch pipelining: every epoch after the first pops from the batch
    the previous epoch's tail pre-built, and the crawl still equals the
    simulator (both head paths run the same _build_popped over the same
    carried checkpoint with the same commit-record-derived hints)."""
    job, fallbacks = crawl
    # the crawl must actually pipeline: a prepop build failure falls back
    # to the serial rebuild (correct but slower), so a regression here
    # would otherwise be invisible (r6)
    assert fallbacks == 0
    last = ep.last_committed_epoch(job)
    for e in range(1, last):
        rec = ep.read_commit(job, e)
        if rec["pending"] > 0:
            assert "prepop" in rec["phases"], (e, rec["phases"])
            assert "prepop_fallback" not in rec["phases"], e
    oracle.assert_matches_simulator(spark, job, sim)


def test_tail_failure_aborts_epoch_uncommitted(
    spark, sim, tmp_path, monkeypatch
):
    """Kill ONE tail job (the bloom write) mid-crawl: run_crawl must
    re-raise after joining the pool, the failed epoch must have NO
    _COMMIT marker (its sibling tail outputs are invisible orphans), and
    a clean resume must converge to the uninterrupted run."""
    job = str(tmp_path / "job")
    ep.run_crawl(spark, _params(job, max_epochs=3))
    last_ok = ep.last_committed_epoch(job)

    real = seen_ops.bloom_or_new

    def _boom(*a, **kw):
        raise RuntimeError("injected tail-job failure")

    # epoch.py calls the seen module's attribute, so patching the module
    # attribute reaches the tail job's closure
    monkeypatch.setattr(seen_ops, "bloom_or_new", _boom)
    with pytest.raises(RuntimeError, match="injected tail-job failure"):
        ep.run_crawl(spark, _params(job))
    monkeypatch.setattr(seen_ops, "bloom_or_new", real)

    # the failed epoch published nothing
    assert ep.last_committed_epoch(job) == last_ok
    assert not os.path.exists(
        os.path.join(job, f"epoch={last_ok + 1:05d}", "_COMMIT")
    )

    # resume discards the partial epoch and converges
    ep.run_crawl(spark, _params(job))
    oracle.assert_matches_simulator(spark, job, sim)


def test_commit_record_keys(crawl):
    """Each epoch's _COMMIT record explains the epoch on its own: the
    counters resume needs, the Bloom size, and the wall time of every
    phase, tail jobs included."""
    job, _ = crawl
    for e in range(1, ep.last_committed_epoch(job) + 1):
        rec = ep.read_commit(job, e)
        assert set(rec) == {
            "epoch", "seq_base", "pending", "popped", "n_frontier",
            "bloom_m_bits", "phases",
        }, rec
        assert rec["epoch"] == e
        ph = rec["phases"]
        assert {
            "pop_rank", "ck", "write", "bloom_write", "carry_pending",
            "carry_seen", "metrics", "tail", "total",
        } <= set(ph), ph
        assert all(isinstance(v, float) and v >= 0 for v in ph.values()), ph
        assert ph["tail"] <= ph["total"]
        if e % 3 == 0:
            assert "compact" in ph, (e, ph)
