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

from scrapy_cluster_test_spark.operators import seen as seen_ops
from scrapy_cluster_test_spark.plans import epoch as ep

from . import crawl_oracle as oracle
from .shared_crawl import params as _params


@pytest.fixture(scope="module")
def sim(crawl400_sim):
    return crawl400_sim


@pytest.fixture(scope="module")
def crawl(crawl400):
    return crawl400.job, crawl400.fallbacks


def test_concurrent_tail_equals_serial(spark, sim, crawl):
    """Thread-pool tail vs the serial simulator: same log, final state,
    seen set and metrics — the overlap may reorder job COMPLETION but
    never changes any job's input (each consumes only committed files or
    checkpointed relations)."""
    job, _ = crawl
    oracle.assert_matches_simulator(spark, job, sim)


def test_pipelined_pop_equals_unpipelined(spark, sim, crawl):
    """Epoch pipelining: every epoch pops from the batch the previous
    epoch's tail (for epoch 1, bootstrap) pre-built, and the crawl still
    equals the simulator (both head paths run the same _build_popped over
    the same carried checkpoint with the same commit-record-derived
    hints)."""
    job, fallbacks = crawl
    # the crawl must actually pipeline: a prepop build failure falls back
    # to the serial rebuild (correct but slower), so a regression here
    # would otherwise be invisible (r6)
    assert fallbacks == 0
    last = ep.last_committed_epoch(job)
    # bootstrap pre-builds epoch 1's pop like every epoch's tail does
    assert "prepop" in ep.read_commit(job, 0)["phases"]
    for e in range(1, last + 1):
        rec = ep.read_commit(job, e)
        # each epoch consumed the pop handed to it
        assert "prepop_stale" not in rec["phases"], e
        if e < last and rec["pending"] > 0:
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
    counters resume needs, the Bloom size and fill, the touched-row
    counters observed on the commit checkpoint, and the wall time of
    every phase, tail jobs included."""
    job, _ = crawl
    boot = ep.read_commit(job, 0)
    assert {"epoch", "seq_base", "pending", "n_frontier", "bloom_m_bits"} <= set(boot)
    assert {"ck", "write", "bloom_write", "dims", "prepop", "tail", "total"} <= set(
        boot["phases"]
    ), boot["phases"]
    n_frontier = boot["n_frontier"]
    for e in range(1, ep.last_committed_epoch(job) + 1):
        rec = ep.read_commit(job, e)
        assert set(rec) == {
            "epoch", "seq_base", "pending", "popped", "n_frontier",
            "bloom_m_bits", "bloom_fill", "counters", "phases",
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
        c = rec["counters"]
        assert set(c) == {
            "n_popped", "n_new", "n_blocked", "n_ended",
            "sc_200", "sc_404", "sc_429", "sc_503", "sc_520",
        }, c
        assert c["n_popped"] == rec["popped"]
        assert c["n_popped"] == sum(v for k, v in c.items() if k.startswith("sc_"))
        assert rec["n_frontier"] == n_frontier + c["n_new"]
        n_frontier = rec["n_frontier"]
        cap = rec["bloom_m_bits"] * 16 / seen_ops.BITS_PER_KEY
        assert rec["bloom_fill"] == pytest.approx(rec["n_frontier"] / cap, rel=1e-4)
