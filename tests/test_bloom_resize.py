"""Adaptive Bloom resize (CrawlParams.bloom_resize_at): when the seen set
outgrows the filter's design capacity, the epoch's bloom job rebuilds at
the next power-of-two size instead of OR-ing. Results must be byte-exact
either way (the bloom is a pure pre-filter — positives are verified by an
exact anti-join), so these tests pin: the trigger actually fires under a
deliberately undersized filter, the crawl stays identical to the
simulator's exact seen set, the recorded size matches the bitmap bytes on
disk, resume restores the grown size, and bloom_resize_at=0 restores the
fixed-size pre-feature behavior."""

from __future__ import annotations

import shutil

import pytest

from scrapy_cluster_test_spark import datagen
from scrapy_cluster_test_spark.operators import seen as seen_ops
from scrapy_cluster_test_spark.plans import epoch as ep

from . import crawl_oracle as oracle

DATA = "/tmp/sct_bresize_data"
N = 200
N_SEEDS = 8
BUDGET_SCALE = 0.2
MAX_EPOCHS = 12
# deliberately undersized: capacity = 1024 bits/shard · 2 shards / 10 b/key
# = 204 keys, far under the ~500-URL frontier this universe produces
TINY = dict(bloom_expected_total=32, bloom_shards=2)


@pytest.fixture(scope="module")
def universe(spark):
    datagen.generate_all(
        spark, DATA, n_images=N, n_seeds=N_SEEDS, budget_scale=BUDGET_SCALE
    )
    return DATA


@pytest.fixture(scope="module")
def sim(universe):
    return oracle.simulate_universe(
        DATA, N, N_SEEDS, max_epochs=MAX_EPOCHS, budget_scale=BUDGET_SCALE
    )


def _params(job_dir, **over):
    kw = dict(
        images_path=f"{DATA}/images.parquet",
        seeds_path=f"{DATA}/seeds.parquet",
        domains_path=f"{DATA}/domains.parquet",
        robots_path=f"{DATA}/robots.parquet",
        job_dir=job_dir,
        n_images=N,
        max_epochs=MAX_EPOCHS,
    )
    kw.update(over)
    return ep.CrawlParams(**kw)


def _final_rec(job_dir):
    return ep.read_commit(job_dir, ep.last_committed_epoch(job_dir))


def _fresh(job_dir: str) -> str:
    """rm a stale dir from any previous session so no test ever compares
    against leftovers (tests must be self-contained under pytest -k)."""
    shutil.rmtree(job_dir, ignore_errors=True)
    return job_dir


@pytest.fixture(scope="module")
def tiny_job(spark, universe):
    d = _fresh("/tmp/sct_bresize_tiny")
    ep.run_crawl(spark, _params(d, **TINY), resume=False)
    return d


def test_resize_triggers_and_crawl_identical(spark, sim, tiny_job):
    """Every crawl carries its Bloom table between epochs, so this also
    pins a resize under the carried state."""
    oracle.assert_matches_simulator(spark, tiny_job, sim)
    rec = _final_rec(tiny_job)
    m0 = ep._bloom_m_bits(_params("/tmp/x", **TINY))
    assert rec["n_frontier"] > (m0 * 2) // seen_ops.BITS_PER_KEY, (
        "universe too small to exercise the trigger — grow N"
    )
    assert rec["bloom_m_bits"] > m0, "resize never fired"
    # the committed bitmap bytes match the recorded size
    last = ep.last_committed_epoch(tiny_job)
    bm = spark.read.parquet(f"{tiny_job}/epoch={last:05d}/bloom").collect()
    assert len(bm) == 2
    assert all(len(r.words) * 8 == rec["bloom_m_bits"] // 8 for r in bm)


def test_resize_under_delta_carry(spark, tiny_job):
    """The carried Bloom table, grown mid-crawl, must hold every URL
    committed by its epoch: sizes never shrink, bitmap bytes match each
    epoch's record, and each epoch's table has no false negative over that
    epoch's frontier state. Checking only the last epoch is not enough — a
    URL dropped at a resize re-enters as "new" and is OR-ed back later."""
    last = ep.last_committed_epoch(tiny_job)
    sizes = []
    for e in range(last + 1):
        m = ep.read_commit(tiny_job, e)["bloom_m_bits"]
        table = spark.read.parquet(f"{tiny_job}/epoch={e:05d}/bloom")
        assert all(len(r.words) * 8 == m // 8 for r in table.collect()), e
        fps = ep._read_frontier_state(spark, tiny_job, e).select("url_fp")
        marked = seen_ops.mark_probably_seen_routed(
            fps, table, m, n_shards=TINY["bloom_shards"]
        )
        assert fps.count() > 0
        assert marked.filter(~marked.maybe_seen).count() == 0, e
        sizes.append(m)
    assert sizes == sorted(sizes)
    assert sizes[-1] > sizes[0], "resize never fired under the carry"


def test_resize_survives_resume(spark, sim, tiny_job):
    d = _fresh("/tmp/sct_bresize_resume")
    p_stop = _params(d, max_epochs=4, **TINY)
    ep.run_crawl(spark, p_stop, resume=False)
    p_go = _params(d, **TINY)
    ep.run_crawl(spark, p_go, resume=True)
    oracle.assert_matches_simulator(spark, d, sim)
    assert _final_rec(d)["bloom_m_bits"] == _final_rec(tiny_job)["bloom_m_bits"]


def test_resize_disabled_keeps_fixed_size(spark, sim):
    d = _fresh("/tmp/sct_bresize_off")
    ep.run_crawl(spark, _params(d, bloom_resize_at=0.0, **TINY), resume=False)
    oracle.assert_matches_simulator(spark, d, sim)
    assert _final_rec("/tmp/sct_bresize_off")["bloom_m_bits"] == ep._bloom_m_bits(
        _params("/tmp/x", **TINY)
    )
