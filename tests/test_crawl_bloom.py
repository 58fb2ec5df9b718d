"""The Bloom-filtered crawl must be byte-identical to the simulator, which
keeps an exact seen set: the Bloom filter is a pure pre-filter."""

from __future__ import annotations

import pytest

from scrapy_cluster_test_spark import datagen
from scrapy_cluster_test_spark.plans import epoch as ep

from . import crawl_oracle as oracle

DATA = "/tmp/sct_bloom_data"
N = 200
N_SEEDS = 8
BUDGET_SCALE = 0.2
MAX_EPOCHS = 12


@pytest.fixture(scope="module")
def universe(spark):
    datagen.generate_all(
        spark, DATA, n_images=N, n_seeds=N_SEEDS, budget_scale=BUDGET_SCALE
    )
    return DATA


def test_bloom_crawl_identical(spark, universe):
    job = "/tmp/sct_bloom_jobB"
    ep.run_crawl(
        spark,
        ep.CrawlParams(
            images_path=f"{DATA}/images.parquet",
            seeds_path=f"{DATA}/seeds.parquet",
            domains_path=f"{DATA}/domains.parquet",
            robots_path=f"{DATA}/robots.parquet",
            job_dir=job,
            n_images=N,
            max_epochs=MAX_EPOCHS,
        ),
        resume=False,
    )
    sim = oracle.simulate_universe(
        DATA, N, N_SEEDS, max_epochs=MAX_EPOCHS, budget_scale=BUDGET_SCALE
    )
    oracle.assert_matches_simulator(spark, job, sim)
