"""Shared pytest fixtures: one session-scoped SparkSession (local mode) and
one shared multi-epoch crawl (tests/shared_crawl.py)."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from scrapy_cluster_test_spark import datagen
from scrapy_cluster_test_spark.session import get_spark

from . import crawl_oracle as oracle
from . import shared_crawl as sc

SF_TINY = "/root/testdata/sf0.001"
SF_SMALL = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    cores = os.environ.get("SPARK_TEST_CPUS") or os.environ.get("SPARK_GRAFT_CPUS") or "8"
    s = get_spark("sct-spark-tests", cores=int(cores))
    yield s


@pytest.fixture(scope="session")
def crawl400_sim(spark):
    """The simulator's crawl of the shared universe (tests/shared_crawl.py)."""
    datagen.generate_all(spark, sc.DATA, n_images=sc.N_IMAGES, n_seeds=sc.N_SEEDS)
    return oracle.simulate_universe(
        sc.DATA, sc.N_IMAGES, sc.N_SEEDS, max_epochs=sc.MAX_EPOCHS, **sc.CAPS
    )


@pytest.fixture(scope="session")
def crawl400(spark, crawl400_sim, tmp_path_factory):
    """The engine's crawl of the shared universe, run once per session."""
    return sc.run(spark, str(tmp_path_factory.mktemp("crawl400") / "job"))
