"""One crawl shared by the tests that inspect a finished multi-epoch job
(test_delta_mode, test_epoch_tail, test_native_kernels): a 400-image
universe, 8 seeds, caps 40/25, 7 epochs, compaction every 3 epochs. The
``crawl400`` fixture in conftest.py runs it once per session and records,
after every epoch, the carried pending rows and seen fps, plus the
physical plan of every SQL execution the crawl ran."""

from __future__ import annotations

import re
from dataclasses import dataclass

from scrapy_cluster_test_spark.plans import epoch as ep

DATA = "/tmp/sct_crawl400_data"
N_IMAGES, N_SEEDS = 400, 8
CAPS = dict(seller_cap=40, asin_cap=25)
MAX_EPOCHS = 7


def params(job_dir: str, **kw) -> ep.CrawlParams:
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


@dataclass
class Crawl:
    job: str
    # epoch → (sorted carried pending rows, sorted carried seen fps)
    carried: dict
    # prepop fallbacks counted during the crawl
    fallbacks: int
    # physical plan descriptions of the SQL executions the crawl ran
    plans: list


def _executions(spark) -> list:
    """(id, physical plan description) of every SQL execution the session's
    status store holds, once the listener bus has delivered its events."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    return [
        (execs.apply(i).executionId(), execs.apply(i).physicalPlanDescription())
        for i in range(execs.size())
    ]


def run(spark, job: str) -> Crawl:
    carried = {}
    real = ep.run_epoch

    def spy(*args, **kwargs):
        rec = real(*args, **kwargs)
        carry = kwargs["carry_io"]
        carried[rec["epoch"]] = (
            sorted(tuple(r) for r in carry["pending"].collect()),
            sorted(r.url_fp for r in carry["seen"].collect()),
        )
        return rec

    before = max((i for i, _ in _executions(spark)), default=-1)
    fallbacks = ep.PREPOP_FALLBACKS
    ep.run_epoch = spy
    try:
        ep.run_crawl(spark, params(job))
    finally:
        ep.run_epoch = real
    plans = [plan for i, plan in _executions(spark) if i > before]
    return Crawl(job, carried, ep.PREPOP_FALLBACKS - fallbacks, plans)


PYTHON_EXEC_NODES = (
    "MapInPandas", "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas",
    "ArrowEvalPython", "BatchEvalPython",
)


def probe_count(plan: str) -> int:
    """Bloom probes in a plan: projections that define ``maybe_seen``."""
    return len(re.findall(r"AS maybe_seen#", plan))
