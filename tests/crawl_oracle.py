"""Check a crawl job dir against ``oracle.simulator.simulate``: the crawl
log (byte for byte, in seq order), the final per-URL state, the seen set
and the per-epoch metrics."""

from __future__ import annotations

import glob

from scrapy_cluster_test_spark import datagen
from scrapy_cluster_test_spark.oracle.simulator import SimResult, simulate
from scrapy_cluster_test_spark.plans import epoch as ep

# the per-URL fields the simulator models
STATE_COLS = (
    "url", "queue_kind", "priority", "crawl_time", "retry_times", "provider",
    "status", "parent_fp",
)


def simulate_universe(
    data_dir: str, n_images: int, n_seeds: int, **kw
) -> SimResult:
    """The simulator over a ``datagen.generate_all`` universe; ``kw`` are
    simulate's caps, epoch limit and budget scale."""
    return simulate(
        f"{data_dir}/images.parquet", datagen.seed_rows(n_images, n_seeds),
        n_images, **kw,
    )


def engine_log(spark, job_dir: str) -> list[tuple]:
    return [
        (r.epoch, r.seq, r.url_fp, r.domain, r.queue_kind, r.status_code, r.image_id)
        for r in ep.read_crawl_log(spark, job_dir).orderBy("seq").collect()
    ]


def sim_log(sim: SimResult) -> list[tuple]:
    return sorted(sim.crawl_log, key=lambda t: t[1])


def engine_state(spark, job_dir: str) -> dict[int, tuple]:
    return {
        r.url_fp: tuple(r[c] for c in STATE_COLS)
        for r in ep.read_final_frontier(spark, job_dir)
        .select("url_fp", *STATE_COLS)
        .collect()
    }


def sim_state(sim: SimResult) -> dict[int, tuple]:
    return {fp: tuple(getattr(r, c) for c in STATE_COLS) for fp, r in sim.frontier.items()}


def engine_metrics(spark, job_dir: str) -> list[tuple]:
    last = ep.last_committed_epoch(job_dir)
    dirs = [
        d for d in sorted(glob.glob(f"{job_dir}/epoch=*/metrics"))
        if int(d.split("epoch=")[1][:5]) <= last
    ]
    return sorted(tuple(r) for r in spark.read.parquet(*dirs).collect())


def assert_matches_simulator(spark, job_dir: str, sim: SimResult) -> None:
    log = engine_log(spark, job_dir)
    assert log, "the crawl fetched nothing"
    assert log == sim_log(sim)
    state = engine_state(spark, job_dir)
    assert set(state) == sim.seen_set
    assert state == sim_state(sim)
    assert engine_metrics(spark, job_dir) == sorted(sim.metrics)
