"""Crawl workloads: inputs, the measured crawl loop, the simulator check and
the per-layer replay of one epoch.

Everything here calls the package's public entry points (``datagen``,
``plans.epoch``, the operator modules and ``oracle.simulator``); no package
file is changed to measure it.
"""

from __future__ import annotations

import dataclasses
import hashlib
import json
import os
import shutil
import statistics
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from pyspark.sql import functions as F

from scrapy_cluster_test_spark import crawlspec, datagen
from scrapy_cluster_test_spark.functions.urlkit import (
    py_canonicalize,
    py_url_fingerprint,
)
from scrapy_cluster_test_spark.operators import frontier as fr_ops
from scrapy_cluster_test_spark.operators import seen as seen_ops
from scrapy_cluster_test_spark.oracle.simulator import simulate
from scrapy_cluster_test_spark.plans import epoch as ep
from scrapy_cluster_test_spark.sources import fetchsim

from .cache import cached_dir

# The production crawl path. Only the fields CrawlParams still declares are
# passed, so the benchmark keeps running the same path once the switches
# that select other paths are removed.
PRODUCTION = {"commit_mode": "delta", "use_bloom": True}


# the bloom shard count; the benchmark leaves it at its default
_SHARDS = {f.name: f.default for f in dataclasses.fields(ep.CrawlParams)}["bloom_shards"]


@dataclasses.dataclass(frozen=True)
class Universe:
    """A generated synthetic web; cached under a manifest of these fields."""

    n_images: int
    budget_scale: float
    lite: bool = True


@dataclasses.dataclass(frozen=True)
class CrawlSpec:
    universe: Universe
    n_seeds: int
    seller_cap: int
    asin_cap: int
    max_epochs: int
    compact_every: int = 8


def ensure_universe(spark, cache_dir: str, u: Universe) -> str:
    """The universe's directory, generated on first use."""
    # datagen also writes a seed list; each run writes its own instead
    return cached_dir(
        cache_dir, "universe", dataclasses.asdict(u),
        lambda out: datagen.generate_all(
            spark, out, n_images=u.n_images, n_seeds=1,
            budget_scale=u.budget_scale, lite=u.lite,
        ),
    )


def seed_rows(seed: int, n_images: int, n_seeds: int) -> list[tuple[str, str, int]]:
    """Seed URLs at seeded page indices, first-wins deduplicated by
    canonical fingerprint; crawl_time is the position in the list."""
    rng = np.random.default_rng(seed)
    idx = rng.integers(0, n_images, n_seeds)
    kinds = rng.integers(0, 2, n_seeds)
    out: list[tuple[str, str, int]] = []
    seen: set[int] = set()
    for j, k in zip(idx.tolist(), kinds.tolist()):
        kind = "asin" if k == 0 else "seller"
        url = crawlspec.page_url(kind, j)
        fp = py_url_fingerprint(py_canonicalize(url))
        if fp not in seen:
            seen.add(fp)
            out.append((url, kind, len(out)))
    return out


def write_seeds(path: str, rows: list[tuple[str, str, int]]) -> None:
    os.makedirs(path, exist_ok=True)
    table = pa.table(
        {
            "url": pa.array([r[0] for r in rows], pa.string()),
            "queue_kind": pa.array([r[1] for r in rows], pa.string()),
            "crawl_time": pa.array([r[2] for r in rows], pa.int64()),
        }
    )
    pq.write_table(table, os.path.join(path, "part-0.parquet"))


def params(cs: CrawlSpec, universe_dir: str, seeds_path: str, job_dir: str):
    declared = {f.name for f in dataclasses.fields(ep.CrawlParams)}
    return ep.CrawlParams(
        images_path=os.path.join(universe_dir, "images.parquet"),
        seeds_path=seeds_path,
        domains_path=os.path.join(universe_dir, "domains.parquet"),
        robots_path=os.path.join(universe_dir, "robots.parquet"),
        job_dir=job_dir,
        n_images=cs.universe.n_images,
        seller_cap=cs.seller_cap,
        asin_cap=cs.asin_cap,
        max_epochs=cs.max_epochs,
        compact_every=cs.compact_every,
        **{k: v for k, v in PRODUCTION.items() if k in declared},
    )


def fits(start: float, seconds: float, done: list[float]) -> bool:
    """Whether another operation of the mean length so far still fits in
    the run's ``seconds``; the first one always runs."""
    if not done:
        return True
    return time.perf_counter() - start + statistics.mean(done) <= seconds


class EpochClock:
    """Times each ``run_epoch`` call that ``run_crawl`` makes, by replacing
    the module attribute for the duration of a ``with`` block."""

    def __init__(self):
        self.epochs: list[dict] = []

    def __enter__(self) -> "EpochClock":
        self._orig = ep.run_epoch

        def timed_epoch(*args, **kwargs):
            t0 = time.perf_counter()
            rec = self._orig(*args, **kwargs)
            self.epochs.append(
                {"start": t0, "end": time.perf_counter(), "popped": int(rec["popped"])}
            )
            return rec

        ep.run_epoch = timed_epoch
        return self

    def __exit__(self, *exc) -> None:
        ep.run_epoch = self._orig


def run_crawls(spark, cs: CrawlSpec, universe_dir: str, seeds_path: str,
               job_root: str, seconds: float) -> list[dict]:
    """Closed loop, one client: fresh crawls of the same inputs back to back,
    as many as fit in ``seconds`` (at least one)."""
    os.makedirs(job_root, exist_ok=True)  # the writer lease sits beside the job
    crawls: list[dict] = []
    start = time.perf_counter()
    while fits(start, seconds, [c["wall_s"] for c in crawls]):
        job = os.path.join(job_root, f"job{len(crawls)}")
        p = params(cs, universe_dir, seeds_path, job)
        with EpochClock() as clock:
            t0 = time.perf_counter()
            summary = ep.run_crawl(spark, p, resume=False)
            wall = time.perf_counter() - t0
        eps = clock.epochs
        crawls.append(
            {
                "job_dir": job,
                "wall_s": wall,
                "fetched": int(summary["total_fetched"]),
                "epoch_s": [e["end"] - e["start"] for e in eps],
                "popped": [e["popped"] for e in eps],
                "pre_epoch_s": (eps[0]["start"] - t0) if eps else wall,
                "first_commit_s": (eps[0]["end"] - t0) if eps else wall,
            }
        )
    return crawls


def simulated_log(cache_dir: str, cs: CrawlSpec, universe_dir: str,
                  seeds: list[tuple[str, str, int]]) -> list[tuple]:
    """The simulator's crawl log, cached per (crawl spec, seed list)."""
    key = hashlib.sha256(
        json.dumps([dataclasses.asdict(cs), seeds]).encode()
    ).hexdigest()[:20]
    path = os.path.join(cache_dir, "simulator", f"{key}.json")
    try:
        with open(path) as f:
            return [tuple(r) for r in json.load(f)]
    except (OSError, json.JSONDecodeError):
        pass
    u = cs.universe
    sim = simulate(
        os.path.join(universe_dir, "images.parquet"), seeds, u.n_images,
        seller_cap=cs.seller_cap, asin_cap=cs.asin_cap,
        max_epochs=cs.max_epochs, budget_scale=u.budget_scale,
    )
    log = sorted(sim.crawl_log, key=lambda t: t[1])
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(log, f)
    os.replace(tmp, path)
    return log


def check_crawl(spark, job_dir: str, expected: list[tuple], n_epochs: int) -> int:
    """Number of epochs whose logged fetches differ from the simulator's."""
    got = [
        (r.epoch, r.seq, r.url_fp, r.domain, r.queue_kind, r.status_code, r.image_id)
        for r in ep.read_crawl_log(spark, job_dir).orderBy("seq").collect()
    ]
    by_epoch: dict[int, list] = {e: [] for e in range(1, n_epochs + 1)}
    for row in got:
        by_epoch.setdefault(row[0], []).append(row)
    want: dict[int, list] = {e: [] for e in range(1, n_epochs + 1)}
    for row in expected:
        want.setdefault(row[0], []).append(tuple(row))
    return sum(
        1 for e in set(by_epoch) | set(want) if by_epoch.get(e, []) != want.get(e, [])
    )


def storage(job_dir: str) -> tuple[int, int]:
    """(files, bytes) the crawl left in its job directory."""
    files = size = 0
    for root, _, names in os.walk(job_dir):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size


# the crawl's per-layer metrics, all 0 on a workload that does not crawl
LAYER_METRICS = (
    "epoch.count", "epoch.wall_max_s", "epoch.popped_p50", "epoch.first_commit_s",
    "crawl.pre_epoch_s", "commit.files", "commit.bytes", "commit.files_per_epoch",
    "commit.bytes_per_url", "frontier.robots_split_s", "frontier.pop_s",
    "frontier.enqueue_s", "frontier.outcome_s", "frontier.pop_frac",
    "fetchsim.join_payload_s", "fetchsim.statuses_s", "fetchsim.children_s",
    "fetchsim.children_per_fetch", "seen.probe_s", "seen.bloom_or_s",
    "seen.new_frac", "seen.bloom_fp_rate", "seen.bloom_fill",
)


def layer_summary(crawls: list[dict]) -> dict[str, float]:
    """Per-layer figures of the crawl driver and its commit storage."""
    epochs = [t for c in crawls for t in c["epoch_s"]]
    popped = [n for c in crawls for n in c["popped"]]
    files = size = 0
    for c in crawls:
        f, b = storage(c["job_dir"])
        files, size = files + f, size + b
    fetched = sum(c["fetched"] for c in crawls)
    last = crawls[-1]
    rec = ep.read_commit(last["job_dir"], ep.last_committed_epoch(last["job_dir"]))
    capacity = int(rec["bloom_m_bits"]) * _SHARDS / seen_ops.BITS_PER_KEY
    return {
        "epoch.count": len(epochs),
        "epoch.wall_max_s": max(epochs),
        "epoch.popped_p50": statistics.median(popped),
        "epoch.first_commit_s": statistics.median(c["first_commit_s"] for c in crawls),
        "crawl.pre_epoch_s": statistics.median(c["pre_epoch_s"] for c in crawls),
        "commit.files": files / len(crawls),
        "commit.bytes": size / len(crawls),
        "commit.files_per_epoch": files / len(epochs),
        "commit.bytes_per_url": size / max(1, fetched),
        "seen.bloom_fill": int(rec["n_frontier"]) / capacity,
    }


def bloom_fp_rate(spark, job_dir: str, n_images: int, n_probe: int = 10_000) -> float:
    """Share of never-crawled URL fingerprints that the last committed bloom
    table reports as seen. The probes are pages past the universe's last
    index, so no crawl can have enqueued them."""
    last = ep.last_committed_epoch(job_dir)
    m_bits = int(ep.read_commit(job_dir, last)["bloom_m_bits"])
    bloom = spark.read.parquet(os.path.join(job_dir, f"epoch={last:05d}", "bloom"))
    fps = [
        (py_url_fingerprint(py_canonicalize(crawlspec.page_url("seller", n_images + i))),)
        for i in range(n_probe)
    ]
    probes = spark.createDataFrame(fps, "url_fp long")
    marked = seen_ops.mark_probably_seen_routed(probes, bloom, m_bits, n_shards=_SHARDS)
    return marked.filter("maybe_seen").count() / n_probe


def replay_epoch(spark, cs: CrawlSpec, universe_dir: str, seeds_path: str,
                 job_dir: str) -> dict[str, float]:
    """Time each public operator of epoch 1 on materialized inputs.

    Bootstraps a job directory, then feeds every operator inputs that are
    persisted and counted outside the timed region; each timing runs the
    operator's output into a noop sink. AQE is off as in the crawl loop."""
    p = params(cs, universe_dir, seeds_path, job_dir)
    if os.path.isdir(job_dir):
        shutil.rmtree(job_dir)
    os.makedirs(job_dir)
    ep.bootstrap(spark, p)
    m_bits = int(ep.read_commit(job_dir, 0)["bloom_m_bits"])
    boot = os.path.join(job_dir, "epoch=00000")
    held: list = []
    out: dict[str, float] = {}

    def ready(df):
        df = df.persist()
        df.count()
        held.append(df)
        return df

    def sink(name, *dfs):
        t0 = time.perf_counter()
        for df in dfs:
            df.write.format("noop").mode("overwrite").save()
        out[name] = time.perf_counter() - t0

    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        fr = ready(spark.read.parquet(os.path.join(boot, "frontier")).select(*ep.FRONTIER_COLS))
        images = spark.read.parquet(p.images_path)
        domains = ready(spark.read.parquet(p.domains_path))
        robots = ready(spark.read.parquet(p.robots_path))
        bloom = ready(spark.read.parquet(os.path.join(boot, "bloom")))
        pending = ready(fr.filter(F.col("status") == "pending"))

        allowed, blocked = fr_ops.robots_split(pending, robots)
        sink("frontier.robots_split_s", allowed, blocked)
        allowed = ready(allowed)
        popped = fr_ops.pop_batch(allowed, domains, p.seller_cap, p.asin_cap, 0)
        sink("frontier.pop_s", popped)
        popped = ready(popped)
        payload = fetchsim.join_payload(popped, images)
        sink("fetchsim.join_payload_s", payload)
        payload = ready(payload)
        fetched = fetchsim.fetch_statuses(payload)
        sink("fetchsim.statuses_s", fetched)
        fetched = ready(fetched)
        children = fetchsim.discover_children(fetched, p.n_images)
        sink("fetchsim.children_s", children)
        children = ready(children)

        cand = ready(children.select("url_fp").distinct())
        fps = fr.select("url_fp")
        new = seen_ops.filter_new_routed(cand, fps, bloom, m_bits, n_shards=_SHARDS)
        sink("seen.probe_s", new)
        new = ready(new)
        sink("seen.bloom_or_s",
             seen_ops.bloom_or_new(bloom, new, m_bits, n_shards=_SHARDS))
        thinned = ready(children.join(new, "url_fp", "left_semi"))
        sink("frontier.enqueue_s", fr_ops.enqueue_children(thinned, fps.limit(0), 1))
        sink("frontier.outcome_s", fr_ops.apply_fetch_outcome(fetched, 1))

        out.update(
            {
                "frontier.pop_frac": popped.count() / max(1, allowed.count()),
                "fetchsim.children_per_fetch": children.count() / max(1, fetched.count()),
                "seen.new_frac": new.count() / max(1, cand.count()),
            }
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
        for df in held:
            df.unpersist()
    return out
