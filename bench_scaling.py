"""Two-parallelism scaling benchmark (BASELINE.json scaling criterion).

No multi-node cluster exists in this sandbox, so the N→4N-executor
criterion is evidenced per BASELINE.md's protocol: the IDENTICAL crawl job
runs at local[8] and local[32] on the same input; we report URLs
scheduled+fetched/sec at both plus efficiency = (rate_32 / rate_8) / 4,
and assert the two runs fetched the same URL count (determinism across
parallelism).

Each parallelism level runs in a fresh subprocess (own JVM) so nothing is
shared. Two modes:
* sched  — scheduler-only epochs (pop/dedup/merge; payload column pruned)
* decode — adds payload decode + PSNR verification per fetched page
           (compute-heavy fetch, the realistic image-pipeline shape)

Usage: python bench_scaling.py [--n-images 30000] [--mode both]
Writes results into BENCH/scaling_<mode>.json; BENCH/BASELINE.md is the
human-readable summary.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
UNIVERSE = "/tmp/sct_bench_universe"

_GEN = r"""
import os, sys
sys.path.insert(0, {repo!r})
from scrapy_cluster_test_spark.session import get_spark
from scrapy_cluster_test_spark import datagen
spark = get_spark("sct-bench-gen", cores={cores})
datagen.generate_all(spark, {universe!r}, n_images={n_images}, n_seeds={n_seeds},
                     budget_scale={budget_scale}, lite={lite})
print("GEN done")
spark.stop()
"""


def pregen(n_images: int, budget_scale: float, lite: bool, cores: int = 32, n_seeds: int = 500) -> None:
    # The universe is reused ONLY when it was generated with the same
    # parameters: budget_scale is baked into domains.parquet and lite
    # into the payload column, so an existence-only check silently runs
    # the pair against whatever the LAST invocation generated (this bit
    # two bench sessions — a "s500" pair once ran on a stale s2000
    # universe and produced uncomparable numbers).
    params = {"n_images": n_images, "budget_scale": budget_scale, "lite": lite, "n_seeds": n_seeds}
    manifest = os.path.join(UNIVERSE, "_PARAMS.json")
    if os.path.exists(os.path.join(UNIVERSE, "robots.parquet")):
        try:
            with open(manifest) as f:
                if json.load(f) == params:
                    return
        except (OSError, json.JSONDecodeError):
            pass  # pre-manifest or torn universe: regenerate
        shutil.rmtree(UNIVERSE)
    code = _GEN.format(
        repo=REPO,
        cores=cores,
        universe=UNIVERSE,
        n_images=n_images,
        n_seeds=n_seeds,
        budget_scale=budget_scale,
        lite=lite,
    )
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, timeout=3600
    )
    if "GEN done" not in out.stdout:
        raise RuntimeError(f"datagen failed:\n{out.stdout[-1500:]}\n{out.stderr[-2000:]}")
    with open(manifest, "w") as f:
        json.dump(params, f)

_WORKER = r"""
import json, os, sys, time
sys.path.insert(0, {repo!r})
from scrapy_cluster_test_spark.session import get_spark
from scrapy_cluster_test_spark import datagen
from scrapy_cluster_test_spark.plans import epoch as ep

cores = {cores}
mode = {mode!r}
n_images = {n_images}
universe = {universe!r}
budget_scale = {budget_scale}

spark = get_spark(f"sct-bench-{{cores}}", cores=cores)
assert os.path.exists(os.path.join(universe, "robots.parquet")), "universe not pre-generated"

if mode == "kernel":
    # Pure epoch-dataflow kernel: pop -> fetch-status -> children -> dedup
    # over a memory-cached pending frontier, noop sink (no snapshot IO).
    # Isolates the engine's dataflow from the sandbox's serialized disk
    # syscalls; this is the per-epoch work that dominates at 10^10 scale.
    # Matches the production epoch config: run_crawl executes its loop
    # with AQE off (plans/epoch._epoch_aqe_off — measured 48% wall tax
    # from AQE's stage barriers on many-small-action crawls), so the
    # kernel models the same regime.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    from pyspark.sql import functions as F
    from pyspark.storagelevel import StorageLevel
    from scrapy_cluster_test_spark.operators import frontier as fr_ops
    from scrapy_cluster_test_spark.sources import fetchsim
    from scrapy_cluster_test_spark.functions import urlkit
    from scrapy_cluster_test_spark import crawlspec as cspec

    import pandas as pd

    images = spark.read.parquet(f"{{universe}}/images.parquet")
    domains = spark.read.parquet(f"{{universe}}/domains.parquet")
    ids = images.select(F.substring("image_id", 4, 10).cast("long").alias("j"))
    both = ids.withColumn("queue_kind", F.explode(F.array(F.lit("seller"), F.lit("asin"))))

    # build URLs in a vectorized pandas stage (same codepath as fetchsim children)
    def build(it):
        import numpy as np
        from scrapy_cluster_test_spark import crawlspec as cs
        for pdf in it:
            j = pdf["j"].to_numpy("int64")
            d = cs.domain_id_np(j)
            urls = ("https://d" + pd.Series(d).astype(str).str.zfill(4)
                    + ".example.com/" + pdf["queue_kind"].reset_index(drop=True)
                    + "/" + pd.Series(j).astype(str).str.zfill(10))
            yield pd.DataFrame({{"url": urls, "queue_kind": pdf["queue_kind"].to_numpy(),
                                 "crawl_time": j}})
    raw = both.mapInPandas(build, "url string, queue_kind string, crawl_time long")
    canon = urlkit.canonicalize(F.col("url"))
    fp = urlkit.url_fingerprint(canon)
    dom = urlkit.domain_of(canon)
    frontier = raw.select(
        canon.alias("url"), fp.alias("url_fp"), dom.alias("domain"),
        urlkit.domain_hash(dom).alias("domain_hash"), "queue_kind",
        F.lit(0).alias("priority"), "crawl_time", F.lit(0).alias("retry_times"),
        F.lit("crawlera").alias("provider"), F.lit("pending").alias("status"),
        F.pmod(fp, F.lit(cspec.N_PATH_BUCKETS)).cast("int").alias("path_bucket"),
        F.lit(None).cast("long").alias("parent_fp"), F.lit(0).alias("epoch"),
    ).persist(StorageLevel.MEMORY_ONLY)
    n_frontier = frontier.count()
    robots = spark.read.parquet(f"{{universe}}/robots.parquet")

    def epoch_dag(it_):
        # popped and fetched persist exactly as the production driver does
        # (plans/epoch.run_epoch) — each feeds multiple consumers
        allowed, blocked = fr_ops.robots_split(frontier, robots)
        popped = fr_ops.pop_batch(allowed, domains, None, None, 0).persist()
        payload = fetchsim.join_payload(popped, images, prune_buckets=False)
        fetched = fetchsim.fetch_statuses(payload).persist()
        children = fetchsim.discover_children(fetched, n_images)
        new_rows = fr_ops.enqueue_children(children, frontier.select("url_fp"), it_)
        out = fr_ops.apply_fetch_outcome(fetched, it_).select(
            "url_fp", "status"
        ).unionByName(new_rows.select("url_fp", "status"))
        return popped, out

    def reset_caches():
        # the kernel repeats IDENTICAL inputs each epoch, and Spark's
        # plan-level cache would serve epoch N+1 from epoch N's persisted
        # subtrees — an artifact a real crawl (whose frontier changes every
        # epoch) never sees. Clear everything and re-pin the input frontier
        # OUTSIDE the timed region so each epoch is honestly cold.
        spark.catalog.clearCache()
        frontier.persist(StorageLevel.MEMORY_ONLY)
        frontier.count()

    n_popped = epoch_dag(0)[0].count()  # fixed per iteration (same input)
    reset_caches()
    iters = 3
    wall = 0.0
    for it_ in range(iters):
        t0 = time.perf_counter()
        epoch_dag(it_)[1].write.mode("overwrite").format("noop").save()
        wall += time.perf_counter() - t0
        reset_caches()
    tot = n_popped * iters
    print("RESULT " + json.dumps({{
        "cores": cores, "mode": mode, "epochs": iters, "fetched": tot,
        "wall_sec": round(wall, 2), "urls_per_sec": round(tot / wall, 1),
        "frontier_rows": n_frontier}}))
    spark.stop()
    raise SystemExit(0)


job = os.environ.get("SCT_BENCH_JOB_ROOT", "/tmp") + f"/sct_bench_job_c{{cores}}_{{mode}}"
p = ep.CrawlParams(
    images_path=f"{{universe}}/images.parquet",
    seeds_path=f"{{universe}}/seeds.parquet",
    domains_path=f"{{universe}}/domains.parquet",
    robots_path=f"{{universe}}/robots.parquet",
    job_dir=job, n_images=n_images,
    # per-epoch pop caps; SCT_BENCH_SCHED_CAP widens them for the
    # fat-epoch scaling pairs (the production bound stays the default)
    seller_cap=int(os.environ.get("SCT_BENCH_SCHED_CAP", 500000)),
    asin_cap=int(os.environ.get("SCT_BENCH_SCHED_CAP", 500000)),
    max_epochs=30)
t0 = time.perf_counter()
summary = ep.run_crawl(spark, p, resume=False)
wall = time.perf_counter() - t0

extra = {{}}
if mode == "decode":
    from scrapy_cluster_test_spark.operators import multimodal
    from pyspark.sql import functions as F
    # Engine-level binary-batch mitigation (the r1/r2 8→32-core decode
    # knee); SCT_ARROW_BATCH=10000 reproduces the old behavior.
    multimodal.configure_arrow_for_binary(spark)
    log = ep.read_crawl_log(spark, job).select("image_id").distinct()
    images = spark.read.parquet(f"{{universe}}/images.parquet")
    t1 = time.perf_counter()
    fetched_imgs = images.join(log, "image_id", "left_semi")
    res = multimodal.verify_payloads(fetched_imgs)
    row = res.agg(
        F.count("*").alias("n"),
        F.sum(((F.col("psnr_db") < 40.0) | ~F.col("caption_ok")).cast("long")).alias("bad"),
    ).collect()[0]
    n_dec, bad = int(row["n"]), int(row["bad"] or 0)
    dwall = time.perf_counter() - t1
    wall += dwall
    extra = {{"decoded": n_dec, "decode_sec": round(dwall, 2), "bad": bad}}

print("RESULT " + json.dumps({{
    "cores": cores, "mode": mode, "epochs": summary["epochs"],
    "fetched": summary["total_fetched"], "wall_sec": round(wall, 2),
    "urls_per_sec": round(summary["total_fetched"] / wall, 1), **extra}}))
spark.stop()
"""


def run_level(cores: int, mode: str, n_images: int, budget_scale: float) -> dict:
    code = _WORKER.format(
        repo=REPO,
        cores=cores,
        mode=mode,
        n_images=n_images,
        universe=UNIVERSE,
        budget_scale=budget_scale,
    )
    t0 = time.time()
    env = dict(os.environ)
    # Memory is held FIXED and AMPLE (32 GiB) at every level so CPU is
    # the only scaled resource. Profiling showed both alternatives lie:
    # a per-core heap starves the LOW level (local[2] holds ALL the data
    # in one small heap — on a real cluster 2 executors each hold half),
    # while r2's flat 8 GiB starved the 6M-row HIGH level. With 32 GiB
    # neither level spills or evicts, so the throughput ratio measures
    # the dataflow's parallel scalability — the thing the N→4N criterion
    # is about — not cache-capacity artifacts local mode invents.
    env.setdefault("SPARK_DRIVER_MEMORY", "32g")
    # CPU-pin the whole process tree to exactly `cores` CPUs: local[k]
    # bounds JVM task SLOTS only — python workers, GC and shuffle threads
    # still spill onto every machine core, so an unpinned "2-core" run
    # actually burns ~2.3 cores (measured util 1.1-1.15 in
    # bench_profile_kernel) and the 4× efficiency denominator lies.
    # taskset makes compute resources genuinely scale 4× between levels,
    # like N→4N executors do.
    out = subprocess.run(
        ["taskset", "-c", f"0-{cores - 1}", sys.executable, "-c", code],
        capture_output=True,
        text=True,
        timeout=3600,
        env=env,
    )
    for line in out.stdout.splitlines():
        if line.startswith("RESULT "):
            r = json.loads(line[len("RESULT "):])
            r["subprocess_sec"] = round(time.time() - t0, 1)
            return r
    raise RuntimeError(f"no RESULT line (rc={out.returncode}):\n{out.stdout[-2000:]}\n{out.stderr[-3000:]}")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n-images", type=int, default=150000)
    ap.add_argument(
        "--mode", choices=["sched", "decode", "kernel", "both"], default="both"
    )
    ap.add_argument("--low", type=int, default=8)
    ap.add_argument("--high", type=int, default=32)
    # politeness budgets scaled up for the bench so epochs are few and fat
    # (per-epoch fixed latency amortizes over real work, as it would at
    # 10^10 where an epoch pops millions of URLs)
    ap.add_argument("--budget-scale", type=float, default=50.0)
    # wide-seed knob for the fat-from-epoch-1 sched pair (r5 verdict's open
    # prediction): pre-seeding the frontier makes epoch 1 pop at the caps
    # instead of ramping through the thin BFS head
    ap.add_argument("--n-seeds", type=int, default=500)
    ap.add_argument(
        "--lite",
        action="store_true",
        help="payload-light universe (sched/kernel modes only — no real image bytes)",
    )
    ap.add_argument("--tag", default="", help="suffix for the output json filename")
    args = ap.parse_args()

    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    pregen(args.n_images, args.budget_scale, args.lite, n_seeds=args.n_seeds)
    modes = ["sched", "decode"] if args.mode == "both" else [args.mode]
    for mode in modes:
        lo = run_level(args.low, mode, args.n_images, args.budget_scale)
        hi = run_level(args.high, mode, args.n_images, args.budget_scale)
        assert lo["fetched"] == hi["fetched"], (
            f"determinism violation: {lo['fetched']} != {hi['fetched']}"
        )
        eff = (hi["urls_per_sec"] / lo["urls_per_sec"]) / (args.high / args.low)
        result = {
            "mode": mode,
            "n_images": args.n_images,
            "low": lo,
            "high": hi,
            "scaling_efficiency": round(eff, 3),
            "fetched_equal": True,
        }
        suffix = f"_{args.tag}" if args.tag else ""
        path = os.path.join(REPO, "BENCH", f"scaling_{mode}{suffix}.json")
        with open(path, "w") as f:
            json.dump(result, f, indent=2)
        print(json.dumps(result))


if __name__ == "__main__":
    main()
