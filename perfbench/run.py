"""Benchmark command for the crawl engine and the query catalog.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The package is imported from that checkout
and every input is generated there, under ``.perfbench/`` (ignored by git):
inputs that depend only on fixed parameters are cached across runs, inputs
that depend on ``--seed`` are written per run. ``--trace 0`` prints the
end-to-end metrics of BENCHMARK.json, ``--trace 1`` the per-layer metrics;
``perfbench/METRICS.md`` defines both. The last stdout line is the JSON
result; the exit code is 1 when any output differs from its oracle.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "scrapy_cluster_test_spark"
SETUP_REPS = 3
# an untraced catalog run times every CATALOG_STRIDE-th query of each group
CATALOG_STRIDE = 3
# times the warm-up query is timed on each side of the tracing overhead
OVERHEAD_REPS = 5
DRIVER_MEMORY = "1g"

# The trivial warm-up query: codegen, a higher-order function, a window and
# a small shuffle, over no benchmark table.
WARM_SQL = (
    "SELECT id, aggregate(array(id, id), 0L, (a, x) -> a + x) s, "
    "row_number() OVER (PARTITION BY id % 4 ORDER BY id) rn FROM range(1000)"
)


def hd_quantile(xs: list[float], p: float) -> float:
    """Harrell-Davis estimate of the ``p`` quantile: a Beta(p(n+1),
    (1-p)(n+1))-weighted mean of all order statistics. Unlike one
    interpolated order statistic it does not jump when a neighbouring step
    changes rank, which matters in the sparse upper tail of the queries."""
    import numpy as np

    x = np.sort(np.asarray(xs, dtype=float))
    n = len(x)
    if n == 1:
        return float(x[0])
    a, b = p * (n + 1), (1 - p) * (n + 1)
    t = np.linspace(0.0, 1.0, 20_001)[1:-1]
    log_pdf = (a - 1) * np.log(t) + (b - 1) * np.log1p(-t) - (
        math.lgamma(a) + math.lgamma(b) - math.lgamma(a + b)
    )
    cdf = np.concatenate([[0.0], np.cumsum(np.exp(log_pdf)), [0.0]])
    cdf[-1] = cdf[-2]
    cdf /= cdf[-1]
    grid = np.concatenate([[0.0], t, [1.0]])
    weights = np.diff(np.interp(np.arange(n + 1) / n, grid, cdf))
    return float(weights @ x)


class Bench:
    def __init__(self, args, work: str, cache: str):
        from perfbench import crawl

        self.args = args
        self.work = work
        self.cache = cache
        self.cores = len(os.sched_getaffinity(0))
        self.spark = None
        self.log_dir = os.path.join(work, "eventlog")
        self.since_ms = 0
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            self.spec = json.load(f)
        # wide seeds over a payload-light universe with large budgets and
        # caps: the epochs pop thousands of URLs each, so per-URL work (rank,
        # payload join, children, bloom probe) is a large share of each
        # epoch next to its fixed cost; the second epoch compacts. The crawl
        # is the first in its JVM: a warm-up crawl would cost more time than
        # it takes off the measured one, and the time of all runs is bounded
        self.crawl_spec = crawl.CrawlSpec(
            universe=crawl.Universe(n_images=4_000, budget_scale=20.0),
            n_seeds=2_000, seller_cap=1_000_000, asin_cap=1_000_000,
            max_epochs=2, compact_every=2,
        )
        self.catalog_sf = 0.01
        self.catalog_data_seed = 42

    # -- sessions ---------------------------------------------------------
    def start(self, event_log: str | None = None):
        from scrapy_cluster_test_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        extra = {}
        if event_log is not None:
            os.makedirs(event_log, exist_ok=True)
            extra = {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": "file://" + event_log,
            }
        self.spark = get_spark("perfbench", cores=self.cores, extra_conf=extra)
        return self.spark

    def close(self) -> None:
        """Stop Spark, end the JVM and wait for every process it started."""
        from perfbench import procstat

        kids = procstat.descendants(os.getpid())
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()  # the gateway JVM exits when its stdin closes
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
        procstat.wait_gone(kids + procstat.descendants(os.getpid()), timeout_s=30)

    def setup(self, prepare) -> list[float]:
        """SETUP_REPS identical set-ups: new session, inputs, warm-up query."""
        times = []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            spark = self.start()
            prepare(spark)
            self.warm_query(spark)
            spark.catalog.clearCache()
            times.append(time.perf_counter() - t0)
        return times

    def end_trace(self) -> float:
        """Replace the traced session by an untraced one in the same JVM,
        which closes the event log. Returns the tracing overhead: the median
        time of the warm-up query in the traced session over that in the
        untraced one, minus 1."""
        traced = self.time_warm_query()
        self.start()
        self.warm_query(self.spark)  # the new context's first query
        return traced / self.time_warm_query() - 1.0

    def prepare_and_warm(self, prepare, warm=None) -> dict:
        """Set-ups in an untraced run; a traced run starts one session, which
        writes the event log. Then the workload's warm-up ``warm``, if it
        has one, which returns its seconds."""
        out: dict = {"warm_s": None}
        if self.args.trace:
            self.start(event_log=self.log_dir)
            prepare(self.spark)
            self.warm_query(self.spark)
        else:
            out["setup_s"] = self.setup(prepare)
        if warm is not None:
            out["warm_s"] = warm()
        return out

    def warm_query(self, spark) -> None:
        spark.sql(WARM_SQL).groupBy("rn").count().write.format("noop").mode(
            "overwrite"
        ).save()

    def time_warm_query(self) -> float:
        times = []
        for _ in range(OVERHEAD_REPS):
            t0 = time.perf_counter()
            self.warm_query(self.spark)
            times.append(time.perf_counter() - t0)
        return statistics.median(times)

    def warm_catalog(self, data_dir: str) -> float:
        """Imports the kernel modules here and, through a small pandas job on
        every core, in the Python workers; then a grouped count of every
        table into pandas (scan, shuffle, AQE, Arrow collect) and
        ``clearCache()``. Without it the first queries of a pass, whichever
        the seed puts there, run 1-2 s slower."""
        import importlib

        from perfbench import catalog, catalogdata

        modules = list(catalog.KERNELS.values())
        for m in modules:
            importlib.import_module(m)

        def imports(batches):
            for m in modules:
                importlib.import_module(m)
            yield from batches

        t0 = time.perf_counter()
        df = self.spark.range(0, 10_000, numPartitions=self.cores)
        df.mapInPandas(imports, df.schema).write.format("noop").mode(
            "overwrite"
        ).save()
        for t in catalogdata.TABLES:
            df = self.spark.read.parquet(os.path.join(data_dir, f"{t}.parquet"))
            df.groupBy(df.columns[0]).count().toPandas()
        self.spark.catalog.clearCache()
        return time.perf_counter() - t0

    # -- crawl ------------------------------------------------------------
    def run_crawl_workload(self, cs) -> dict:
        from perfbench import crawl, procstat

        a = self.args
        seeds_path = os.path.join(self.work, "inputs", "seeds")

        def prepare(spark):
            if os.path.isdir(seeds_path):
                shutil.rmtree(seeds_path)
            crawl.write_seeds(
                seeds_path, crawl.seed_rows(a.seed, cs.universe.n_images, cs.n_seeds)
            )
            # generated on the first run in a checkout, then reused
            return crawl.ensure_universe(spark, self.cache, cs.universe)

        with procstat.Monitor() as mon:
            out = self.prepare_and_warm(prepare)
            udir = crawl.ensure_universe(self.spark, self.cache, cs.universe)
            self.since_ms = int(time.time() * 1000)
            crawls = crawl.run_crawls(self.spark, cs, udir, seeds_path,
                                      os.path.join(self.work, "jobs"), a.seconds)
        if a.trace:
            out["trace_overhead"] = self.end_trace()
            # in the warm JVM, after the event log is closed
            out["layers"] = crawl.replay_epoch(
                self.spark, cs, udir, seeds_path, os.path.join(self.work, "replay")
            )
            out["layers"]["seen.bloom_fp_rate"] = crawl.bloom_fp_rate(
                self.spark, crawls[-1]["job_dir"], cs.universe.n_images
            )
        seeds = crawl.seed_rows(a.seed, cs.universe.n_images, cs.n_seeds)
        expected = crawl.simulated_log(self.cache, cs, udir, seeds)
        failed = sum(
            crawl.check_crawl(self.spark, c["job_dir"], expected, len(c["epoch_s"]))
            for c in crawls
        )
        out.update(
            monitor=mon, crawls=crawls, failed=failed,
            attempted=sum(len(c["epoch_s"]) for c in crawls),
        )
        out["provenance"] = {
            "universe": cs.universe.__dict__,
            "crawl": {k: v for k, v in cs.__dict__.items() if k != "universe"},
            "seeds_after_dedup": len(seeds),
            "crawls": [
                {k: c[k] for k in ("wall_s", "fetched", "epoch_s", "popped")}
                for c in crawls
            ],
            "production_fields": crawl.PRODUCTION,
        }
        return out

    # -- catalog ----------------------------------------------------------
    def run_catalog_workload(self) -> dict:
        from perfbench import catalog, crawl, procstat

        from scrapy_cluster_test_spark.plans.catalog import catalog as registry

        a = self.args

        def prepare(_spark):
            # written on the first run in a checkout, then reused
            return catalog.ensure_data(self.cache, self.catalog_sf, self.catalog_data_seed)

        # a trace run times every query; an untraced run a fixed third that
        # holds every kernel group
        if a.trace:
            names = list(registry())
        else:
            def session():
                spark = self.start()
                return spark, prepare(spark)

            groups = catalog.query_groups(self.cache, session)
            # a new JVM measures: the plans built to find the groups would
            # have warmed the planner of this one
            self.close()
            names = catalog.every_nth_per_group(groups, CATALOG_STRIDE)
        order = catalog.query_order(a.seed, names)

        with procstat.Monitor() as mon:
            out = self.prepare_and_warm(
                prepare, lambda: self.warm_catalog(prepare(self.spark))
            )
            data = prepare(self.spark)
            self.since_ms = int(time.time() * 1000)
            passes: list = []
            start = time.perf_counter()
            with catalog.KernelCalls() if a.trace else contextlib.nullcontext() as kc:
                while crawl.fits(start, a.seconds, [p[0] for p in passes]):
                    passes.append(catalog.run_pass(self.spark, data, order, kc))
        if a.trace:
            out["trace_overhead"] = self.end_trace()
        expected = catalog.oracle_results(data)
        attempted = failed = 0
        empty: set[str] = set()
        for _, _, results, _ in passes:
            bad, none = catalog.mismatches(results, expected)
            for name in results:
                if name in bad:
                    attempted, failed = attempted + 1, failed + 1
                elif name not in none:
                    attempted += 1
            empty.update(set(none) - set(bad))
            if bad:
                print(json.dumps({"mismatched_queries": sorted(bad)}), flush=True)
        out.update(monitor=mon, passes=passes, attempted=attempted, failed=failed,
                   empty=sorted(empty))
        out["provenance"] = {
            "catalog_sf": self.catalog_sf,
            "catalog_data_seed": self.catalog_data_seed,
            "query_order": order,
            "pass_s": [p[0] for p in passes],
            "query_s": [p[1] for p in passes],
            "empty_queries": sorted(empty),
        }
        return out

    # -- metrics ----------------------------------------------------------
    @staticmethod
    def query_times(passes: list) -> dict[str, float]:
        """Each query's median time over the run's passes."""
        per_query: dict[str, list[float]] = {}
        for _, times, _, _ in passes:
            for name, t in times.items():
                per_query.setdefault(name, []).append(t)
        return {n: statistics.median(ts) for n, ts in per_query.items()}

    def end_to_end(self, r: dict) -> dict[str, float]:
        m = {
            "setup_s": statistics.median(r["setup_s"]),
            "peak_rss_mb": r["monitor"].peak / 2**20,
        }
        if "crawls" in r:
            steps = [t for c in r["crawls"] for t in c["epoch_s"]]
            m["work_per_s"] = statistics.median(
                c["fetched"] / c["wall_s"] for c in r["crawls"]
            )
        else:
            steps = list(self.query_times(r["passes"]).values())
            m["work_per_s"] = sum(len(p[1]) for p in r["passes"]) / sum(
                p[0] for p in r["passes"]
            )
        m["step_gmean_s"] = statistics.geometric_mean(steps)
        m["step_p80_s"] = hd_quantile(steps, 0.8)
        return m

    def per_layer(self, r: dict) -> dict[str, float]:
        """Every per-layer metric; a layer the workload does not run is 0."""
        from perfbench import catalog, crawl, eventlog
        from scrapy_cluster_test_spark.plans.catalog import catalog as registry

        m: dict[str, float] = {k: 0.0 for k in crawl.LAYER_METRICS}
        m.update({f"query.{n}_s": 0.0 for n in registry()})
        m.update({f"catalog.{g}_s": 0.0 for g in catalog.GROUPS})
        m["catalog.empty_queries"] = 0
        spark_m = eventlog.summarize(eventlog.log_files(self.log_dir), self.since_ms)
        if "crawls" in r:
            m.update(crawl.layer_summary(r["crawls"]))
            m.update(r["layers"])
            wall = sum(c["wall_s"] for c in r["crawls"])
            spark_m["spark.jobs_per_epoch"] = spark_m["spark.jobs"] / m["epoch.count"]
        else:
            wall = sum(p[0] for p in r["passes"])
            groups = r["passes"][0][3]
            for name, t in self.query_times(r["passes"]).items():
                m[f"query.{name}_s"] = t
                m[f"catalog.{groups[name]}_s"] += t
            m["catalog.empty_queries"] = len(r["empty"])
            spark_m["spark.jobs_per_epoch"] = 0.0
        spark_m["spark.cpu_util"] = spark_m["spark.task_cpu_s"] / (wall * self.cores)
        m.update(spark_m)
        m["trace.overhead_frac"] = r["trace_overhead"]
        return m

    def run(self) -> dict:
        a = self.args
        if a.workload == "catalog":
            r = self.run_catalog_workload()
        else:
            r = self.run_crawl_workload(self.crawl_spec)
        kind = "per_layer" if a.trace else "end_to_end"
        values = self.per_layer(r) if a.trace else self.end_to_end(r)
        units = {d["name"]: d["unit"] for d in self.spec[kind]}
        if set(values) != set(units):
            raise RuntimeError(
                f"metrics differ from BENCHMARK.json {kind}: "
                f"missing {sorted(set(units) - set(values))}, "
                f"extra {sorted(set(values) - set(units))}"
            )
        import pyarrow
        import pyspark

        print(
            json.dumps(
                {
                    "provenance": {
                        "workload": a.workload,
                        "seed": a.seed,
                        "seconds": a.seconds,
                        "trace": a.trace,
                        "nproc": self.cores,
                        "spark": pyspark.__version__,
                        "pyarrow": pyarrow.__version__,
                        "python": sys.version.split()[0],
                        "setup_s_each": r.get("setup_s"),
                        "warmup_s": r["warm_s"],
                        "host_steal_s": r["monitor"].steal_s,
                        "peak_pss_mb_by_command": {
                            k: round(v / 2**20, 1)
                            for k, v in r["monitor"].at_peak.items()
                        },
                        **r["provenance"],
                    }
                }
            ),
            flush=True,
        )
        return {
            "correct": r["failed"] == 0,
            "attempted": r["attempted"],
            "failed": r["failed"],
            "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
        }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("crawl", "catalog"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"{PACKAGE}/ not found under {ROOT}: run from a checkout", file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench")
    cache = os.path.join(base, "cache")
    work = os.path.join(base, "work", f"run-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(cache, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    # Spark's Python workers import the package from the checkout; temporary
    # files of Spark, the JVM and Python stay inside the run's directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    sys.path.insert(0, ROOT)
    os.chdir(work)
    bench = Bench(args, work, cache)
    try:
        result = bench.run()
    finally:
        bench.close()
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
