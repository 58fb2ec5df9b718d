"""Hot-domain skew: salted repartition spreads one mega-domain across
partitions; crawl results are unchanged when it's enabled."""

from __future__ import annotations

from pyspark.sql import functions as F

from scrapy_cluster_test_spark.operators.frontier import salted_repartition


def _skewed(spark, n=20000):
    # 60% of rows on one hot domain_hash
    return spark.range(n).select(
        F.when(F.col("id") % 10 < 6, F.lit(777)).otherwise(F.col("id") % 997).alias(
            "domain_hash"
        ),
        F.xxhash64("id").alias("url_fp"),
    )


def test_salting_spreads_hot_domain(spark):
    df = _skewed(spark)
    P = 16
    unsalted = df.repartition(P, "domain_hash").withColumn(
        "pid", F.spark_partition_id()
    )
    salted = salted_repartition(df, P, salt_buckets=16).withColumn(
        "pid", F.spark_partition_id()
    )
    hot_parts = lambda d: (
        d.filter(F.col("domain_hash") == 777).select("pid").distinct().count()
    )
    assert hot_parts(unsalted) == 1  # the skew problem
    assert hot_parts(salted) >= 8  # the fix

    # max partition share drops from ~60% to near-uniform
    sizes = (
        salted.groupBy("pid").count().agg(F.max("count").alias("mx")).collect()[0]["mx"]
    )
    assert sizes < 0.25 * 20000


def test_salting_preserves_rows(spark):
    df = _skewed(spark, 5000)
    out = salted_repartition(df, 8)
    assert out.count() == 5000
    assert out.select("url_fp").distinct().count() == df.select(
        "url_fp"
    ).distinct().count()


def test_crawl_with_salting_identical(spark, tmp_path):
    """Engine outputs must equal the simulator with fetch_partitions set —
    salting changes placement, never the schedule."""
    from scrapy_cluster_test_spark import datagen
    from scrapy_cluster_test_spark.plans import epoch as ep

    from . import crawl_oracle as oracle

    data = str(tmp_path / "data")
    datagen.generate_all(spark, data, n_images=80, n_seeds=5, budget_scale=0.5)
    p = ep.CrawlParams(
        images_path=f"{data}/images.parquet",
        seeds_path=f"{data}/seeds.parquet",
        domains_path=f"{data}/domains.parquet",
        robots_path=f"{data}/robots.parquet",
        job_dir=str(tmp_path / "salted"),
        n_images=80,
        max_epochs=10,
        fetch_partitions=6,
        salt_buckets=8,
    )
    ep.run_crawl(spark, p, resume=False)
    sim = oracle.simulate_universe(data, 80, 5, max_epochs=10, budget_scale=0.5)
    oracle.assert_matches_simulator(spark, p.job_dir, sim)
