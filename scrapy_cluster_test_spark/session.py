"""SparkSession factory tuned for this engine.

Local mode is a stand-in for a multi-executor cluster: shuffle-partition
sizing, AQE, and Arrow settings are chosen so the same plans scale to a
1000-executor deployment (partition counts become a function of input size,
not hard-coded).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "scrapy_cluster_test_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores`` defaults to $SPARK_GRAFT_CPUS or all local cores. Shuffle
    partitions default to the core count — right for local mode; on a real
    cluster the epoch driver re-derives it from the popped batch size
    (see plans/epoch.py).
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    b = SparkSession.builder
    # Under spark-submit the launcher JVM already owns spark.master (the
    # --master flag): PYSPARK_GATEWAY_PORT marks that gateway, and setting
    # .master() here would silently override the submit-time cluster choice.
    if "PYSPARK_GATEWAY_PORT" not in os.environ:
        b = b.master(f"local[{cores}]")
    b = (
        b.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE flip shuffle joins to broadcast from ACTUAL runtime sizes
        # up to 128 MB (e.g. the popped batch in the payload join): static
        # estimates stay at the conservative 10 MB default, so only joins
        # whose materialized side is genuinely small get rewritten
        .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "134217728")
        .config("spark.sql.session.timeZone", "UTC")
        # Split sizing (guide §6.1): maxSplitBytes = min(maxPartitionBytes,
        # max(openCostInBytes, totalBytes/defaultParallelism)) — the 4 MB
        # openCost default floors CPU-heavy scans of small-but-dense
        # parquet (50k docs ≈ 16 MB → 4 tasks on 32 cores, so shingle/md5
        # map stages ran near-serial). 256 KB is an honest open cost for
        # local/fast storage; the bytes-per-core term keeps splits
        # scale-adaptive (≈ one split per core regardless of cluster
        # size), so this is not a local[32]-only tune. Override via
        # $SPARK_GRAFT_OPEN_COST for slow-open object stores.
        .config(
            "spark.sql.files.openCostInBytes",
            os.environ.get("SPARK_GRAFT_OPEN_COST", "262144"),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        # Generated-class cache (static: read once, when the JVM first
        # compiles). The default 100 entries is smaller than ONE crawl
        # epoch's working set, so every epoch recompiled its code from
        # scratch (137-177 classes per epoch, a second identical crawl
        # as many again). A whole crawl compiles 246 distinct classes
        # (perfbench's 2-epoch crawl) to 424 (8 epochs, 200 seeds, caps
        # 300/300), measured on a 4-core VM; 4,096 holds that with room
        # for the catalog's, so a process compiles each plan shape once
        # (the epoch records' ``codegen`` counts show it).
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        # PySpark's per-call call-site capture (a Python stack walk and
        # extra Py4J round trips for every Column built) feeds only error
        # messages; off, the driver's Py4J traffic per crawl falls ~3×.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Djava.net.preferIPv4Stack=true")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
