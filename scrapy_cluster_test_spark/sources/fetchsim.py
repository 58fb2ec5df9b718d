"""Deterministic fetch stage: popped frontier rows → fetched page rows.

Reference: the proxied HTTP downloader + retry middleware
(scrapy_project/project/utils.py:90-151, middlewares.py:22-233). In this
sandbox there is no network, so the "web" is a pure function of the image
table (crawlspec.py): page j serves image j's payload; its status code and
child links derive from image j's phash.

Dataflow (all native DataFrame ops; no Python worker runs):

1. derive ``image_id`` from the URL path (regexp_extract);
2. join the popped batch against the images table. The popped side is
   tiny (≤ Σ budgets) so it broadcasts; the images table is partitioned by
   ``img_bucket`` so dynamic partition pruning skips untouched buckets —
   at 10^10 rows the scan reads only the buckets this epoch touches;
3. status codes and the child fan-out are integer arithmetic on phash
   (crawlspec_sql's overflow-free splitmix64 and unsigned remainders).

Child URL strings are assembled by JVM codegen from integer link targets,
and their fingerprints/domain hashes are F.xxhash64 of the canonical URL,
so the hot hashing path stays in the JVM.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import crawlspec as spec
from .. import crawlspec_sql as csql
from ..functions import urlkit


def attach_image_id(popped: DataFrame) -> DataFrame:
    """image_id + partition bucket from the URL path, natively:
    .../{kind}/{j:010d} → (img{j:010d}, j % N_IMG_BUCKETS)."""
    j = F.regexp_extract("url", r"/(\d{10})$", 1)
    return popped.withColumn(
        "image_id", F.concat(F.lit("img"), j)
    ).withColumn(
        "img_bucket",
        F.pmod(j.cast("long"), F.lit(spec.N_IMG_BUCKETS)).cast("int"),
    )


def join_payload(
    popped: DataFrame,
    images: DataFrame,
    with_bytes: bool = False,
    prune_buckets: bool = True,
) -> DataFrame:
    """Join the popped batch to its page payloads.

    Broadcast the popped side; Catalyst prunes the image columns not
    selected (bytes stays unread unless requested — check ReadSchema in
    .explain). The images table is written partitionBy(img_bucket) and the
    popped side derives the same bucket natively, so joining on
    (img_bucket, image_id) dynamic-partition-prunes the scan: an epoch
    touching k of the N_IMG_BUCKETS partitions reads only those — at 10^10
    images the fetch path's scan bill is O(popped), not O(table)
    (PartitionFilters asserted in tests/test_plans.py)."""
    cols = ["image_id", "img_bucket", "phash"] + (
        ["bytes", "caption", "w", "h", "fmt"] if with_bytes else []
    )
    im = images.select(*cols)
    tagged = attach_image_id(popped)
    # Static partition pruning: the distinct bucket set is bounded by the
    # CONSTANT N_IMG_BUCKETS (≤64 ints), never by data size — a legitimate
    # driver-side collect. Catalyst turns the isin into PartitionFilters on
    # the scan, which Spark's DPP heuristics decline here (no selective
    # build-side filter to trigger them).
    if prune_buckets:
        # Worth a driver round-trip only when the popped batch is SMALL
        # (capped epochs): a large uncapped pop touches every bucket, so
        # the caller disables this and skips one job barrier per epoch.
        buckets = [
            r[0] for r in tagged.select("img_bucket").distinct().collect()
        ]
        im = im.filter(F.col("img_bucket").isin(buckets))
    # No broadcast hint: the popped side ranges from ~7k rows (capped sched
    # epochs — AQE flips this to a broadcast join at runtime, under the
    # raised adaptive threshold in session.py) to millions (uncapped
    # kernel epochs — a forced broadcast build of ~500 MB of wide rows was
    # a serial-per-epoch cost; a shuffle join is parallel and both sides
    # are O(popped) after the partition-pruned scan).
    return im.join(tagged, ["img_bucket", "image_id"], "inner").drop("img_bucket")


def fetch_statuses(popped_with_payload: DataFrame) -> DataFrame:
    """Status codes are integer arithmetic on phash — native columns, no UDF."""
    # crawlspec reads phash as unsigned, (phash & MASK) % m, which pmod on
    # the signed value does not match
    p = F.col("phash")
    return popped_with_payload.withColumn(
        "status_code",
        F.when(csql.umod(p, 97) == 0, 503)
        .when(csql.umod(p, 131) == 0, 404)
        .when(csql.umod(p, 35) == 0, 520)
        .otherwise(200)
        .cast("int"),
    )


def discover_children(fetched: DataFrame, n_images: int) -> DataFrame:
    """200-pages → child link rows, with native fp/domain/bucket columns.

    All native Column arithmetic (crawlspec_sql), no Python stage: each
    200 page explodes into its min(phash mod 35, MAX_CHILDREN) links,
    child k of page p targets page j = mix64(p ^ (k+1)·γ) mod n_images on
    domain d = domain_id(j), and the URL string is assembled afterwards
    by codegen (concat/lpad) from the integers (j, d). (In a real crawl
    this stage parses payloads — the same minimal-output rule applies:
    emit extraction results, not re-serialized pages.)"""
    # one (child_k, salt) struct per possible child; slice keeps the first n
    links = F.array(
        *[
            F.struct(
                F.lit(k).alias("child_k"),
                F.lit(csql.s64((k + 1) * spec._SM_GAMMA)).alias("_salt"),
            )
            for k in range(spec.MAX_CHILDREN)
        ]
    )
    n_child = F.least(
        csql.umod(F.col("phash"), 35), F.lit(spec.MAX_CHILDREN)
    ).cast("int")
    src = fetched.filter(F.col("status_code") == 200).select(
        F.col("seq").alias("parent_seq"),
        F.col("url_fp").alias("parent_fp"),
        # offer pages yield sellers and vice versa
        F.when(F.col("queue_kind") == "asin", "seller").otherwise("asin").alias("queue_kind"),
        "phash",
        F.inline(F.slice(links, 1, n_child)),
    )
    hj = csql.with_mix64(src, {"_hj": F.col("phash").bitwiseXOR(F.col("_salt"))})
    hd = csql.with_mix64(
        hj.select(
            "parent_seq", "parent_fp", "child_k", "queue_kind",
            csql.umod(F.col("_hj"), n_images).alias("j"),
        ),
        {"_hd": F.col("j")},
    )
    raw = hd.select(
        "parent_seq", "parent_fp", "child_k", "j",
        csql.domain_id(F.col("_hd")).alias("d"), "queue_kind",
    )
    # Engine-constructed child URLs are canonical BY CONSTRUCTION (https,
    # lowercase host, no query/fragment), so canonicalize() — six
    # parse_url calls per row, ~20 s/epoch at a 27M fan-out — is skipped;
    # the identity canonicalize(child_url) == child_url is pinned in
    # tests/test_urlkit.py. External URLs (seeds, imports) always go
    # through the full canonicalizer.
    domain = F.concat(
        F.lit("d"), F.lpad(F.col("d").cast("string"), 4, "0"), F.lit(".example.com")
    )
    url = F.concat(
        F.lit("https://"),
        domain,
        F.lit("/"),
        F.col("queue_kind"),
        F.lit("/"),
        F.lpad(F.col("j").cast("string"), 10, "0"),
    )
    fp = urlkit.url_fingerprint(url)
    return raw.select(
        url.alias("url"),
        fp.alias("url_fp"),
        domain.alias("domain"),
        urlkit.domain_hash(domain).alias("domain_hash"),
        "queue_kind",
        F.pmod(fp, F.lit(spec.N_PATH_BUCKETS)).cast("int").alias("path_bucket"),
        "parent_fp",
        "parent_seq",
        "child_k",
    )


def with_parent_context(
    child_rows: DataFrame,
    parent_log: DataFrame,
    ctx_cols: tuple[str, ...] = ("domain", "queue_kind", "status_code", "image_id", "seq"),
) -> DataFrame:
    """Chained-fetch context (SURVEY Q12): the reference forwards the FULL
    parsed parent row into the child request as ``cb_kwargs`` so the next
    callback can merge onto it (amazon_merchant.py:547-572 — the seller
    struct rides into parse_inventory_info). Carrying a wide struct inside
    every frontier row would bloat 10^10 rows with data that is already
    durable, so the Spark-first form reconstructs the context ON DEMAND:
    children keep only ``parent_fp`` (8 bytes), and this equi-join against
    the parent's crawl-log row rebuilds exactly what cb_kwargs carried —
    one shuffle-hash join keyed by url_fp, prunable to the parent's epoch.

    ``parent_log`` is any frame keyed by ``url_fp`` (e.g.
    epoch.read_crawl_log output). Parent columns arrive as one ``ctx``
    struct; children with no logged parent (seeds) get ctx = NULL.
    """
    parents = parent_log.select(
        F.col("url_fp").alias("parent_fp"),
        F.struct(*[F.col(c).alias(c) for c in ctx_cols]).alias("ctx"),
    )
    return child_rows.join(parents, "parent_fp", "left")
