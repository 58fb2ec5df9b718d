"""Epoch driver: the autonomous crawl loop as one transaction per epoch.

Reference: the `spider_idle` epoch (pop → fetch → parse → push,
amazon_merchant_autonomous.py:60-154) with pending-flag resume semantics
(pipelines.py:429-455). Here each epoch is a log-structured commit:

    job_dir/epoch=00000/frontier/    bootstrap snapshot (the seeds)
    job_dir/epoch=NNNNN/delta/       the rows this epoch touched (fetched,
                                     robots-blocked, newly enqueued),
                                     partitioned _dbucket=pmod(domain_hash, 16)
    job_dir/epoch=NNNNN/frontier/    compacted snapshot, every
                                     ``compact_every`` epochs
    job_dir/epoch=NNNNN/bloom/       the URL-seen Bloom shard bitmaps
    job_dir/epoch=NNNNN/metrics/     counter rows
    job_dir/epoch=NNNNN/_COMMIT      json commit record — the epoch is
                                     visible only once this exists

The frontier state as of epoch N is the last snapshot ≤ N overlaid with
every later delta, last writer wins (merge-on-read); compaction snapshots
bound that chain. This is Delta Lake's single write path: an append-only
log whose checkpoints are compactions. The crawl log is a projection of
the deltas (the fetched rows), not a second table.

A killed job resumes from the last `_COMMIT`ed epoch exactly (uncommitted
partial writes are ignored and overwritten). Within one process the loop
never re-reads that log: it carries the pending frontier, the seen-fp set
and the Bloom table between epochs as checkpointed relations (bootstrap
hands them to epoch 1), and only the first epoch of a resumed process
resolves the state from disk.

Determinism: no wall clock anywhere — crawl_time is a logical counter,
seq a row_number over a total order ending in url_fp. The crawl log, final
statuses, seen set and metrics equal ``oracle.simulator.simulate`` at any
parallelism level (tests/test_crawl_equivalence.py).
"""

from __future__ import annotations

import json
import logging
import os
import shutil
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from .. import crawlspec as spec
from .. import locking
from ..operators import frontier as fr_ops
from ..operators import seen as seen_ops
from ..schemas import FRONTIER
from ..sources import fetchsim

FRONTIER_COLS = [f.name for f in FRONTIER.fields]

_log = logging.getLogger(__name__)

# Count of pipelined-prepop build failures (each one falls back to the
# serial rebuild — correct but slower). Surfaced so a systematically
# failing prepop can't disable pipelining invisibly: the handler logs a
# warning and records ``prepop_fallback`` in the epoch's phases, and
# tests/test_epoch_tail.py asserts the counter stays zero.
PREPOP_FALLBACKS = 0

# per-partition lineage granularity: fetch counts per pmod(domain_hash, B)
# bucket per epoch — mirrors an Iceberg table bucketed by domain_hash
N_LINEAGE_BUCKETS = 16


@dataclass
class CrawlParams:
    images_path: str
    seeds_path: str
    domains_path: str
    robots_path: str
    job_dir: str
    n_images: int
    seller_cap: int = 5000  # amazon_merchant_autonomous.py:99
    asin_cap: int = 2000  # amazon_merchant_autonomous.py:81
    max_epochs: int = 50
    # Sharded Bloom pre-filter for the seen-set anti-join (north rule):
    # bloom-negatives skip the exact join, positives are verified by it,
    # so results never depend on the filter.
    bloom_shards: int = 16
    # Fixed Bloom capacity (total keys) for the INCREMENTAL bitmap table:
    # sized once up front, each epoch ORs only the new fps into last
    # epoch's table — the north rule's broadcast-plus-delta lifecycle.
    # None → 2·n_images + 1000 (every image can contribute one seller and
    # one asin URL, plus seeds).
    bloom_expected_total: int | None = None
    # ADAPTIVE RESIZE: when the frontier (== seen-key count, fps never
    # leave it) exceeds this fraction of the filter's design capacity
    # (m_bits·shards / BITS_PER_KEY), the epoch's bloom job rebuilds the
    # table at bloom_m_bits(2·n_frontier) instead of OR-ing — one
    # O(frontier) pass, amortized O(1)/key by doubling, exactly like a
    # hash-table grow. Without it a long crawl silently degrades: the
    # false-positive rate climbs and every fp is paid for in the exact
    # verify anti-join's probe side (results stay correct — only the
    # join grows). The new size is recorded in the epoch's commit record
    # (``bloom_m_bits``) so probe positions stay consistent across
    # epochs and resume. 0 disables (fixed size forever).
    bloom_resize_at: float = 0.8
    # Salted repartition of the popped batch before fetch (Q15 hot-domain
    # skew defense). None = let Catalyst place the work (fine when popped
    # batches are small); set to ~cluster cores at scale.
    fetch_partitions: int | None = None
    salt_buckets: int = 16
    # A full compacted snapshot every `compact_every` epochs bounds the
    # delta chain the merge-on-read resolve overlays (and the carried
    # seen set's layer count). A real Iceberg/Delta catalog was evaluated
    # (round 3): no iceberg/delta jar exists in the container, so the
    # directory log stands in — its delta files are bucket-partitioned
    # by pmod(domain_hash, N_LINEAGE_BUCKETS) like the Iceberg table the
    # north rule names.
    compact_every: int = 8
    # S8 proxy-token lease: when set, run_crawl leases one token per
    # provider from this parquet config table at start (kafka_monitor/
    # main.py:29-58) and releases them on exit (pipelines.py:391-403).
    proxies_path: str | None = None
    # Q12 chained-fetch context as an epoch-path consumer: when set, each
    # epoch also writes ``child_ctx`` — every ENQUEUED child with its
    # parent's crawl-log row reconstructed as one ``ctx`` struct via
    # fetchsim.with_parent_context (the reference's cb_kwargs carry,
    # amazon_merchant.py:547-572, rebuilt on demand from parent_fp instead
    # of bloating 10^10 frontier rows with duplicated parent data).
    emit_child_context: bool = False
    # How long run_crawl waits for a LIVE concurrent writer of the same
    # job_dir before raising WriterConflict. Short by design: a second
    # writer is a deployment error, not contention to ride out. Dead
    # holders' leases are broken immediately regardless.
    lock_timeout_s: float = 5.0


def _epoch_dir(job_dir: str, epoch: int) -> str:
    return os.path.join(job_dir, f"epoch={epoch:05d}")


def _bloom_m_bits(p: CrawlParams) -> int:
    n = p.bloom_expected_total or (2 * p.n_images + 1000)
    return seen_ops.bloom_m_bits(n, p.bloom_shards)


def _commit_path(job_dir: str, epoch: int) -> str:
    return os.path.join(_epoch_dir(job_dir, epoch), "_COMMIT")


def last_committed_epoch(job_dir: str) -> int | None:
    if not os.path.isdir(job_dir):
        return None
    best = None
    for name in os.listdir(job_dir):
        if name.startswith("epoch=") and os.path.exists(
            os.path.join(job_dir, name, "_COMMIT")
        ):
            e = int(name.split("=")[1])
            best = e if best is None else max(best, e)
    return best


def read_commit(job_dir: str, epoch: int) -> dict:
    with open(_commit_path(job_dir, epoch)) as f:
        return json.load(f)


def bootstrap(spark: SparkSession, p: CrawlParams, carry: dict | None = None) -> None:
    """Epoch 0: seeds → initial frontier snapshot and Bloom table (S4
    seed-list source).

    The seed frontier is checkpointed once; its count is observed on that
    action. The snapshot write and the Bloom build and write then run
    concurrently. With ``carry`` (run_crawl's carried state), a third
    concurrent job caches the dimension tables and pre-builds epoch 1's
    pop, and the seed frontier, its fps and the Bloom table are handed to
    epoch 1 as carried state — epoch 1 reads nothing back from disk,
    like every later epoch."""
    t_boot = time.perf_counter()
    ph: dict[str, float] = {}
    seeds = spark.read.parquet(p.seeds_path)
    from ..functions import urlkit

    canon = urlkit.canonicalize(F.col("url"))
    fp = urlkit.url_fingerprint(canon)
    domain = urlkit.domain_of(canon)
    fr = seeds.select(
        canon.alias("url"),
        fp.alias("url_fp"),
        domain.alias("domain"),
        urlkit.domain_hash(domain).alias("domain_hash"),
        "queue_kind",
        F.lit(0).alias("priority"),
        F.col("crawl_time").cast("long").alias("crawl_time"),
        F.lit(0).alias("retry_times"),
        F.lit("crawlera").alias("provider"),
        F.lit("pending").alias("status"),
        F.pmod(fp, F.lit(spec.N_PATH_BUCKETS)).cast("int").alias("path_bucket"),
        F.lit(None).cast("long").alias("parent_fp"),
        F.lit(0).alias("epoch"),
    ).select(*FRONTIER_COLS)
    ed = _epoch_dir(p.job_dir, 0)
    if os.path.isdir(ed):
        shutil.rmtree(ed)
    m_bits = _bloom_m_bits(p)
    obs = Observation()
    t = time.perf_counter()
    ck = fr.observe(obs, F.count(F.lit(1)).alias("n")).localCheckpoint(eager=True)
    ph["ck"] = time.perf_counter() - t
    pending = int(obs.get["n"])
    rec = {
        "epoch": 0,
        "seq_base": 0,
        "pending": pending,
        "n_frontier": pending,
        "bloom_m_bits": m_bits,
    }

    def _job_write() -> None:
        t0 = time.perf_counter()
        _null_audit(ck).write.parquet(os.path.join(ed, "frontier"))
        ph["write"] = time.perf_counter() - t0

    def _job_bloom() -> None:
        t0 = time.perf_counter()
        table = seen_ops.build_bloom_table_fixed(
            ck.select("url_fp"), m_bits, n_shards=p.bloom_shards
        ).localCheckpoint(eager=True)
        table.write.parquet(os.path.join(ed, "bloom"))
        if carry is not None:
            carry["bloom"] = table
        ph["bloom_write"] = time.perf_counter() - t0

    def _job_dims_prepop() -> None:
        t0 = time.perf_counter()
        carry["dims"] = dims = _cache_dims(spark, p)
        ph["dims"] = time.perf_counter() - t0
        if pending > 0 and p.max_epochs >= 1:
            _prepop(p, carry, 1, 0, rec, dims, ph)

    jobs = [_job_write, _job_bloom]
    if carry is not None:
        carry["pending"] = ck
        carry["seen"] = ck.select("url_fp")
        jobs.append(_job_dims_prepop)
    t = time.perf_counter()
    _run_concurrently(jobs)
    ph["tail"] = time.perf_counter() - t
    ph["total"] = time.perf_counter() - t_boot
    rec["phases"] = {k: round(v, 4) for k, v in ph.items()}
    with open(_commit_path(p.job_dir, 0), "w") as f:
        json.dump(rec, f)


def _run_concurrently(jobs: list) -> None:
    """Run independent jobs from driver threads; join ALL before
    re-raising the first failure."""
    with ThreadPoolExecutor(max_workers=len(jobs)) as ex:
        futs = [ex.submit(j) for j in jobs]
        first_err = None
        for fut in futs:
            try:
                fut.result()
            except Exception as exc:
                if first_err is None:
                    first_err = exc
        if first_err is not None:
            raise first_err


def _cache_dims(spark: SparkSession, p: CrawlParams) -> dict:
    """The dimension tables, cached once for the crawl loop instead of
    re-read from parquet by every epoch (a per-epoch fixed cost — scan
    stage launch + file listing × hundreds of epochs — that never shrinks
    with cores). The payload-join projection of the corpus is cached
    PRE-PARTITIONED AND PRE-SORTED on the join keys, so each epoch's
    payload join satisfies its required distribution/ordering straight
    from the cache: only the O(popped) side is ever shuffled. At 10^10
    this cached projection is ~24 B/row spread across the fleet
    (spilling to local disk where it doesn't fit); the wide payload bytes
    stay behind the bucket-pruned scan."""
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    im = (
        spark.read.parquet(p.images_path)
        .select("image_id", "img_bucket", "phash")
        .repartition(n_part, "img_bucket", "image_id")
        .sortWithinPartitions("img_bucket", "image_id")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    dom = spark.read.parquet(p.domains_path).persist(StorageLevel.MEMORY_AND_DISK)
    rob = spark.read.parquet(p.robots_path).persist(StorageLevel.MEMORY_AND_DISK)
    im.count(), dom.count(), rob.count()  # materialize once, up front
    return {"images": im, "domains": dom, "robots": rob}


# extra audit columns carried on the snapshot rows touched this epoch —
# the crawl log is a projection of the snapshot, not a second table
# (one write per epoch, exactly like a single Iceberg MERGE commit)
_AUDIT_COLS = ["seq", "status_code", "image_id"]
SNAPSHOT_COLS = FRONTIER_COLS + _AUDIT_COLS


def _null_audit(df):
    return (
        df.withColumn("seq", F.lit(None).cast("long"))
        .withColumn("status_code", F.lit(None).cast("int"))
        .withColumn("image_id", F.lit(None).cast("string"))
    )


def _compact_snapshot(spark: SparkSession, job_dir: str, epoch: int) -> None:
    """Write a full snapshot for an ALREADY-COMMITTED epoch post-hoc
    (resume-time compaction). The snapshot is derived state — a cache of
    the delta resolve, never the commit itself — so the _COMMIT marker is
    untouched; torn-write safety comes from writing to a tmp dir and
    atomically renaming it into place (a crash mid-write leaves only the
    tmp dir, which no reader matches — _frontier_base_epoch looks for the
    exact name ``frontier``)."""
    ed = _epoch_dir(job_dir, epoch)
    final = os.path.join(ed, "frontier")
    if os.path.isdir(final):
        return
    tmp = os.path.join(ed, "_frontier_compact_tmp")
    if os.path.isdir(tmp):
        shutil.rmtree(tmp)
    _read_frontier_state(spark, job_dir, epoch, with_audit=True).write.parquet(
        tmp
    )
    os.rename(tmp, final)


def _frontier_base_epoch(job_dir: str, upto: int) -> int:
    """Latest epoch ≤ upto that has a full snapshot (bootstrap or
    compaction) — the base the delta overlay starts from."""
    for e in range(upto, -1, -1):
        if os.path.isdir(os.path.join(_epoch_dir(job_dir, e), "frontier")):
            return e
    raise FileNotFoundError(f"no frontier snapshot ≤ epoch {upto} in {job_dir}")


def _read_frontier_state(
    spark: SparkSession, job_dir: str, upto: int, with_audit: bool = False
) -> DataFrame:
    """Frontier state as of `upto`: base snapshot overlaid with every
    later delta, resolved last-writer-wins by url_fp.

    Scale shape: the per-fp resolution window runs over DELTA rows only
    (bounded by budgets × epochs-since-compaction, never the 10^10 base);
    the base contributes via one anti-join on the touched fps — broadcast
    when the touched set is small, the same bucketed-MERGE read an Iceberg
    merge-on-read table does."""
    cols = SNAPSHOT_COLS if with_audit else FRONTIER_COLS
    base_e = _frontier_base_epoch(job_dir, upto)
    base = spark.read.parquet(
        os.path.join(_epoch_dir(job_dir, base_e), "frontier")
    ).select(*SNAPSHOT_COLS)
    deltas = [
        os.path.join(_epoch_dir(job_dir, e), "delta")
        for e in range(base_e + 1, upto + 1)
        if os.path.isdir(os.path.join(_epoch_dir(job_dir, e), "delta"))
    ]
    if not deltas:
        return base.select(*cols)
    # each delta root is its own partitioned (_dbucket=K) table — Spark's
    # partition discovery cannot span multiple roots, so read per-root and
    # union
    d = None
    for pth in deltas:
        part = spark.read.parquet(pth).select(*SNAPSHOT_COLS)
        d = part if d is None else d.unionByName(part)
    # each fp is touched at most once per epoch, so (url_fp, epoch) is
    # unique and max-epoch-wins is a total resolution
    from pyspark.sql.window import Window as W

    w = W.partitionBy("url_fp").orderBy(F.col("epoch").desc())
    latest = (
        d.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")
    )
    merged = base.join(d.select("url_fp").distinct(), "url_fp", "left_anti").select(
        *SNAPSHOT_COLS
    ).unionByName(latest)
    return merged.select(*cols)


_AGG_KEYS = (
    "n_popped", "n_new", "n_blocked", "n_ended",
    "sc_200", "sc_404", "sc_429", "sc_503", "sc_520",
)


def _metric_exprs(epoch: int) -> list:
    """Aggregate expressions for the epoch's counter tree (A3/A4) plus the
    16 per-bucket lineage counters, shaped for ``DataFrame.observe``: the
    metrics ride along the commit checkpoint action itself (CollectMetrics
    accumulators merged at task completion), so the epoch pays ZERO extra
    scans or jobs for its metrics."""
    this_epoch = F.col("epoch") == epoch
    fetched_now = this_epoch & F.col("seq").isNotNull()
    bucket = F.pmod(F.col("domain_hash"), F.lit(N_LINEAGE_BUCKETS))
    return [
        F.sum(fetched_now.cast("long")).alias("n_popped"),
        F.sum(
            (this_epoch & (F.col("status") == "pending") & (F.col("retry_times") == 0))
            .cast("long")
        ).alias("n_new"),
        F.sum(
            (this_epoch & (F.col("status") == "robots_blocked")).cast("long")
        ).alias("n_blocked"),
        F.sum(
            (fetched_now & F.col("status").isin("done", "failed")).cast("long")
        ).alias("n_ended"),
        *[
            F.sum((fetched_now & (F.col("status_code") == sc)).cast("long")).alias(
                f"sc_{sc}"
            )
            for sc in (200, 404, 429, 503, 520)
        ],
        *[
            F.sum((fetched_now & (bucket == b)).cast("long")).alias(f"pop_b{b}")
            for b in range(N_LINEAGE_BUCKETS)
        ],
    ]


# Pending-frontier size below which an epoch's ranks take plain windows
# instead of the two-level bucketed form (stats-driven physical choice:
# the bucketed rank's ~1 s fixed cost per call only amortizes on
# multi-million-row inputs, and the BFS tail of a crawl is many thin
# epochs; ranks are identical either way — tests/test_distributed_rank).
# Derived ONLY from the previous commit record, so it is data-dependent
# and identical at every parallelism level: crawl logs stay byte-exact.
SMALL_EPOCH_PENDING = 150_000


def _small_epoch_hint(prev_state: dict, big_pop: bool) -> bool:
    return not big_pop and int(prev_state.get("pending") or 0) < SMALL_EPOCH_PENDING


def _build_popped(
    p: CrawlParams,
    fr: DataFrame,
    domains: DataFrame,
    robots: DataFrame,
    seq_base: int,
    prev_state: dict,
    caches: list,
):
    """The epoch's pop/rank head: robots gate → politeness-budgeted pop →
    persist. One code path for the in-epoch pop and the pipelined prepop
    (built in the PREVIOUS epoch's tail, over the same carried pending
    checkpoint, with the same data-dependent hints from the same
    commit-record values), so the crawl order cannot depend on which one
    ran.

    Returns (pending, allowed, blocked, popped_persisted, big_pop)."""
    pending = fr.filter(F.col("status") == "pending")
    allowed, blocked = fr_ops.robots_split(pending, robots)
    # exact salted top-k pre-filter inside pop_batch (see its docstring):
    # on only when the pending frontier is ≥8× the last epoch's pop — the
    # 10^10 regime where ranking the full frontier would dominate — while
    # small frontiers skip the extra shuffle
    last_pop = prev_state.get("popped")
    salt = 16 if last_pop and int(prev_state["pending"]) >= 8 * int(last_pop) else None
    # pop_batch's internal rank persists join ``caches`` and are released
    # after the consuming epoch's writes — without this the CacheManager
    # accumulates entries per epoch for the lifetime of the crawl (r2
    # ADVICE).
    # fat-epoch hint: last epoch's popped count predicts this one's scale;
    # ≥150k rows means (a) the broadcast build of the seqs re-attach
    # relation would be ~1s+ of serial driver work per epoch (see
    # pop_batch docstring) and (b) the pop touches essentially every
    # image bucket, so the bucket-prune driver round-trip is wasted.
    # Data-dependent → identical at every parallelism level, so crawl
    # logs stay byte-exact.
    big_pop = int(prev_state.get("popped") or 0) >= 150_000
    popped = fr_ops.pop_batch(
        allowed, domains, p.seller_cap, p.asin_cap, seq_base, prefilter_salt=salt,
        cache_registry=caches, big_pop_hint=big_pop,
        small_pop_hint=_small_epoch_hint(prev_state, big_pop),
    )
    if p.fetch_partitions:
        popped = fr_ops.salted_repartition(
            popped, p.fetch_partitions, p.salt_buckets
        )
    # persist: join_payload's bucket-set collect and the join itself both
    # consume popped — without this the pop window would run twice
    return pending, allowed, blocked, popped.persist(), big_pop


def _prepop(
    p: CrawlParams,
    carry: dict,
    epoch: int,
    seq_base: int,
    prev_view: dict,
    dims: dict,
    ph: dict,
) -> None:
    """EPOCH PIPELINING: pre-build ``epoch``'s pop/rank over the carried
    pending checkpoint (carry["pending"]), from a tail of the epoch
    before it. Its data-dependent hints (salt, big_pop, seq_base) come
    from ``prev_view``, the commit-record values the consuming epoch will
    see, so the pop is pure compute whose CPU overlaps the sibling tail
    jobs' commit IO. The consuming run_epoch identity-checks the handoff
    and rebuilds on any mismatch, and a prepop failure must not fail the
    committed work — the fallback rebuild is identical by construction."""
    global PREPOP_FALLBACKS
    t0 = time.perf_counter()
    caches: list = []
    pop = None
    try:
        pnd, alw, blk, pop, big = _build_popped(
            p, carry["pending"], dims["domains"], dims["robots"],
            seq_base, prev_view, caches,
        )
        pop.count()  # materialize the rank into the persist
        carry["prepop"] = {
            "epoch": epoch,
            "fr": carry["pending"],
            "pending": pnd,
            "allowed": alw,
            "blocked": blk,
            "popped": pop,
            "big_pop": big,
            "caches": caches,
        }
    except Exception as exc:
        # correctness-safe (next epoch rebuilds identically), but NOT
        # silent: count + warn + record, and release everything the
        # partial build persisted (pop persists inside _build_popped
        # before the count, so it may be live without being in caches)
        PREPOP_FALLBACKS += 1
        ph["prepop_fallback"] = 1.0
        _log.warning(
            "pipelined prepop for epoch %d failed, falling back to "
            "serial rebuild: %r", epoch, exc,
        )
        for h in [pop, *caches]:
            try:
                if h is not None:
                    h.unpersist()
            except Exception:
                pass
        carry.pop("prepop", None)
    ph["prepop"] = time.perf_counter() - t0


def run_epoch(
    spark: SparkSession,
    p: CrawlParams,
    epoch: int,
    seq_base: int,
    prev_state: dict,
    fence: "callable | None" = None,
    carry_io: dict | None = None,
) -> dict:
    """One frontier epoch; returns the commit record.

    ONE serial action anchors the epoch — the commit checkpoint, which
    also carries the metrics aggregation via DataFrame.observe. Every
    other per-epoch job (the delta write and compaction, bloom
    maintenance, the carry checkpoints, the next epoch's pop, child_ctx,
    the metrics file) consumes only committed files or already-
    checkpointed relations and runs CONCURRENTLY after it (the ``tail``
    pool below), so per-epoch fixed job-launch latency is paid ~once, not
    k times. At 10^10 scale the write becomes the Iceberg MERGE.

    ``carry_io`` is the dict run_crawl threads between epochs. The epoch
    takes its state from it when present and stores the next epoch's
    state in it; None (a one-off epoch) keeps nothing."""
    _caches: list = []
    _t_epoch = time.perf_counter()
    carry = carry_io if carry_io is not None else {}
    # State, two layers:
    #
    # 1. CARRIED STATE (every epoch after a process's first): the PENDING
    #    frontier (wide rows, what pop consumes) and the SEEN fp set (one
    #    long column, what the Bloom false-positive exact check consumes;
    #    the bloom alone is not enough — its positives are verified by an
    #    exact anti-join, seen.filter_new_routed, and a pending-only set
    #    there would re-enqueue already-done URLs). The epoch then touches
    #    NO O(frontier) disk resolve; the delta files are the durable log
    #    (resume, audit, compaction), not the hot read path.
    # 2. DISK RESOLVE (a process's first epoch: resume, or a direct call):
    #    base ⊕ k delta layers via union + last-writer-wins window +
    #    anti-join, materialized with an EAGER localCheckpoint — without
    #    it the k-union subtree is embedded in every downstream plan and
    #    per-epoch wall grew ~5 s per delta layer.
    #
    # The carried sets equal resolve(epoch-1).filter(pending) /
    # resolve(epoch-1).fps by induction (this epoch writes at most one row
    # per url_fp, and fps never leave the frontier) — asserted epoch by
    # epoch in tests/test_delta_mode.py.
    fr = carry.get("pending")
    frontier_fps = carry.get("seen")
    if fr is None or frontier_fps is None:
        fr = _read_frontier_state(spark, p.job_dir, epoch - 1).localCheckpoint(
            eager=True
        )
        frontier_fps = fr.select("url_fp")
    dims = carry.get("dims") or {
        "images": spark.read.parquet(p.images_path),
        "domains": spark.read.parquet(p.domains_path),
        "robots": spark.read.parquet(p.robots_path),
    }
    images, domains, robots = dims["images"], dims["domains"], dims["robots"]

    _t = time.perf_counter()
    _ph: dict[str, float] = {}
    # EPOCH PIPELINING: the previous epoch's tail may have pre-built THIS
    # epoch's pop/rank over the carried pending checkpoint (the one
    # relation the pop consumes, materialized before that tail ran).
    # Valid only if it was derived from the very relation this epoch took
    # as ``fr`` — identity-checked, not assumed; stale handoffs are
    # released and the pop is rebuilt. Both paths run the SAME
    # _build_popped code, so pops and crawl order cannot drift.
    pre = carry.pop("prepop", None)
    if pre is not None and not (pre["epoch"] == epoch and pre["fr"] is fr):
        pre["popped"].unpersist()
        for _c in pre["caches"]:
            _c.unpersist()
        pre = None
        _ph["prepop_stale"] = 1.0
    if pre is not None:
        pending, allowed, blocked = pre["pending"], pre["allowed"], pre["blocked"]
        popped, big_pop = pre["popped"], pre["big_pop"]
        _caches.extend(pre["caches"])
    else:
        pending, allowed, blocked, popped, big_pop = _build_popped(
            p, fr, domains, robots, seq_base, prev_state, _caches
        )
    _ph["pop_rank"] = time.perf_counter() - _t
    _t = time.perf_counter()
    payload = fetchsim.join_payload(
        popped,
        images,
        # bucket pruning pays only when caps bound the pop AND the batch
        # is small; an uncapped or known-fat epoch touches every bucket,
        # so skip the extra job barrier
        prune_buckets=(
            (p.seller_cap is not None or p.asin_cap is not None) and not big_pop
        ),
    )
    _ph["pop+buckets"] = time.perf_counter() - _t
    fetched = fetchsim.fetch_statuses(payload).persist()

    ed = _epoch_dir(p.job_dir, epoch)
    if os.path.isdir(ed):
        shutil.rmtree(ed)  # uncommitted partial epoch → overwrite

    # ---- frontier transition ------------------------------------------
    # persist: the candidate-fps subtree and the thinned semi-join both
    # consume children — without this the fan-out runs twice
    children = fetchsim.discover_children(fetched, p.n_images).persist()
    # INCREMENTAL bitmap table: last epoch's table (O(new) maintenance,
    # written below) instead of a rebuild from the full frontier every
    # epoch (O(frontier) — measured ~5s/epoch at a 300k frontier). Steady
    # state takes the CARRIED checkpoint (the relation _job_bloom
    # materialized last epoch — the same bytes it wrote to disk): the
    # table is consumed twice per epoch (the probe here and the OR below),
    # so the disk form would cost two O(m_bits) reads per epoch. The disk
    # copy stays the durable/resume form.
    # The CURRENT per-shard size comes from the previous commit record
    # (adaptive resize may have grown it past the params-derived
    # bootstrap value); probe positions are a function of m_bits. Job
    # dirs written before the resize feature have no record key → params
    # default, which is exactly the size every epoch used then.
    m_bits = int(prev_state.get("bloom_m_bits") or _bloom_m_bits(p))
    shard_bitmaps = carry.get("bloom")
    if shard_bitmaps is None:
        prev_bloom = os.path.join(_epoch_dir(p.job_dir, epoch - 1), "bloom")
        if os.path.isdir(prev_bloom):
            shard_bitmaps = spark.read.parquet(prev_bloom)
            # a table from before the word layout holds a binary ``bitmap``
            if "words" not in shard_bitmaps.columns:
                shard_bitmaps = None
        if shard_bitmaps is None:
            # job dir written without a (current) bloom table → one full
            # rebuild; this epoch's bloom job ORs into it and commits it
            shard_bitmaps = seen_ops.build_bloom_table_fixed(
                frontier_fps, m_bits, n_shards=p.bloom_shards
            )
    # first-wins dedup within the epoch is not a seen-set concern;
    # enqueue_children handles it, so hand it the bloom-thinned candidate
    # set with an already-resolved seen check. Shard-ROUTED probe: each
    # task holds exactly one shard's words — nothing is collected to the
    # driver or broadcast whole. Only the DISTINCT 8-byte fps go through
    # the probe's shuffle; the wide child rows (url/domain strings) rejoin
    # via a semi join on url_fp — whose shuffle the first-wins window in
    # enqueue_children reuses.
    cand_fps = children.select("url_fp").distinct()
    new_fps = seen_ops.filter_new_routed(
        cand_fps, frontier_fps, shard_bitmaps, m_bits,
        n_shards=p.bloom_shards,
    )
    thinned = children.join(new_fps, "url_fp", "left_semi")
    _t = time.perf_counter()
    new_rows = fr_ops.enqueue_children(
        thinned, frontier_fps.limit(0), epoch,
        small_hint=_small_epoch_hint(prev_state, big_pop),
    ).select(*FRONTIER_COLS)
    _ph["enqueue_rank"] = time.perf_counter() - _t
    updated = fr_ops.apply_fetch_outcome(fetched, epoch).select(
        *FRONTIER_COLS, "seq", "status_code", "image_id"
    )
    blocked_rows = (
        blocked.withColumn("status", F.lit("robots_blocked"))
        .withColumn("epoch", F.lit(epoch))
        .select(*FRONTIER_COLS)
    )
    delta_rows = (
        updated.unionByName(_null_audit(blocked_rows))
        .unionByName(_null_audit(new_rows))
        .select(*SNAPSHOT_COLS)
    )
    # metrics ride the commit checkpoint itself (CollectMetrics, see
    # _metric_exprs) — the aggregation source is the touched rows
    _obs = Observation()
    delta_rows = delta_rows.observe(_obs, *_metric_exprs(epoch))
    # CHECKPOINT-FIRST commit: the epoch's one serial anchor is the eager
    # localCheckpoint — it runs the whole transition dag (fetch →
    # children → dedup → rank) and pins the exact bytes the commit will
    # contain (metrics observed on the same action). The parquet WRITE of
    # those bytes is pure IO, so it runs in the concurrent tail where it
    # overlaps the pipelined next-epoch pop and the bloom/carry jobs. The
    # _COMMIT marker still gates on the ENTIRE tail (write included) plus
    # the fence, so a crash anywhere publishes nothing and resume discards
    # the partial epoch.
    # ONE file per touched bucket per epoch: the delta files are
    # PARTITIONED by pmod(domain_hash, N_LINEAGE_BUCKETS) — the sandbox
    # form of an Iceberg MERGE into a bucket-partitioned table — and
    # without the repartition every shuffle task holding rows of a bucket
    # opens its own file under _dbucket=K (~tasks × buckets tiny files per
    # layer), which the merge-on-read resolve re-lists each epoch —
    # profiled as the delta write's scale-killer (write phase sawtooth
    # 16→42 s across a compaction cycle at 150k images). The extra narrow
    # shuffle is O(touched).
    _t = time.perf_counter()
    ck = (
        delta_rows.withColumn(
            "_dbucket", F.pmod(F.col("domain_hash"), F.lit(N_LINEAGE_BUCKETS))
        )
        .repartition(N_LINEAGE_BUCKETS, F.col("_dbucket"))
        .localCheckpoint(eager=True)
    )
    _ph["ck"] = time.perf_counter() - _t

    # ---- metrics (A3/A4 counter tree) — collected DURING the checkpoint
    # via DataFrame.observe: the counter tree and the 16 per-bucket
    # lineage counters (north rule: "every frontier epoch checkpoints
    # per-partition lineage and fetch metrics") cost no extra scan or job.
    # The frontier-wide counters (pending/total) are carried INCREMENTALLY
    # from the previous commit record, so per-epoch metric cost is
    # O(touched) too.
    _t = time.perf_counter()
    vals = _obs.get  # ready: the commit checkpoint above ran
    agg = {k: int(vals[k] or 0) for k in _AGG_KEYS}
    _ph["agg"] = time.perf_counter() - _t
    n_popped = agg["n_popped"]
    # pending' = pending - (popped that ended) - blocked + new; retried
    # pops stay pending, untouched rows are untouched
    n_pending = (
        int(prev_state["pending"]) - agg["n_ended"] - agg["n_blocked"] + agg["n_new"]
    )
    n_frontier = int(prev_state["n_frontier"]) + agg["n_new"]
    metrics = [
        (epoch, "pop/total", n_popped),
        (epoch, "push/new_urls", agg["n_new"]),
        (epoch, "robots/blocked", agg["n_blocked"]),
        (epoch, "frontier/pending_after", n_pending),
    ] + [
        (epoch, f"fetch/status/{sc}", agg[f"sc_{sc}"])
        for sc in (200, 404, 429, 503, 520)
        if agg[f"sc_{sc}"] > 0
    ] + [
        (epoch, f"lineage/bucket/{b}", int(vals[f"pop_b{b}"] or 0))
        for b in range(N_LINEAGE_BUCKETS)
        if int(vals[f"pop_b{b}"] or 0) > 0
    ]

    # Concurrent tail jobs each consume only the commit checkpoint (ck),
    # the previous epoch's bloom table, or relations already
    # checkpointed/persisted (pending, frontier_fps) — they are mutually
    # independent (ordering within a job is by chaining: compact after
    # the delta write, prepop after the pending carry), so they run
    # CONCURRENTLY from driver threads. Serially each is a small job whose
    # cost is dominated by fixed driver/job-launch latency; overlapping
    # them collapses k fixed latencies into ~one, and lets the write's IO
    # overlap the pipelined pop's compute. No task reads another's output,
    # so each job's plan and output bytes do not depend on the overlap.
    tail: list = []
    # Old carry handles (and the commit checkpoint) are released only
    # past the tail barrier: _job_bloom's resize branch scans
    # frontier_fps — a union over the SAME localCheckpointed seen layers
    # _job_carry_seen re-flattens on compaction epochs. Checkpointed
    # blocks cannot be recomputed, so yanking them mid-scan would abort
    # the epoch whenever a resize coincides with a compaction. Tail
    # threads only APPEND here (GIL-atomic); the release loop after the
    # pool joins is the barrier.
    _post_tail_release: list = [ck]

    def _job_delta_write() -> None:
        _t0 = time.perf_counter()
        ck.write.partitionBy("_dbucket").parquet(os.path.join(ed, "delta"))
        _ph["write"] = time.perf_counter() - _t0
        if epoch % p.compact_every == 0:
            # chained after the write: the compaction resolve reads THIS
            # epoch's delta files from disk
            _t1 = time.perf_counter()
            _read_frontier_state(
                spark, p.job_dir, epoch, with_audit=True
            ).write.parquet(os.path.join(ed, "frontier"))
            _ph["compact"] = time.perf_counter() - _t1

    tail.append(_job_delta_write)
    if p.emit_child_context:
        # parent rows fetched THIS epoch are exactly the producers of this
        # epoch's children — one equi-join on parent_fp rebuilds the
        # cb_kwargs context (fetchsim.with_parent_context docstring).
        # Derived from the committed rows (ck), not the new_rows/updated
        # lineage: re-consuming those would re-run the whole enqueue-rank
        # pipeline. This epoch's children are the committed rows with
        # epoch==e, seq NULL (never popped) and status 'pending' (excludes
        # the robots_blocked carry-overs); its fetch attempts are the
        # committed rows with epoch==e and seq set.
        this_e = F.col("epoch") == epoch
        ctx_rows = fetchsim.with_parent_context(
            ck.filter(
                this_e & F.col("seq").isNull() & (F.col("status") == "pending")
            ).select("url", "url_fp", "parent_fp"),
            ck.filter(this_e & F.col("seq").isNotNull()),
        )

        def _job_child_ctx() -> None:
            _t0 = time.perf_counter()
            ctx_rows.write.parquet(os.path.join(ed, "child_ctx"))
            _ph["child_ctx"] = time.perf_counter() - _t0

        tail.append(_job_child_ctx)

    # this epoch's NEW fps (pending, never popped → seq null; excludes
    # robots_blocked carry-overs and the seq-stamped fetch outcomes, which
    # are all already seen) — by construction disjoint from the seen set.
    # Read from the commit checkpoint, NOT the new_rows lineage: the bloom
    # and seen jobs are their own actions, and consuming the unpersisted
    # enqueue-rank pipeline would re-run the whole children/probe/rank
    # subtree the checkpoint just computed (profiled at 6-22 s/epoch at
    # 150k images).
    committed_new_fps = ck.filter(
        (F.col("epoch") == epoch)
        & (F.col("status") == "pending")
        & F.col("seq").isNull()
    ).select("url_fp")
    bloom_rec = {"m_bits": m_bits}

    def _job_bloom() -> None:
        _t0 = time.perf_counter()
        # broadcast-plus-delta maintenance: OR only this epoch's new fps
        # into the table and commit it with the epoch. ADAPTIVE RESIZE
        # (CrawlParams.bloom_resize_at): over the fill threshold the OR
        # step is replaced by ONE full rebuild at the next power-of-two
        # size that fits 2·n_frontier, over frontier_fps ∪ the new fps
        # (never the carry_seen job's output — tail jobs run concurrently
        # and may not order).
        cap_keys = (m_bits * p.bloom_shards) // seen_ops.BITS_PER_KEY
        if p.bloom_resize_at and n_frontier > p.bloom_resize_at * cap_keys:
            bloom_rec["m_bits"] = seen_ops.bloom_m_bits(
                2 * n_frontier, p.bloom_shards
            )
            new_table = seen_ops.build_bloom_table_fixed(
                frontier_fps.unionByName(committed_new_fps),
                bloom_rec["m_bits"],
                n_shards=p.bloom_shards,
            )
        else:
            new_table = seen_ops.bloom_or_new(
                shard_bitmaps, committed_new_fps, m_bits, n_shards=p.bloom_shards
            )
        # materialize once, then BOTH the disk write and next epoch's two
        # consumers read the checkpointed blocks — disk bytes and carried
        # bytes are the same relation by construction. The old handle (or,
        # for a one-off epoch, the new one) is released after the tail
        # barrier.
        new_table = new_table.localCheckpoint(eager=True)
        new_table.write.parquet(os.path.join(ed, "bloom"))
        old = carry.get("bloom")
        carry["bloom"] = new_table
        if carry_io is None:
            _post_tail_release.append(new_table)
        elif old is not None:
            _post_tail_release.append(old)
        _ph["bloom_write"] = time.perf_counter() - _t0

    tail.append(_job_bloom)

    # next epoch's pending state = this epoch's pending minus every
    # touched fp, plus the touched rows that are pending after the
    # transition (new children + retried pops) — derived from the commit
    # checkpoint, so the carried set shares no lineage with handles that
    # are unpersisted below. O(pending) anti-join against an O(touched)
    # side + an eager checkpoint.
    nxt = (
        pending.join(ck.select("url_fp"), "url_fp", "left_anti")
        .select(*FRONTIER_COLS)
        .unionByName(ck.filter(F.col("status") == "pending").select(*FRONTIER_COLS))
    )

    def _job_carry_pending() -> None:
        _t0 = time.perf_counter()
        carry["pending"] = nxt.localCheckpoint(eager=True)
        _ph["carry_pending"] = time.perf_counter() - _t0
        if n_pending > 0 and epoch + 1 <= p.max_epochs:
            _prepop(
                p, carry, epoch + 1, seq_base + n_popped,
                {"popped": n_popped, "pending": n_pending}, dims, _ph,
            )

    # INCREMENTAL seen checkpoints: re-materializing the full seen set
    # every epoch is O(seen) per-epoch work that grows without bound.
    # Instead checkpoint only this epoch's NEW fps (O(touched)) and carry
    # the seen set as a lazy union of flat checkpointed scans; the layer
    # list is re-flattened into one checkpoint every compact_every epochs
    # (the same knob that bounds the delta-file chain), so plan depth
    # stays ≤ compact_every. Seen fps grow append-only and the new fps are
    # disjoint from them, so a plain union IS a set.
    def _job_carry_seen() -> None:
        _t0 = time.perf_counter()
        seen_parts = carry.setdefault("seen_parts", [])
        old_seen = carry.get("seen")
        if old_seen is None or len(seen_parts) >= p.compact_every:
            flat = frontier_fps.unionByName(committed_new_fps).localCheckpoint(
                eager=True
            )
            # old layers released post-tail, never here: _job_bloom's
            # resize branch may still be scanning frontier_fps (a union
            # over these very layers) in a sibling thread
            _post_tail_release.extend(seen_parts)
            seen_parts[:] = [flat]
            carry["seen"] = flat
        else:
            inc = committed_new_fps.localCheckpoint(eager=True)
            seen_parts.append(inc)
            carry["seen"] = old_seen.unionByName(inc)
        _ph["carry_seen"] = time.perf_counter() - _t0

    if carry_io is not None:
        tail += [_job_carry_pending, _job_carry_seen]

    # SQL VALUES → LocalRelation: createDataFrame(list) planned a Python
    # RDD with defaultParallelism slices, spawning one Python worker per
    # core to serve ~20 driver-local rows (6s/epoch at local[32])
    values = ",".join(f"({e},'{k}',{int(n)})" for e, k, n in metrics)

    def _job_metrics() -> None:
        _t0 = time.perf_counter()
        spark.sql(
            "SELECT CAST(epoch AS INT) epoch, metric_key, CAST(n AS BIGINT) n "
            f"FROM VALUES {values} AS t(epoch, metric_key, n)"
        ).coalesce(1).write.parquet(os.path.join(ed, "metrics"))
        _ph["metrics"] = time.perf_counter() - _t0

    tail.append(_job_metrics)

    # ---- run the independent tail jobs concurrently; per-job phases
    # overlap, so their sum exceeds the `tail` wall — that difference IS
    # the latency the overlap hides
    _t = time.perf_counter()
    _run_concurrently(tail)
    _ph["tail"] = time.perf_counter() - _t

    for _h in _post_tail_release:
        _h.unpersist()
    fr.unpersist()
    fetched.unpersist()
    popped.unpersist()
    children.unpersist()
    for _c in _caches:
        _c.unpersist()
    _ph["total"] = time.perf_counter() - _t_epoch

    rec = {
        "epoch": epoch,
        "seq_base": seq_base + n_popped,
        "pending": n_pending,
        "popped": n_popped,
        "n_frontier": n_frontier,
        # current per-shard bitmap size — next epoch's probe reads it
        # (positions are a function of m_bits) and resume restores it
        "bloom_m_bits": bloom_rec["m_bits"],
        # seen keys over the committed table's design capacity; the
        # resize trigger fires above bloom_resize_at
        "bloom_fill": round(
            n_frontier * seen_ops.BITS_PER_KEY / (bloom_rec["m_bits"] * p.bloom_shards), 6
        ),
        # the touched-row counters observed on the commit checkpoint
        "counters": agg,
        # wall seconds per phase; tail jobs overlap, so they sum past
        # "tail"
        "phases": {k: round(v, 4) for k, v in _ph.items()},
    }
    # Fencing: the epoch's data files are all written by now, but nothing
    # is visible until the _COMMIT marker lands. If this writer's job
    # lease was broken or usurped while it computed (it was presumed dead
    # but wasn't — the classic zombie writer), publishing would interleave
    # two writers' epochs. Abort instead; the orphan files are invisible
    # without the marker and the next resume overwrites them.
    if fence is not None and not fence():
        raise locking.WriterConflict(
            f"job writer lease for {p.job_dir} lost before committing "
            f"epoch {epoch}; aborting without publishing"
        )
    with open(_commit_path(p.job_dir, epoch), "w") as f:
        json.dump(rec, f)
    return rec


def run_crawl(spark: SparkSession, p: CrawlParams, resume: bool = True) -> dict:
    """Run (or resume) the crawl to termination (Q8) or the epoch cap.

    Holds the job-dir writer lease (locking.pid_lock) for the duration:
    a second live ``run_crawl`` on the same job_dir raises WriterConflict
    instead of interleaving commits, a lease left by a CRASHED writer is
    broken automatically (resume then picks up from its last _COMMIT),
    and every epoch re-checks ownership before publishing its marker
    (see the fence in run_epoch). Stand-in for a table format's
    optimistic-commit protocol — locking.py module docstring.

    Returns {"epochs": E, "total_fetched": n, ...} summary."""
    with locking.pid_lock(
        p.job_dir, timeout_s=p.lock_timeout_s, what="crawl job"
    ) as lock:
        with _epoch_aqe_off(spark):
            return _run_crawl_locked(spark, p, resume, lock)


@contextmanager
def _epoch_aqe_off(spark: SparkSession):
    """Run the epoch loop with AQE disabled, restoring the session conf on
    exit.

    Measured, not guessed (r4, s500 universe, 17 epochs, 3,095,947 URLs,
    8 pinned cores, identical fetch counts all three ways): AQE fully on
    524 s; AQE on with the adaptive broadcast threshold back at the 10 MB
    static default 453 s; AQE OFF 355 s — a 48% wall tax. The epoch loop
    is hundreds of SMALL actions per crawl over inputs the driver has
    already sized and localCheckpointed: AQE's per-stage materialization
    barriers and re-planning buy nothing here (the deterministic ranks
    fix their own partitioning; the payload join picks broadcast vs
    SHUFFLE_HASH from the popped-batch cap explicitly), while its runtime
    broadcast flips rebuild driver-side hash relations every epoch. Crawl
    output is plan-independent (tests/test_crawl_equivalence.py), so AQE
    affects time only. Ad-hoc catalog queries keep AQE: one big query per
    action is exactly the regime AQE is built for."""
    key = "spark.sql.adaptive.enabled"
    prev = spark.conf.get(key, "true")
    spark.conf.set(key, "false")
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def _run_crawl_locked(
    spark: SparkSession, p: CrawlParams, resume: bool, lock: str
) -> dict:
    tokens: dict[str, str] = {}
    # `carry` holds the checkpointed state threaded between epochs
    # (run_epoch docstring); bound before the try so the finally can
    # drain it
    carry: dict = {}
    if p.proxies_path:
        from ..operators import proxies as proxy_ops

        tokens = proxy_ops.lease_tokens(spark, p.proxies_path)
    try:
        last = last_committed_epoch(p.job_dir) if resume else None
        resumed = last is not None
        if last is None:
            if os.path.isdir(p.job_dir):
                shutil.rmtree(p.job_dir)
            os.makedirs(p.job_dir, exist_ok=True)
            bootstrap(spark, p, carry)
            last = 0
        state = read_commit(p.job_dir, last)
        # resume-time carry warm-up: the resumed process's first epoch
        # takes the disk resolve, which walks base ⊕ every delta since
        # the last compaction — at a 10^5-epoch job dir that one resolve
        # is unbounded if the job died long after its last compaction.
        # Compact ONCE up front when the chain exceeds the cadence, so the
        # first resolve reads base ⊕ ≤ compact_every layers — the same
        # bound a live run maintains.
        if (
            resumed
            and last > 0
            and last - _frontier_base_epoch(p.job_dir, last) >= p.compact_every
        ):
            _compact_snapshot(spark, p.job_dir, last)
        epoch = last
        if "dims" not in carry:  # a bootstrap with carry cached them
            carry["dims"] = _cache_dims(spark, p)
        while state["pending"] > 0 and epoch < p.max_epochs:
            epoch += 1
            state = run_epoch(
                spark, p, epoch, state["seq_base"], state,
                fence=lambda: locking.owns_lock(lock),
                carry_io=carry,
            )
    finally:
        # a crawl that aborts after a tail stored a prepop (fence failure
        # or a later-epoch error) would otherwise leak the prepop's
        # persisted popped handle and its rank caches — only the next
        # epoch's consume/identity-reject path releases them (ADVICE r5)
        _pre = carry.pop("prepop", None)
        if _pre:
            for _h in [_pre.get("popped"), *_pre.get("caches", ())]:
                try:
                    _h.unpersist()
                except Exception:
                    pass
        for _h in carry.get("dims", {}).values():
            _h.unpersist()
        if tokens:
            proxy_ops.release_tokens(spark, p.proxies_path, tokens)
    return {
        "epochs": epoch,
        "total_fetched": state["seq_base"],
        "pending": state["pending"],
        "done": state["pending"] == 0,
        **({"proxy_tokens": tokens} if tokens else {}),
    }


def read_crawl_log(spark: SparkSession, job_dir: str) -> DataFrame:
    """The crawl-order contract: per epoch, the committed rows that were
    fetched that epoch (seq non-null ∧ epoch == e) — the log is a
    projection of the deltas, not a second table.

    ONE multi-path scan, not a per-epoch union loop: at 10^5 epochs a
    Union of 10^5 per-epoch reads is a driver-side plan explosion. The
    per-epoch filter (epoch == e; a job dir written before the delta log
    holds a full snapshot per epoch, which carries every prior epoch's
    rows — a retried URL logs once per attempt) is recovered from the
    file path: ``recursiveFileLookup`` turns off partition inference (the
    per-epoch roots would otherwise make Spark infer conflicting
    epoch/_dbucket partition columns over the common ancestor) and
    ``input_file_name`` still carries ``epoch=N/``."""
    last = last_committed_epoch(job_dir)
    srcs = []
    for e in range(1, (last or 0) + 1):
        if not os.path.exists(_commit_path(job_dir, e)):
            continue
        ddir = os.path.join(_epoch_dir(job_dir, e), "delta")
        srcs.append(
            ddir
            if os.path.isdir(ddir)
            else os.path.join(_epoch_dir(job_dir, e), "frontier")
        )
    if not srcs:
        return None
    snap = spark.read.option("recursiveFileLookup", "true").parquet(*srcs)
    src_epoch = F.regexp_extract(
        F.input_file_name(), r"epoch=(\d+)/", 1
    ).cast("long")
    return snap.filter(
        (F.col("epoch") == src_epoch) & F.col("seq").isNotNull()
    ).select(
        "epoch", "seq", "url_fp", "domain", "queue_kind", "status_code", "image_id"
    )


def read_final_frontier(spark: SparkSession, job_dir: str) -> DataFrame:
    last = last_committed_epoch(job_dir)
    snap = os.path.join(_epoch_dir(job_dir, last), "frontier")
    if os.path.isdir(snap):
        return spark.read.parquet(snap)
    return _read_frontier_state(spark, job_dir, last, with_audit=True)
