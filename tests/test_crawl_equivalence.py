"""The north-rule gate: the Spark engine must reproduce the oracle
simulator's EXACT crawl order, final URL state, URL-seen set and metrics
under the same seed list and politeness budget — at two shuffle
parallelism levels — plus exact resume from a committed epoch.

(SURVEY §7 hard parts; BASELINE.json correctness gate.)
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from scrapy_cluster_test_spark import datagen
from scrapy_cluster_test_spark.plans import epoch as ep

from . import crawl_oracle as oracle

N_IMAGES = 300
N_SEEDS = 12
BUDGET_SCALE = 0.1
CAPS = dict(seller_cap=5000, asin_cap=2000)
MAX_EPOCHS = 40

DATA = "/tmp/sct_crawl_data"
JOB_A = "/tmp/sct_crawl_jobA"


def _params(job_dir: str, **over) -> ep.CrawlParams:
    kw = dict(
        images_path=f"{DATA}/images.parquet",
        seeds_path=f"{DATA}/seeds.parquet",
        domains_path=f"{DATA}/domains.parquet",
        robots_path=f"{DATA}/robots.parquet",
        job_dir=job_dir,
        n_images=N_IMAGES,
        max_epochs=MAX_EPOCHS,
        **CAPS,
    )
    kw.update(over)
    return ep.CrawlParams(**kw)


def _simulate(max_epochs: int = MAX_EPOCHS):
    return oracle.simulate_universe(
        DATA, N_IMAGES, N_SEEDS, max_epochs=max_epochs,
        budget_scale=BUDGET_SCALE, **CAPS,
    )


@pytest.fixture(scope="module")
def crawl(spark):
    """Generate the tiny universe and run the engine crawl once."""
    datagen.generate_all(
        spark, DATA, n_images=N_IMAGES, n_seeds=N_SEEDS, budget_scale=BUDGET_SCALE
    )
    summary = ep.run_crawl(
        spark, _params(JOB_A, emit_child_context=True), resume=False
    )
    return summary, _simulate()


def test_crawl_order_exact(spark, crawl):
    summary, sim = crawl
    assert summary["done"], summary
    eng = oracle.engine_log(spark, JOB_A)
    ora = oracle.sim_log(sim)
    assert len(eng) == len(ora)
    assert eng == ora  # byte-for-byte: epoch, seq, fp, domain, kind, status, image


def test_seen_set_exact(spark, crawl):
    _, sim = crawl
    assert set(oracle.engine_state(spark, JOB_A)) == sim.seen_set


def test_final_statuses_exact(spark, crawl):
    _, sim = crawl
    assert oracle.engine_state(spark, JOB_A) == oracle.sim_state(sim)


def test_metrics_match(spark, crawl):
    _, sim = crawl
    assert oracle.engine_metrics(spark, JOB_A) == sorted(sim.metrics)


def test_resume_from_snapshot(spark, crawl):
    """Kill-after-epoch-3 resume: copy the first 3 committed epochs plus an
    UNcommitted partial epoch 4, resume — the resumed process's first
    epoch resolves its state from the delta log instead of the carried
    relations, and the final state must equal the simulator's
    (pending-flag resume semantics, pipelines.py:429-455)."""
    _, sim = crawl
    job_b = "/tmp/sct_crawl_jobB"
    if os.path.isdir(job_b):
        shutil.rmtree(job_b)
    os.makedirs(job_b)
    for e in range(0, 4):
        src = os.path.join(JOB_A, f"epoch={e:05d}")
        shutil.copytree(src, os.path.join(job_b, f"epoch={e:05d}"))
    # fake a torn write: epoch 4 exists but has no _COMMIT
    partial = os.path.join(job_b, "epoch=00004")
    shutil.copytree(os.path.join(JOB_A, "epoch=00004"), partial)
    os.remove(os.path.join(partial, "_COMMIT"))

    assert ep.last_committed_epoch(job_b) == 3
    summary = ep.run_crawl(spark, _params(job_b), resume=True)
    assert summary["done"]
    oracle.assert_matches_simulator(spark, job_b, sim)


def test_partitioning_independence(spark, crawl):
    """The same crawl at a very different shuffle parallelism must equal
    the simulator too — no distribution-order leaks (SURVEY §7)."""
    job_c = "/tmp/sct_crawl_jobC"
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "3")
    try:
        ep.run_crawl(spark, _params(job_c, max_epochs=4), resume=False)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    oracle.assert_matches_simulator(spark, job_c, _simulate(max_epochs=4))


def test_child_rows_reconstruct_parent_context(spark, crawl):
    """Q12: every epoch-N child row joined via with_parent_context gets
    exactly its parent's crawl-log row (the cb_kwargs the reference
    forwards in-flight), and the parent was fetched in an earlier epoch."""
    from scrapy_cluster_test_spark.sources import fetchsim

    log = ep.read_crawl_log(spark, JOB_A)
    final = ep.read_final_frontier(spark, JOB_A)
    children = final.filter(F.col("parent_fp").isNotNull()).select(
        "url_fp", "parent_fp", "epoch"
    )
    ctxed = fetchsim.with_parent_context(
        children, log, ctx_cols=("domain", "seq", "status_code")
    )
    n_children = children.count()
    assert n_children > 0
    # every child's parent exists in the log
    assert ctxed.filter(F.col("ctx").isNull()).count() == 0
    # the reconstructed ctx matches the parent row field-for-field and the
    # parent's fetch preceded the child's enqueue epoch
    joined = ctxed.join(
        log.select(
            F.col("url_fp").alias("parent_fp"),
            F.col("domain").alias("p_domain"),
            F.col("seq").alias("p_seq"),
            F.col("epoch").alias("p_epoch"),
        ),
        "parent_fp",
    )
    bad = joined.filter(
        (F.col("ctx.domain") != F.col("p_domain"))
        | (F.col("ctx.seq") != F.col("p_seq"))
        | (F.col("p_epoch") > F.col("epoch"))
    ).count()
    assert bad == 0


def test_child_ctx_matches_oracle(spark, crawl):
    """VERDICT r2 item #8: the epoch driver's child_ctx output (the
    reference's cb_kwargs carry, rebuilt on demand by
    fetchsim.with_parent_context) must equal the oracle simulator's
    carried context: for every enqueued child, its parent's crawl-log row
    from the child's creation epoch."""
    import glob as _glob

    _, sim = crawl
    dirs = sorted(_glob.glob(f"{JOB_A}/epoch=*/child_ctx"))
    assert dirs, "emit_child_context wrote nothing"
    eng = {}
    for d in dirs:
        e = int(d.split("epoch=")[1].split("/")[0])
        for r in spark.read.parquet(d).collect():
            assert r.ctx is not None, (e, r.url_fp)
            eng[r.url_fp] = (
                e,
                r.parent_fp,
                (r.ctx.domain, r.ctx.queue_kind, r.ctx.status_code,
                 r.ctx.image_id, r.ctx.seq),
            )

    log_by = {(t[2], t[0]): t for t in sim.crawl_log}  # (url_fp, epoch) → row
    ora = {}
    for fp, row in sim.frontier.items():
        if row.parent_fp is None:
            continue  # seed
        ce = row.crawl_time // 1_000_000_000 - 1  # creation epoch
        t = log_by[(row.parent_fp, ce)]
        ora[fp] = (ce, row.parent_fp, (t[3], t[4], t[5], t[6], t[1]))
    assert eng == ora
