"""The delta commit log (merge-on-read): crawl output equal to the
simulator's, per-epoch write volume scaling with TOUCHED rows rather than
frontier size (VERDICT r1 scale-killer #4), the carried state equal to
the log it summarizes, and resume-safety."""

from __future__ import annotations

import glob
import json
import os
import shutil

import numpy as np
import pytest

from scrapy_cluster_test_spark.plans import epoch as ep

from . import crawl_oracle as oracle
from . import kernel_reference as ref
from .shared_crawl import params as _params


@pytest.fixture(scope="module")
def sim(crawl400_sim):
    return crawl400_sim


@pytest.fixture(scope="module")
def full(crawl400):
    """One uninterrupted crawl; after every epoch, the carried pending and
    seen relations run_crawl hands to the next epoch are collected."""
    return crawl400.job, crawl400.carried, crawl400.final_carry


def test_delta_equals_cow(spark, sim, full):
    """The log-structured crawl equals the simulator, which holds the
    whole frontier state each epoch the way a full snapshot would."""
    job, _, _ = full
    oracle.assert_matches_simulator(spark, job, sim)

    # write volume: delta commits carry ONLY touched rows — well under
    # the full frontier a snapshot per epoch would rewrite
    epochs = range(1, ep.last_committed_epoch(job) + 1)
    snapshot_rows = sum(ep.read_commit(job, e)["n_frontier"] for e in epochs)
    delta_rows = sum(
        spark.read.parquet(f"{job}/epoch={e:05d}/delta").count() for e in epochs
    )
    assert delta_rows < snapshot_rows / 2, (delta_rows, snapshot_rows)

    # compaction snapshots exist exactly at the configured cadence
    snaps = sorted(
        int(os.path.basename(os.path.dirname(pth)).split("=")[1])
        for pth in glob.glob(f"{job}/epoch=*/frontier")
    )
    assert snaps == [0, 3, 6], snaps

    # bin-packing invariant: each delta layer writes AT MOST one file per
    # touched _dbucket (without the pre-write repartition, every shuffle
    # task opens its own file per bucket and the merge-on-read resolve
    # re-lists ~tasks x buckets tiny files per layer — the r4-profiled
    # delta scale-killer)
    for layer in glob.glob(f"{job}/epoch=*/delta"):
        buckets = glob.glob(f"{layer}/_dbucket=*")
        files = glob.glob(f"{layer}/_dbucket=*/*.parquet")
        assert buckets and len(files) <= len(buckets), (layer, len(files))


def test_delta_bloom_carry_equals_cow(spark, full):
    """The carried state IS the committed log: after every epoch that a
    next one follows, the carried pending relation equals the disk
    resolve's pending rows, and the carried seen set equals its fps; the
    final epoch carries nothing. Regression test for the bug where the
    carried SEEN set held only pending fps: the Bloom exact-verification
    anti-join (seen.filter_new_routed) then re-enqueued already-done
    URLs."""
    job, carried, final_carry = full
    assert sorted(carried) == list(range(1, ep.last_committed_epoch(job)))
    assert not {"pending", "seen", "seen_parts", "bloom", "prepop"} & set(final_carry)
    for e, (pending, seen) in carried.items():
        state = ep._read_frontier_state(spark, job, e)
        disk_pending = sorted(
            tuple(r) for r in state.filter("status = 'pending'").collect()
        )
        assert pending == disk_pending, e
        assert seen == sorted(r.url_fp for r in state.select("url_fp").collect()), e


def test_delta_resume_mid_chain(spark, sim, tmp_path):
    """Kill after a committed delta epoch (one past the compaction at 3)
    → rerun resumes from the log and converges to the simulator."""
    part = str(tmp_path / "part")
    ep.run_crawl(spark, _params(part, max_epochs=4))
    ep.run_crawl(spark, _params(part))  # resume=True continues from epoch 4
    oracle.assert_matches_simulator(spark, part, sim)


def test_resume_compacts_long_chain(spark, sim, tmp_path):
    """Resume-time carry warm-up (VERDICT r4 item #7): when the delta
    chain since the last compaction exceeds compact_every, resume writes
    ONE compaction snapshot up front so the first epoch's disk resolve is
    bounded by compact_every layers — and the crawl output is unchanged."""
    part = str(tmp_path / "part")
    # die at epoch 4 with NO in-run compaction (cadence larger than the
    # run) → chain base is the bootstrap snapshot, 4 delta layers deep
    ep.run_crawl(spark, _params(part, compact_every=100, max_epochs=4))
    assert ep._frontier_base_epoch(part, 4) == 0
    # resume with the normal cadence: 4 >= 3 → compaction fires at the
    # resume point before the first epoch runs
    ep.run_crawl(spark, _params(part))
    assert os.path.isdir(f"{part}/epoch=00004/frontier")
    assert ep._frontier_base_epoch(part, 4) == 4
    assert not os.path.isdir(f"{part}/epoch=00004/_frontier_compact_tmp")
    oracle.assert_matches_simulator(spark, part, sim)


def test_delta_torn_write_ignored(spark, sim, tmp_path):
    """An uncommitted (torn) delta epoch is discarded on resume."""
    job = str(tmp_path / "torn")
    ep.run_crawl(spark, _params(job, max_epochs=3))
    # fake a torn epoch 4: delta dir present, no _COMMIT
    torn = f"{job}/epoch=00004/delta"
    os.makedirs(torn)
    spark.read.parquet(f"{job}/epoch=00003/delta").limit(3).write.mode(
        "overwrite"
    ).parquet(torn)
    ep.run_crawl(spark, _params(job))
    oracle.assert_matches_simulator(spark, job, sim)


def _as_pre_xxhash(spark, job: str, binary: bool) -> None:
    """Rewrite a job dir as one written before ``seen.BLOOM_HASH``: every
    commit record without the ``bloom_hash`` key, and every Bloom table
    rebuilt from its epoch's seen set at the earlier splitmix64 positions
    — as (shard, words) or, with ``binary``, the (shard, bitmap binary)
    layout before that."""
    for e in range(ep.last_committed_epoch(job) + 1):
        rec = ep.read_commit(job, e)
        del rec["bloom_hash"]
        with open(ep._commit_path(job, e), "w") as f:
            json.dump(rec, f)
        fps = np.array(
            [r.url_fp for r in ep._read_frontier_state(spark, job, e).collect()], np.int64
        )
        bitmaps = ref.bloom_bitmaps(
            fps, rec["bloom_m_bits"], 5, 16, positions=ref.probe_positions_splitmix
        )
        assert bitmaps != ref.bloom_bitmaps(fps, rec["bloom_m_bits"], 5, 16)
        if binary:
            rows = [(s, bytearray(b)) for s, b in bitmaps.items()]
            schema = "shard int, bitmap binary"
        else:
            rows = [(s, ref.bitmap_to_words(b)) for s, b in bitmaps.items()]
            schema = "shard int, words array<bigint>"
        path = f"{job}/epoch={e:05d}/bloom"
        spark.createDataFrame(rows, schema).write.parquet(path + "_old")
        shutil.rmtree(path)
        os.rename(path + "_old", path)


def _resumes_to_simulator(spark, sim, job: str) -> None:
    """Resuming ``job`` rebuilds the Bloom table once at the current
    positions, commits it with its ``bloom_hash``, and the crawl equals
    the simulator's."""
    first = ep.last_committed_epoch(job) + 1
    ep.run_crawl(spark, _params(job))
    oracle.assert_matches_simulator(spark, job, sim)
    rec = ep.read_commit(job, first)
    assert rec["bloom_hash"] == "xxhash64"
    table = spark.read.parquet(f"{job}/epoch={first:05d}/bloom")
    assert table.columns == ["shard", "words"]
    fps = np.array(
        [r.url_fp for r in ep._read_frontier_state(spark, job, first).collect()], np.int64
    )
    assert {
        r.shard: ref.words_to_bitmap(r.words) for r in table.collect()
    } == ref.bloom_bitmaps(fps, rec["bloom_m_bits"], 5, 16)


def test_resume_from_binary_bitmap_bloom(spark, sim, tmp_path):
    """A job dir whose Bloom tables hold the earlier (shard, bitmap binary)
    layout resumes: the first resumed epoch rebuilds the table once from
    the seen set, commits it in the word layout, and the crawl equals the
    simulator's."""
    job = str(tmp_path / "legacy")
    ep.run_crawl(spark, _params(job, max_epochs=1))
    _as_pre_xxhash(spark, job, binary=True)
    _resumes_to_simulator(spark, sim, job)


def test_resume_from_pre_xxhash_bloom(spark, sim, tmp_path):
    """A job dir whose Bloom tables hold splitmix64 positions in the word
    layout, and whose records have no ``bloom_hash``, resumes equal to the
    simulator: probed at the xxhash64 positions, its tables would answer
    "unseen" for seen URLs, which would then be enqueued again."""
    job = str(tmp_path / "pre_xxhash")
    ep.run_crawl(spark, _params(job, max_epochs=2))
    _as_pre_xxhash(spark, job, binary=False)
    _resumes_to_simulator(spark, sim, job)
