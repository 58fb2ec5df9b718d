"""Bloom seen-filter: no false negatives, same result set as exact
anti-join, incremental updates bit-identical to a rebuild, and a sane
false-positive rate."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from scrapy_cluster_test_spark.operators import seen


@pytest.fixture(scope="module")
def fps(spark):
    # deterministic fp universe: 20k "seen" + 20k candidates (half overlap)
    seen_df = spark.range(0, 20000).select(
        F.xxhash64(F.col("id")).alias("url_fp")
    )
    cand_df = spark.range(10000, 30000).select(
        F.xxhash64(F.col("id")).alias("url_fp")
    )
    return seen_df, cand_df


def _table(fps_df, expected=20000):
    m_bits = seen.bloom_m_bits(expected)
    return seen.build_bloom_table_fixed(fps_df, m_bits), m_bits


def test_bloom_no_false_negatives(spark, fps):
    seen_df, _ = fps
    table, m_bits = _table(seen_df)
    marked = seen.mark_probably_seen_routed(seen_df, table, m_bits)
    assert marked.filter(~F.col("maybe_seen")).count() == 0


def test_bloom_filter_new_equals_exact(spark, fps):
    seen_df, cand_df = fps
    table, m_bits = _table(seen_df)
    via_bloom = {
        r.url_fp
        for r in seen.filter_new_routed(cand_df, seen_df, table, m_bits).collect()
    }
    exact = {r.url_fp for r in cand_df.join(seen_df, "url_fp", "left_anti").collect()}
    assert via_bloom == exact
    assert len(exact) == 10000


def test_bloom_fp_rate(spark, fps):
    seen_df, cand_df = fps
    table, m_bits = _table(seen_df)
    fresh = cand_df.join(seen_df, "url_fp", "left_anti")
    marked = seen.mark_probably_seen_routed(fresh, table, m_bits)
    fp_rate = marked.filter(F.col("maybe_seen")).count() / fresh.count()
    # 10 bits/key, k=5 → theoretical ~1%; allow slack
    assert fp_rate < 0.05, fp_rate


def test_routed_probe_equals_exact(spark):
    """Shard-routed probe (word table + shuffled hash join by shard) must
    produce exactly the plain left_anti result — and the probe stage must
    not broadcast any filter state (VERDICT r1 scale-killer #5)."""
    from scrapy_cluster_test_spark.operators import seen as seen_ops
    from pyspark.sql import functions as F

    frontier = spark.range(0, 5000).select(
        (F.xxhash64(F.col("id").cast("string"))).alias("url_fp")
    )
    cands = spark.range(2500, 7500).select(
        (F.xxhash64(F.col("id").cast("string"))).alias("url_fp"),
        F.col("id").alias("payload"),
    )
    m_bits = seen.bloom_m_bits(5000, n_shards=8)
    shard_bitmaps = seen.build_bloom_table_fixed(frontier, m_bits, n_shards=8)
    routed = seen.filter_new_routed(
        cands, frontier, shard_bitmaps, m_bits, n_shards=8
    )
    exact = cands.join(frontier, "url_fp", "left_anti")
    assert sorted(map(tuple, routed.collect())) == sorted(map(tuple, exact.collect()))

    # no executor ever holds more than one shard: the bitmap table has one
    # row per shard, each exactly m_bits/8 bytes (m_bits/64 words), and
    # the probe plan ships them via a shuffle joined by shard, never a
    # broadcast
    rows = shard_bitmaps.collect()
    assert len(rows) == 8
    assert all(len(r.words) * 8 == m_bits // 8 for r in rows)
    plan = routed._jdf.queryExecution().executedPlan().toString()
    assert "ShuffledHashJoin [_shard" in plan, plan[:1500]
    assert "BroadcastHashJoin [_shard" not in plan, plan[:1500]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:1500]


def test_incremental_or_equals_full_rebuild(spark):
    """bloom_or_new(prev, delta) must be BIT-IDENTICAL to building the
    union set from scratch at the same m_bits — a Bloom filter never
    clears bits, so set-union == bitwise OR (the broadcast-plus-delta
    lifecycle the epoch driver commits each epoch)."""
    base = spark.range(0, 4000).select(
        F.xxhash64(F.col("id").cast("string")).alias("url_fp")
    )
    delta = spark.range(4000, 5500).select(
        F.xxhash64(F.col("id").cast("string")).alias("url_fp")
    )
    m_bits = seen.bloom_m_bits(10_000, n_shards=8)
    prev = seen.build_bloom_table_fixed(base, m_bits, n_shards=8)
    inc = seen.bloom_or_new(prev, delta, m_bits, n_shards=8)
    full = seen.build_bloom_table_fixed(base.union(delta), m_bits, n_shards=8)
    inc_map = {r.shard: tuple(r.words) for r in inc.collect()}
    full_map = {r.shard: tuple(r.words) for r in full.collect()}
    assert inc_map == full_map
    # empty delta → table passes through unchanged
    none = seen.bloom_or_new(prev, delta.limit(0), m_bits, n_shards=8)
    assert {r.shard: tuple(r.words) for r in none.collect()} == {
        r.shard: tuple(r.words) for r in prev.collect()
    }
