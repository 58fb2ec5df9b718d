"""The crawl's native kernels equal their numpy references
(tests/kernel_reference.py) bit for bit, and a crawl runs no Python:
splitmix64 and the unsigned remainder at the int64 edges, the Bloom
filter's xxhash64 bit positions, the Bloom table at several sizes, the
Bloom probe, the child fan-out, and every physical plan of a multi-epoch
crawl."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from scrapy_cluster_test_spark import crawlspec as spec
from scrapy_cluster_test_spark import crawlspec_sql as csql
from scrapy_cluster_test_spark.functions import xxh64
from scrapy_cluster_test_spark.operators import seen
from scrapy_cluster_test_spark.plans import epoch as ep
from scrapy_cluster_test_spark.sources import fetchsim

from . import kernel_reference as ref
from . import shared_crawl as sc

EDGES = [
    0, 1, -1, 2, 35, 2**31 - 1, 2**31, 2**32 - 1, 2**32, 2**32 + 1,
    2**62, 2**63 - 1, -(2**63), -(2**63) + 1, -(2**32), -(2**31),
]


def _random_longs(rng, n):
    return rng.integers(-(2**63), 2**63 - 1, n, dtype=np.int64)


def _longs(spark, vals, name="x"):
    return spark.createDataFrame([(int(v),) for v in vals], f"{name} long")


def test_mix64_umod_domain_match_crawlspec(spark):
    rng = np.random.default_rng(7)
    x = np.concatenate([np.array(EDGES, np.int64), _random_longs(rng, 5000)])
    mods = (1, 35, 97, 1000, 1024, 65536, 2**31 - 1)
    df = csql.with_mix64(_longs(spark, x), {"h": F.col("x")}).select(
        "x", "h", csql.domain_id(F.col("h")).alias("d"),
        *[csql.umod(F.col("x"), m).alias(f"m{m}") for m in mods],
    )
    rows = df.collect()
    got_x = np.array([r.x for r in rows], np.int64)
    u = got_x.view(np.uint64)
    assert (np.array([r.h for r in rows], np.int64) == spec.mix64_np(u).view(np.int64)).all()
    assert (np.array([r.d for r in rows]) == spec.domain_id_np(got_x)).all()
    for m in mods:
        want = u % np.uint64(m)
        assert (np.array([r[f"m{m}"] for r in rows], np.uint64) == want).all(), m
    for v in EDGES:  # the scalar form too, at the edges
        r = next(r for r in rows if r.x == v)
        assert r.h & spec.MASK == spec.mix64(v & spec.MASK), v


def test_bloom_positions_match_reference(spark):
    """The Bloom filter's hashes — Spark's xxhash64 of fp and of
    (salt, fp) — and the bit positions built from them equal the
    pure-Python XXH64 reference, the int64 edges included."""
    rng = np.random.default_rng(5)
    x = np.concatenate([np.array(EDGES, np.int64), _random_longs(rng, 2000)])
    m_bits = 65536
    rows = _longs(spark, x, "url_fp").select(
        "url_fp",
        F.xxhash64("url_fp").alias("h1"),
        F.xxhash64(F.lit(csql.s64(seen._H2_SALT)), "url_fp").alias("h2"),
        F.array(*seen._positions(m_bits, 5)).alias("pos"),
    ).collect()
    got = [r.url_fp for r in rows]
    assert [r.h1 for r in rows] == [xxh64.xxh64_long(v) for v in got]
    assert [r.h2 for r in rows] == [xxh64.xxh64_long2(seen._H2_SALT, v) for v in got]
    want = ref.probe_positions(np.array(got, np.int64), m_bits, 5)
    assert (np.array([r.pos for r in rows], np.int64) == want).all()


@pytest.fixture(scope="module")
def fps():
    rng = np.random.default_rng(3)
    return np.concatenate([np.array(EDGES, np.int64), _random_longs(rng, 3000)])


@pytest.mark.parametrize("m_bits", [1024, 8192, 65536])
def test_bloom_table_matches_reference(spark, fps, m_bits):
    """The native table's words are the reference byte bitmap, the OR of
    two halves equals the full build, and nothing inserted probes as
    unseen."""
    df = _longs(spark, fps, "url_fp")
    want = ref.bloom_bitmaps(fps, m_bits, 5, 8)
    table = seen.build_bloom_table_fixed(df, m_bits, n_shards=8)
    # (planned before caching, which would substitute the cached relation)
    plan = table._jdf.queryExecution().optimizedPlan().toString()
    table = table.cache()
    rows = table.collect()
    assert all(len(r.words) == m_bits // 64 for r in rows)
    assert {r.shard: ref.words_to_bitmap(r.words) for r in rows} == want

    even = df.filter(F.col("url_fp") % 2 == 0)
    odd = df.filter(F.col("url_fp") % 2 != 0)
    inc = seen.bloom_or_new(
        seen.build_bloom_table_fixed(even, m_bits, n_shards=8), odd, m_bits, n_shards=8
    )
    assert {r.shard: ref.words_to_bitmap(r.words) for r in inc.collect()} == want

    marked = seen.mark_probably_seen_routed(df, table, m_bits, n_shards=8)
    assert marked.filter(~F.col("maybe_seen")).count() == 0
    # the OR is one hash-indexed pass over each shard's words
    # (map_zip_with keyed by word index), not a lookup per word into the
    # map of touched words, which Spark answers by a linear scan
    assert "map_zip_with(" in plan, plan
    assert "element_at(" not in plan and "transform(" not in plan, plan
    table.unpersist()


def test_probe_matches_reference(spark, fps):
    m_bits = 8192
    table = seen.build_bloom_table_fixed(_longs(spark, fps, "url_fp"), m_bits, n_shards=8)
    probes = spark.range(0, 4000).select(
        F.xxhash64("id").alias("url_fp"), F.col("id").alias("payload")
    )
    rows = seen.mark_probably_seen_routed(probes, table, m_bits, n_shards=8).collect()
    assert [c for c in rows[0].asDict()] == ["url_fp", "payload", "maybe_seen"]
    bitmaps = ref.bloom_bitmaps(fps, m_bits, 5, 8)
    got = np.array([r.maybe_seen for r in rows])
    pf = np.array([r.url_fp for r in rows], np.int64)
    pos = ref.probe_positions(pf, m_bits, 5)
    want = np.array(
        [
            int(s) in bitmaps
            and bool(
                ref.test_bits(np.frombuffer(bitmaps[int(s)], np.uint8), pos[i : i + 1])[0]
            )
            for i, s in enumerate(np.mod(pf, 8))
        ]
    )
    assert (got == want).all()
    assert 0 < want.sum() < len(want) * 0.05  # some false positives, few


def test_children_match_reference(spark):
    """discover_children's rows equal the numpy fan-out over 3,000 parents
    whose phash covers the int64 edges."""
    n, n_images = 3000, 4000
    rng = np.random.default_rng(11)
    phash = np.concatenate([np.array(EDGES, np.int64), _random_longs(rng, n - len(EDGES))])
    kinds = np.where(np.arange(n) % 2 == 0, "asin", "seller")
    fetched = spark.createDataFrame(
        [
            (i, int(rng.integers(-(2**63), 2**63 - 1)), str(kinds[i]), int(phash[i]))
            for i in range(n)
        ],
        "seq long, url_fp long, queue_kind string, phash long",
    )
    fetched = fetchsim.fetch_statuses(fetched)
    got = sorted(
        (r.parent_seq, r.child_k, r.parent_fp, r.url, r.domain, r.queue_kind)
        for r in fetchsim.discover_children(fetched, n_images).collect()
    )
    want_df = ref.children_rows(fetched.toPandas(), n_images)
    want = sorted(
        (
            int(r.parent_seq), int(r.child_k), int(r.parent_fp),
            f"https://{spec.domain_name(int(r.d))}/{r.queue_kind}/{int(r.j):010d}",
            spec.domain_name(int(r.d)), r.queue_kind,
        )
        for r in want_df.itertuples()
    )
    assert len(want) > 20_000
    assert got == want


def test_crawl_plans_python_free(crawl400):
    """No SQL plan of a crawl holds a Python exec node, and each epoch
    probes the Bloom table once."""
    assert crawl400.plans
    for plan in crawl400.plans:
        for node in sc.PYTHON_EXEC_NODES:
            assert node not in plan, (node, plan[:3000])
    probes = [sc.probe_count(plan) for plan in crawl400.plans]
    assert max(probes) == 1, probes
    assert sum(probes) == ep.last_committed_epoch(crawl400.job)
