"""URL-seen set at scale: sharded Bloom filter + exact anti-join.

Reference: the two-stage `$in`-probe anti-join dedup
(pipelines.py:457-468) and `$setOnInsert` idempotent inserts
(pipelines.py:429-444). Exact anti-join alone is correct but at a
10^10-row frontier the probe side dominates epoch cost; the north rule
prescribes a Bloom pre-filter maintained as broadcast + delta. Seen
fingerprints are never deleted, so a Bloom filter (no deletes) suffices.

Design (sandbox = small constants, same shape at scale):
* the fp space is sharded by ``pmod(fp, n_shards)``; each shard is an
  independent Bloom bitmap built DISTRIBUTED via applyInPandas over the
  frontier's fps (one task per shard — numpy bit-ops, no Python loop),
  held as a TABLE (shard int, bitmap binary) — nothing is collected to
  the driver and nothing is broadcast whole;
* the probe is shard-ROUTED (mark_probably_seen_routed): candidates
  repartition by ``pmod(fp, n_shards)`` and cogroup with the table, so
  each task receives exactly ONE shard's bitmap through the shuffle — at
  10^10 fps and 10 bits/key (~12 GB of filter state across 256 shards)
  no executor ever holds more than one ~48 MB shard;
* bloom-negative → **definitely new** (no false negatives), skips the
  join; bloom-positive → exact ``left_anti`` against the frontier fps
  resolves false positives (filter_new_routed);
* per-epoch "delta" = the fps inserted this epoch: ``bloom_or_new`` ORs
  only the delta's bits into last epoch's bitmap table (set-union ==
  bitwise OR — bit-identical to a full rebuild, asserted in tests), and
  the epoch driver COMMITS the table with each epoch, so maintenance is
  O(new) and resume restores the exact filter state. ``bloom_m_bits``
  sizes the table up front; the epoch driver regrows it when the seen
  set outgrows it.

Equivalence with the exact path is asserted in tests/test_seen_bloom.py,
and the crawl reproduces the oracle simulator byte-for-byte.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import crawlspec as spec

_H2_SALT = 0xA5A5A5A5DEADBEEF


def _probe_positions(fps: np.ndarray, m_bits: int, k: int) -> np.ndarray:
    """(n, k) bit positions via double hashing h1 + i·h2 (Kirsch-Mitzenmacher)."""
    u = fps.astype(np.uint64)
    h1 = spec.mix64_np(u)
    h2 = spec.mix64_np(u ^ np.uint64(_H2_SALT)) | np.uint64(1)
    i = np.arange(k, dtype=np.uint64)[None, :]
    return ((h1[:, None] + i * h2[:, None]) % np.uint64(m_bits)).astype(np.int64)


def _set_bits(bitmap: np.ndarray, pos: np.ndarray) -> None:
    np.bitwise_or.at(bitmap, pos >> 3, (1 << (pos & 7)).astype(np.uint8))


def _test_bits(bitmap: np.ndarray, pos: np.ndarray) -> np.ndarray:
    """(n, k) positions → (n,) all-bits-set boolean."""
    got = (bitmap[pos >> 3] & (1 << (pos & 7)).astype(np.uint8)) != 0
    return got.all(axis=1)


# design bits-per-key for bloom_m_bits and the fill-ratio resize trigger
# (10 bits/key ≈ 1% false-positive rate at k=5). Single source of truth:
# bloom_m_bits and epoch.py's resize cap_keys math derive from this.
BITS_PER_KEY = 10


def bloom_m_bits(
    expected_total: int, n_shards: int = 16, bits_per_key: int = BITS_PER_KEY
) -> int:
    """Per-shard bitmap size for an expected TOTAL key count — fixed up
    front so the table can grow incrementally without resizing; when the
    seen set outgrows it anyway, run_epoch's fill-ratio trigger rebuilds
    at the next power of two (epoch.py _job_bloom)."""
    return max(
        1024,
        1
        << int(
            np.ceil(
                np.log2(max(1, expected_total // max(1, n_shards)) * bits_per_key)
            )
        ),
    )


def build_bloom_table_fixed(
    fps_df: DataFrame, m_bits: int, k: int = 5, n_shards: int = 16
) -> DataFrame:
    """Shard bitmaps as a TABLE (shard int, bitmap binary), one row per
    non-empty shard of exactly m_bits/8 bytes (size it with ``bloom_m_bits``). The
    routed probe cogroups candidates with this table, so each task
    receives exactly ONE shard's bitmap via the shuffle — at 10^10 fps no
    executor ever holds more than m_bits/8 bytes of filter state."""

    def per_shard(key, pdf: pd.DataFrame) -> pd.DataFrame:
        bitmap = np.zeros(m_bits // 8, dtype=np.uint8)
        fps = pdf["url_fp"].to_numpy(np.int64)
        _set_bits(bitmap, _probe_positions(fps, m_bits, k))
        return pd.DataFrame({"shard": [int(key[0])], "bitmap": [bitmap.tobytes()]})

    return (
        fps_df.select("url_fp")
        .withColumn("shard", F.pmod(F.col("url_fp"), F.lit(n_shards)).cast("int"))
        .groupBy("shard")
        .applyInPandas(per_shard, schema="shard int, bitmap binary")
    )


def bloom_or_new(
    prev_bitmaps: DataFrame,
    new_fps: DataFrame,
    m_bits: int,
    k: int = 5,
    n_shards: int = 16,
) -> DataFrame:
    """The broadcast-plus-DELTA maintenance step (north rule): OR only the
    NEW fps into last epoch's bitmap table — O(new) work per epoch instead
    of an O(frontier) rebuild. Cogroup pairs each shard's new fps with its
    previous bitmap; shards with no new fps pass through unchanged, shards
    with no previous bitmap start from zeros. A Bloom filter never clears
    bits, so set-union of key sets == bitwise OR of bitmaps — the
    incremental table is bit-identical to a full rebuild at the same
    m_bits (asserted in tests/test_seen_bloom.py)."""

    def merge(fps: pd.DataFrame, bm: pd.DataFrame) -> pd.DataFrame:
        if bm.empty:
            shard = int(fps["shard"].iloc[0])
            bitmap = np.zeros(m_bits // 8, dtype=np.uint8)
        else:
            shard = int(bm["shard"].iloc[0])
            bitmap = np.frombuffer(bm["bitmap"].iloc[0], dtype=np.uint8).copy()
        if not fps.empty:
            _set_bits(
                bitmap, _probe_positions(fps["url_fp"].to_numpy(np.int64), m_bits, k)
            )
        return pd.DataFrame({"shard": [shard], "bitmap": [bitmap.tobytes()]})

    tagged = new_fps.select("url_fp").withColumn(
        "shard", F.pmod(F.col("url_fp"), F.lit(n_shards)).cast("int")
    )
    return (
        tagged.groupBy("shard")
        .cogroup(prev_bitmaps.groupBy("shard"))
        .applyInPandas(merge, schema="shard int, bitmap binary")
    )


def mark_probably_seen_routed(
    candidates: DataFrame,
    shard_bitmaps: DataFrame,
    m_bits: int,
    k: int = 5,
    n_shards: int = 16,
) -> DataFrame:
    """Shard-routed probe: candidates repartition by ``pmod(fp, n_shards)``
    and COGROUP with the shard-bitmap table — each task probes only its
    local shard's bitmap (shipped once per task through the shuffle, never
    broadcast). Adds ``maybe_seen``."""
    from pyspark.sql import types as T

    out_schema = T.StructType(
        list(candidates.schema.fields) + [T.StructField("maybe_seen", T.BooleanType())]
    )
    cand_cols = candidates.columns

    def probe(cand: pd.DataFrame, bm: pd.DataFrame) -> pd.DataFrame:
        cand = cand[cand_cols]
        if cand.empty:
            return cand.assign(maybe_seen=pd.Series([], dtype=bool))
        if bm.empty:  # shard with no frontier fps → nothing can be seen
            return cand.assign(maybe_seen=False)
        bitmap = np.frombuffer(bm["bitmap"].iloc[0], dtype=np.uint8)
        pos = _probe_positions(cand["url_fp"].to_numpy(np.int64), m_bits, k)
        return cand.assign(maybe_seen=_test_bits(bitmap, pos))

    tagged = candidates.withColumn(
        "_shard", F.pmod(F.col("url_fp"), F.lit(n_shards)).cast("int")
    )
    return (
        tagged.groupBy("_shard")
        .cogroup(shard_bitmaps.groupBy(F.col("shard").alias("_shard")))
        .applyInPandas(probe, schema=out_schema)
    )


def filter_new_routed(
    candidates: DataFrame,
    frontier_fps: DataFrame,
    shard_bitmaps: DataFrame,
    m_bits: int,
    k: int = 5,
    n_shards: int = 16,
) -> DataFrame:
    """Rows of ``candidates`` whose fp is NOT in ``frontier_fps``:
    bloom-negatives pass directly; bloom-positives take the exact
    anti-join. Result set is identical to a plain left_anti (asserted in
    tests/test_seen_bloom.py) — the bloom only cuts the join's probe
    side."""
    marked = mark_probably_seen_routed(candidates, shard_bitmaps, m_bits, k, n_shards)
    negatives = marked.filter(~F.col("maybe_seen")).drop("maybe_seen")
    positives = (
        marked.filter(F.col("maybe_seen"))
        .drop("maybe_seen")
        .join(frontier_fps, "url_fp", "left_anti")
    )
    return negatives.unionByName(positives)
