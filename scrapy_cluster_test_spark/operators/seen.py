"""URL-seen set at scale: sharded Bloom filter + exact anti-join.

Reference: the two-stage `$in`-probe anti-join dedup
(pipelines.py:457-468) and `$setOnInsert` idempotent inserts
(pipelines.py:429-444). Exact anti-join alone is correct but at a
10^10-row frontier the probe side dominates epoch cost; the north rule
prescribes a Bloom pre-filter maintained as broadcast + delta. Seen
fingerprints are never deleted, so a Bloom filter (no deletes) suffices.

Design (sandbox = small constants, same shape at scale):
* the fp space is sharded by ``pmod(fp, n_shards)``; each shard is an
  independent Bloom bitmap held as a TABLE (shard int, words
  array<bigint>): m_bits/64 words, bit b of the bitmap is bit b % 64 of
  word b // 64 (the words' little-endian bytes are the byte bitmap
  ``bitmap[b >> 3] & (1 << (b & 7))`` earlier versions stored). Nothing
  is collected to the driver and nothing is broadcast whole;
* every step is a native Spark expression — no Python worker runs: bit
  positions are k-fold double hashing h1 + i·h2 of two native
  ``xxhash64`` values (BLOOM_HASH) masked to the power-of-two m_bits, a
  build is an explode of positions aggregated with ``bit_or`` per
  (shard, word), and a probe reads k words with ``get``;
* the probe is shard-ROUTED (mark_probably_seen_routed): candidates
  shuffle by ``pmod(fp, n_shards)`` and hash-join the shard table (a
  shuffle-hash hint keeps it from being broadcast), so each task holds
  exactly ONE shard's words — at 10^10 fps and 10 bits/key (~12 GB of
  filter state across 256 shards) no executor holds more than one ~48 MB
  shard;
* bloom-negative → **definitely new** (no false negatives); bloom-positive
  → exact ``left_anti`` against the frontier fps resolves false positives
  (filter_new_routed). Both outcomes come out of ONE anti-join whose
  condition includes ``maybe_seen``, so the probe runs once per call;
* per-epoch "delta" = the fps inserted this epoch: ``bloom_or_new`` ORs
  only the delta's bits into last epoch's table (set-union == bitwise
  OR — bit-identical to a full rebuild, asserted in tests), and the epoch
  driver COMMITS the table with each epoch, so maintenance is O(new) and
  resume restores the exact filter state. ``bloom_m_bits`` sizes the
  table up front; the epoch driver regrows it when the seen set outgrows
  it.

Bit-for-bit equality with the numpy reference kernels is asserted in
tests/test_native_kernels.py, equivalence with the exact path in
tests/test_seen_bloom.py, and the crawl reproduces the oracle simulator
byte-for-byte.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import crawlspec_sql as csql

_H2_SALT = 0xA5A5A5A5DEADBEEF

# The bit-position function of every table this module builds, recorded
# in each epoch's commit record: a table committed without it (an older
# job dir, whose positions came from splitmix64) is rebuilt on resume,
# since probing it at these positions would give false negatives.
BLOOM_HASH = "xxhash64"


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


def _shard(n_shards: int) -> Column:
    return F.pmod(F.col("url_fp"), F.lit(n_shards)).cast("int")


def _positions(m_bits: int, k: int) -> list[Column]:
    """The k bit positions (h1 + i·(h2 | 1)) mod m_bits of ``url_fp``
    (Kirsch-Mitzenmacher double hashing) from two native xxhash64 values:
    h1 = xxhash64(fp) and h2 = xxhash64(salt, fp), i.e. fp hashed under a
    second seed. With m_bits a power of two each term is masked to
    m_bits − 1 before the sum, so sums stay far below 2^63 (no ANSI
    overflow) and (h2 | 1) stays odd — a full-period stride."""
    assert m_bits >= 64 and m_bits & (m_bits - 1) == 0, m_bits
    mask = F.lit(m_bits - 1)
    fp = F.col("url_fp")
    h1 = F.xxhash64(fp).bitwiseAND(mask)
    h2 = F.xxhash64(F.lit(csql.s64(_H2_SALT)), fp).bitwiseOR(F.lit(1)).bitwiseAND(mask)
    return [h1] + [(h1 + h2 * F.lit(i)).bitwiseAND(mask) for i in range(1, k)]


def _word_bits(fps_df: DataFrame, m_bits: int, k: int, n_shards: int) -> DataFrame:
    """(shard, _bits map<int, bigint>): per non-empty shard, word index →
    the OR of the bits the shard's fps set in that word."""
    pos = fps_df.select(
        _shard(n_shards).alias("shard"),
        F.explode(F.array(*_positions(m_bits, k))).alias("_p"),
    )
    bit = F.call_function(
        "shiftleft", F.lit(1).cast("long"), F.col("_p").bitwiseAND(F.lit(63)).cast("int")
    )
    words = pos.groupBy(
        "shard", F.shiftright(F.col("_p"), 6).cast("int").alias("_w")
    ).agg(F.bit_or(bit).alias("_b"))
    return words.groupBy("shard").agg(
        F.map_from_entries(F.collect_list(F.struct("_w", "_b"))).alias("_bits")
    )


def _or_words(words: Column, bits: Column) -> Column:
    """``words`` with each word OR-ed with its entry in the ``bits`` map
    (word index → bits), in one pass: the words become a map keyed by
    their index and ``map_zip_with`` pairs it with ``bits`` through a hash
    index on the integer keys, keeping the words' key order — O(words +
    touched words) per shard."""
    indexed = F.map_from_arrays(F.sequence(F.lit(0), F.size(words) - 1), words)
    return F.when(bits.isNull(), words).otherwise(
        F.map_values(
            F.map_zip_with(
                indexed, bits, lambda _, w, b: w.bitwiseOR(F.coalesce(b, F.lit(0).cast("long")))
            )
        )
    )


def _zeros(m_bits: int) -> Column:
    return F.array_repeat(F.lit(0).cast("long"), m_bits // 64)


def build_bloom_table_fixed(
    fps_df: DataFrame, m_bits: int, k: int = 5, n_shards: int = 16
) -> DataFrame:
    """Shard bitmaps as a TABLE (shard int, words array<bigint>), one row
    per non-empty shard of exactly m_bits/64 words (size it with
    ``bloom_m_bits``). The routed probe joins candidates to this table by
    shard, so each task holds exactly ONE shard's words — at 10^10 fps no
    executor ever holds more than m_bits/8 bytes of filter state."""
    return _word_bits(fps_df, m_bits, k, n_shards).select(
        "shard", _or_words(_zeros(m_bits), F.col("_bits")).alias("words")
    )


def bloom_or_new(
    prev_bitmaps: DataFrame,
    new_fps: DataFrame,
    m_bits: int,
    k: int = 5,
    n_shards: int = 16,
) -> DataFrame:
    """The broadcast-plus-DELTA maintenance step (north rule): OR only the
    NEW fps into last epoch's bitmap table — O(new) hashing per epoch
    instead of an O(frontier) rebuild. A full outer join by shard pairs
    each shard's new bits with its previous words; shards with no new fps
    pass through unchanged, shards with no previous words start from
    zeros. A Bloom filter never clears bits, so set-union of key sets ==
    bitwise OR of bitmaps — the incremental table is bit-identical to a
    full rebuild at the same m_bits (asserted in tests/test_seen_bloom.py)."""
    new = _word_bits(new_fps, m_bits, k, n_shards)
    return prev_bitmaps.select("shard", "words").join(new, "shard", "full_outer").select(
        "shard",
        _or_words(F.coalesce(F.col("words"), _zeros(m_bits)), F.col("_bits")).alias("words"),
    )


def mark_probably_seen_routed(
    candidates: DataFrame,
    shard_bitmaps: DataFrame,
    m_bits: int,
    k: int = 5,
    n_shards: int = 16,
) -> DataFrame:
    """Shard-routed probe: candidates shuffle by ``pmod(fp, n_shards)`` and
    hash-join the shard table on the same key — each task probes only its
    local shard's words (shipped once per task through the shuffle, never
    broadcast). Adds ``maybe_seen``."""
    cols = candidates.columns
    table = shard_bitmaps.select(
        F.col("shard").alias("_shard"), F.col("words").alias("_words")
    ).hint("shuffle_hash")
    joined = candidates.withColumn("_shard", _shard(n_shards)).join(
        table, "_shard", "left"
    )
    hit = None
    for p in _positions(m_bits, k):
        word = F.get(F.col("_words"), F.shiftright(p, 6).cast("int"))
        bit = F.call_function(
            "shiftrightunsigned", word, p.bitwiseAND(F.lit(63)).cast("int")
        ).bitwiseAND(F.lit(1)) == 1
        hit = bit if hit is None else hit & bit
    # a shard with no table row holds no fps → nothing there can be seen
    return joined.select(*cols, F.coalesce(hit, F.lit(False)).alias("maybe_seen"))


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
    anti-join. One anti-join whose condition requires ``maybe_seen``
    does both — a negative never matches, so it survives without a
    lookup — and the probe is evaluated once. Result set is identical to
    a plain left_anti (asserted in tests/test_seen_bloom.py)."""
    marked = mark_probably_seen_routed(candidates, shard_bitmaps, m_bits, k, n_shards)
    seen = frontier_fps.select(F.col("url_fp").alias("_seen_fp"))
    verify = (F.col("url_fp") == F.col("_seen_fp")) & F.col("maybe_seen")
    return marked.join(seen, verify, "left_anti").drop("maybe_seen")
