"""Numpy reference forms of the crawl's native kernels: the Bloom bit
positions, bit set and bit test of ``operators/seen.py`` and the child
fan-out of ``sources/fetchsim.discover_children``. They are what the
engine computed before those kernels became Spark expressions, kept here
only to pin the native forms bit for bit (tests/test_native_kernels.py).
``probe_positions_splitmix`` is the position function of job dirs written
before ``seen.BLOOM_HASH``; the resume tests build such job dirs with it."""

from __future__ import annotations

import numpy as np
import pandas as pd

from scrapy_cluster_test_spark import crawlspec as spec
from scrapy_cluster_test_spark.functions import xxh64
from scrapy_cluster_test_spark.operators.seen import _H2_SALT


def probe_positions(fps: np.ndarray, m_bits: int, k: int) -> np.ndarray:
    """(n, k) bit positions of ``seen._positions``: double hashing
    h1 + i·(h2 | 1) mod m_bits (Kirsch-Mitzenmacher) of h1 = xxhash64(fp)
    and h2 = xxhash64(salt, fp), Spark's seed-42 hash chained over the two
    columns (the pure-Python XXH64 of functions/xxh64.py)."""
    mask = m_bits - 1
    out = np.empty((len(fps), k), np.int64)
    for r, fp in enumerate(fps.tolist()):
        h1 = xxh64.xxh64_long(fp) & mask
        h2 = (xxh64.xxh64_long2(_H2_SALT, fp) | 1) & mask
        out[r] = [(h1 + i * h2) & mask for i in range(k)]
    return out


def probe_positions_splitmix(fps: np.ndarray, m_bits: int, k: int) -> np.ndarray:
    """(n, k) bit positions of job dirs written before ``seen.BLOOM_HASH``:
    double hashing h1 + i·h2 of splitmix64, h1 = mix64(fp) and
    h2 = mix64(fp ^ salt) | 1, summed mod 2^64, then mod m_bits."""
    u = fps.astype(np.int64).view(np.uint64)
    h1 = spec.mix64_np(u)
    h2 = spec.mix64_np(u ^ np.uint64(_H2_SALT)) | np.uint64(1)
    i = np.arange(k, dtype=np.uint64)[None, :]
    return ((h1[:, None] + i * h2[:, None]) % np.uint64(m_bits)).astype(np.int64)


def set_bits(bitmap: np.ndarray, pos: np.ndarray) -> None:
    np.bitwise_or.at(bitmap, pos >> 3, (1 << (pos & 7)).astype(np.uint8))


def test_bits(bitmap: np.ndarray, pos: np.ndarray) -> np.ndarray:
    """(n, k) positions → (n,) all-bits-set boolean."""
    got = (bitmap[pos >> 3] & (1 << (pos & 7)).astype(np.uint8)) != 0
    return got.all(axis=1)



def bloom_bitmaps(
    fps: np.ndarray, m_bits: int, k: int, n_shards: int, positions=probe_positions
) -> dict[int, bytes]:
    """shard → byte bitmap, one entry per non-empty shard (``pmod`` shard)."""
    out = {}
    shards = np.mod(fps, n_shards)
    for s in np.unique(shards).tolist():
        bitmap = np.zeros(m_bits // 8, dtype=np.uint8)
        set_bits(bitmap, positions(fps[shards == s], m_bits, k))
        out[int(s)] = bitmap.tobytes()
    return out


def words_to_bitmap(words: list[int]) -> bytes:
    """A native table row's words as the byte bitmap they encode."""
    return np.asarray(words, dtype=np.int64).astype("<i8").tobytes()


def bitmap_to_words(bitmap: bytes) -> list[int]:
    """The word-layout row of a byte bitmap (``words_to_bitmap`` inverse)."""
    return np.frombuffer(bitmap, dtype="<i8").astype(np.int64).tolist()


def children_rows(fetched: pd.DataFrame, n_images: int) -> pd.DataFrame:
    """Child link rows (parent_seq, parent_fp, child_k, j, d, queue_kind) of
    the fetched rows with status 200:
    min(phash mod 35, MAX_CHILDREN) children each."""
    ok = fetched[fetched["status_code"] == 200]
    phash = ok["phash"].to_numpy(np.int64).view(np.uint64)
    n_child = np.minimum(phash % np.uint64(35), np.uint64(spec.MAX_CHILDREN))
    ckind = np.where(ok["queue_kind"].to_numpy() == "asin", "seller", "asin")
    out = []
    for k in range(spec.MAX_CHILDREN):
        mask = n_child > k
        j = spec.child_indices_np(phash[mask].view(np.int64), k, n_images)
        out.append(
            pd.DataFrame(
                {
                    "parent_seq": ok["seq"].to_numpy(np.int64)[mask],
                    "parent_fp": ok["url_fp"].to_numpy(np.int64)[mask],
                    "child_k": np.full(mask.sum(), k, np.int32),
                    "j": j,
                    "d": spec.domain_id_np(j).astype(np.int32),
                    "queue_kind": ckind[mask],
                }
            )
        )
    return pd.concat(out, ignore_index=True)
