"""Numpy reference forms of the crawl's native kernels: the Bloom bit
positions, bit set and bit test of ``operators/seen.py`` and the child
fan-out of ``sources/fetchsim.discover_children``. They are what the
engine computed before those kernels became Spark expressions, kept here
only to pin the native forms bit for bit (tests/test_native_kernels.py)."""

from __future__ import annotations

import numpy as np
import pandas as pd

from scrapy_cluster_test_spark import crawlspec as spec
from scrapy_cluster_test_spark.operators.seen import _H2_SALT


def probe_positions(fps: np.ndarray, m_bits: int, k: int) -> np.ndarray:
    """(n, k) bit positions via double hashing h1 + i·h2 (Kirsch-Mitzenmacher)."""
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



def bloom_bitmaps(fps: np.ndarray, m_bits: int, k: int, n_shards: int) -> dict[int, bytes]:
    """shard → byte bitmap, one entry per non-empty shard (``pmod`` shard)."""
    out = {}
    shards = np.mod(fps, n_shards)
    for s in np.unique(shards).tolist():
        bitmap = np.zeros(m_bits // 8, dtype=np.uint8)
        set_bits(bitmap, probe_positions(fps[shards == s], m_bits, k))
        out[int(s)] = bitmap.tobytes()
    return out


def words_to_bitmap(words: list[int]) -> bytes:
    """A native table row's words as the byte bitmap they encode."""
    return np.asarray(words, dtype=np.int64).astype("<i8").tobytes()


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
