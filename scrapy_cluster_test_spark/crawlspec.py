"""The deterministic crawl-semantics contract.

Everything the synthetic web "serves" is a pure function of the image table
(seed 42) — no wall clock, no randomness at fetch time. This module is the
single source of truth shared by:

* the distributed engine (native Column forms of the integer functions
  in crawlspec_sql.py, used by sources/fetchsim.py);
* the datagen and the numpy reference kernels the native forms are pinned
  against (numpy-vectorized forms);
* the pure-Python oracle simulator (scalar forms, oracle/simulator.py).

Reference semantics mirrored (SURVEY §2.4):
* fetch outcome by page: 200 / retryable {404, 503} / empty-page → retry
  (status 520 stands in for the reference's empty-parse retry,
  spiders/amazon_merchant.py:114-118);
* offer fan-out: each 200 page yields min(total_offers, 10) child links
  (spiders/amazon_merchant.py:128-153);
* kind flip: asin (offer) pages yield seller URLs; seller pages yield
  asin URLs (amazon_merchant_autonomous.py:156-350);
* retry budget 2, priority adjust -1, provider flip on 2nd+ retry
  (middlewares.py:153-233);
* robots gating by (domain, path_bucket) — absent in the reference
  (ROBOTSTXT_OBEY unset, SURVEY Q13), required by the north rule.

Scalar and vectorized forms are parity-tested in tests/test_crawlspec.py,
the native forms in tests/test_native_kernels.py.
"""

from __future__ import annotations

import numpy as np

SEED = 42
MASK = (1 << 64) - 1

# splitmix64 constants (public domain PRNG, Steele et al.)
_SM_GAMMA = 0x9E3779B97F4A7C15
_SM_M1 = 0xBF58476D1CE4E5B9
_SM_M2 = 0x94D049BB133111EB

# engine parameters (defaults; CrawlParams can override the budgets)
N_DOMAINS = 50
N_PATH_BUCKETS = 97
ROBOTS_DISALLOW_MOD = 20  # ~5% of (domain, bucket) pairs disallowed
RETRY_TIMES_MAX = 2  # spiders/amazon_merchant.py:23
RETRY_PRIORITY_ADJUST = -1  # scrapy default; lower sorts first in our queue
RETRY_STATUS = (404, 429, 503, 520)
MAX_CHILDREN = 10  # offers per page (spiders/amazon_merchant.py:137)
PROVIDERS = ("crawlera", "proxycrawl")
# images table partition count: image i lives in partition i % N_IMG_BUCKETS.
# The popped side derives the same bucket natively from the URL's numeric
# index, so the payload join dynamic-partition-prunes the images scan to
# only the buckets an epoch touches (VERDICT r1 scale-killer #2).
N_IMG_BUCKETS = 64


# ---------------------------------------------------------------------------
# splitmix64 mixer — scalar and vectorized
# ---------------------------------------------------------------------------


def mix64(x: int) -> int:
    """splitmix64 finalizer of (x + gamma); unsigned result."""
    z = (x + _SM_GAMMA) & MASK
    z = ((z ^ (z >> 30)) * _SM_M1) & MASK
    z = ((z ^ (z >> 27)) * _SM_M2) & MASK
    return z ^ (z >> 31)


def mix64_np(x: np.ndarray) -> np.ndarray:
    z = (x.astype(np.uint64) + np.uint64(_SM_GAMMA))
    z = (z ^ (z >> np.uint64(30))) * np.uint64(_SM_M1)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(_SM_M2)
    return z ^ (z >> np.uint64(31))


# ---------------------------------------------------------------------------
# Synthetic web structure
# ---------------------------------------------------------------------------


def domain_id(i: int, n_domains: int = N_DOMAINS) -> int:
    """Zipf-ish skewed domain assignment: u³ concentrates mass on low ids —
    domain 0 takes ~(1/D)^(1/3) of all pages (the hot-domain skew the
    salting/budget logic must survive, SURVEY Q15)."""
    u = (mix64(i) & 0xFFFFF) / float(1 << 20)
    return int(n_domains * u * u * u)


def domain_id_np(i: np.ndarray, n_domains: int = N_DOMAINS) -> np.ndarray:
    u = (mix64_np(i) & np.uint64(0xFFFFF)).astype(np.float64) / float(1 << 20)
    return (n_domains * u * u * u).astype(np.int64)


def domain_name(d: int) -> str:
    return f"d{d:04d}.example.com"


def page_url(kind: str, j: int, n_domains: int = N_DOMAINS) -> str:
    """Canonical URL of page j in queue ``kind`` ('seller' | 'asin')."""
    return f"https://{domain_name(domain_id(j, n_domains))}/{kind}/{j:010d}"


def image_index_of_url_path(path: str) -> int:
    return int(path.rsplit("/", 1)[-1])


def status_code(phash: int) -> int:
    """Fetch outcome: 503 / 404 retryables, 520 for empty pages, else 200."""
    p = phash & MASK
    if p % 97 == 0:
        return 503
    if p % 131 == 0:
        return 404
    if p % 35 == 0:  # total_offers == 0 → empty-parse retry path
        return 520
    return 200


def status_code_np(phash: np.ndarray) -> np.ndarray:
    p = phash.astype(np.uint64)
    out = np.full(len(p), 200, dtype=np.int32)
    out[p % np.uint64(35) == 0] = 520
    out[p % np.uint64(131) == 0] = 404
    out[p % np.uint64(97) == 0] = 503
    return out


def total_offers(phash: int) -> int:
    return int((phash & MASK) % 35)


def n_children(phash: int) -> int:
    return min(total_offers(phash), MAX_CHILDREN)


def child_index(phash: int, k: int, n_images: int) -> int:
    """k-th child page id of a 200 page, mapped into the image id space.
    Collisions (≈10% at the default fan-out) are intentional — they
    exercise the URL-seen set (FIXTURES.md §4)."""
    h = mix64(((phash & MASK) ^ ((k + 1) * _SM_GAMMA)) & MASK)
    return int(h % n_images)


def child_indices_np(phash: np.ndarray, k: int, n_images: int) -> np.ndarray:
    h = mix64_np(
        phash.astype(np.uint64) ^ (np.uint64((k + 1) * _SM_GAMMA & MASK))
    )
    return (h % np.uint64(n_images)).astype(np.int64)


def child_kind(parent_kind: str) -> str:
    """Offer (asin) pages yield sellers; seller pages yield asins."""
    return "seller" if parent_kind == "asin" else "asin"


# ---------------------------------------------------------------------------
# Politeness / robots dimensions
# ---------------------------------------------------------------------------


def domain_rate(d: int) -> int:
    """Per-domain request budget basis: hot domains (every 5th) get the
    autonomous spider's high rate, others the default 40 req/s
    (BASELINE.md: DOWNLOAD_DELAY 1/1000 vs 1/40)."""
    return 1000 if d % 5 == 0 else 40


def domain_budget(d: int, scale: float = 1.0) -> int:
    """Pop budget per epoch: rate × epoch-seconds (scale)."""
    return max(1, int(domain_rate(d) * scale))


def robots_allow(d: int, path_bucket: int) -> bool:
    return mix64(d * N_PATH_BUCKETS + path_bucket) % ROBOTS_DISALLOW_MOD != 0


def path_bucket_of_fp(url_fp: int) -> int:
    """Robots join key: pmod(url_fp, 97). Python's % on a positive modulus
    is already non-negative, matching Spark's F.pmod."""
    return url_fp % N_PATH_BUCKETS


_SEED_SALT = 0x5EED


def seed_index(s: int, n_images: int) -> int:
    return int(mix64(s + _SEED_SALT) % n_images)


def seed_kind(s: int) -> str:
    return "asin" if s % 2 == 0 else "seller"
