"""Similarity search over an embedding column (array<float>).

* ``cosine`` — native column expression (zip_with + aggregate fold): the
  multiply-accumulate runs in the JVM in element order, so results are
  bit-reproducible and oracle-comparable (DuckDB sums with ORDER BY).
* ``brute_force_topk`` — the exact baseline: broadcast the (small) query
  set against all vectors, window top-k.
* ``neardup_pairs_lsh`` / ``ann_topk_lsh`` — the scale path: random-
  hyperplane LSH over md5-derived planes both engines can compute, so the
  DuckDB oracle mirrors the buckets exactly. Codes and pair verification
  run as Arrow/BLAS passes (``md5_lsh_codes_arrow``) with an exact
  element-ordered rescore near the threshold; recall is measured against
  brute force in tests.
* ``ivf_topk`` / ``ivf_topk_bucketed`` — IVF-flat: deterministic centroids
  (the first vectors by md5(id)), probe the nearest lists; the bucketed form writes lists partitioned by
  centroid so probes prune at file listing.

``brute_force_topk_numpy`` is the BLAS variant of the exact baseline
(vectorized matmul beats per-row folds ~50×) — same results.
``md5_planes_df`` / ``md5_lsh_codes`` are the JVM-side forms of the plane
and code derivation, the reference the Arrow kernel is pinned against
(tests/test_similarity_arrow.py).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W


def dot_cols(a: str | F.Column, b: str | F.Column) -> F.Column:
    """Σ aᵢ·bᵢ as doubles, folded in element order (deterministic)."""
    prods = F.zip_with(
        F.col(a) if isinstance(a, str) else a,
        F.col(b) if isinstance(b, str) else b,
        lambda x, y: x.cast("double") * y.cast("double"),
    )
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def norm_col(a: str | F.Column) -> F.Column:
    c = F.col(a) if isinstance(a, str) else a
    sq = F.transform(c, lambda x: x.cast("double") * x.cast("double"))
    return F.sqrt(F.aggregate(sq, F.lit(0.0), lambda acc, x: acc + x))


def with_cosine(pairs: DataFrame, a: str = "emb_a", b: str = "emb_b") -> DataFrame:
    return pairs.withColumn(
        "cosine", dot_cols(a, b) / (norm_col(a) * norm_col(b))
    )


def brute_force_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Exact top-k: broadcast queries × all vectors → cosine → window.
    Output: (query_id, neighbor_id, rnk) — rank ties broken by neighbor id.
    Norms are computed once per VECTOR before the join (identical
    element-order arithmetic, 3× fewer folds than per-pair norms)."""
    q = F.broadcast(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(emb_col).alias("emb_q"),
            norm_col(F.col(emb_col)).alias("norm_q"),
        )
    )
    v = vectors.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(emb_col).alias("emb_v"),
        norm_col(F.col(emb_col)).alias("norm_v"),
    )
    scored = (
        q.crossJoin(v)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine", dot_cols("emb_q", "emb_v") / (F.col("norm_q") * F.col("norm_v"))
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "rnk")
    )


# -- oracle-mirrorable LSH near-dup (md5-derived hyperplanes) --------------

NEARDUP_PLANES = 5
NEARDUP_TABLES = 24
# ANN top-k needs a higher collision probability than threshold near-dup:
# recall of the true top-k (including moderately-near neighbors) must be
# >=0.9, measured at sf0.1 in tests/test_similarity.py. 40 tables of 5
# planes measures 0.970 there (24 tables: 0.875 — below the floor).
# Keeping 5 planes (32 buckets/table) rather than dropping planes keeps
# bucket granularity, the dial that matters at 10^10 rows.
ANN_PLANES = 5
ANN_TABLES = 40
NEARDUP_THRESHOLD = 0.38


def md5_plane_weights(dim: int, n_planes: int, n_tables: int) -> np.ndarray:
    """Deterministic pseudo-random hyperplanes BOTH engines can derive:
    w(t,p,j) = (uint32(md5(f"{t}|{p}|{j}")[:8]) % 1000001) / 500000 - 1
    (j 1-based), i.e. uniform [-1,1). DuckDB computes the identical value
    via CAST(concat('0x', substr(md5(...),1,8)) AS BIGINT) — no plane
    literals need to travel into the oracle SQL."""
    import hashlib

    P = np.empty((n_tables, n_planes, dim), np.float64)
    for t in range(n_tables):
        for p in range(n_planes):
            for j in range(1, dim + 1):
                h = int(hashlib.md5(f"{t}|{p}|{j}".encode()).hexdigest()[:8], 16)
                P[t, p, j - 1] = (h % 1000001) / 500000.0 - 1.0
    return P


def md5_planes_df(spark, dim: int, n_planes: int, n_tables: int) -> DataFrame:
    """The same w(t,p,j) as ``md5_plane_weights`` but derived NATIVELY in
    Spark SQL (conv/substring/md5 — byte-for-byte the DuckDB oracle's
    formula) and assembled into a (t, p, plane: array<double>) relation
    of n_tables*n_planes rows. No Python RDD, no literal arrays in the
    query plan: the relation is computed JVM-side and broadcast (~tens of
    KB). array_sort on struct(j, w) pins element order before the
    collect_list, so the plane arrays are deterministic."""
    w = (
        F.conv(
            F.substring(F.md5(F.concat_ws("|", "t", "p", "j")), 1, 8), 16, 10
        ).cast("long")
        % 1000001
    ) / 500000.0 - 1.0
    # one flat range → (t, p, j) by integer div/mod: no crossJoin, so no
    # CartesianProduct node anywhere in downstream plans
    return (
        spark.range(n_tables * n_planes * dim)
        .select(
            F.expr(f"id div {n_planes * dim}").alias("t"),
            F.expr(f"(id div {dim}) % {n_planes}").alias("p"),
            F.expr(f"id % {dim} + 1").alias("j"),
        )
        .select("t", "p", "j", w.alias("w"))
        .groupBy("t", "p")
        .agg(F.array_sort(F.collect_list(F.struct("j", "w"))).alias("_jw"))
        .select(
            "t", "p", F.transform("_jw", lambda s: s["w"]).alias("plane")
        )
    )


def _ordered_dots(M: np.ndarray, P: np.ndarray) -> np.ndarray:
    """acc[r, k] = fold over j of (acc + M[r, j] * P[k, j]) in ELEMENT
    ORDER: each step is one IEEE-754 double multiply (rounded) followed by
    one add (rounded), the exact sequence ``dot_cols``' aggregate fold
    executes in the JVM and the DuckDB oracles execute via
    ``sum(x * w ORDER BY i)`` — so the result is bit-identical to both.
    A BLAS matmul (pairwise/blocked summation) would NOT be; that is why
    this loops over the dimension instead of calling ``M @ P.T``."""
    acc = np.zeros((M.shape[0], P.shape[0]))
    for j in range(M.shape[1]):
        acc += M[:, j, None] * P[None, :, j]
    return acc


def _ordered_norms(X: np.ndarray) -> np.ndarray:
    """sqrt of the element-ordered fold of squares — bit-identical to
    ``norm_col`` (and DuckDB ``sqrt(sum(x*x ORDER BY i))``)."""
    acc = np.zeros(X.shape[0])
    for j in range(X.shape[1]):
        xj = X[:, j]
        acc += xj * xj
    return np.sqrt(acc)


def _emb_matrix(col: pd.Series) -> np.ndarray:
    """Arrow array<float> column → (B, dim) float64 matrix. float32 →
    float64 widening is exact, matching the JVM's cast(x as double)."""
    return np.stack(col.to_numpy()).astype(np.float64)


# Two-phase exact cosine (guide §1.2: make the per-task kernel fast without
# changing the answer): phase 1 scores candidates with a BLAS matmul —
# 10-30× faster than the element-ordered loop but differently rounded;
# phase 2 re-scores only DECISION-BORDER pairs with the element-ordered
# fold. Both phases round the same 64-term product sum, and Cauchy-Schwarz
# bounds Σ|a_i·b_i| ≤ ‖a‖‖b‖, so |c_blas − c_seq| ≤ ~2·dim·2⁻⁵³ ≈ 1.4e-14
# at dim 64. EPS_COS = 1e-9 leaves five orders of magnitude of slack: any
# comparison decided OUTSIDE the ±EPS band is decided identically by both
# roundings, and comparisons inside the band are recomputed with the exact
# fold — so every published decision is the element-ordered (oracle) one;
# BLAS only prunes.
EPS_COS = 1e-9


def _ordered_pair_dots(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """Row-paired element-ordered dots: out[r] = fold_j(acc + A[r,j]*B[r,j])
    — the bit-exact sequence of ``dot_cols`` for a batch of pairs."""
    acc = np.zeros(A.shape[0])
    for j in range(A.shape[1]):
        acc += A[:, j] * B[:, j]
    return acc


def _merge_topk(scored: DataFrame, k: int) -> DataFrame:
    """Per-query merge of bucket/list-local candidates into the final
    (query_id, neighbor_id, rnk): dedup (duplicates of a pair carry
    bit-identical exact cosines), order by (cosine desc, neighbor_id),
    keep k, rank 1..k — the applyInPandas form of distinct + row_number
    window, with ONE exchange on query_id instead of a distinct exchange
    plus a window exchange + global sort (guide §2.4)."""

    def merge(pdf: pd.DataFrame) -> pd.DataFrame:
        d = pdf.drop_duplicates("neighbor_id")
        order = np.lexsort(
            (d["neighbor_id"].to_numpy(), -d["cosine"].to_numpy())
        )[:k]
        dd = d.iloc[order]
        return pd.DataFrame(
            {
                "query_id": dd["query_id"].to_numpy(),
                "neighbor_id": dd["neighbor_id"].to_numpy(),
                "rnk": np.arange(1, len(dd) + 1, dtype=np.int32),
            }
        )

    return scored.groupBy("query_id").applyInPandas(
        merge, schema="query_id long, neighbor_id long, rnk int"
    )


def md5_lsh_codes_arrow(
    vectors: DataFrame,
    n_planes: int,
    n_tables: int,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    carry_emb: bool = False,
) -> DataFrame:
    """The SAME (id, bucket) relation as ``md5_lsh_codes`` (pinned equal in
    tests/test_similarity.py) derived in ONE Arrow pass instead of an
    ×(n_tables·n_planes) explode + broadcast plane join + (id, t)
    aggregation exchange: the planes come from ``md5_plane_weights`` (the
    identical md5 formula ``md5_planes_df`` derives JVM-side — pinned equal
    in tests), each batch runs the element-ordered double accumulation of
    ``_ordered_dots`` (bit-identical to the aggregate fold, so every bucket
    bit matches the DuckDB oracle), and the n_tables buckets per vector are
    emitted directly. Guide §4.2: the per-(vector, plane) lambda folds were
    CodegenFallback (interpreted per row); here the whole code derivation
    is a handful of vectorized numpy passes with zero JVM shuffles.

    Only (id, bucket) crosses back out of Python — numeric columns take
    Arrow's fast path. ``carry_emb=True`` (test-only) also carries the
    embedding per emitted row; callers that need embeddings downstream
    join them back JVM-side instead, because building the ×n_tables
    object-array column in pandas and re-serializing it to Arrow costs
    more than the whole code derivation (measured ~12 s vs ~1.5 s at
    sf1.0 for the 40-table ANN codes)."""
    dim = len(vectors.select(emb_col).first()[0])
    planes = md5_plane_weights(dim, n_planes, n_tables).reshape(
        n_tables * n_planes, dim
    )
    wts = (1 << np.arange(n_planes)).astype(np.int64)
    toff = (np.arange(n_tables, dtype=np.int64) << n_planes)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            M = _emb_matrix(pdf[emb_col])
            bits = (_ordered_dots(M, planes) > 0).reshape(
                len(M), n_tables, n_planes
            )
            buckets = (bits * wts).sum(axis=2, dtype=np.int64) + toff[None, :]
            out = {
                id_col: np.repeat(pdf[id_col].to_numpy(), n_tables),
                "bucket": buckets.ravel(),
            }
            if carry_emb:
                out[emb_col] = pdf[emb_col].to_numpy().repeat(n_tables)
            yield pd.DataFrame(out)

    schema = f"{id_col} long, bucket long"
    if carry_emb:
        schema += f", {emb_col} array<float>"
    # hash-spread before the Arrow pass: the corpus parquet has only 1-2
    # row groups, so the bare scan would run the whole kernel in 1-2
    # tasks (tables.load_spread rationale); one tiny exchange buys
    # full-parallel code derivation
    spread = vectors.select(id_col, emb_col).repartition(
        vectors.sparkSession.sparkContext.defaultParallelism, id_col
    )
    return spread.mapInPandas(gen, schema=schema)


def md5_lsh_codes(
    vectors: DataFrame,
    n_planes: int,
    n_tables: int,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """(id, bucket) LSH codes from the md5-derived hyperplanes — the
    shared kernel of ``neardup_pairs_lsh`` and ``ann_topk_lsh``. One
    bucket per hash table per vector; bucket ids are disjoint across
    tables (table id in the high bits). Plan shape: explode ×(n_tables ·
    n_planes), broadcast plane join, ordered float fold per (vector,
    plane), then an integer bit-sum per (vector, table) — every float
    step element-ordered so the DuckDB oracle is bit-identical."""
    spark = vectors.sparkSession
    dim = len(vectors.select(emb_col).first()[0])
    planes = md5_planes_df(spark, dim, n_planes, n_tables)
    n_codes = n_tables * n_planes

    v = vectors.select(F.col(id_col), F.col(emb_col))
    fan = v.select(
        id_col,
        emb_col,
        F.explode(F.sequence(F.lit(0), F.lit(n_codes - 1))).alias("_tp"),
    ).select(
        id_col,
        emb_col,
        (F.col("_tp") / n_planes).cast("long").alias("t"),
        (F.col("_tp") % n_planes).cast("long").alias("p"),
    )
    dots = fan.join(F.broadcast(planes), ["t", "p"]).select(
        id_col, "t", "p", dot_cols(F.col(emb_col), F.col("plane")).alias("d")
    )
    return (
        dots.groupBy(id_col, "t")
        .agg(
            F.sum(
                F.when(
                    F.col("d") > 0,
                    F.expr("shiftleft(cast(1 as bigint), cast(p as int))"),
                ).otherwise(F.lit(0).cast("long"))
            ).alias("bits")
        )
        .select(
            F.col(id_col),
            (F.shiftleft(F.col("t").cast("long"), n_planes) + F.col("bits")).alias(
                "bucket"
            ),
        )
    )


def neardup_pairs_lsh(
    vectors: DataFrame,
    threshold: float = NEARDUP_THRESHOLD,
    n_planes: int = NEARDUP_PLANES,
    n_tables: int = NEARDUP_TABLES,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Near-duplicate pairs via LSH buckets + exact cosine verify — the
    100-TB-shaped replacement for the all-pairs crossJoin: vectors explode
    into one bucket per hash table, pairs come from an EQUI-join on the
    bucket key (shuffle-hash/sort-merge, never CartesianProduct), and only
    bucket-co-resident pairs pay the exact-cosine fold.

    Every arithmetic step folds in element order as doubles (F.aggregate,
    mirrored by DuckDB sum(... ORDER BY)), so candidate sets and the final
    threshold cut are bit-identical cross-engine.

    Parameters are an honest recall/cost dial, measured not assumed
    (tests/test_similarity.py): on the driver's structureless corpus the
    defaults give recall 0.93 vs brute force at sf0.1; on clustered real
    corpora (planted-dup test) the same operator prunes >90% of pairs.

    Plan shape (r6, guide §2.3/§2.4/§4.2): codes come from the one-pass
    Arrow kernel ``md5_lsh_codes_arrow`` with the embedding carried on
    each (id, bucket) row, ONE exchange groups the rows by bucket, and a
    per-bucket Arrow verify computes every co-resident pair's exact
    element-ordered cosine and emits only the survivors — verify-first,
    then a distinct over the (small) surviving pair set. The r5 shape
    planned the expensive codes subtree TWICE (one per self-join side),
    shuffled the full O(Σ s²) candidate incidence set through a distinct
    exchange, and paid an interpreted (CodegenFallback) lambda fold per
    surviving pair; this shape derives codes once, never exchanges the
    quadratic pair set (pairs are generated AND verified inside the
    bucket group), and the only wide shuffle is n_tables·N code rows.
    Every float op keeps the element order, so the survivor set is
    bit-identical to the r5 plan and the DuckDB oracle."""
    codes = md5_lsh_codes_arrow(vectors, n_planes, n_tables, id_col, emb_col)
    codes = codes.join(vectors.select(id_col, emb_col), id_col)

    def verify(pdf: pd.DataFrame) -> pd.DataFrame:
        s = len(pdf)
        empty = pd.DataFrame(
            {"vec_a": np.array([], np.int64), "vec_b": np.array([], np.int64)}
        )
        if s < 2:
            return empty
        order = np.argsort(pdf[id_col].to_numpy(), kind="stable")
        ids = pdf[id_col].to_numpy()[order]
        X = _emb_matrix(pdf[emb_col])[order]
        nr = _ordered_norms(X)
        out_a, out_b = [], []
        # row blocks bound the (block × s) pair matrix; members are sorted
        # by id so (i, j > i) is exactly (vec_a < vec_b)
        blk = max(1, 4_000_000 // s)
        for i0 in range(0, s - 1, blk):
            i1 = min(i0 + blk, s)
            # phase 1: BLAS scores; sure decisions taken directly
            cos = (X[i0:i1] @ X.T) / (nr[i0:i1, None] * nr[None, :])
            keep = cos >= threshold
            # phase 2: the ±EPS_COS band re-decided with the exact fold
            ba, bb = np.nonzero(np.abs(cos - threshold) <= EPS_COS)
            if len(ba):
                exact = _ordered_pair_dots(X[ba + i0], X[bb]) / (
                    nr[ba + i0] * nr[bb]
                )
                keep[ba, bb] = exact >= threshold
            ia, ib = np.nonzero(keep)
            tri = (ia + i0) < ib  # upper triangle only
            out_a.append(ids[ia[tri] + i0])
            out_b.append(ids[ib[tri]])
        if not out_a:
            return empty
        return pd.DataFrame(
            {"vec_a": np.concatenate(out_a), "vec_b": np.concatenate(out_b)}
        )

    pairs = codes.groupBy("bucket").applyInPandas(
        verify, schema="vec_a long, vec_b long"
    )
    return pairs.distinct()


def neardup_oracle_sql(
    threshold: float = NEARDUP_THRESHOLD,
    n_planes: int = NEARDUP_PLANES,
    n_tables: int = NEARDUP_TABLES,
) -> str:
    """DuckDB oracle mirroring neardup_pairs_lsh's exact bucket math —
    planes re-derived from md5 in SQL, dots folded in element order."""
    return f"""
    WITH ex AS (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
           FROM embeddings, LATERAL unnest(generate_series(1, len(embedding))) AS t(i)),
    dims AS (SELECT DISTINCT i AS j FROM ex),
    planes AS (
      SELECT t, p, j,
             (CAST(concat('0x', substr(md5(concat(t, '|', p, '|', j)), 1, 8)) AS BIGINT)
              % 1000001) / 500000.0 - 1.0 AS w
      FROM generate_series(0, {n_tables - 1}) AS tt(t),
           generate_series(0, {n_planes - 1}) AS pp(p),
           dims),
    nrm AS (SELECT vec_id, sqrt(sum(x * x ORDER BY i)) AS nr FROM ex GROUP BY vec_id),
    dots AS (SELECT e.vec_id, pl.t, pl.p, sum(e.x * pl.w ORDER BY e.i) AS d
             FROM ex e JOIN planes pl ON pl.j = e.i
             GROUP BY e.vec_id, pl.t, pl.p),
    codes AS (SELECT vec_id, t,
                     sum(CASE WHEN d > 0 THEN (1::BIGINT << p) ELSE 0 END)
                       + (t::BIGINT << {n_planes}) AS bucket
              FROM dots GROUP BY vec_id, t),
    cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
             FROM codes a JOIN codes b ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
    dotp AS (SELECT c.vec_a, c.vec_b, sum(ea.x * eb.x ORDER BY ea.i) AS dot
             FROM cand c
             JOIN ex ea ON ea.vec_id = c.vec_a
             JOIN ex eb ON eb.vec_id = c.vec_b AND eb.i = ea.i
             GROUP BY c.vec_a, c.vec_b)
    SELECT vec_a, vec_b
    FROM dotp JOIN nrm na ON na.vec_id = vec_a JOIN nrm nb ON nb.vec_id = vec_b
    WHERE dot / (na.nr * nb.nr) >= {threshold}
    """


def ann_topk_lsh(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = ANN_PLANES,
    n_tables: int = ANN_TABLES,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k with the ORACLE-MIRRORABLE md5-plane LSH — the
    registered ANN operator (the crossJoin ``brute_force_topk`` is the
    test-side recall reference only, the same split as
    ``neardup_pairs_lsh`` vs ``embedding_neardup_bruteforce``).

    The expensive codes relation (n_tables plane-fold dots per vector) is
    computed ONCE: instead of a codes⨝codes self-join (which plans the
    md5-plane aggregation subtree twice, once per side), each bucket is
    grouped into a member array with its resident query ids flagged, and
    candidates come from a double explode of (queries × members) within
    the bucket — identical candidate set, half the code-derivation cost,
    and still never a CartesianProduct (asserted in tests/test_plans.py).
    Per-bucket arrays are bounded by bucket size = N / 2^n_planes per
    table; at 10^10 rows raise ``n_planes`` (and tables with it) so the
    bucket granularity tracks N — the same degenerate-bucket dial as
    ``dedupe.max_bucket_size``. Only bucket-co-resident pairs pay the
    exact ordered-fold cosine. Recall vs brute force is measured in
    tests/test_similarity.py (>=0.9 floor; 0.970 at the defaults), not
    assumed.

    Output: (query_id, neighbor_id, rnk) — rnk by (cosine desc, id), may
    yield < k rows for a query whose buckets are sparse (oracle agrees).

    Plan shape (r6, guide §2.3/§4.2): the one-pass Arrow code kernel
    (``md5_lsh_codes_arrow``, embeddings carried) replaces the ×(T·P)
    explode + plane join + (id, t) exchange; resident query ids are
    flagged with one broadcast join; and a per-bucket Arrow stage scores
    every (resident query × member) pair with the element-ordered cosine
    directly — no candidate-id distinct + embedding re-join + interpreted
    per-pair fold. Duplicate (query, neighbor) candidates from different
    tables carry bit-identical cosines, so one distinct on the scored
    rows before the top-k window preserves exact r5/oracle semantics."""
    codes = md5_lsh_codes_arrow(vectors, n_planes, n_tables, id_col, emb_col)
    codes = codes.join(vectors.select(id_col, emb_col), id_col)
    qids = queries.select(F.col(id_col)).withColumn("_isq", F.lit(1))
    marked = codes.join(qids, id_col, "left")

    def score(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "query_id": np.array([], np.int64),
                "neighbor_id": np.array([], np.int64),
                "cosine": np.array([], np.float64),
            }
        )
        qmask = pdf["_isq"].notna().to_numpy()
        if not qmask.any() or len(pdf) < 2:
            return empty
        ids = pdf[id_col].to_numpy()
        X = _emb_matrix(pdf[emb_col])
        nr = _ordered_norms(X)
        qidx = np.nonzero(qmask)[0]
        # phase 1 (BLAS) prunes each resident query's bucket candidates to
        # a superset of its exact top-k: the k-th largest BLAS score minus
        # EPS_COS lower-bounds the k-th largest exact score, so nothing
        # the exact ordering would rank ≤ k is dropped
        cos = (X[qidx] @ X.T) / (nr[qidx, None] * nr[None, :])
        cos[ids[qidx, None] == ids[None, :]] = -np.inf  # self-pairs
        sel_q, sel_v = [], []
        for r in range(len(qidx)):
            row = cos[r]
            if len(row) > k:
                kth = np.partition(row, -k)[-k]
                keep = np.nonzero(row >= kth - EPS_COS)[0]
            else:
                keep = np.nonzero(row > -np.inf)[0]
            sel_q.append(np.full(len(keep), qidx[r]))
            sel_v.append(keep)
        iq = np.concatenate(sel_q)
        iv = np.concatenate(sel_v)
        if not len(iq):
            return empty
        # phase 2: the emitted survivors carry the EXACT element-ordered
        # cosine — bit-identical across buckets (the global merge dedups
        # on it) and to the oracle's ordering
        exact = _ordered_pair_dots(X[iq], X[iv]) / (nr[iq] * nr[iv])
        return pd.DataFrame(
            {
                "query_id": ids[iq],
                "neighbor_id": ids[iv],
                "cosine": exact,
            }
        )

    scored = marked.groupBy("bucket").applyInPandas(
        score, schema="query_id long, neighbor_id long, cosine double"
    )
    return _merge_topk(scored, k)


def ann_topk_oracle_sql(
    k: int = 5,
    query_every: int = 50,
    n_planes: int = ANN_PLANES,
    n_tables: int = ANN_TABLES,
) -> str:
    """DuckDB oracle for ``ann_topk_lsh`` with queries = vec_id %
    query_every == 0 — identical md5-plane bucket math and element-ordered
    float folds as ``neardup_oracle_sql``, then the top-k window."""
    return f"""
    WITH ex AS (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
           FROM embeddings, LATERAL unnest(generate_series(1, len(embedding))) AS t(i)),
    dims AS (SELECT DISTINCT i AS j FROM ex),
    planes AS (
      SELECT t, p, j,
             (CAST(concat('0x', substr(md5(concat(t, '|', p, '|', j)), 1, 8)) AS BIGINT)
              % 1000001) / 500000.0 - 1.0 AS w
      FROM generate_series(0, {n_tables - 1}) AS tt(t),
           generate_series(0, {n_planes - 1}) AS pp(p),
           dims),
    nrm AS (SELECT vec_id, sqrt(sum(x * x ORDER BY i)) AS nr FROM ex GROUP BY vec_id),
    dots AS (SELECT e.vec_id, pl.t, pl.p, sum(e.x * pl.w ORDER BY e.i) AS d
             FROM ex e JOIN planes pl ON pl.j = e.i
             GROUP BY e.vec_id, pl.t, pl.p),
    codes AS (SELECT vec_id, t,
                     sum(CASE WHEN d > 0 THEN (1::BIGINT << p) ELSE 0 END)
                       + (t::BIGINT << {n_planes}) AS bucket
              FROM dots GROUP BY vec_id, t),
    cand AS (SELECT DISTINCT q.vec_id AS query_id, v.vec_id AS neighbor_id
             FROM codes q JOIN codes v
               ON q.bucket = v.bucket AND q.vec_id != v.vec_id
             WHERE q.vec_id % {query_every} = 0),
    dotp AS (SELECT c.query_id, c.neighbor_id, sum(ea.x * eb.x ORDER BY ea.i) AS dot
             FROM cand c
             JOIN ex ea ON ea.vec_id = c.query_id
             JOIN ex eb ON eb.vec_id = c.neighbor_id AND eb.i = ea.i
             GROUP BY c.query_id, c.neighbor_id),
    scored AS (SELECT query_id, neighbor_id, dot / (na.nr * nb.nr) AS c
               FROM dotp JOIN nrm na ON na.vec_id = query_id
                         JOIN nrm nb ON nb.vec_id = neighbor_id)
    SELECT query_id, neighbor_id, CAST(rnk AS INT) AS rnk
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY c DESC, neighbor_id) AS rnk
          FROM scored)
    WHERE rnk <= {k}
    """


def brute_force_topk_numpy(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """BLAS-kernel variant: broadcast the query matrix, one numpy matmul
    per Arrow batch. Same (query_id, neighbor_id, rnk) contract as
    brute_force_topk except scores are float32-accumulated — used for
    throughput benchmarking."""
    spark = vectors.sparkSession
    qrows = queries.select(id_col, emb_col).collect()
    qids = np.array([r[0] for r in qrows])
    qm = np.stack([np.asarray(r[1], dtype=np.float64) for r in qrows])
    qn = qm / np.linalg.norm(qm, axis=1, keepdims=True)
    bc = spark.sparkContext.broadcast((qids, qn))

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        qids_, qn_ = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            vm = np.stack(pdf[emb_col].map(lambda e: np.asarray(e, np.float64)))
            vn = vm / np.linalg.norm(vm, axis=1, keepdims=True)
            sims = qn_ @ vn.T  # (Q, B)
            nid = pdf[id_col].to_numpy()
            out = {
                "query_id": np.repeat(qids_, len(nid)),
                "neighbor_id": np.tile(nid, len(qids_)),
                "cosine": sims.ravel(),
            }
            yield pd.DataFrame(out)

    scored = vectors.select(id_col, emb_col).mapInPandas(
        score, schema="query_id long, neighbor_id long, cosine double"
    ).filter(F.col("query_id") != F.col("neighbor_id"))
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "rnk")
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the coarse-quantizer scale path
# ---------------------------------------------------------------------------
# Deterministic, oracle-mirrorable IVF: centroids are the n_centroids
# corpus vectors with the smallest md5(vec_id) (a seedless pseudo-random
# sample both engines can reproduce — the same md5 trick as the LSH
# planes), every vector joins the inverted list of its nearest centroid,
# and a query probes its n_probe nearest lists. Unlike LSH (which needs
# no training but pays multi-table code derivation), IVF pays one
# N×C broadcast nested-loop assignment and then each query scans
# ~n_probe/C of the corpus — the classic FAISS IVF-flat trade
# (Johnson et al., "Billion-scale similarity search with GPUs").
IVF_CENTROIDS = 16
IVF_PROBE = 4


def ivf_centroids(
    vectors: DataFrame,
    n_centroids: int = IVF_CENTROIDS,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """The deterministic coarse quantizer: corpus vectors ordered by
    md5(id). At 10^10 rows this is a TakeOrdered over a one-column
    projection — no shuffle of the embeddings themselves."""
    return (
        vectors.select(
            F.col(id_col).alias("cid"),
            F.col(emb_col).alias("emb_c"),
            norm_col(F.col(emb_col)).alias("norm_c"),
        )
        .orderBy(F.md5(F.col("cid").cast("string")), "cid")
        .limit(n_centroids)
    )


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = IVF_CENTROIDS,
    n_probe: int = IVF_PROBE,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """IVF-flat approximate top-k. Output contract identical to
    ``ann_topk_lsh``: (query_id, neighbor_id, rnk), rnk by (cosine desc,
    neighbor id), possibly < k rows for sparse probes.

    Scale shape: the corpus is never shuffled wide — one Arrow pass
    assigns vectors, one per-list stage scores probes. At 10^10 raise
    n_centroids ~ √N and materialize the corpus with
    ``ivf_write_bucketed`` (partitioned by ``cid``) so probes prune at
    file listing via ``ivf_topk_bucketed`` — same listing-time method as
    the frontier's lineage buckets (tests/test_ivf_bucketed.py).

    Plan shape (r6, guide 4.2): the C centroid rows are a driver-bounded
    collect (C ~ √N at scale — the same bound as ``ivf_topk_bucketed``'s
    probed-cid collect); ONE Arrow pass over the corpus computes every
    vector's element-ordered centroid similarities, its argmin assignment
    (ties to the smaller cid) and — for resident query rows, flagged by a
    broadcast join — its n_probe probe lists; a per-cid Arrow stage then
    scores (probing query × list member) pairs exactly. This replaces the
    r5 shape's two broadcast nested-loop expansions (N·C interpreted
    lambda folds), the max_by sort-aggregate exchange, and the per-pair
    verify joins. Each vector lives in exactly one list, so no distinct
    is needed; every float fold keeps element order, so assignments,
    probes and cosines are bit-identical to r5 and the oracle."""
    crows = sorted(
        ivf_centroids(vectors, n_centroids, id_col, emb_col)
        .select("cid", "emb_c")
        .collect(),
        key=lambda r: r[0],
    )
    cids = np.array([r[0] for r in crows], np.int64)
    C = np.stack([np.asarray(r[1], np.float64) for r in crows])
    nc = _ordered_norms(C)
    qids = queries.select(F.col(id_col)).withColumn("_isq", F.lit(1))
    # hash-spread for the same 1-2-row-group reason as md5_lsh_codes_arrow
    marked = (
        vectors.select(id_col, emb_col)
        .repartition(
            vectors.sparkSession.sparkContext.defaultParallelism, id_col
        )
        .join(qids, id_col, "left")
    )

    def assign_and_probe(
        batches: Iterator[pd.DataFrame],
    ) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            M = _emb_matrix(pdf[emb_col])
            nr = _ordered_norms(M)
            cs = _ordered_dots(M, C) / (nr[:, None] * nc[None, :])
            # centroid columns are cid-ascending, argmax takes the FIRST
            # max → ties break toward the smaller cid (= max_by struct)
            amax = cs.argmax(axis=1)
            ids = pdf[id_col].to_numpy()
            embs = pdf[emb_col].to_numpy()
            out = {
                id_col: [ids],
                emb_col: [embs],
                "cid": [cids[amax]],
                "_probe": [np.zeros(len(ids), np.int32)],
            }
            qrows = np.nonzero(pdf["_isq"].notna().to_numpy())[0]
            if len(qrows):
                # stable argsort on -cs: cs desc, ties by cid asc
                order = np.argsort(-cs[qrows], axis=1, kind="stable")
                probes = order[:, :n_probe]
                out[id_col].append(np.repeat(ids[qrows], probes.shape[1]))
                out[emb_col].append(embs[qrows].repeat(probes.shape[1]))
                out["cid"].append(cids[probes.ravel()])
                out["_probe"].append(
                    np.ones(len(qrows) * probes.shape[1], np.int32)
                )
            yield pd.DataFrame(
                {kk: np.concatenate(vv) for kk, vv in out.items()}
            )

    placed = marked.mapInPandas(
        assign_and_probe,
        schema=f"{id_col} long, {emb_col} array<float>, cid long, _probe int",
    )

    def score(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "query_id": np.array([], np.int64),
                "neighbor_id": np.array([], np.int64),
                "cosine": np.array([], np.float64),
            }
        )
        probe = pdf["_probe"].to_numpy() == 1
        if not probe.any() or probe.all():
            return empty
        ids = pdf[id_col].to_numpy()
        X = _emb_matrix(pdf[emb_col])
        nr = _ordered_norms(X)
        qidx = np.nonzero(probe)[0]
        vidx = np.nonzero(~probe)[0]
        # phase 1 (BLAS) prunes each probing query's list candidates to a
        # superset of its exact top-k (see ann_topk_lsh.score); phase 2
        # emits the exact element-ordered cosine for the survivors
        cos = (X[qidx] @ X[vidx].T) / (nr[qidx, None] * nr[vidx][None, :])
        cos[ids[qidx, None] == ids[vidx][None, :]] = -np.inf  # self-pairs
        sel_q, sel_v = [], []
        for r in range(len(qidx)):
            row = cos[r]
            if len(row) > k:
                kth = np.partition(row, -k)[-k]
                keep = np.nonzero(row >= kth - EPS_COS)[0]
            else:
                keep = np.nonzero(row > -np.inf)[0]
            sel_q.append(np.full(len(keep), qidx[r]))
            sel_v.append(vidx[keep])
        iq = np.concatenate(sel_q)
        iv = np.concatenate(sel_v)
        if not len(iq):
            return empty
        exact = _ordered_pair_dots(X[iq], X[iv]) / (nr[iq] * nr[iv])
        return pd.DataFrame(
            {
                "query_id": ids[iq],
                "neighbor_id": ids[iv],
                "cosine": exact,
            }
        )

    scored = placed.groupBy("cid").applyInPandas(
        score, schema="query_id long, neighbor_id long, cosine double"
    )
    return _merge_topk(scored, k)


def ivf_topk_oracle_sql(
    k: int = 5,
    query_every: int = 50,
    n_centroids: int = IVF_CENTROIDS,
    n_probe: int = IVF_PROBE,
) -> str:
    """DuckDB oracle for ``ivf_topk`` with queries = vec_id % query_every
    == 0 — identical md5-ordered centroid pick, element-ordered float
    folds, (cs desc, cid) tie-breaks, then the top-k window."""
    return f"""
    WITH ex AS (SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
           FROM embeddings, LATERAL unnest(generate_series(1, len(embedding))) AS t(i)),
    nrm AS (SELECT vec_id, sqrt(sum(x * x ORDER BY i)) AS nr FROM ex GROUP BY vec_id),
    cents AS (SELECT vec_id AS cid FROM embeddings
              ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {n_centroids}),
    cdot AS (SELECT e.vec_id, c.cid, sum(e.x * ec.x ORDER BY e.i) AS dot
             FROM ex e JOIN cents c ON TRUE
             JOIN ex ec ON ec.vec_id = c.cid AND ec.i = e.i
             GROUP BY e.vec_id, c.cid),
    csim AS (SELECT d.vec_id, d.cid, d.dot / (nv.nr * nc.nr) AS cs
             FROM cdot d JOIN nrm nv ON nv.vec_id = d.vec_id
                         JOIN nrm nc ON nc.vec_id = d.cid),
    assign AS (SELECT vec_id, cid FROM (
                 SELECT vec_id, cid,
                        row_number() OVER (PARTITION BY vec_id
                                           ORDER BY cs DESC, cid) AS rn
                 FROM csim) WHERE rn = 1),
    probes AS (SELECT vec_id AS query_id, cid FROM (
                 SELECT vec_id, cid,
                        row_number() OVER (PARTITION BY vec_id
                                           ORDER BY cs DESC, cid) AS rn
                 FROM csim WHERE vec_id % {query_every} = 0)
               WHERE rn <= {n_probe}),
    cand AS (SELECT p.query_id, a.vec_id AS neighbor_id
             FROM probes p JOIN assign a ON a.cid = p.cid
             WHERE a.vec_id != p.query_id),
    dotp AS (SELECT c.query_id, c.neighbor_id,
                    sum(ea.x * eb.x ORDER BY ea.i) AS dot
             FROM cand c
             JOIN ex ea ON ea.vec_id = c.query_id
             JOIN ex eb ON eb.vec_id = c.neighbor_id AND eb.i = ea.i
             GROUP BY c.query_id, c.neighbor_id),
    scored AS (SELECT query_id, neighbor_id, dot / (na.nr * nb.nr) AS c
               FROM dotp JOIN nrm na ON na.vec_id = query_id
                         JOIN nrm nb ON nb.vec_id = neighbor_id)
    SELECT query_id, neighbor_id, CAST(rnk AS INT) AS rnk
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY c DESC, neighbor_id) AS rnk
          FROM scored)
    WHERE rnk <= {k}
    """


# ---------------------------------------------------------------------------
# IVF at scale: cid-bucketed corpus materialization + probe-side file pruning
# (the "bucket the corpus table by cid so probes prune at file listing" knob
# ivf_topk's docstring promises — same listing-time method as the frontier's
# _dbucket delta partitions, plans/epoch._read_frontier_state).


def _ivf_assign(vn: DataFrame, cents: DataFrame, id_col: str, emb_col: str) -> DataFrame:
    """(id → nearest-centroid cid): broadcast nested-loop against the C
    centroid rows, then a map-side-combinable max_by argmin — the corpus
    is never shuffled (same shape as ivf_topk's inline assignment)."""
    sim = vn.crossJoin(F.broadcast(cents)).withColumn(
        "cs", dot_cols(emb_col, "emb_c") / (F.col("nr") * F.col("norm_c"))
    )
    return sim.groupBy(id_col).agg(
        F.max_by("cid", F.struct(F.col("cs"), (-F.col("cid")))).alias("cid")
    )


def ivf_write_bucketed(
    vectors: DataFrame,
    path: str,
    n_centroids: int = IVF_CENTROIDS,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> None:
    """Materialize the IVF index on disk in its 10^10 shape:

    * ``path/lists`` — (id, embedding, nr, cid) partitioned BY cid, one
      inverted list per ``cid=K`` directory, so a probe constructs its
      scan from exactly the probed directories and untouched lists are
      never even listed (file-listing pruning, not a post-scan filter);
    * ``path/centroids`` — the C coarse-quantizer rows (cid, emb_c,
      norm_c), re-read and broadcast at probe time.

    The repartition keys one task per list (C tasks) — at 10^10 rows with
    C ~ √N lists each holds ~√N vectors; a hot list splits across files
    by maxRecordsPerFile if needed, which keeps the listing-time pruning
    property."""
    import os

    cents = ivf_centroids(vectors, n_centroids, id_col, emb_col)
    vn = vectors.select(
        F.col(id_col), F.col(emb_col), norm_col(F.col(emb_col)).alias("nr")
    )
    assign = _ivf_assign(vn, cents, id_col, emb_col)
    (
        vn.join(assign, id_col)
        .repartition(n_centroids, "cid")
        .write.partitionBy("cid")
        .parquet(os.path.join(path, "lists"))
    )
    cents.write.parquet(os.path.join(path, "centroids"))


def ivf_read_lists(spark, path: str, cids: list[int]) -> DataFrame:
    """Scan ONLY the given inverted lists: the scan is built from explicit
    ``cid=K`` paths (with basePath so cid stays a column) — O(probed
    lists) files by construction. A post-scan .isin filter would list the
    whole corpus first; this never does."""
    import os

    lists_root = os.path.join(path, "lists")
    sub = [
        os.path.join(lists_root, f"cid={c}")
        for c in sorted({int(c) for c in cids})
        if os.path.isdir(os.path.join(lists_root, f"cid={c}"))
    ]
    if not sub:  # no probed list materialized → empty frame, full schema
        return spark.read.parquet(lists_root).limit(0)
    return spark.read.option("basePath", lists_root).parquet(*sub)


def ivf_topk_bucketed(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = IVF_PROBE,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """``ivf_topk`` against the on-disk bucketed index: identical output
    contract (query_id, neighbor_id, rnk) and identical results for the
    same corpus/centroids (pinned in tests/test_ivf_bucketed.py), but the
    corpus scan touches only the probed ``cid=K`` directories.

    ``queries`` must carry (id_col, emb_col). The only collect is the
    distinct probed-cid set — ≤ C ints (C ~ √N at scale: driver-bounded,
    it is the path list for the pruned scan)."""
    import os

    cents = F.broadcast(spark.read.parquet(os.path.join(path, "centroids")))
    qn = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(emb_col).alias("emb_q"),
        norm_col(F.col(emb_col)).alias("norm_q"),
    )
    qsim = qn.crossJoin(cents).withColumn(
        "cs", dot_cols("emb_q", "emb_c") / (F.col("norm_q") * F.col("norm_c"))
    )
    wq = W.partitionBy("query_id").orderBy(F.col("cs").desc(), F.col("cid"))
    probes = (
        qsim.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= n_probe)
        .select("query_id", "cid", "emb_q", "norm_q")
    )
    probed = [int(r.cid) for r in probes.select("cid").distinct().collect()]
    members = ivf_read_lists(spark, path, probed).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(emb_col).alias("emb_v"),
        F.col("nr").alias("norm_v"),
        "cid",
    )
    pair = probes.join(members, "cid").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    scored = pair.withColumn(
        "cosine", dot_cols("emb_q", "emb_v") / (F.col("norm_q") * F.col("norm_v"))
    )
    w = W.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", "rnk")
    )
