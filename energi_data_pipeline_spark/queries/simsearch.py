"""Embedding similarity search over the ``embeddings`` table
(``vec_id bigint, embedding array<float>, label int``).

Two shapes (BASELINE.json north star):

* brute-force cosine top-k — the exactness baseline.  Dot products
  stay JVM-side as higher-order-function folds (zip_with +
  aggregate) — no UDF, no explode of the corpus side;
* LSH-bucketed ANN — deterministic sign-random-projection buckets
  (hyperplanes derived from the portable md5 hash, so the oracle
  reproduces them bit-for-bit); candidates only join within their
  bucket, which is the linear-scan -> sublinear trade at 100 TB.

Float determinism: elements are cast float->double (exact) before
multiplying; the fold accumulates left-to-right in Spark while
DuckDB's SUM-over-unnest order is unspecified, so cosine values are
rounded to 6 decimals on both sides and ranking ties broken by id.

Three primitives, each written once, carry the embedding family:

* :func:`_cosine` is the only cosine expression.  A zero-norm vector
  has no direction: its cosine is NULL on both engines, never a
  ``DIVIDE_BY_ZERO``.
* the IVF coarse quantizer — :func:`_ivf_assign` scores every vector
  against the broadcast stride centroids (map-only, the centroid
  table is dimension-sized), :func:`_ivf_cells` takes the cached
  per-vector argmax, and :func:`_ivf_members` joins a vector stream
  to its cell, broadcasting the corpus-proportional cell table only
  under the heap-derived byte budget (a shuffle join past it).
* the PQ code assignment — :func:`_pq_d2` scores each vector block
  against the broadcast stride codebook and :func:`_pq_codes` takes
  the per-(vector, block) argmin.

Every argmin/argmax is a min-struct aggregation: its struct order is
the oracle's ``ORDER BY`` with the id as the last field, plus a
leading is-NULL field where a NULL cosine must rank after every real
one.  It reduces map-side before the shuffle.  A struct buffer is
not hash-aggregatable, so Spark plans it as a SortAggregate: it
sorts as a rank-1 window would, without the window operators.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from ..io import spread
from . import query, register_oracle_knee
from .core import t

TOP_K = 5
QUERY_STRIDE = 50  # vec_id % 50 == 0 -> 10 queries at sf0.01
N_PLANES = 8
DIM = 64
#: plane-count scaling (round-3 verdict: a FIXED 8-plane/256-bucket
#: code caps both selectivity and reducer parallelism independent of
#: corpus size — per-probe work then grows linearly with the corpus).
#: The plane count is derived from corpus cardinality so mean bucket
#: occupancy stays ~TARGET_BUCKET_OCC: buckets (and with them shuffle
#: parallelism) grow ∝ corpus, per-bucket scan cost stays ~constant.
#: The formula floors at N_PLANES, so at every test SF (≤65k vectors)
#: it yields exactly 8 and the static DuckDB oracle is unchanged.
TARGET_BUCKET_OCC = 256
MAX_PLANES = 24


def planes_for(n_vectors: int) -> int:
    """Sign-LSH plane count for a corpus of ``n_vectors``:
    ``clamp(ceil(log2(n / TARGET_BUCKET_OCC)), N_PLANES, MAX_PLANES)``.
    8 planes through ~65k vectors (oracle-stable at test scale), then
    one extra plane per corpus doubling — 2^planes buckets keep mean
    occupancy near TARGET_BUCKET_OCC up to the 16M-bucket cap."""
    import math

    if n_vectors <= TARGET_BUCKET_OCC:
        return N_PLANES
    need = math.ceil(math.log2(n_vectors / TARGET_BUCKET_OCC))
    return min(MAX_PLANES, max(N_PLANES, need))
#: brute-force fan-out: the corpus is hash-split into this many
#: blocks and the query set is replicated once per block, turning
#: the all-pairs compare into an equi-join on the block id — no
#: broadcast of the (corpus-proportional) query sample and no
#: cartesian product.  Sized like a shuffle-partition count: it
#: bounds reducer-side work, not memory.
N_BLOCKS = 32
#: with a FIXED block count, block SIZE grows with the corpus and a
#: single reducer's nested-loop task grows unboundedly.  Blocks are
#: therefore corpus-scaled to a constant target size past the test
#: scales (block decomposition cannot change the RESULT — only how
#: the all-pairs work shards — so no oracle is affected at any SF).
BLOCK_TARGET = 1024


def blocks_for(n_vectors: int) -> int:
    """Brute-force block count: ``max(N_BLOCKS, ceil(n / BLOCK_TARGET))``
    — constant ~BLOCK_TARGET vectors per block, reducer count grows
    with the corpus (the scale-out dimension), per-task work stays
    bounded."""
    import math

    return max(N_BLOCKS, math.ceil(n_vectors / BLOCK_TARGET))

import functools


def corpus_size(sf_dir: str) -> int:
    """Row count of the embeddings corpus (parquet-footer peek, no
    Spark job).  Feeds :func:`planes_for` so the ANN bucket count
    adapts to the corpus it indexes.  Cached on (path, mtime, size)
    — not path alone — so a corpus regenerated in-place invalidates
    the cache (see :func:`..io.parquet_row_count`)."""
    import os

    from ..io import parquet_row_count

    return parquet_row_count(os.path.join(sf_dir, "embeddings.parquet"))


def _block_pairs(vec, n, **q_cols):
    """Every (strided query, corpus vector) pair of ``vec`` but the
    self-pairs, without a cartesian product: the corpus splits into
    :func:`blocks_for` ``(n)`` blocks by ``pmod(vec_id)``, each query
    is replicated once per block, and the two meet in one equi-join
    on the block id.  ``q_cols`` maps each query-side alias to its
    ``vec`` column; the query's id is ``query_id``."""
    blocks = blocks_for(n)
    corpus = vec.withColumn(
        "blk", F.pmod(F.col("vec_id"), F.lit(blocks)).cast("int"))
    queries = (vec.filter(F.col("vec_id") % QUERY_STRIDE == 0)
               .select(F.col("vec_id").alias("query_id"),
                       *[F.col(c).alias(a) for a, c in q_cols.items()])
               .withColumn("blk", F.explode(
                   F.sequence(F.lit(0), F.lit(blocks - 1)))))
    return (queries.join(corpus, "blk")
            .filter(F.col("vec_id") != F.col("query_id")))


DOT_SQL_FRAGMENT = """
  (SELECT SUM(a_e * b_e) FROM (
     SELECT CAST(UNNEST(a.embedding) AS DOUBLE) AS a_e,
            CAST(UNNEST(b.embedding) AS DOUBLE) AS b_e)) """


def _dot(a, b):
    """JVM-side dot product: zip_with multiply + aggregate fold.

    When BOTH inputs are column names (strings), the expression is
    built as ONE ``F.expr`` SQL string instead of composing pyspark
    lambda Columns: the resolved plan is identical (verified
    value-for-value), but the construction is a single py4j round
    trip where the lambda-composition path costs ~0.05s of
    driver-side build per call — the round-9 profile found the
    embedding family's bench walls dominated by plan BUILD time,
    not execution (sims_ann_lsh_bucketed: ~1.1s build vs ~0.2s
    exec at sf0.1)."""
    if isinstance(a, str) and isinstance(b, str):
        return F.expr(
            f"aggregate(zip_with({a}, {b}, (x, y) -> "
            f"CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0.0D, "
            f"(acc, x) -> acc + x)")
    prods = F.zip_with(a, b, lambda x, y: x.cast("double")
                       * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def _norm(a):
    """L2 norm; accepts a column name (fast expr-string build, see
    :func:`_dot`) or a Column."""
    return F.sqrt(_dot(a, a))


def _cosine(a, b, na, nb):
    """Cosine of embeddings ``a`` and ``b`` with norms ``na`` and
    ``nb`` (column names or Columns), rounded to 6 decimals.
    ``try_divide`` yields NULL where a norm is zero, as the oracle's
    division does; ANSI ``/`` would raise ``DIVIDE_BY_ZERO``."""
    na, nb = (F.col(x) if isinstance(x, str) else x for x in (na, nb))
    return F.round(F.try_divide(_dot(a, b), na * nb), 6)


def _ivf_assign(vec, n):
    """The scored coarse-quantizer stream ``(vec_id, cent_id, c_cos)``
    of ``vec`` (``vec_id, embedding, nrm``; ``n`` vectors): every
    vector against the centroids, every ``cent_stride_for(n)``-th
    vector.  The centroid table is dimension-sized and broadcasts
    onto the corpus, so the assignment is map-only."""
    cent = vec.filter(F.col("vec_id") % cent_stride_for(n) == 0).select(
        F.col("vec_id").alias("cent_id"),
        F.col("embedding").alias("c_emb"),
        F.col("nrm").alias("c_nrm"))
    return (vec.crossJoin(F.broadcast(cent))
            .select("vec_id", "cent_id",
                    _cosine("embedding", "c_emb", "nrm", "c_nrm")
                    .alias("c_cos")))


def _ivf_cells(vec, n):
    """Cached ``(vec_id, cell_id)``: each vector's nearest centroid.
    The min-struct on ``(c_cos IS NULL, -c_cos, cent_id)`` is the
    oracle's ``ORDER BY cosine DESC, cent_id`` rk=1 row: a NULL
    cosine ranks after every real one, and a vector with no real
    cosine falls to the lowest ``cent_id``.  Cached, so every
    consumer reads one assignment pass."""
    return (_ivf_assign(vec, n)
            .groupBy("vec_id")
            .agg(F.min(F.struct(F.col("c_cos").isNull().alias("none"),
                                (-F.col("c_cos")).alias("nc"),
                                F.col("cent_id").alias("c"))).alias("b"))
            .select("vec_id", F.col("b.c").alias("cell_id"))
            .cache())


def _ivf_members(rows, cell, n):
    """``rows`` (keyed by ``vec_id``) joined to their ``cell``.  The
    cell table is corpus-proportional (about 48 bytes a vector), so
    it goes through :func:`io.broadcast_within_budget` at ``n`` such
    rows."""
    from ..io import broadcast_within_budget

    return rows.join(broadcast_within_budget(cell, n * 48), "vec_id")


def _block_d2(a_sub, b_sub):
    """Exact squared L2 distance between two sub-vectors, JVM-side."""
    diffs = F.zip_with(
        a_sub, b_sub,
        lambda x, y: (x.cast("double") - y.cast("double"))
        * (x.cast("double") - y.cast("double")))
    return F.round(
        F.aggregate(diffs, F.lit(0.0), lambda acc, x: acc + x), 6)


def _pq_d2(vec, n, queries=False):
    """Block distances ``(vec_id, m, cent_id, d2)`` of every vector of
    ``vec`` (``vec_id, embedding``; ``n`` vectors) — of the query
    sample only when ``queries`` — to the codebook: every
    ``cb_stride_for(n)``-th vector, one centroid per block.  The
    codebook is bounded by construction and broadcasts."""
    blocks = F.explode(F.sequence(F.lit(0), F.lit(M_BLOCKS - 1)))
    # one row per (vector, block): slice indexes are 1-based
    sub = F.expr(f"slice(embedding, m * {BLOCK_DIM} + 1, {BLOCK_DIM})")
    pcent = (vec.filter(F.col("vec_id") % cb_stride_for(n) == 0)
             .withColumn("m", blocks)
             .select(F.col("vec_id").alias("cent_id"), "m",
                     sub.alias("c_sub")))
    rows = vec.filter(F.col("vec_id") % QUERY_STRIDE == 0) \
        if queries else vec
    return (rows.withColumn("m", blocks)
            .select("vec_id", "m", sub.alias("sub"))
            .join(F.broadcast(pcent), "m")
            .select("vec_id", "m", "cent_id",
                    _block_d2(F.col("sub"), F.col("c_sub")).alias("d2")))


def _pq_codes(vec, n):
    """Each vector's PQ code ``(vec_id, m, cent_id, d2)``: per block,
    the min-struct on ``(d2, cent_id)`` — the oracle's
    ``ORDER BY d2, cent_id`` rk=1 row, combined map-side."""
    return (_pq_d2(vec, n)
            .groupBy("vec_id", "m")
            .agg(F.min(F.struct(F.col("d2").alias("d"),
                                F.col("cent_id").alias("c"))).alias("b"))
            .select("vec_id", "m", F.col("b.c").alias("cent_id"),
                    F.col("b.d").alias("d2")))


COSINE_TOPK_SQL = f"""
WITH vec AS (
  SELECT vec_id, embedding,
         sqrt((SELECT SUM(CAST(e AS DOUBLE) * CAST(e AS DOUBLE))
               FROM (SELECT UNNEST(embedding) AS e))) AS nrm
  FROM embeddings),
pairs AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         ROUND((SELECT SUM(ae * be) FROM (
                  SELECT CAST(UNNEST(a.embedding) AS DOUBLE) AS ae,
                         CAST(UNNEST(b.embedding) AS DOUBLE) AS be))
               / (a.nrm * b.nrm), 6) AS cosine
  FROM vec a JOIN vec b ON b.vec_id <> a.vec_id
  WHERE a.vec_id % {QUERY_STRIDE} = 0),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id)
           AS rank
  FROM pairs)
SELECT query_id, neighbor_id, cosine, CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= {TOP_K}
"""


@query("sims_cosine_topk_bruteforce", COSINE_TOPK_SQL)
def sims_cosine_topk_bruteforce(spark, sf_dir):
    """Brute-force cosine top-k — the exactness baseline, O(Q·N) by
    definition.  The query sample is a constant fraction of the
    corpus (``vec_id % stride``), so broadcasting it would OOM the
    executors at 100 TB; instead the corpus is split into N_BLOCKS
    by ``pmod(vec_id)`` and the queries are replicated once per
    block (explode of a literal block sequence), making the
    all-pairs compare an equi-join on the block id.  Shuffle volume
    is corpus ×1 + queries ×N_BLOCKS; each reducer nested-loops one
    corpus block against the query set.  Dot products fold JVM-side;
    rank on the rounded cosine with deterministic id tie-break."""
    emb = spread(t(spark, sf_dir, "embeddings"))
    vec = emb.select(
        "vec_id", "embedding",
        _norm("embedding").alias("nrm"))
    pairs = (
        _block_pairs(vec, corpus_size(sf_dir),
                     q_emb="embedding", q_nrm="nrm")
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            _cosine("q_emb", "embedding", "q_nrm", "nrm").alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id"))
    return (pairs.withColumn("rank", F.row_number().over(w).cast("int"))
            .filter(F.col("rank") <= TOP_K))


# ---------------------------------------------------------- LSH ANN
def _plane_weight_sql(p: int) -> str:
    """±1 weight of plane p at dim i (i from the lambda scope):
    parity of the portable hash of 'p_i'."""
    return (f"(('0x' || substr(md5(CAST({p} AS VARCHAR) || '_' || "
            f"CAST(i AS VARCHAR)), 1, 14))::BIGINT % 2) * 2 - 1")


def _bucket_sql(n_planes: int = N_PLANES) -> str:
    bits = " + ".join(
        f"""(CASE WHEN (SELECT SUM(
               ({_plane_weight_sql(p)}) * CAST(embedding[i + 1] AS DOUBLE))
             FROM (SELECT UNNEST(range({DIM})) AS i)) > 0
           THEN {1 << p} ELSE 0 END)"""
        for p in range(n_planes))
    return f"({bits})"


def _plane_weights(p: int) -> list[int]:
    """±1 weight vector of hyperplane ``p``: parity of the portable
    md5 hash of ``p_i`` — the exact integers the oracle SQL derives
    with ``('0x' || substr(md5(...), 1, 14))::BIGINT % 2 * 2 - 1``."""
    import hashlib

    return [
        (int(hashlib.md5(f"{p}_{i}".encode()).hexdigest()[:14], 16)
         % 2) * 2 - 1
        for i in range(DIM)
    ]


def _bucket_col(n_planes: int = N_PLANES):
    """Spark-side sign-random-projection bucket over ``embedding``.

    The hyperplanes are deterministic, so their ±1 weights are
    precomputed DRIVER-SIDE and embedded as literal arrays: the
    per-row work is a pure zip_with/aggregate dot product — zero
    hashing at runtime (the expression-level md5 variant cost 256
    md5 calls per row).  The DuckDB oracle still derives the same
    weights from md5 in SQL, so buckets match bit-for-bit.

    The whole bucket is built as ONE ``F.expr`` SQL string — a
    single py4j round trip.  The original per-plane
    ``F.array(*[F.lit(x) ...])`` + lambda composition made ~2300
    py4j calls for the 8-plane code, which profiled as ~1.1-1.4s of
    driver-side plan BUILD per query invocation — more than the
    query's entire cluster-side execution at sf0.1 (~0.2s; the r08
    verdict's 7.9x flag on sims_ann_lsh_bucketed was mostly this).
    The resolved expressions are identical (verified
    value-for-value against the composed form), so oracle parity is
    untouched."""
    parts = []
    for p in range(n_planes):
        arr = ("array(" + ",".join(
            f"{float(x)}D" for x in _plane_weights(p)) + ")")
        proj = (f"aggregate(zip_with({arr}, embedding, "
                f"(a, b) -> a * CAST(b AS DOUBLE)), 0.0D, "
                f"(acc, x) -> acc + x)")
        parts.append(f"(CASE WHEN {proj} > 0 "
                     f"THEN {1 << p} ELSE 0 END)")
    return F.expr(
        "CAST((" + " + ".join(parts) + ") AS BIGINT)")


ANN_LSH_SQL = f"""
WITH vec AS (
  SELECT vec_id, embedding,
         sqrt((SELECT SUM(CAST(e AS DOUBLE) * CAST(e AS DOUBLE))
               FROM (SELECT UNNEST(embedding) AS e))) AS nrm,
         CAST({_bucket_sql()} AS BIGINT) AS bucket
  FROM embeddings),
pairs AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, b.bucket,
         ROUND((SELECT SUM(ae * be) FROM (
                  SELECT CAST(UNNEST(a.embedding) AS DOUBLE) AS ae,
                         CAST(UNNEST(b.embedding) AS DOUBLE) AS be))
               / (a.nrm * b.nrm), 6) AS cosine
  FROM vec a JOIN vec b
    ON a.bucket = b.bucket AND b.vec_id <> a.vec_id
  WHERE a.vec_id % {QUERY_STRIDE} = 0),
ranked AS (
  SELECT query_id, neighbor_id, bucket, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS rank
  FROM pairs)
SELECT query_id, neighbor_id, bucket, cosine,
       CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= {TOP_K}
"""


@query("sims_ann_lsh_bucketed", ANN_LSH_SQL)
def sims_ann_lsh_bucketed(spark, sf_dir):
    """Sign-random-projection ANN: deterministic hyperplanes give a
    2^planes-bucket code; neighbor search joins only within a
    bucket.  At 100 TB the bucket is the shuffle key — each reducer
    scans one bucket instead of the corpus — and the plane count is
    DERIVED from corpus cardinality (:func:`planes_for`: one plane
    per doubling past ~65k vectors) so bucket count, and with it
    probe selectivity and reducer parallelism, grows with the data
    instead of saturating at a fixed 256.  The query sample is
    corpus-proportional, so the bucket join carries no broadcast
    hint: AQE broadcasts it at runtime while it fits and falls back
    to the bucket-partitioned shuffle join beyond that."""
    emb = spread(t(spark, sf_dir, "embeddings"))
    vec = emb.select(
        "vec_id", "embedding",
        _norm("embedding").alias("nrm"),
        _bucket_col(planes_for(corpus_size(sf_dir))).alias("bucket"),
    )
    # deliberately NOT cached: vec is corpus-cardinality (a cache
    # would pin the whole corpus in executor memory at 100 TB), and
    # its recompute is a map-only projection off the scan — measured
    # marginally FASTER uncached at sf0.1 (no materialization job)
    queries = vec.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
        F.col("bucket").alias("q_bucket"),
    ).filter(F.col("query_id") % QUERY_STRIDE == 0)
    pairs = (
        queries
        .join(vec, (F.col("bucket") == F.col("q_bucket"))
              & (F.col("vec_id") != F.col("query_id")))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            "bucket",
            _cosine("q_emb", "embedding", "q_nrm", "nrm").alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id"))
    return (pairs.withColumn("rank", F.row_number().over(w).cast("int"))
            .filter(F.col("rank") <= TOP_K))


# ------------------------------------ embedding-cosine near-dup
#: coarser code than the ANN path (16 buckets, not 256): dedup wants
#: every vector to find its bucket-mates, not sublinear probe cost.
NEARDUP_PLANES = 4
#: cosine at/above which the nearest bucket-mate counts as a near-dup.
NEARDUP_T = 0.5
#: near-dup plane scaling: every vector scans its whole bucket, so
#: with a FIXED code the in-bucket pair count grows QUADRATICALLY
#: with the corpus (measured: 10x vectors -> 11x wall at 16 buckets,
#: SCALE_r04.md).  Derive planes from cardinality so mean occupancy
#: stays ~NEARDUP_OCC; floors at NEARDUP_PLANES through every test
#: SF (500 and 2000 vectors), keeping the static oracle exact there.
NEARDUP_OCC = 128


def neardup_planes(n_vectors: int) -> int:
    """Plane count for the near-dup code:
    ``clamp(ceil(log2(n / NEARDUP_OCC)), NEARDUP_PLANES, MAX_PLANES)``."""
    import math

    if n_vectors <= NEARDUP_OCC << NEARDUP_PLANES:
        return NEARDUP_PLANES
    return min(MAX_PLANES,
               math.ceil(math.log2(n_vectors / NEARDUP_OCC)))

EMB_NEARDUP_SQL = f"""
WITH vec AS (
  SELECT vec_id, embedding,
         sqrt((SELECT SUM(CAST(e AS DOUBLE) * CAST(e AS DOUBLE))
               FROM (SELECT UNNEST(embedding) AS e))) AS nrm,
         CAST({_bucket_sql(NEARDUP_PLANES)} AS BIGINT) AS bucket
  FROM embeddings),
pairs AS (
  SELECT a.vec_id, b.vec_id AS neighbor_id,
         ROUND((SELECT SUM(ae * be) FROM (
                  SELECT CAST(UNNEST(a.embedding) AS DOUBLE) AS ae,
                         CAST(UNNEST(b.embedding) AS DOUBLE) AS be))
               / (a.nrm * b.nrm), 6) AS cosine
  FROM vec a JOIN vec b
    ON a.bucket = b.bucket AND b.vec_id <> a.vec_id),
ranked AS (
  SELECT vec_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY cosine DESC, neighbor_id) AS rk
  FROM pairs)
SELECT vec_id, neighbor_id, cosine,
       cosine >= {NEARDUP_T} AS is_near_dup
FROM ranked WHERE rk = 1
"""


@query("dedup_embedding_cosine", EMB_NEARDUP_SQL)
def dedup_embedding_cosine(spark, sf_dir):
    """Embedding-cosine near-dup (dedup family, BASELINE.json north
    star): nearest bucket-mate per vector by rounded cosine, flagged
    ``is_near_dup`` at the threshold.  A coarse corpus-scaled
    sign-LSH code (4 planes at test scale, ``neardup_planes``)
    blocks the pair space — at 100 TB the bucket is the shuffle key
    and each reducer scans one bucket, never the corpus; the exact
    all-pairs compare only ever happens inside a bucket.  Vectors
    alone in their bucket have no near-dup candidate and drop out
    (their nearest neighbor is below any useful threshold anyway)."""
    emb = spread(t(spark, sf_dir, "embeddings"))
    # norm + bucket feed both sides of the self-join — compute once
    vec = emb.select(
        "vec_id", "embedding",
        _norm("embedding").alias("nrm"),
        _bucket_col(neardup_planes(corpus_size(sf_dir))).alias("bucket"),
    ).cache()
    other = vec.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("n_emb"),
        F.col("nrm").alias("n_nrm"),
        F.col("bucket").alias("n_bucket"),
    )
    pairs = (
        vec.join(other, (F.col("bucket") == F.col("n_bucket"))
                 & (F.col("neighbor_id") != F.col("vec_id")))
        .select(
            "vec_id", "neighbor_id",
            _cosine("embedding", "n_emb", "nrm", "n_nrm").alias("cosine"))
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id"))
    return (
        pairs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("vec_id", "neighbor_id", "cosine",
                (F.col("cosine") >= NEARDUP_T).alias("is_near_dup"))
    )


# ------------------------------------------------------------ IVF ANN
#: every CENT_STRIDE-th vector seeds a coarse cell (test-scale
#: default; see cent_stride_for for the corpus-scaled stride).
CENT_STRIDE = 32
#: a FIXED stride means centroid count grows ∝ corpus, so the
#: broadcast-assignment pass is O(n·cells) = O(n²/stride) — measured
#: as the early knee at the 10x rehearsal (SCALE_r04.md).  The IVF
#: sweet spot is cells ~ sqrt(n): stride grows as sqrt past the
#: knee.  The knee sits above every test-SF corpus (<= 2000 vectors)
#: so all test-scale oracles keep the stride-32 plan bit-identical.
_STRIDE_KNEE = (2 * CENT_STRIDE) ** 2  # 4096


def cent_stride_for(n_vectors: int) -> int:
    """Centroid-seeding stride for a corpus of ``n_vectors``:
    ``max(CENT_STRIDE, ceil(sqrt(n)))`` — cells ≈ n/stride ≈ sqrt(n)
    past the knee, so assignment work is O(n·sqrt(n)) instead of
    O(n²), and per-cell scan cost grows as sqrt(n) symmetrical with
    cell count (the balanced IVF trade)."""
    import math

    if n_vectors <= _STRIDE_KNEE:
        return CENT_STRIDE
    return math.ceil(math.sqrt(n_vectors))

IVF_SQL = f"""
WITH vec AS (
  SELECT vec_id, embedding,
         sqrt((SELECT SUM(CAST(e AS DOUBLE) * CAST(e AS DOUBLE))
               FROM (SELECT UNNEST(embedding) AS e))) AS nrm
  FROM embeddings),
cent AS (
  SELECT vec_id AS cent_id, embedding AS c_emb, nrm AS c_nrm
  FROM vec WHERE vec_id % {CENT_STRIDE} = 0),
assign AS (
  SELECT v.vec_id, c.cent_id,
         ROW_NUMBER() OVER (
           PARTITION BY v.vec_id
           ORDER BY ROUND((SELECT SUM(ae * be) FROM (
                      SELECT CAST(UNNEST(v.embedding) AS DOUBLE) AS ae,
                             CAST(UNNEST(c.c_emb) AS DOUBLE) AS be))
                    / (v.nrm * c.c_nrm), 6) DESC, c.cent_id) AS rk
  FROM vec v CROSS JOIN cent c),
cell AS (
  SELECT vec_id, cent_id FROM assign WHERE rk = 1),
pairs AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         ca.cent_id AS cell_id,
         ROUND((SELECT SUM(ae * be) FROM (
                  SELECT CAST(UNNEST(a.embedding) AS DOUBLE) AS ae,
                         CAST(UNNEST(b.embedding) AS DOUBLE) AS be))
               / (a.nrm * b.nrm), 6) AS cosine
  FROM vec a
  JOIN cell ca ON ca.vec_id = a.vec_id
  JOIN cell cb ON cb.cent_id = ca.cent_id
  JOIN vec b ON b.vec_id = cb.vec_id AND b.vec_id <> a.vec_id
  WHERE a.vec_id % {QUERY_STRIDE} = 0),
ranked AS (
  SELECT query_id, neighbor_id, cell_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS rank
  FROM pairs)
SELECT query_id, neighbor_id, cell_id, cosine,
       CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= {TOP_K}
"""


@query("sims_ivf_ann", IVF_SQL)
def sims_ivf_ann(spark, sf_dir):
    """IVF-style ANN: a coarse quantizer (every CENT_STRIDE-th vector
    is a centroid) partitions the corpus into cells; each query scans
    only its own cell (nprobe=1).

    This is the second scale path next to sign-LSH: cells adapt to
    the data distribution (centroids are corpus points) where LSH
    planes are data-oblivious.  Cells come from :func:`_ivf_cells`
    and :func:`_ivf_members` (broadcast centroids, cached argmax,
    budget-gated member join); the cell id is then the shuffle key
    and each reducer scans one cell.  A NULL cosine (zero-norm
    vector) ranks last, as the oracle's DESC order does."""
    emb = spread(t(spark, sf_dir, "embeddings"))
    vec = emb.select(
        "vec_id", "embedding",
        _norm("embedding").alias("nrm")).cache()
    n = corpus_size(sf_dir)
    member = _ivf_members(vec, _ivf_cells(vec, n), n)
    queries = (member.filter(F.col("vec_id") % QUERY_STRIDE == 0)
               .select(F.col("vec_id").alias("query_id"),
                       F.col("embedding").alias("q_emb"),
                       F.col("nrm").alias("q_nrm"),
                       F.col("cell_id").alias("q_cell")))
    pairs = (
        queries
        .join(member, (F.col("cell_id") == F.col("q_cell"))
              & (F.col("vec_id") != F.col("query_id")))
        .select("query_id",
                F.col("vec_id").alias("neighbor_id"),
                F.col("cell_id"),
                _cosine("q_emb", "embedding", "q_nrm", "nrm")
                .alias("cosine")))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id"))
    return (pairs.withColumn("rank", F.row_number().over(w).cast("int"))
            .filter(F.col("rank") <= TOP_K))


# ------------------------------------------- int8 quantization
QUANT_SQL = """
WITH m AS (
  SELECT vec_id, embedding,
         (SELECT MAX(ABS(CAST(e AS DOUBLE)))
          FROM (SELECT UNNEST(embedding) AS e)) AS max_abs
  FROM embeddings)
SELECT vec_id,
       ROUND(max_abs, 6) AS max_abs,
       array_to_string(
         CASE WHEN max_abs = 0
              THEN list_transform(embedding, x -> 0)
              ELSE list_transform(embedding, x ->
                     CAST(ROUND(CAST(x AS DOUBLE) / max_abs * 127)
                          AS INTEGER))
         END, ',') AS q8
FROM m
"""


@query("sims_quantize_int8", QUANT_SQL)
def sims_quantize_int8(spark, sf_dir):
    """Symmetric int8 vector quantization (per-vector absmax scale) —
    the standard 4x memory/bandwidth cut before storing or shipping
    embeddings for ANN at scale.  Pure map stage: one JVM
    higher-order-function pass per vector, no shuffle, no UDF;
    both engines round half-away-from-zero so codes match exactly.
    Zero vectors quantize to zeros (scale guard).

    The code vector surfaces as a comma-joined STRING, not
    ``array<int>``: the external driver's result canonicalizer
    (pandas ``sort_values``) cannot hash list-typed cells — the one
    red row of round 2 was this exact column.  ``concat_ws`` /
    ``array_to_string`` is lossless for int codes, and downstream
    consumers would read the parquet codes, not this verification
    surface.

    The scale column is internally named ``__scale``, NOT ``max_abs``:
    a column reference inside a higher-order-function lambda resolves
    against a SIBLING lateral alias in the same select (here the
    6-rounded display value) where a plain expression resolves
    against the child — with the shared name, q8 silently quantized
    with the rounded scale and flipped an exact .5 boundary (caught
    by the parity gate: element 13 of vec 229 at sf0.001, -56 vs
    -57)."""
    emb = spread(t(spark, sf_dir, "embeddings"))
    xd = lambda x: x.cast("double")  # noqa: E731
    m = F.array_max(F.transform(F.col("embedding"), lambda x: F.abs(xd(x))))
    q = F.when(F.col("__scale") == 0,
               F.transform(F.col("embedding"), lambda x: F.lit(0))) \
        .otherwise(F.transform(
            F.col("embedding"),
            lambda x: F.round(xd(x) / F.col("__scale") * 127)
            .cast("int")))
    return (emb.withColumn("__scale", m)
            .select("vec_id",
                    F.round("__scale", 6).alias("max_abs"),
                    F.concat_ws(",", q).alias("q8")))


# --------------------------------- kNN label-consistency evaluation
KNN_LABEL_SQL = f"""
WITH vec AS (
  SELECT vec_id, embedding, label,
         sqrt((SELECT SUM(CAST(e AS DOUBLE) * CAST(e AS DOUBLE))
               FROM (SELECT UNNEST(embedding) AS e))) AS nrm
  FROM embeddings),
pairs AS (
  SELECT a.vec_id AS query_id, a.label AS q_label, b.label AS n_label,
         b.vec_id AS neighbor_id,
         ROUND((SELECT SUM(ae * be) FROM (
                  SELECT CAST(UNNEST(a.embedding) AS DOUBLE) AS ae,
                         CAST(UNNEST(b.embedding) AS DOUBLE) AS be))
               / (a.nrm * b.nrm), 6) AS cosine
  FROM vec a JOIN vec b ON b.vec_id <> a.vec_id
  WHERE a.vec_id % {QUERY_STRIDE} = 0),
ranked AS (
  SELECT query_id, q_label, n_label,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS rank
  FROM pairs)
SELECT query_id, q_label AS label,
       CAST(SUM(CASE WHEN n_label = q_label THEN 1 ELSE 0 END)
            AS INTEGER) AS n_matching,
       ROUND(CAST(SUM(CASE WHEN n_label = q_label THEN 1 ELSE 0 END)
                  AS DOUBLE) / {TOP_K}, 6) AS consistency
FROM ranked WHERE rank <= {TOP_K}
GROUP BY query_id, q_label
"""


@query("sims_knn_label_consistency", KNN_LABEL_SQL)
def sims_knn_label_consistency(spark, sf_dir):
    """Embedding-quality evaluation: for each sampled query vector,
    the fraction of its exact top-{TOP_K} cosine neighbors sharing
    its label — the standard intrinsic check that an embedding space
    is fit for similarity-based curation (low consistency means
    cosine neighborhoods ignore the supervision signal).

    Same 100 TB shape as the brute-force baseline: the corpus is
    split into N_BLOCKS by pmod(vec_id) and queries replicate per
    block (equi-join on the block id, no broadcast of the
    corpus-proportional sample, no cartesian), then a per-query
    window ranks and a tiny grouped aggregate folds the label
    matches."""
    emb = spread(t(spark, sf_dir, "embeddings"))
    vec = emb.select(
        "vec_id", "embedding", "label",
        _norm("embedding").alias("nrm"))
    pairs = (
        _block_pairs(vec, corpus_size(sf_dir), q_label="label",
                     q_emb="embedding", q_nrm="nrm")
        .select(
            "query_id", "q_label",
            F.col("label").alias("n_label"),
            F.col("vec_id").alias("neighbor_id"),
            _cosine("q_emb", "embedding", "q_nrm", "nrm").alias("cosine")))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id"))
    matches = F.sum(
        F.when(F.col("n_label") == F.col("q_label"), 1).otherwise(0))
    return (pairs.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= TOP_K)
            .groupBy("query_id", F.col("q_label").alias("label"))
            .agg(matches.cast("int").alias("n_matching"),
                 F.round(matches.cast("double") / TOP_K, 6)
                 .alias("consistency")))


# --------------------------------- product quantization (PQ) + ADC
#: sub-vector blocks (DIM/M_BLOCKS dims each) and the codebook
#: stride: every CB_STRIDE-th corpus vector seeds one centroid per
#: block (test-scale default; see cb_stride_for).
M_BLOCKS = 4
BLOCK_DIM = DIM // M_BLOCKS
CB_STRIDE = 64
#: textbook PQ holds the CODEBOOK size constant (one byte of code
#: addresses 256 centroids per block) — with a fixed seeding stride
#: the codebook instead grows ∝ corpus, so the per-vector assignment
#: (n·codes block distances) turns quadratic and the broadcast
#: codebook grows without bound.  Past a knee above every test SF,
#: the stride grows linearly so the codebook stays ~CB_CODES.
CB_CODES = 256


def cb_stride_for(n_vectors: int) -> int:
    """PQ codebook seeding stride:
    ``max(CB_STRIDE, ceil(n / CB_CODES))`` — at most ~CB_CODES
    centroids per block regardless of corpus size (the one-byte-code
    regime); equals CB_STRIDE at every test SF, keeping those
    oracles bit-identical."""
    import math

    return max(CB_STRIDE, math.ceil(n_vectors / CB_CODES))

_PQ_D2_SQL = """
ROUND((SELECT SUM((CAST(ve AS DOUBLE) - CAST(ce AS DOUBLE))
                  * (CAST(ve AS DOUBLE) - CAST(ce AS DOUBLE)))
       FROM (SELECT UNNEST(v.embedding[b.m * {bd} + 1 : (b.m + 1) * {bd}])
                      AS ve,
                    UNNEST(c.c_emb[b.m * {bd} + 1 : (b.m + 1) * {bd}])
                      AS ce)), 6)
""".format(bd=BLOCK_DIM)

PQ_ADC_SQL = f"""
WITH vec AS (SELECT vec_id, embedding FROM embeddings),
cent AS (
  SELECT vec_id AS cent_id, embedding AS c_emb
  FROM vec WHERE vec_id % {CB_STRIDE} = 0),
assign AS (
  SELECT v.vec_id, b.m, c.cent_id,
         {_PQ_D2_SQL} AS d2
  FROM vec v
  CROSS JOIN (SELECT unnest(range({M_BLOCKS})) AS m) b
  CROSS JOIN cent c),
codes AS (
  SELECT vec_id, m, cent_id FROM (
    SELECT vec_id, m, cent_id,
           ROW_NUMBER() OVER (PARTITION BY vec_id, m
                              ORDER BY d2, cent_id) AS rk
    FROM assign) WHERE rk = 1),
qd AS (
  SELECT vec_id AS query_id, m, cent_id, d2
  FROM assign WHERE vec_id % {QUERY_STRIDE} = 0),
adc AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         SUM(CAST(q.d2 AS DECIMAL(38,10))) AS s
  FROM codes c JOIN qd q ON q.m = c.m AND q.cent_id = c.cent_id
  WHERE c.vec_id <> q.query_id
  GROUP BY q.query_id, c.vec_id),
ranked AS (
  SELECT query_id, neighbor_id,
         ROUND(CAST(CAST(s AS VARCHAR) AS DOUBLE), 6) AS approx_d2,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY s, neighbor_id) AS rank
  FROM adc)
SELECT query_id, neighbor_id, approx_d2, CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= {TOP_K}
"""


@query("sims_pq_adc", PQ_ADC_SQL)
def sims_pq_adc(spark, sf_dir):
    """Product-quantization ANN with asymmetric distance computation
    (Jégou et al., TPAMI'11 — public literature): every vector is
    compressed to {M_BLOCKS} centroid codes (one per
    {BLOCK_DIM}-dim block; codebook = every {CB_STRIDE}-th corpus
    vector, data-adaptive like the IVF quantizer), and a query
    scores a candidate as the SUM of its precomputed
    query-to-centroid block distances — the {M_BLOCKS * 8}-byte
    code replaces the raw vector for the whole scan.

    Scale shape, the reason PQ exists at 100 TB: the corpus-wide
    work touches only the CODES table (a few bytes per vector, a
    ~64x scan-volume cut vs raw float32); the per-query distance
    table is queries x centroids x blocks — centroid-cardinality,
    never corpus-cardinality — and joins to the codes on the
    (block, centroid) key, so AQE broadcasts it while it fits and
    shuffles on the code key beyond that.  The per-candidate ADC
    sum accumulates the 6-rounded block distances in
    DECIMAL(38,10), so ranking order (and the hash) is
    order-independent and engine-exact.  Codes and query distances
    come from :func:`_pq_codes` and :func:`_pq_d2`."""
    emb = spread(t(spark, sf_dir, "embeddings"))
    vec = emb.select("vec_id", "embedding").cache()
    n = corpus_size(sf_dir)
    codes = _pq_codes(vec, n).drop("d2")
    qd = _pq_d2(vec, n, queries=True).withColumnRenamed(
        "vec_id", "query_id")
    adc = (
        codes.join(qd, ["m", "cent_id"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum(F.col("d2").cast("decimal(38,10)")).alias("s")))
    w = Window.partitionBy("query_id").orderBy("s", "neighbor_id")
    return (adc.withColumn("rank", F.row_number().over(w).cast("int"))
            .filter(F.col("rank") <= TOP_K)
            .select("query_id", "neighbor_id",
                    F.round(F.col("s").cast("double"), 6)
                    .alias("approx_d2"), "rank"))


# --------------------------- label-centroid margin (space QA)
LABEL_MARGIN_SQL = f"""
WITH pos AS (
  SELECT vec_id, label, ii.i + 1 AS pos,
         CAST(embedding[ii.i + 1] AS DOUBLE) AS v
  FROM embeddings, (SELECT unnest(range({DIM})) AS i) ii),
cent_long AS (
  SELECT label, pos,
         CAST(CAST(SUM(CAST(v AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE)
           / COUNT(*) AS c
  FROM pos GROUP BY label, pos),
cent AS (
  SELECT label AS c_label, list(c ORDER BY pos) AS c_emb
  FROM cent_long GROUP BY label),
centn AS (
  SELECT c_label, c_emb,
         sqrt((SELECT SUM(x * x) FROM (SELECT UNNEST(c_emb) AS x)))
           AS c_nrm
  FROM cent),
vec AS (
  SELECT vec_id, label, embedding,
         sqrt((SELECT SUM(CAST(e AS DOUBLE) * CAST(e AS DOUBLE))
               FROM (SELECT UNNEST(embedding) AS e))) AS nrm
  FROM embeddings),
scored AS (
  SELECT v.vec_id, v.label, c.c_label,
         ROUND((SELECT SUM(CAST(ae AS DOUBLE) * be) FROM (
                  SELECT UNNEST(v.embedding) AS ae,
                         UNNEST(c.c_emb) AS be))
               / (v.nrm * c.c_nrm), 6) AS cosine
  FROM vec v CROSS JOIN centn c),
own AS (
  SELECT vec_id, label, cosine AS cos_own
  FROM scored WHERE label = c_label),
other AS (
  SELECT vec_id, c_label AS best_other_label, cosine AS cos_other,
         ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY cosine DESC, c_label) AS rk
  FROM scored WHERE label <> c_label)
SELECT o.vec_id, o.label, o.cos_own, t.best_other_label, t.cos_other,
       ROUND(o.cos_own - t.cos_other, 6) AS margin
FROM own o JOIN other t USING (vec_id) WHERE t.rk = 1
"""


@query("sims_label_centroid_margin", LABEL_MARGIN_SQL)
def sims_label_centroid_margin(spark, sf_dir):
    """Embedding-space class-separation audit: every label gets an
    exact per-dimension mean centroid; every vector reports the
    cosine to its OWN label's centroid, the best cosine to any OTHER
    centroid, and the margin between them.  Negative margins mark
    vectors sitting in the wrong class region — the
    nearest-class-mean QA pass (Fisher-criterion flavor, public
    literature) that catches label noise and collapsed classes
    before similarity-based curation trusts the space.

    Scale shape: centroid building is one shuffle on (label, dim)
    with map-side partial sums (DECIMAL-accumulated so the mean is
    order-exact), folding the corpus to labels x dims rows; the
    scoring pass replicates the label-count-bounded centroid table
    onto the corpus (the one genuinely bounded broadcast) and folds
    label-count rows per vector in one aggregation.  Nothing ever pairs
    corpus rows with corpus rows."""
    emb = spread(t(spark, sf_dir, "embeddings"))
    pos = emb.select(
        "vec_id", "label",
        F.posexplode("embedding").alias("i", "vf"))
    v = F.col("vf").cast("double")
    cl = pos.groupBy("label", "i").agg(
        (F.sum(v.cast("decimal(38,10)")).cast("double")
         / F.count(F.lit(1))).alias("c"))
    cent = (cl.groupBy("label")
            .agg(F.transform(
                F.array_sort(F.collect_list(F.struct("i", "c"))),
                lambda x: x["c"]).alias("c_emb"))
            .select(F.col("label").alias("c_label"), "c_emb",
                    _norm("c_emb").alias("c_nrm")))
    vec = emb.select("vec_id", "label", "embedding",
                     _norm("embedding").alias("nrm"))
    scored = (
        vec.crossJoin(F.broadcast(cent))
        .select("vec_id", "label", "c_label",
                _cosine("embedding", "c_emb", "nrm", "c_nrm")
                .alias("cosine")))
    # own-cosine and best-other in ONE conditional aggregation over
    # the scored stream.  The oracle's INNER join keeps a vector that
    # has an own-label row and at least one other label, whatever
    # their cosines (a zero vector's are NULL): existence is the
    # filter, not a non-NULL cos_own.  Best-other is the cell
    # argmax's min-struct (see _ivf_cells) over the other labels.
    own = F.col("label") == F.col("c_label")
    agg = (scored.groupBy("vec_id", "label")
           .agg(F.bool_or(own).alias("has_own"),
                F.max(F.when(own, F.col("cosine"))).alias("cos_own"),
                F.min(F.when(~own, F.struct(
                    F.col("cosine").isNull().alias("none"),
                    (-F.col("cosine")).alias("nc"),
                    F.col("c_label").alias("l")))).alias("bo")))
    return (agg.filter(F.col("has_own") & F.col("bo").isNotNull())
            .select("vec_id", "label", "cos_own",
                    F.col("bo.l").alias("best_other_label"),
                    (-F.col("bo.nc")).alias("cos_other"),
                    F.round(F.col("cos_own") + F.col("bo.nc"), 6)
                    .alias("margin")))


# ----------------------------------- ANN recall@k evaluation
RECALL_SQL = f"""
WITH bf AS ({COSINE_TOPK_SQL}),
ann AS ({ANN_LSH_SQL})
SELECT b.query_id,
       CAST(COUNT(a.neighbor_id) AS INTEGER) AS n_hits,
       ROUND(COUNT(a.neighbor_id) / {TOP_K}.0, 6) AS recall_at_k
FROM bf b LEFT JOIN ann a
  ON a.query_id = b.query_id AND a.neighbor_id = b.neighbor_id
GROUP BY b.query_id
"""


@query("sims_recall_eval", RECALL_SQL)
def sims_recall_eval(spark, sf_dir):
    """Recall@{TOP_K} of the sign-LSH ANN against the brute-force
    ground truth — THE acceptance metric for any approximate index
    (an ANN that silently recalls 0.4 poisons every similarity-based
    curation step downstream).  Per query: how many of the true
    top-{TOP_K} neighbors the bucketed search returned.

    Scale shape: composes two already-verified plans and joins their
    (query, neighbor) result sets — top-k tables are
    queries x k rows, so the evaluation join is dimension-sized
    regardless of corpus size.  In production the ground truth comes
    from a sampled query set exactly like this one (computing it
    corpus-wide would defeat the index's purpose); the sample rate
    is the stride constant both plans already share."""
    bf = sims_cosine_topk_bruteforce(spark, sf_dir) \
        .select("query_id", "neighbor_id")
    ann = sims_ann_lsh_bucketed(spark, sf_dir) \
        .select(F.col("query_id").alias("a_qid"),
                F.col("neighbor_id").alias("a_nid"),
                F.lit(1).alias("hit"))
    return (
        bf.join(ann, (F.col("query_id") == F.col("a_qid"))
                & (F.col("neighbor_id") == F.col("a_nid")), "left")
        .groupBy("query_id")
        .agg(F.count("hit").cast("int").alias("n_hits"),
             F.round(F.count("hit") / F.lit(float(TOP_K)), 6)
             .alias("recall_at_k"))
    )


# ----------------------------------- bucket-balance index health
BUCKET_BALANCE_SQL = f"""
WITH vec AS (
  SELECT vec_id, CAST({_bucket_sql()} AS BIGINT) AS bucket
  FROM embeddings),
sizes AS (
  SELECT bucket, COUNT(*) AS sz FROM vec GROUP BY bucket)
SELECT CAST(sz AS INTEGER) AS bucket_size,
       COUNT(*) AS n_buckets
FROM sizes GROUP BY sz
"""


@query("sims_bucket_balance", BUCKET_BALANCE_SQL)
def sims_bucket_balance(spark, sf_dir):
    """ANN index-health histogram: how many sign-LSH buckets hold how
    many vectors.  Bucket balance IS the query cost model — a probe
    scans its bucket, so one bucket holding half the corpus means
    the index degenerated to a linear scan for half the queries (the
    classic failure on anisotropic embeddings).  Same one-glance
    shape as the dedup cluster histogram, applied to the index.

    Scale shape: the bucket code is the map-only signature pass the
    ANN already computes; then two dimension-sized aggregates
    (bucket-cardinality, size-cardinality).  Uses the same
    corpus-scaled plane count as the ANN query, so the histogram
    audits the index that is actually probed."""
    emb = spread(t(spark, sf_dir, "embeddings"))
    vec = emb.select(
        "vec_id",
        _bucket_col(planes_for(corpus_size(sf_dir))).alias("bucket"))
    sizes = vec.groupBy("bucket").agg(F.count(F.lit(1)).alias("sz"))
    return (sizes.groupBy(F.col("sz").cast("int").alias("bucket_size"))
            .agg(F.count(F.lit(1)).alias("n_buckets")))


# --------------------------- incremental embedding near-dup
#: vec_id threshold splitting "existing corpus" from "new batch",
#: mirroring dedup.INCR_SPLIT for the exact-hash family.
EMB_INCR_SPLIT = 400

EMB_INCR_SQL = f"""
WITH vec AS (
  SELECT vec_id, embedding,
         sqrt((SELECT SUM(CAST(e AS DOUBLE) * CAST(e AS DOUBLE))
               FROM (SELECT UNNEST(embedding) AS e))) AS nrm,
         CAST({_bucket_sql(NEARDUP_PLANES)} AS BIGINT) AS bucket
  FROM embeddings),
corpus AS (SELECT * FROM vec WHERE vec_id < {EMB_INCR_SPLIT}),
batch AS (SELECT * FROM vec WHERE vec_id >= {EMB_INCR_SPLIT}),
pairs AS (
  SELECT b.vec_id, c.vec_id AS corpus_id,
         ROUND((SELECT SUM(ae * be) FROM (
                  SELECT CAST(UNNEST(b.embedding) AS DOUBLE) AS ae,
                         CAST(UNNEST(c.embedding) AS DOUBLE) AS be))
               / (b.nrm * c.nrm), 6) AS cosine
  FROM batch b JOIN corpus c ON c.bucket = b.bucket),
ranked AS (
  SELECT vec_id, corpus_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY cosine DESC, corpus_id) AS rk
  FROM pairs)
SELECT b.vec_id,
       r.corpus_id AS nearest_corpus_id,
       r.cosine,
       COALESCE(r.cosine >= {NEARDUP_T}, FALSE) AS is_dup_of_corpus
FROM batch b LEFT JOIN ranked r
  ON r.vec_id = b.vec_id AND r.rk = 1
"""


@query("dedup_incremental_embedding", EMB_INCR_SQL)
def dedup_incremental_embedding(spark, sf_dir):
    """Incremental SEMANTIC dedup — the embedding twin of
    ``dedup_incremental_exact``: a new ingest batch is checked
    against the EXISTING corpus's LSH buckets only (never batch vs
    batch, never a full-corpus recompute), and each new vector
    reports its nearest corpus neighbor and a dup verdict at the
    cosine threshold.  Batch vectors landing in a bucket with no
    corpus occupants have no candidate and are new by definition.

    Scale shape: the corpus side is read as (bucket -> vectors) —
    at 100 TB that is a bucket-partitioned stored index, and only
    buckets the batch touches are scanned; the join key is the
    bucket code, the batch side is ingest-sized, and AQE broadcasts
    it while it fits."""
    emb = spread(t(spark, sf_dir, "embeddings"))
    vec = emb.select(
        "vec_id", "embedding",
        _norm("embedding").alias("nrm"),
        _bucket_col(neardup_planes(corpus_size(sf_dir))).alias("bucket")).cache()
    corpus = vec.filter(F.col("vec_id") < EMB_INCR_SPLIT).select(
        F.col("vec_id").alias("corpus_id"),
        F.col("embedding").alias("c_emb"),
        F.col("nrm").alias("c_nrm"),
        F.col("bucket").alias("c_bucket"))
    batch = vec.filter(F.col("vec_id") >= EMB_INCR_SPLIT)
    pairs = (
        batch.join(corpus, F.col("c_bucket") == F.col("bucket"))
        .select("vec_id",
                "corpus_id",
                _cosine("embedding", "c_emb", "nrm", "c_nrm")
                .alias("cosine")))
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cosine").desc(), "corpus_id")
    nearest = (pairs.withColumn("rk", F.row_number().over(w))
               .filter(F.col("rk") == 1)
               .select("vec_id",
                       F.col("corpus_id").alias("nearest_corpus_id"),
                       "cosine"))
    return (
        batch.select("vec_id")
        .join(nearest, "vec_id", "left")
        .select("vec_id", "nearest_corpus_id", "cosine",
                F.coalesce(F.col("cosine") >= NEARDUP_T, F.lit(False))
                .alias("is_dup_of_corpus"))
    )


# ------------------------------------------- IVF multiprobe ANN
NPROBE = 2

IVF_MP_SQL = f"""
WITH vec AS (
  SELECT vec_id, embedding,
         sqrt((SELECT SUM(CAST(e AS DOUBLE) * CAST(e AS DOUBLE))
               FROM (SELECT UNNEST(embedding) AS e))) AS nrm
  FROM embeddings),
cent AS (
  SELECT vec_id AS cent_id, embedding AS c_emb, nrm AS c_nrm
  FROM vec WHERE vec_id % {CENT_STRIDE} = 0),
assign AS (
  SELECT v.vec_id, c.cent_id,
         ROW_NUMBER() OVER (
           PARTITION BY v.vec_id
           ORDER BY ROUND((SELECT SUM(ae * be) FROM (
                      SELECT CAST(UNNEST(v.embedding) AS DOUBLE) AS ae,
                             CAST(UNNEST(c.c_emb) AS DOUBLE) AS be))
                    / (v.nrm * c.c_nrm), 6) DESC, c.cent_id) AS rk
  FROM vec v CROSS JOIN cent c),
cell AS (
  SELECT vec_id, cent_id FROM assign WHERE rk = 1),
probe AS (
  SELECT vec_id, cent_id FROM assign
  WHERE rk <= {NPROBE} AND vec_id % {QUERY_STRIDE} = 0),
pairs AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         ROUND((SELECT SUM(ae * be) FROM (
                  SELECT CAST(UNNEST(a.embedding) AS DOUBLE) AS ae,
                         CAST(UNNEST(b.embedding) AS DOUBLE) AS be))
               / (a.nrm * b.nrm), 6) AS cosine
  FROM vec a
  JOIN probe pa ON pa.vec_id = a.vec_id
  JOIN cell cb ON cb.cent_id = pa.cent_id
  JOIN vec b ON b.vec_id = cb.vec_id AND b.vec_id <> a.vec_id),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id) AS rank
  FROM pairs)
SELECT query_id, neighbor_id, cosine, CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= {TOP_K}
"""


@query("sims_ivf_multiprobe", IVF_MP_SQL)
def sims_ivf_multiprobe(spark, sf_dir):
    """IVF ANN with MULTIPROBE (nprobe={NPROBE}): each query scans
    its {NPROBE} nearest cells instead of one — the standard
    recall/cost dial every IVF index exposes (faiss nprobe, public
    literature).  Recall rises because true neighbors near a cell
    boundary often live in the runner-up cell; cost stays bounded at
    nprobe x cell size, still nothing like a linear scan.  Paired
    with sims_recall_eval's methodology this quantifies the dial.

    Scale shape: identical to single-probe IVF — the scored stream
    of :func:`_ivf_assign`, cell id as the shuffle key — except the
    query side fans out {NPROBE} rows per query before the cell
    join, so the argmax is a per-vector window whose rk=1 row is the
    cell.  The window is cached: the assignment runs once.  Corpus
    cells stay disjoint (rk=1), so no pair dedup is needed."""
    emb = spread(t(spark, sf_dir, "embeddings"))
    vec = emb.select(
        "vec_id", "embedding",
        _norm("embedding").alias("nrm")).cache()
    # desc() puts a NULL cosine last, as the oracle's DESC does
    aw = Window.partitionBy("vec_id").orderBy(
        F.col("c_cos").desc(), F.col("cent_id"))
    assign = (_ivf_assign(vec, corpus_size(sf_dir))
              .withColumn("rk", F.row_number().over(aw)).cache())
    cell = (assign.filter(F.col("rk") == 1)
            .select("vec_id", F.col("cent_id").alias("cell_id")))
    member = vec.join(cell, "vec_id")
    probe = (assign.filter((F.col("rk") <= NPROBE)
                           & (F.col("vec_id") % QUERY_STRIDE == 0))
             .select(F.col("vec_id").alias("query_id"),
                     F.col("cent_id").alias("probe_cell")))
    queries = probe.join(
        vec.select(F.col("vec_id").alias("query_id"),
                   F.col("embedding").alias("q_emb"),
                   F.col("nrm").alias("q_nrm")), "query_id")
    pairs = (
        queries
        .join(member, (F.col("cell_id") == F.col("probe_cell"))
              & (F.col("vec_id") != F.col("query_id")))
        .select("query_id",
                F.col("vec_id").alias("neighbor_id"),
                _cosine("q_emb", "embedding", "q_nrm", "nrm")
                .alias("cosine")))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id"))
    return (pairs.withColumn("rank", F.row_number().over(w).cast("int"))
            .filter(F.col("rank") <= TOP_K)
            .select("query_id", "neighbor_id", "cosine", "rank"))


# ------------------------------------- PQ quantization distortion
PQ_DISTORTION_SQL = f"""
WITH vec AS (SELECT vec_id, embedding FROM embeddings),
cent AS (
  SELECT vec_id AS cent_id, embedding AS c_emb
  FROM vec WHERE vec_id % {CB_STRIDE} = 0),
assign AS (
  SELECT v.vec_id, b.m, c.cent_id,
         {_PQ_D2_SQL} AS d2
  FROM vec v
  CROSS JOIN (SELECT unnest(range({M_BLOCKS})) AS m) b
  CROSS JOIN cent c),
codes AS (
  SELECT vec_id, m, d2 FROM (
    SELECT vec_id, m, d2,
           ROW_NUMBER() OVER (PARTITION BY vec_id, m
                              ORDER BY d2, cent_id) AS rk
    FROM assign) WHERE rk = 1)
SELECT vec_id,
       ROUND(CAST(CAST(SUM(CAST(d2 AS DECIMAL(38,10))) AS VARCHAR)
                  AS DOUBLE), 6) AS distortion
FROM codes GROUP BY vec_id
"""


@query("sims_pq_distortion", PQ_DISTORTION_SQL)
def sims_pq_distortion(spark, sf_dir):
    """PQ reconstruction DISTORTION per vector: the squared L2
    distance between each vector and its codebook reconstruction
    (sum of the winning block distances) — the quality number that
    decides whether a {M_BLOCKS}x8-bit code is safe for the corpus
    or the codebook needs more centroids (distortion ~ recall loss
    in ADC ranking; audit it before compressing 100 TB of vectors).
    Completes the PQ family: adc = search, calibration-style
    distortion = audit.

    Scale shape: the code assignment of :func:`_pq_codes`, folded
    to one DECIMAL-exact row per vector."""
    emb = spread(t(spark, sf_dir, "embeddings"))
    vec = emb.select("vec_id", "embedding").cache()
    return (_pq_codes(vec, corpus_size(sf_dir)).groupBy("vec_id")
            .agg(F.round(F.sum(F.col("d2").cast("decimal(38,10)"))
                         .cast("double"), 6).alias("distortion")))


# --------------------------------------------- cosine range search
RANGE_COS_T = 0.15

RANGE_SEARCH_SQL = f"""
WITH vec AS (
  SELECT vec_id, embedding,
         sqrt((SELECT SUM(CAST(e AS DOUBLE) * CAST(e AS DOUBLE))
               FROM (SELECT UNNEST(embedding) AS e))) AS nrm,
         CAST({_bucket_sql(NEARDUP_PLANES)} AS BIGINT) AS bucket
  FROM embeddings)
SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
       ROUND((SELECT SUM(ae * be) FROM (
                SELECT CAST(UNNEST(a.embedding) AS DOUBLE) AS ae,
                       CAST(UNNEST(b.embedding) AS DOUBLE) AS be))
             / (a.nrm * b.nrm), 6) AS cosine
FROM vec a JOIN vec b
  ON a.bucket = b.bucket AND b.vec_id <> a.vec_id
WHERE a.vec_id % {QUERY_STRIDE} = 0
  AND ROUND((SELECT SUM(ae * be) FROM (
               SELECT CAST(UNNEST(a.embedding) AS DOUBLE) AS ae,
                      CAST(UNNEST(b.embedding) AS DOUBLE) AS be))
            / (a.nrm * b.nrm), 6) >= {RANGE_COS_T}
"""


@query("sims_range_search", RANGE_SEARCH_SQL)
def sims_range_search(spark, sf_dir):
    """RANGE similarity search: ALL bucket-mates above a cosine
    threshold, not a fixed top-k — the semantics retrieval filters
    and near-dup sweeps actually want (k is arbitrary; a threshold
    is a quality statement).  Result size varies per query, which is
    exactly why engines offer both: top-k bounds cost, range bounds
    quality.

    Scale shape: identical to the bucketed ANN (the bucket code is
    the shuffle key, no rank window needed at all — range search is
    one filter cheaper than top-k), on the coarser corpus-scaled
    near-dup code so
    the radius reaches past a 256-bucket shard boundary at this
    corpus size.  The threshold compares the 6-rounded cosine on
    BOTH engines so the boundary cannot drift."""
    emb = spread(t(spark, sf_dir, "embeddings"))
    vec = emb.select(
        "vec_id", "embedding",
        _norm("embedding").alias("nrm"),
        _bucket_col(neardup_planes(corpus_size(sf_dir))).alias("bucket"),
    ).cache()
    queries = vec.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
        F.col("bucket").alias("q_bucket"),
    ).filter(F.col("query_id") % QUERY_STRIDE == 0)
    cos = _cosine("q_emb", "embedding", "q_nrm", "nrm")
    return (
        queries
        .join(vec, (F.col("bucket") == F.col("q_bucket"))
              & (F.col("vec_id") != F.col("query_id")))
        .select("query_id", F.col("vec_id").alias("neighbor_id"),
                cos.alias("cosine"))
        .filter(F.col("cosine") >= RANGE_COS_T)
    )


# --------------------------------------- embedding drift monitor
#: vec_id threshold splitting "reference" and "current" snapshots.
DRIFT_SPLIT = 250

DRIFT_SQL = f"""
WITH pos AS (
  SELECT vec_id, label, ii.i + 1 AS pos,
         CAST(embedding[ii.i + 1] AS DOUBLE) AS v
  FROM embeddings, (SELECT unnest(range({DIM})) AS i) ii),
cent AS (
  SELECT label, pos,
         vec_id < {DRIFT_SPLIT} AS is_ref,
         CAST(CAST(SUM(CAST(v AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE)
           / COUNT(*) AS c,
         COUNT(*) AS n_vecs
  FROM pos GROUP BY label, vec_id < {DRIFT_SPLIT}, pos),
vecs AS (
  SELECT label, is_ref, list(c ORDER BY pos) AS emb,
         MAX(n_vecs) AS n_vecs
  FROM cent GROUP BY label, is_ref),
joined AS (
  SELECT r.label,
         CAST(r.n_vecs AS BIGINT) AS n_ref,
         CAST(u.n_vecs AS BIGINT) AS n_cur,
         ROUND((SELECT SUM(ae * be) FROM (
                  SELECT UNNEST(r.emb) AS ae, UNNEST(u.emb) AS be))
               / (sqrt((SELECT SUM(x * x)
                        FROM (SELECT UNNEST(r.emb) AS x)))
                  * sqrt((SELECT SUM(x * x)
                          FROM (SELECT UNNEST(u.emb) AS x)))), 6)
           AS centroid_cosine
  FROM vecs r JOIN vecs u
    ON r.label = u.label AND r.is_ref AND NOT u.is_ref)
SELECT label, n_ref, n_cur, centroid_cosine,
       centroid_cosine < 0.9 AS drift_alarm
FROM joined
"""


@query("sims_embedding_drift", DRIFT_SQL)
def sims_embedding_drift(spark, sf_dir):
    """Embedding DRIFT monitor: per label, the cosine between the
    class centroid of a REFERENCE snapshot (vec_id < {DRIFT_SPLIT})
    and the CURRENT one — the production check that an encoder
    upgrade or data shift did not silently rotate the space out from
    under every stored index and threshold (centroid cosine under
    0.9 raises the alarm; re-embed or re-calibrate before trusting
    stored neighbors).

    Scale shape: both snapshot centroids come from one shuffle on
    (label, snapshot, dim) with DECIMAL-exact means (the
    label-centroid-margin machinery, split by snapshot); the
    comparison joins label-cardinality rows."""
    emb = spread(t(spark, sf_dir, "embeddings"))
    pos = emb.select(
        "vec_id", "label",
        (F.col("vec_id") < DRIFT_SPLIT).alias("is_ref"),
        F.posexplode("embedding").alias("i", "vf"))
    v = F.col("vf").cast("double")
    cent = pos.groupBy("label", "is_ref", "i").agg(
        (F.sum(v.cast("decimal(38,10)")).cast("double")
         / F.count(F.lit(1))).alias("c"),
        (F.count(F.lit(1))).alias("n"))
    vecs = (cent.groupBy("label", "is_ref")
            .agg(F.transform(
                F.array_sort(F.collect_list(F.struct("i", "c"))),
                lambda x: x["c"]).alias("emb"),
                F.max("n").alias("n_vecs")))
    r = vecs.filter(F.col("is_ref")).select(
        "label", F.col("emb").alias("r_emb"),
        F.col("n_vecs").alias("n_ref"))
    u = vecs.filter(~F.col("is_ref")).select(
        "label", F.col("emb").alias("u_emb"),
        F.col("n_vecs").alias("n_cur"))
    cos = _cosine("r_emb", "u_emb", _norm("r_emb"), _norm("u_emb"))
    return (r.join(u, "label")
            .select("label",
                    F.col("n_ref").cast("bigint").alias("n_ref"),
                    F.col("n_cur").cast("bigint").alias("n_cur"),
                    cos.alias("centroid_cosine"),
                    (cos < 0.9).alias("drift_alarm")))


# ------------------------------------------- norm distribution QA
NORM_STATS_SQL = f"""
WITH v AS (
  SELECT label,
         sqrt((SELECT SUM(CAST(e AS DOUBLE) * CAST(e AS DOUBLE))
               FROM (SELECT UNNEST(embedding) AS e))) AS nrm
  FROM embeddings)
SELECT label,
       COUNT(*) AS n_vecs,
       ROUND(MIN(nrm), 6) AS min_norm,
       ROUND(MAX(nrm), 6) AS max_norm,
       ROUND(CAST(CAST(SUM(CAST(nrm AS DECIMAL(38,10))) AS VARCHAR)
                  AS DOUBLE) / COUNT(*), 6) AS avg_norm
FROM v GROUP BY label
"""


@query("sims_norm_stats", NORM_STATS_SQL)
def sims_norm_stats(spark, sf_dir):
    """Embedding NORM distribution per label: min/max/mean vector
    length — the two-second sanity check that catches collapsed
    embeddings (norms near zero), un-normalized mixtures (huge
    spread), and dead classes before any cosine threshold is
    trusted (cosine assumes norms are sane; this verifies it).
    Map-only norm pass into a label-cardinality aggregate;
    DECIMAL-accumulated mean."""
    emb = spread(t(spark, sf_dir, "embeddings"))
    v = emb.select("label", _norm("embedding").alias("nrm"))
    return (v.groupBy("label")
            .agg(F.count(F.lit(1)).alias("n_vecs"),
                 F.round(F.min("nrm"), 6).alias("min_norm"),
                 F.round(F.max("nrm"), 6).alias("max_norm"),
                 F.round(F.sum(F.col("nrm").cast("decimal(38,10)"))
                         .cast("double") / F.count(F.lit(1)), 6)
                 .alias("avg_norm")))


# --------------------------------------- in-bucket cosine histogram
COS_HIST_SQL = f"""
WITH vec AS (
  SELECT vec_id, embedding,
         sqrt((SELECT SUM(CAST(e AS DOUBLE) * CAST(e AS DOUBLE))
               FROM (SELECT UNNEST(embedding) AS e))) AS nrm,
         CAST({_bucket_sql(NEARDUP_PLANES)} AS BIGINT) AS bucket
  FROM embeddings),
pairs AS (
  SELECT CAST(FLOOR(ROUND((SELECT SUM(ae * be) FROM (
                  SELECT CAST(UNNEST(a.embedding) AS DOUBLE) AS ae,
                         CAST(UNNEST(b.embedding) AS DOUBLE) AS be))
               / (a.nrm * b.nrm), 6) * 10) AS INTEGER) AS bin
  FROM vec a JOIN vec b
    ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
SELECT bin,
       ROUND(bin / 10.0, 6) AS bin_low,
       CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM pairs GROUP BY bin
"""


@query("sims_cosine_histogram", COS_HIST_SQL)
def sims_cosine_histogram(spark, sf_dir):
    """In-bucket COSINE distribution histogram (0.1-wide bins over
    every same-bucket pair) — the calibration evidence behind every
    similarity threshold in this module: you pick 0.5 for near-dup
    or 0.15 for range search by looking at exactly this histogram,
    and a bimodal shape validates that a threshold separates
    anything at all.  Bins floor the 6-rounded cosine, so bin edges
    are engine-exact.

    Scale shape: pairs enumerate within LSH buckets only (the
    coarse 4-plane code), and only a small int crosses the shuffle
    into a ~20-row aggregate."""
    emb = spread(t(spark, sf_dir, "embeddings"))
    vec = emb.select(
        "vec_id", "embedding",
        _norm("embedding").alias("nrm"),
        _bucket_col(neardup_planes(corpus_size(sf_dir))).alias("bucket")).cache()
    other = vec.select(F.col("vec_id").alias("b_id"),
                       F.col("embedding").alias("b_emb"),
                       F.col("nrm").alias("b_nrm"),
                       F.col("bucket").alias("b_bucket"))
    cos = _cosine("embedding", "b_emb", "nrm", "b_nrm")
    pairs = (vec.join(other, (F.col("bucket") == F.col("b_bucket"))
                      & (F.col("vec_id") < F.col("b_id")))
             .select(F.floor(cos * 10).cast("int").alias("bin")))
    return (pairs.groupBy("bin")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
            .select("bin", F.round(F.col("bin") / 10.0, 6)
                    .alias("bin_low"), "n_pairs"))


# ------------------------------- matryoshka truncation recall
#: leading dims kept by the truncated ("matryoshka") representation.
MRL_DIM = 16

MATRYOSHKA_SQL = f"""
WITH vec AS (
  SELECT vec_id, embedding, embedding[1:{MRL_DIM}] AS emb_t,
         sqrt((SELECT SUM(CAST(e AS DOUBLE) * CAST(e AS DOUBLE))
               FROM (SELECT UNNEST(embedding) AS e))) AS nrm,
         sqrt((SELECT SUM(CAST(e AS DOUBLE) * CAST(e AS DOUBLE))
               FROM (SELECT UNNEST(embedding[1:{MRL_DIM}]) AS e)))
           AS nrm_t
  FROM embeddings),
-- a zero-norm (full or truncated) vector has no direction: its
-- cosine would be 0/0, which Spark and DuckDB canonicalize
-- differently (NULL vs NaN/inf) and would corrupt the per-query
-- argmin on both engines differently — exclude it outright.
vecnz AS (SELECT * FROM vec WHERE nrm > 0 AND nrm_t > 0),
pairs AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         ROUND((SELECT SUM(ae * be) FROM (
                  SELECT CAST(UNNEST(a.embedding) AS DOUBLE) AS ae,
                         CAST(UNNEST(b.embedding) AS DOUBLE) AS be))
               / (a.nrm * b.nrm), 6) AS cos_full,
         ROUND((SELECT SUM(ae * be) FROM (
                  SELECT CAST(UNNEST(a.emb_t) AS DOUBLE) AS ae,
                         CAST(UNNEST(b.emb_t) AS DOUBLE) AS be))
               / (a.nrm_t * b.nrm_t), 6) AS cos_trunc
  FROM vecnz a JOIN vecnz b ON b.vec_id <> a.vec_id
  WHERE a.vec_id % {QUERY_STRIDE} = 0),
best AS (
  SELECT query_id,
         MIN(struct_pack(c := -cos_full, n := neighbor_id)) AS bf,
         MIN(struct_pack(c := -cos_trunc, n := neighbor_id)) AS bt
  FROM pairs GROUP BY query_id)
SELECT query_id,
       bf.n AS nn_full, ROUND(-bf.c, 6) AS cos_full,
       bt.n AS nn_trunc, ROUND(-bt.c, 6) AS cos_trunc,
       bf.n = bt.n AS agree
FROM best
"""


@query("sims_matryoshka_recall", MATRYOSHKA_SQL)
def sims_matryoshka_recall(spark, sf_dir):
    """Matryoshka-truncation eval (public literature: Kusupati et
    al., Matryoshka Representation Learning, NeurIPS'22): for each
    query, does the nearest neighbor under the TRUNCATED leading-
    {MRL}-dim representation agree with the full-dimension nearest
    neighbor?  The agreement rate is the evidence a pipeline needs
    before switching its ANN index to truncated vectors (4x less
    memory and shuffle per probe).

    Scale shape: one block-replicated equi-join computes BOTH
    cosines per candidate pair (the truncated dot is a prefix of the
    full fold, ~no extra scan), then a per-query argmin fold —
    deterministic via (−cos, id) struct ordering, ties to the lowest
    neighbor id, mirroring the oracle's MIN(struct_pack(...))."""
    emb = spread(t(spark, sf_dir, "embeddings"))
    trunc = F.slice(F.col("embedding"), 1, MRL_DIM)
    vec = (emb.select(
        "vec_id", "embedding", trunc.alias("emb_t"),
        _norm("embedding").alias("nrm"),
        _norm(trunc).alias("nrm_t"))
        # zero-norm (full or truncated) vectors have no direction;
        # their 0/0 cosine canonicalizes differently per engine —
        # excluded on both sides (see vecnz in the oracle).
        .filter((F.col("nrm") > 0) & (F.col("nrm_t") > 0)))
    pairs = (
        _block_pairs(vec, corpus_size(sf_dir), q_emb="embedding",
                     q_emb_t="emb_t", q_nrm="nrm", q_nrm_t="nrm_t")
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            _cosine("q_emb", "embedding", "q_nrm", "nrm")
            .alias("cos_full"),
            _cosine("q_emb_t", "emb_t", "q_nrm_t", "nrm_t")
            .alias("cos_trunc")))
    best = pairs.groupBy("query_id").agg(
        F.min(F.struct((-F.col("cos_full")).alias("c"),
                       F.col("neighbor_id").alias("n"))).alias("bf"),
        F.min(F.struct((-F.col("cos_trunc")).alias("c"),
                       F.col("neighbor_id").alias("n"))).alias("bt"))
    return best.select(
        "query_id",
        F.col("bf.n").alias("nn_full"),
        F.round(-F.col("bf.c"), 6).alias("cos_full"),
        F.col("bt.n").alias("nn_trunc"),
        F.round(-F.col("bt.c"), 6).alias("cos_trunc"),
        (F.col("bf.n") == F.col("bt.n")).alias("agree"))


# ------------------------------- per-dimension variance profile
DIM_VAR_SQL = f"""
WITH x AS (
  SELECT i AS dim, CAST(embedding[i + 1] AS DOUBLE) AS xd
  FROM embeddings CROSS JOIN range({DIM}) t(i)),
s AS (
  SELECT dim, COUNT(*) AS n,
         SUM(CAST(xd AS DECIMAL(38,10))) AS sx,
         SUM(CAST(ROUND(xd * xd, 8) AS DECIMAL(38,10))) AS sx2
  FROM x GROUP BY dim)
SELECT CAST(dim AS INTEGER) AS dim,
       CAST(n AS BIGINT) AS n,
       ROUND(CAST(CAST(sx AS VARCHAR) AS DOUBLE) / n, 6) AS mean,
       ROUND((CAST(CAST(sx2 AS VARCHAR) AS DOUBLE)
              - (CAST(CAST(sx AS VARCHAR) AS DOUBLE)
                 * CAST(CAST(sx AS VARCHAR) AS DOUBLE)) / n)
             / (n - 1), 6) AS variance
FROM s
"""


@query("sims_dim_variance", DIM_VAR_SQL)
def sims_dim_variance(spark, sf_dir):
    """Per-dimension embedding health profile: mean and sample
    variance of every coordinate.  Dead dimensions (variance ~0) and
    dominant ones (variance orders above the rest) are the two
    classic encoder-regression smells, and anisotropy is why
    sign-LSH buckets skew — this is the metric behind that
    diagnosis.

    Scale shape: posexplode is a map-side expansion, the single
    shuffle carries only (dim, partial sums) thanks to map-side
    combine, and the output is dimension-sized.  Sums accumulate in
    DECIMAL(38,10) with squares pre-rounded to 8 decimals so both
    engines add identical values in any order; mean/variance are
    then computed with the identical double expression."""
    emb = spread(t(spark, sf_dir, "embeddings"))
    x = emb.select(F.posexplode("embedding").alias("dim", "xf"))
    xd = F.col("xf").cast("double")
    s = (x.select("dim", xd.alias("xd"))
         .groupBy("dim")
         .agg(F.count(F.lit(1)).alias("n"),
              F.sum(F.col("xd").cast("decimal(38,10)")).alias("sx"),
              F.sum(F.round(F.col("xd") * F.col("xd"), 8)
                    .cast("decimal(38,10)")).alias("sx2")))
    sx_d = F.col("sx").cast("double")
    sx2_d = F.col("sx2").cast("double")
    return s.select(
        F.col("dim").cast("int").alias("dim"),
        F.col("n").cast("bigint").alias("n"),
        F.round(sx_d / F.col("n"), 6).alias("mean"),
        F.round((sx2_d - (sx_d * sx_d) / F.col("n"))
                / (F.col("n") - 1), 6).alias("variance"))


# ----------------------------------- semantic dedup (SemDeDup-style)
#: within-cell cosine at/above which a vector is redundant wrt an
#: earlier-kept (lower-id) member.
SEMDEDUP_T = 0.5

SEMDEDUP_SQL = f"""
WITH vec AS (
  SELECT vec_id, embedding,
         sqrt((SELECT SUM(CAST(e AS DOUBLE) * CAST(e AS DOUBLE))
               FROM (SELECT UNNEST(embedding) AS e))) AS nrm
  FROM embeddings),
cent AS (
  SELECT vec_id AS cent_id, embedding AS c_emb, nrm AS c_nrm
  FROM vec WHERE vec_id % {CENT_STRIDE} = 0),
assign AS (
  SELECT v.vec_id, c.cent_id,
         ROW_NUMBER() OVER (
           PARTITION BY v.vec_id
           ORDER BY ROUND((SELECT SUM(ae * be) FROM (
                      SELECT CAST(UNNEST(v.embedding) AS DOUBLE) AS ae,
                             CAST(UNNEST(c.c_emb) AS DOUBLE) AS be))
                    / (v.nrm * c.c_nrm), 6) DESC, c.cent_id) AS rk
  FROM vec v CROSS JOIN cent c),
cell AS (
  SELECT vec_id, cent_id FROM assign WHERE rk = 1),
lower_cos AS (
  SELECT ca.vec_id,
         MAX(ROUND((SELECT SUM(ae * be) FROM (
                 SELECT CAST(UNNEST(a.embedding) AS DOUBLE) AS ae,
                        CAST(UNNEST(b.embedding) AS DOUBLE) AS be))
               / (a.nrm * b.nrm), 6)) AS max_cos_lower
  FROM cell ca
  JOIN vec a ON a.vec_id = ca.vec_id
  JOIN cell cb ON cb.cent_id = ca.cent_id
              AND cb.vec_id < ca.vec_id
  JOIN vec b ON b.vec_id = cb.vec_id
  GROUP BY ca.vec_id)
SELECT c.vec_id,
       c.cent_id AS cell_id,
       l.max_cos_lower,
       COALESCE(l.max_cos_lower >= {SEMDEDUP_T}, FALSE)
         AS is_redundant
FROM cell c LEFT JOIN lower_cos l ON l.vec_id = c.vec_id
"""


@query("dedup_semantic_cells", SEMDEDUP_SQL)
def dedup_semantic_cells(spark, sf_dir):
    """SemDeDup-style semantic deduplication (public literature:
    Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    web-scale through semantic deduplication"): cluster the corpus
    with a coarse quantizer, then WITHIN each cluster drop vectors
    too close to an already-kept member.  The keep rule here is the
    deterministic relational form — a vector is redundant iff its
    cosine to some LOWER-id cell-mate reaches the threshold
    (id-ordered greedy, order-independent to evaluate) — rather than
    the paper's sequential greedy scan, which has no parallel
    equivalent.

    Scale shape: identical to the IVF index build — the cells of
    :func:`_ivf_cells`, joined to their members by
    :func:`_ivf_members`; the cell id is the shuffle key and the pair
    compare happens only inside a cell (cells are corpus/CENT_STRIDE,
    so per-cell work is bounded by the stride, not the corpus).  One
    aggregation (max-cosine-to-lower) reduces the pair stream back to
    one row per vector before the verdict; a NULL cosine (zero-norm
    vector) drops out of the max, as in the oracle's MAX."""
    emb = spread(t(spark, sf_dir, "embeddings"))
    vec = emb.select(
        "vec_id", "embedding",
        _norm("embedding").alias("nrm")).cache()
    n = corpus_size(sf_dir)
    cell = _ivf_cells(vec, n)
    member = _ivf_members(vec, cell, n)
    lower = member.select(F.col("vec_id").alias("b_id"),
                          F.col("embedding").alias("b_emb"),
                          F.col("nrm").alias("b_nrm"),
                          F.col("cell_id").alias("b_cell"))
    pair_cos = _cosine("embedding", "b_emb", "nrm", "b_nrm")
    lower_cos = (
        member.join(lower, (F.col("cell_id") == F.col("b_cell"))
                    & (F.col("b_id") < F.col("vec_id")))
        .groupBy("vec_id")
        .agg(F.max(pair_cos).alias("max_cos_lower")))
    return (cell.join(lower_cos, "vec_id", "left")
            .select("vec_id", "cell_id", "max_cos_lower",
                    F.coalesce(F.col("max_cos_lower") >= SEMDEDUP_T,
                               F.lit(False)).alias("is_redundant")))


# ------------------------------------------- IVF+PQ composite index
IVFPQ_SQL = f"""
WITH vec AS (
  SELECT vec_id, embedding,
         sqrt((SELECT SUM(CAST(e AS DOUBLE) * CAST(e AS DOUBLE))
               FROM (SELECT UNNEST(embedding) AS e))) AS nrm
  FROM embeddings),
icent AS (
  SELECT vec_id AS cent_id, embedding AS c_emb, nrm AS c_nrm
  FROM vec WHERE vec_id % {CENT_STRIDE} = 0),
iassign AS (
  SELECT v.vec_id, c.cent_id,
         ROW_NUMBER() OVER (
           PARTITION BY v.vec_id
           ORDER BY ROUND((SELECT SUM(ae * be) FROM (
                      SELECT CAST(UNNEST(v.embedding) AS DOUBLE) AS ae,
                             CAST(UNNEST(c.c_emb) AS DOUBLE) AS be))
                    / (v.nrm * c.c_nrm), 6) DESC, c.cent_id) AS rk
  FROM vec v CROSS JOIN icent c),
cell AS (
  SELECT vec_id, cent_id AS cell_id FROM iassign WHERE rk = 1),
pcent AS (
  SELECT vec_id AS cent_id, embedding AS c_emb
  FROM vec WHERE vec_id % {CB_STRIDE} = 0),
passign AS (
  SELECT v.vec_id, b.m, c.cent_id,
         {_PQ_D2_SQL} AS d2
  FROM vec v
  CROSS JOIN (SELECT unnest(range({M_BLOCKS})) AS m) b
  CROSS JOIN pcent c),
codes AS (
  SELECT vec_id, m, cent_id FROM (
    SELECT vec_id, m, cent_id,
           ROW_NUMBER() OVER (PARTITION BY vec_id, m
                              ORDER BY d2, cent_id) AS rk
    FROM passign) WHERE rk = 1),
qd AS (
  SELECT vec_id AS query_id, m, cent_id, d2
  FROM passign WHERE vec_id % {QUERY_STRIDE} = 0),
adc AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         SUM(CAST(q.d2 AS DECIMAL(38,10))) AS s
  FROM codes c
  JOIN cell nc ON nc.vec_id = c.vec_id
  JOIN qd q ON q.m = c.m AND q.cent_id = c.cent_id
  JOIN cell qc ON qc.vec_id = q.query_id
              AND qc.cell_id = nc.cell_id
  WHERE c.vec_id <> q.query_id
  GROUP BY q.query_id, c.vec_id),
ranked AS (
  SELECT query_id, neighbor_id,
         ROUND(CAST(CAST(s AS VARCHAR) AS DOUBLE), 6) AS approx_d2,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY s, neighbor_id) AS rank
  FROM adc)
SELECT query_id, neighbor_id, approx_d2, CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= {TOP_K}
"""


@query("sims_ivfpq_ann", IVFPQ_SQL)
def sims_ivfpq_ann(spark, sf_dir):
    """IVF+PQ composite index — the FAISS-style production ANN
    (Jégou et al., TPAMI'11): the coarse quantizer restricts each
    query to its IVF cell, and WITHIN the cell candidates are scored
    from their product-quantization codes by asymmetric distance —
    the corpus-wide scan touches only cell-filtered CODE rows, never
    raw vectors.  Composes the two verified stages (sims_ivf_ann's
    cell assignment, sims_pq_adc's code/ADC machinery); the oracle
    composes the same CTEs, so the integration is hash-checked.

    Scale shape: the cells of :func:`_ivf_cells` and the codes of
    :func:`_pq_codes`, both argmins min-struct aggregations over
    broadcast quantizer tables (IVF cells ~ sqrt(n) via
    cent_stride_for, PQ codebook bounded by CB_STRIDE).  The ADC
    join is ONE equi-join on (block, code, cell) between the
    cell-tagged code rows (:func:`_ivf_members`) and the query-sided
    distance table; each small side goes through
    :func:`io.broadcast_within_budget`.  ADC sums accumulate
    6-rounded block distances in DECIMAL — order-independent,
    engine-exact (plans in plans/r16 to plans/r18)."""
    from ..io import broadcast_within_budget

    emb = spread(t(spark, sf_dir, "embeddings"))
    vec = emb.select("vec_id", "embedding",
                     _norm("embedding").alias("nrm")).cache()
    n = corpus_size(sf_dir)
    cell = _ivf_cells(vec, n)
    codes_n = _ivf_members(_pq_codes(vec, n).drop("d2"), cell, n)
    qd = _pq_d2(vec, n, queries=True).withColumnRenamed(
        "vec_id", "query_id")
    qcell = cell.filter(F.col("vec_id") % QUERY_STRIDE == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("cell_id").alias("q_cell"))
    # query-side budget gates: ~48 B per (query, cell) row, 64 B
    # per query-sided (query, m, cent, d2, cell) row
    n_q = n // QUERY_STRIDE + 1
    n_cb = n // cb_stride_for(n) + 1
    qcell = broadcast_within_budget(qcell, n_q * 48)
    cq = broadcast_within_budget(qd.join(qcell, "query_id"),
                                 n_q * M_BLOCKS * n_cb * 64)
    adc = (codes_n.join(cq, (codes_n.m == cq.m)
                        & (codes_n.cent_id == cq.cent_id)
                        & (F.col("cell_id") == F.col("q_cell"))
                        & (F.col("vec_id") != F.col("query_id")))
           .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
           .agg(F.sum(F.col("d2").cast("decimal(38,10)")).alias("s")))
    w = Window.partitionBy("query_id").orderBy("s", "neighbor_id")
    return (adc.withColumn("rank", F.row_number().over(w).cast("int"))
            .filter(F.col("rank") <= TOP_K)
            .select("query_id", "neighbor_id",
                    F.round(F.col("s").cast("double"), 6)
                    .alias("approx_d2"), "rank"))


# ----------------------------------------------- k-means (Lloyd)
#: refinement iterations (unrolled identically in the SQL oracle).
KMEANS_ITERS = 2

#: lineage-truncation cadence for the chained Lloyd loop: one eager
#: localCheckpoint every this-many iterations keeps the analyzed
#: plan bounded if KMEANS_ITERS is raised, while the default 2
#: iterations chain checkpoint-free into a single job.
_KMEANS_CHAIN_DEPTH = 4

#: corpora whose components already passed the magnitude guard this
#: session (the check is a data property of the corpus FILES, so one
#: green reading per physical corpus suffices — r13 ADVICE: the
#: guard runs on the PRODUCTION path, not behind a debug env var).
#: Keyed on (dir, file size/mtime fingerprint), NOT the path alone:
#: a corpus rewritten in-place (tmp-dir reuse in tests, a refreshed
#: corpus in a long-lived service) must re-earn its green reading
#: (r14 ADVICE).
_KMEANS_MAG_OK: set[tuple] = set()


def _corpus_fingerprint(sf_dir: str) -> tuple:
    """(sf_dir, (name, size, mtime_ns)...) for the embeddings parquet
    file/dir — cheap stat-only identity of the physical corpus."""
    import os

    path = os.path.join(sf_dir, "embeddings.parquet")
    ents = []
    try:
        if os.path.isdir(path):
            for name in sorted(os.listdir(path)):
                st = os.stat(os.path.join(path, name))
                ents.append((name, st.st_size, st.st_mtime_ns))
        else:
            st = os.stat(path)
            ents.append(("", st.st_size, st.st_mtime_ns))
    except OSError:
        # unstat-able corpus -> unique key, never memo-hits
        ents.append(("?", -1, id(object())))
    return (sf_dir, tuple(ents))


def _assert_kmeans_magnitude(vlong, sf_dir: str) -> None:
    """Fail LOUDLY when embedding components are too large for the
    1e8-scaled long accumulation to stay provably equal to the
    DECIMAL(38,10) oracle: sum over dim of round(term*1e8) must stay
    under 2^53, i.e. max|v| <= sqrt(2^53 / (4e8*dim)) (centroids are
    means of components, so |v-c| <= 2*max|v|); asserted at half the
    derived bound for margin.  One cheap agg over the already-cached
    vlong, memoized per corpus fingerprint (success only)."""
    key = _corpus_fingerprint(sf_dir)
    if key in _KMEANS_MAG_OK:
        return
    row = vlong.agg(
        F.max(F.abs(F.col("v"))).alias("m"),
        (F.max("pos") + 1).alias("dim")).first()
    m, dm = row["m"] or 0.0, row["dim"] or 1
    bound = 0.5 * ((2.0 ** 53) / (4e8 * dm)) ** 0.5
    if m > bound:
        raise AssertionError(
            f"kmeans long-scaled sum precondition violated: "
            f"max|component| {m:.4g} exceeds {bound:.4g} at "
            f"dim={dm} — the 1e8-scaled long accumulation is no "
            f"longer provably equal to the DECIMAL(38,10) oracle; "
            f"rescale the corpus or lower the scale factor (see "
            f"derivation in sims_kmeans_lloyd)")
    _KMEANS_MAG_OK.add(key)


def _kmeans_oracle() -> str:
    """Unrolled-Lloyd oracle: seed centroids from the stride sample,
    then KMEANS_ITERS rounds of (assign by rounded squared-L2 argmin,
    recompute per-dimension DECIMAL-exact means)."""
    header = f"""
WITH vlong AS (
  SELECT vec_id, i.i AS pos,
         CAST(embedding[i.i + 1] AS DOUBLE) AS v
  FROM embeddings, (SELECT unnest(range({DIM})) AS i) i),
cent0 AS (
  SELECT vec_id AS cent_id, pos, v AS c
  FROM vlong WHERE vec_id % {CENT_STRIDE} = 0)"""
    steps = []
    for it in range(KMEANS_ITERS):
        steps.append(f"""
d{it} AS (
  SELECT vl.vec_id, c.cent_id,
         ROUND(CAST(CAST(SUM(CAST(ROUND((vl.v - c.c) * (vl.v - c.c), 8)
                                  AS DECIMAL(38,10))) AS VARCHAR)
                    AS DOUBLE), 6) AS d2
  FROM vlong vl JOIN cent{it} c ON c.pos = vl.pos
  GROUP BY vl.vec_id, c.cent_id),
a{it} AS (
  SELECT vec_id, cent_id, d2 FROM (
    SELECT vec_id, cent_id, d2,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY d2, cent_id) AS rk
    FROM d{it}) WHERE rk = 1),
cent{it + 1} AS (
  SELECT a.cent_id, vl.pos,
         CAST(CAST(SUM(CAST(vl.v AS DECIMAL(38,10))) AS VARCHAR)
              AS DOUBLE) / COUNT(*) AS c
  FROM a{it} a JOIN vlong vl ON vl.vec_id = a.vec_id
  GROUP BY a.cent_id, vl.pos)""")
    last = KMEANS_ITERS - 1
    return (header + "," + ",".join(steps) + f"""
SELECT a.cent_id AS cluster_id,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       ROUND(CAST(CAST(SUM(CAST(a.d2 AS DECIMAL(38,10))) AS VARCHAR)
                  AS DOUBLE), 6) AS inertia
FROM a{last} a GROUP BY a.cent_id""")


@query("sims_kmeans_lloyd", _kmeans_oracle())
def sims_kmeans_lloyd(spark, sf_dir):
    """Lloyd's k-means over the embedding corpus, {ITERS} refinement
    iterations from the deterministic stride seeding — the iterative
    ML shape (assign -> recompute means -> repeat) the IVF/PQ
    quantizers would use to TRAIN their centroids instead of raw
    seeding.  Returns per-cluster membership counts and inertia
    (the sum of assigned squared distances — the quantity Lloyd
    descends).

    Scale shape: each iteration is (a) a centroid-broadcast map-side
    distance computation + per-vector argmin — centroids are the
    bounded quantizer table, so assignment never shuffles the corpus
    — and (b) one map-side-combined shuffle to k·dim partial sums
    for the mean update.  The argmin is a min-over-struct
    AGGREGATION (partial-aggregable, combines map-side, no per-key
    sort), not a row_number window — same skew-safe choice as the
    cluster-representative keep-best.  All iterations CHAIN into one
    plan (r11 verdict #5: the per-iteration eager localCheckpoints
    made this the sweep's only absolute-rule sleeper at 3.5s — four
    checkpoint jobs' scheduling floors on a 0.3s compute); a
    truncation point every _KMEANS_CHAIN_DEPTH iterations bounds
    plan growth if the constant is ever raised, and at the default
    2 iterations the whole query is ONE job plus its broadcasts.
    Float discipline: squared-distance terms pre-rounded to 8dp and
    accumulated EXACTLY as 1e8-scaled longs (provably equal to the
    oracle's DECIMAL(38,10) sum — see the inline derivation — at
    whole-stage-codegen speed), means DECIMAL-exact per dimension,
    argmin ties broken by centroid id (struct comparison orders by
    d2 then cent_id — identical tie-break) — bit-identical to the
    unrolled-CTE oracle."""
    emb = spread(t(spark, sf_dir, "embeddings"))
    vlong = (emb.select("vec_id", F.posexplode("embedding")
                        .alias("pos", "vf"))
             .select("vec_id", "pos",
                     F.col("vf").cast("double").alias("v"))
             ).cache()
    # eager materialization: the chained plan references vlong from
    # FIVE subtrees (two broadcast exchanges + three probe/update
    # sides); populating the cache up-front measured ~0.5s faster
    # than letting the first subtree race to fill it (r12 A/B:
    # 3.23s lazy vs 2.73s eager at sf0.1)
    vlong.count()
    # component-magnitude guard (r12 ADVICE, made UNCONDITIONAL per
    # r13 ADVICE): the exact long-scaled sum below silently depends
    # on embedding components staying O(1) — sum over dim of
    # round(term*1e8) must stay under 2^53, i.e. max|v| <=
    # sqrt(2^53 / (4e8 * dim)) (centroids are means of components,
    # so |v-c| <= 2*max|v|).  One cheap agg over the already-cached
    # vlong, memoized per corpus dir for the session, so a rescaled
    # corpus fails LOUDLY on the production path instead of drifting
    # from the DECIMAL oracle in the last bit; asserted at half the
    # derived bound for margin.
    _assert_kmeans_magnitude(vlong, sf_dir)
    cent = (vlong.filter(
        F.col("vec_id") % cent_stride_for(corpus_size(sf_dir)) == 0)
        .select(F.col("vec_id").alias("cent_id"), "pos",
                F.col("v").alias("c")))
    assign = None
    for it in range(KMEANS_ITERS):
        term = F.round((F.col("v") - F.col("c"))
                       * (F.col("v") - F.col("c")), 8)
        # exact LONG-scaled accumulation of the 8dp-rounded terms:
        # term is k/1e8 with k an integer < 4e8 (embedding deltas are
        # O(1)), recovered exactly by round(term*1e8) — the double
        # holding k/1e8 is within 4.4e-16 of it, so scaling back up
        # errs < 5e-8, far under the 0.5 rounding margin.  A long sum
        # of <= dim such terms stays < 2^53, so sum/1e8 is the SAME
        # real number the DECIMAL(38,10) sum surfaces — bit-identical
        # to the oracle, but whole-stage-codegen long math instead of
        # per-row BigDecimal (r12 A/B: 3.8 -> 2.9s at sf0.1; verified
        # value-identical to the decimal form at all three SFs).
        t8 = F.round(term * F.lit(1e8), 0).cast("long")
        d2 = (vlong.join(F.broadcast(cent), "pos")
              .groupBy("vec_id", "cent_id")
              .agg(F.round((F.sum(t8) / F.lit(1e8)).cast("double"),
                           6).alias("d2")))
        best = (d2.groupBy("vec_id")
                .agg(F.min(F.struct("d2", "cent_id")).alias("s")))
        assign = best.select("vec_id", F.col("s.cent_id").alias("cent_id"),
                             F.col("s.d2").alias("d2"))
        if (it + 1) % _KMEANS_CHAIN_DEPTH == 0 \
                and it + 1 < KMEANS_ITERS:
            assign = assign.localCheckpoint(eager=True)
        cent = (assign.join(vlong, "vec_id")
                .groupBy("cent_id", "pos")
                .agg((F.sum(F.col("v").cast("decimal(38,10)"))
                      .cast("double") / F.count(F.lit(1))).alias("c")))
    return (assign.groupBy(F.col("cent_id").alias("cluster_id"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_members"),
                 F.round(F.sum(F.col("d2").cast("decimal(38,10)"))
                         .cast("double"), 6).alias("inertia")))


# ----------------------------- oracle validity knees (see queries/
# __init__.py ORACLE_SCALE_KNEES): corpus size at which each
# adaptive fan-out knob leaves its test-scale floor value, i.e. the
# last corpus size at which the static oracle SQL still matches the
# Spark plan bit-for-bit.
_KNEE_PLANES = TARGET_BUCKET_OCC << N_PLANES        # planes_for
_KNEE_NEARDUP = NEARDUP_OCC << NEARDUP_PLANES       # neardup_planes
_KNEE_CENT = _STRIDE_KNEE                           # cent_stride_for
_KNEE_CB = CB_STRIDE * CB_CODES                     # cb_stride_for
for _name, _knee in {
    "sims_ann_lsh_bucketed": _KNEE_PLANES,
    "sims_bucket_balance": _KNEE_PLANES,
    "dedup_embedding_cosine": _KNEE_NEARDUP,
    "dedup_incremental_embedding": _KNEE_NEARDUP,
    "sims_range_search": _KNEE_NEARDUP,
    "sims_cosine_histogram": _KNEE_NEARDUP,
    "sims_ivf_ann": _KNEE_CENT,
    "sims_ivf_multiprobe": _KNEE_CENT,
    "dedup_semantic_cells": _KNEE_CENT,
    "sims_kmeans_lloyd": _KNEE_CENT,
    "sims_pq_adc": _KNEE_CB,
    "sims_pq_distortion": _KNEE_CB,
    "sims_ivfpq_ann": min(_KNEE_CENT, _KNEE_CB),
}.items():
    register_oracle_knee(_name, _knee)


# ------------------------------ hybrid retrieval (RRF fusion)
#: reciprocal-rank-fusion constant (Cormack et al., SIGIR'09 — 60 is
#: the published default).
RRF_K = 60
#: fused candidates kept per query.
RRF_TOP = 5

from . import REGISTRY as _SREG  # noqa: E402

HYBRID_RRF_SQL = f"""
WITH lex_pairs AS ({_SREG["text_tfidf_cosine_pairs"].oracle}),
ann AS ({_SREG["sims_ann_lsh_bucketed"].oracle}),
lex_sym AS (
  SELECT doc_a AS query_id, doc_b AS cand, cosine FROM lex_pairs
  UNION ALL
  SELECT doc_b AS query_id, doc_a AS cand, cosine FROM lex_pairs),
lexr AS (
  SELECT query_id, cand,
         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, cand)
              AS INTEGER) AS lex_rank
  FROM lex_sym WHERE query_id % {{stride}} = 0),
annr AS (
  SELECT query_id, neighbor_id AS cand, CAST(rank AS INTEGER) AS vec_rank
  FROM ann),
fused AS (
  SELECT COALESCE(l.query_id, a.query_id) AS query_id,
         COALESCE(l.cand, a.cand) AS candidate_id,
         l.lex_rank, a.vec_rank,
         ROUND(COALESCE(CAST(1.0 AS DOUBLE) / ({RRF_K} + l.lex_rank),
                        CAST(0.0 AS DOUBLE))
               + COALESCE(CAST(1.0 AS DOUBLE) / ({RRF_K} + a.vec_rank),
                          CAST(0.0 AS DOUBLE)), 6) AS rrf_score
  FROM lexr l
  FULL OUTER JOIN annr a
    ON a.query_id = l.query_id AND a.cand = l.cand)
SELECT query_id, candidate_id, lex_rank, vec_rank, rrf_score,
       CAST(fr AS INTEGER) AS fused_rank
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY rrf_score DESC, candidate_id) AS fr
  FROM fused) z
WHERE fr <= {RRF_TOP}
""".format(stride=QUERY_STRIDE)


@query("sims_hybrid_rrf", HYBRID_RRF_SQL)
def sims_hybrid_rrf(spark, sf_dir):
    """Hybrid retrieval: reciprocal-rank fusion (public literature:
    Cormack, Clarke & Buettcher, SIGIR'09) of the LEXICAL ranking
    (TF-IDF cosine pairs — the inverted-index join) and the VECTOR
    ranking (sign-LSH bucketed ANN) for the shared query set.  Each
    candidate scores sum 1/(k+rank) over the lists that retrieved it
    — the standard way modern retrieval stacks combine BM25-style
    and embedding search without score calibration, and the
    retrieval-side complement of the lexical+semantic DEDUP pairing
    this engine already ships.

    Composes two driver-verified operators (the lexical leg through
    its query-sided twin, proven bit-equal in tests); the oracle
    inlines their SQL verbatim, so the fused ranking is
    hash-verified end to end.
    Scale shape: both inputs are already bounded per query (top-k /
    threshold-filtered); fusion is one full-outer join on
    (query, candidate) plus a per-query top-{RRF_TOP} window —
    query-partitioned, no corpus-sized state."""
    from .text import tfidf_query_cosine

    # bit-equal to symmetrizing text_tfidf_cosine_pairs and keeping
    # strided queries, but probes only the query docs' posting mass
    # (~1/stride) against the inverted index — see tfidf_query_cosine
    lex_sym = tfidf_query_cosine(spark, sf_dir, QUERY_STRIDE)
    wl = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("cand"))
    lexr = lex_sym.select(
        "query_id", "cand",
        F.row_number().over(wl).cast("int").alias("lex_rank"))
    ann = sims_ann_lsh_bucketed(spark, sf_dir).select(
        F.col("query_id").alias("a_query_id"),
        F.col("neighbor_id").alias("a_cand"),
        F.col("rank").cast("int").alias("vec_rank"))
    fused = (lexr.join(
        ann, (F.col("a_query_id") == F.col("query_id"))
        & (F.col("a_cand") == F.col("cand")), "full_outer")
        .select(
            F.coalesce(F.col("query_id"), F.col("a_query_id"))
            .alias("query_id"),
            F.coalesce(F.col("cand"), F.col("a_cand"))
            .alias("candidate_id"),
            "lex_rank", "vec_rank",
            F.round(
                F.coalesce(F.lit(1.0) / (RRF_K + F.col("lex_rank")),
                           F.lit(0.0))
                + F.coalesce(F.lit(1.0) / (RRF_K + F.col("vec_rank")),
                             F.lit(0.0)), 6).alias("rrf_score")))
    wf = Window.partitionBy("query_id").orderBy(
        F.col("rrf_score").desc(), F.col("candidate_id"))
    return (fused.withColumn("fused_rank",
                             F.row_number().over(wf).cast("int"))
            .filter(F.col("fused_rank") <= RRF_TOP))


# inherits sims_ann_lsh_bucketed's plane-count validity range (its
# oracle is inlined verbatim)
register_oracle_knee("sims_hybrid_rrf", _KNEE_PLANES)
