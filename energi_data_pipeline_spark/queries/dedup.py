"""Deduplication operators over the ``documents`` table.

The LLM-pipeline dedup family (BASELINE.json north star):

* exact dedup           — hash-groupBy on normalized content
* MinHash               — portable universal-hash signatures
* MinHash-LSH           — banded bucket join -> candidate pairs
* SimHash               — bit-majority fingerprint
* n-gram Jaccard        — relational shingle-join similarity

Scale shape: signatures/fingerprints are map-only stages; candidate
generation joins on (band, band key) — a MinHash band key is the
band's exact minhash values (``band_long``) — or on shingle keys:
the classic shuffle-on-small-keys pattern that scales linearly with
corpus size instead of the quadratic all-pairs compare.  All of it
is Catalyst expressions; the oracle runs the identical logic in
DuckDB SQL (list_transform/list_min + the same md5-derived 56-bit
hashes).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window, functions as F

from ..functions.hashing import (MERSENNE_P, base_hashes,
                                 minhash_from_hashes, minhash_seed,
                                 stable_hash64)
from ..io import spread
from . import query
from .core import t
from .text import TOKENS_SQL, tokens_col

NUM_HASHES = 8
# 2 bands x 4 hashes: candidate threshold ~ (1/2)^(1/4) ≈ 0.84
# estimated Jaccard — strict enough that same-vocabulary corpora
# don't explode the candidate-pair space quadratically.
NUM_BANDS = 2
ROWS_PER_BAND = NUM_HASHES // NUM_BANDS

#: documents-corpus knee for the signature width: through this many
#: docs the signature keeps the (NUM_HASHES, NUM_BANDS) test-scale
#: floor — the static oracles bake those values, so every test-SF
#: oracle is unchanged (registered in ORACLE_SCALE_KNEES) — then
#: widens toward the 64-128-hash production regime.
SIG_KNEE = 1 << 17  # 131072 docs
MAX_HASHES = 128
#: the floor's candidate threshold (1/2)^(1/4) ≈ 0.84 estimated
#: Jaccard — wider signatures choose the banding whose threshold
#: stays closest to this operating point.
_T_STAR = (1.0 / NUM_BANDS) ** (1.0 / ROWS_PER_BAND)


def minhash_params(n_docs: int) -> tuple[int, int]:
    """``(num_hashes, num_bands)`` for a corpus of ``n_docs``: the
    (NUM_HASHES, NUM_BANDS) floor through SIG_KNEE documents, then
    the signature DOUBLES per 4x corpus growth, capped at
    MAX_HASHES.  An 8-hash signature gives 1/8-granularity Jaccard
    estimates and a shallow S-curve — fine for thousands of docs,
    far too coarse for billions (production-grade is 64-128 hashes,
    e.g. Lee et al., "Deduplicating Training Data Makes Language
    Models Better").  The banding is then the divisor split
    (b, r = nh/b) whose threshold (1/b)^(1/r) lands closest to the
    floor's ~0.84 operating point (ties -> more rows per band, the
    sharper S-curve), so scaling the signature width does not move
    the near-dup operating point."""
    import math

    if n_docs <= SIG_KNEE:
        return NUM_HASHES, NUM_BANDS
    doublings = math.ceil(math.log(n_docs / SIG_KNEE) / math.log(4))
    nh = min(MAX_HASHES, NUM_HASHES << doublings)
    nb = min(
        (b for b in range(1, nh + 1) if nh % b == 0),
        key=lambda b: (abs((1.0 / b) ** (b / nh) - _T_STAR), b))
    return nh, nb


def docs_corpus_size(sf_dir: str) -> int:
    """Row count of the documents corpus (parquet-footer peek, no
    Spark job; cached on path+mtime+size)."""
    import os

    from ..io import parquet_row_count

    return parquet_row_count(os.path.join(sf_dir, "documents.parquet"))

NORM_SQL = "lower(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g'))"


def norm_col():
    return F.lower(F.regexp_replace(F.col("text"), "[^a-zA-Z0-9 ]", ""))


# 3-token shingles: MinHash over raw unigrams is degenerate when the
# corpus shares a small vocabulary (every token set ≈ the vocabulary,
# so every pair looks near-identical); shingling first is the
# standard fix and keeps the candidate-pair space sane.
SHINGLE_W = 3

SHINGLES_SQL = (
    "list_distinct(list_transform("
    "range(1, greatest(len({toks}) - {wm1}, 0) + 1), "
    "i -> {toks}[i] || ' ' || {toks}[i+1] || ' ' || {toks}[i+2]))"
).format(toks=TOKENS_SQL, wm1=SHINGLE_W - 1)


def shingles_from_tokens(tk):
    """3-token shingles over a MATERIALIZED token-array column.

    ``tk`` must be a plain attribute (cached or shuffled), not an
    expression: the lambda body indexes it three times per shingle
    position, and an inlined ``split()`` would re-execute once per
    index access instead of once per document."""
    n = F.size(tk) - (SHINGLE_W - 1)
    # guard: Spark's sequence(1, 0) counts DOWN — short docs need an
    # explicit empty index list (DuckDB's range(1, 1) is already [])
    idx = F.when(n >= 1, F.sequence(F.lit(1), n)) \
        .otherwise(F.expr("CAST(array() AS array<int>)"))
    return F.array_distinct(F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", F.element_at(tk, i), F.element_at(tk, i + 1),
            F.element_at(tk, i + 2)),
    ))


# ------------------------------------------------- MinHash-LSH kernel
# Every MinHash consumer (the batch pair query, the banding sweep and
# the streaming index) signs and bands through these three functions.
# They are plain lazy projections/joins: Catalyst does not inline a
# non-cheap projection (the split, the md5 pass) that is referenced
# more than once, so no cache is needed to keep one split and one md5
# pass per document.

def minhash_signatures(df, nh: int):
    """``doc_id, mh0..mh{nh-1}`` for a ``doc_id, text`` frame: tokens
    -> 3-token shingles -> 31-bit base hashes -> ``nh`` minima."""
    toks = df.select("doc_id", tokens_col(F.col("text")).alias("tk"))
    hashed = toks.select(
        "doc_id",
        base_hashes(shingles_from_tokens(F.col("tk"))).alias("hl"))
    return hashed.select(
        "doc_id",
        *[minhash_from_hashes(F.col("hl"), k).alias(f"mh{k}")
          for k in range(nh)])


def band_long(sigs, nh: int, nb: int):
    """One ``doc_id, band, key`` row per (doc, band).  The key is the
    band's ``nh // nb`` minhash values as ``array<bigint>``: two docs
    share a band exactly when those values are equal, so the bucket
    join needs no hashed or string-built key."""
    rpb = nh // nb
    return sigs.select(
        "doc_id",
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"),
                     F.array(*[F.col(f"mh{b * rpb + r}")
                               for r in range(rpb)]).alias("key"))
            for b in range(nb)])).alias("bk"),
    ).select("doc_id", "bk.band", "bk.key")


def candidate_pairs(long):
    """Distinct ``doc_a < doc_b`` pairs sharing at least one band."""
    l, r = long.alias("l"), long.alias("r")
    return (
        l.join(r, (F.col("l.band") == F.col("r.band"))
               & (F.col("l.key") == F.col("r.key"))
               & (F.col("l.doc_id") < F.col("r.doc_id")))
        .select(F.col("l.doc_id").alias("doc_a"),
                F.col("r.doc_id").alias("doc_b"))
        .distinct()
    )


# ------------------------------------------------------------ exact
@query(
    "dedup_exact",
    f"""WITH keyed AS (
          SELECT doc_id, source, md5({NORM_SQL}) AS content_key
          FROM documents)
        SELECT content_key,
               MIN(doc_id) AS keep_doc_id,
               COUNT(*) AS n_copies
        FROM keyed
        GROUP BY content_key""",
)
def dedup_exact(spark, sf_dir):
    """Exact dedup: hash-groupBy on normalized content, keep the
    lowest doc_id per group (deterministic representative).  No
    spread(): one md5 per doc is lighter than the fan-out shuffle
    (measured 0.5s vs 0.8s at sf0.1)."""
    d = t(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.md5(norm_col()).alias("content_key"))
        .groupBy("content_key")
        .agg(F.min("doc_id").alias("keep_doc_id"),
             F.count(F.lit(1)).alias("n_copies"))
    )


# ----------------------------------------------- incremental exact
#: doc_id threshold splitting the table into "existing corpus" and
#: "new batch" — stands in for the historical keep-set a production
#: pipeline maintains between ingest runs.
INCR_SPLIT = 400

INCR_DEDUP_SQL = f"""
WITH keyed AS (
  SELECT doc_id, md5({NORM_SQL}) AS content_key
  FROM documents),
corpus AS (
  SELECT DISTINCT content_key FROM keyed WHERE doc_id < {INCR_SPLIT}),
batch AS (
  SELECT doc_id, content_key FROM keyed WHERE doc_id >= {INCR_SPLIT}),
firsts AS (
  SELECT content_key, MIN(doc_id) AS first_doc
  FROM batch GROUP BY content_key)
SELECT b.doc_id, b.content_key,
       (b.doc_id = f.first_doc
        AND b.content_key NOT IN (SELECT content_key FROM corpus))
         AS is_new
FROM batch b JOIN firsts f USING (content_key)
"""


@query("dedup_incremental_exact", INCR_DEDUP_SQL)
def dedup_incremental_exact(spark, sf_dir):
    """Incremental exact dedup — the shape a production pipeline
    actually runs at 100 TB: a NEW ingest batch deduped against the
    EXISTING corpus keep-set, never a full-corpus re-dedup.  A doc
    survives (``is_new``) iff it is the first holder of its content
    key within the batch (first-writer-wins, as
    ``io.anti_join_new``) AND the key is absent from the corpus.

    Scale shape: the corpus side is reduced map-side to DISTINCT
    md5 keys (one narrow column — the keep-set a real pipeline
    stores precomputed); the batch shuffles once on content_key for
    the within-batch firsts, and corpus membership is a left join
    on the same key carrying 16-byte keys, not documents.  All
    three exchanges share the content_key partitioning, and the
    batch is typically orders of magnitude smaller than the corpus,
    so AQE broadcasts the batch-derived sides, never the corpus."""
    d = t(spark, sf_dir, "documents")
    keyed = d.select("doc_id", F.md5(norm_col()).alias("content_key"))
    corpus = (keyed.filter(F.col("doc_id") < INCR_SPLIT)
              .select("content_key").distinct()
              .withColumn("in_corpus", F.lit(True)))
    batch = keyed.filter(F.col("doc_id") >= INCR_SPLIT)
    firsts = (batch.groupBy("content_key")
              .agg(F.min("doc_id").alias("first_doc")))
    return (
        batch.join(firsts, "content_key")
        .join(corpus, "content_key", "left")
        .select("doc_id", "content_key",
                ((F.col("doc_id") == F.col("first_doc"))
                 & F.col("in_corpus").isNull()).alias("is_new"))
    )


# ---------------------------------------------------------- minhash
#: base-hash CTE — the md5 work happens once per shingle; the k
#: universal-hash minima are cheap arithmetic over the hash list.
_HS_CTE = (
    "hs AS (SELECT doc_id, list_transform({shingles}, t -> "
    "('0x' || substr(md5(t), 1, 14))::BIGINT % {p}) AS hl "
    "FROM documents)"
).format(shingles=SHINGLES_SQL, p=MERSENNE_P)


def _minhash_term_sql(k: int) -> str:
    a, b = minhash_seed(k)
    return (f"list_min(list_transform(hl, h -> (h * {a} + {b})"
            f" % {MERSENNE_P}))")


MINHASH_SQL_COLS = ",\n               ".join(
    f"{_minhash_term_sql(k)} AS mh{k}" for k in range(NUM_HASHES))


@query(
    "dedup_minhash_signature",
    f"""WITH {_HS_CTE}
        SELECT doc_id,
               {MINHASH_SQL_COLS}
        FROM hs""",
)
def dedup_minhash_signature(spark, sf_dir):
    """MinHash signatures (3-token shingles -> 8 universal hashes).
    Map-only; the signature replaces the document for all downstream
    similarity work (constant width regardless of doc length)."""
    nh, _ = minhash_params(docs_corpus_size(sf_dir))
    return minhash_signatures(spread(t(spark, sf_dir, "documents")), nh)


# ------------------------------------------------------ minhash-LSH
_BAND_KEYS_SQL = ",\n               ".join(
    "md5(" + " || '_' || ".join(
        f"CAST(mh{b * ROWS_PER_BAND + r} AS VARCHAR)"
        for r in range(ROWS_PER_BAND)) + f") AS band{b}"
    for b in range(NUM_BANDS))


@query(
    "dedup_minhash_lsh_pairs",
    f"""WITH {_HS_CTE},
        sigs AS (
          SELECT doc_id, {MINHASH_SQL_COLS}
          FROM hs),
        banded AS (
          SELECT doc_id, {_BAND_KEYS_SQL}
          FROM sigs),
        long AS (
          SELECT doc_id, b.band, b.key
          FROM banded,
               LATERAL (VALUES {", ".join(
                   f"({b}, band{b})" for b in range(NUM_BANDS))})
                 AS b(band, key)),
        pairs AS (
          SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
          FROM long l JOIN long r
            ON l.band = r.band AND l.key = r.key
           AND l.doc_id < r.doc_id),
        est AS (
          SELECT p.doc_a, p.doc_b,
                 (SELECT CAST(
                      (CASE WHEN a.mh0 = b.mh0 THEN 1 ELSE 0 END +
                       CASE WHEN a.mh1 = b.mh1 THEN 1 ELSE 0 END +
                       CASE WHEN a.mh2 = b.mh2 THEN 1 ELSE 0 END +
                       CASE WHEN a.mh3 = b.mh3 THEN 1 ELSE 0 END +
                       CASE WHEN a.mh4 = b.mh4 THEN 1 ELSE 0 END +
                       CASE WHEN a.mh5 = b.mh5 THEN 1 ELSE 0 END +
                       CASE WHEN a.mh6 = b.mh6 THEN 1 ELSE 0 END +
                       CASE WHEN a.mh7 = b.mh7 THEN 1 ELSE 0 END)
                      AS DOUBLE) / {NUM_HASHES}
                  FROM sigs a, sigs b
                  WHERE a.doc_id = p.doc_a AND b.doc_id = p.doc_b)
                   AS est_jaccard
          FROM pairs p)
        SELECT doc_a, doc_b, est_jaccard FROM est
        WHERE est_jaccard >= 0.5""",
)
def dedup_minhash_lsh_pairs(spark, sf_dir):
    """MinHash-LSH candidate pairs: band the signature, join on
    (band, band_key) buckets, dedup pairs, score by signature
    agreement.  The join key space is tiny vs all-pairs — this is
    the 100 TB-safe near-dup shape."""
    nh, nb = minhash_params(docs_corpus_size(sf_dir))
    # the signature table feeds three plan branches (banding + both
    # sides of the verify join) — materialize it once, it's tiny
    sigs = dedup_minhash_signature(spark, sf_dir).cache()
    pairs = candidate_pairs(band_long(sigs, nh, nb))
    a = sigs.alias("a")
    b = sigs.alias("b")
    agree = sum(
        F.when(F.col(f"a.mh{k}") == F.col(f"b.mh{k}"), 1).otherwise(0)
        for k in range(nh))
    # plain joins on doc_id: the signature table is corpus-cardinality,
    # so a hardcoded broadcast would OOM at 10B docs — AQE still picks
    # a broadcast build side whenever the table is actually small
    return (
        pairs.join(a, pairs.doc_a == F.col("a.doc_id"))
        .join(b, pairs.doc_b == F.col("b.doc_id"))
        .select("doc_a", "doc_b",
                (agree.cast("double") / nh).alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= 0.5)
    )


# ---------------------------------------------------------- simhash
SIMHASH_BITS = 16


@query(
    "dedup_simhash",
    f"""WITH toks AS (
          SELECT doc_id,
                 list_distinct({TOKENS_SQL}) AS ts
          FROM documents),
        hashed AS (
          SELECT doc_id,
                 list_transform(ts, t ->
                   ('0x' || substr(md5(t), 1, 14))::BIGINT) AS hs
          FROM toks)
        SELECT doc_id,
               CAST((SELECT SUM(CASE WHEN len(list_filter(hs, h ->
                       (h >> b.b) & 1 = 1)) * 2 > len(hs)
                     THEN 1 << b.b ELSE 0 END)
                     FROM (SELECT unnest(range({SIMHASH_BITS})) AS b) b)
                 AS BIGINT) AS simhash
        FROM hashed""",
)
def dedup_simhash(spark, sf_dir):
    """SimHash fingerprint: per bit position, majority vote of token
    hash bits.  Near-dups differ in few bits (hamming distance);
    map-only like MinHash."""
    d = spread(t(spark, sf_dir, "documents"))
    toks = F.array_distinct(tokens_col(F.col("text")))
    hs = F.transform(
        toks,
        lambda x: F.conv(F.substring(F.md5(x), 1, 14), 16, 10)
        .cast("bigint"))
    hashed = d.select("doc_id", hs.alias("hs"))

    def bit_set(b: int):
        # single-arg closure (see functions.hashing.base_hashes)
        return lambda h: h.bitwiseAND(F.lit(1 << b)) != 0

    bits = [
        F.when(
            F.size(F.filter(F.col("hs"), bit_set(b))) * 2
            > F.size(F.col("hs")),
            F.lit(1 << b)).otherwise(F.lit(0))
        for b in range(SIMHASH_BITS)
    ]
    simhash = bits[0]
    for bcol in bits[1:]:
        simhash = simhash + bcol
    return hashed.select("doc_id", simhash.cast("bigint").alias("simhash"))


# ------------------------------------------------- n-gram Jaccard
NGRAM = 3
#: Jaccard acceptance threshold (shared by Spark plan and oracle).
JACCARD_T = 0.5

#: Gram-mass knee for the gram-stream self-join strategy, keyed on
#: the BROADCAST ESTIMATE of the exploded stream, not on document
#: count (r06 verdict "What's wrong" #1: a 150k-doc corpus of LONG
#: documents explodes to 5-10 GB of grams — the doc-count knob was
#: one corpus shape away from the exact OOM class it was built to
#: prevent).  Estimate: every character of normalized text opens at
#: most one n-gram, so footer-measured UNCOMPRESSED text bytes upper-
#: bound the exploded row count (per-doc DISTINCT only trims it);
#: each row costs ~GRAM_ROW_BCAST_BYTES in the hashed relation
#: (8 B xxhash64 + 8 B doc_id + source ref + open-hash overhead).
#: Below the budget the stream is BROADCAST — measured 2-3x faster
#: than any shuffle join at every rehearsal point (sf0.1 1.75s vs
#: 2.9s SMJ; x10 19.3s vs 41s; x30 62s vs 120s) because the
#: probe+partial-agg pipeline runs in the scan stage with zero
#: gram-stream exchange.  Past it the hashed relation no longer fits
#: an executor budget (an x100 corpus OOM'd an 8 GB heap — found the
#: hard way) and the join is pinned to sort-merge, which spills to
#: disk instead of dying (x100: 755s, 60 GB peak spill, zero
#: failures).  The choice must be EXPLICIT: a parquet scan's size
#: estimate does not model explode fan-out, so left to stats the
#: planner broadcasts whenever the compressed FILE is under the
#: threshold — exactly wrong at x100 (58 MB file -> 71M-row
#: broadcast).  Calibration: the old 150k-doc knee at the test
#: corpus's ~300 B/doc equals 45 MB of text -> 1.44 GB estimated,
#: so a 1.5 GB budget keeps every measured rehearsal point on the
#: same side (x30 at 150k docs broadcasts; x100 at 4.8 GB merges)
#: while a long-doc corpus now correctly refuses the broadcast at
#: ANY document count.
GRAM_ROW_BCAST_BYTES = 32
GRAM_BCAST_MAX_BYTES = 1_500_000_000

#: estimated SERIALIZED gram-stream bytes per byte of document text,
#: for the adaptive persist level of the exploded (doc, source, n,
#: hash) stream: at most one gram occurrence per text character and
#: ~30 B per serialized row -> 64 leaves a >2x margin.  Same lever
#: as the r15 TF-IDF cache-level change (guide §5): serialized
#: MEMORY_AND_DISK while the estimate fits the heap-fraction budget
#: (the stream feeds BOTH self-join sides, so the disk round-trip
#: was paid twice per query), DISK_ONLY past it — blocks stay
#: evictable either way.  Measured at sf0.1: stream materialization
#: 0.84 -> 0.70 s min.
GRAM_CACHE_FACTOR = 64


def _gram_cache_level(spark, sf_dir):
    import os

    from ..io import adaptive_cache_level, parquet_column_bytes

    text_b = parquet_column_bytes(
        os.path.join(sf_dir, "documents.parquet"), "text")
    return adaptive_cache_level(spark, text_b * GRAM_CACHE_FACTOR)

#: Target per-partition gram mass for the post-knee sort-merge
#: branch.  Left at spark.sql.shuffle.partitions (32), the x100
#: rehearsal's containment join put ~1/32 of a ~70 GB gram-pair
#: stream through each task's sorter + pair-count hash aggregate
#: and OOM'd the 8 GiB heap (round-8 rehearsal, shipped plan);
#: re-keying the exchange to 256 partitions ran the identical plan
#: to completion with bounded task memory.  512 MB of ESTIMATED
#: hashed mass per partition reproduces that measured-safe point
#: (x100: 4.8 GB text x 32 B -> 287 partitions) and keeps every
#: smaller corpus at the session's default parallelism.
GRAM_MERGE_TARGET_BYTES = 512 * 1024 * 1024
GRAM_MERGE_MAX_PARTITIONS = 4096


def gram_join_side(gram_build_below_knee, sf_dir,
                   keys=("src_b", "h_b")):
    """Apply the corpus-adaptive join strategy to the build side of
    a gram-stream self-join: the side is only ever broadcast while
    its ESTIMATED hashed size — exploded gram mass derived from
    footer text bytes — fits the byte budget, never open-ended and
    never keyed on document count alone.  The budget is derived
    from the session's actual heap (io.broadcast_budget_bytes,
    capped at GRAM_BCAST_MAX_BYTES == io.BCAST_BUDGET_CAP) so a
    smaller-heap deployment refuses the broadcast instead of
    inheriting the 8 GiB calibration (VERDICT r07 #9)."""
    import os

    from ..io import broadcast_budget_bytes, parquet_column_bytes

    text_bytes = parquet_column_bytes(
        os.path.join(sf_dir, "documents.parquet"), "text")
    budget = broadcast_budget_bytes(
        gram_build_below_knee.sparkSession)
    est_bytes = text_bytes * GRAM_ROW_BCAST_BYTES
    if est_bytes <= budget:
        return F.broadcast(gram_build_below_knee)
    # Past the knee the exchange width must scale with gram mass,
    # not inherit spark.sql.shuffle.partitions — see
    # GRAM_MERGE_TARGET_BYTES.  Repartitioning the build side on
    # its join keys pins the width; ENSURE_REQUIREMENTS then
    # shuffles the probe side to the same width, so both sort runs
    # shrink together.  Missing key columns mean the caller would
    # silently lose this OOM guard (the exact x100 failure the
    # width exists to prevent), so that is a loud warning, not a
    # quiet fallback — only plan-shape tests probing the knee with
    # a stub side should ever hit it.
    side = gram_build_below_knee
    if all(k in side.columns for k in keys):
        width = min(GRAM_MERGE_MAX_PARTITIONS, max(
            side.sparkSession.sparkContext.defaultParallelism,
            -(-est_bytes // GRAM_MERGE_TARGET_BYTES)))
        side = side.repartition(int(width), *keys)
    else:
        import warnings

        warnings.warn(
            "gram_join_side: join keys %r absent from build side %r "
            "— post-knee exchange width NOT applied; past the "
            "broadcast knee this plan inherits the session shuffle "
            "width and can OOM at scale (pass keys= matching the "
            "join columns)" % (keys, side.columns),
            stacklevel=2)
    return side.hint("merge")


@query(
    "dedup_ngram_jaccard",
    f"""WITH norm AS (
          SELECT doc_id, source, {NORM_SQL} AS s
          FROM documents),
        grams AS (
          SELECT DISTINCT doc_id, source,
                 unnest(list_transform(range(1, length(s) - {NGRAM - 2}),
                                       i -> substr(s, i, {NGRAM}))) AS g
          FROM norm),
        sizes AS (
          SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id),
        inter AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 COUNT(*) AS n_common
          FROM grams a JOIN grams b
            ON a.g = b.g AND a.source = b.source
           AND a.doc_id < b.doc_id
          GROUP BY a.doc_id, b.doc_id)
        SELECT i.doc_a, i.doc_b,
               CAST(i.n_common AS DOUBLE)
                 / (sa.n + sb.n - i.n_common) AS jaccard
        FROM inter i
        JOIN sizes sa ON sa.doc_id = i.doc_a
        JOIN sizes sb ON sb.doc_id = i.doc_b
        WHERE CAST(i.n_common AS DOUBLE)
                 / (sa.n + sb.n - i.n_common) >= 0.5""",
)
def dedup_ngram_jaccard(spark, sf_dir):
    """Character n-gram Jaccard similarity as an inverted-index
    COUNT JOIN (round-6 revision, same as the containment twin):
    explode each doc's distinct hashed grams, self-join the gram
    stream on the (source, gram-hash) key with doc_a < doc_b, and
    partially aggregate matches straight into per-pair common-gram
    counts; J = common / (n_a + n_b - common).

    One shuffle chain, map-side combine absorbing hot grams, no
    per-pair array shipping.  The previous PPJoin prefix-filter plan
    (Xiao et al., WWW'08 — rarest n-ceil(t*n)+1 grams as candidates,
    array-intersect verify) was MEASURED SLOWER on every tested
    corpus shape: this corpus's gram distribution is boilerplate-
    heavy (7.5k distinct 11-grams for 713k occurrences), where the
    prefix degenerates (prefix postings as fat as full postings, the
    verify shipping n_a+n_b hashes per candidate pair), and with
    realistic near-unique shingles the count-join is linear in the
    gram stream anyway.  The `source` blocking key bounds the join
    per block in both regimes; the quadratic all-pairs compare never
    materializes.  Gram hashing (xxhash64) shuffles longs instead of
    11-char strings; n_a/n_b come from the ORIGINAL distinct string
    arrays, so a collision cannot change sizes (per-pair count
    collision odds ~300^2/2^64 ≈ 5e-15 — negligible, and the oracle
    parity test would surface it).  Short docs are dropped via the
    cheap length(s) pre-filter — a size(ga) filter invites predicate
    pushdown to inline the gram expression into an interpreted
    Filter (the 43s containment trap)."""
    d = spread(t(spark, sf_dir, "documents"))
    s = norm_col()
    # dynamic-position substring needs the SQL expression form
    # guard: Spark's sequence(1, 0) counts DOWN — docs shorter than
    # one gram need an explicit empty list (DuckDB range is already [])
    ga = F.array_distinct(F.expr(
        f"CASE WHEN length(s) >= {NGRAM} THEN "
        f"transform(sequence(1, length(s) - {NGRAM - 1}), "
        f"i -> substring(s, i, {NGRAM})) "
        f"ELSE CAST(array() AS array<string>) END"))
    gh = F.transform(F.col("ga"), lambda x: F.xxhash64(x))
    gl = (d.select("doc_id", "source", s.alias("s"))
          .filter(F.length("s") >= NGRAM)
          .select("doc_id", "source", ga.alias("ga"))
          .withColumn("n", F.size("ga"))
          .select("doc_id", "source", "n", F.explode(gh).alias("h"))
          .persist(_gram_cache_level(spark, sf_dir)))
    a = gl.select(F.col("doc_id").alias("doc_a"), "source",
                  F.col("n").alias("n_a"), "h")
    b = gram_join_side(
        gl.select(F.col("doc_id").alias("doc_b"),
                  F.col("source").alias("src_b"),
                  F.col("n").alias("n_b"), F.col("h").alias("h_b")),
        sf_dir)
    # length filter (lossless): J >= t forces t*|A| <= |B| <= |A|/t,
    # applied inside the join so out-of-band pairs never aggregate
    inter = (a.join(b, (F.col("source") == F.col("src_b"))
                    & (F.col("h") == F.col("h_b"))
                    & (F.col("doc_a") < F.col("doc_b"))
                    & (F.col("n_a") * JACCARD_T <= F.col("n_b"))
                    & (F.col("n_b") * JACCARD_T <= F.col("n_a")))
             .groupBy("doc_a", "doc_b", "n_a", "n_b")
             .agg(F.count(F.lit(1)).alias("n_common")))
    jac = (F.col("n_common").cast("double")
           / (F.col("n_a") + F.col("n_b") - F.col("n_common")))
    return (inter.select("doc_a", "doc_b", jac.alias("jaccard"))
            .filter(F.col("jaccard") >= JACCARD_T))


# ------------------------------------ exact-substring anchor dedup
#: anchor window width (chars of normalized text) and sample stride.
SUBSTR_W = 40
SUBSTR_STRIDE = 10

SUBSTR_SPANS_SQL = f"""
WITH norm AS (
  SELECT doc_id, {NORM_SQL} AS s FROM documents),
anch AS (
  SELECT DISTINCT doc_id,
         ('0x' || substr(md5(unnest(list_transform(
              range(1, CAST(FLOOR((length(s) - {SUBSTR_W})
                            / {SUBSTR_STRIDE}.0) AS INTEGER) + 2),
              i -> substr(s, (i - 1) * {SUBSTR_STRIDE} + 1,
                          {SUBSTR_W})))), 1, 14))::BIGINT AS h
  FROM norm WHERE length(s) >= {SUBSTR_W}),
hs AS (
  SELECT h, COUNT(DISTINCT doc_id) AS nd FROM anch GROUP BY h)
SELECT a.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_anchors,
       CAST(SUM(CASE WHEN hs.nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_shared,
       ROUND(CAST(SUM(CASE WHEN hs.nd > 1 THEN 1 ELSE 0 END)
                  AS DOUBLE) / COUNT(*), 6) AS shared_ratio
FROM anch a JOIN hs ON hs.h = a.h
GROUP BY a.doc_id
"""


@query("dedup_exact_substring_spans", SUBSTR_SPANS_SQL)
def dedup_exact_substring_spans(spark, sf_dir):
    """Exact-substring duplication profile via sampled anchor
    windows — the scalable stand-in for suffix-array ExactSubstr
    dedup (Lee et al. '22, "Deduplicating Training Data Makes
    Language Models Better"): every {STRIDE}-th position of the
    normalized text contributes a {W}-char window; a window whose
    hash appears in >= 2 DISTINCT documents marks verbatim overlap
    (cross- OR same-source — exact copying is the one dup class
    where source blocking is wrong).  Per doc: distinct anchor
    count, how many are shared, and the shared ratio — the
    removal-decision input (ExactSubstr cuts spans; the anchor
    ratio is the doc-level triage that decides which docs enter the
    expensive span-cut pass).

    Complements the family: n-gram Jaccard measures SET overlap
    (reordering-robust, position-blind), MinHash approximates it,
    SimHash compresses it — anchor windows are the only member that
    detects LONG VERBATIM RUNS specifically, at 1/{STRIDE} of the
    positions a full suffix scan would touch.

    Scale shape: one corpus scan -> ~len/{STRIDE} anchor rows per
    doc -> DISTINCT + one (hash) shuffle with map-side combine for
    the document-frequency table -> hash-keyed join back.  No pair
    space at all (unlike the similarity joins): the shared/not
    verdict needs only each window's distinct-doc count, so the
    heavy self-join never happens.  Window hashes are md5 slices
    (stable_hash64) — engine-portable, oracle-exact."""
    d = spread(t(spark, sf_dir, "documents"))
    s = norm_col()
    wins = F.expr(
        f"transform(sequence(1, CAST(FLOOR((length(s) - {SUBSTR_W})"
        f" / {SUBSTR_STRIDE}.0) AS INT) + 1), "
        f"i -> substring(s, (i - 1) * {SUBSTR_STRIDE} + 1,"
        f" {SUBSTR_W}))")
    anch = (d.select("doc_id", s.alias("s"))
            .filter(F.length("s") >= SUBSTR_W)
            .select("doc_id", F.explode(wins).alias("w"))
            .select("doc_id", stable_hash64(F.col("w")).alias("h"))
            .distinct())
    hs = anch.groupBy("h").agg(
        F.countDistinct("doc_id").alias("nd"))
    shared = F.sum(F.when(F.col("nd") > 1, 1).otherwise(0))
    return (anch.join(hs, "h")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_anchors"),
                 shared.cast("bigint").alias("n_shared"),
                 F.round(shared.cast("double")
                         / F.count(F.lit(1)), 6).alias("shared_ratio")))


# ---------------------------------------- near-dup cluster closure
from . import REGISTRY  # noqa: E402  (self-registry: LSH SQL reuse)

CC_SQL_TEMPLATE = """
WITH RECURSIVE pairs AS ({lsh}),
e(u, v) AS (
  SELECT doc_a, doc_b FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs),
reach(a, b) AS (
  SELECT u, u FROM e
  UNION
  SELECT r.a, e.v FROM reach r JOIN e ON r.b = e.u)
SELECT a AS doc_id, MIN(b) AS cluster_id
FROM reach GROUP BY a
"""


@query(
    "dedup_connected_components",
    CC_SQL_TEMPLATE.format(lsh=REGISTRY["dedup_minhash_lsh_pairs"].oracle),
)
def dedup_connected_components(spark, sf_dir):
    """Near-dup clusters: the MinHash-LSH pair graph closed into
    components (operators.graph min-label propagation), labeling
    each document with its cluster's minimum doc_id — the transitive
    version of the pairwise keep-lowest rule, correct when A~B and
    B~C but A!~C.  The oracle computes the identical closure with a
    recursive CTE over the same pair SQL."""
    from ..operators.graph import connected_components

    pairs = dedup_minhash_lsh_pairs(spark, sf_dir)
    cc = connected_components(pairs, src="doc_a", dst="doc_b")
    return cc.select(F.col("id").alias("doc_id"), "cluster_id")


@query(
    "dedup_connected_components_star",
    CC_SQL_TEMPLATE.format(lsh=REGISTRY["dedup_minhash_lsh_pairs"].oracle),
)
def dedup_connected_components_star(spark, sf_dir):
    """Same clustering as :func:`dedup_connected_components`, computed
    by alternating large-star/small-star (Kiveris et al. SoCC'14) —
    the O(log^2 n)-round scale path for DEEP similarity chains where
    min-label propagation needs diameter rounds.  Same oracle: both
    must produce the identical min-labeled closure."""
    from ..operators.graph import connected_components_star

    pairs = dedup_minhash_lsh_pairs(spark, sf_dir)
    cc = connected_components_star(pairs, src="doc_a", dst="doc_b")
    return cc.select(F.col("id").alias("doc_id"), "cluster_id")


# ------------------------------------- cluster resolution (keep-best)
KEEP_BEST_SQL = """
WITH RECURSIVE pairs AS ({lsh}),
e(u, v) AS (
  SELECT doc_a, doc_b FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs),
reach(a, b) AS (
  SELECT u, u FROM e
  UNION
  SELECT r.a, e.v FROM reach r JOIN e ON r.b = e.u),
cc AS (
  SELECT a AS doc_id, MIN(b) AS cluster_id
  FROM reach GROUP BY a),
j AS (
  SELECT cc.doc_id, cc.cluster_id, d.n_chars
  FROM cc JOIN documents d USING (doc_id)),
r AS (
  SELECT doc_id, cluster_id, n_chars,
         ROW_NUMBER() OVER (PARTITION BY cluster_id
                            ORDER BY n_chars DESC, doc_id) AS rk
  FROM j)
SELECT doc_id, cluster_id, n_chars, rk = 1 AS is_kept
FROM r
"""


@query(
    "dedup_cluster_keep_best",
    KEEP_BEST_SQL.format(lsh=REGISTRY["dedup_minhash_lsh_pairs"].oracle),
)
def dedup_cluster_keep_best(spark, sf_dir):
    """Cluster RESOLUTION — the step after clustering that the
    pairwise queries stop short of: within every near-dup cluster
    (MinHash-LSH pairs closed into components), keep the single best
    representative by an explicit quality rule (longest document,
    ties to the lowest doc_id) instead of the blind lowest-id rule.
    Real pipelines keep the best copy, not the first copy — the
    short teaser survives and the full article dies under min-id.

    Scale shape: reuses the banded-LSH + min-label-propagation
    plans (never all-pairs); the resolution itself is one join from
    cluster labels to the documents' quality column on the doc_id
    key and a per-cluster window — cluster sizes are bounded by the
    LSH threshold, so the window partitions are tiny however large
    the corpus."""
    from ..operators.graph import connected_components

    pairs = dedup_minhash_lsh_pairs(spark, sf_dir)
    cc = connected_components(pairs, src="doc_a", dst="doc_b") \
        .select(F.col("id").alias("doc_id"), "cluster_id")
    d = t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_chars").desc(), "doc_id")
    return (
        cc.join(d, "doc_id")
        .withColumn("rk", F.row_number().over(w))
        .select("doc_id", "cluster_id", "n_chars",
                (F.col("rk") == 1).alias("is_kept"))
    )


# --------------------------------------- asymmetric containment
#: containment threshold: |A ∩ B| / |A| for the contained doc A.
CONTAIN_T = 0.8

CONTAINMENT_SQL = f"""
WITH norm AS (
  SELECT doc_id, source, {NORM_SQL} AS s
  FROM documents),
grams AS (
  SELECT DISTINCT doc_id, source,
         unnest(list_transform(range(1, length(s) - {NGRAM - 2}),
                               i -> substr(s, i, {NGRAM}))) AS g
  FROM norm),
sizes AS (
  SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         COUNT(*) AS n_common
  FROM grams a JOIN grams b
    ON a.g = b.g AND a.source = b.source
   AND a.doc_id <> b.doc_id
  GROUP BY a.doc_id, b.doc_id)
SELECT i.doc_a, i.doc_b,
       CAST(sa.n AS INTEGER) AS n_a,
       CAST(sb.n AS INTEGER) AS n_b,
       ROUND(CAST(i.n_common AS DOUBLE) / sa.n, 6) AS containment
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE CAST(i.n_common AS DOUBLE) / sa.n >= {CONTAIN_T}
"""


@query("dedup_containment", CONTAINMENT_SQL)
def dedup_containment(spark, sf_dir):
    """ASYMMETRIC containment dedup: doc_a is flagged when >=
    {CONTAIN_T} of its n-grams also appear in doc_b — the
    quote/subset/boilerplate-wrapper case Jaccard structurally
    misses (a tweet quoted inside an article has tiny Jaccard but
    containment ~1.0).  Directional by construction: (a contained
    in b) and (b contained in a) are separate rows.

    Scale shape (round-6 revision, sweep-driven): the inverted-index
    COUNT JOIN — explode each doc's distinct hashed grams, self-join
    the gram stream on the (source, gram-hash) key, and partially
    aggregate matches straight into per-pair common-gram counts.
    One shuffle chain, map-side combine absorbing hot grams, no
    per-pair array shipping.  The previous PPJoin-prefix plan
    (rarest n-ceil(t*n)+1 grams as candidates, array-intersect
    verify) was MEASURED WORSE at every tested skew: this corpus's
    gram distribution is boilerplate-heavy (7.5k distinct grams for
    713k occurrences, mean posting 95) — exactly where the prefix
    degenerates (prefix postings are as fat as full postings:
    1.2M candidates whose verify ships n_a+n_b hashes per pair,
    ~3 GB of shuffle) while the count-join's partial aggregation
    streams the 110M joined rows in a third of the wall.  With
    realistic text, 11-char shingles are nearly unique (posting ~1)
    and the count-join is LINEAR in the gram stream; in both
    regimes the `source` blocking key bounds the join per block.
    No length filter applies to candidacy (a 10-gram doc can be
    contained in a 10000-gram one — that asymmetry is the point).

    The gram stream is persisted DISK_ONLY (it feeds both join
    sides; executor-local disk, no pinned memory).  The exact
    per-pair count uses xxhash64 gram hashes (longs shuffle ~2.5x
    smaller than 11-char strings); `n` is the distinct-gram count
    of the ORIGINAL strings, so a hash collision cannot change it.
    The ratio filter runs on the UNROUNDED quotient of exact small
    ints, exactly like the oracle's WHERE."""
    return containment_finish(containment_inter(spark, sf_dir))


def containment_inter(spark, sf_dir, slice_of=None):
    """Per-pair common-gram counts BEFORE the containment-threshold
    filter — the shared interior of :func:`dedup_containment`.

    ``slice_of=(i, k)`` restricts the hashed gram stream to
    ``pmod(h, k) == i`` on BOTH sides of the self-join.  Because the
    join key includes ``h``, slices are disjoint and exhaustive, so
    summing ``n_common`` per ``(doc_a, doc_b, n_a, n_b)`` across all
    ``k`` slices reproduces the unsliced counts EXACTLY (``n_a`` /
    ``n_b`` come from the full gram arrays, computed before the
    slice filter).  This is the bounded-scratch execution path for a
    corpus whose gram-pair shuffle exceeds scratch-disk capacity:
    each slice pays one extra corpus scan but shuffles/sorts ~1/k of
    the join, so peak scratch is ~1/k — the same seam that bounds
    per-wave shuffle volume against executor-local disk on a
    cluster.  Slice-exactness is pinned in
    tests/test_plan_shapes.py::test_containment_slices_exact."""
    d = spread(t(spark, sf_dir, "documents"))
    s = norm_col()
    ga = F.array_distinct(F.expr(
        f"CASE WHEN length(s) >= {NGRAM} THEN "
        f"transform(sequence(1, length(s) - {NGRAM - 1}), "
        f"i -> substring(s, i, {NGRAM})) "
        f"ELSE CAST(array() AS array<string>) END"))
    gh = F.transform(F.col("ga"), lambda x: F.xxhash64(x))
    # empty-doc guard as a CHEAP pre-filter: length(s) >= NGRAM is
    # equivalent to size(ga) > 0, and filtering on size(ga) is a
    # trap — predicate pushdown rewrites it to the full
    # gram-extraction expression inside an interpreted Filter
    # (measured 43s vs 0.5s at sf0.1 for the identical result)
    gl = (d.select("doc_id", "source", s.alias("s"))
          .filter(F.length("s") >= NGRAM)
          .select("doc_id", "source", ga.alias("ga"))
          .withColumn("n", F.size("ga"))
          .select("doc_id", "source", "n", F.explode(gh).alias("h")))
    if slice_of is not None:
        i, k = slice_of
        gl = gl.filter(F.pmod(F.col("h"), F.lit(k)) == F.lit(i))
    gl = gl.persist(_gram_cache_level(spark, sf_dir))
    a = gl.select(F.col("doc_id").alias("doc_a"), "source",
                  F.col("n").alias("n_a"), "h")
    # corpus-adaptive join strategy — see GRAM_BCAST_MAX_BYTES
    b = gram_join_side(
        gl.select(F.col("doc_id").alias("doc_b"),
                  F.col("source").alias("src_b"),
                  F.col("n").alias("n_b"), F.col("h").alias("h_b")),
        sf_dir)
    return (a.join(b, (F.col("source") == F.col("src_b"))
                   & (F.col("h") == F.col("h_b"))
                   & (F.col("doc_a") != F.col("doc_b")))
            .groupBy("doc_a", "doc_b", "n_a", "n_b")
            .agg(F.count(F.lit(1)).alias("n_common")))


def containment_finish(inter):
    """Containment threshold + output projection over the per-pair
    counts from :func:`containment_inter` — or over hash-slice
    partials re-summed per pair (``groupBy(doc_a, doc_b, n_a,
    n_b).agg(sum(n_common))``), which are count-identical."""
    contain = F.col("n_common").cast("double") / F.col("n_a")
    return (inter.filter(contain >= CONTAIN_T)
            .select("doc_a", "doc_b",
                    F.col("n_a").cast("int").alias("n_a"),
                    F.col("n_b").cast("int").alias("n_b"),
                    F.round(contain, 6).alias("containment")))


# ------------------------------------- cluster-size histogram
CLUSTER_HIST_SQL = """
WITH RECURSIVE pairs AS ({lsh}),
e(u, v) AS (
  SELECT doc_a, doc_b FROM pairs
  UNION ALL
  SELECT doc_b, doc_a FROM pairs),
reach(a, b) AS (
  SELECT u, u FROM e
  UNION
  SELECT r.a, e.v FROM reach r JOIN e ON r.b = e.u),
cc AS (
  SELECT a AS doc_id, MIN(b) AS cluster_id
  FROM reach GROUP BY a),
sizes AS (
  SELECT cluster_id, COUNT(*) AS sz FROM cc GROUP BY cluster_id)
SELECT CAST(sz AS INTEGER) AS cluster_size,
       COUNT(*) AS n_clusters
FROM sizes GROUP BY sz
"""


@query(
    "dedup_cluster_size_histogram",
    CLUSTER_HIST_SQL.format(lsh=REGISTRY["dedup_minhash_lsh_pairs"].oracle),
)
def dedup_cluster_size_histogram(spark, sf_dir):
    """Near-dup cluster-size distribution — the GIANT-COMPONENT
    watch every MinHash dedup needs in production: a too-loose LSH
    threshold chains unrelated documents into one monster cluster,
    and keep-one-per-cluster then silently deletes half the corpus.
    The histogram (cluster size -> how many clusters) is the
    one-glance diagnostic; a heavy right tail means tighten the
    banding before resolving clusters.

    Scale shape: reuses the banded-LSH + label-propagation closure
    plans, then two tiny grouped aggregates (cluster-cardinality,
    then size-cardinality rows)."""
    from ..operators.graph import connected_components

    pairs = dedup_minhash_lsh_pairs(spark, sf_dir)
    cc = connected_components(pairs, src="doc_a", dst="doc_b")
    sizes = cc.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("sz"))
    return (sizes.groupBy(F.col("sz").cast("int").alias("cluster_size"))
            .agg(F.count(F.lit(1)).alias("n_clusters")))


# --------------------------------- signature calibration audit
CALIBRATION_SQL = f"""
WITH {_HS_CTE},
sigs AS (
  SELECT doc_id, {MINHASH_SQL_COLS}
  FROM hs),
pairs AS ({{lsh}}),
sh AS (
  SELECT doc_id, {SHINGLES_SQL} AS sh FROM documents),
truth AS (
  SELECT p.doc_a, p.doc_b, p.est_jaccard,
         ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
               / (len(a.sh) + len(b.sh)
                  - len(list_intersect(a.sh, b.sh))), 6)
           AS true_jaccard
  FROM pairs p
  JOIN sh a ON a.doc_id = p.doc_a
  JOIN sh b ON b.doc_id = p.doc_b)
SELECT doc_a, doc_b, est_jaccard, true_jaccard,
       ROUND(ABS(est_jaccard - true_jaccard), 6) AS abs_err
FROM truth
"""


@query(
    "dedup_minhash_calibration",
    CALIBRATION_SQL.format(lsh=REGISTRY["dedup_minhash_lsh_pairs"].oracle),
)
def dedup_minhash_calibration(spark, sf_dir):
    """MinHash signature CALIBRATION audit: for every LSH candidate
    pair, the signature-estimated Jaccard next to the TRUE shingle
    Jaccard and their absolute error.  The estimator's quality is
    what the whole near-dup pipeline rests on (8 hashes quantize
    estimates to eighths — a consistent error above ~1/8 means the
    hash family or shingle width is wrong for the corpus); auditing
    it on the candidate set costs pairs x shingle-set-intersection,
    not a corpus rescan.

    Scale shape: candidates come from the banded join (already
    bounded); the truth join fetches two shingle arrays per pair on
    the doc_id key (corpus-cardinality narrow table, AQE picks the
    build side) and intersects JVM-side."""
    pairs = dedup_minhash_lsh_pairs(spark, sf_dir)
    d = spread(t(spark, sf_dir, "documents"))
    toks = d.select("doc_id", tokens_col(F.col("text")).alias("tk"))
    # both sides of the truth join read the shingle sets
    sh = toks.select(
        "doc_id", shingles_from_tokens(F.col("tk")).alias("sh")).cache()
    a = sh.select(F.col("doc_id").alias("doc_a"),
                  F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"),
                  F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    true_j = F.round(
        inter.cast("double")
        / (F.size("sh_a") + F.size("sh_b") - inter), 6)
    return (
        pairs.join(a, "doc_a").join(b, "doc_b")
        .select("doc_a", "doc_b", "est_jaccard",
                true_j.alias("true_jaccard"),
                F.round(F.abs(F.col("est_jaccard") - true_j), 6)
                .alias("abs_err"))
    )


# ------------------------------------------- simhash near-dup pairs
#: 4-bit bands over the 16-bit simhash; Hamming acceptance threshold.
SIMHASH_BANDS = 4
SIMHASH_BAND_BITS = SIMHASH_BITS // SIMHASH_BANDS
SIMHASH_HAM_T = 3

SIMHASH_PAIRS_SQL = f"""
WITH toks AS (
  SELECT doc_id, list_distinct({TOKENS_SQL}) AS ts
  FROM documents),
hashed AS (
  SELECT doc_id,
         list_transform(ts, t ->
           ('0x' || substr(md5(t), 1, 14))::BIGINT) AS hs
  FROM toks),
h AS (
  SELECT doc_id,
         CAST((SELECT SUM(CASE WHEN len(list_filter(hs, x ->
                 (x >> b.b) & 1 = 1)) * 2 > len(hs)
               THEN 1 << b.b ELSE 0 END)
               FROM (SELECT unnest(range({SIMHASH_BITS})) AS b) b)
           AS BIGINT) AS simhash
  FROM hashed),
bands AS (
  SELECT doc_id, simhash, bb.b AS band,
         (simhash >> ({SIMHASH_BAND_BITS} * bb.b))
           & {(1 << SIMHASH_BAND_BITS) - 1} AS key
  FROM h, (SELECT unnest(range({SIMHASH_BANDS})) AS b) bb),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, a.simhash AS sh_a,
                  c.doc_id AS doc_b, c.simhash AS sh_b
  FROM bands a JOIN bands c
    ON a.band = c.band AND a.key = c.key AND a.doc_id < c.doc_id)
SELECT doc_a, doc_b,
       CAST(bit_count(xor(sh_a, sh_b)) AS INTEGER) AS hamming
FROM cand WHERE bit_count(xor(sh_a, sh_b)) <= {SIMHASH_HAM_T}
"""


@query("dedup_simhash_pairs", SIMHASH_PAIRS_SQL)
def dedup_simhash_pairs(spark, sf_dir):
    """SimHash near-dup PAIRS: the fingerprint query's missing
    second half.  Candidates bucket-join on {SIMHASH_BAND_BITS}-bit
    hash bands (any pair within Hamming {SIMHASH_HAM_T} must agree
    exactly on at least one of the {SIMHASH_BANDS} bands —
    pigeonhole), then the exact Hamming distance verifies.  This is
    Google's crawl-dedup shape (Manku et al., WWW'07, public
    literature): constant-size fingerprints, banded index, XOR
    popcount verify — cheaper per candidate than any set
    intersection, at the cost of a coarser similarity notion than
    MinHash Jaccard.

    Scale shape: fingerprint is the map-only simhash pass; banding
    explodes {SIMHASH_BANDS} rows per doc; the join key space is
    (band, band-value); verification is one xor+popcount per
    candidate — no gram arrays ever shuffle."""
    fp = dedup_simhash(spark, sf_dir).cache()
    band = F.explode(F.sequence(F.lit(0), F.lit(SIMHASH_BANDS - 1)))
    mask = (1 << SIMHASH_BAND_BITS) - 1
    banded = (fp.withColumn("band", band)
              .withColumn("key", F.expr(
                  f"shiftright(simhash, {SIMHASH_BAND_BITS} * band)"
                  f" & {mask}")))
    a = banded.select(F.col("doc_id").alias("doc_a"),
                      F.col("simhash").alias("sh_a"), "band", "key")
    b = banded.select(F.col("doc_id").alias("doc_b"),
                      F.col("simhash").alias("sh_b"), "band", "key")
    cand = (a.join(b, ["band", "key"])
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "sh_a", "doc_b", "sh_b").distinct())
    hamming = F.bit_count(
        F.col("sh_a").bitwiseXOR(F.col("sh_b"))).cast("int")
    return (cand.select("doc_a", "doc_b", hamming.alias("hamming"))
            .filter(F.col("hamming") <= SIMHASH_HAM_T))


# ------------------------------------------- LSH banding sweep
#: (bands, rows) configurations sharing the same 8-hash signature.
SWEEP_CONFIGS = [(1, 8), (2, 4), (4, 2)]


def _sweep_cte(b_cnt: int, r_cnt: int) -> str:
    """Candidate-pair count CTE for a (bands, rows) banding."""
    keys = ", ".join(
        "md5(" + " || '_' || ".join(
            f"CAST(mh{b * r_cnt + r} AS VARCHAR)"
            for r in range(r_cnt)) + f") AS band{b}"
        for b in range(b_cnt))
    values = ", ".join(f"({b}, band{b})" for b in range(b_cnt))
    return f"""
  SELECT {b_cnt} AS n_bands, {r_cnt} AS rows_per_band, COUNT(*) AS n
  FROM (
    SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
    FROM (SELECT doc_id, bb.band, bb.key
          FROM (SELECT doc_id, {keys} FROM sigs) s,
               LATERAL (VALUES {values}) AS bb(band, key)) l
    JOIN (SELECT doc_id, bb.band, bb.key
          FROM (SELECT doc_id, {keys} FROM sigs) s,
               LATERAL (VALUES {values}) AS bb(band, key)) r
      ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id)"""


SWEEP_SQL = (
    f"WITH {_HS_CTE},\n"
    f"sigs AS (SELECT doc_id, {MINHASH_SQL_COLS} FROM hs)\n"
    + "\nUNION ALL\n".join(_sweep_cte(b, r) for b, r in SWEEP_CONFIGS))


@query(
    "dedup_lsh_banding_sweep",
    "SELECT CAST(n_bands AS INTEGER) AS n_bands, "
    "CAST(rows_per_band AS INTEGER) AS rows_per_band, "
    "CAST(n AS BIGINT) AS n_candidates FROM ("
    + SWEEP_SQL + ") sweep",
)
def dedup_lsh_banding_sweep(spark, sf_dir):
    """LSH BANDING SWEEP: candidate-pair counts for three
    (bands x rows) splits of the same 8-hash signature — the
    S-curve tuning readout.  More bands with fewer rows each = a
    looser threshold = more candidates (1x8 is the strictest, 4x2
    the loosest); running the sweep on a corpus sample is how the
    production banding is chosen BEFORE paying for a full dedup at
    the wrong operating point.

    Scale shape: signatures compute once (cached); each
    configuration is one banded self-join counted — the same
    bounded bucket-join shape as the production pair query, never
    all-pairs."""
    sigs = minhash_signatures(
        spread(t(spark, sf_dir, "documents")), NUM_HASHES).cache()
    counts = [
        candidate_pairs(band_long(sigs, NUM_HASHES, b_cnt)).agg(
            F.lit(b_cnt).alias("n_bands"),
            F.lit(r_cnt).alias("rows_per_band"),
            F.count(F.lit(1)).alias("n_candidates"))
        for b_cnt, r_cnt in SWEEP_CONFIGS]
    return reduce(DataFrame.unionByName, counts)


# ------------------------------------- b-bit minwise hashing
#: bits kept per minhash value (Li & Koenig, WWW'10: store 2 bits
#: instead of 64 — 1/32 the signature bytes — and correct the
#: estimator for accidental collisions).
BBIT = 2

_BBIT_R = 1.0 / (1 << BBIT)  # collision prob of unrelated values

BBIT_SQL = f"""
WITH {_HS_CTE},
sigs AS (
  SELECT doc_id, {MINHASH_SQL_COLS}
  FROM hs),
pairs AS ({{pairs}}),
scored AS (
  SELECT p.doc_a, p.doc_b, p.est_jaccard,
         CAST({" + ".join(
             f"CASE WHEN a.mh{k} % {1 << BBIT} = b.mh{k} % {1 << BBIT} "
             f"THEN 1 ELSE 0 END" for k in range(NUM_HASHES))}
              AS DOUBLE) / {NUM_HASHES} AS agree_bbit
  FROM pairs p
  JOIN sigs a ON a.doc_id = p.doc_a
  JOIN sigs b ON b.doc_id = p.doc_b)
SELECT doc_a, doc_b,
       ROUND(est_jaccard, 6) AS est_full,
       ROUND(agree_bbit, 6) AS agree_bbit,
       ROUND(GREATEST((agree_bbit - {_BBIT_R}) / (1 - {_BBIT_R}), 0.0),
             6) AS est_bbit
FROM scored
"""


@query(
    "dedup_minhash_bbit",
    BBIT_SQL.format(pairs=REGISTRY["dedup_minhash_lsh_pairs"].oracle),
)
def dedup_minhash_bbit(spark, sf_dir):
    """b-bit minwise hashing (public literature: Li & Koenig,
    WWW'10): keep only the lowest {BBIT} bits of each minhash value
    — 1/32 of the signature bytes, which at 100 TB is the difference
    between a signature store that fits in memory and one that
    doesn't — and correct the agreement rate for accidental
    collisions (Ĵ = (A − 2^-b) / (1 − 2^-b)).  Emitted per LSH
    candidate pair next to the full-width estimate, so the accuracy
    cost of the compression is measurable on the corpus itself
    (the calibration evidence before switching the store over).

    Scale shape: identical to the LSH pair scorer — the b-bit
    signatures are a map-side projection of the full ones, candidate
    pairs come from the banding join, and the two signature joins
    shuffle signature-width rows on doc_id (AQE broadcasts the
    candidate side while it fits)."""
    nh, _ = minhash_params(docs_corpus_size(sf_dir))
    sigs = dedup_minhash_signature(spark, sf_dir).cache()
    pairs = dedup_minhash_lsh_pairs(spark, sf_dir) \
        .select("doc_a", "doc_b", "est_jaccard")
    a, b = sigs.alias("a"), sigs.alias("b")
    agree = sum(
        F.when(F.col(f"a.mh{k}") % (1 << BBIT)
               == F.col(f"b.mh{k}") % (1 << BBIT), 1).otherwise(0)
        for k in range(nh))
    scored = (pairs
              .join(a, pairs.doc_a == F.col("a.doc_id"))
              .join(b, pairs.doc_b == F.col("b.doc_id"))
              .select("doc_a", "doc_b", "est_jaccard",
                      (agree.cast("double") / nh)
                      .alias("agree_bbit")))
    corrected = F.greatest(
        (F.col("agree_bbit") - F.lit(_BBIT_R)) / (1 - _BBIT_R),
        F.lit(0.0))
    return scored.select(
        "doc_a", "doc_b",
        F.round("est_jaccard", 6).alias("est_full"),
        F.round("agree_bbit", 6).alias("agree_bbit"),
        F.round(corrected, 6).alias("est_bbit"))


# ----------------------------- oracle validity knees (documents):
# these queries' Spark plans derive the MinHash signature width /
# banding from corpus cardinality (minhash_params) while their
# oracles bake the (NUM_HASHES, NUM_BANDS) floor — valid through
# SIG_KNEE documents (see queries/__init__.py ORACLE_SCALE_KNEES).
from . import register_oracle_knee as _rok  # noqa: E402

for _name in (
    "dedup_minhash_signature", "dedup_minhash_lsh_pairs",
    "dedup_minhash_calibration", "dedup_minhash_bbit",
    "dedup_connected_components", "dedup_connected_components_star",
    "dedup_cluster_keep_best", "dedup_cluster_size_histogram",
):
    _rok(_name, SIG_KNEE, table="documents")
