"""Training-data curation pipeline: the extension operators composed
end-to-end, the shape an LLM data pipeline actually runs:

    documents -> quality gate -> exact-dup removal -> near-dup
    removal (MinHash-LSH) -> curated keep-set

Each stage reuses the already-verified operator (text_quality_score,
dedup_exact's keyed grouping, dedup_minhash_lsh_pairs), and the
oracle composes the same stages' SQL as nested CTE subqueries — so
the integration itself is hash-verified, not just the parts.

Scale shape: the quality gate and content keying are map-only; the
two dedup stages shuffle on md5 keys and LSH band keys respectively
(never the pair space); the final keep-set assembly is two key-only
anti/semi joins.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.hashing import stable_hash64
from . import REGISTRY, query
from .core import t
from .dedup import dedup_minhash_lsh_pairs, norm_col
from . import dedup as _dedup  # noqa: F401  (registers its oracles)
from . import text as _text  # noqa: F401

#: same est-Jaccard threshold the LSH pair query applies.
NEARDUP_PAIR_T = 0.5

_QUALITY_SQL = REGISTRY["text_quality_score"].oracle
_LSH_PAIRS_SQL = REGISTRY["dedup_minhash_lsh_pairs"].oracle

CURATION_SQL = f"""
WITH q AS ({_QUALITY_SQL}),
keyed AS (
  SELECT doc_id, md5({_dedup.NORM_SQL}) AS content_key
  FROM documents),
keep AS (
  SELECT content_key, MIN(doc_id) AS keep_id
  FROM keyed GROUP BY content_key),
exact_kept AS (
  SELECT k.doc_id
  FROM keyed k JOIN keep USING (content_key)
  WHERE k.doc_id = keep.keep_id),
near_losers AS (
  SELECT DISTINCT doc_b AS doc_id FROM ({_LSH_PAIRS_SQL})),
curated AS (
  SELECT q.doc_id, q.punct_ratio, q.digit_ratio, q.upper_ratio,
         q.chars_per_token
  FROM q
  JOIN exact_kept USING (doc_id)
  WHERE q.passes_quality
    AND q.doc_id NOT IN (SELECT doc_id FROM near_losers))
SELECT * FROM curated
"""


@query("curation_pipeline", CURATION_SQL)
def curation_pipeline(spark, sf_dir):
    """Curated keep-set: quality-passing documents minus exact
    duplicates (keep lowest doc_id per normalized-content key) minus
    MinHash-LSH near-duplicates (pairs are emitted doc_a < doc_b, so
    dropping every doc_b keeps the lowest id of each near-dup
    cluster chain — same rule as the exact stage).

    Scan-reuse revision (r16, the r15 verdict's item 5): the exact
    stage's "rows where doc_id equals the per-key minimum" IS the
    per-key minimum set itself, so the old keyed-join-back (TWO
    corpus scans + two md5 passes + a broadcast build) collapses to
    ONE groupBy(content_key).min aggregation — 4 -> 3 distinct
    parquet scans in the plan (quality leg, exact leg, the LSH leg's
    cached base; plans/r16/curation_pipeline_*), with the LSH leg's
    sharing already handled by CacheManager (its InMemoryRelations
    are referenced by every band without re-scanning)."""
    quality = REGISTRY["text_quality_score"].fn(spark, sf_dir) \
        .filter(F.col("passes_quality"))
    d = t(spark, sf_dir, "documents")
    keyed = d.select("doc_id", F.md5(norm_col()).alias("content_key"))
    exact_kept = (keyed.groupBy("content_key")
                  .agg(F.min("doc_id").alias("doc_id"))
                  .select("doc_id"))
    near_losers = (
        dedup_minhash_lsh_pairs(spark, sf_dir)
        .select(F.col("doc_b").alias("doc_id")).distinct())
    return (
        quality
        .join(exact_kept, "doc_id", "left_semi")
        .join(near_losers, "doc_id", "left_anti")
        .select("doc_id", "punct_ratio", "digit_ratio", "upper_ratio",
                "chars_per_token")
    )


# ------------------------------------------------ dataset splitting
#: train/val/test percent boundaries over the 0-99 hash bucket.
SPLIT_TRAIN, SPLIT_VAL = 80, 90

SPLIT_SQL = f"""
WITH b AS (
  SELECT doc_id, source,
         ('0x' || substr(md5('split_' || CAST(doc_id AS VARCHAR)),
                         1, 14))::BIGINT % 100 AS bucket
  FROM documents)
SELECT doc_id, source, CAST(bucket AS INTEGER) AS split_bucket,
       CASE WHEN bucket < {SPLIT_TRAIN} THEN 'train'
            WHEN bucket < {SPLIT_VAL} THEN 'val'
            ELSE 'test' END AS split
FROM b
"""


@query("curation_dataset_split", SPLIT_SQL)
def curation_dataset_split(spark, sf_dir):
    """Deterministic train/val/test assignment: bucket = portable
    56-bit md5 hash of the salted doc_id, mod 100.  Hash-based (not
    random) so the split is stable across runs, engines, and
    re-shards — the property a reproducible training pipeline needs;
    map-only at any scale."""
    d = t(spark, sf_dir, "documents")
    bucket = stable_hash64(
        F.concat(F.lit("split_"), F.col("doc_id").cast("string"))) % 100
    return d.select(
        "doc_id", "source",
        bucket.cast("int").alias("split_bucket"),
        F.when(bucket < SPLIT_TRAIN, F.lit("train"))
        .when(bucket < SPLIT_VAL, F.lit("val"))
        .otherwise(F.lit("test")).alias("split"),
    )


# ------------------------------------- benchmark decontamination
#: every EVAL_STRIDE-th doc stands in for the held-out benchmark set
#: a real pipeline loads separately.
EVAL_STRIDE = 97

from ..io import spread  # noqa: E402
from .dedup import SHINGLES_SQL, shingles_from_tokens  # noqa: E402
from .text import tokens_col  # noqa: E402

DECONTAM_SQL = f"""
WITH sh AS (
  SELECT doc_id, {SHINGLES_SQL} AS sh FROM documents),
eval_sh AS (
  SELECT DISTINCT unnest(sh) AS g
  FROM sh WHERE doc_id % {EVAL_STRIDE} = 0),
train AS (
  SELECT doc_id, sh FROM sh WHERE doc_id % {EVAL_STRIDE} <> 0),
train_g AS (
  SELECT doc_id, unnest(sh) AS g FROM train),
hits AS (
  SELECT t.doc_id, COUNT(*) AS n_overlap
  FROM train_g t JOIN eval_sh e ON t.g = e.g
  GROUP BY t.doc_id)
SELECT tr.doc_id,
       CAST(len(tr.sh) AS INTEGER) AS n_shingles,
       CAST(COALESCE(h.n_overlap, 0) AS INTEGER) AS n_overlap,
       COALESCE(h.n_overlap, 0) > 0 AS contaminated
FROM train tr LEFT JOIN hits h USING (doc_id)
"""


@query("curation_decontaminate", DECONTAM_SQL)
def curation_decontaminate(spark, sf_dir):
    """Benchmark decontamination (GPT-3 appendix C / the standard
    n-gram overlap protocol, public literature): flag every training
    document sharing at least one token shingle with the held-out
    eval set, reporting how many of its distinct shingles collide.

    Scale shape: the eval side reduces to DISTINCT shingles — eval
    sets are tiny and fixed-size, so the semi-ish join on the
    shingle key is the scan-the-corpus-once pattern (AQE broadcasts
    the eval shingles; unhinted, since 'tiny' is a property of eval
    sets, not a structural guarantee).  The token split and the
    shingle transform each evaluate once per document: Catalyst does
    not inline a non-cheap projection referenced twice, and the lazy
    cache on the shingle arrays serves both the eval and the train
    branch.  Building the query runs no Spark job."""
    d = spread(t(spark, sf_dir, "documents"))
    toks = d.select("doc_id", tokens_col(F.col("text")).alias("tk"))
    sh = toks.select(
        "doc_id", shingles_from_tokens(F.col("tk")).alias("sh")).cache()
    eval_g = (sh.filter(F.col("doc_id") % EVAL_STRIDE == 0)
              .select(F.explode("sh").alias("g")).distinct())
    train = sh.filter(F.col("doc_id") % EVAL_STRIDE != 0)
    hits = (train.select("doc_id", F.explode("sh").alias("g"))
            .join(eval_g, "g")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_overlap")))
    return (
        train.select("doc_id", F.size("sh").cast("int")
                     .alias("n_shingles"))
        .join(hits, "doc_id", "left")
        .select("doc_id", "n_shingles",
                F.coalesce("n_overlap", F.lit(0)).cast("int")
                .alias("n_overlap"),
                (F.coalesce("n_overlap", F.lit(0)) > 0)
                .alias("contaminated"))
    )


# ------------------------------------- sequence packing (concat-chunk)
from pyspark.sql import Window  # noqa: E402

from .text import TOKENS_SQL  # noqa: E402

#: tokens per packed training sequence.
PACK_BUDGET = 256

PACK_SQL = f"""
WITH d AS (
  SELECT doc_id, source, len({TOKENS_SQL}) AS n_tok FROM documents),
c AS (
  SELECT doc_id, source, n_tok,
         SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) - n_tok AS start_off
  FROM d)
SELECT doc_id, source,
       CAST(n_tok AS INTEGER) AS n_tokens,
       CAST(start_off AS BIGINT) AS start_offset,
       CAST(start_off // {PACK_BUDGET} AS INTEGER) AS pack_id,
       (start_off % {PACK_BUDGET}) + n_tok <= {PACK_BUDGET}
         AS fits_in_pack
FROM c
"""


@query("curation_sequence_pack", PACK_SQL)
def curation_sequence_pack(spark, sf_dir):
    """Sequence packing, concat-and-chunk flavor (the GPT-style
    pretraining layout, public literature): documents are laid out
    in a deterministic order (doc_id) within each shard (source),
    the token stream is cut into {PACK_BUDGET}-token sequences, and
    each document reports its start offset, its pack id, and whether
    it fits entirely inside one pack (``fits_in_pack`` false means
    the packer splits it across a pack boundary).

    Scale shape: one shuffle on ``source`` and a running-sum window
    per shard — packing is inherently sequential WITHIN a shard, so
    the shard key is exactly the parallelism unit a 100 TB packer
    uses (source x date in production; plain source here).  No
    global sort, no driver-side loop; the window's running sum is
    the only state and it streams."""
    d = t(spark, sf_dir, "documents")
    n_tok = F.size(tokens_col(F.col("text")))
    w = (Window.partitionBy("source").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    start = (F.sum("n_tok").over(w) - F.col("n_tok")).cast("bigint")
    return (
        d.select("doc_id", "source", n_tok.alias("n_tok"))
        .select(
            "doc_id", "source",
            F.col("n_tok").cast("int").alias("n_tokens"),
            start.alias("start_offset"),
            F.floor(start / PACK_BUDGET).cast("int").alias("pack_id"),
            ((start % PACK_BUDGET) + F.col("n_tok") <= PACK_BUDGET)
            .alias("fits_in_pack"))
    )


# --------------------------------------- mixture (re-)weighting sample
#: per-source sampling rate: 20 + hash(source) % 80 percent — a
#: deterministic stand-in for the tuned per-domain weights a real
#: mixture config supplies.
MIX_BASE, MIX_SPREAD = 20, 80

MIX_SQL = f"""
WITH r AS (
  SELECT doc_id, source,
         {MIX_BASE} + ('0x' || substr(md5('w_' || source), 1, 14))::BIGINT
           % {MIX_SPREAD} AS rate_pct,
         ('0x' || substr(md5('mix_' || CAST(doc_id AS VARCHAR)),
                         1, 14))::BIGINT % 100 AS bucket
  FROM documents)
SELECT doc_id, source,
       CAST(rate_pct AS INTEGER) AS rate_pct,
       CAST(bucket AS INTEGER) AS bucket,
       bucket < rate_pct AS sampled
FROM r
"""


@query("curation_mixture_sample", MIX_SQL)
def curation_mixture_sample(spark, sf_dir):
    """Data-mixture sampling: every source (domain) gets a sampling
    rate and each document keeps/drops by a deterministic hash
    Bernoulli — the down/up-weighting step that turns a raw crawl
    into a training mixture (the DoReMi/Pile-style domain-weights
    shape, public literature).  Hash-based, not random: the same
    mixture reproduces across runs, engines, and re-shards, and the
    decision column ``sampled`` is emitted instead of filtering so
    the oracle verifies BOTH kept and dropped rows.

    Scale shape: pure map stage — two md5s per row, no shuffle at
    all; at 100 TB this pipelines into whatever scan precedes it."""
    d = t(spark, sf_dir, "documents")
    rate = (F.lit(MIX_BASE)
            + stable_hash64(F.concat(F.lit("w_"), F.col("source")))
            % MIX_SPREAD)
    bucket = stable_hash64(
        F.concat(F.lit("mix_"), F.col("doc_id").cast("string"))) % 100
    return d.select(
        "doc_id", "source",
        rate.cast("int").alias("rate_pct"),
        bucket.cast("int").alias("bucket"),
        (bucket < rate).alias("sampled"))


# --------------------------------------------- curation funnel report
FUNNEL_REPORT_SQL = f"""
WITH q AS ({_QUALITY_SQL}),
keyed AS (
  SELECT doc_id, md5({_dedup.NORM_SQL}) AS content_key
  FROM documents),
keep AS (
  SELECT content_key, MIN(doc_id) AS keep_id
  FROM keyed GROUP BY content_key),
nl AS (SELECT DISTINCT doc_b AS doc_id FROM ({_LSH_PAIRS_SQL})),
dc AS ({DECONTAM_SQL}),
flags AS (
  SELECT d.doc_id,
         q.passes_quality AS pq,
         (k.doc_id = keep.keep_id) AS ek,
         nl.doc_id IS NOT NULL AS is_nl,
         dc.doc_id IS NOT NULL AS in_train,
         COALESCE(dc.contaminated, FALSE) AS cont
  FROM documents d
  JOIN q ON q.doc_id = d.doc_id
  JOIN keyed k ON k.doc_id = d.doc_id
  JOIN keep ON keep.content_key = k.content_key
  LEFT JOIN nl ON nl.doc_id = d.doc_id
  LEFT JOIN dc ON dc.doc_id = d.doc_id)
SELECT COUNT(*) AS n_input,
       CAST(SUM(CASE WHEN pq THEN 1 ELSE 0 END) AS BIGINT)
         AS n_quality,
       CAST(SUM(CASE WHEN pq AND ek THEN 1 ELSE 0 END) AS BIGINT)
         AS n_after_exact,
       CAST(SUM(CASE WHEN pq AND ek AND NOT is_nl THEN 1 ELSE 0 END)
            AS BIGINT) AS n_after_neardup,
       CAST(SUM(CASE WHEN pq AND ek AND NOT is_nl AND in_train
                      AND NOT cont THEN 1 ELSE 0 END) AS BIGINT)
         AS n_after_decontam,
       ROUND(CAST(SUM(CASE WHEN pq AND ek AND NOT is_nl AND in_train
                            AND NOT cont THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS retention
FROM flags
"""


@query("curation_funnel_report", FUNNEL_REPORT_SQL)
def curation_funnel_report(spark, sf_dir):
    """The curation funnel as ONE observable row: how many documents
    survive each successive gate — quality heuristics, exact dedup,
    MinHash-LSH near-dup removal, and benchmark decontamination
    (eval-stride docs leave the training corpus by definition).
    This is the report a pipeline operator actually watches: a gate
    whose survival rate jumps between ingests signals drifted data
    or a broken stage long before model metrics do.

    Scale shape: every gate reduces to a per-doc boolean computed by
    the already-verified operator plans; the report is one
    conditional aggregate over the flag table (map-side combined —
    a single row crosses the final shuffle).  Stages share the
    doc_id join key end-to-end."""
    d = t(spark, sf_dir, "documents")
    quality = REGISTRY["text_quality_score"].fn(spark, sf_dir) \
        .select("doc_id", F.col("passes_quality").alias("pq"))
    # window-over-the-stream (r16, same family as the pipeline's
    # exact-stage collapse): the per-doc keep flag is doc_id ==
    # min(doc_id) over its content_key — one scan + one keyed
    # exchange instead of two md5 scans + a corpus-cardinality
    # join-back
    keyed = d.select("doc_id", F.md5(norm_col()).alias("content_key"))
    ek = keyed.select(
        "doc_id",
        (F.col("doc_id") == F.min("doc_id").over(
            Window.partitionBy("content_key"))).alias("ek"))
    nl = (dedup_minhash_lsh_pairs(spark, sf_dir)
          .select(F.col("doc_b").alias("doc_id")).distinct()
          .withColumn("is_nl", F.lit(True)))
    dc = REGISTRY["curation_decontaminate"].fn(spark, sf_dir) \
        .select("doc_id", F.lit(True).alias("in_train"),
                F.col("contaminated").alias("cont"))
    flags = (
        d.select("doc_id")
        .join(quality, "doc_id")
        .join(ek, "doc_id")
        .join(nl, "doc_id", "left")
        .join(dc, "doc_id", "left")
        .select(
            "doc_id", "pq", "ek",
            F.coalesce("is_nl", F.lit(False)).alias("is_nl"),
            F.coalesce("in_train", F.lit(False)).alias("in_train"),
            F.coalesce("cont", F.lit(False)).alias("cont")))
    surv = (F.col("pq") & F.col("ek") & ~F.col("is_nl")
            & F.col("in_train") & ~F.col("cont"))
    cnt = lambda c: F.sum(c.cast("int")).cast("bigint")  # noqa: E731
    return flags.agg(
        F.count(F.lit(1)).alias("n_input"),
        cnt(F.col("pq")).alias("n_quality"),
        cnt(F.col("pq") & F.col("ek")).alias("n_after_exact"),
        cnt(F.col("pq") & F.col("ek") & ~F.col("is_nl"))
        .alias("n_after_neardup"),
        cnt(surv).alias("n_after_decontam"),
        F.round(F.sum(surv.cast("int")).cast("double")
                / F.count(F.lit(1)), 6).alias("retention"))


# ----------------------------------------- per-domain quota selection
#: documents kept per source (quota).
QUOTA_N = 10

QUOTA_SQL = f"""
WITH q AS ({_QUALITY_SQL}),
scored AS (
  SELECT d.doc_id, d.source, q.chars_per_token, q.passes_quality,
         ROW_NUMBER() OVER (
           PARTITION BY d.source
           ORDER BY q.passes_quality DESC, q.chars_per_token DESC,
                    d.doc_id) AS rk
  FROM documents d JOIN q ON q.doc_id = d.doc_id)
SELECT doc_id, source, chars_per_token,
       CAST(rk AS INTEGER) AS quota_rank
FROM scored WHERE rk <= {QUOTA_N}
"""


@query("curation_quota_sample", QUOTA_SQL)
def curation_quota_sample(spark, sf_dir):
    """Per-domain QUOTA selection: the best {QUOTA_N} documents of
    every source by the quality heuristics (quality-passing first,
    then highest chars-per-token, doc_id tie-break) — the "take the
    best N per domain" step a balanced training mixture uses when a
    domain's raw volume exceeds its budget, complementing the
    rate-based mixture sampler (rates keep proportions; quotas cap
    absolute volume).

    Scale shape: one shuffle on the source key and a per-source
    rank window — the per-partition work is top-N selection, and
    the output is sources x {QUOTA_N} rows regardless of corpus
    size."""
    d = t(spark, sf_dir, "documents")
    q = REGISTRY["text_quality_score"].fn(spark, sf_dir) \
        .select("doc_id", "chars_per_token", "passes_quality")
    w = Window.partitionBy("source").orderBy(
        F.col("passes_quality").desc(),
        F.col("chars_per_token").desc(), "doc_id")
    return (d.select("doc_id", "source").join(q, "doc_id")
            .withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= QUOTA_N)
            .select("doc_id", "source", "chars_per_token",
                    F.col("rk").cast("int").alias("quota_rank")))


# ----------------------------------- per-source duplication rates
DUP_RATE_SQL = f"""
WITH keyed AS (
  SELECT doc_id, source, md5({_dedup.NORM_SQL}) AS content_key
  FROM documents),
per_source AS (
  SELECT source,
         COUNT(*) AS n_docs,
         COUNT(DISTINCT content_key) AS n_unique
  FROM keyed GROUP BY source)
SELECT source,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_unique AS BIGINT) AS n_unique,
       ROUND(1.0 - CAST(n_unique AS DOUBLE) / n_docs, 6) AS dup_rate
FROM per_source
"""


@query("curation_dup_rate_by_source", DUP_RATE_SQL)
def curation_dup_rate_by_source(spark, sf_dir):
    """Per-source DUPLICATION rate: documents vs distinct normalized
    contents per domain — the ops dashboard that names the spammy
    sources (a domain at 60% dup rate needs its crawler fixed, not
    more dedup compute downstream).  Slices the exact-dedup signal
    by origin instead of by content key.

    Scale shape: map-side md5 then one grouped COUNT DISTINCT on
    the source key (Spark expands it to a two-phase partial
    aggregate — no per-group value buffers survive the shuffle)."""
    d = t(spark, sf_dir, "documents")
    keyed = d.select("source", F.md5(norm_col()).alias("content_key"))
    return (keyed.groupBy("source")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                 F.count_distinct("content_key").cast("bigint")
                 .alias("n_unique"))
            .select("source", "n_docs", "n_unique",
                    F.round(1.0 - F.col("n_unique").cast("double")
                            / F.col("n_docs"), 6).alias("dup_rate")))


# --------------------------------------- split leakage check
LEAKAGE_SQL = f"""
WITH pairs AS ({_LSH_PAIRS_SQL}),
b AS (
  SELECT doc_id,
         ('0x' || substr(md5('split_' || CAST(doc_id AS VARCHAR)),
                         1, 14))::BIGINT % 100 AS bucket
  FROM documents),
s AS (
  SELECT doc_id,
         CASE WHEN bucket < {SPLIT_TRAIN} THEN 'train'
              WHEN bucket < {SPLIT_VAL} THEN 'val'
              ELSE 'test' END AS split
  FROM b)
SELECT p.doc_a, p.doc_b, p.est_jaccard,
       sa.split AS split_a, sb.split AS split_b,
       sa.split <> sb.split AS is_leakage
FROM pairs p
JOIN s sa ON sa.doc_id = p.doc_a
JOIN s sb ON sb.doc_id = p.doc_b
"""


@query("curation_split_leakage", LEAKAGE_SQL)
def curation_split_leakage(spark, sf_dir):
    """Split LEAKAGE check: near-duplicate pairs that straddle the
    train/val/test boundary — the eval-hygiene failure a random
    (even deterministic-hash) split cannot prevent, because
    membership is assigned per document while near-dups are
    relationships.  Every flagged pair inflates eval scores by
    letting the model "memorize" the test answer from its training
    twin; the fix is cluster-level split assignment, and this query
    is how you find out whether you need it.

    Scale shape: reuses the banded-LSH pair plan (never all-pairs)
    and joins the per-doc split labels on the doc_id key twice —
    both joins carry two narrow columns."""
    pairs = dedup_minhash_lsh_pairs(spark, sf_dir)
    split = REGISTRY["curation_dataset_split"].fn(spark, sf_dir) \
        .select("doc_id", "split")
    sa = split.select(F.col("doc_id").alias("doc_a"),
                      F.col("split").alias("split_a"))
    sb = split.select(F.col("doc_id").alias("doc_b"),
                      F.col("split").alias("split_b"))
    return (pairs.join(sa, "doc_a").join(sb, "doc_b")
            .select("doc_a", "doc_b", "est_jaccard",
                    "split_a", "split_b",
                    (F.col("split_a") != F.col("split_b"))
                    .alias("is_leakage")))


# --------------------------------------- source quality league
LEAGUE_SQL = f"""
WITH q AS ({_QUALITY_SQL}),
rep AS ({{rep_sql}})
SELECT d.source,
       COUNT(*) AS n_docs,
       ROUND(CAST(SUM(CASE WHEN q.passes_quality THEN 1 ELSE 0 END)
                  AS DOUBLE) / COUNT(*), 6) AS quality_pass_rate,
       ROUND(CAST(SUM(CASE WHEN rep.passes_repetition THEN 1 ELSE 0
                      END) AS DOUBLE) / COUNT(*), 6)
         AS repetition_pass_rate,
       ROUND(CAST(CAST(SUM(CAST(q.chars_per_token AS DECIMAL(38,10)))
                  AS VARCHAR) AS DOUBLE) / COUNT(*), 6)
         AS avg_chars_per_token
FROM documents d
JOIN q ON q.doc_id = d.doc_id
JOIN rep ON rep.doc_id = d.doc_id
GROUP BY d.source
"""


@query(
    "curation_source_league",
    LEAGUE_SQL.format(rep_sql=REGISTRY["text_repetition_score"].oracle),
)
def curation_source_league(spark, sf_dir):
    """Source quality LEAGUE table: per domain, the pass rates of
    the quality and repetition gates plus the mean chars-per-token —
    the ranking that turns per-document scores into per-source
    mixture decisions (a domain failing 40% of gates gets
    down-weighted at the source, not filtered doc by doc).
    Composes two verified scoring operators on the doc_id key and
    folds to source-cardinality rows with DECIMAL-exact means."""
    d = t(spark, sf_dir, "documents").select("doc_id", "source")
    q = REGISTRY["text_quality_score"].fn(spark, sf_dir) \
        .select("doc_id", "chars_per_token", "passes_quality")
    rep = REGISTRY["text_repetition_score"].fn(spark, sf_dir) \
        .select("doc_id", "passes_repetition")
    pr = lambda c: F.round(  # noqa: E731
        F.sum(F.when(c, 1).otherwise(0)).cast("double")
        / F.count(F.lit(1)), 6)
    return (d.join(q, "doc_id").join(rep, "doc_id")
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 pr(F.col("passes_quality")).alias("quality_pass_rate"),
                 pr(F.col("passes_repetition"))
                 .alias("repetition_pass_rate"),
                 F.round(F.sum(F.col("chars_per_token")
                               .cast("decimal(38,10)")).cast("double")
                         / F.count(F.lit(1)), 6)
                 .alias("avg_chars_per_token")))


# ------------------------------------- token-budget mixture planner
#: total training-token budget the plan allocates across sources.
TOKEN_BUDGET = 100_000
#: sampling temperature: weight ∝ tokens^ALPHA.  α=1 reproduces the
#: natural distribution; α→0 flattens it (the multilingual-sampling
#: dial of GPT-3/XLM-R; public literature: Conneau et al. 2020).
BUDGET_ALPHA = 0.5

TOKEN_BUDGET_SQL = f"""
WITH tok AS (
  SELECT source, SUM(len(regexp_split_to_array(trim(text), '\\s+')))
           AS n_tokens
  FROM documents GROUP BY source),
w AS (
  SELECT source, n_tokens,
         ROUND(pow(CAST(n_tokens AS DOUBLE), {BUDGET_ALPHA}), 6)
           AS weight
  FROM tok),
tw AS (
  SELECT CAST(CAST(SUM(CAST(weight AS DECIMAL(38,10))) AS VARCHAR)
              AS DOUBLE) AS total_w
  FROM w)
SELECT source,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       weight,
       ROUND(weight / total_w, 6) AS alloc_frac,
       CAST(FLOOR({TOKEN_BUDGET} * ROUND(weight / total_w, 6))
            AS BIGINT) AS alloc_tokens,
       ROUND({TOKEN_BUDGET} * ROUND(weight / total_w, 6)
             / n_tokens, 6) AS epochs_over_source
FROM w CROSS JOIN tw
"""


@query("curation_token_budget", TOKEN_BUDGET_SQL)
def curation_token_budget(spark, sf_dir):
    """Temperature-scaled token-budget allocation across sources —
    the mixture-PLANNING step that precedes curation_mixture_sample's
    execution: weight each source by ``tokens^α`` (α={BUDGET_ALPHA}:
    up-weights small domains relative to their natural share, the
    standard multilingual/multi-domain sampling fix), normalize, and
    allocate the global token budget.  ``epochs_over_source`` > 1
    flags a source the plan would repeat — the early-warning for
    small-domain overfitting.

    Scale shape: one map-side-combined shuffle to source-cardinality
    token counts; everything after runs on ~source-count rows (the
    weight normalizer accumulates in DECIMAL so the one
    order-sensitive sum is exact on both engines)."""
    d = t(spark, sf_dir, "documents")
    from .text import tokens_col

    tok = (d.select("source",
                    F.size(tokens_col(F.col("text"))).alias("nt"))
           .groupBy("source").agg(F.sum("nt").alias("n_tokens")))
    w = tok.select(
        "source", "n_tokens",
        F.round(F.pow(F.col("n_tokens").cast("double"),
                      F.lit(BUDGET_ALPHA)), 6).alias("weight"))
    total = w.agg(
        F.sum(F.col("weight").cast("decimal(38,10)"))
        .cast("double").alias("total_w"))
    frac = F.round(F.col("weight") / F.col("total_w"), 6)
    return (w.crossJoin(total)
            .select("source",
                    F.col("n_tokens").cast("bigint").alias("n_tokens"),
                    "weight",
                    frac.alias("alloc_frac"),
                    F.floor(F.lit(TOKEN_BUDGET) * frac)
                    .cast("bigint").alias("alloc_tokens"),
                    F.round(F.lit(TOKEN_BUDGET) * frac
                            / F.col("n_tokens"), 6)
                    .alias("epochs_over_source")))


# ----------------------------------------- training-shard manifest
#: shard fan-out of the exported training set.
N_SHARDS = 8

SHARD_MANIFEST_SQL = f"""
WITH keyed AS (
  SELECT doc_id,
         len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
         length(text) AS n_chars,
         ('0x' || substr(md5(text), 1, 14))::BIGINT AS h
  FROM documents)
SELECT CAST(h % {N_SHARDS} AS INTEGER) AS shard_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       CAST(SUM(n_chars) AS BIGINT) AS n_chars,
       CAST(MIN(doc_id) AS BIGINT) AS min_doc_id,
       CAST(MAX(doc_id) AS BIGINT) AS max_doc_id,
       bit_xor(h) AS content_checksum
FROM keyed GROUP BY 1
"""


@query("curation_shard_manifest", SHARD_MANIFEST_SQL)
def curation_shard_manifest(spark, sf_dir):
    """Training-shard manifest: the summary a dataloader consumes
    when the curated set is exported as N hash-routed shards — per
    shard, the document/token/char counts, the id range, and an
    order-independent XOR content checksum (so a re-export can be
    byte-verified shard-by-shard without re-reading the data).
    Hash routing (portable md5-derived key, the same family as
    curation_dataset_split) makes shard membership deterministic and
    independent of partitioning, so two clusters exporting the same
    corpus produce identical manifests.

    Scale shape: one map stage computes the per-doc key and sizes;
    one map-side-combined shuffle folds to shard-cardinality rows.
    XOR is associative/commutative — exact under any execution
    order, no DECIMAL machinery needed."""
    d = t(spark, sf_dir, "documents")
    from .text import tokens_col

    h = stable_hash64(F.col("text"))
    keyed = d.select(
        "doc_id",
        F.size(tokens_col(F.col("text"))).alias("n_tokens"),
        F.length("text").alias("n_chars"),
        h.alias("h"))
    return (keyed.groupBy((F.col("h") % N_SHARDS).cast("int")
                          .alias("shard_id"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                 F.sum("n_tokens").cast("bigint").alias("n_tokens"),
                 F.sum("n_chars").cast("bigint").alias("n_chars"),
                 F.min("doc_id").cast("bigint").alias("min_doc_id"),
                 F.max("doc_id").cast("bigint").alias("max_doc_id"),
                 F.bit_xor("h").alias("content_checksum")))


# ----------------------------------------- gate agreement matrix
GATE_OVERLAP_SQL = """
WITH q AS (SELECT doc_id, passes_quality AS v FROM ({q}) t),
r AS (SELECT doc_id, passes_repetition AS v FROM ({r}) t),
b AS (SELECT doc_id, NOT is_blocked AS v FROM ({b}) t),
l AS (SELECT doc_id, lang_pred <> 'unknown' AS v FROM ({l}) t),
long AS (
  SELECT doc_id, 'quality' AS gate, v FROM q
  UNION ALL SELECT doc_id, 'repetition', v FROM r
  UNION ALL SELECT doc_id, 'not_blocked', v FROM b
  UNION ALL SELECT doc_id, 'lang_known', v FROM l)
SELECT a.gate AS gate_a, c.gate AS gate_b,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN a.v AND c.v THEN 1 ELSE 0 END) AS BIGINT)
         AS both_pass,
       CAST(SUM(CASE WHEN NOT a.v AND NOT c.v THEN 1 ELSE 0 END)
            AS BIGINT) AS both_fail,
       ROUND(CAST(SUM(CASE WHEN a.v = c.v THEN 1 ELSE 0 END)
                  AS DOUBLE) / COUNT(*), 6) AS agree_rate
FROM long a JOIN long c
  ON c.doc_id = a.doc_id AND a.gate < c.gate
GROUP BY a.gate, c.gate
"""


def _gate_overlap_oracle() -> str:
    return GATE_OVERLAP_SQL.format(
        q=REGISTRY["text_quality_score"].oracle,
        r=REGISTRY["text_repetition_score"].oracle,
        b=REGISTRY["text_blocklist_filter"].oracle,
        l=REGISTRY["text_lang_id"].oracle)


@query("curation_gate_overlap", _gate_overlap_oracle())
def curation_gate_overlap(spark, sf_dir):
    """Gate agreement matrix: for every pair of curation gates
    (quality, repetition, blocklist, language-known), how often the
    two verdicts agree and how the pass/fail mass splits.  A pair
    agreeing ~always means one gate is redundant (drop the expensive
    one); a pair that NEVER both fails means they police disjoint
    failure modes and both earn their cost — the calibration
    evidence behind pruning a gate stack.  Composes four verified
    scoring operators; the oracle composes their SQL verbatim, so
    the integration is hash-checked like curation_pipeline's.

    Scale shape (round-11 rewrite): ONE corpus scan computes all
    four gate booleans per document map-side — including
    repetition's top-token count, which folds in-row over the sorted
    token array instead of paying the scoring entry's (doc, token)
    shuffle (text.repetition_pass_col; equality with the entry is
    test-pinned) — then one map-side-combined GLOBAL aggregation
    folds the 6 pairs' counters, unpivoted to the 6 output rows.
    Zero joins, one single-row exchange; the previous shape ran four
    separate scoring scans, unioned them long, and self-joined on
    doc_id.  Pairs involving repetition count only documents with
    tokens: the repetition scoring entry (and the composed oracle)
    drop zero-token documents, so the doc_id join excluded them from
    exactly those pairs."""
    from itertools import combinations

    from .text import (blocked_col, lang_known_col, quality_pass_col,
                       repetition_pass_col, tokens_col)

    d = t(spark, sf_dir, "documents")
    text = F.col("text")
    wide = d.select(
        quality_pass_col(text).alias("quality"),
        repetition_pass_col(text).alias("repetition"),
        (~blocked_col(text)).alias("not_blocked"),
        lang_known_col(text).alias("lang_known"),
        (F.size(tokens_col(text)) > 0).alias("has_tokens"))
    pairs = list(combinations(
        sorted(["quality", "repetition", "not_blocked",
                "lang_known"]), 2))

    def csum(cond):
        return F.sum(F.when(cond, 1).otherwise(0))

    sums = []
    for i, (ga, gb) in enumerate(pairs):
        present = (F.col("has_tokens")
                   if "repetition" in (ga, gb) else F.lit(True))
        sums += [
            csum(present).alias(f"n{i}"),
            csum(present & F.col(ga) & F.col(gb)).alias(f"bp{i}"),
            csum(present & ~F.col(ga) & ~F.col(gb)).alias(f"bf{i}"),
            csum(present & (F.col(ga) == F.col(gb))).alias(f"ag{i}"),
        ]
    one = wide.agg(*sums)
    rows = F.array(*[
        F.struct(
            F.lit(ga).alias("gate_a"), F.lit(gb).alias("gate_b"),
            F.col(f"n{i}").cast("bigint").alias("n_docs"),
            F.col(f"bp{i}").cast("bigint").alias("both_pass"),
            F.col(f"bf{i}").cast("bigint").alias("both_fail"),
            F.round(F.col(f"ag{i}").cast("double")
                    / F.col(f"n{i}"), 6).alias("agree_rate"))
        for i, (ga, gb) in enumerate(pairs)])
    return (one.select(F.explode(rows).alias("r")).select("r.*")
            .filter(F.col("n_docs") > 0))


# ------------------------------------------------- dataset card
def _dataset_card_oracle() -> str:
    return """
WITH base AS (
  SELECT COUNT(*) AS n_docs,
         CAST(SUM(len(regexp_split_to_array(trim(text), '\\s+')))
              AS BIGINT) AS n_tokens,
         CAST(SUM(length(text)) AS BIGINT) AS n_chars,
         COUNT(DISTINCT source) AS n_sources,
         COUNT(DISTINCT lang) AS n_langs
  FROM documents),
q AS (SELECT ROUND(CAST(SUM(CASE WHEN passes_quality THEN 1 ELSE 0
                              END) AS DOUBLE) / COUNT(*), 6) AS pq
      FROM ({q}) t),
r AS (SELECT ROUND(CAST(SUM(CASE WHEN passes_repetition THEN 1 ELSE 0
                              END) AS DOUBLE) / COUNT(*), 6) AS pr
      FROM ({r}) t),
b AS (SELECT ROUND(CAST(SUM(CASE WHEN is_blocked THEN 1 ELSE 0
                              END) AS DOUBLE) / COUNT(*), 6) AS pb
      FROM ({b}) t),
e AS (
  SELECT ROUND(CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE)
               / SUM(c), 6) AS exact_dup_rate
  FROM (SELECT md5(lower(regexp_replace(text, '[^a-zA-Z0-9]', '',
                                        'g'))) AS h,
               COUNT(*) AS c
        FROM documents GROUP BY 1) t),
p AS (SELECT COUNT(*) AS near_dup_pairs FROM ({lsh}) t)
SELECT base.n_docs, base.n_tokens, base.n_chars, base.n_sources,
       base.n_langs,
       ROUND(CAST(base.n_tokens AS DOUBLE) / base.n_docs, 6)
         AS mean_doc_tokens,
       q.pq AS quality_pass_rate,
       r.pr AS repetition_pass_rate,
       b.pb AS blocked_rate,
       e.exact_dup_rate,
       CAST(p.near_dup_pairs AS BIGINT) AS near_dup_pairs
FROM base, q, r, b, e, p
""".format(q=REGISTRY["text_quality_score"].oracle,
           r=REGISTRY["text_repetition_score"].oracle,
           b=REGISTRY["text_blocklist_filter"].oracle,
           lsh=REGISTRY["dedup_minhash_lsh_pairs"].oracle)


@query("curation_dataset_card", _dataset_card_oracle())
def curation_dataset_card(spark, sf_dir):
    """Dataset card: the one-row release summary of a training
    corpus — volume (docs/tokens/chars/sources/langs), gate pass
    rates (quality, repetition, blocklist), exact-duplicate token
    share, and the near-dup pair count.  The numbers a dataset
    README publishes, produced by composing the verified operators
    so the card can never drift from what the gates actually
    compute; the oracle composes the same SQL, so even this summary
    is hash-checked end-to-end.

    Scale shape: each constituent is its already-audited plan; the
    epilogue folds six single-row aggregates with cross joins of
    scalars (bounded, broadcast by construction)."""
    d = t(spark, sf_dir, "documents")
    from .text import tokens_col

    base = d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(tokens_col(F.col("text")))).cast("bigint")
        .alias("n_tokens"),
        F.sum(F.length("text")).cast("bigint").alias("n_chars"),
        F.countDistinct("source").alias("n_sources"),
        F.countDistinct("lang").alias("n_langs"))
    rate = lambda c: F.round(  # noqa: E731
        F.sum(F.when(c, 1).otherwise(0)).cast("double")
        / F.count(F.lit(1)), 6)
    q = (REGISTRY["text_quality_score"].fn(spark, sf_dir)
         .agg(rate(F.col("passes_quality")).alias("quality_pass_rate")))
    r = (REGISTRY["text_repetition_score"].fn(spark, sf_dir)
         .agg(rate(F.col("passes_repetition"))
              .alias("repetition_pass_rate")))
    b = (REGISTRY["text_blocklist_filter"].fn(spark, sf_dir)
         .agg(rate(F.col("is_blocked")).alias("blocked_rate")))
    h = F.md5(F.lower(F.regexp_replace(F.col("text"),
                                       "[^a-zA-Z0-9]", "")))
    e = (d.select(h.alias("h"))
         .groupBy("h").agg(F.count(F.lit(1)).alias("c"))
         .agg(F.round(
             F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0))
             .cast("double") / F.sum("c"), 6).alias("exact_dup_rate")))
    p = (dedup_minhash_lsh_pairs(spark, sf_dir)
         .agg(F.count(F.lit(1)).cast("bigint").alias("near_dup_pairs")))
    out = base
    for scalar in (q, r, b, e, p):
        out = out.crossJoin(scalar)
    return out.select(
        "n_docs", "n_tokens", "n_chars", "n_sources", "n_langs",
        F.round(F.col("n_tokens").cast("double") / F.col("n_docs"), 6)
        .alias("mean_doc_tokens"),
        "quality_pass_rate", "repetition_pass_rate", "blocked_rate",
        "exact_dup_rate", "near_dup_pairs")


# ------------------------------- learned quality gate (trained)
#: hashing-trick feature buckets (+1 bias feature at index D_FEATS)
D_FEATS = 64
#: unrolled batch-gradient-descent iterations (mirrored in the SQL
#: oracle) and learning rate (0.5 is binary-exact)
GD_ITERS = 2
GD_LR = 0.5

#: engine-portable squashing link: p = 0.5 + 0.5*m/(1+|m|) — the
#: "fast sigmoid".  Chosen over 1/(1+exp(-m)) deliberately: exp()
#: goes through libm and Java's Math.exp / DuckDB's C exp can differ
#: in the last ulp, which would poison the hash compare after two
#: training iterations; the rational link is plain IEEE arithmetic,
#: bit-identical on both engines, and monotone (0,1) like the
#: logistic it stands in for.
_LINK_SQL = "0.5 + 0.5 * {m} / (1 + abs({m}))"


#: result schema of the dense feature build (shared by both
#: implementations below).
_FEAT_SCHEMA = ("doc_id bigint, source string, y double, "
                "xs array<double>")

def _feat_batches(it):
    """Arrow batch kernel for :func:`_dense_features`: per document,
    tokenize (``\\s+`` split of the trimmed text — same semantics as
    the Catalyst/DuckDB ``regexp_split_to_array(trim(text),'\\s+')``
    on this ASCII corpus), hash each non-empty token with the
    engine-portable md5-56 (``int(md5(tok)[:14], 16) % D`` — the
    exact integers functions/hashing.stable_hash64 computes
    JVM-side), bincount into the D+1 dense vector (bias slot = 1.0),
    and derive the rule-gate label from plain char counts.  Pinned
    bit-identical to the expression twin by
    tests/test_curation_gd.py::test_dense_features_twins_identical."""
    import hashlib
    import re

    import numpy as np
    import pandas as pd

    # re.ASCII pins \s to [ \t\n\r\f\v] — the same set Java's regex
    # \s matches — so a future non-ASCII corpus (U+00A0 etc.) splits
    # identically on both engines instead of silently diverging
    ws = re.compile(r"\s+", re.ASCII)
    punct = set(".,;:!?")
    digits = set("0123456789")  # translate('0123456789') semantics,
    # NOT str.isdigit (which also counts '²', Arabic-Indic digits...)
    for pdf in it:
        out_y, out_xs = [], []
        for text in pdf["text"]:
            text = text or ""
            # SQL trim() — Spark AND DuckDB — strips SPACES only,
            # not tabs/controls (unlike Java String.trim or Python
            # str.strip): adversarial-pinned in
            # test_dense_features_twins_identical_adversarial
            toks = ws.split(text.strip(" "))
            ntok = len(toks)  # split elements INCLUDING empties —
            # matches len(regexp_split_to_array(...)) in the oracle
            nchar = len(text)
            npunct = sum(1 for c in text if c in punct)
            ndigit = sum(1 for c in text if c in digits)
            xs = np.zeros(D_FEATS + 1)
            xs[D_FEATS] = 1.0
            for tok in toks:
                if tok:
                    # tokens are LOWERCASED before hashing, exactly
                    # like the twin's transform(tokens, lower) and
                    # the oracle's lower(unnest(...))
                    j = int(hashlib.md5(
                        tok.lower().encode()).hexdigest()[:14],
                        16) % D_FEATS
                    xs[j] += 1.0
            y = (1.0 if (10 <= ntok <= 1000 and nchar > 0
                         and npunct / nchar < 0.2
                         and ndigit / nchar < 0.3) else 0.0)
            out_y.append(y)
            out_xs.append(xs.tolist())
        yield pd.DataFrame({"doc_id": pdf["doc_id"],
                            "source": pdf["source"],
                            "y": out_y, "xs": out_xs})


def _dense_features(spark, sf_dir):
    """ONE corpus scan -> persisted (doc_id, source, y, xs) dense
    training vectors shared by the trainer and the gate — built as
    a single shuffle-free ``mapInPandas`` Arrow stage.

    Scale shape: the per-doc feature vector is embarrassingly
    parallel (tokenize -> hash -> bincount -> label, no cross-doc
    state), so the right plan is a MAP stage over the corpus scan —
    zero exchanges.  Catalyst expressions cannot bincount into an
    array, so the expression formulation (kept below as
    :func:`_dense_features_exprs`, bit-equal, regression-tested) has
    to explode one row per token and run TWO corpus-sized count
    shuffles to rebuild the per-doc vector; at 100 TB those two
    exchanges move the tokenized corpus twice for what is per-row
    work.  The Arrow kernel keeps the corpus unmoved and measured
    3x faster at sf0.1 (0.49s vs 1.4-1.6s, round-9 profile) — this
    is the 'vectorized Pandas UDF where built-ins genuinely cannot
    express the shape' escape hatch, not a row-at-a-time UDF.

    Float discipline: counts are small integers (exact in double);
    the label is a boolean of integer comparisons — both
    implementations and the DuckDB oracle agree bit-for-bit
    (equality pinned at sf0.01 and sf0.1).

    Partitioning: an Arrow stage's width IS its python-worker count,
    and each COLD worker pays a pandas/pyarrow import (~8s wall for
    32 simultaneous cold spawns, measured round 9) — so the fan-out
    is sized to the WORK (one partition per ~1000 docs, capped at
    the session parallelism) instead of blindly spreading to every
    core.  At 100 TB the scan has orders of magnitude more natural
    splits than cores and this path is a no-op (repartition only
    ever runs when the input has fewer partitions than the target).

    Memoized per (session, corpus file identity): the trainer and
    the gate both call this, and the gate's scoring pass must reuse
    the TRAINER's persisted feature stage.  Relying on CacheManager
    sameResult-matching two separately-built mapInPandas plans is
    fragile (each embeds its own pickled python function — plan
    canonicalization across pickles is not guaranteed), so the memo
    returns the SAME DataFrame object instead of an equal plan."""
    import os

    from pyspark import StorageLevel
    from pyspark.sql import DataFrame

    from ..io import _memo, adaptive_cache_level, parquet_row_count

    corpus = os.path.join(sf_dir, "documents.parquet")
    n_docs = parquet_row_count(corpus)

    def build():
        d = t(spark, sf_dir, "documents").select("doc_id", "source",
                                                 "text")
        target = max(1, min(spark.sparkContext.defaultParallelism,
                            -(-n_docs // 1000)))
        if d.rdd.getNumPartitions() < target:
            d = d.repartition(target)
        return d.mapInPandas(_feat_batches, _FEAT_SCHEMA)

    # an evicted entry is UNPERSISTED: its DISK_ONLY blocks would
    # otherwise stay registered in the CacheManager for the session's
    # life with no reachable handle
    fxv = _memo(spark, corpus, ("dense_features",), build,
                release=DataFrame.unpersist)
    # persisted here, and again after a spark.catalog.clearCache()
    # (bench drops caches between runs), which deregisters the
    # persist under the memo's feet — or the multi-branch GD chain
    # re-runs the Arrow kernel once per branch (measured 1.35s ->
    # 2.15s in the first r10 capture).  Dense row = (D+1)-double
    # vector + id/source/label: the level is corpus-adaptive like
    # _tfidf_w's (r14 verdict #2 — memory while it fits the
    # heap-fraction budget, DISK_ONLY past it)
    if fxv.storageLevel == StorageLevel.NONE:
        fxv.persist(adaptive_cache_level(
            spark, n_docs * (D_FEATS + 6) * 9))
    return fxv


def _dense_features_exprs(spark, sf_dir):
    """Catalyst-expression twin of :func:`_dense_features` (the
    former default), kept as the cross-implementation regression
    anchor: same output bit-for-bit, built from explode + two count
    shuffles instead of the Arrow map stage.

    The label y and the source are computed in the SAME projection
    that tokenizes (they are constant per doc, so carrying them as
    extra grouping keys through the two count shuffles is legal —
    the same norm-carry trick text.py's _tfidf_w uses) — v2 scanned
    and re-tokenized `documents` a second time just to build a
    labels table and joined it back (measured ~0.8s of the 2.1s
    feature build at sf0.1).  The per-doc columns sit on the
    Generate's requiredChildOutput, so they are evaluated once per
    DOC, not once per exploded token; the token->md5->bucket path
    itself stays a flat explode+filter+hash pipeline (whole-stage
    codegen — a nested transform(filter(transform(...))) variant
    was measured 2x SLOWER because higher-order functions evaluate
    their lambda interpreted per element, taking the md5 with
    them).  ``explode_outer`` keeps zero-token docs (they must
    still get a bias-only vector, like the oracle's UNION ALL bias
    row); their null feat entry is filtered out of the per-doc map
    before densifying."""
    import os

    from ..io import adaptive_cache_level, parquet_row_count

    n_docs = parquet_row_count(
        os.path.join(sf_dir, "documents.parquet"))
    d = spread(t(spark, sf_dir, "documents"))
    # label ingredients as cheap per-doc char counts: COUNT(chars in
    # class) == length(text) - length(translate(text, class, ''))
    # value-for-value (verified corpus-wide), and translate is a
    # linear byte scan where the oracle-shaped regexp_replace was
    # ~1s of java-regex time per feature build; the token count is
    # NOT computed here at all — it equals SUM(x) over the per-doc
    # rows below (explode_outer emits one row per split() element
    # INCLUDING empties and the zero-token null, exactly
    # len(regexp_split_to_array) — so the tokenizer runs once)
    toks = d.select(
        "doc_id", "source",
        F.length("text").alias("nchar"),
        (F.length("text")
         - F.length(F.translate(F.col("text"), ".,;:!?", "")))
        .alias("npunct"),
        (F.length("text")
         - F.length(F.translate(F.col("text"), "0123456789", "")))
        .alias("ndigit"),
        F.explode_outer(
            F.transform(tokens_col(F.col("text")),
                        lambda x: F.lower(x))).alias("tok"))
    # empty tokens and the explode_outer null of a zero-token doc
    # both map to a null feat (dropped from the per-doc map below)
    # instead of a row filter, so every doc keeps >= 1 row, gets its
    # bias-only dense vector, and SUM(x) keeps counting every token
    fm = (toks.select("doc_id", "source", "nchar", "npunct",
                      "ndigit",
                      F.when(F.length("tok") > 0,
                             (stable_hash64(F.col("tok")) % D_FEATS)
                             .cast("int")).alias("feat"))
          .groupBy("doc_id", "source", "nchar", "npunct", "ndigit",
                   "feat")
          .agg(F.count(F.lit(1)).cast("double").alias("x"))
          .groupBy("doc_id", "source", "nchar", "npunct", "ndigit")
          .agg(F.map_from_entries(
              F.filter(F.collect_list(F.struct("feat", "x")),
                       lambda s: s["feat"].isNotNull())).alias("fm"),
               F.sum("x").alias("ntok")))
    ratio = lambda c: (  # noqa: E731
        F.col(c).cast("double") / F.col("nchar"))
    y = F.when((F.col("ntok") >= 10) & (F.col("ntok") <= 1000)
               & (ratio("npunct") < 0.2)
               & (ratio("ndigit") < 0.3),
               F.lit(1.0)).otherwise(F.lit(0.0))
    dense = F.transform(
        F.sequence(F.lit(0), F.lit(D_FEATS)),
        lambda i: F.when(i == D_FEATS, F.lit(1.0)).otherwise(
            F.coalesce(F.element_at(F.col("fm"), i), F.lit(0.0))))
    return (fm.select("doc_id", "source", y.alias("y"),
                      dense.alias("xs"))
            .persist(adaptive_cache_level(
                spark, n_docs * (D_FEATS + 6) * 9)))

_CLS_GATE_SQL = f"""
  CASE WHEN len({TOKENS_SQL}) >= 10 AND len({TOKENS_SQL}) <= 1000
            AND CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g'))
                     AS DOUBLE) / length(text) < 0.2
            AND CAST(length(regexp_replace(text, '[^0-9]', '', 'g'))
                     AS DOUBLE) / length(text) < 0.3
       THEN 1.0 ELSE 0.0 END"""


def _classifier_oracle() -> str:
    """Unrolled-GD oracle: hashed token counts + bias feature,
    zero-initialized weights, GD_ITERS rounds of (fixed-point margin
    -> fast-sigmoid probability -> fixed-point gradient -> 8dp
    weight update) against the rule-gate labels."""
    header = f"""
WITH toks AS (
  SELECT doc_id, lower(unnest({TOKENS_SQL})) AS tok FROM documents),
fx AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(tok), 1, 14))::BIGINT % {D_FEATS}
              AS INTEGER) AS feat,
         CAST(COUNT(*) AS DOUBLE) AS x
  FROM toks WHERE len(tok) > 0 GROUP BY 1, 2
  UNION ALL
  SELECT doc_id, {D_FEATS} AS feat, 1.0 AS x FROM documents),
labels AS (
  SELECT doc_id, {_CLS_GATE_SQL} AS y FROM documents),
nd AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM documents),
w0 AS (SELECT CAST(unnest(range(0, {D_FEATS} + 1)) AS INTEGER)
              AS feat, 0.0 AS w)"""
    steps = []
    for i in range(GD_ITERS):
        link = _LINK_SQL.format(m="m.m")
        steps.append(f"""
m{i} AS (
  SELECT f.doc_id,
         CAST(SUM(CAST(FLOOR(w.w * f.x * 100000000 + 0.5) AS BIGINT))
              AS DOUBLE) / 100000000 AS m
  FROM fx f JOIN w{i} w USING (feat) GROUP BY f.doc_id),
p{i} AS (SELECT m.doc_id, {link} AS p FROM m{i} m),
g{i} AS (
  SELECT f.feat,
         CAST(SUM(CAST(FLOOR((p.p - l.y) * f.x * 100000000 + 0.5)
                       AS BIGINT)) AS DOUBLE) / 100000000 AS g
  FROM fx f JOIN p{i} p USING (doc_id) JOIN labels l USING (doc_id)
  GROUP BY f.feat),
w{i + 1} AS (
  SELECT w.feat,
         ROUND(w.w - {GD_LR} * COALESCE(g.g, 0) / (SELECT n FROM nd),
               8) AS w
  FROM w{i} w LEFT JOIN g{i} g USING (feat))""")
    return (header + "," + ",".join(steps) + f"""
SELECT feat, w AS weight FROM w{GD_ITERS}""")


@query("curation_quality_classifier", _classifier_oracle())
def curation_quality_classifier(spark, sf_dir):
    """Learned quality gate: a linear classifier over hashing-trick
    token features, trained with {GD_ITERS} unrolled batch-gradient-
    descent iterations against the rule-based gate
    (text_quality_score's passes_quality) as labels — the
    rule->learned progression every production curation pipeline
    runs (rules bootstrap labels, the model generalizes them).
    Returns the learned weight vector (feat, weight).

    Scale shape — the textbook distributed-GD layout (one vector
    per example, model broadcast, gradient tree-aggregated): the
    corpus is scanned ONCE into a DENSE per-doc feature vector
    (array<double> of D+1 = {D}+1 hashed-bucket counts + bias) with
    its label, persisted at a corpus-adaptive storage level
    (io.adaptive_cache_level).  The weight vector is a python
    list turned into a LITERAL array column each round (model
    parameters — bounded at D+1 by construction, never data), so an
    iteration is ONE job: a map stage computing margin/link/error
    per doc (zip_with + aggregate over the array — pure codegen),
    then posexplode to (bucket, err*x) rows whose groupBy(bucket)
    partially aggregates map-side to D+1 rows per task — the
    shuffle moves ~(D+1) x n_tasks rows, never the corpus.  The
    GD_ITERS rounds CHAIN inside one plan: round i's D+1-row weight
    table is collapsed to a single-row array column
    (array_sort(collect_list) — model parameters, bounded by
    construction) and broadcast-cross-joined back onto the persisted
    feature vectors for round i+1, so the whole train is ONE action
    with no per-iteration driver round-trip or collect.
    (Lineage: the round-6 sweep caught v1 at 10.9s — long-format
    weights meant 4 corpus shuffles/round.  v2 built the features
    with TWO corpus scans — a tokenize pass plus a separate
    labels scan joined back — costing ~0.8s of the 2.1s feature
    build; v3 folds label + source into the tokenizing projection,
    see _dense_features; v4 replaces v3's per-round
    literal-weights + 65-row collect loop with the chained
    broadcast re-entry above — the arithmetic is untouched, only
    the driver round-trips between rounds are gone.  A
    D+1-accumulator no-key aggregate was ALSO measured as the
    gradient shape and REJECTED: 65 separate sum slots ran ~3x
    slower per iteration than posexplode's single-expression
    partial agg — wide agg buffers beat narrow exploded rows only
    when the explode fan-out exceeds the accumulator width, and
    here both are D+1.)

    Float discipline: margins and gradients accumulate in exact
    fixed point (floor(v*1e8+0.5) as BIGINT; absent buckets
    contribute floor(0.5) = 0, so the dense form equals the
    oracle's sparse join bit-for-bit); the link is the rational
    fast-sigmoid (see _LINK_SQL — no libm exp, engine-exact);
    weights round to 8dp per update IN SPARK (F.round half-up ==
    DuckDB ROUND; python round() is half-to-even and must not
    touch them); lr=0.5 and the integer counts are binary-exact."""
    import os

    from ..io import parquet_row_count

    fxv = _dense_features(spark, sf_dir)
    # n = COUNT(*) of documents, straight from the parquet footer —
    # no count job; the persist materializes inside iteration 0
    n_docs = float(parquet_row_count(
        os.path.join(sf_dir, "documents.parquet")))

    # round 0 starts from the zero-vector LITERAL; every later
    # round's weights re-enter as a broadcast single-row array
    # column, so the whole unroll is one lazy plan
    w_expr = F.lit([0.0] * (D_FEATS + 1))
    upd = None
    for i in range(GD_ITERS):
        if i == 0:
            cur = fxv
            # no margin SQL needed: round 0's p folds to 0.5 below
        else:
            # collapse the previous round's D+1 weight rows into
            # ONE array row (sorted by pos — struct sort orders on
            # the leading field) and broadcast it back onto the
            # persisted feature vectors
            wrow = (upd.agg(F.array_sort(
                F.collect_list(F.struct("pos", "w"))).alias("pw"))
                .select(F.transform(F.col("pw"),
                                    lambda s: s["w"])
                        .alias("w_arr")))
            cur = fxv.crossJoin(wrow)
            w_expr = F.col("w_arr")
            w_sql = "w_arr"
        # fixed-point margin as ONE F.expr SQL string — identical
        # resolved expressions to the lambda composition (verified
        # value-for-value), built in a single py4j round trip
        # instead of ~10 (round-9: plan BUILD time was a large
        # share of this trainer's bench wall).  Round 0's margin is
        # folded by hand: under the zero weight vector every term is
        # floor(0*x*1e8 + 0.5) = 0, so m = 0 and p = 0.5 exactly —
        # Catalyst cannot constant-fold through the HOF, and the
        # manual fold skips a D+1-element interpreted fold per doc
        # in the first (feature-materializing) pass.  The oracle
        # keeps its unrolled m0/p0 CTEs; the VALUES are identical
        # by the arithmetic above (hash-pinned).
        if i == 0:
            p = F.lit(0.5)
        else:
            m = F.expr(
                f"CAST(aggregate(zip_with(xs, {w_sql}, (x, wv) -> "
                f"CAST(FLOOR(wv * x * 100000000.0D + 0.5D) AS "
                f"BIGINT)), CAST(0 AS BIGINT), (acc, x) -> acc + x) "
                f"AS DOUBLE) / 100000000.0D")
            p = F.lit(0.5) + F.lit(0.5) * m / (F.lit(1) + F.abs(m))
        cols = [(p - F.col("y")).alias("err"),
                F.posexplode("xs").alias("pos", "x")]
        if i > 0:
            cols.append(F.col("w_arr"))
        ex = cur.select(*cols)
        # xs is DENSE (length D+1 always), so every pos appears for
        # every doc — grad has exactly D+1 rows, matching the
        # oracle's LEFT JOIN + COALESCE(g, 0) without a fill step.
        # w_arr is constant across rows; first() re-surfaces it
        # past the aggregation for the update expression
        aggs = [(F.sum(F.floor(F.col("err") * F.col("x")
                               * 1e8 + 0.5).cast("long"))
                 .cast("double") / 1e8).alias("g")]
        if i > 0:
            aggs.append(F.first("w_arr").alias("w_arr"))
        grad = ex.groupBy("pos").agg(*aggs)
        upd = grad.select(
            "pos",
            F.round(F.element_at(w_expr, F.col("pos") + 1)
                    - F.lit(GD_LR) * F.col("g") / F.lit(n_docs),
                    8).alias("w"))
    return upd.select(F.col("pos").alias("feat"),
                      F.col("w").alias("weight"))


def _gate_oracle() -> str:
    """Scoring oracle: the classifier-training CTE chain (reused
    verbatim from _classifier_oracle) + one scoring pass that
    re-derives each doc's margin under the FINAL weights and
    compares the model's decision (fast-sigmoid >= 0.5, i.e.
    margin >= 0) with the rule gate, rolled up per source."""
    train = _classifier_oracle()
    # strip the trailing SELECT, keep the WITH chain
    ctes = train[:train.rindex("\nSELECT")]
    return ctes + f""",
score AS (
  SELECT f.doc_id,
         CAST(SUM(CAST(FLOOR(w.w * f.x * 100000000 + 0.5) AS BIGINT))
              AS DOUBLE) / 100000000 AS m
  FROM fx f JOIN w{GD_ITERS} w USING (feat) GROUP BY f.doc_id),
verdicts AS (
  SELECT d.source,
         CASE WHEN s.m >= 0 THEN 1.0 ELSE 0.0 END AS model_pass,
         l.y AS rule_pass
  FROM documents d
  JOIN score s ON s.doc_id = d.doc_id
  JOIN labels l ON l.doc_id = d.doc_id)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CAST(rule_pass AS BIGINT)) AS BIGINT) AS n_rule_pass,
       CAST(SUM(CAST(model_pass AS BIGINT)) AS BIGINT) AS n_model_pass,
       CAST(SUM(CASE WHEN rule_pass = model_pass THEN 1 ELSE 0 END)
            AS BIGINT) AS n_agree,
       ROUND(CAST(SUM(CASE WHEN rule_pass = model_pass
                           THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS agreement_rate
FROM verdicts GROUP BY source"""


@query("curation_classifier_gate", _gate_oracle())
def curation_classifier_gate(spark, sf_dir):
    """APPLY the learned quality gate: train the classifier
    (curation_quality_classifier's unrolled GD — the composed
    verified operator), then score every document map-only against
    the BROADCAST final weights and roll up per-source agreement
    between the model's decision (margin >= 0, the fast-sigmoid 0.5
    threshold — exact, since p = 0.5 iff m = 0) and the rule gate
    it was trained on.  This is the train->apply handshake every
    learned curation gate ships with: the agreement table is the
    go/no-go report before a model replaces the rules.

    Scale shape: training as documented on the trainer; scoring is
    ONE map pass over the SAME persisted dense feature vectors the
    trainer built (_dense_features — shared helper, so the plan is
    identical and CacheManager resolves it to the trainer's storage
    entry): a fixed-point dot with a literal weight array, no join,
    no shuffle, then a source-keyed partial aggregation."""
    trained = {r["feat"]: r["weight"]
               for r in curation_quality_classifier(spark, sf_dir)
               .collect()}  # D+1 model parameters, bounded
    w_arr = F.lit([float(trained[j]) for j in range(D_FEATS + 1)])
    fxv = _dense_features(spark, sf_dir)
    m = (F.aggregate(
        F.zip_with(F.col("xs"), w_arr,
                   lambda x, wv: F.floor(wv * x * 1e8 + 0.5)
                   .cast("long")),
        F.lit(0).cast("long"), lambda a, b: a + b)
        .cast("double") / 1e8)
    scored = fxv.select(
        "source", F.col("y").alias("rule_pass"),
        F.when(m >= 0, F.lit(1.0)).otherwise(F.lit(0.0))
        .alias("model_pass"))
    agree = F.when(F.col("rule_pass") == F.col("model_pass"), 1) \
        .otherwise(0)
    return (scored.groupBy("source")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                 F.sum(F.col("rule_pass").cast("bigint"))
                 .cast("bigint").alias("n_rule_pass"),
                 F.sum(F.col("model_pass").cast("bigint"))
                 .cast("bigint").alias("n_model_pass"),
                 F.sum(agree).cast("bigint").alias("n_agree"),
                 F.round(F.sum(agree).cast("double")
                         / F.count(F.lit(1)), 6)
                 .alias("agreement_rate")))


# oracle validity knees: these compose dedup_minhash_lsh_pairs
# (corpus-adaptive signature on the Spark side, floor-valued SQL in
# the composed oracle) — see queries/__init__.py ORACLE_SCALE_KNEES.
from . import register_oracle_knee as _rok  # noqa: E402
from .dedup import SIG_KNEE as _SIGKNEE  # noqa: E402

for _name in ("curation_pipeline", "curation_funnel_report",
              "curation_split_leakage", "curation_dataset_card"):
    _rok(_name, _SIGKNEE, table="documents")

# registered at module end for the round-11 keep-best entry (defined
# below this block): it composes the same floor-valued LSH SQL
_rok("curation_cluster_representatives", _SIGKNEE, table="documents")


# ------------------------- deterministic weighted priority sampling
#: docs kept per source.
WSAMPLE_K = 5

WSAMPLE_SQL = f"""
WITH w AS (
  SELECT doc_id, source,
         CAST(len({_text.TOKENS_SQL}) AS DOUBLE) + 1 AS wt,
         (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 14))
              ::BIGINT + 1) / POW(2.0, 56) AS u
  FROM documents),
k AS (
  SELECT doc_id, source, wt, -ln(u) / wt AS pri FROM w),
r AS (
  SELECT doc_id, source, wt, pri,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY pri, doc_id) AS rk
  FROM k)
SELECT source, doc_id, wt AS weight,
       ROUND(pri, 6) AS priority,
       CAST(rk AS INTEGER) AS sample_rank
FROM r WHERE rk <= {WSAMPLE_K}
"""


@query("curation_weighted_sample", WSAMPLE_SQL)
def curation_weighted_sample(spark, sf_dir):
    """Deterministic weighted priority sampling (Efraimidis &
    Spirakis '06 via the exponential-race form): each doc gets
    priority -ln(u)/w where u is an md5-derived uniform in (0,1)
    and w its weight (token count + 1 here — swap in any quality
    score); the k smallest priorities per source are EXACTLY a
    weighted sample without replacement.  This is how a production
    pipeline takes a reproducible quality-weighted subsample of a
    shard: no RNG state, no driver coordination — the sample is a
    pure function of the data, so re-running (or resuming after
    failure) selects the identical set.

    Scale shape: one map pass computes priorities; selection is a
    per-source top-k (bounded k rows per group survive each
    partial), the same merge shape as the KMV sketch — never a
    global sort.  Engine parity: u is an exact 56-bit hash fraction
    on both engines; ln() is the same libm-class call already relied
    on for idf (values land well apart — ordering is stable — and
    the surfaced priority is rounded to 6dp)."""
    d = t(spark, sf_dir, "documents")
    from pyspark.sql import Window

    u = ((stable_hash64(F.col("doc_id").cast("string")) + 1)
         / F.pow(F.lit(2.0), 56))
    base = d.select(
        "doc_id", "source",
        (F.size(_text.tokens_col(F.col("text"))).cast("double") + 1)
        .alias("wt"),
        u.alias("u"))
    k = base.select("doc_id", "source", "wt",
                    (-F.log(F.col("u")) / F.col("wt")).alias("pri"))
    win = Window.partitionBy("source").orderBy("pri", "doc_id")
    return (k.withColumn("rk", F.row_number().over(win))
            .filter(F.col("rk") <= WSAMPLE_K)
            .select("source", "doc_id", F.col("wt").alias("weight"),
                    F.round("pri", 6).alias("priority"),
                    F.col("rk").cast("int").alias("sample_rank")))


# ----------------------------- near-dup cluster representatives
from .dedup import CC_SQL_TEMPLATE as _CC_TPL  # noqa: E402

_CC_FULL = _CC_TPL.format(lsh=REGISTRY["dedup_minhash_lsh_pairs"].oracle)
_KEEP_BEST_SQL = (
    _CC_FULL[:_CC_FULL.index("SELECT a AS doc_id")].rstrip()
    + """,
cc AS (SELECT a AS doc_id, MIN(b) AS cluster_id
       FROM reach GROUP BY a),
q AS (SELECT doc_id, passes_quality FROM (__QUALITY__) t),
base AS (
  SELECT d.doc_id,
         COALESCE(cc.cluster_id, d.doc_id) AS cluster_id,
         CASE WHEN COALESCE(q.passes_quality, FALSE)
              THEN 0 ELSE 1 END AS fail
  FROM documents d
  LEFT JOIN cc ON cc.doc_id = d.doc_id
  LEFT JOIN q ON q.doc_id = d.doc_id),
rep AS (
  SELECT cluster_id,
         MIN(struct_pack(f := fail, d := doc_id)) AS b
  FROM base GROUP BY cluster_id)
SELECT base.doc_id,
       CAST(base.cluster_id AS BIGINT) AS cluster_id,
       base.doc_id = rep.b.d AS is_representative
FROM base JOIN rep USING (cluster_id)
""".replace("__QUALITY__", REGISTRY["text_quality_score"].oracle))


@query("curation_cluster_representatives", _KEEP_BEST_SQL)
def curation_cluster_representatives(spark, sf_dir):
    """Keep-best near-dup dedup — the decision step the cluster
    closure feeds: every document is labeled with its near-dup
    cluster (its own id when it has no near-dup), and exactly ONE
    representative per cluster is marked kept — preferring a
    document that passes the quality gate, tie-broken by lowest
    doc_id.  This is the standard training-data dedup policy
    ("drop near-dups, keep the best copy"), completing the family:
    lsh_pairs finds candidates, connected_components closes them
    into clusters, this entry decides what survives.  It differs
    from `dedup_cluster_keep_best` (clustered docs only, longest-doc
    rule, per-cluster window) on all three axes that matter
    downstream: the output covers EVERY document (the keep-set a
    dataloader actually consumes — singletons are their own
    representative), the preference is the quality GATE (a kept
    near-dup should pass curation, not merely be longest), and the
    representative choice is aggregation-shaped for skew (below).

    Scale shape: the quality bit is the map-side gate expression
    (text.quality_pass_col — one corpus scan, no join to the scoring
    entry); the cluster labels join on doc_id (cluster-member
    cardinality, equi-join); the representative choice is a
    min-struct AGGREGATION on cluster_id with map-side combine plus
    a join-back — deliberately NOT a row_number window: a
    boilerplate-heavy corpus can produce one giant cluster, and the
    window shape would sort that whole cluster in a single task
    while the agg pre-combines per partition (skew-safe), with the
    cluster-cardinality rep table AQE-broadcast on the way back."""
    from .dedup import dedup_connected_components
    from .text import quality_pass_col

    d = t(spark, sf_dir, "documents")
    cc = dedup_connected_components(spark, sf_dir)
    base = (d.select(
        "doc_id",
        F.when(F.coalesce(quality_pass_col(F.col("text")),
                          F.lit(False)), 0).otherwise(1)
        .alias("fail"))
        .join(cc, "doc_id", "left")
        .select("doc_id",
                F.coalesce(F.col("cluster_id"), F.col("doc_id"))
                .alias("cluster_id"),
                "fail"))
    rep = (base.groupBy("cluster_id")
           .agg(F.min(F.struct(F.col("fail").alias("f"),
                               F.col("doc_id").alias("d")))
                .alias("b")))
    return (base.join(rep, "cluster_id")
            .select("doc_id",
                    F.col("cluster_id").cast("bigint")
                    .alias("cluster_id"),
                    (F.col("doc_id") == F.col("b.d"))
                    .alias("is_representative")))
