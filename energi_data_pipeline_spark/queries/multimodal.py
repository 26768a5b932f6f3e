"""Multimodal binary-column plumbing.

Images/audio/video ride through the engine as opaque ``binary``
columns with typed metadata (BASELINE.json north star).  The decode
libraries aren't in this container, so the *decode* step is a
clearly-marked deterministic stub — but the Spark-side plumbing
(binary columns, metadata extraction, Arrow-batched mapInPandas
feature extraction with an explicit output schema) is real and
oracle- or shape-tested.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..io import spread
from . import query
from .core import t


@query(
    "mm_binary_metadata",
    """SELECT doc_id,
              CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
              sha256(text) AS content_sha256,
              lower(hex(encode(substr(text, 1, 4)))) AS magic_hex
       FROM documents""",
)
def mm_binary_metadata(spark, sf_dir):
    """Opaque-blob metadata: byte length, content digest, leading
    "magic bytes" — the format-sniffing layer of a multimodal
    pipeline, all JVM-side over a binary column."""
    d = t(spark, sf_dir, "documents")
    blob = F.encode(F.col("text"), "UTF-8")
    return d.select(
        "doc_id",
        F.octet_length(blob).alias("n_bytes"),
        F.sha2(blob, 256).alias("content_sha256"),
        F.lower(F.hex(F.encode(F.substring(F.col("text"), 1, 4),
                               "UTF-8"))).alias("magic_hex"),
    )


@query(
    "mm_frame_sample",
    """WITH p AS (
         SELECT doc_id, text, length(text) AS n FROM documents),
       f AS (
         SELECT doc_id, 1 + n % 4 AS n_frames,
                unnest(range(1 + n % 4)) AS frame_idx, text
         FROM p)
       SELECT doc_id,
              CAST(n_frames AS INTEGER) AS n_frames,
              CAST(frame_idx AS INTEGER) AS frame_idx,
              CAST(frame_idx * 0.5 AS DOUBLE) AS ts_offset_s,
              rpad(lower(hex(encode(substring(text, frame_idx * 16 + 1,
                                              16)))), 32, '0') AS frame_hex
       FROM f""",
)
def mm_frame_sample(spark, sf_dir):
    """Frame sampling: each payload expands to 1-4 fixed-size
    "frames" (byte slices resized/zero-padded to 16 bytes) INSIDE
    mapInPandas — the video-decode shape where output rows multiply
    per input row without any explode over the raw payload
    (operators.multimodal.sample_frames).  The oracle replays the
    slicing on the text side (the corpus is ASCII, so byte and char
    offsets coincide) with hex zero-padding standing in for the
    byte pad."""
    from ..operators.multimodal import sample_frames

    d = spread(t(spark, sf_dir, "documents"))
    payloads = d.select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload"))
    frames = sample_frames(payloads)
    return frames.select(
        "doc_id", "n_frames", "frame_idx", "ts_offset_s",
        F.lower(F.hex("frame_payload")).alias("frame_hex"))


@query(
    "mm_decode_features",
    """SELECT doc_id,
              CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
              CAST(CASE WHEN length(text) = 0 THEN 0
                        ELSE 64 + ascii(substr(text, 1, 1)) % 64
                   END AS INTEGER) AS fake_width,
              CAST(CASE WHEN length(text) = 0 THEN 0
                        ELSE 64 + ascii(substr(text, length(text), 1)) % 64
                   END AS INTEGER) AS fake_height,
              CASE WHEN length(text) = 0 THEN 0.0
                   ELSE CAST(list_sum(list_transform(
                            range(1, length(text) + 1),
                            i -> ascii(substr(text, i, 1)))) AS DOUBLE)
                        / length(text)
              END AS byte_mean
       FROM documents""",
)
def mm_decode_features(spark, sf_dir):
    """Arrow-batched feature extraction over binary payloads via
    mapInPandas: the real 100 TB shape for image/audio decode
    (vectorized batches, explicit output schema, no row-at-a-time
    Python).  The decoder itself is a deterministic STUB (container
    has no image/audio libs) — see operators.multimodal.  Because the
    stub is pure byte arithmetic and the corpus is ASCII (byte ==
    char, as mm_frame_sample already exploits), the oracle replays
    it exactly in SQL — full hash check, not rows-only."""
    from ..operators.multimodal import extract_features

    d = spread(t(spark, sf_dir, "documents"))
    payloads = d.select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload"))
    return extract_features(payloads)


@query(
    "mm_resize_stride",
    """SELECT doc_id,
              CAST(length(text) AS INTEGER) AS n_bytes,
              CAST(ceil(length(text) / 4.0) AS INTEGER) AS resized_bytes,
              lower(hex(encode(array_to_string(list_transform(
                  range(1, length(text) + 1, 4),
                  i -> substr(text, i, 1)), '')))) AS resized_hex
       FROM documents""",
)
def mm_resize_stride(spark, sf_dir):
    """Thumbnail/transcode plumbing: binary -> smaller binary through
    an Arrow-batched mapInPandas (every 4th byte survives the stub
    downsample; swap for a PIL thumbnail in deployment).  Output
    bytes are a fraction of input bytes, so batch memory SHRINKS
    through the operator — the right direction for a 100 TB media
    re-encode.  The ASCII corpus makes byte slicing replayable in
    SQL (as mm_frame_sample exploits)."""
    from ..operators.multimodal import resize_payloads

    d = spread(t(spark, sf_dir, "documents"))
    payloads = d.select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload"))
    out = resize_payloads(payloads)
    return out.select(
        "doc_id", "n_bytes", "resized_bytes",
        F.lower(F.hex("resized_payload")).alias("resized_hex"))


@query(
    "mm_audio_rms",
    """WITH p AS (
         SELECT doc_id, text, length(text) AS n
         FROM documents WHERE length(text) > 0),
       w AS (
         SELECT doc_id, n, text,
                unnest(range(0, CAST(ceil(n / 32.0) AS INTEGER)))
                  AS win_idx
         FROM p)
       SELECT doc_id,
              CAST(win_idx AS INTEGER) AS win_idx,
              CAST(LEAST(32, n - win_idx * 32) AS INTEGER) AS n_samples,
              ROUND(sqrt(CAST(list_sum(list_transform(
                      range(win_idx * 32 + 1,
                            LEAST(win_idx * 32 + 32, n) + 1),
                      i -> ascii(substr(text, i, 1))
                           * ascii(substr(text, i, 1)))) AS DOUBLE)
                    / LEAST(32, n - win_idx * 32)), 6) AS rms
       FROM w""",
)
def mm_audio_rms(spark, sf_dir):
    """Audio-feature plumbing: the payload is treated as a 1-D PCM
    signal (one byte = one sample) and each 32-sample window emits
    its RMS energy — the fixed-window signal-analysis shape
    (spectrograms, VAD, loudness) as Arrow-batched mapInPandas with
    numpy vectorization inside the batch.  The mean of squares is
    exact integer arithmetic in float64, so rounding the single sqrt
    to 6 decimals makes the oracle replay bit-equal."""
    from ..operators.multimodal import audio_windows

    d = spread(t(spark, sf_dir, "documents")
               .filter(F.length("text") > 0))
    payloads = d.select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload"))
    return audio_windows(payloads)


# ------------------------------------ perceptual-hash near-dup pairs
from ..operators.multimodal import PHASH_BITS  # noqa: E402

#: 4-bit bands over the 16-bit hash; Hamming acceptance threshold.
PHASH_BANDS = 4
PHASH_BAND_BITS = PHASH_BITS // PHASH_BANDS
HAMMING_T = 2

_PHASH_SQL = f"""
p AS (SELECT doc_id, text, length(text) AS n FROM documents),
h AS (
  SELECT doc_id, n,
         CASE WHEN n = 0 THEN 0 ELSE (
           SELECT SUM(CASE WHEN x.hi > x.lo AND
                    (SELECT SUM(ascii(substr(text, i, 1)))
                     FROM (SELECT unnest(range(x.lo + 1, x.hi + 1)) AS i))
                      / (x.hi - x.lo) >
                    (SELECT SUM(ascii(substr(text, j, 1)))
                     FROM (SELECT unnest(range(1, n + 1)) AS j)) / n
                  THEN 1 << bb.b ELSE 0 END)
           FROM (SELECT unnest(range({PHASH_BITS})) AS b) bb,
                LATERAL (SELECT (bb.b * n) // {PHASH_BITS} AS lo,
                                ((bb.b + 1) * n) // {PHASH_BITS} AS hi) x
         ) END AS phash
  FROM p)
"""

PHASH_PAIRS_SQL = f"""
WITH {_PHASH_SQL},
bands AS (
  SELECT doc_id, phash, bb.b AS band,
         (phash >> ({PHASH_BAND_BITS} * bb.b))
           & {(1 << PHASH_BAND_BITS) - 1} AS key
  FROM h, (SELECT unnest(range({PHASH_BANDS})) AS b) bb),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, a.phash AS ph_a,
                  c.doc_id AS doc_b, c.phash AS ph_b
  FROM bands a JOIN bands c
    ON a.band = c.band AND a.key = c.key AND a.doc_id < c.doc_id)
SELECT doc_a, doc_b,
       CAST(bit_count(xor(ph_a, ph_b)) AS INTEGER) AS hamming
FROM cand WHERE bit_count(xor(ph_a, ph_b)) <= {HAMMING_T}
"""


@query("mm_phash_near_dup", PHASH_PAIRS_SQL)
def mm_phash_near_dup(spark, sf_dir):
    """Image near-duplicate pairs by perceptual hash: every payload
    gets a {PHASH_BITS}-bit block-mean hash (blockhash.io's
    algorithm over raw bytes — the decode step is the documented
    stub, see operators.multimodal.blockhash_stub), candidates
    BUCKET-join on {PHASH_BAND_BITS}-bit hash bands (a near-dup
    within Hamming {HAMMING_T} must agree exactly on at least one
    band — pigeonhole over {PHASH_BANDS} bands), and the exact
    Hamming distance verifies.

    This is the dedup-family LSH shape applied to the MEDIA column:
    the hash pass is Arrow-batched mapInPandas (constant bytes out
    per item), banding explodes {PHASH_BANDS} rows per item, and
    the join key space is (band, band-value) — never the quadratic
    pair space.  The oracle replays the byte arithmetic in SQL
    (ASCII corpus: byte == char, as the whole mm family exploits);
    all means divide exact integers, so the bits are engine-exact."""
    from ..operators.multimodal import perceptual_hashes

    d = spread(t(spark, sf_dir, "documents"))
    payloads = d.select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload"))
    hashes = perceptual_hashes(payloads).select("doc_id", "phash").cache()
    band = F.explode(F.sequence(F.lit(0), F.lit(PHASH_BANDS - 1)))
    mask = (1 << PHASH_BAND_BITS) - 1
    # the shift count depends on the band column, so the band key is
    # a SQL expression over both columns (F.shiftright wants a
    # literal count)
    banded = (hashes.withColumn("band", band)
              .withColumn("key", F.expr(
                  f"shiftright(phash, {PHASH_BAND_BITS} * band)"
                  f" & {mask}")))
    a = banded.select(F.col("doc_id").alias("doc_a"),
                      F.col("phash").alias("ph_a"), "band", "key")
    b = banded.select(F.col("doc_id").alias("doc_b"),
                      F.col("phash").alias("ph_b"), "band", "key")
    cand = (a.join(b, ["band", "key"])
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "ph_a", "doc_b", "ph_b").distinct())
    hamming = F.bit_count(
        F.col("ph_a").bitwiseXOR(F.col("ph_b"))).cast("int")
    return (cand.select("doc_a", "doc_b", hamming.alias("hamming"))
            .filter(F.col("hamming") <= HAMMING_T))


# --------------------------------------------- modality catalog
MM_FORMAT_SQL = """
WITH sniffed AS (
  SELECT doc_id, octet_length(encode(text)) AS n_bytes,
         CASE WHEN length(text) = 0 THEN 'empty'
              WHEN ascii(substr(text, 1, 1)) % 3 = 0 THEN 'image'
              WHEN ascii(substr(text, 1, 1)) % 3 = 1 THEN 'audio'
              ELSE 'video' END AS modality
  FROM documents)
SELECT modality,
       COUNT(*) AS n_items,
       CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
       CAST(MIN(n_bytes) AS INTEGER) AS min_bytes,
       CAST(MAX(n_bytes) AS INTEGER) AS max_bytes
FROM sniffed GROUP BY modality
"""


@query("mm_format_stats", MM_FORMAT_SQL)
def mm_format_stats(spark, sf_dir):
    """Modality catalog over a mixed media column: sniff each blob's
    format from its leading bytes (the stub classifies on the first
    byte; a real deployment matches magic numbers — JPEG ff d8,
    PNG 89 50, RIFF/WAV...) and report per-modality volume.  This is
    the first query anyone runs against a 100 TB media lake ("what
    is actually in here, and how many bytes of each?"); pure
    map + dimension-sized aggregate, the scan never decodes."""
    d = t(spark, sf_dir, "documents")
    blob = F.encode(F.col("text"), "UTF-8")
    first = F.ascii(F.substring(F.col("text"), 1, 1))
    modality = (F.when(F.length("text") == 0, "empty")
                .when(first % 3 == 0, "image")
                .when(first % 3 == 1, "audio")
                .otherwise("video"))
    return (d.select(modality.alias("modality"),
                     F.octet_length(blob).alias("n_bytes"))
            .groupBy("modality")
            .agg(F.count(F.lit(1)).alias("n_items"),
                 F.sum("n_bytes").cast("bigint").alias("total_bytes"),
                 F.min("n_bytes").cast("int").alias("min_bytes"),
                 F.max("n_bytes").cast("int").alias("max_bytes")))


# ------------------------------- content-defined chunking (CDC)
#: rolling-window width and boundary modulus (expected chunk ~ CDC_MOD).
CDC_W, CDC_MOD = 8, 64

CDC_CHUNKS_SQL = f"""
WITH p AS (
  SELECT doc_id, text, length(text) AS n FROM documents
  WHERE length(text) >= {CDC_W}),
bounds AS (
  SELECT doc_id, n,
         list_prepend(1, list_filter(
           range({CDC_W} + 1, n + 2),
           i -> i <= n + 1 AND (i = n + 1 OR
             ('0x' || substr(md5(substr(text, i - {CDC_W}, {CDC_W})),
                             1, 14))::BIGINT % {CDC_MOD} = 0)))
           AS cuts,
         text
  FROM p),
chunks AS (
  SELECT doc_id,
         unnest(range(1, len(cuts))) AS chunk_idx,
         cuts, text
  FROM bounds)
SELECT doc_id,
       CAST(chunk_idx AS INTEGER) AS chunk_idx,
       CAST(cuts[chunk_idx] AS INTEGER) AS start_pos,
       CAST(cuts[chunk_idx + 1] - cuts[chunk_idx] AS INTEGER)
         AS chunk_len,
       md5(substr(text, cuts[chunk_idx],
                  cuts[chunk_idx + 1] - cuts[chunk_idx])) AS chunk_md5
FROM chunks
WHERE cuts[chunk_idx + 1] - cuts[chunk_idx] > 0
"""


@query("mm_content_defined_chunks", CDC_CHUNKS_SQL)
def mm_content_defined_chunks(spark, sf_dir):
    """Content-defined chunking (the restic/borg/LBFS rolling-hash
    split, public literature): a chunk boundary falls wherever the
    hash of the trailing {CDC_W}-byte window is 0 mod {CDC_MOD}, so
    inserting bytes into a blob shifts ONE chunk instead of
    re-chunking everything after it — the property that makes
    chunk-level dedup of mutable media/blob stores work, where
    fixed-width chunking (mm_resize/text_chunking) invalidates every
    subsequent chunk.  Emits (chunk, offset, length, digest) — the
    manifest a dedup store ingests.

    Scale shape: boundaries, slicing and digests are all per-doc map
    work (one md5 per byte position windowed, one per chunk) — no
    shuffle at all; the manifest explodes a few rows per document
    inside the scan stage."""
    d = spread(t(spark, sf_dir, "documents")
               .filter(F.length("text") >= CDC_W))
    cuts = F.expr(
        f"array_prepend(filter(sequence({CDC_W} + 1, length(text) + 1), "
        f"i -> i = length(text) + 1 OR "
        f"(cast(conv(substring(md5(substring(text, i - {CDC_W}, "
        f"{CDC_W})), 1, 14), 16, 10) as bigint) % {CDC_MOD}) = 0), 1)")
    bounds = d.select("doc_id", "text", cuts.alias("cuts")).cache()
    chunks = bounds.select(
        "doc_id", "text", "cuts",
        F.explode(F.sequence(
            F.lit(1), F.size("cuts") - 1)).alias("chunk_idx"))
    start = F.element_at("cuts", F.col("chunk_idx"))
    clen = (F.element_at("cuts", F.col("chunk_idx") + 1) - start)
    return (chunks
            .filter(clen > 0)
            .select("doc_id",
                    F.col("chunk_idx").cast("int").alias("chunk_idx"),
                    start.cast("int").alias("start_pos"),
                    clen.cast("int").alias("chunk_len"),
                    F.md5(F.expr(
                        "substring(text, element_at(cuts, chunk_idx), "
                        "element_at(cuts, chunk_idx + 1) "
                        "- element_at(cuts, chunk_idx))"))
                    .alias("chunk_md5")))


# ------------------------------------------- embedding generation
from ..operators.multimodal import EMBED_DIM  # noqa: E402

EMBED_SQL = f"""
SELECT doc_id,
       array_to_string(list_transform(range({EMBED_DIM}), d ->
         ('0x' || substr(md5(text), 2 * d * 2 + 1, 4))::BIGINT
           - 32768), ',') AS embedding_csv
FROM documents
"""


@query("mm_embed_documents", EMBED_SQL)
def mm_embed_documents(spark, sf_dir):
    """Embedding GENERATION plumbing — the single most common
    LLM-pipeline map job (run an encoder over every document):
    Arrow-batched mapInPandas with an explicit output schema, the
    encoder itself a documented deterministic stub (16-bit codes
    from md5 bytes; swap for an ONNX/torch model in deployment —
    the batch shape, schema, and partition behavior are what the
    engine owns and tests).  Map-only: at 100 TB this is
    embarrassingly parallel and GPU-schedulable per partition.

    The oracle replays the stub byte-exactly (md5 hex pairs read as
    signed 16-bit codes), so the plumbing is hash-verified, not
    rows-only; codes surface as a comma-joined string (the driver
    canonicalizer's array limitation, as sims_quantize_int8)."""
    from ..operators.multimodal import embed_documents

    d = spread(t(spark, sf_dir, "documents"))
    payloads = d.select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload"))
    return embed_documents(payloads)


# ---------------------- text -> embedding -> ANN integration
from .simsearch import _cosine, _norm as _snorm  # noqa: E402

T2A_PLANES = 4
T2A_DUP_T = 0.5


def _t2a_weight_sql(p: int) -> str:
    return (f"(('0x' || substr(md5(CAST({p} AS VARCHAR) || '_' || "
            f"CAST(i AS VARCHAR)), 1, 14))::BIGINT % 2) * 2 - 1")


def _t2a_bucket_sql() -> str:
    bits = " + ".join(
        f"""(CASE WHEN (SELECT SUM(
               ({_t2a_weight_sql(p)}) * emb[i + 1])
             FROM (SELECT UNNEST(range({EMBED_DIM})) AS i)) > 0
           THEN {1 << p} ELSE 0 END)"""
        for p in range(T2A_PLANES))
    return f"({bits})"


TEXT_TO_ANN_SQL = f"""
WITH e AS (
  SELECT doc_id,
         list_transform(range({EMBED_DIM}), d ->
           (('0x' || substr(md5(text), 2 * d * 2 + 1, 4))::BIGINT
            - 32768) / 32768.0) AS emb
  FROM documents),
v AS (
  SELECT doc_id, emb,
         sqrt((SELECT SUM(x * x)
               FROM (SELECT UNNEST(emb) AS x))) AS nrm,
         CAST({_t2a_bucket_sql()} AS BIGINT) AS bucket
  FROM e),
pairs AS (
  SELECT a.doc_id, b.doc_id AS neighbor_id,
         ROUND((SELECT SUM(ae * be) FROM (
                  SELECT UNNEST(a.emb) AS ae, UNNEST(b.emb) AS be))
               / (a.nrm * b.nrm), 6) AS cosine
  FROM v a JOIN v b
    ON a.bucket = b.bucket AND b.doc_id <> a.doc_id),
ranked AS (
  SELECT doc_id, neighbor_id, cosine,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY cosine DESC, neighbor_id) AS rk
  FROM pairs)
SELECT doc_id, neighbor_id, cosine,
       cosine >= {T2A_DUP_T} AS is_semantic_dup
FROM ranked WHERE rk = 1
"""


@query("pipeline_text_to_ann", TEXT_TO_ANN_SQL)
def pipeline_text_to_ann(spark, sf_dir):
    """End-to-end SEMANTIC pipeline in one plan: raw text -> stub
    embedding (the mm_embed_documents codes as floats) -> sign-LSH
    bucket -> nearest bucket-mate with a near-dup verdict.  This is
    the integration a user of the engine actually runs ("embed my
    corpus and find semantic dups") — each stage is a verified
    operator, and the composition itself is hash-checked end to end
    like curation_pipeline is for the lexical path.

    Scale shape: embedding + bucketing are map-only expressions
    (swap the stub for a model UDF without touching the plan); the
    pair search shuffles on the bucket code; the per-doc window
    ranks bucket-mates only.  Nothing all-pairs, nothing
    driver-side."""
    d = spread(t(spark, sf_dir, "documents"))
    code = lambda dd: (F.conv(F.substring(  # noqa: E731
        F.md5("text"), 4 * dd + 1, 4), 16, 10).cast("bigint")
        - 32768) / 32768.0
    emb = F.array(*[code(dd) for dd in range(EMBED_DIM)])
    vec = d.select("doc_id", emb.alias("emb"))
    # 4 deterministic sign-planes over the 8-dim stub space
    import hashlib
    bucket = None
    for p in range(T2A_PLANES):
        w = F.array(*[
            F.lit(float((int(hashlib.md5(
                f"{p}_{i}".encode()).hexdigest()[:14], 16) % 2) * 2 - 1))
            for i in range(EMBED_DIM)])
        proj = F.aggregate(
            F.zip_with(w, F.col("emb"), lambda a, b: a * b),
            F.lit(0.0), lambda acc, x: acc + x)
        bit = F.when(proj > 0, F.lit(1 << p)).otherwise(F.lit(0))
        bucket = bit if bucket is None else bucket + bit
    v = vec.select("doc_id", "emb",
                   _snorm("emb").alias("nrm"),
                   bucket.cast("bigint").alias("bucket")).cache()
    other = v.select(F.col("doc_id").alias("neighbor_id"),
                     F.col("emb").alias("n_emb"),
                     F.col("nrm").alias("n_nrm"),
                     F.col("bucket").alias("n_bucket"))
    pairs = (
        v.join(other, (F.col("bucket") == F.col("n_bucket"))
               & (F.col("neighbor_id") != F.col("doc_id")))
        .select("doc_id", "neighbor_id",
                _cosine("emb", "n_emb", "nrm", "n_nrm")
                .alias("cosine")))
    from pyspark.sql import Window
    w = Window.partitionBy("doc_id").orderBy(
        F.col("cosine").desc(), "neighbor_id")
    return (pairs.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .select("doc_id", "neighbor_id", "cosine",
                    (F.col("cosine") >= T2A_DUP_T)
                    .alias("is_semantic_dup")))


# --------------------------------------- cross-video frame dedup
FRAME_DEDUP_SQL = """
WITH p AS (
  SELECT doc_id, text, length(text) AS n FROM documents),
f AS (
  SELECT doc_id,
         unnest(range(1 + n % 4)) AS frame_idx, text
  FROM p),
frames AS (
  SELECT doc_id, frame_idx,
         md5(rpad(substring(text, frame_idx * 16 + 1, 16),
                  16, chr(0))) AS frame_key
  FROM f)
SELECT frame_key,
       CAST(COUNT(*) AS BIGINT) AS n_occurrences,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       MIN(doc_id) AS first_doc_id
FROM frames GROUP BY frame_key
HAVING COUNT(*) > 1
"""


@query("mm_frame_dedup", FRAME_DEDUP_SQL)
def mm_frame_dedup(spark, sf_dir):
    """CROSS-VIDEO frame dedup: identical (resized) frames that
    occur more than once across the corpus, keyed by content digest
    — the sub-asset dedup layer (intros, logos, black frames) that
    whole-file hashing cannot see, feeding a store-once/reference-
    many media layout.  Reuses the mapInPandas frame-sampling
    operator; the digest groupBy is the only shuffle and carries
    16-byte keys, never frame payloads."""
    from ..operators.multimodal import sample_frames

    d = spread(t(spark, sf_dir, "documents"))
    payloads = d.select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload"))
    frames = sample_frames(payloads).select(
        "doc_id", F.md5(F.col("frame_payload")).alias("frame_key"))
    return (frames.groupBy("frame_key")
            .agg(F.count(F.lit(1)).cast("bigint")
                 .alias("n_occurrences"),
                 F.count_distinct("doc_id").cast("bigint")
                 .alias("n_docs"),
                 F.min("doc_id").alias("first_doc_id"))
            .filter(F.col("n_occurrences") > 1))


# --------------------------------------- audio silence ratio
SILENCE_RMS_T = 90.0

SILENCE_SQL = f"""
WITH p AS (
  SELECT doc_id, text, length(text) AS n
  FROM documents WHERE length(text) > 0),
w AS (
  SELECT doc_id, n, text,
         unnest(range(0, CAST(ceil(n / 32.0) AS INTEGER))) AS win_idx
  FROM p),
rms AS (
  SELECT doc_id,
         ROUND(sqrt(CAST(list_sum(list_transform(
                 range(win_idx * 32 + 1,
                       LEAST(win_idx * 32 + 32, n) + 1),
                 i -> ascii(substr(text, i, 1))
                      * ascii(substr(text, i, 1)))) AS DOUBLE)
               / LEAST(32, n - win_idx * 32)), 6) AS r
  FROM w)
SELECT doc_id,
       CAST(COUNT(*) AS INTEGER) AS n_windows,
       CAST(SUM(CASE WHEN r < {SILENCE_RMS_T} THEN 1 ELSE 0 END)
            AS INTEGER) AS n_silent,
       ROUND(CAST(SUM(CASE WHEN r < {SILENCE_RMS_T} THEN 1 ELSE 0 END)
                  AS DOUBLE) / COUNT(*), 6) AS silence_ratio
FROM rms GROUP BY doc_id
"""


@query("mm_audio_silence", SILENCE_SQL)
def mm_audio_silence(spark, sf_dir):
    """Audio SILENCE profile: the fraction of analysis windows below
    an RMS energy threshold per item — the voice-activity-style
    summary that gates audio into a training mixture (an hour of
    near-silence is storage, not signal).  Composes the Arrow-
    batched RMS operator and folds window rows to item-grain; the
    gate compares the 6-rounded RMS identically on both engines."""
    from ..operators.multimodal import audio_windows

    d = spread(t(spark, sf_dir, "documents")
               .filter(F.length("text") > 0))
    payloads = d.select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload"))
    rms = audio_windows(payloads)
    silent = F.sum(
        F.when(F.col("rms") < SILENCE_RMS_T, 1).otherwise(0))
    return (rms.groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("int").alias("n_windows"),
                 silent.cast("int").alias("n_silent"),
                 F.round(silent.cast("double") / F.count(F.lit(1)), 6)
                 .alias("silence_ratio")))


# ------------------------------------------------ scene-cut detection
#: inter-frame byte-distance at/above which a boundary is a cut.
SCENE_CUT_T = 600

SCENE_CUT_SQL = f"""
WITH p AS (
  SELECT doc_id, text, length(text) AS n FROM documents),
f AS (
  SELECT doc_id, n, text,
         unnest(range(1, 1 + n % 4)) AS fi
  FROM p),
d AS (
  SELECT doc_id, fi,
         list_sum(list_transform(range(16), j ->
           abs(CASE WHEN fi * 16 + j + 1 <= n
                    THEN ascii(substr(text, fi * 16 + j + 1, 1))
                    ELSE 0 END
             - CASE WHEN (fi - 1) * 16 + j + 1 <= n
                    THEN ascii(substr(text, (fi - 1) * 16 + j + 1, 1))
                    ELSE 0 END))) AS dist
  FROM f)
SELECT doc_id,
       CAST(fi AS INTEGER) AS frame_idx,
       CAST(dist AS INTEGER) AS dist,
       dist >= {SCENE_CUT_T} AS is_cut
FROM d
"""


@query("mm_scene_cuts", SCENE_CUT_SQL)
def mm_scene_cuts(spark, sf_dir):
    """Video scene-cut detection over the sampled frame stream: each
    frame boundary gets the inter-frame distance (sum of absolute
    byte deltas between the resized frames — standing in for a
    histogram-delta metric) and a cut verdict at the threshold.
    Scene cuts are where a frame-sampling pipeline places its
    keyframes, so this is the step between mm_frame_sample and
    mm_frame_dedup.

    Scale shape: consecutive frames are compared INSIDE the Arrow
    batch loop (operators.multimodal.scene_cut_distances) — no
    explode of the frame stream, no window/shuffle over frames, the
    whole operator is one map stage over the media column.  The
    oracle replays the slicing and byte arithmetic on the ASCII text
    (byte == char, as the other mm_* oracles exploit)."""
    from ..operators.multimodal import scene_cut_distances

    d = spread(t(spark, sf_dir, "documents"))
    payloads = d.select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload"))
    cuts = scene_cut_distances(payloads)
    return cuts.select(
        "doc_id", "frame_idx", "dist",
        (F.col("dist") >= SCENE_CUT_T).alias("is_cut"))


# ------------------------------ real binary-format header parsing
#: docs whose synthetic payload is deliberately corrupted (bad
#: magic), exercising the parser's validity branch.
PNG_CORRUPT_STRIDE = 7

PNG_HEADER_SQL = f"""
WITH dims AS (
  SELECT doc_id,
         16 + n_chars % 240 AS w,
         16 + doc_id % 200 AS h,
         CASE WHEN doc_id % 3 = 0 THEN 0
              WHEN doc_id % 3 = 1 THEN 2 ELSE 6 END AS ct
  FROM documents),
blobs AS (
  SELECT doc_id,
         CASE WHEN doc_id % {PNG_CORRUPT_STRIDE} = 0
              THEN unhex('DEADBEEF0D0A1A0A')
              ELSE unhex('89504E470D0A1A0A') END
         || unhex(lpad(hex(13), 8, '0')) || unhex('49484452')
         || unhex(lpad(hex(w), 8, '0')) || unhex(lpad(hex(h), 8, '0'))
         || unhex('08') || unhex(lpad(hex(ct), 2, '0'))
         || unhex('000000') AS payload
  FROM dims),
parsed AS (
  SELECT doc_id, hex(payload) AS hx FROM blobs)
SELECT doc_id,
       substring(hx, 1, 16) = '89504E470D0A1A0A' AS is_png,
       CASE WHEN substring(hx, 1, 16) = '89504E470D0A1A0A'
            THEN CAST(('0x' || substring(hx, 33, 8))::BIGINT AS INTEGER)
            END AS width,
       CASE WHEN substring(hx, 1, 16) = '89504E470D0A1A0A'
            THEN CAST(('0x' || substring(hx, 41, 8))::BIGINT AS INTEGER)
            END AS height,
       CASE WHEN substring(hx, 1, 16) = '89504E470D0A1A0A'
            THEN CAST(('0x' || substring(hx, 49, 2))::BIGINT AS INTEGER)
            END AS bit_depth,
       CASE WHEN substring(hx, 1, 16) = '89504E470D0A1A0A'
            THEN CAST(('0x' || substring(hx, 51, 2))::BIGINT AS INTEGER)
            END AS colour_type,
       CASE WHEN substring(hx, 1, 16) <> '89504E470D0A1A0A' THEN NULL
            WHEN ('0x' || substring(hx, 51, 2))::BIGINT = 0 THEN 1
            WHEN ('0x' || substring(hx, 51, 2))::BIGINT = 2 THEN 3
            WHEN ('0x' || substring(hx, 51, 2))::BIGINT = 4 THEN 2
            WHEN ('0x' || substring(hx, 51, 2))::BIGINT = 6 THEN 4
            END AS n_channels
FROM parsed
"""


@query("mm_png_header_parse", PNG_HEADER_SQL)
def mm_png_header_parse(spark, sf_dir):
    """REAL binary-format parsing, entirely JVM-side: sniff the PNG
    signature and decode the IHDR fields (big-endian width/height,
    bit depth, colour type -> channel count) from a ``binary``
    payload column with built-in expressions only — substring on
    binary, hex, conv — no Python in the loop.  This is the header
    layer a 100 TB media pipeline runs BEFORE deciding what to
    decode (route by format/dimensions, reject corrupt blobs); the
    full pixel decode stays behind the injectable Arrow kernel
    (``functions/png.py`` is the real decoder, exercised in
    tests/test_multimodal_inject.py).

    The corpus has no binary column, so the payloads are built
    in-query (spec-correct signature+IHDR bytes from per-doc
    dimensions; every {PNG_CORRUPT_STRIDE}th doc gets a corrupted
    magic to exercise the validity branch) — the PARSE side reads
    any real PNG's first 26 bytes identically.

    Scale shape: map-only (build + parse in one projection), no
    shuffle, whole-stage codegen end to end."""
    d = t(spark, sf_dir, "documents")

    def be(col, nbytes):
        return F.unhex(F.lpad(F.hex(col), 2 * nbytes, "0"))

    w = 16 + F.col("n_chars") % 240
    h = 16 + F.col("doc_id") % 200
    ct = (F.when(F.col("doc_id") % 3 == 0, 0)
          .when(F.col("doc_id") % 3 == 1, 2).otherwise(6))
    magic = F.when(F.col("doc_id") % PNG_CORRUPT_STRIDE == 0,
                   F.unhex(F.lit("DEADBEEF0D0A1A0A"))) \
        .otherwise(F.unhex(F.lit("89504E470D0A1A0A")))
    payload = F.concat(
        magic, be(F.lit(13), 4), F.unhex(F.lit("49484452")),
        be(w, 4), be(h, 4), F.unhex(F.lit("08")), be(ct, 1),
        F.unhex(F.lit("000000")))
    blobs = d.select("doc_id", payload.alias("payload"))

    def field(pos, nbytes):
        return F.conv(F.hex(F.substring(F.col("payload"), pos, nbytes)),
                      16, 10).cast("int")

    is_png = F.hex(F.substring(F.col("payload"), 1, 8)) \
        == "89504E470D0A1A0A"
    ctype = field(26, 1)
    return blobs.select(
        "doc_id",
        is_png.alias("is_png"),
        F.when(is_png, field(17, 4)).alias("width"),
        F.when(is_png, field(21, 4)).alias("height"),
        F.when(is_png, field(25, 1)).alias("bit_depth"),
        F.when(is_png, ctype).alias("colour_type"),
        F.when(is_png,
               F.when(ctype == 0, 1).when(ctype == 2, 3)
               .when(ctype == 4, 2).when(ctype == 6, 4))
        .alias("n_channels"),
    )


# ------------------------- RIFF/WAV header parsing (little-endian)
#: docs whose synthetic payload gets a corrupted RIFF magic.
WAV_CORRUPT_STRIDE = 11

#: canonical sample rates (8/16/44.1/48 kHz) the builder cycles
#: through — mirrored in the Spark-side CASE below.
_WAV_RATE_SQL = ("CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000 "
                 "WHEN 2 THEN 44100 ELSE 48000 END")


def _le_sql(pos: int, nbytes: int) -> str:
    """DuckDB: little-endian int from hex-string offsets."""
    parts = " || ".join(
        f"substring(hx, {pos + 2 * (nbytes - 1 - i)}, 2)"
        for i in range(nbytes))
    return f"('0x' || {parts})::BIGINT"


WAV_HEADER_SQL = f"""
WITH dims AS (
  SELECT doc_id,
         1 + doc_id % 2 AS ch,
         {_WAV_RATE_SQL} AS rate,
         CASE WHEN doc_id % 2 = 0 THEN 16 ELSE 8 END AS bits
  FROM documents),
le AS (
  SELECT doc_id, ch, rate, bits,
         CASE WHEN doc_id % {WAV_CORRUPT_STRIDE} = 0
              THEN unhex('4A554E4B') ELSE unhex('52494646') END
         || unhex('24080000') || unhex('57415645') || unhex('666D7420')
         || unhex('10000000') || unhex('0100')
         || unhex(substring(lpad(hex(ch), 4, '0'), 3, 2)
                  || substring(lpad(hex(ch), 4, '0'), 1, 2))
         || unhex(substring(lpad(hex(rate), 8, '0'), 7, 2)
                  || substring(lpad(hex(rate), 8, '0'), 5, 2)
                  || substring(lpad(hex(rate), 8, '0'), 3, 2)
                  || substring(lpad(hex(rate), 8, '0'), 1, 2))
         || unhex('00000000') || unhex('0000')
         || unhex(substring(lpad(hex(bits), 4, '0'), 3, 2)
                  || substring(lpad(hex(bits), 4, '0'), 1, 2))
           AS payload
  FROM dims),
parsed AS (SELECT doc_id, hex(payload) AS hx FROM le)
SELECT doc_id,
       substring(hx, 1, 8) = '52494646'
         AND substring(hx, 17, 8) = '57415645' AS is_wav,
       CASE WHEN substring(hx, 1, 8) = '52494646'
                 AND substring(hx, 17, 8) = '57415645'
            THEN CAST({_le_sql(45, 2)} AS INTEGER) END AS n_channels,
       CASE WHEN substring(hx, 1, 8) = '52494646'
                 AND substring(hx, 17, 8) = '57415645'
            THEN CAST({_le_sql(49, 4)} AS INTEGER) END AS sample_rate,
       CASE WHEN substring(hx, 1, 8) = '52494646'
                 AND substring(hx, 17, 8) = '57415645'
            THEN CAST({_le_sql(69, 2)} AS INTEGER) END AS bits_per_sample
FROM parsed
"""


@query("mm_wav_header_parse", WAV_HEADER_SQL)
def mm_wav_header_parse(spark, sf_dir):
    """RIFF/WAV header parsing — the LITTLE-endian twin of
    mm_png_header_parse: validate the RIFF+WAVE magics and decode
    the fmt-chunk fields (channel count, sample rate, bit depth)
    from a binary payload, JVM-side built-ins only.  Little-endian
    extraction is hex-substring byte reversal — the technique any
    LE format (WAV, BMP, ZIP local headers) needs.

    Payloads are built in-query (spec-correct canonical-fmt WAV
    prefix; every {WAV_CORRUPT_STRIDE}th doc has a corrupted RIFF
    magic); the parse side reads any real canonical-fmt WAV's first
    36 bytes identically.  Map-only, whole-stage codegen."""
    d = t(spark, sf_dir, "documents")

    def le_bytes(col, nbytes):
        """int column -> nbytes little-endian binary."""
        hx = F.lpad(F.hex(col), 2 * nbytes, "0")
        return F.unhex(F.concat(*[
            F.substring(hx, 2 * (nbytes - 1 - i) + 1, 2)
            for i in range(nbytes)]))

    ch = 1 + F.col("doc_id") % 2
    rate = (F.when(F.col("doc_id") % 4 == 0, 8000)
            .when(F.col("doc_id") % 4 == 1, 16000)
            .when(F.col("doc_id") % 4 == 2, 44100).otherwise(48000))
    bits = F.when(F.col("doc_id") % 2 == 0, 16).otherwise(8)
    magic = F.when(F.col("doc_id") % WAV_CORRUPT_STRIDE == 0,
                   F.unhex(F.lit("4A554E4B"))) \
        .otherwise(F.unhex(F.lit("52494646")))
    payload = F.concat(
        magic, F.unhex(F.lit("24080000")), F.unhex(F.lit("57415645")),
        F.unhex(F.lit("666D7420")), F.unhex(F.lit("10000000")),
        F.unhex(F.lit("0100")), le_bytes(ch, 2), le_bytes(rate, 4),
        F.unhex(F.lit("00000000")), F.unhex(F.lit("0000")),
        le_bytes(bits, 2))
    blobs = d.select("doc_id", payload.alias("payload"))

    def le_field(pos, nbytes):
        """little-endian int from binary offsets (1-based bytes)."""
        return F.conv(F.concat(*[
            F.hex(F.substring(F.col("payload"),
                              pos + (nbytes - 1 - i), 1))
            for i in range(nbytes)]), 16, 10).cast("int")

    is_wav = (F.hex(F.substring(F.col("payload"), 1, 4)) == "52494646") \
        & (F.hex(F.substring(F.col("payload"), 9, 4)) == "57415645")
    return blobs.select(
        "doc_id",
        is_wav.alias("is_wav"),
        F.when(is_wav, le_field(23, 2)).alias("n_channels"),
        F.when(is_wav, le_field(25, 4)).alias("sample_rate"),
        F.when(is_wav, le_field(35, 2)).alias("bits_per_sample"),
    )
