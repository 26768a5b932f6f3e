"""Text-analysis operators over the ``documents`` table.

LLM-training-data extensions (BASELINE.json north star): token
counting, quality scoring, language id, document fingerprinting.
All pure Catalyst expressions (split/regexp/md5/transform) — the
whole stage codegens, nothing drops to Python, so at 100 TB these
are embarrassingly-parallel map stages over the document shards.
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from ..functions.hashing import stable_hash64
from . import query
from .core import t

#: tiny top-stopword lists; enough for a deterministic n-gram/stopword
#: language heuristic (real lang-id models aren't in this container).
EN_STOP = ["the", "a", "and", "of", "to", "in", "is", "for", "on", "with"]
DA_STOP = ["og", "i", "det", "at", "en", "den", "til", "er", "som", "af"]


def tokens_col(c):
    """Whitespace tokenization — identical in DuckDB:
    regexp_split_to_array(trim(text), '\\s+')."""
    return F.split(F.trim(c), r"\s+")


TOKENS_SQL = "regexp_split_to_array(trim(text), '\\s+')"


@query(
    "text_token_stats",
    f"""SELECT doc_id,
               CAST(len({TOKENS_SQL}) AS INTEGER) AS n_tokens,
               CAST(length(text) AS BIGINT) AS n_chars_measured,
               ROUND(CAST(length(replace(text, ' ', '')) AS DOUBLE)
                     / len({TOKENS_SQL}), 6) AS avg_token_len
        FROM documents""",
)
def text_token_stats(spark, sf_dir):
    """Token counting: whitespace tokenizer + per-doc length stats."""
    d = t(spark, sf_dir, "documents")
    toks = tokens_col(F.col("text"))
    return d.select(
        "doc_id",
        F.size(toks).cast("int").alias("n_tokens"),
        F.length("text").cast("bigint").alias("n_chars_measured"),
        F.round(
            F.length(F.replace(F.col("text"), F.lit(" "), F.lit("")))
            .cast("double") / F.size(toks), 6).alias("avg_token_len"),
    )


@query(
    "text_quality_score",
    f"""WITH feats AS (
          SELECT doc_id,
                 CAST(length(text) AS DOUBLE) AS n_chars,
                 CAST(len({TOKENS_SQL}) AS DOUBLE) AS n_tokens,
                 CAST(length(regexp_replace(text, '[^.,;:!?]', '', 'g'))
                      AS DOUBLE) AS n_punct,
                 CAST(length(regexp_replace(text, '[^0-9]', '', 'g'))
                      AS DOUBLE) AS n_digit,
                 CAST(length(regexp_replace(text, '[^A-Z]', '', 'g'))
                      AS DOUBLE) AS n_upper
          FROM documents)
        SELECT doc_id,
               ROUND(n_punct / n_chars, 6) AS punct_ratio,
               ROUND(n_digit / n_chars, 6) AS digit_ratio,
               ROUND(n_upper / n_chars, 6) AS upper_ratio,
               ROUND(n_chars / n_tokens, 6) AS chars_per_token,
               (n_tokens >= 10 AND n_tokens <= 1000
                AND n_punct / n_chars < 0.2
                AND n_digit / n_chars < 0.3) AS passes_quality
        FROM feats""",
)
def text_quality_score(spark, sf_dir):
    """Heuristic quality scoring: punctuation / digit / uppercase
    ratios + length gates (the C4/Gopher-style rule family)."""
    d = t(spark, sf_dir, "documents")
    n_chars = F.length("text").cast("double")
    n_tokens = F.size(tokens_col(F.col("text"))).cast("double")

    def strip_len(pattern):
        return F.length(
            F.regexp_replace(F.col("text"), pattern, "")).cast("double")

    n_punct = strip_len("[^.,;:!?]")
    n_digit = strip_len("[^0-9]")
    n_upper = strip_len("[^A-Z]")
    return d.select(
        "doc_id",
        F.round(n_punct / n_chars, 6).alias("punct_ratio"),
        F.round(n_digit / n_chars, 6).alias("digit_ratio"),
        F.round(n_upper / n_chars, 6).alias("upper_ratio"),
        F.round(n_chars / n_tokens, 6).alias("chars_per_token"),
        ((n_tokens >= 10) & (n_tokens <= 1000)
         & (n_punct / n_chars < 0.2)
         & (n_digit / n_chars < 0.3)).alias("passes_quality"),
    )


def _stop_hits_sql(words: list[str]) -> str:
    return ("len(list_filter({toks}, t -> t IN ("
            + ", ".join(f"'{w}'" for w in words) + ")))").format(
                toks=TOKENS_SQL)


@query(
    "text_lang_id",
    f"""WITH feats AS (
          SELECT doc_id, lang,
                 CAST(len({TOKENS_SQL}) AS DOUBLE) AS n_tokens,
                 CAST({_stop_hits_sql(EN_STOP)} AS DOUBLE) AS en_hits,
                 CAST({_stop_hits_sql(DA_STOP)} AS DOUBLE) AS da_hits
          FROM documents)
        SELECT doc_id, lang,
               CASE WHEN en_hits = 0 AND da_hits = 0 THEN 'unknown'
                    WHEN en_hits >= da_hits THEN 'en'
                    ELSE 'da' END AS lang_pred,
               ROUND(en_hits / n_tokens, 6) AS en_stop_ratio
        FROM feats""",
)
def text_lang_id(spark, sf_dir):
    """Stopword-profile language id (deterministic heuristic standing
    in for fasttext-style models)."""
    d = t(spark, sf_dir, "documents")
    toks = tokens_col(F.col("text"))

    def hits(words):
        return F.size(F.filter(
            toks, lambda x: x.isin(*words))).cast("double")

    en_hits, da_hits = hits(EN_STOP), hits(DA_STOP)
    n_tokens = F.size(toks).cast("double")
    return d.select(
        "doc_id", "lang",
        F.when((en_hits == 0) & (da_hits == 0), F.lit("unknown"))
        .when(en_hits >= da_hits, F.lit("en"))
        .otherwise(F.lit("da")).alias("lang_pred"),
        F.round(en_hits / n_tokens, 6).alias("en_stop_ratio"),
    )


@query(
    "text_fingerprint",
    """SELECT doc_id,
              md5(lower(regexp_replace(text, '[^a-zA-Z0-9]', '', 'g')))
                AS content_md5,
              ('0x' || substr(md5(lower(regexp_replace(
                   text, '[^a-zA-Z0-9]', '', 'g'))), 1, 14))::BIGINT
                AS content_hash64
       FROM documents""",
)
def text_fingerprint(spark, sf_dir):
    """Content fingerprint over alnum-normalized text: md5 plus the
    engine-portable 56-bit integer hash (functions.hashing)."""
    d = t(spark, sf_dir, "documents")
    normalized = F.lower(
        F.regexp_replace(F.col("text"), "[^a-zA-Z0-9]", ""))
    return d.select(
        "doc_id",
        F.md5(normalized).alias("content_md5"),
        stable_hash64(normalized).alias("content_hash64"),
    )


# -------------------------------------------------- context chunking
#: chunk width / stride in characters (50-char overlap).
CHUNK_C, CHUNK_S = 200, 150

CHUNK_SQL = f"""
WITH starts AS (
  SELECT doc_id, text,
         unnest(range(1, length(text) + 1, {CHUNK_S})) AS start
  FROM documents
  WHERE length(text) > 0)
SELECT doc_id,
       CAST((start - 1) / {CHUNK_S} AS INTEGER) AS chunk_idx,
       CAST(length(substr(text, start, {CHUNK_C})) AS INTEGER)
         AS chunk_len,
       md5(substr(text, start, {CHUNK_C})) AS chunk_md5
FROM starts
"""


@query("text_chunking", CHUNK_SQL)
def text_chunking(spark, sf_dir):
    """Context-window chunking: fixed {CHUNK_C}-char chunks with
    {CHUNK_C - CHUNK_S}-char overlap — the document-to-training-
    sample expansion step.  Chunk starts come from ``sequence`` with
    a stride, sliced JVM-side; emitting the md5 keeps the compare
    content-exact without shipping raw chunk text.  Map-only: the
    explode multiplies rows inside the scan stage, no shuffle."""
    d = t(spark, sf_dir, "documents")
    starts = (
        d.filter(F.length("text") > 0)
        .select("doc_id", "text",
                F.explode(F.sequence(
                    F.lit(1), F.length("text"),
                    F.lit(CHUNK_S))).alias("start"))
    )
    chunk = F.expr(f"substring(text, start, {CHUNK_C})")
    return starts.select(
        "doc_id",
        ((F.col("start") - 1) / CHUNK_S).cast("int").alias("chunk_idx"),
        F.length(chunk).cast("int").alias("chunk_len"),
        F.md5(chunk).alias("chunk_md5"),
    )


# ----------------------------------------------------------- TF-IDF
TOP_TERMS = 3

TFIDF_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_transform({TOKENS_SQL}, t -> lower(t))) AS term
  FROM documents),
tf AS (
  SELECT doc_id, term, COUNT(*) AS tf
  FROM toks GROUP BY doc_id, term),
df AS (
  SELECT term, COUNT(DISTINCT doc_id) AS df
  FROM toks GROUP BY term),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term,
         ROUND(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6)
           AS tfidf,
         ROW_NUMBER() OVER (PARTITION BY tf.doc_id
                            ORDER BY tf.tf * ln(CAST(n.n_docs AS DOUBLE)
                                                / df.df) DESC, tf.term)
           AS rn
  FROM tf JOIN df USING (term) CROSS JOIN n)
SELECT doc_id, term, tfidf, CAST(rn AS INTEGER) AS rank
FROM scored WHERE rn <= {TOP_TERMS}
"""


@query("text_tfidf_top_terms", TFIDF_SQL)
def text_tfidf_top_terms(spark, sf_dir):
    """Per-document top-{TOP_TERMS} terms by TF-IDF, fully
    relational: term frequencies and document frequencies are two
    hash aggregations over the exploded token stream, the one-row
    corpus size is cross-joined (the planner broadcasts it unhinted),
    and ranking is a per-doc window.
    The vocabulary side (df) grows with the corpus under Heaps' law,
    so the tf⋈df join is unhinted — both aggregations already
    shuffle on ``term``, so at scale the join reuses that
    partitioning with zero extra exchange, and AQE broadcasts df
    while it is small.  No Python, no vocabulary collection on the
    driver — the 100 TB shape of keyword extraction."""
    from pyspark.sql import Window

    d = t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(F.transform(tokens_col(F.col("text")),
                              lambda x: F.lower(x))).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = toks.groupBy("term").agg(
        F.countDistinct("doc_id").alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    score = (F.col("tf")
             * F.log(F.col("n_docs").cast("double") / F.col("df")))
    w = Window.partitionBy("doc_id").orderBy(F.desc(score), "term")
    return (
        tf.join(df, "term")
        .crossJoin(n)
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= TOP_TERMS)
        .select("doc_id", "term", F.round(score, 6).alias("tfidf"),
                "rank")
    )


# ------------------------------------------------------ PII redaction
#: RE2- and Java-regex-compatible patterns (no backrefs/lookarounds)
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
LONGNUM_RE = r"[0-9]{7,}"


@query(
    "text_pii_redact",
    f"""SELECT doc_id,
               regexp_replace(regexp_replace(text,
                   '{EMAIL_RE}', '[EMAIL]', 'g'),
                   '{LONGNUM_RE}', '[NUM]', 'g') AS redacted,
               regexp_replace(regexp_replace(text,
                   '{EMAIL_RE}', '[EMAIL]', 'g'),
                   '{LONGNUM_RE}', '[NUM]', 'g') <> text AS changed
        FROM documents""",
)
def text_pii_redact(spark, sf_dir):
    """PII scrubbing: regex redaction of emails and long digit runs
    (the curation step every LLM corpus pipeline runs before
    training).  Patterns are restricted to the RE2/Java common
    subset so Spark and the oracle agree byte-for-byte; pure
    Catalyst `regexp_replace`, so the stage is map-only and
    whole-stage-codegens at any scale.  ``changed`` compares
    CONTENT, not lengths: a redaction can preserve total length
    (7-char 'a@bc.de' -> '[EMAIL]') and length deltas can cancel
    across multiple hits, and both engines computing the same wrong
    formula is exactly the bug class the parity oracle cannot
    catch."""
    d = t(spark, sf_dir, "documents")
    red = F.regexp_replace(
        F.regexp_replace(F.col("text"), EMAIL_RE, "[EMAIL]"),
        LONGNUM_RE, "[NUM]")
    return d.select(
        "doc_id", red.alias("redacted"),
        (red != F.col("text")).alias("changed"))


# ----------------------------------------------------- bigram counts
TOP_BIGRAMS = 20

BIGRAM_SQL = f"""
WITH toks AS (
  SELECT source, {TOKENS_SQL} AS tk FROM documents),
bigrams AS (
  SELECT source,
         UNNEST(list_transform(range(1, len(tk)),
                               i -> tk[i] || ' ' || tk[i + 1])) AS bigram
  FROM toks),
counted AS (
  SELECT source, bigram, COUNT(*) AS n
  FROM bigrams GROUP BY source, bigram),
ranked AS (
  SELECT source, bigram, n,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY n DESC, bigram) AS rank
  FROM counted)
SELECT source, bigram, n, CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= {TOP_BIGRAMS}
"""


@query("text_bigram_freq", BIGRAM_SQL)
def text_bigram_freq(spark, sf_dir):
    """Corpus n-gram statistics: top-{TOP_BIGRAMS} bigrams per source.
    Bigrams are built JVM-side by zipping the token array with its
    own tail (no Python, no explode-before-filter); the only shuffle
    carries (source, bigram) partial counts — at 100 TB map-side
    combine collapses the long tail before the exchange, and the
    per-source top-k window runs over dimension-cardinality groups."""
    d = t(spark, sf_dir, "documents")
    tk = tokens_col(F.col("text"))
    bigrams = F.filter(
        F.zip_with(tk, F.slice(tk, 2, F.greatest(F.size(tk) - 1, F.lit(0))),
                   lambda a, b: F.concat_ws(" ", a, b)),
        lambda x: x.contains(" "))
    counted = (d.select("source", F.explode(bigrams).alias("bigram"))
               .groupBy("source", "bigram")
               .agg(F.count(F.lit(1)).alias("n")))
    from pyspark.sql import Window
    w = Window.partitionBy("source").orderBy(
        F.col("n").desc(), F.col("bigram"))
    return (counted.withColumn("rank", F.row_number().over(w).cast("int"))
            .filter(F.col("rank") <= TOP_BIGRAMS))


# ---------------------------------------- BPE-style pretokenization
#: GPT-2-ish pretokenizer, restricted to the RE2/Java common subset
#: (no lookahead): word / number / punctuation-run / space-run.
BPE_RE = " ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+| +"


@query(
    "text_bpe_token_count",
    f"""WITH toks AS (
          SELECT doc_id, text,
                 regexp_extract_all(text, '{BPE_RE}') AS tk
          FROM documents)
        SELECT doc_id,
               CAST(len(tk) AS INTEGER) AS n_bpe_tokens,
               CAST(len(list_filter(tk, x ->
                    regexp_matches(x, '^ ?[a-zA-Z]+$')))
                    AS INTEGER) AS n_word_tokens,
               ROUND(CAST(length(text) AS DOUBLE)
                     / GREATEST(len(tk), 1), 6) AS chars_per_token
        FROM toks""",
)
def text_bpe_token_count(spark, sf_dir):
    """Token counting with a BPE-style pretokenizer regex (word /
    number / punct-run / space-run splits — the GPT-2 pattern minus
    lookahead so RE2 and Java regex agree).  This is the cheap
    LLM-cost estimator: BPE subword counts track this pretoken count
    closely, and the whole thing is one JVM regexp pass per document
    — embarrassingly parallel at any corpus size."""
    d = t(spark, sf_dir, "documents")
    tk = F.regexp_extract_all(F.col("text"), F.lit(BPE_RE), 0)
    words = F.filter(tk, lambda x: x.rlike("^ ?[a-zA-Z]+$"))
    return d.select(
        "doc_id",
        F.size(tk).cast("int").alias("n_bpe_tokens"),
        F.size(words).cast("int").alias("n_word_tokens"),
        F.round(F.length("text").cast("double")
                / F.greatest(F.size(tk), F.lit(1)), 6)
        .alias("chars_per_token"))


# -------------------------------------------------- stopword ratio
_SW = EN_STOP + DA_STOP
_SW_SQL = "[" + ", ".join(f"'{w}'" for w in _SW) + "]"


@query(
    "text_stopword_ratio",
    f"""WITH toks AS (
          SELECT doc_id,
                 list_transform({TOKENS_SQL}, x -> lower(x)) AS tk
          FROM documents)
        SELECT doc_id,
               CAST(len(tk) AS INTEGER) AS n_tokens,
               CAST(len(list_filter(tk, x ->
                    list_contains({_SW_SQL}, x))) AS INTEGER)
                 AS n_stopwords,
               ROUND(CAST(len(list_filter(tk, x ->
                    list_contains({_SW_SQL}, x))) AS DOUBLE)
                     / GREATEST(len(tk), 1), 6) AS stopword_ratio
        FROM toks""",
)
def text_stopword_ratio(spark, sf_dir):
    """Stopword ratio — the classic fluency signal in LLM corpus
    quality filters (near-zero on boilerplate/code/tables, ~0.3-0.5
    on natural prose).  The stopword list is a tiny array literal
    evaluated JVM-side per token; map-only, no shuffle, no
    broadcast table needed at any corpus size."""
    d = t(spark, sf_dir, "documents")
    tk = F.transform(tokens_col(F.col("text")), lambda x: F.lower(x))
    sw = F.array(*[F.lit(w) for w in _SW])
    n_stop = F.size(F.filter(tk, lambda x: F.array_contains(sw, x)))
    return d.select(
        "doc_id",
        F.size(tk).cast("int").alias("n_tokens"),
        n_stop.cast("int").alias("n_stopwords"),
        F.round(n_stop.cast("double")
                / F.greatest(F.size(tk), F.lit(1)), 6)
        .alias("stopword_ratio"))


# ------------------------------------------------ character entropy
@query(
    "text_char_entropy",
    """WITH cs AS (
         SELECT doc_id, text,
                CAST(length(text) AS DOUBLE) AS n,
                list_sort(list_distinct(
                    list_transform(range(1, length(text) + 1),
                                   i -> substr(text, i, 1)))) AS uniq
         FROM documents WHERE length(text) > 0)
       SELECT doc_id,
              CAST(len(uniq) AS INTEGER) AS n_distinct_chars,
              ROUND(-list_sum(list_transform(uniq, c ->
                  (CAST(length(text) - length(replace(text, c, ''))
                        AS DOUBLE) / n)
                  * log2(CAST(length(text) - length(replace(text, c, ''))
                              AS DOUBLE) / n))), 6) AS entropy_bits
       FROM cs""",
)
def text_char_entropy(spark, sf_dir):
    """Character-level Shannon entropy per document — the
    compressibility/quality signal that separates natural prose
    (~4 bits/char) from boilerplate and degenerate repetition.  Char
    frequencies come from length-difference counting (JVM string ops,
    no explode); the -sum(p*log2 p) fold runs left-to-right over the
    SORTED distinct-char list on both engines, so float accumulation
    order matches and round(.,6) pins the result."""
    d = t(spark, sf_dir, "documents").filter(F.length("text") > 0)
    n = F.length("text").cast("double")
    chars = F.array_sort(F.array_distinct(F.split(F.col("text"), "")))
    # NB split('') yields no trailing empty string in Spark 4
    freq = lambda c: (F.length("text")  # noqa: E731
                      - F.length(F.replace(F.col("text"), c))
                      ).cast("double") / n
    ent = F.aggregate(
        chars, F.lit(0.0),
        lambda acc, c: acc - freq(c) * F.log2(freq(c)))
    return d.select(
        "doc_id",
        F.size(chars).cast("int").alias("n_distinct_chars"),
        F.round(ent, 6).alias("entropy_bits"))


# --------------------------------------------- repetition signals
#: Gopher-style repetition gates (Rae et al. 2021, public paper):
#: a document dominated by one token or by repeated bigrams is
#: boilerplate/degenerate and should not be trained on.
TOP_TOKEN_MAX = 0.2
DUP_BIGRAM_MAX = 0.5

REPETITION_SQL = f"""
WITH base AS (
  SELECT doc_id,
         list_transform({TOKENS_SQL}, x -> lower(x)) AS tk
  FROM documents),
bg AS (
  SELECT doc_id, tk,
         CAST(GREATEST(len(tk) - 1, 0) AS DOUBLE) AS bg_n,
         CAST(len(list_distinct(list_transform(
             range(1, len(tk)), i -> tk[i] || ' ' || tk[i + 1])))
           AS DOUBLE) AS bg_uniq
  FROM base),
cnt AS (
  SELECT doc_id, bg_n, bg_uniq, tok, COUNT(*) AS c
  FROM (SELECT doc_id, bg_n, bg_uniq, unnest(tk) AS tok FROM bg)
  GROUP BY doc_id, bg_n, bg_uniq, tok),
agg AS (
  SELECT doc_id, bg_n, bg_uniq,
         CAST(SUM(c) AS DOUBLE) AS n_tokens,
         CAST(COUNT(*) AS DOUBLE) AS n_distinct,
         CAST(MAX(c) AS DOUBLE) AS top_cnt
  FROM cnt GROUP BY doc_id, bg_n, bg_uniq)
SELECT doc_id,
       CAST(n_tokens AS INTEGER) AS n_tokens,
       ROUND(1.0 - n_distinct / n_tokens, 6) AS dup_token_ratio,
       ROUND(top_cnt / n_tokens, 6) AS top_token_ratio,
       ROUND(CASE WHEN bg_n = 0 THEN 0.0
                  ELSE 1.0 - bg_uniq / bg_n END, 6) AS dup_bigram_ratio,
       (top_cnt / n_tokens < {TOP_TOKEN_MAX}
        AND (CASE WHEN bg_n = 0 THEN 0.0
                  ELSE 1.0 - bg_uniq / bg_n END) < {DUP_BIGRAM_MAX})
         AS passes_repetition
FROM agg
"""


# --- map-side gate-boolean expressions (round-11): the agreement
# matrix (curation_gate_overlap) needs only each gate's BOOLEAN, and
# every one of them is computable in-row — including repetition's
# top-token count, which the scoring entry derives through a
# (doc, token) shuffle but which equals the longest run of the
# sorted token array, an O(n log n) per-row fold.  Equality with the
# shuffle formulation is pinned by
# tests/test_oracle_parity.py::test_gate_bool_exprs_match_entries.

def quality_pass_col(text):
    """text_quality_score's passes_quality as a map-side expression
    (same thresholds as the entry and its oracle)."""
    n_chars = F.length(text).cast("double")
    n_tokens = F.size(tokens_col(text)).cast("double")
    n_punct = F.length(
        F.regexp_replace(text, "[^.,;:!?]", "")).cast("double")
    n_digit = F.length(
        F.regexp_replace(text, "[^0-9]", "")).cast("double")
    return ((n_tokens >= 10) & (n_tokens <= 1000)
            & (n_punct / n_chars < 0.2)
            & (n_digit / n_chars < 0.3))


def lang_known_col(text):
    """text_lang_id's (lang_pred != 'unknown'), via the same CASE so
    NULL-text semantics match the entry exactly."""
    toks = tokens_col(text)

    def hits(words):
        return F.size(F.filter(
            toks, lambda x: x.isin(*words))).cast("double")

    en_hits, da_hits = hits(EN_STOP), hits(DA_STOP)
    pred = (F.when((en_hits == 0) & (da_hits == 0), F.lit("unknown"))
            .when(en_hits >= da_hits, F.lit("en"))
            .otherwise(F.lit("da")))
    return pred != "unknown"


def blocked_col(text):
    """text_blocklist_filter's is_blocked as a map-side expression."""
    bl = F.array(*[F.lit(w) for w in BLOCKLIST])
    tk = F.transform(tokens_col(text), lambda x: F.lower(x))
    return F.size(F.filter(tk, lambda x: F.array_contains(bl, x))) > 0


def repetition_pass_col(text):
    """text_repetition_score's passes_repetition WITHOUT the
    (doc, token) shuffle: top_cnt == the longest equal-run of the
    SORTED token array (one in-row fold), and the bigram ratio was
    already in-row.  Zero-token documents yield NULL — the scoring
    entry (and its oracle) drop them entirely (explode/unnest of an
    empty array), so consumers must gate on a has-tokens condition
    to reproduce the entry's row set."""
    tk = F.transform(tokens_col(text), lambda x: F.lower(x))
    bigrams = F.filter(
        F.zip_with(tk,
                   F.slice(tk, 2, F.greatest(F.size(tk) - 1, F.lit(0))),
                   lambda a, b: F.concat_ws(" ", a, b)),
        lambda x: x.contains(" "))
    bg_n = F.greatest(F.size(tk) - 1, F.lit(0)).cast("double")
    bg_uniq = F.size(F.array_distinct(bigrams)).cast("double")
    dup_bg = F.when(bg_n == 0, F.lit(0.0)) \
        .otherwise(1.0 - bg_uniq / bg_n)
    st = F.array_sort(tk)
    top_cnt = F.aggregate(
        st,
        F.struct(F.lit("").alias("prev"), F.lit(0).alias("run"),
                 F.lit(0).alias("best")),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1)
            .otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1)
                .otherwise(F.lit(1))).alias("best")),
        lambda acc: acc["best"]).cast("double")
    n_tokens = F.size(tk).cast("double")
    return ((top_cnt / n_tokens < TOP_TOKEN_MAX)
            & (dup_bg < DUP_BIGRAM_MAX))


@query("text_repetition_score", REPETITION_SQL)
def text_repetition_score(spark, sf_dir):
    """Within-document repetition signals (the Gopher rule family):
    duplicate-token fraction, most-frequent-token coverage, and
    duplicate-bigram fraction, gated into ``passes_repetition``.

    Single scan, single shuffle: the per-doc bigram metrics are
    computed MAP-SIDE from the token array (zip-with-tail, distinct
    count) and ride along as group keys, so the only exchange is the
    (doc_id, token) partial count — the same shape as TF — followed
    by a per-doc rollup.  No join back to the corpus, no second
    scan; at 100 TB this is one map stage + one combine-heavy
    aggregation."""
    from pyspark.sql import Window  # noqa: F401  (parity w/ siblings)

    d = t(spark, sf_dir, "documents")
    tk = F.transform(tokens_col(F.col("text")), lambda x: F.lower(x))
    bigrams = F.filter(
        F.zip_with(tk, F.slice(tk, 2, F.greatest(F.size(tk) - 1, F.lit(0))),
                   lambda a, b: F.concat_ws(" ", a, b)),
        lambda x: x.contains(" "))
    base = d.select(
        "doc_id",
        tk.alias("tk"),
        F.greatest(F.size(tk) - 1, F.lit(0)).cast("double").alias("bg_n"),
        F.size(F.array_distinct(bigrams)).cast("double").alias("bg_uniq"))
    cnt = (base.select("doc_id", "bg_n", "bg_uniq",
                       F.explode("tk").alias("tok"))
           .groupBy("doc_id", "bg_n", "bg_uniq", "tok")
           .agg(F.count(F.lit(1)).alias("c")))
    agg = (cnt.groupBy("doc_id", "bg_n", "bg_uniq")
           .agg(F.sum("c").cast("double").alias("n_tokens"),
                F.count(F.lit(1)).cast("double").alias("n_distinct"),
                F.max("c").cast("double").alias("top_cnt")))
    dup_bg = F.when(F.col("bg_n") == 0, F.lit(0.0)) \
        .otherwise(1.0 - F.col("bg_uniq") / F.col("bg_n"))
    return agg.select(
        "doc_id",
        F.col("n_tokens").cast("int").alias("n_tokens"),
        F.round(1.0 - F.col("n_distinct") / F.col("n_tokens"), 6)
        .alias("dup_token_ratio"),
        F.round(F.col("top_cnt") / F.col("n_tokens"), 6)
        .alias("top_token_ratio"),
        F.round(dup_bg, 6).alias("dup_bigram_ratio"),
        ((F.col("top_cnt") / F.col("n_tokens") < TOP_TOKEN_MAX)
         & (dup_bg < DUP_BIGRAM_MAX)).alias("passes_repetition"))


# ------------------------------------- declared-vs-detected lang QA
LANG_AGREE_SQL = f"""
WITH feats AS (
  SELECT doc_id, source, lang,
         CAST({_stop_hits_sql(EN_STOP)} AS DOUBLE) AS en_hits,
         CAST({_stop_hits_sql(DA_STOP)} AS DOUBLE) AS da_hits
  FROM documents),
pred AS (
  SELECT source, lang,
         CASE WHEN en_hits = 0 AND da_hits = 0 THEN 'unknown'
              WHEN en_hits >= da_hits THEN 'en'
              ELSE 'da' END AS lang_pred
  FROM feats)
SELECT source, lang,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN lang_pred = lang THEN 1 ELSE 0 END)
            AS BIGINT) AS n_agree,
       ROUND(CAST(SUM(CASE WHEN lang_pred = lang THEN 1 ELSE 0 END)
                  AS DOUBLE) / COUNT(*), 6) AS agreement_ratio
FROM pred
GROUP BY source, lang
"""


@query("text_langid_agreement", LANG_AGREE_SQL)
def text_langid_agreement(spark, sf_dir):
    """Metadata-vs-content audit: per (source, declared lang), how
    often the stopword-profile detector agrees with the ``lang``
    column.  This is the standard corpus-QA slice that surfaces
    mislabeled crawls before training (a source whose declared 'en'
    agrees 40% of the time is a labeling bug, not English).  Pure
    map expressions into a tiny grouped aggregate — map-side combine
    leaves per-(source,lang) partial counts, so the shuffle carries
    dimension-cardinality rows at any corpus size."""
    d = t(spark, sf_dir, "documents")
    tk = tokens_col(F.col("text"))
    en = F.array(*[F.lit(w) for w in EN_STOP])
    da = F.array(*[F.lit(w) for w in DA_STOP])
    en_hits = F.size(F.filter(tk, lambda x: F.array_contains(en, x))) \
        .cast("double")
    da_hits = F.size(F.filter(tk, lambda x: F.array_contains(da, x))) \
        .cast("double")
    pred = F.when((en_hits == 0) & (da_hits == 0), "unknown") \
        .when(en_hits >= da_hits, "en").otherwise("da")
    agree = F.sum(F.when(pred == F.col("lang"), 1).otherwise(0))
    return (d.groupBy("source", "lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 agree.cast("bigint").alias("n_agree"),
                 F.round(agree.cast("double") / F.count(F.lit(1)), 6)
                 .alias("agreement_ratio")))


# --------------------------------------- unigram LM quality scoring
from .core import DDOUBLE_SQL  # noqa: E402

UNIGRAM_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_transform({TOKENS_SQL}, t -> lower(t))) AS term
  FROM documents),
tf AS (SELECT term, COUNT(*) AS c FROM toks GROUP BY term),
total AS (SELECT SUM(c) AS n FROM tf),
dt AS (SELECT doc_id, term, COUNT(*) AS tf_doc
       FROM toks GROUP BY doc_id, term),
lp AS (
  SELECT dt.doc_id,
         SUM(dt.tf_doc) AS n_tok,
         SUM(CAST(dt.tf_doc * ln(tf.c / total.n) AS DECIMAL(38,10)))
           AS s
  FROM dt JOIN tf USING (term) CROSS JOIN total
  GROUP BY dt.doc_id)
SELECT doc_id,
       CAST(n_tok AS INTEGER) AS n_tokens,
       ROUND({DDOUBLE_SQL.format(expr="s")}, 6) AS total_logprob,
       ROUND({DDOUBLE_SQL.format(expr="s")} / n_tok, 6) AS avg_logprob
FROM lp
"""


@query("text_unigram_logprob", UNIGRAM_SQL)
def text_unigram_logprob(spark, sf_dir):
    """Unigram language-model scoring: each document's average token
    log-probability under the corpus's own unigram distribution —
    the cheap stand-in for the KenLM/CCNet perplexity filter (public
    literature: Wenzek et al., CCNet, LREC'20): documents far below
    the corpus-typical logprob are boilerplate/gibberish candidates.

    Scale shape: one shuffle on ``term`` builds the LM (map-side
    combine reduces each partition to its distinct terms first), one
    shuffle on ``(doc_id, term)`` builds per-doc term frequencies,
    and the score join runs on the already-shuffled ``term`` key.
    The vocabulary side grows Heaps-law-slowly, so it is left
    UNHINTED (AQE broadcasts it while it fits); the corpus-total is
    a one-row aggregate, which the planner broadcasts without a
    hint.  The per-doc sum accumulates in
    DECIMAL(38,10) (order-independent), so the hash matches the
    oracle bit-for-bit despite summing floats."""
    d = t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.explode(F.transform(tokens_col(F.col("text")),
                              lambda x: F.lower(x))).alias("term"))
    tf = toks.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    total = tf.agg(F.sum("c").alias("n"))
    dt = toks.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf_doc"))
    scored = (
        dt.join(tf, "term")
        .crossJoin(total)
        .select("doc_id", "tf_doc",
                (F.col("tf_doc") * F.log(F.col("c") / F.col("n")))
                .alias("lp")))
    agg = scored.groupBy("doc_id").agg(
        F.sum("tf_doc").alias("n_tok"),
        F.sum(F.col("lp").cast("decimal(38,10)")).alias("s"))
    s_dbl = F.col("s").cast("double")
    return agg.select(
        "doc_id",
        F.col("n_tok").cast("int").alias("n_tokens"),
        F.round(s_dbl, 6).alias("total_logprob"),
        F.round(s_dbl / F.col("n_tok"), 6).alias("avg_logprob"))


# ---------------------------------- exact duplicate-span detection
from ..io import spread  # noqa: E402

#: window width / stride (chars) for the rolling span fingerprints.
SPAN_W, SPAN_S = 32, 16

_SPAN_NORM = "lower(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g'))"

DUP_SPANS_SQL = f"""
WITH norm AS (
  SELECT doc_id, source, {_SPAN_NORM} AS s FROM documents),
spans AS (
  SELECT doc_id, source,
         unnest(list_transform(
           range(1, greatest(length(s) - {SPAN_W - 1}, 0) + 1,
                 {SPAN_S}),
           i -> md5(substr(s, i, {SPAN_W})))) AS h
  FROM norm),
df AS (
  SELECT source, h, COUNT(DISTINCT doc_id) AS n_docs
  FROM spans GROUP BY source, h),
per_doc AS (
  SELECT sp.doc_id,
         COUNT(*) AS n_spans,
         SUM(CASE WHEN df.n_docs > 1 THEN 1 ELSE 0 END)
           AS n_shared_spans
  FROM spans sp JOIN df ON df.source = sp.source AND df.h = sp.h
  GROUP BY sp.doc_id)
SELECT doc_id,
       CAST(n_spans AS INTEGER) AS n_spans,
       CAST(n_shared_spans AS INTEGER) AS n_shared_spans,
       ROUND(CAST(n_shared_spans AS DOUBLE) / n_spans, 6)
         AS dup_span_ratio
FROM per_doc
"""


@query("text_duplicate_spans", DUP_SPANS_SQL)
def text_duplicate_spans(spark, sf_dir):
    """Exact duplicate-SPAN detection — the substring-level dedup
    signal (Lee et al., "Deduplicating Training Data Makes Language
    Models Better", ACL'22, public literature: exact repeated spans
    hurt more than whole-document near-dups): the normalized text is
    fingerprinted with {SPAN_W}-char windows every {SPAN_S} chars,
    and a document reports how many of its spans also occur in ANY
    other document of the same source.  High ``dup_span_ratio``
    with a low whole-document similarity marks boilerplate
    (headers, footers, templates) that document-level dedup cannot
    see.

    Scale shape: the suffix-array approach is replaced by the
    shuffle-friendly fingerprint equivalent — span hashes are
    map-generated (one md5 per {SPAN_S} chars), the document
    frequency is one shuffle on (source, hash), and the per-doc
    rollup reuses the doc_id key.  Nothing is quadratic in corpus
    size; the span stream is ~2 rows per {SPAN_W} input chars."""
    d = spread(t(spark, sf_dir, "documents"))
    s = F.lower(F.regexp_replace(F.col("text"), "[^a-zA-Z0-9 ]", ""))
    # stride-windowed md5 fingerprints; sequence() guard as in the
    # shingle family (Spark counts DOWN when end < start)
    spans_arr = F.expr(
        f"CASE WHEN length(s) >= {SPAN_W} THEN "
        f"transform(sequence(1, length(s) - {SPAN_W - 1}, {SPAN_S}), "
        f"i -> md5(substring(s, i, {SPAN_W}))) "
        f"ELSE CAST(array() AS array<string>) END")
    # two cache barriers, as in the MinHash/ngram families: the first
    # pins ONE regex normalization per doc (CollapseProject would
    # inline it into the md5 transform lambda, once per span); the
    # second materializes the exploded span stream BEFORE it feeds
    # both the dfreq aggregate and the join side, which would
    # otherwise each recompute the whole normalize+hash subtree
    norm = d.select("doc_id", "source", s.alias("s")).cache()
    # short docs dropped via the cheap length(s) pre-filter — a
    # size(hs) filter invites pushdown to inline the whole span
    # expression into an interpreted Filter (round-6 trap)
    spans = (norm.filter(F.length("s") >= SPAN_W)
             .select("doc_id", "source", spans_arr.alias("hs"))
             .select("doc_id", "source", F.explode("hs").alias("h"))
             ).cache()
    spans.count()
    dfreq = spans.groupBy("source", "h").agg(
        F.count_distinct("doc_id").alias("n_docs"))
    per_doc = (
        spans.join(dfreq, ["source", "h"])
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_spans"),
             F.sum(F.when(F.col("n_docs") > 1, 1).otherwise(0))
             .alias("n_shared_spans")))
    return per_doc.select(
        "doc_id",
        F.col("n_spans").cast("int").alias("n_spans"),
        F.col("n_shared_spans").cast("int").alias("n_shared_spans"),
        F.round(F.col("n_shared_spans").cast("double")
                / F.col("n_spans"), 6).alias("dup_span_ratio"))


# ------------------------------------------ bigram LM scoring
BIGRAM_LM_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         list_transform({TOKENS_SQL}, t -> lower(t)) AS tk
  FROM documents),
pairs AS (
  SELECT doc_id,
         unnest(list_transform(
           range(1, greatest(len(tk) - 1, 0) + 1),
           i -> tk[i] || ' ' || tk[i + 1])) AS bg,
         unnest(list_transform(
           range(1, greatest(len(tk) - 1, 0) + 1),
           i -> tk[i])) AS w1
  FROM toks),
bgc AS (SELECT bg, COUNT(*) AS cb FROM pairs GROUP BY bg),
w1c AS (SELECT w1, COUNT(*) AS cw FROM pairs GROUP BY w1),
dt AS (
  SELECT doc_id, bg, w1, COUNT(*) AS tf FROM pairs
  GROUP BY doc_id, bg, w1),
lp AS (
  SELECT dt.doc_id,
         SUM(dt.tf) AS n_bigrams,
         SUM(CAST(dt.tf * ln(bgc.cb / w1c.cw) AS DECIMAL(38,10))) AS s
  FROM dt JOIN bgc USING (bg) JOIN w1c USING (w1)
  GROUP BY dt.doc_id)
SELECT doc_id,
       CAST(n_bigrams AS INTEGER) AS n_bigrams,
       ROUND({DDOUBLE_SQL.format(expr="s")} / n_bigrams, 6)
         AS avg_bigram_logprob
FROM lp
"""


@query("text_bigram_logprob", BIGRAM_LM_SQL)
def text_bigram_logprob(spark, sf_dir):
    """Bigram language-model scoring: average log P(w_i | w_{{i-1}})
    under the corpus's own bigram MLE — one order up from the
    unigram filter, sensitive to WORD-ORDER scrambling the unigram
    model cannot see (shuffled text keeps its unigram logprob but
    craters here).  Self-scored, so every bigram has support and no
    smoothing is needed for the conditional to be well-defined.

    Scale shape: two count shuffles (bigram key, predecessor key),
    a score join on the already-shuffled bigram key, and the per-doc
    DECIMAL-accumulated rollup — same template as the unigram LM,
    one key wider."""
    d = t(spark, sf_dir, "documents")
    tk = F.transform(tokens_col(F.col("text")), lambda x: F.lower(x))
    toks = d.select("doc_id", tk.alias("tk")).cache()
    n = F.size("tk") - 1
    idx = F.when(n >= 1, F.sequence(F.lit(1), n)) \
        .otherwise(F.expr("CAST(array() AS array<int>)"))
    pairs = (toks.select(
        "doc_id",
        F.explode(F.transform(
            idx, lambda i: F.struct(
                F.concat_ws(" ", F.element_at("tk", i),
                            F.element_at("tk", i + 1)).alias("bg"),
                F.element_at("tk", i).alias("w1")))).alias("p"))
        .select("doc_id", "p.bg", "p.w1"))
    bgc = pairs.groupBy("bg").agg(F.count(F.lit(1)).alias("cb"))
    w1c = pairs.groupBy("w1").agg(F.count(F.lit(1)).alias("cw"))
    dt = pairs.groupBy("doc_id", "bg", "w1").agg(
        F.count(F.lit(1)).alias("tf"))
    scored = (dt.join(bgc, "bg").join(w1c, "w1")
              .select("doc_id", "tf",
                      (F.col("tf")
                       * F.log(F.col("cb") / F.col("cw"))).alias("lp")))
    agg = scored.groupBy("doc_id").agg(
        F.sum("tf").alias("n_bigrams"),
        F.sum(F.col("lp").cast("decimal(38,10)")).alias("s"))
    return agg.select(
        "doc_id",
        F.col("n_bigrams").cast("int").alias("n_bigrams"),
        F.round(F.col("s").cast("double") / F.col("n_bigrams"), 6)
        .alias("avg_bigram_logprob"))


# ------------------------------------------------ Zipf slope
ZIPF_SQL = f"""
WITH toks AS (
  SELECT unnest(list_transform({TOKENS_SQL}, t -> lower(t))) AS term
  FROM documents),
tf AS (SELECT term, COUNT(*) AS c FROM toks GROUP BY term),
ranked AS (
  SELECT c,
         ROW_NUMBER() OVER (ORDER BY c DESC, term) AS rnk
  FROM tf),
pts AS (
  SELECT ln(CAST(rnk AS DOUBLE)) AS x, ln(CAST(c AS DOUBLE)) AS y
  FROM ranked),
sums AS (
  SELECT COUNT(*) AS n,
         SUM(CAST(x AS DECIMAL(38,10))) AS sx,
         SUM(CAST(y AS DECIMAL(38,10))) AS sy,
         SUM(CAST(x * y AS DECIMAL(38,10))) AS sxy,
         SUM(CAST(x * x AS DECIMAL(38,10))) AS sxx
  FROM pts)
SELECT CAST(n AS BIGINT) AS n_terms,
       ROUND((n * {DDOUBLE_SQL.format(expr="sxy")}
              - {DDOUBLE_SQL.format(expr="sx")}
                * {DDOUBLE_SQL.format(expr="sy")})
             / (n * {DDOUBLE_SQL.format(expr="sxx")}
                - {DDOUBLE_SQL.format(expr="sx")}
                  * {DDOUBLE_SQL.format(expr="sx")}), 6)
         AS zipf_slope
FROM sums
"""


@query("text_zipf_slope", ZIPF_SQL)
def text_zipf_slope(spark, sf_dir):
    """Corpus Zipf exponent: the least-squares slope of log(freq)
    against log(rank) over the full vocabulary — natural language
    sits near -1, and a corpus that drifts far from it (too flat:
    synthetic/templated text; too steep: collapsed vocabulary) fails
    the most basic distributional sanity check before training.

    Scale shape: one term-count shuffle (map-side combined), a
    vocabulary-sized rank (TakeOrdered-sized in practice; the rank
    window is over vocab rows, not the corpus), and a single-row
    regression fold whose cross-products accumulate in
    DECIMAL(38,10) so the slope is order-exact across engines."""
    d = t(spark, sf_dir, "documents")
    toks = d.select(F.explode(
        F.transform(tokens_col(F.col("text")),
                    lambda x: F.lower(x))).alias("term"))
    tf = toks.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    from pyspark.sql import Window
    w = Window.orderBy(F.col("c").desc(), "term")
    pts = (tf.withColumn("rnk", F.row_number().over(w))
           .select(F.log(F.col("rnk").cast("double")).alias("x"),
                   F.log(F.col("c").cast("double")).alias("y")))
    dec = lambda col: F.sum(col.cast("decimal(38,10)"))  # noqa: E731
    sums = pts.agg(
        F.count(F.lit(1)).alias("n"),
        dec(F.col("x")).alias("sx"),
        dec(F.col("y")).alias("sy"),
        dec(F.col("x") * F.col("y")).alias("sxy"),
        dec(F.col("x") * F.col("x")).alias("sxx"))
    dd = lambda c: F.col(c).cast("double")  # noqa: E731
    slope = ((F.col("n") * dd("sxy") - dd("sx") * dd("sy"))
             / (F.col("n") * dd("sxx") - dd("sx") * dd("sx")))
    return sums.select(
        F.col("n").cast("bigint").alias("n_terms"),
        F.round(slope, 6).alias("zipf_slope"))


# ------------------------------------------ vocabulary coverage
VOCAB_TOP = 100

VOCAB_COVERAGE_SQL = f"""
WITH toks AS (
  SELECT unnest(list_transform({TOKENS_SQL}, t -> lower(t))) AS term
  FROM documents),
tf AS (SELECT term, COUNT(*) AS c FROM toks GROUP BY term),
ranked AS (
  SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, term) AS rnk
  FROM tf),
tot AS (SELECT SUM(c) AS t, COUNT(*) AS v FROM ranked)
SELECT CAST(tot.v AS BIGINT) AS vocab_size,
       CAST(tot.t AS BIGINT) AS n_tokens,
       ROUND(CAST((SELECT SUM(c) FROM ranked WHERE rnk <= {VOCAB_TOP})
                  AS DOUBLE) / tot.t, 6) AS top{VOCAB_TOP}_coverage
FROM tot
"""


@query("text_vocab_coverage", VOCAB_COVERAGE_SQL)
def text_vocab_coverage(spark, sf_dir):
    """Vocabulary coverage: the share of all token occurrences the
    top {VOCAB_TOP} terms account for — the number a tokenizer/vocab
    budget decision actually needs (high coverage with a tiny head
    means aggressive vocab truncation is cheap; low coverage means
    byte-fallback pressure).  Complements the Zipf slope: slope
    characterizes the tail shape, coverage prices a concrete cutoff.

    Scale shape: one term-count shuffle, a vocabulary-sized rank,
    two single-row folds joined as bounded scalars."""
    d = t(spark, sf_dir, "documents")
    toks = d.select(F.explode(
        F.transform(tokens_col(F.col("text")),
                    lambda x: F.lower(x))).alias("term"))
    tf = toks.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    from pyspark.sql import Window
    w = Window.orderBy(F.col("c").desc(), "term")
    ranked = tf.withColumn("rnk", F.row_number().over(w)).cache()
    total = ranked.agg(F.sum("c").alias("t"),
                       F.count(F.lit(1)).alias("v"))
    head = ranked.filter(F.col("rnk") <= VOCAB_TOP).agg(
        F.sum("c").alias("hc"))
    return (total.crossJoin(head)
            .select(F.col("v").cast("bigint").alias("vocab_size"),
                    F.col("t").cast("bigint").alias("n_tokens"),
                    F.round(F.col("hc").cast("double") / F.col("t"), 6)
                    .alias(f"top{VOCAB_TOP}_coverage")))


# ------------------------------------------ blocklist content gate
#: stand-in blocklist (C4's "List of Dirty, Naughty ..." gate shape);
#: terms chosen to actually occur in the synthetic corpus.
BLOCKLIST = ["crash", "slow", "error"]

_BL_SQL = ", ".join(f"'{w}'" for w in BLOCKLIST)

BLOCKLIST_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         list_transform({TOKENS_SQL}, t -> lower(t)) AS tk
  FROM documents)
SELECT doc_id,
       CAST(len(list_filter(tk, t -> t IN ({_BL_SQL})))
            AS INTEGER) AS n_blocked,
       CAST(len(tk) AS INTEGER) AS n_tokens,
       CASE WHEN len(tk) = 0 THEN NULL
            ELSE ROUND(CAST(len(list_filter(tk, t ->
                      t IN ({_BL_SQL}))) AS DOUBLE)
                  / len(tk), 6) END AS blocked_ratio,
       len(list_filter(tk, t -> t IN ({_BL_SQL}))) > 0
         AS is_blocked
FROM toks
"""


@query("text_blocklist_filter", BLOCKLIST_SQL)
def text_blocklist_filter(spark, sf_dir):
    """Blocklist content gate — the C4-style word-filter shape
    (public literature: C4 dropped any page containing a blocklisted
    word): per document, how many tokens hit the list, the hit
    ratio, and the binary gate.  Emitting counts instead of
    filtering keeps the decision auditable (and the oracle verifies
    both kept and dropped docs); a production list is thousands of
    terms — swap the literal array for a broadcast lookup, same
    plan.  Pure map stage: one lowercase pass and one membership
    filter per doc, zero shuffles.  The ratio is NULL-guarded for
    zero-token documents on both sides (Spark's double 0/0 is NULL,
    DuckDB's is NaN — the engines would disagree otherwise)."""
    d = t(spark, sf_dir, "documents")
    bl = F.array(*[F.lit(w) for w in BLOCKLIST])
    tk = F.transform(tokens_col(F.col("text")), lambda x: F.lower(x))
    hits = F.size(F.filter(tk, lambda x: F.array_contains(bl, x)))
    return d.select(
        "doc_id",
        hits.cast("int").alias("n_blocked"),
        F.size(tk).cast("int").alias("n_tokens"),
        F.when(F.size(tk) == 0, F.lit(None).cast("double"))
        .otherwise(F.round(hits.cast("double") / F.size(tk), 6))
        .alias("blocked_ratio"),
        (hits > 0).alias("is_blocked"))


# ------------------------------------- vocabulary richness (hapax)
HAPAX_SQL = f"""
WITH toks AS (
  SELECT source,
         unnest(list_transform({TOKENS_SQL}, t -> lower(t))) AS term
  FROM documents),
tf AS (SELECT source, term, COUNT(*) AS c
       FROM toks GROUP BY source, term)
SELECT source,
       CAST(SUM(c) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_types,
       CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_hapax,
       ROUND(CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS hapax_ratio,
       ROUND(CAST(COUNT(*) AS DOUBLE) / SUM(c), 6)
         AS type_token_ratio
FROM tf GROUP BY source
"""


@query("text_hapax_ratio", HAPAX_SQL)
def text_hapax_ratio(spark, sf_dir):
    """Vocabulary-richness profile per source: hapax-legomena share
    (terms occurring exactly once) and type/token ratio.  The
    corpus-linguistics pair behind two curation smells — a source
    whose hapax share collapses is template/boilerplate (same
    strings over and over); one whose hapax share explodes is
    OCR-garbage or random identifiers.  Complements the Zipf slope
    (tail shape) and vocab coverage (head mass) with the
    singleton end of the distribution.

    Scale shape: one shuffle on (source, term) with map-side
    combine, then a source-cardinality rollup of small ints — the
    same two-level aggregation as the TF-IDF vocabulary pass."""
    d = t(spark, sf_dir, "documents")
    toks = d.select(
        "source",
        F.explode(F.transform(tokens_col(F.col("text")),
                              lambda x: F.lower(x))).alias("term"))
    tf = toks.groupBy("source", "term").agg(
        F.count(F.lit(1)).alias("c"))
    hapax = F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
    return (tf.groupBy("source")
            .agg(F.sum("c").cast("bigint").alias("n_tokens"),
                 F.count(F.lit(1)).cast("bigint").alias("n_types"),
                 hapax.cast("bigint").alias("n_hapax"),
                 F.round(hapax.cast("double") / F.count(F.lit(1)), 6)
                 .alias("hapax_ratio"),
                 F.round(F.count(F.lit(1)).cast("double")
                         / F.sum("c"), 6).alias("type_token_ratio")))


# ------------------------------ sparse TF-IDF cosine similarity join
#: cosine at/above which a same-source doc pair is lexically similar.
TFIDF_COS_T = 0.8
#: broadcast-size estimate for a posting/weight-table side, in
#: hashed-relation bytes per LOGICAL text byte: measured ~0.15 at
#: sf0.01/sf0.1 (96 B/row over distinct (doc,term) postings);
#: 8 keeps a >50x safety margin for short-token corpora where
#: posting rows approach token count.
POSTING_BCAST_FACTOR = 8

#: estimated weight-table bytes per byte of document text, for the
#: adaptive persist level in _tfidf_w: serialized weight rows
#: measure ~0.45x text bytes (6 fixed-width fields per distinct
#: (doc, term)); 4x leaves ~9x margin on the memory-budget side.
TFIDF_W_CACHE_FACTOR = 4

#: conservative hashed-relation bytes per byte of document text for
#: broadcasting the VOCABULARY (term -> document frequency) table in
#: _tfidf_w.  Provable bound, not a calibration: every distinct
#: term's characters appear in the text at least once and tokens are
#: disjoint substrings, so vocab rows <= text_bytes / 2 (1-char
#: token + separator is the densest packing) and each hashed row
#: costs ~48 B overhead + the term bytes -> <= 28x text bytes; 32
#: adds margin.  Past the budget the vocabulary join is left to AQE.
VOCAB_BCAST_FACTOR = 32

TFIDF_COS_SQL = f"""
WITH toks AS (
  SELECT doc_id, source,
         unnest(list_transform({TOKENS_SQL}, t -> lower(t))) AS term
  FROM documents),
tf AS (SELECT doc_id, source, term, COUNT(*) AS tfq
       FROM toks GROUP BY doc_id, source, term),
df AS (SELECT term, COUNT(DISTINCT doc_id) AS dfq FROM tf GROUP BY term),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
w AS (
  SELECT tf.doc_id, tf.source, tf.term,
         ROUND(tf.tfq * ln(CAST(n.n_docs AS DOUBLE) / df.dfq), 8) AS w
  FROM tf JOIN df USING (term) CROSS JOIN n),
nrm AS (
  SELECT doc_id,
         sqrt(CAST(SUM(CAST(FLOOR(w * w * 100000000 + 0.5)
                            AS BIGINT)) AS DOUBLE) / 100000000) AS nrm
  FROM w GROUP BY doc_id),
dots AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(SUM(CAST(FLOOR(a.w * b.w * 100000000 + 0.5)
                       AS BIGINT)) AS DOUBLE) / 100000000 AS dot,
         COUNT(*) AS shared_terms
  FROM w a JOIN w b
    ON b.term = a.term AND b.source = a.source
   AND b.doc_id > a.doc_id
  GROUP BY a.doc_id, b.doc_id)
SELECT d.doc_a, d.doc_b,
       CAST(d.shared_terms AS INTEGER) AS shared_terms,
       ROUND(d.dot / (na.nrm * nb.nrm), 6) AS cosine
FROM dots d
JOIN nrm na ON na.doc_id = d.doc_a
JOIN nrm nb ON nb.doc_id = d.doc_b
WHERE ROUND(d.dot / (na.nrm * nb.nrm), 6) >= {TFIDF_COS_T}
"""


@query("text_tfidf_cosine_pairs", TFIDF_COS_SQL)
def text_tfidf_cosine_pairs(spark, sf_dir):
    """Sparse lexical similarity join: same-source document pairs
    whose TF-IDF vectors have cosine >= {T} — the inverted-index
    similarity shape (term is the join key, so only pairs that SHARE
    a term ever meet) that complements the dense-embedding near-dup:
    lexical overlap catches template/boilerplate pairs an embedding
    model may map apart, and vice versa.

    Scale shape: this is the classic sparse-vector self-join — the
    dot product decomposes over the posting list of each term, so
    the quadratic pair space never materializes; work is
    sum-over-terms of posting-list^2 within a source block, the same
    bound as the n-gram prefix join.  The weight table feeds THREE
    plan branches (norms + both join sides), so it is spread across
    cores at the scan (the tokenizer otherwise runs in the one task
    a single-row-group parquet file yields) and materialized ONCE —
    without the persist the tokenize+tf+idf pipeline re-executes per
    branch (measured 3 x 6s of the query's former 15s at sf0.1).

    Materialization scale story (round-6, revised r15): the weight
    table is corpus-cardinality, so it must never become a
    pinned-executor-memory requirement — but the unconditional
    DISK_ONLY of rounds 6-14 paid serialize+write+read-back on every
    branch read, ~1s of this query's 2.4s cleared wall at sf0.1
    (r14 verdict #2).  The level is now corpus-adaptive
    (io.adaptive_cache_level): serialized MEMORY_AND_DISK while the
    estimated table fits a heap-fraction budget, DISK_ONLY past it —
    blocks stay evictable/spillable either way.  Composed callers
    (sims_hybrid_rrf, the curation family) do NOT accumulate
    copies: Spark's CacheManager keys persisted data on the
    canonicalized logical plan, so re-invocations of this function
    resolve to the SAME storage entry rather than pinning a new
    one.  The full checkpoint-to-a-parquet-table alternative was
    measured at ~2x total wall at sf0.1 (the write costs more than
    the re-reads save); at true 100 TB the weight table should be
    published once as a real table by the pipeline driver, which is
    exactly what `io.publish_atomic` is for.

    Norms and dots accumulate in exact fixed point —
    floor(w_a*w_b*1e8+0.5) as BIGINT on both engines,
    order-independent and ~2x faster than Spark's >18-digit DECIMAL
    path (SURVEY §8); idf uses the same ln() expression both sides,
    pre-rounded to 8 dp before any product.

    Join pruning: hapax terms (df = 1) are filtered from BOTH
    self-join inputs — a term appearing in one document can never be
    shared by a pair, so dots, shared_terms and the output are
    bit-identical (asserted against the unpruned plan), while the
    join sides shrink by the hapax mass of the vocabulary (Zipf:
    roughly half of distinct terms).  Norms still use the full
    weight table.  A zero-norm document (every weight 0) has no
    cosine: ``try_divide`` yields NULL, as the oracle's division
    does, and the pair fails the threshold."""
    w = _tfidf_w(spark, sf_dir)
    wp = w.filter(F.col("dfq") > 1)
    wb = wp.select(F.col("doc_id").alias("doc_b"),
                   F.col("source").alias("b_source"),
                   F.col("term").alias("b_term"),
                   F.col("w").alias("w_b"),
                   F.col("nrm").alias("nrm_b"))
    # norms ride the weight rows (constant per doc, so legal extra
    # grouping keys) — no post-join norm lookups at all; see
    # _tfidf_w for why that beats the old nrm-table joins.
    dots = (wp.join(wb, (F.col("b_term") == F.col("term"))
                    & (F.col("b_source") == F.col("source"))
                    & (F.col("doc_b") > F.col("doc_id")))
            .groupBy(F.col("doc_id").alias("doc_a"), "doc_b",
                     F.col("nrm").alias("nrm_a"), "nrm_b")
            .agg((F.sum(F.floor(F.col("w") * F.col("w_b") * 1e8 + 0.5)
                        .cast("long")).cast("double") / 1e8)
                 .alias("dot"),
                 F.count(F.lit(1)).alias("shared_terms")))
    cos = F.round(F.try_divide(F.col("dot"),
                               F.col("nrm_a") * F.col("nrm_b")), 6)
    return (dots.select("doc_a", "doc_b",
                        F.col("shared_terms").cast("int")
                        .alias("shared_terms"),
                        cos.alias("cosine"))
            .filter(F.col("cosine") >= TFIDF_COS_T))


def _tfidf_w(spark, sf_dir):
    """TF-IDF weight table with the per-doc L2 norm CARRIED as a
    column (persisted at a corpus-adaptive level — see
    text_tfidf_cosine_pairs' materialization scale story and
    io.adaptive_cache_level), shared by the full-pairs operator
    and the query-sided ranking below.  Both callers build the SAME
    canonicalized plan, so Spark's CacheManager resolves their
    persists to one storage entry.

    Shape (round-7 rewrite, 3.8s -> ~1.6s steady at sf0.1):

    * tf: ONE combine shuffle on (doc, source, term) — skew-free key
      (doc_id in the hash) and map-side partial agg shrinks the
      exploded token stream before it moves.
    * df: tf rows are unique per (doc, term), so document frequency
      is a plain COUNT(*) per term, not a two-phase countDistinct.
      INVARIANT (ADVICE r07): COUNT(*) == COUNT(DISTINCT doc_id)
      per term only because doc_id never spans two sources in the
      data model, so tf is unique per (doc_id, term) as well as per
      (doc_id, source, term) — test_doc_id_unique_across_sources
      pins doc_id uniqueness across sources so a data-model change
      fails loudly instead of silently inflating every df.
    * nrm: the per-doc norm is a SECOND window (partitionBy doc_id)
      over the same stream instead of a groupBy + two join-backs
      onto the pair results — one tf-cardinality exchange replaces
      an aggregate plus two broadcast-build stages per caller
      (measured: the nrm-carrying plan is ~1.3s faster end-to-end at
      sf0.1).  Norms use the FULL weight table (computed before any
      hapax pruning), matching the oracle.
    * n_docs comes from the parquet footer (driver-side peek, the
      catalog statistic) — no count job, no crossJoin stage.

    Build-shape revision (r16, guide §2.3/§2.4 — the r15 verdict's
    lexical-leg item, adjudicated by decomposition: the BUILD was
    ~70% of the cleared pairs wall at sf0.1, not the posting
    self-join, so the exchanges here are the real lever):

    * the input scan is spread_by(doc_id) BEFORE tokenize — the
      keyed variant of the round-robin spread (same single-row-group
      parallelism rationale, same AQE-coalesce defense via a pinned
      partition count, no-op at scale): hash(doc_id) is a SUBSET of
      the tf grouping keys and exactly the nrm window's partitionBy,
      so the tf aggregate AND the norm window reuse the one exchange
      instead of paying one each;
    * dfq comes from a combine-aggregated vocabulary table
      (groupBy(term).count) joined back through
      io.broadcast_within_budget at a PROVABLE footer-bytes bound
      (VOCAB_BCAST_FACTOR), replacing the r07 window's full-stream
      exchange on term with a vocab-mass one; past the budget AQE
      plans the same join, which under a 1-byte budget at sf0.1 was
      also faster than the window form.

    Measured (interleaved A/B at sf0.1, caches dropped, 3 reps):
    build 0.92 -> 0.59 s min, full pairs query 1.48 -> 1.19 s min,
    bit-identical output (exceptAll both ways = 0)."""
    import os

    from ..io import (adaptive_cache_level, broadcast_within_budget,
                      parquet_column_bytes, parquet_row_count,
                      spread_by)

    n_docs = parquet_row_count(os.path.join(sf_dir,
                                            "documents.parquet"))
    text_bytes = parquet_column_bytes(
        os.path.join(sf_dir, "documents.parquet"), "text")
    d = spread_by(t(spark, sf_dir, "documents"), "doc_id")
    toks = d.select(
        "doc_id", "source",
        F.explode(F.transform(tokens_col(F.col("text")),
                              lambda x: F.lower(x))).alias("term"))
    tf = toks.groupBy("doc_id", "source", "term").agg(
        F.count(F.lit(1)).alias("tfq"))
    vocab = tf.groupBy("term").agg(F.count(F.lit(1)).alias("dfq"))
    tfd = tf.join(broadcast_within_budget(
        vocab, text_bytes * VOCAB_BCAST_FACTOR), "term")
    w = tfd.select("doc_id", "source", "term", "dfq",
                   F.round(F.col("tfq")
                           * F.log(F.lit(float(n_docs))
                                   / F.col("dfq")), 8).alias("w"))
    nrm = F.sqrt((F.sum(F.floor(F.col("w") * F.col("w") * 1e8 + 0.5)
                        .cast("long"))
                  .over(Window.partitionBy("doc_id"))
                  .cast("double")) / 1e8)
    # storage level is corpus-adaptive (r14 verdict #2): the weight
    # table's serialized size measures ~0.45x the text column's
    # logical bytes (row = 6 fixed-width fields per distinct
    # (doc,term)); estimating at TFIDF_W_CACHE_FACTOR x text bytes
    # leaves ~9x margin, and past the heap-fraction budget the
    # persist degrades to DISK_ONLY exactly as before — measured
    # ~1s faster cleared walls at sf0.1 for every consumer of this
    # table (pairs 2.43 -> 1.39s, hybrid lex leg likewise).
    return (w.withColumn("nrm", nrm)
            .persist(adaptive_cache_level(
                spark, text_bytes * TFIDF_W_CACHE_FACTOR)))


def tfidf_query_cosine(spark, sf_dir, stride):
    """Query-sided TF-IDF cosine ranking: for each query doc
    (doc_id % stride == 0), every same-source candidate sharing a
    term, at cosine >= TFIDF_COS_T.  Bit-equal to symmetrizing
    text_tfidf_cosine_pairs and filtering to strided queries — but
    the inverted-index join probes only the QUERY docs' posting mass
    (~1/stride of the corpus) against the full posting list, so pair
    enumeration shrinks ~stride/2-fold vs computing all pairs and
    discarding the non-query ones.  This is the retrieval shape (few
    queries vs the corpus) as opposed to the dedup shape (all
    pairs); sims_hybrid_rrf's lexical leg uses it.

    Scale shape: same posting-list join bound as the full-pairs
    operator with one side down-sampled by the stride; the weight
    table and norms are the shared corpus-scan stages.  The query
    side goes through io.broadcast_within_budget at its posting mass
    estimated from footer text bytes (x POSTING_BCAST_FACTOR /
    stride) — measured 3x faster than an unconditional shuffle_hash
    at sf0.1, where co-shuffling the FULL posting list by (source,
    term) dominated the leg — and past the budget it is the
    shuffle-hash build relation (the planner left alone broadcasts
    the full posting list, a corpus-sized driver broadcast, wrong at
    any scale).  A zero-norm document's cosine is NULL, as in the
    oracle, and fails the threshold."""
    import os

    from ..io import broadcast_within_budget, parquet_column_bytes

    w = _tfidf_w(spark, sf_dir)
    wp = w.filter(F.col("dfq") > 1)
    wq = (wp.filter(F.col("doc_id") % stride == 0)
          .select(F.col("doc_id").alias("query_id"),
                  F.col("source").alias("q_source"),
                  F.col("term").alias("q_term"),
                  F.col("w").alias("w_q"),
                  F.col("nrm").alias("nrm_q")))
    text_bytes = parquet_column_bytes(
        os.path.join(sf_dir, "documents.parquet"), "text")
    wq = broadcast_within_budget(
        wq, text_bytes * POSTING_BCAST_FACTOR // stride,
        past=lambda s: s.hint("shuffle_hash"))
    dots = (wq.join(wp, (F.col("term") == F.col("q_term"))
                    & (F.col("source") == F.col("q_source"))
                    & (F.col("doc_id") != F.col("query_id")))
            .groupBy("query_id", F.col("doc_id").alias("cand"),
                     "nrm_q", F.col("nrm").alias("nrm_c"))
            .agg((F.sum(F.floor(F.col("w_q") * F.col("w") * 1e8 + 0.5)
                        .cast("long")).cast("double") / 1e8)
                 .alias("dot")))
    cos = F.round(F.try_divide(F.col("dot"),
                               F.col("nrm_q") * F.col("nrm_c")), 6)
    return (dots.select("query_id", "cand", cos.alias("cosine"))
            .filter(F.col("cosine") >= TFIDF_COS_T))


# ------------------------------- BPE merge learning (2 iterations)
#: unrolled merge-learning iterations.
BPE_MERGES = 2

def _bpe_base_ctes(where: str = "") -> str:
    """Training-corpus base CTEs; ``where`` restricts the train slice
    (the held-out encode entry trains on even doc_ids only)."""
    return f"""
toks AS (
  SELECT lower(unnest({TOKENS_SQL})) AS wd FROM documents {where}),
wc AS (SELECT wd, CAST(COUNT(*) AS BIGINT) AS cnt
       FROM toks WHERE len(wd) > 0 GROUP BY wd),
seq0 AS (
  SELECT wd, cnt,
         array_to_string(list_transform(range(1, len(wd) + 1),
                                        i -> wd[i]), ' ') AS seq
  FROM wc)
"""


_BPE_BASE_CTES = _bpe_base_ctes()


def _bpe_iter_sql(i: int) -> str:
    prev = f"seq{i - 1}"
    return f"""
p{i} AS (
  SELECT pair, SUM(cnt) AS c FROM (
    SELECT cnt,
           unnest(list_transform(range(1, len(sp)),
                                 j -> sp[j] || ' ' || sp[j + 1])) AS pair
    FROM (SELECT cnt, str_split(seq, ' ') AS sp FROM {prev}))
  GROUP BY pair),
b{i} AS (
  SELECT MIN(struct_pack(nc := -c, p := pair)) AS b FROM p{i}),
seq{i} AS (
  SELECT wd, cnt,
         trim(replace(' ' || seq || ' ',
                      ' ' || b.p || ' ',
                      ' ' || replace(b.p, ' ', '') || ' ')) AS seq
  FROM {prev} CROSS JOIN b{i})
"""


BPE_SQL = (
    "WITH " + _BPE_BASE_CTES.strip()
    + "".join("," + _bpe_iter_sql(i) for i in range(1, BPE_MERGES + 1))
    + "\nSELECT * FROM (\n"
    + "\nUNION ALL\n".join(
        f"SELECT {i} AS merge_rank, b.p AS pair, "
        f"CAST(-b.nc AS BIGINT) AS pair_count FROM b{i}"
        for i in range(1, BPE_MERGES + 1))
    + "\n)")


@query("text_bpe_learn_merges", BPE_SQL)
def text_bpe_learn_merges(spark, sf_dir):
    """BPE tokenizer TRAINING (Sennrich et al., ACL'16): learn the
    first {N} merge rules from the corpus — count adjacent symbol
    pairs weighted by word frequency, adopt the most frequent pair
    (ties to the lexicographically first), rewrite the symbol
    sequences, repeat.  This is the corpus-side primitive behind
    every byte-pair vocabulary; `text_bpe_token_count` is the
    INFERENCE side of the same family.

    Like the k-means and PageRank trainers, the iterative learner is
    hash-verified: the oracle unrolls each merge as chained CTEs.
    Merge application is the boundary-padded leftmost
    non-overlapping string replace — identical semantics in both
    engines (verified: ' a a a ' -> ' aa a ' in both), with
    repeated-symbol chains merging on later iterations.

    Scale shape: the ONLY corpus-sized stage is the word count (one
    shuffle with map-side combine); merge learning then runs on the
    word-frequency table — vocabulary-cardinality, exactly how
    production BPE trainers operate.  Pair counting per iteration is
    a vocabulary-sized explode + aggregate; the chosen pair is one
    row, which the planner broadcasts unhinted."""
    return _bpe_learn(spark, sf_dir)[0]


#: (session, corpus file identity, train slice) -> (merges_df,
#: seq_df).  The training loop runs BPE_MERGES eager localCheckpoints
#: — re-running it per consumer (trainer entry, apply entry, held-out
#: encode; benched min-of-N repeats) re-pays the whole loop and
#: accumulates checkpoint RDDs until driver GC (round-10 ADVICE).
#: Holding the DataFrame handles keeps the checkpoint RDDs alive;
#: eviction just drops the reference (ContextCleaner reclaims on GC —
#: unlike the persist-based _DENSE_FEAT_MEMO there is nothing to
#: unpersist, and clearCache() cannot deregister a localCheckpoint,
#: so no re-assert is needed on hit either).
_BPE_LEARN_MEMO: dict = {}


def clear_bpe_memo(spark=None) -> int:
    """Drop memoized BPE training results — ``spark``'s session only,
    or all sessions when None; returns the number of entries dropped.
    Measurement harnesses call this between runs: the memo's
    localCheckpoint RDDs survive ``spark.catalog.clearCache()``, so a
    'steady-state' re-run of a BPE entry would otherwise measure a
    dict lookup against a DuckDB oracle that re-runs the full
    training SQL (SWEEP_r11 first read 0.025s steady / 0.15x ratio —
    a cache artifact, not a number).  Production encoders WANT the
    reuse; benches must not."""
    keys = [k for k in _BPE_LEARN_MEMO
            if spark is None
            or k[:2] == (spark.sparkContext.applicationId, id(spark))]
    for k in keys:
        _BPE_LEARN_MEMO.pop(k, None)
    return len(keys)


def _bpe_learn(spark, sf_dir, parity: str | None = None):
    """Shared BPE training loop: returns ``(merges_df,
    final_seq_df)`` — the learned merge table (merge_rank, pair,
    pair_count) AND the vocabulary with every learned merge applied
    (wd, cnt, seq), which IS the encoder table the apply side needs
    (greedy rank-ordered application and training's sequential
    rewrite are the same computation — each iteration rewrites the
    vocab with the newly adopted merge, in rank order).

    ``parity="even"`` trains on even doc_ids only (the held-out
    encode entry's train slice).  Memoized per (session, corpus file
    identity, parity)."""
    import os as _os

    from ..io import file_memo_key

    key = file_memo_key(
        spark, _os.path.join(sf_dir, "documents.parquet")) + (parity,)
    hit = _BPE_LEARN_MEMO.get(key)
    if hit is not None:
        return hit
    d = spread(t(spark, sf_dir, "documents"))
    if parity == "even":
        d = d.filter(F.col("doc_id") % 2 == 0)
    wc = (d.select(F.explode(F.transform(
        tokens_col(F.col("text")), lambda x: F.lower(x))).alias("wd"))
        .filter(F.length("wd") > 0)
        .groupBy("wd").agg(F.count(F.lit(1)).cast("bigint").alias("cnt")))
    chars = F.transform(
        F.sequence(F.lit(1), F.length("wd")),
        lambda i: F.col("wd").substr(i, F.lit(1)))
    seq = wc.select("wd", "cnt",
                    F.array_join(chars, " ").alias("seq")) \
        .localCheckpoint(eager=True)
    merges = []
    for rank in range(1, BPE_MERGES + 1):
        sp = F.split(F.col("seq"), " ")
        # Spark's sequence(1, 0) counts DOWN (same trap as
        # shingles_from_tokens): single-symbol words need an
        # explicit empty index list
        idx = F.when(F.size(sp) >= 2,
                     F.sequence(F.lit(1), F.size(sp) - 1)) \
            .otherwise(F.expr("CAST(array() AS array<int>)"))
        pair = F.transform(
            idx,
            lambda j: F.concat(F.element_at(sp, j), F.lit(" "),
                               F.element_at(sp, j + 1)))
        pairs = (seq.select("cnt", F.explode(pair).alias("pair"))
                 .groupBy("pair").agg(F.sum("cnt").alias("c")))
        best = pairs.agg(F.min(F.struct(
            (-F.col("c")).alias("nc"), F.col("pair").alias("p")))
            .alias("b")).select(
                F.col("b.p").alias("p"),
                (-F.col("b.nc")).cast("bigint").alias("c")) \
            .localCheckpoint(eager=True)
        merges.append(best.select(
            F.lit(rank).alias("merge_rank"),
            F.col("p").alias("pair"),
            F.col("c").alias("pair_count")))
        joined = F.concat(F.lit(" "), F.col("p"), F.lit(" "))
        merged = F.concat(F.lit(" "),
                          F.replace(F.col("p"), F.lit(" "), F.lit("")),
                          F.lit(" "))
        seq = (seq.crossJoin(best)
               .select("wd", "cnt", F.trim(F.replace(
                   F.concat(F.lit(" "), F.col("seq"), F.lit(" ")),
                   joined, merged)).alias("seq"))
               .localCheckpoint(eager=True))
    out = merges[0]
    for m in merges[1:]:
        out = out.unionByName(m)
    # evict entries whose file identity changed under the same
    # (session, path) — a regenerated corpus must not serve stale
    # vocab — and bound the memo by dropping oldest-inserted first
    # (NOT a full flush: live sessions' hot entries stay, the
    # round-10 _DENSE_FEAT_MEMO overflow lesson)
    stale = [k for k in _BPE_LEARN_MEMO
             if k[:3] == key[:3] and k[3:5] != key[3:5]]
    for k in stale:
        _BPE_LEARN_MEMO.pop(k, None)
    while len(_BPE_LEARN_MEMO) > 32:
        _BPE_LEARN_MEMO.pop(next(iter(_BPE_LEARN_MEMO)), None)
    _BPE_LEARN_MEMO[key] = (out, seq)
    return out, seq


_BPE_APPLY_SQL = (
    "WITH " + _BPE_BASE_CTES.strip()
    + "".join("," + _bpe_iter_sql(i) for i in range(1, BPE_MERGES + 1))
    + f""",
vocab AS (
  SELECT wd, CAST(len(str_split(seq, ' ')) AS BIGINT) AS n_sym
  FROM seq{BPE_MERGES}),
dt AS (
  SELECT doc_id, lower(unnest({TOKENS_SQL})) AS wd FROM documents)
SELECT d.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_pretokens,
       CAST(SUM(v.n_sym) AS BIGINT) AS n_bpe_tokens
FROM dt d JOIN vocab v USING (wd)
WHERE len(d.wd) > 0
GROUP BY d.doc_id""")


@query("text_bpe_apply_merges", _BPE_APPLY_SQL)
def text_bpe_apply_merges(spark, sf_dir):
    """BPE tokenizer INFERENCE — the train->apply handshake that was
    missing between `text_bpe_learn_merges` and
    `curation_sequence_pack`: encode the corpus with the merges the
    trainer just learned and report per-document pretoken and
    BPE-token counts (the numbers a token-budgeted curation pipeline
    actually consumes).

    Greedy rank-ordered merge application is computed on the
    VOCABULARY, not per occurrence: training's final rewritten
    symbol-sequence table (each iteration rewrites the vocab with
    the newly adopted merge, in rank order — identical semantics to
    applying the learned rules one rank at a time) already holds
    every distinct word's encoding, so applying to the corpus is a
    vocabulary join + per-doc sum.  This is how production BPE
    encoders work (encode each distinct word once, look up
    everywhere) and it keeps the corpus-sized stages to the
    pretokenize-explode and one aggregation — the merge loop itself
    never touches corpus-cardinality data.

    Scale shape: the vocab side is vocabulary-cardinality (Heaps'
    law sub-linear), and the join side is chosen EXPLICITLY: left
    alone, the planner broadcast the EXPLODED CORPUS stream (the
    vocab side is a checkpointed RDD with no stats, and parquet scan
    stats never model explode fan-out — the round-10 explain pass
    caught exactly this BuildLeft shape, a driver-OOM at any real
    corpus).  The vocab goes through io.broadcast_within_budget at
    the corpus text-byte upper bound (vocab char mass can never
    exceed it) — every replicated test corpus stays under the
    budget — and past it the vocab is the shuffle-hash BUILD side against
    the streamed corpus, the standard dictionary-join shape (one
    build row per word, so per-key build mass is skew-free; AQE
    splits probe-side stopword skew).  Documents whose every
    pretoken is length-0 drop out (inner join) — same rule as the
    oracle.  Scope: this entry encodes the TRAIN corpus, so every
    word is in the vocabulary by construction; the held-out/OOV
    encode path (unseen words char-split with merges applied in rank
    order) is `text_bpe_encode_heldout` below.

    Parity anchor: on merge-free inputs (no learned pair occurs),
    n_bpe_tokens == total symbol count and n_pretokens reproduces
    `text_bpe_token_count`'s pretoken boundaries — pinned by
    tests/test_oracle_parity.py::test_bpe_apply_merge_free."""
    _, vocab_seq = _bpe_learn(spark, sf_dir)
    vocab = vocab_seq.select(
        "wd",
        F.size(F.split(F.col("seq"), " ")).cast("bigint")
        .alias("n_sym"))
    toks = _doc_pretokens(spread(t(spark, sf_dir, "documents")))
    return _encode_corpus_with_vocab(sf_dir, toks, vocab)


def _doc_pretokens(d):
    """The BPE pretokenizer stream: (doc_id, lowered non-empty
    whitespace token) — one row per occurrence."""
    return (d.select(
        "doc_id",
        F.explode(F.transform(tokens_col(F.col("text")),
                              lambda x: F.lower(x))).alias("wd"))
        .filter(F.length("wd") > 0))


def _encode_corpus_with_vocab(sf_dir, toks, vocab):
    """Corpus-encode tail shared by the apply and held-out entries:
    join the pretoken stream against the (wd, n_sym) encoder table
    and fold to per-doc counts.  The dictionary join side is chosen
    EXPLICITLY — io.broadcast_within_budget at the corpus text-byte
    upper bound, else the vocab is the shuffle-hash BUILD side —
    because the checkpointed vocab has no stats and the planner
    would otherwise broadcast the exploded corpus (the round-10
    BuildLeft bug, plan-shape-pinned)."""
    import os

    from ..io import broadcast_within_budget, parquet_column_bytes

    vocab = broadcast_within_budget(
        vocab, parquet_column_bytes(
            os.path.join(sf_dir, "documents.parquet"), "text"),
        past=lambda s: s.hint("shuffle_hash"))
    return (toks.join(vocab, "wd")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_pretokens"),
                 F.sum("n_sym").cast("bigint").alias("n_bpe_tokens")))


def _bpe_delta_iter_sql(i: int) -> str:
    """One rank's merge applied to the held-out vocab delta — the
    same boundary-padded rewrite as training's seq{i}, reusing the
    trained b{i} choice (no re-counting on held-out data)."""
    prev = f"delta{i - 1}"
    return f"""
delta{i} AS (
  SELECT wd,
         trim(replace(' ' || seq || ' ',
                      ' ' || b.p || ' ',
                      ' ' || replace(b.p, ' ', '') || ' ')) AS seq
  FROM {prev} CROSS JOIN b{i})
"""


_BPE_HELDOUT_SQL = (
    "WITH " + _bpe_base_ctes("WHERE doc_id % 2 = 0").strip()
    + "".join("," + _bpe_iter_sql(i) for i in range(1, BPE_MERGES + 1))
    + f""",
hd AS (
  SELECT doc_id, lower(unnest({TOKENS_SQL})) AS wd
  FROM documents WHERE doc_id % 2 = 1),
hw AS (SELECT DISTINCT wd FROM hd WHERE len(wd) > 0),
delta0 AS (
  SELECT hw.wd,
         array_to_string(list_transform(range(1, len(hw.wd) + 1),
                                        i -> hw.wd[i]), ' ') AS seq
  FROM hw LEFT JOIN seq{BPE_MERGES} v ON v.wd = hw.wd
  WHERE v.wd IS NULL)"""
    + "".join("," + _bpe_delta_iter_sql(i)
              for i in range(1, BPE_MERGES + 1))
    + f""",
vocab AS (
  SELECT wd, CAST(len(str_split(seq, ' ')) AS BIGINT) AS n_sym
  FROM seq{BPE_MERGES}
  UNION ALL
  SELECT wd, CAST(len(str_split(seq, ' ')) AS BIGINT) AS n_sym
  FROM delta{BPE_MERGES})
SELECT d.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_pretokens,
       CAST(SUM(v.n_sym) AS BIGINT) AS n_bpe_tokens
FROM hd d JOIN vocab v USING (wd)
WHERE len(d.wd) > 0
GROUP BY d.doc_id""")


@query("text_bpe_encode_heldout", _BPE_HELDOUT_SQL)
def text_bpe_encode_heldout(spark, sf_dir):
    """BPE encode of HELD-OUT text — closes `text_bpe_apply_merges`'s
    OOV gap (its inner join against the training vocabulary is
    complete only for the train corpus; unseen words would silently
    drop).  Train on even doc_ids, encode odd ones: held-out words
    already in the training vocabulary take the trainer's final
    symbol sequence; unseen words are char-split and the learned
    merges are applied to them in rank order — the production encode
    path for new text.

    The rank-ordered application is ONE JVM-side fold: the merge
    table (BPE_MERGES rows, constant by construction) collapses to a
    single rank-sorted array row, cross-joined (the planner
    broadcasts the one row unhinted) onto the
    vocab DELTA — vocabulary-cardinality, never the corpus — and
    F.aggregate replays training's boundary-padded replace per rank.
    Training keeps the padded form trimmed/re-padded per iteration;
    the fold holds the padding invariant throughout and trims once
    at the finish — equal strings, because each rewrite preserves
    exactly one boundary space (parity pinned by the held-out oracle
    and tests/test_oracle_parity.py::test_bpe_heldout_oov_encoding).

    Scale shape: two corpus scans (the distinct-word pass and the
    encode join — how production encoders work: encode each distinct
    word once, look up everywhere); the delta fold is
    vocabulary-sized; the encoder join side is the apply entry's
    (_encode_corpus_with_vocab)."""
    merges, vocab_seq = _bpe_learn(spark, sf_dir, parity="even")
    seen = vocab_seq.select("wd", "seq")
    toks = _doc_pretokens(
        spread(t(spark, sf_dir, "documents"))
        .filter(F.col("doc_id") % 2 == 1))
    chars = F.transform(
        F.sequence(F.lit(1), F.length("wd")),
        lambda i: F.col("wd").substr(i, F.lit(1)))
    delta0 = (toks.select("wd").distinct()
              .join(seen, "wd", "left_anti")
              .select("wd", F.array_join(chars, " ").alias("seq")))
    # the merge rules as ONE rank-sorted array row (struct sort is
    # lexicographic on fields; merge_rank is unique -> rank order)
    mrow = merges.agg(
        F.transform(
            F.array_sort(F.collect_list(
                F.struct(F.col("merge_rank"), F.col("pair")))),
            lambda s: s.getField("pair")).alias("mseq"))

    def pad(c):
        return F.concat(F.lit(" "), c, F.lit(" "))

    enc = F.aggregate(
        F.col("mseq"), pad(F.col("seq")),
        lambda acc, p: F.replace(
            acc, pad(p), pad(F.replace(p, F.lit(" "), F.lit("")))),
        lambda acc: F.trim(acc))
    applied = (delta0.crossJoin(mrow)
               .select("wd", enc.alias("seq")))
    vocab = (seen.unionByName(applied)
             .select("wd",
                     F.size(F.split(F.col("seq"), " ")).cast("bigint")
                     .alias("n_sym")))
    return _encode_corpus_with_vocab(sf_dir, toks, vocab)
