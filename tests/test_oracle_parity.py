"""Every registered query must hash-match its DuckDB oracle
(the driver's t2 gate, run here at sf0.001 for speed; the driver
uses sf0.01)."""

from __future__ import annotations

import re

import pytest

from energi_data_pipeline_spark.queries import load_all
from .conftest import SF0001
from .parity import TABLES, compare, duck_connection

REGISTRY = load_all()
ORACLED = [n for n, qd in REGISTRY.items() if qd.oracle is not None]
ROWS_ONLY = [n for n, qd in REGISTRY.items() if qd.oracle is None]


@pytest.fixture(scope="module")
def duck():
    con = duck_connection(SF0001)
    yield con
    con.close()


@pytest.mark.parametrize("name", ORACLED)
def test_query_matches_oracle(spark, duck, name):
    from energi_data_pipeline_spark.queries import oracle_scale_guard

    qd = REGISTRY[name]
    # Oracles with a corpus-size validity knee must fail LOUDLY when
    # the harness is pointed at a scaled corpus (rehearsal data),
    # not with opaque row mismatches.
    msg = oracle_scale_guard(name, SF0001)
    assert msg is None, msg
    df = qd.fn(spark, SF0001)
    res = compare(df, duck, qd.oracle)
    assert res["ok"], f"{name}: {res}"


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_query_runs(spark, name):
    qd = REGISTRY[name]
    df = qd.fn(spark, SF0001)
    assert df.count() >= 0
    assert len(df.columns) > 0


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0


def test_bpe_apply_merge_free(spark):
    """The apply side's semantics, pinned two ways (round-10 verdict
    #6): (a) the vocabulary encoding equals a python reference that
    applies the learned merges greedily in rank order (padded
    leftmost non-overlapping replace per rank); (b) merge-free words
    (neither learned pair occurs) keep one symbol per character, and
    every document's n_pretokens reproduces the pretokenizer's
    boundaries (non-empty lowered whitespace tokens) independent of
    the merges."""
    from pyspark.sql import functions as F

    from energi_data_pipeline_spark.queries.text import (
        _bpe_learn, text_bpe_apply_merges, tokens_col)

    merges_df, seq_df = _bpe_learn(spark, SF0001)
    merges = [r["pair"] for r in
              merges_df.orderBy("merge_rank").collect()]
    vocab = {r["wd"]: r["seq"] for r in seq_df.collect()}
    assert merges and vocab

    def ref_apply(wd: str) -> str:
        s = " " + " ".join(wd) + " "
        for pair in merges:
            s = s.replace(f" {pair} ", f" {pair.replace(' ', '')} ")
        return s.strip()

    # (a) training's rewritten vocab == greedy rank-ordered apply
    bad = {w: (vocab[w], ref_apply(w)) for w in vocab
           if vocab[w] != ref_apply(w)}
    assert not bad, dict(list(bad.items())[:5])

    # (b) merge-free words stay fully split: one symbol per char
    for wd, seq in vocab.items():
        if not any(p.replace(" ", "") in wd for p in merges):
            assert seq == " ".join(wd), (wd, seq)

    # (b') pretoken boundaries are merge-independent: n_pretokens ==
    # the pretokenizer's own per-doc count
    applied = {r["doc_id"]: r["n_pretokens"]
               for r in text_bpe_apply_merges(spark, SF0001).collect()}
    from energi_data_pipeline_spark.io import read_table
    expected = {r["doc_id"]: r["n"] for r in (
        read_table(spark, SF0001, "documents")
        .select("doc_id", F.explode(F.transform(
            tokens_col(F.col("text")),
            lambda x: F.lower(x))).alias("wd"))
        .filter(F.length("wd") > 0)
        .groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
        .collect())}
    assert applied == expected


def test_bpe_heldout_oov_encoding(spark):
    """The held-out encode's OOV path (round-11 verdict #5): a word
    NOT in the training vocabulary must be encoded by char-splitting
    it and applying the learned merges greedily in rank order — the
    per-word Spark fold must equal the python reference apply, and
    the per-doc token sums must follow."""
    from pyspark.sql import functions as F

    from energi_data_pipeline_spark.queries.text import (
        _bpe_learn, text_bpe_encode_heldout, tokens_col)
    from energi_data_pipeline_spark.io import read_table

    import tempfile

    # synthetic corpus (the sf0.001 boilerplate corpus has no
    # held-out-only words): train docs are EVEN ids, and doc 1
    # carries words guaranteed absent from them — 'aaaa' exercises a
    # learned-pair cascade on an unseen word, 'xyzq' the merge-free
    # OOV path
    sf = tempfile.mkdtemp(prefix="bpe_oov_sf_")
    (spark.createDataFrame(
        [(0, "aaab aaab aaab ab", "en", "s0", 17),
         (2, "aaab baaa ab ab", "en", "s0", 15),
         (1, "aaab aaaa xyzq ab", "en", "s1", 17),
         (3, "aaaa aaab", "en", "s1", 9)],
        "doc_id bigint, text string, lang string, source string, "
        "n_chars bigint")
     .coalesce(1).write.mode("overwrite").parquet(sf + "/documents.parquet"))

    merges_df, seq_df = _bpe_learn(spark, sf, parity="even")
    merges = [r["pair"] for r in
              merges_df.orderBy("merge_rank").collect()]
    trained = {r["wd"]: r["seq"] for r in seq_df.collect()}

    def ref_apply(wd: str) -> str:
        s = " " + " ".join(wd) + " "
        for pair in merges:
            s = s.replace(f" {pair} ", f" {pair.replace(' ', '')} ")
        return s.strip()

    # held-out per-word reference: seen words take the trainer's
    # sequence, unseen words the greedy rank-ordered apply
    held = (read_table(spark, sf, "documents")
            .filter(F.col("doc_id") % 2 == 1)
            .select("doc_id", F.explode(F.transform(
                tokens_col(F.col("text")),
                lambda x: F.lower(x))).alias("wd"))
            .filter(F.length("wd") > 0).collect())
    oov = {r["wd"] for r in held} - set(trained)
    assert oov >= {"aaaa", "xyzq"}

    def n_sym(wd: str) -> int:
        return len((trained.get(wd) or ref_apply(wd)).split(" "))

    expected: dict[int, list[int]] = {}
    for r in held:
        e = expected.setdefault(r["doc_id"], [0, 0])
        e[0] += 1
        e[1] += n_sym(r["wd"])
    got = {r["doc_id"]: [r["n_pretokens"], r["n_bpe_tokens"]]
           for r in text_bpe_encode_heldout(spark, sf).collect()}
    assert got == expected
    import shutil

    shutil.rmtree(sf, ignore_errors=True)


def test_gate_bool_exprs_match_entries(spark):
    """The map-side gate-boolean expressions (round-11: they let
    curation_gate_overlap fold all four gates in one scan) must equal
    the scoring entries' published booleans doc-for-doc — in
    particular repetition's sorted-run fold vs the entry's
    (doc, token) shuffle."""
    from pyspark.sql import functions as F

    from energi_data_pipeline_spark.io import read_table
    from energi_data_pipeline_spark.queries import load_all
    from energi_data_pipeline_spark.queries.text import (
        blocked_col, lang_known_col, quality_pass_col,
        repetition_pass_col)

    reg = load_all()
    text = F.col("text")
    wide = {r["doc_id"]: r for r in (
        read_table(spark, SF0001, "documents").select(
            "doc_id",
            quality_pass_col(text).alias("q"),
            repetition_pass_col(text).alias("r"),
            blocked_col(text).alias("b"),
            lang_known_col(text).alias("l")).collect())}
    ents = {
        "q": {r["doc_id"]: r["passes_quality"] for r in
              reg["text_quality_score"].fn(spark, SF0001).collect()},
        "r": {r["doc_id"]: r["passes_repetition"] for r in
              reg["text_repetition_score"].fn(spark, SF0001).collect()},
        "b": {r["doc_id"]: r["is_blocked"] for r in
              reg["text_blocklist_filter"].fn(spark, SF0001).collect()},
        "l": {r["doc_id"]: r["lang_pred"] != "unknown" for r in
              reg["text_lang_id"].fn(spark, SF0001).collect()},
    }
    assert len(wide) > 0
    for k, vals in ents.items():
        # the repetition entry may cover fewer docs (zero-token
        # drops); every doc IT covers must agree with the expression
        bad = {d: (wide[d][k], v) for d, v in vals.items()
               if wide[d][k] != v}
        assert not bad, (k, dict(list(bad.items())[:5]))
    # docs absent from the repetition entry are exactly the
    # zero-token ones — the overlap query's has_tokens condition
    missing = set(wide) - set(ents["r"])
    from energi_data_pipeline_spark.queries.text import tokens_col
    zero = {r["doc_id"] for r in (
        read_table(spark, SF0001, "documents")
        .filter(F.size(tokens_col(F.col("text"))) == 0)
        .select("doc_id").collect())}
    assert missing == zero


def test_ivf_ann_zero_norm_centroid_matches_oracle(spark, tmp_path):
    """A centroid with an all-zero embedding has no cosine: the
    oracle's division yields NULL, which its ``ORDER BY ... DESC``
    ranks after every real cosine.  So no vector joins the zero
    centroid's cell unless all its cosines are NULL (the zero vector
    itself, which falls to the lowest ``cent_id``), and a query's
    pair with the zero vector surfaces with a NULL cosine, ranked
    last."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from energi_data_pipeline_spark.queries.simsearch import (
        CENT_STRIDE, QUERY_STRIDE)

    dim, n = 8, 70
    zero = CENT_STRIDE
    rng = np.random.default_rng(7)
    e1, e2 = np.eye(dim)[0], np.eye(dim)[1]
    emb = [e1 + 0.3 * rng.standard_normal(dim) for _ in range(n)]
    # cell 0 holds the e2 vectors, cell 2*CENT_STRIDE the e1 ones
    for i in (0, 1, 2, 3):
        emb[i] = e2 + 0.3 * rng.standard_normal(dim)
    emb[2 * CENT_STRIDE] = e1
    emb[zero] = np.zeros(dim)
    assert zero % QUERY_STRIDE != 0  # a centroid, not a query
    pq.write_table(pa.table({
        "vec_id": pa.array(range(n), type=pa.int64()),
        "embedding": pa.array([list(map(float, v)) for v in emb],
                              type=pa.list_(pa.float32())),
    }), str(tmp_path / "embeddings.parquet"))

    qd = REGISTRY["sims_ivf_ann"]
    con = duck_connection(str(tmp_path))
    try:
        df = qd.fn(spark, str(tmp_path))
        res = compare(df, con, qd.oracle)
        assert res["ok"], res
        got = {(r.query_id, r.neighbor_id): (r.cell_id, r.cosine)
               for r in df.collect()}
    finally:
        con.close()
        spark.catalog.clearCache()
    # the zero vector sits in the lowest cell, beside query 0
    assert got[(0, zero)] == (0, None)


#: a corpus vector that is neither a centroid, a codebook seed nor a
#: query at sf0.001 — zeroing it tests the vector side of every
#: cosine, where the test above zeroes a centroid
ZERO_VEC = 33

EMBEDDINGS_ONLY = sorted(
    n for n in ORACLED
    if {t for t in TABLES
        if re.search(rf"\b{t}\b", REGISTRY[n].oracle)} == {"embeddings"})


@pytest.fixture(scope="module")
def zeroed_corpus(tmp_path_factory):
    """sf0.001's ``embeddings`` with vector ZERO_VEC set to all zeros."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from energi_data_pipeline_spark.queries.simsearch import (
        CB_STRIDE, CENT_STRIDE, QUERY_STRIDE)

    assert all(ZERO_VEC % s for s in (CB_STRIDE, CENT_STRIDE,
                                      QUERY_STRIDE))
    tbl = pq.read_table(f"{SF0001}/embeddings.parquet")
    emb = tbl.column("embedding").to_pylist()
    ids = tbl.column("vec_id").to_pylist()
    emb[ids.index(ZERO_VEC)] = [0.0] * len(emb[ids.index(ZERO_VEC)])
    out = tmp_path_factory.mktemp("zeroed")
    pq.write_table(tbl.set_column(
        tbl.schema.get_field_index("embedding"), "embedding",
        pa.array(emb, type=tbl.schema.field("embedding").type)),
        str(out / "embeddings.parquet"))
    con = duck_connection(str(out))
    yield str(out), con
    con.close()


@pytest.mark.parametrize("name", EMBEDDINGS_ONLY)
def test_zero_norm_vector_matches_oracle(spark, zeroed_corpus, name):
    """A zero vector has no cosine: every entry over the embeddings
    alone returns the oracle's rows (its NULL cosines included)
    instead of raising ``DIVIDE_BY_ZERO``."""
    sf_dir, con = zeroed_corpus
    try:
        res = compare(REGISTRY[name].fn(spark, sf_dir), con,
                      REGISTRY[name].oracle)
    finally:
        spark.catalog.clearCache()
    assert res["ok"], f"{name}: {res}"
