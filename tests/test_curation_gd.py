"""Classifier feature-build twins: the Arrow mapInPandas kernel
(default since round 9) must be bit-identical to the
Catalyst-expression formulation it replaced — same tokenization,
same md5-56 bucket hash, same label rule — so the oracle parity the
expression twin earned transfers to the Arrow path by equality.
"""
from __future__ import annotations

from tests.conftest import SF001


def _by_doc(rows):
    return {r["doc_id"]: (r["source"], r["y"], tuple(r["xs"]))
            for r in rows}


def test_dense_features_twins_identical(spark):
    from energi_data_pipeline_spark.queries.curation import (
        _dense_features, _dense_features_exprs)

    arrow = _by_doc(_dense_features(spark, SF001).collect())
    spark.catalog.clearCache()
    exprs = _by_doc(_dense_features_exprs(spark, SF001).collect())
    spark.catalog.clearCache()
    assert arrow == exprs


def test_dense_features_twins_identical_adversarial(spark, tmp_path):
    """The corpus twins test passes on all-lowercase ASCII data by
    construction; this one feeds the divergence-prone inputs the
    round-9 review called out — uppercase tokens (lower-before-hash),
    digits vs unicode-digit lookalikes, non-breaking space (Java \\s
    does not match U+00A0), leading/trailing controls (Java trim is
    'code <= U+0020', not unicode strip), empty and whitespace-only
    docs — and requires the Arrow kernel and the expression twin to
    still agree bit-for-bit."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    texts = [
        "The Grid LOADS Power the grid loads power mix CASE",
        "numbers 123 456 789 but also ²³ superscripts count not",
        "nbsp joined token stays one token on both engines",
        "  \t leading and trailing controls \x1f\n ",
        "",
        " ",
        "punct.,;:!? dense.,;:!? doc.,;:!?",
        "a " * 2000,  # > 1000 tokens: label gate upper bound
    ]
    pq.write_table(pa.table({
        "doc_id": pa.array(range(len(texts)), type=pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(["en"] * len(texts)),
        "source": pa.array(["s"] * len(texts)),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    }), str(tmp_path / "documents.parquet"))

    from energi_data_pipeline_spark.queries.curation import (
        _dense_features, _dense_features_exprs)

    arrow = _by_doc(_dense_features(spark, str(tmp_path)).collect())
    spark.catalog.clearCache()
    exprs = _by_doc(
        _dense_features_exprs(spark, str(tmp_path)).collect())
    spark.catalog.clearCache()
    assert arrow == exprs, {
        k: (arrow[k], exprs[k]) for k in arrow if arrow[k] != exprs[k]}


def test_feature_vectors_shape_and_labels(spark):
    from energi_data_pipeline_spark.queries.curation import (
        D_FEATS, _dense_features)

    rows = _dense_features(spark, SF001).collect()
    spark.catalog.clearCache()
    assert rows, "empty corpus?"
    for r in rows:
        assert len(r["xs"]) == D_FEATS + 1
        assert r["xs"][D_FEATS] == 1.0  # bias slot
        assert r["y"] in (0.0, 1.0)
    # the label rule evaluates (every sf0.001 doc happens to pass
    # the gate, so a constant 1.0 here is the data, not a bug — the
    # twins-equality test above carries the semantic pin)
    assert all(r["y"] == 1.0 or r["y"] == 0.0 for r in rows)


def test_dense_features_memoized_same_object(spark, tmp_path):
    """The gate's scoring pass must reuse the TRAINER's persisted
    feature stage.  CacheManager sameResult-matching two separately
    built mapInPandas plans (each embedding its own pickled python
    function) is not a guarantee, so _dense_features memoizes per
    (session, corpus identity) and hands back the SAME DataFrame
    object — object identity IS the reuse contract (round-10
    advice).  A corpus rewritten in place gets new features, with
    the old ones unpersisted, and a retrained BPE (the other memo on
    the documents corpus)."""
    import time

    import pyarrow.parquet as pq
    from pyspark import StorageLevel

    from energi_data_pipeline_spark.io import _memo_clear
    from energi_data_pipeline_spark.queries.curation import _dense_features
    from energi_data_pipeline_spark.queries.text import (_bpe_learn,
                                                         clear_bpe_memo)
    from tests.conftest import SF0001

    _memo_clear(spark, "dense_features")
    a = _dense_features(spark, SF001)
    b = _dense_features(spark, SF001)
    assert a is b
    # clearCache deregisters the persist under the memo's feet (bench
    # does this between runs) — the next hit must RE-ASSERT it, or
    # every multi-branch consumer re-runs the Arrow kernel per branch
    spark.catalog.clearCache()
    assert a.storageLevel == StorageLevel.NONE
    c = _dense_features(spark, SF001)
    assert c is a
    assert c.storageLevel != StorageLevel.NONE
    a.unpersist()
    _memo_clear(spark, "dense_features")

    docs = pq.read_table(f"{SF0001}/documents.parquet")
    path = str(tmp_path / "documents.parquet")
    pq.write_table(docs.slice(0, 60), path)
    def cached_rdds():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    before = cached_rdds()
    old = _dense_features(spark, str(tmp_path))
    assert old.count() == 60
    old_rdds = cached_rdds() - before
    assert old_rdds
    old_bpe = _bpe_learn(spark, str(tmp_path))
    assert _bpe_learn(spark, str(tmp_path)) is old_bpe
    time.sleep(0.01)  # mtime_ns must move even on coarse clocks
    pq.write_table(docs.slice(60, 40), path)
    new = _dense_features(spark, str(tmp_path))
    assert new is not old
    assert new.storageLevel != StorageLevel.NONE
    assert new.count() == 40
    # the old features' blocks are released.  (old.storageLevel cannot
    # tell: the CacheManager matches plans, and the new frame's plan
    # reads the same path with the same schema)
    assert not old_rdds & cached_rdds()
    new_bpe = _bpe_learn(spark, str(tmp_path))
    assert new_bpe is not old_bpe
    assert (sorted(new_bpe[1].select("wd", "cnt").collect())
            != sorted(old_bpe[1].select("wd", "cnt").collect()))
    assert clear_bpe_memo(spark) >= 1
    assert _bpe_learn(spark, str(tmp_path)) is not new_bpe
    clear_bpe_memo(spark)
    _memo_clear(spark, "dense_features")
