"""The MinHash-LSH kernel (``queries.dedup``): exact band keys on
hand-made signatures, and lazy query construction for its callers."""

from __future__ import annotations

import pytest

from .conftest import SF0001
from .test_layer_reads import job_group


def _sig_rows(nh: int, nb: int) -> list[tuple]:
    """Three doc pairs, each in its own value range so no pair can
    collide with another: (10, 11) equal in band 0 only, (20, 21)
    equal in every band, and (30, 31) whose band-0 values differ but
    concatenate to the same digits ([1, 23, ...] vs [12, 3, ...])."""
    rpb = nh // nb

    def sig(base: int) -> list[int]:
        return [base + k for k in range(nh)]

    one_band = sig(1000)[:rpb] + sig(2000)[rpb:]
    digits_a = [1, 23] + sig(5000)[2:]
    digits_b = [12, 3] + sig(6000)[2:]
    return [(10, *sig(1000)), (11, *one_band),
            (20, *sig(3000)), (21, *sig(3000)),
            (30, *digits_a), (31, *digits_b)]


@pytest.mark.parametrize("nh,nb", [(8, 2), (16, 4)])
def test_band_keys_are_exact(spark, nh, nb):
    from energi_data_pipeline_spark.queries.dedup import (band_long,
                                                           candidate_pairs)

    sigs = spark.createDataFrame(
        _sig_rows(nh, nb),
        "doc_id bigint, " + ", ".join(f"mh{k} bigint" for k in range(nh)))
    long = band_long(sigs, nh, nb)
    rows = long.collect()
    assert len(rows) == 6 * nb
    assert {len(r.key) for r in rows} == {nh // nb}
    pairs = [tuple(r) for r in candidate_pairs(long).collect()]
    # one pair per doc pair, however many bands it shares
    assert sorted(pairs) == [(10, 11), (20, 21)]


def test_minhash_queries_build_without_jobs(spark):
    """Building the MinHash queries and the shingle-overlap
    decontamination submits no Spark job: signing, banding, the
    sweep's counts and the shingle arrays all run when the result is
    consumed, not while the plan is constructed."""
    from energi_data_pipeline_spark.queries import load_all
    from energi_data_pipeline_spark.queries.core import t

    registry = load_all()
    # the table read infers its schema once per session (memoized);
    # that job belongs to the read, not to any query
    t(spark, SF0001, "documents")
    try:
        for name in ("dedup_minhash_signature", "dedup_minhash_lsh_pairs",
                     "dedup_lsh_banding_sweep",
                     "dedup_minhash_calibration", "curation_decontaminate"):
            with job_group(spark, f"build:{name}") as jobs:
                registry[name].fn(spark, SF0001)
                assert jobs() == [], name
    finally:
        spark.catalog.clearCache()
