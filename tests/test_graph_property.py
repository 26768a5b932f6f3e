"""Property test: operators.graph.connected_components against a
plain union-find on random edge lists (chains, stars, cycles,
self-loops, disconnected vertices-in-pairs-only graphs)."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings, strategies as st

from energi_data_pipeline_spark.operators.graph import connected_components

edges_st = st.lists(
    st.tuples(st.integers(min_value=0, max_value=12),
              st.integers(min_value=0, max_value=12)),
    min_size=1, max_size=20)


def union_find(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return {x: find(x) for x in parent}


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(edges=edges_st)
def test_components_match_union_find(spark, edges):
    # default limit -> the r15 small-graph LOCAL path
    df = spark.createDataFrame(
        [(int(u), int(v)) for u, v in edges], "src int, dst int")
    got = {(r["id"], r["cluster_id"])
           for r in connected_components(df, "src", "dst").collect()}
    assert got == set(union_find(edges).items())


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(edges=edges_st)
def test_components_match_union_find_distributed(spark, edges):
    # local_limit=0 forces the distributed propagation loop — the
    # 100 TB path must stay property-tested now that small graphs
    # (including every test-SF corpus) take the local fast path
    df = spark.createDataFrame(
        [(int(u), int(v)) for u, v in edges], "src int, dst int")
    got = {(r["id"], r["cluster_id"])
           for r in connected_components(df, "src", "dst",
                                         local_limit=0).collect()}
    assert got == set(union_find(edges).items())


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(edges=edges_st)
def test_star_components_match_union_find(spark, edges):
    # default limit -> the r16 small-graph LOCAL path
    from energi_data_pipeline_spark.operators.graph import (
        connected_components_star)

    df = spark.createDataFrame(
        [(int(u), int(v)) for u, v in edges], "src int, dst int")
    got = {(r["id"], r["cluster_id"])
           for r in connected_components_star(df, "src", "dst").collect()}
    assert got == set(union_find(edges).items())


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(edges=edges_st)
def test_star_components_match_union_find_distributed(spark, edges):
    # local_limit=0 forces the alternating star loop — the 100 TB
    # path must stay property-tested now that small graphs
    # (including every test-SF corpus) take the local fast path
    from energi_data_pipeline_spark.operators.graph import (
        connected_components_star)

    df = spark.createDataFrame(
        [(int(u), int(v)) for u, v in edges], "src int, dst int")
    got = {(r["id"], r["cluster_id"])
           for r in connected_components_star(
               df, "src", "dst", local_limit=0).collect()}
    assert got == set(union_find(edges).items())


def test_star_handles_deep_chain(spark):
    """Diameter-59 path: min-label needs 59 rounds; star converges in
    O(log^2 n) — this is the deep-graph case the operator exists for.
    local_limit=0 forces the star LOOP (the r16 default would
    localize a 60-edge graph); the default path must agree."""
    from energi_data_pipeline_spark.operators.graph import (
        connected_components_star)

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(200, 260)], "s long, d long")
    want = {(i, 200) for i in range(200, 261)}
    got = {(r["id"], r["cluster_id"])
           for r in connected_components_star(
               chain, "s", "d", local_limit=0).collect()}
    assert got == want
    got_local = {(r["id"], r["cluster_id"])
                 for r in connected_components_star(
                     chain, "s", "d").collect()}
    assert got_local == want


def test_star_localization_boundary(spark):
    """The star localization gate is inclusive at exactly
    local_limit canonical edges, exclusive one below; both strategies
    agree on labels, schema, and self-loop-only singleton coverage."""
    from energi_data_pipeline_spark.operators.graph import (
        connected_components_star)

    # 3 canonical edges ((1,2),(2,3),(7,8)) + a self-loop-only vertex
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8), (9, 9)], "src long, dst long")
    want = {(1, 1), (2, 1), (3, 1), (7, 7), (8, 7), (9, 9)}
    at = connected_components_star(edges, "src", "dst", local_limit=3)
    below = connected_components_star(edges, "src", "dst",
                                      local_limit=2)
    assert {tuple(r) for r in at.collect()} == want
    assert {tuple(r) for r in below.collect()} == want
    assert at.schema == below.schema


def test_truncate_prefers_reliable_checkpoint_when_configured():
    """r13 ADVICE: localCheckpoint stores blocks on executors with
    no lineage — at cluster scale an executor loss would make the
    edge list unrecoverable, so a configured checkpoint dir must
    route truncation through reliable checkpoint()."""
    from unittest.mock import MagicMock

    from energi_data_pipeline_spark.operators.graph import _truncate

    df = MagicMock()
    df.sparkSession.sparkContext.getCheckpointDir.return_value = "/c"
    _truncate(df)
    df.checkpoint.assert_called_once_with(eager=True)
    df.localCheckpoint.assert_not_called()

    local = MagicMock()
    local.sparkSession.sparkContext.getCheckpointDir.return_value = None
    _truncate(local)
    local.localCheckpoint.assert_called_once_with(eager=True)
    local.checkpoint.assert_not_called()


def test_connected_components_string_ids_chain(spark):
    """Review r14: the DECIMAL label-sum convergence proof is only
    valid for numeric ids — a string id casts to NULL and every
    round's sum reads None, which would silently 'converge' after
    one round.  String-keyed graphs must take the type-agnostic
    changed-count path and still propagate a multi-round chain."""
    from energi_data_pipeline_spark.operators.graph import (
        connected_components)

    # chain m5 of hex-ish ids: needs >1 propagation round;
    # local_limit=0 forces the distributed changed-count path (the
    # default limit would take the local union-find)
    edges = spark.createDataFrame(
        [("dd", "cc"), ("cc", "bb"), ("bb", "aa"), ("ff", "ee")],
        ["src", "dst"])
    want = {("aa", "aa"), ("bb", "aa"), ("cc", "aa"),
            ("dd", "aa"), ("ee", "ee"), ("ff", "ee")}
    got = {(r["id"], r["cluster_id"])
           for r in connected_components(edges, "src", "dst",
                                         local_limit=0).collect()}
    assert got == want
    # and the local path agrees on string ids
    got_local = {(r["id"], r["cluster_id"])
                 for r in connected_components(edges, "src",
                                               "dst").collect()}
    assert got_local == want


def test_connected_components_fractional_decimal_ids_chain(spark):
    """r14 ADVICE: a DECIMAL id with nonzero scale is ROUNDED by the
    cast('decimal(38,0)') in the label-sum proof, so labels that
    still decrease fractionally (5.4 -> 5.2) can produce equal sums
    and falsely signal convergence.  Fractional-decimal ids must
    take the changed-count path and still propagate a chain whose
    labels differ only in the fraction."""
    from decimal import Decimal

    from pyspark.sql import types as T

    from energi_data_pipeline_spark.operators.graph import (
        connected_components)

    # chain 5.4 - 5.3 - 5.2 - 5.1: every id rounds to the SAME
    # integer 5, so the rounded label sum is constant from round 0 —
    # the sum proof would declare convergence before propagation
    sch = T.StructType([
        T.StructField("src", T.DecimalType(10, 2)),
        T.StructField("dst", T.DecimalType(10, 2))])
    d = Decimal
    edges = spark.createDataFrame(
        [(d("5.40"), d("5.30")), (d("5.30"), d("5.20")),
         (d("5.20"), d("5.10"))], sch)
    want = {("5.10", "5.10"), ("5.20", "5.10"),
            ("5.30", "5.10"), ("5.40", "5.10")}
    # local_limit=0 forces the distributed loop whose convergence
    # gating this test exists to pin
    got = {(str(r["id"]), str(r["cluster_id"]))
           for r in connected_components(edges, "src", "dst",
                                         local_limit=0).collect()}
    assert got == want
    got_local = {(str(r["id"]), str(r["cluster_id"]))
                 for r in connected_components(edges, "src",
                                               "dst").collect()}
    assert got_local == want


def test_local_and_distributed_schemas_match(spark):
    """The r15 local fast path must be plan-invisible to consumers:
    identical column names AND types as the distributed loop."""
    from energi_data_pipeline_spark.operators.graph import (
        connected_components)

    edges = spark.createDataFrame([(1, 2), (2, 3)],
                                  "src long, dst long")
    local = connected_components(edges, "src", "dst")
    dist = connected_components(edges, "src", "dst", local_limit=0)
    assert local.schema == dist.schema
    assert ({tuple(r) for r in local.collect()}
            == {tuple(r) for r in dist.collect()})


def test_local_labels_take_the_common_id_type(spark):
    """An int ``src`` beside a long ``dst`` holding ids past 2^31:
    the driver-side union-find labels carry the long type the
    distributed path widens to, and the same rows, on both CC
    operators."""
    from energi_data_pipeline_spark.operators.graph import (
        connected_components_star)

    big = 1 << 33
    edges = spark.createDataFrame(
        [(1, big), (2, big + 1), (2, 3)], "src int, dst long")
    want = {(1, 1), (big, 1), (2, 2), (3, 2), (big + 1, 2)}
    for cc in (connected_components, connected_components_star):
        local = cc(edges, "src", "dst")
        dist = cc(edges, "src", "dst", local_limit=0)
        assert local.schema == dist.schema
        assert local.schema["id"].dataType.typeName() == "long"
        assert {tuple(r) for r in local.collect()} == want
        assert {tuple(r) for r in dist.collect()} == want
