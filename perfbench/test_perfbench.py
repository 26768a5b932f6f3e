"""Self-tests of the benchmark: seeded inputs, span arithmetic, the
event-log fold, result digests, the oracle rewrite and the
planted-mismatch path.

    python3 -m pytest perfbench -q

The planted-mismatch test starts Spark and takes about a minute.
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

import gen
import spans
import verify
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
SMALL = gen.CorpusSize(orders=200, documents=60, embeddings=40, events=100,
                       customers=50, suppliers=10, parts=50)


def tree_hash(root: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(root)):
        h.update(name.encode())
        with open(os.path.join(root, name), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path):
    a, b, c = (str(tmp_path / n) for n in "abc")
    gen.write_corpus(a, 7, SMALL)
    gen.write_corpus(b, 7, SMALL)
    gen.write_corpus(c, 8, SMALL)
    assert tree_hash(a) == tree_hash(b)
    assert tree_hash(a) != tree_hash(c)
    assert sorted(os.listdir(a)) == sorted(
        f"{t}.parquet" for t in verify.TABLES)
    feed = [str(tmp_path / f"f{i}.json") for i in range(3)]
    for path, seed in zip(feed, (7, 7, 8)):
        gen.write_feed(path, gen.power_feed(seed, 2))
    data = [open(p, "rb").read() for p in feed]
    assert data[0] == data[1] != data[2]


def test_table_subset_holds_the_same_rows(tmp_path):
    full, part = str(tmp_path / "full"), str(tmp_path / "part")
    gen.write_corpus(full, 3, SMALL)
    gen.write_corpus(part, 3, SMALL, ["documents", "lineitem"])
    assert sorted(os.listdir(part)) == ["documents.parquet",
                                        "lineitem.parquet"]
    for name in os.listdir(part):
        with open(os.path.join(full, name), "rb") as f1, \
                open(os.path.join(part, name), "rb") as f2:
            assert f1.read() == f2.read()


def test_union_length_merges_overlaps_and_gaps():
    assert spans.union_length([]) == 0
    assert spans.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert spans.union_length([(5, 6), (0, 10)]) == 10
    assert spans.clip([(0, 2), (3, 9)], 1, 4) == [(1, 2), (3, 4)]


def test_self_time_subtracts_covered_children_once():
    s = [spans.Span("op", 0, 10, None, 0),
         spans.Span("a", 1, 4, 0, 0),
         spans.Span("b", 3, 6, 0, 0),     # overlaps a: counted once
         spans.Span("a.c", 2, 3, 1, 0),
         spans.Span("late", 9, 12, 0, 0)]  # clipped to the parent
    assert spans.self_times(s) == [10 - 5 - 1, 3 - 1, 3, 1, 3]


def test_tracer_nests_spans_and_counts():
    t = spans.Tracer()
    outer = t.wrap(lambda: inner(), "outer")
    inner = t.wrap(lambda: 1, "inner")
    assert outer() == 1
    assert [s.name for s in t.spans] == ["outer", "inner"]
    assert t.spans[1].parent == 0 and t.spans[0].parent is None
    assert t.calls("inner") == 1 and set(t.totals()) == {"outer", "inner"}


def _event_log(path):
    def task(stage, records, cpu_ns, ok=True):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Stage Attempt ID": 0,
                "Task End Reason": {"Reason": "Success" if ok else "Lost"},
                "Task Metrics": {
                    "Executor Run Time": 1000, "Executor CPU Time": cpu_ns,
                    "JVM GC Time": 100,
                    "Input Metrics": {"Bytes Read": 10,
                                      "Records Read": records},
                    "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                             "Local Bytes Read": 5,
                                             "Total Records Read": 0},
                    "Shuffle Write Metrics": {"Shuffle Bytes Written": 7},
                    "Output Metrics": {"Bytes Written": 3}}}
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0,
         "Submission Time": 1000, "Stage IDs": [0, 1]},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 0, "Stage Attempt ID": 0,
            "Submission Time": 1000, "Completion Time": 3000}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 1, "Stage Attempt ID": 0,
            "Submission Time": 2000, "Completion Time": 4000}},
        task(0, 5, 500_000_000), task(0, 0, 500_000_000, ok=False),
        task(1, 1, 1_000_000_000),
        # a job outside every op interval
        {"Event": "SparkListenerJobStart", "Job ID": 1,
         "Submission Time": 9000, "Stage IDs": [2]},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 2, "Stage Attempt ID": 0,
            "Submission Time": 9000, "Completion Time": 9500}},
        task(2, 1, 1),
    ]
    with open(path, "w", encoding="utf-8") as fh:
        fh.write("\n".join(json.dumps(e) for e in events) + "\n")


def test_event_log_fold_attributes_stages_to_ops(tmp_path):
    path = str(tmp_path / "events")
    _event_log(path)
    jobs, stages = spans.read_event_log(path)
    m = spans.spark_layer([(0.5, 5.0)], jobs, stages, cores=2)
    assert m["spark.jobs"] == 1 and m["spark.stages"] == 2
    assert m["spark.tasks"] == 3 and m["spark.task_failures"] == 1
    assert m["spark.empty_task_ratio"] == 1 / 3
    assert m["spark.executor_cpu_s"] == 2.0
    assert m["spark.stage_busy_s"] == 3.0        # union of [1,3] and [2,4]
    assert m["spark.driver_only_s"] == 4.5 - 3.0
    assert m["spark.cpu_busy_ratio"] == 2.0 / (4.5 * 2)
    assert m["spark.shuffle_read_bytes"] == 15
    assert m["spark.output_bytes"] == 9


def test_digest_ignores_row_order_but_not_values_or_types():
    rows = [(1, 2.0, "a"), (2, -0.0, None)]
    d = verify.digest(["k", "v", "s"], ["bigint", "double", "varchar"], rows)
    assert d == verify.digest(["k", "v", "s"], ["BIGINT", "DOUBLE", "string"],
                              [(2, 0.0, None), (1, 2.0, "a")])
    assert d != verify.digest(["k", "v", "s"], ["bigint", "double", "varchar"],
                              [(1, 2.0, "a"), (2, 0.5, None)])
    assert d != verify.digest(["k", "v", "s"], ["int", "double", "varchar"],
                              rows)


def test_materialized_oracle_matches_the_registry_sql(tmp_path):
    from energi_data_pipeline_spark.queries import load_all
    sql = load_all()["curation_cluster_representatives"].oracle
    gen.write_corpus(str(tmp_path), 2, SMALL, ["documents"])
    con = verify.duck_connection(str(tmp_path))
    rel = con.sql(sql)
    plain = verify.digest(list(rel.columns), list(rel.types), rel.fetchall())
    assert verify.oracle_digest(con, sql) == plain


def test_planted_mismatch_drives_success_rate_below_one():
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         "catalog_mix", "--seed", "1", "--seconds", "1", "--trace", "0",
         "--plant-mismatch"],
        capture_output=True, text=True, timeout=300,
        cwd=os.path.dirname(HERE))
    assert out.returncode == 0, out.stderr[-2000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["correct"] is False
    assert result["failed"] >= 1
    assert result["metrics"]["success_rate"]["value"] < 1.0
