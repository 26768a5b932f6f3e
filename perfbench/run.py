"""Seeded, traced benchmark for the energi Spark engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \\
        --trace <0|1>

Run from the root of a checkout.  One process builds one Spark
session on ``local[nproc]``, generates the workload's inputs from the
seed, warms up, runs a fixed amount of work (sized by ``--seconds``)
as a closed loop with one client, checks every output and prints one
JSON line last: ``correct``, ``attempted``, ``failed`` and
``metrics``.  ``--trace 0`` reports the end-to-end metrics;
``--trace 1`` turns on Spark's event log and timing wrappers around
the engine's public functions and reports the per-layer metrics.  ``BENCHMARK.json``
names every metric with its unit; ``perfbench/layers.json`` maps each
layer to the end-to-end metric it should move.  Everything it writes
stays under
``.perfbench_work/`` in the checkout; the run-stamp and a detailed
profile are kept in ``.perfbench_work/results/``.

``--plant-mismatch`` corrupts one reference result (self-test of the
checks).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)


def parse(argv=None):
    import workloads
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--plant-mismatch", action="store_true")
    return p.parse_args(argv)


class RssPeak:
    """Peak resident memory of this process and its descendants (the
    JVM and its Python workers).  Polled once a second as the sum of
    proportional set sizes, so pages a forked child shares with its
    parent count once."""

    def __init__(self):
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _poll(self) -> None:
        todo, total = [(os.getpid(), "")], 0
        while todo:
            pid, parent_exe = todo.pop()
            try:
                exe = os.readlink(f"/proc/{pid}/exe")
                if exe == parent_exe and os.path.basename(exe) == "java":
                    # the JVM spawning a helper process: until it execs,
                    # the child shares the JVM's address space and would
                    # count all of it a second time
                    continue
                with open(f"/proc/{pid}/smaps_rollup", encoding="utf-8") as fh:
                    total += next(int(line.split()[1]) for line in fh
                                  if line.startswith("Pss:"))
                for tid in os.listdir(f"/proc/{pid}/task"):
                    with open(f"/proc/{pid}/task/{tid}/children",
                              encoding="utf-8") as fh:
                        todo += [(int(c), exe) for c in fh.read().split()]
            except (OSError, StopIteration):
                continue
        self.peak_kb = max(self.peak_kb, total)

    def _run(self):
        while not self._stop.wait(1.0):
            self._poll()

    def start(self):
        self._thread.start()

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak_kb / 1024


def retained_heap_mb(spark) -> float:
    """JVM heap still live after a full collection: what the program
    keeps holding once its work is done (plans, status, caches,
    broadcasts).  Unlike the resident size, it does not follow when
    the collector chose to grow the heap."""
    jvm = spark.sparkContext._jvm
    # the first collection queues dead broadcasts and shuffles for
    # Spark's context cleaner, which frees their blocks on its own
    # thread; the second collection then finds them gone
    jvm.System.gc()
    time.sleep(1.0)
    jvm.System.gc()
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return mx.getHeapMemoryUsage().getUsed() / 2**20


def steal_s() -> float:
    """CPU time the hypervisor took from this machine since boot."""
    with open("/proc/stat", encoding="utf-8") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def stamp() -> dict:
    import duckdb
    import pyspark
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    return {"nproc": len(os.sched_getaffinity(0)),
            "steal_s_start": steal_s(),
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "loadavg_start": os.getloadavg(),
            "pyspark": pyspark.__version__, "duckdb": duckdb.__version__,
            "commit": commit}


def configure_env(work: str, trace: bool) -> str:
    """Keep every file Spark and Python write inside ``work``; return
    the event-log directory."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    events = os.path.join(work, "eventlog")
    for d in (tmp, local, events):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    conf = {
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + events,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()
    ) + " pyspark-shell"
    return events


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)
    to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def median(xs):
    return statistics.median(xs) if xs else 0.0


def geomean(xs):
    xs = [x for x in xs if x > 0]
    return math.exp(sum(map(math.log, xs)) / len(xs)) if xs else 0.0


def op_medians(ops) -> dict[str, float]:
    by: dict[str, list[float]] = {}
    for o in ops:
        by.setdefault(o.name, []).append(o.wall)
    return {n: median(v) for n, v in by.items()}


def end_to_end(b, section_s: float, heap_mb: float,
               ops: list) -> dict[str, float]:
    op_s = [o.wall for o in ops if o.name != "export"]
    failed = sum(not o.ok for o in ops)
    return {
        "setup_s": sum(b.setup_parts.values()),
        "run_s": section_s,
        "op_p50_s": median(op_s),
        "query_geomean_s": geomean(list(op_medians(ops).values())),
        "success_rate": 1 - failed / len(ops) if ops else 0.0,
        "retained_heap_mb": heap_mb,
        "stored_bytes_per_row": b.stored_bytes / max(1, b.input_rows),
    }


def per_layer(b, wl, tracer, traced_s: float, plain_s: float | None,
              rss_mb: float, ops: list, events_dir: str,
              names: list[str]) -> dict[str, float]:
    import spans
    import workloads
    tot = tracer.totals()
    out = {m: 0.0 for m in names}
    out["session.start_s"] = b.setup_parts.get("session", 0.0)
    out["sources.fetch_s"] = tot.get("sources.fetch", 0.0)
    out["sources.normalize_s"] = tot.get("sources.normalize", 0.0)
    out["sources.rows"] = tracer.counts.get("sources.rows", 0)
    for step in ("bronze", "silver", "gold", "export"):
        out[f"medallion.{step}_s"] = tot.get(f"medallion.{step}", 0.0)
    for fn in ("read_layer_table", "max_watermark", "insert_if_absent"):
        out[f"io.{fn}.calls"] = tracer.calls(f"io.{fn}")
        out[f"io.{fn}_s"] = tot.get(f"io.{fn}", 0.0)
    out["io.append_batch_segment_s"] = tot.get("io.append_batch_segment",
                                               0.0)
    out["io.compactions"] = tracer.calls("io.compact_batch_segments")
    out["io.compact_s"] = tot.get("io.compact_batch_segments", 0.0)
    out["io.export_csv_s"] = tot.get("io.export_csv", 0.0)
    out["io.bytes_written"] = b.stored_bytes
    out["io.files_written"] = b.stored_files
    if isinstance(wl, workloads.Mix):
        prog = wl.section_progress
        out["stream.triggers"] = len(prog)
        out["stream.input_rows"] = sum(r for r, _ in prog)
        for key, metric in (("triggerExecution", "trigger_s"),
                            ("addBatch", "add_batch_s"),
                            ("queryPlanning", "planning_s"),
                            ("walCommit", "wal_commit_s"),
                            ("latestOffset", "latest_offset_s")):
            out[f"stream.{metric}"] = sum(d.get(key, 0) for _, d in prog) / 1e3
        for n in wl.names:
            out[f"query.{n}.build_s"] = median(wl.build_s[n])
            out[f"query.{n}.exec_s"] = median(wl.exec_s[n])
    out["queries.leaked_cached_rdds"] = b.leaked_rdds
    out["process.peak_rss_mb"] = rss_mb
    logs = [os.path.join(events_dir, f) for f in os.listdir(events_dir)]
    jobs, stages = spans.read_event_log(logs[0])
    out.update(spans.spark_layer([(o.t0, o.t1) for o in ops], jobs, stages,
                                 int(os.environ["SPARK_GRAFT_CPUS"])))
    # 0 when this checkout holds no untraced run of the same seed
    out["trace.overhead_ratio"] = traced_s / plain_s if plain_s else 0.0
    return out


def result_path(workload: str, seed: int, trace: int) -> str:
    return os.path.join(ROOT, ".perfbench_work", "results",
                        f"{workload}-seed{seed}-trace{trace}.json")


def untraced_run_s(args) -> float | None:
    """``run_s`` of the last ``--trace 0`` run of this workload and seed
    in this checkout, if any."""
    try:
        with open(result_path(args.workload, args.seed, 0),
                  encoding="utf-8") as fh:
            return json.load(fh)["detail"]["run_s"]
    except (OSError, KeyError, ValueError):
        return None


def with_units(values: dict[str, float], spec: list[dict]) -> dict:
    """Every metric ``spec`` names, as ``{"value", "unit"}``."""
    return {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
            for m in spec}


def install_wrappers(tracer) -> list:
    """Timing wrappers around the engine's public functions, bound in
    every module that imported them."""
    import spans
    from energi_data_pipeline_spark.sources.rest import FixtureSource

    pkg = "energi_data_pipeline_spark"
    targets = [
        ("pipelines.medallion", "run_bronze", "medallion.bronze"),
        ("pipelines.medallion", "run_silver", "medallion.silver"),
        ("pipelines.medallion", "run_gold", "medallion.gold"),
        ("pipelines.medallion", "export_ml_features", "medallion.export"),
        ("sources.normalize", "records_to_bronze", "sources.normalize"),
        ("io", "read_layer_table", "io.read_layer_table"),
        ("io", "max_watermark", "io.max_watermark"),
        ("io", "insert_if_absent", "io.insert_if_absent"),
        ("io", "append_batch_segment", "io.append_batch_segment"),
        ("io", "compact_batch_segments", "io.compact_batch_segments"),
        ("io", "export_csv", "io.export_csv"),
    ]
    undo = []
    for mod, attr, name in targets:
        module = sys.modules[f"{pkg}.{mod}"]
        fn = getattr(module, attr)
        undo.append(spans.patch_everywhere(
            pkg, f"{pkg}.{mod}", attr, tracer.wrap(fn, name)))

    fetch = FixtureSource.fetch

    def counted_fetch(self, cursor):
        idx = tracer.open("sources.fetch")
        try:
            recs = fetch(self, cursor)
        finally:
            tracer.close(idx)
        tracer.count("sources.rows", len(recs))
        return recs
    FixtureSource.fetch = counted_fetch
    undo.append(lambda: setattr(FixtureSource, "fetch", fetch))
    return undo


def run(args, work: str) -> tuple[dict, dict]:
    import spans
    import workloads
    from energi_data_pipeline_spark.pipelines import medallion  # noqa: F401
    from energi_data_pipeline_spark.session import get_spark

    events_dir = configure_env(work, bool(args.trace))
    rss = RssPeak()
    rss.start()
    t = time.perf_counter()
    spark = get_spark("perfbench")
    tracer = spans.Tracer() if args.trace else None
    b = None
    try:
        b = workloads.Bench(spark, args.seed, args.seconds, work,
                            plant=args.plant_mismatch)
        wl = workloads.make(args.workload, b)
        b.setup_parts["session"] = time.perf_counter() - t
        wl.setup()
        undo = install_wrappers(tracer) if tracer is not None else []
        b.tracer = tracer
        try:
            t0 = time.perf_counter()
            wl.section()
            run_s = time.perf_counter() - t0
        finally:
            b.tracer = None
            for u in undo:
                u()
        all_ops = b.ops
        heap_mb = retained_heap_mb(spark)
        t = time.perf_counter()
        wl.check(all_ops)
        check_s = time.perf_counter() - t
    finally:
        stop_spark(spark)
        if b is not None:
            b.close()
        rss_mb = rss.stop()
    failed = sum(not o.ok for o in all_ops)
    result = {"correct": failed == 0, "attempted": len(all_ops),
              "failed": failed}
    e2e = end_to_end(b, run_s, heap_mb, all_ops)
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    detail = {"setup_parts": b.setup_parts, "check_s": check_s,
              "run_s": run_s,
              "ops": [(o.name, o.wall, o.ok) for o in all_ops],
              "end_to_end": e2e}
    if tracer is None:
        result["metrics"] = with_units(e2e, spec["end_to_end"])
        return result, detail
    layer = per_layer(b, wl, tracer, run_s, untraced_run_s(args), rss_mb,
                      all_ops, events_dir,
                      [m["name"] for m in spec["per_layer"]])
    result["metrics"] = with_units(layer, spec["per_layer"])
    prof: dict[str, dict] = {}
    for s, st in zip(tracer.spans, spans.self_times(tracer.spans)):
        e = prof.setdefault(s.name, {"calls": 0, "total_s": 0.0,
                                     "self_s": 0.0})
        e["calls"] += 1
        e["total_s"] += s.end - s.start
        e["self_s"] += st
    detail["spans"] = prof
    return result, detail


def main(argv=None) -> int:
    # fail before anything else when the engine is not beside us
    import energi_data_pipeline_spark  # noqa: F401
    args = parse(argv)
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    os.environ.setdefault("SPARK_GRAFT_CPUS",
                          str(len(os.sched_getaffinity(0))))
    info = stamp()
    # the JVM inherits fds 1 and 2: keep its logging out of the result
    sys.stdout.flush()
    sys.stderr.flush()
    saved = os.dup(1), os.dup(2)
    log = os.open(os.path.join(base, f"spark-{os.getpid()}.log"),
                  os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
    os.dup2(log, 1)
    os.dup2(log, 2)
    try:
        result, detail = run(args, work)
    finally:
        sys.stdout.flush()
        sys.stderr.flush()
        os.dup2(saved[0], 1)
        os.dup2(saved[1], 2)
        os.close(log)
        shutil.rmtree(work, ignore_errors=True)
    info["loadavg_end"] = os.getloadavg()
    info["steal_s_end"] = steal_s()
    path = result_path(args.workload, args.seed, args.trace)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8") as fh:
        json.dump({"stamp": info, "args": vars(args), "result": result,
                   "detail": detail}, fh, indent=1)
    print(json.dumps({"stamp": info}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
