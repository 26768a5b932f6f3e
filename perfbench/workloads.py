"""The two benchmark workloads.

Each workload has three phases, driven by ``run.py``:

* ``setup`` generates the seeded inputs; ``medallion_refresh`` also
  warms up there;
* ``section`` is the timed closed loop with a single client.  Its
  amount of work is fixed by ``--seconds`` through the nominal unit
  costs below, never by how fast the program runs, so ``run_s`` of
  two commits compares the same work.  It runs every operation
  through ``Bench.op``;
* ``check`` compares every output against its reference and marks
  the operations it covers as failed when they differ.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import gen
import verify

PKG = "energi_data_pipeline_spark"

#: nominal seconds per unit of work on a 4-core box at the seed
#: commit; ``--seconds`` divided by this gives the fixed work amount
INCREMENT_S = 4.5
MIX_PASS_S = 50.0

#: one pass runs the curation mix (LSH to CC, TF-IDF, IVF-PQ: shuffle
#: and executor CPU), the streaming LSH index (state growth and
#: segment writes beside reads) and then the star-schema OLAP mix
#: (plan build, join strategy, partition counts) over one corpus
CURATION_MIX = ["curation_pipeline", "curation_cluster_representatives",
                "text_tfidf_cosine_pairs", "sims_ivfpq_ann",
                "sims_hybrid_rrf", "dedup_semantic_cells"]
STREAM = "stream_incremental_lsh_dedup"
#: micro-batches of the stream: the fourth trigger compacts the index
#: (``SEGMENT_COMPACT_EVERY`` is 4)
STREAM_BATCHES = 4
OLAP_MIX = ["tpch_q1_pricing_summary", "tpch_q3_shipping_priority",
            "tpch_q4_order_priority", "tpch_q5_local_supplier",
            "tpch_q6_forecast_revenue", "tpch_q7_volume_shipping",
            "tpch_q8_national_market_share", "tpch_q10_returned_items",
            "tpch_q13_customer_distribution", "tpch_q14_promo_effect",
            "tpch_q15_top_supplier", "tpch_q17_small_qty_revenue",
            "tpch_q18_large_volume_customer",
            "tpch_q22_global_sales_opportunity", "gold_events_full",
            "ext_asof_join", "ext_range_join_binned"]

MIX_SIZE = gen.CorpusSize(documents=400, embeddings=600, events=10_000)


class Op:
    __slots__ = ("name", "t0", "t1", "wall", "ok", "out")

    def __init__(self, name: str):
        self.name, self.ok, self.out = name, True, None
        self.t0 = self.t1 = self.wall = 0.0


class Bench:
    """State shared by the phases of one benchmark run."""

    def __init__(self, spark, seed: int, seconds: int, work: str,
                 plant: bool = False):
        self.spark, self.seed, self.seconds = spark, seed, seconds
        self.work, self.plant = work, plant
        self.tracer = None       # spans.Tracer while a traced section runs
        self.ops: list[Op] = []  # operations of the current section
        self.setup_parts: dict[str, float] = {}
        self.leaked_rdds = 0
        self.input_rows = 0
        self.stored_bytes = 0
        self.stored_files = 0
        self.log = open(os.path.join(work, "program-stdout.log"), "a",
                        encoding="utf-8")

    def op(self, name: str, fn, *args, **kwargs) -> Op:
        """Run one operation; an exception marks it failed.  Persisted
        RDDs still alive afterwards are counted and released outside
        the operation's interval."""
        rec = Op(name)
        sc = self.spark.sparkContext
        sc.setJobGroup(f"bench:{name}", name)
        if self.tracer is not None:
            self.tracer.op = len(self.ops)
            self.tracer.op_span = self.tracer.open(f"op.{name}")
        rec.t0 = time.time()
        p0 = time.perf_counter()
        try:
            with contextlib.redirect_stdout(self.log):
                rec.out = fn(*args, **kwargs)
        except Exception as ex:  # the op failed; the run goes on
            rec.ok = False
            print(f"op {name} failed: {ex!r}", file=self.log, flush=True)
        rec.wall = time.perf_counter() - p0
        rec.t1 = time.time()
        if self.tracer is not None:
            self.tracer.close(self.tracer.op_span)
            self.tracer.op = self.tracer.op_span = None
        self.ops.append(rec)
        self.release()
        return rec

    def release(self) -> None:
        jsc = self.spark.sparkContext._jsc
        alive = jsc.getPersistentRDDs()
        self.leaked_rdds += alive.size()
        self.spark.catalog.clearCache()
        for rdd in list(alive.values()):
            rdd.unpersist(True)

    def timed_setup(self, part: str, fn, *args):
        t = time.perf_counter()
        out = fn(*args)
        self.setup_parts[part] = time.perf_counter() - t
        return out

    def generate(self, make, *args):
        """Run a seeded generator into the input directory, timed as
        set-up."""
        d = os.path.join(self.work, "input")
        return d, self.timed_setup("generate", make, d, *args)

    def close(self) -> None:
        self.log.close()


def du(root: str) -> tuple[int, int]:
    """(bytes, files) of regular files under ``root``."""
    size = files = 0
    for dirpath, _, names in os.walk(root):
        for f in names:
            try:
                size += os.path.getsize(os.path.join(dirpath, f))
                files += 1
            except FileNotFoundError:
                pass
    return size, files


def collect(df):
    """Materialize a result: (columns, dtypes, rows)."""
    return df.columns, df.dtypes, df.collect()


def mark_failed(ops: list[Op], ok: bool) -> None:
    if not ok:
        for o in ops:
            o.ok = False


def planted(b: Bench, expected: str) -> str:
    """The self-test's planted mismatch: corrupt one reference."""
    if b.plant:
        b.plant = False
        return "planted-mismatch"
    return expected


# ------------------------------------------------------ medallion_refresh

class Medallion:
    """One day of minute records per increment through
    ``pipelines.medallion.run_all``; one export at the end."""

    def __init__(self, b: Bench):
        self.b = b
        from energi_data_pipeline_spark.pipelines import medallion
        from energi_data_pipeline_spark.sources.rest import FixtureSource
        self.medallion, self.FixtureSource = medallion, FixtureSource
        # three at least: a median of two is their mean
        self.increments = max(3, round(b.seconds / INCREMENT_S))
        self.wh = os.path.join(b.work, "warehouse")
        self.day = 0

    def setup(self) -> None:
        b = self.b
        days = 1 + self.increments

        def write(d):
            os.makedirs(d)
            return gen.write_feed(os.path.join(d, "feed.json"),
                                  gen.power_feed(b.seed, days))
        path, _ = b.generate(write)
        with open(os.path.join(path, "feed.json"), encoding="utf-8") as fh:
            recs = json.load(fh)
        # the source of increment d holds the feed up to day d
        days_of = [r["Minutes1UTC"][:10] for r in recs]
        cuts = [i for i in range(1, len(recs)) if days_of[i] != days_of[i - 1]]
        self.feed = [recs[:c] for c in cuts + [len(recs)]]
        # the cold first increment belongs to set-up
        b.timed_setup("warmup", self._land)

    def _land(self):
        src = self.FixtureSource(self.feed[self.day])
        self.day += 1
        with contextlib.redirect_stdout(self.b.log):
            self.medallion.run_all(self.b.spark, self.wh, src)

    def section(self) -> None:
        b = self.b
        for _ in range(self.increments):
            b.op("increment", self._land)
        out = os.path.join(b.work, f"features-{len(b.ops)}.csv")
        b.op("export", self.medallion.export_ml_features, b.spark, self.wh,
             out)
        self.export_path = out
        b.input_rows = len(self.feed[self.day - 1])
        b.stored_bytes, b.stored_files = du(self.wh)

    def check(self, ops: list[Op]) -> None:
        """Incremental equals batch: the gold table equals one
        ``build_gold`` over the full silver fact table, and the export
        holds every gold row."""
        from energi_data_pipeline_spark.io import read_layer_table
        from energi_data_pipeline_spark.operators.gold import build_gold
        spark, wh = self.b.spark, self.wh
        gold = read_layer_table(spark, wh, "gold", "power_system_5min_avg")
        fact = read_layer_table(spark, wh, "silver", "fact_power_system")
        dim = read_layer_table(spark, wh, "silver", "dim_time")
        got = verify.spark_digest(*collect(gold))
        want = verify.spark_digest(*collect(build_gold(fact, dim)))
        mark_failed(ops, got == planted(self.b, want))
        n_gold = gold.count()
        n_csv = spark.read.option("header", True).csv(self.export_path).count()
        mark_failed([o for o in ops if o.name == "export"], n_csv == n_gold)


# ------------------------------------------------------------ catalog_mix

class ProgressLog:
    """Streaming progress from Spark's own listener bus."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        log = self

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                with log.cv:
                    log.progress.append(
                        (p.batchId, p.numInputRows, dict(p.durationMs)))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                with log.cv:
                    log.terminated += 1
                    log.cv.notify_all()

        self.cv = threading.Condition()
        self.progress: list[tuple[int, int, dict]] = []
        self.terminated = 0
        self.listener = Listener()

    def wait_terminated(self, n: int, timeout: float = 30.0) -> None:
        with self.cv:
            self.cv.wait_for(lambda: self.terminated >= n, timeout)


class Mix:
    """Whole passes over a fixed list of registry queries; one op is
    ``fn(spark, data_dir)`` (build) plus ``collect()`` (execute).  The
    streaming LSH index replays the documents as ``STREAM_BATCHES``
    micro-batches: sign, candidate join against the growing index,
    segment append, compaction on the fourth trigger.

    There is no warm-up pass: the timed pass holds each query's first
    execution in the session (plan build, code generation and the
    session's own cold start, which lands on the first query), as a
    scheduled run of the catalog pays it.  A warm-up pass would double
    the run; longer ``--seconds`` add warm passes."""

    def __init__(self, b: Bench):
        self.b, self.names = b, CURATION_MIX + [STREAM] + OLAP_MIX
        from energi_data_pipeline_spark.queries import load_all
        self.registry = load_all()
        self.passes = max(1, round(b.seconds / MIX_PASS_S))
        self.build_s: dict[str, list[float]] = {n: [] for n in self.names}
        self.exec_s: dict[str, list[float]] = {n: [] for n in self.names}
        self.progress = ProgressLog()
        b.spark.streams.addListener(self.progress.listener)
        self.streams = 0
        self.stored: list[tuple[int, int]] = []
        self.watch_warehouse()

    def setup(self) -> None:
        b = self.b
        self.data, rows = b.generate(gen.write_corpus, b.seed, MIX_SIZE)
        # the stream's index is the mix's only write
        b.input_rows = rows["documents"]

    def _query(self, name: str):
        kw = {"n_batches": STREAM_BATCHES} if name == STREAM else {}
        t = time.perf_counter()
        df = self.registry[name].fn(self.b.spark, self.data, **kw)
        built = time.perf_counter()
        out = collect(df)
        self.build_s[name].append(built - t)
        self.exec_s[name].append(time.perf_counter() - built)
        if name == STREAM:
            self.streams += 1
            self.progress.wait_terminated(self.streams)
        return out

    def section(self) -> None:
        first = len(self.progress.progress)
        for _ in range(self.passes):
            for n in self.names:
                self.b.op(n, self._query, n)
        # triggers that read input; an availableNow query may close
        # with an empty one
        self.section_progress = [(rows, d) for _, rows, d in
                                 self.progress.progress[first:] if rows > 0]
        if self.stored:
            self.b.stored_bytes, self.b.stored_files = self.stored[-1]

    def watch_warehouse(self):
        """Wrap ``io.maybe_compact_segments`` so the index warehouse is
        sized after each trigger's last table (the stream deletes its
        warehouse when it returns)."""
        from energi_data_pipeline_spark import io as eio
        import spans
        orig = eio.maybe_compact_segments

        def sized(spark, wh, layer, name, *a, **kw):
            out = orig(spark, wh, layer, name, *a, **kw)
            if name == "lsh_bands":
                self.stored.append(du(wh))
            return out
        return spans.patch_everywhere(PKG, f"{PKG}.io",
                                      "maybe_compact_segments", sized)

    def check(self, ops: list[Op]) -> None:
        """Each result against its DuckDB oracle, run on this seed's
        inputs.  A query without a valid oracle here counts as
        failed: no result passes unchecked."""
        from energi_data_pipeline_spark.queries import oracle_scale_guard
        con = verify.duck_connection(self.data)

        def reference(n: str) -> str | None:
            sql = self.registry[n].oracle
            if sql is None or oracle_scale_guard(n, self.data) is not None:
                return None
            return verify.oracle_digest(con.cursor(), sql)
        # several oracles at once: each leaves cores idle on its own
        with ThreadPoolExecutor(4) as pool:
            want = dict(zip(self.names, pool.map(reference, self.names)))
        con.close()
        for o in ops:
            if o.ok:
                ref = want[o.name]
                o.ok = (ref is not None
                        and verify.spark_digest(*o.out) == planted(self.b, ref))


def make(name: str, b: Bench):
    if name == "medallion_refresh":
        return Medallion(b)
    if name == "catalog_mix":
        return Mix(b)
    raise ValueError(f"unknown workload {name!r}")


WORKLOADS = ["medallion_refresh", "catalog_mix"]
