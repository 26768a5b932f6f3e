"""Relational extensions beyond the reference's surface (SURVEY.md
§2 "not present" list, promoted to first-class verified operators):
range join, ROLLUP grouping, set operations.

The range join is the scale-critical one: Spark executes a plain
interval predicate as a broadcast-nested-loop join (quadratic); the
binned formulation turns it into an equi-join on (key, time-bucket)
with bounded fan-out (3 buckets per anchor for a ±1-bucket radius),
which is the shape that survives 100 TB.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .core import DDOUBLE_SQL, dsum, t
from . import query

# ------------------------------------------------------- range join
#: half-width of the neighborhood AND the bin size (seconds).
RANGE_S = 1800


def epoch_micros(df, colname: str = "ts"):
    """Microseconds since epoch for a timestamp column, independent
    of the session time zone AND of whether the parquet writer
    produced TIMESTAMP (instant) or TIMESTAMP_NTZ (naive) — the
    driver's synthetic data has flipped between the two across
    rounds.  ``unix_micros`` rejects NTZ input outright, so the NTZ
    branch measures the naive wall-clock against a naive epoch
    (exactly DuckDB's ``epoch_us`` over its naive TIMESTAMP)."""
    if dict(df.dtypes).get(colname) == "timestamp_ntz":
        return F.expr(
            f"timestampdiff(MICROSECOND, "
            f"TIMESTAMP_NTZ '1970-01-01 00:00:00', {colname})")
    return F.unix_micros(colname)

RANGE_JOIN_SQL = f"""
WITH a AS (SELECT * FROM events WHERE event_type = 'click')
SELECT a.event_id, a.ts, a.user_id,
       COUNT(b.event_id) AS n_nearby,
       ROUND(AVG(b.value), 6) AS avg_nearby_value
FROM a LEFT JOIN events b
  ON b.user_id = a.user_id AND b.event_id <> a.event_id
 AND b.ts BETWEEN a.ts - INTERVAL {RANGE_S} SECONDS
              AND a.ts + INTERVAL {RANGE_S} SECONDS
GROUP BY a.event_id, a.ts, a.user_id
"""


@query("ext_range_join_binned", RANGE_JOIN_SQL)
def ext_range_join_binned(spark, sf_dir):
    """±30-minute same-user neighborhood count per click event,
    computed as a BINNED range join: both sides key on
    (user_id, floor(ts / 30min)), anchors additionally probe the
    two adjacent bins, the exact interval predicate filters after
    the equi-join.  A raw interval join would be a nested-loop;
    this is an equi-shuffle with fan-out 3 — the oracle runs the
    naive interval join and the results hash-match."""
    ev = t(spark, sf_dir, "events")
    bin_col = F.floor(epoch_micros(ev) / F.lit(RANGE_S * 1_000_000))
    anchors = (
        ev.filter(F.col("event_type") == "click")
        .select(F.col("event_id").alias("a_id"),
                F.col("ts").alias("a_ts"), "user_id",
                F.explode(F.array(
                    bin_col - 1, bin_col, bin_col + 1)).alias("bin"))
    )
    targets = ev.select(
        F.col("event_id").alias("b_id"), F.col("ts").alias("b_ts"),
        F.col("value").alias("b_value"), "user_id",
        bin_col.alias("bin"))
    within = (F.col("b_ts") >= F.col("a_ts")
              - F.expr(f"INTERVAL {RANGE_S} SECONDS")) \
        & (F.col("b_ts") <= F.col("a_ts")
           + F.expr(f"INTERVAL {RANGE_S} SECONDS"))
    nearby = (
        anchors.join(targets, ["user_id", "bin"])
        .filter(within & (F.col("b_id") != F.col("a_id")))
        .groupBy("a_id")
        .agg(F.count("b_id").alias("n_nearby"),
             F.round(F.avg("b_value"), 6).alias("avg_nearby_value"))
    )
    base = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id"), "ts", "user_id")
    return (
        base.join(nearby, base.event_id == nearby.a_id, "left")
        .select("event_id", "ts", "user_id",
                F.coalesce("n_nearby", F.lit(0)).alias("n_nearby"),
                "avg_nearby_value")
    )


# ----------------------------------------------------------- rollup
ROLLUP_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag, l_linestatus) AS INTEGER) AS gid,
       ROUND(CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(38,10))) AS VARCHAR)
                  AS DOUBLE), 6) AS sum_qty,
       COUNT(*) AS n_items
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


@query("ext_rollup_lineitem", ROLLUP_SQL)
def ext_rollup_lineitem(spark, sf_dir):
    """ROLLUP aggregation: (flag, status) -> (flag) -> grand total in
    one pass; grouping_id disambiguates real NULL keys from subtotal
    rows.  Spark expands rollups map-side before the single hash-agg
    shuffle — no extra pass per grouping set."""
    li = t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.grouping_id().cast("int").alias("gid"),
             dsum(F.col("l_quantity"), "sum_qty"),
             F.count(F.lit(1)).alias("n_items"))
        .select("l_returnflag", "l_linestatus", "gid", "sum_qty",
                "n_items")
    )


# ---------------------------------------------------------- set ops
SETOPS_SQL = """
WITH y95 AS (SELECT DISTINCT o_custkey FROM orders
             WHERE EXTRACT(YEAR FROM o_orderdate) = 1995),
     y96 AS (SELECT DISTINCT o_custkey FROM orders
             WHERE EXTRACT(YEAR FROM o_orderdate) = 1996)
SELECT 'both' AS segment, o_custkey
FROM (SELECT o_custkey FROM y95 INTERSECT SELECT o_custkey FROM y96)
UNION ALL
SELECT 'only_1995', o_custkey
FROM (SELECT o_custkey FROM y95 EXCEPT SELECT o_custkey FROM y96)
UNION ALL
SELECT 'only_1996', o_custkey
FROM (SELECT o_custkey FROM y96 EXCEPT SELECT o_custkey FROM y95)
"""


@query("ext_set_ops", SETOPS_SQL)
def ext_set_ops(spark, sf_dir):
    """INTERSECT / EXCEPT / UNION ALL: customer cohorts by order
    year.  Spark plans set ops as semi/anti hash joins over the
    distinct key sets — same shuffle shape as the dedup family."""
    orders = t(spark, sf_dir, "orders")

    def cohort(year):
        return (orders.filter(F.year("o_orderdate") == year)
                .select("o_custkey").distinct())

    y95, y96 = cohort(1995), cohort(1996)
    tag = lambda df, s: df.select(  # noqa: E731
        F.lit(s).alias("segment"), "o_custkey")
    return (
        tag(y95.intersect(y96), "both")
        .unionByName(tag(y95.exceptAll(y96), "only_1995"))
        .unionByName(tag(y96.exceptAll(y95), "only_1996"))
    )


# ------------------------------------------------- JSON extraction
JSON_SQL = """
WITH parsed AS (
  SELECT event_type,
         CAST(json_extract(props, '$.k') AS BIGINT) AS k
  FROM events)
SELECT event_type,
       CAST(SUM(k) AS BIGINT) AS sum_k,
       COUNT(k) AS n_with_k,
       CAST(MAX(k) AS BIGINT) AS max_k
FROM parsed GROUP BY event_type
"""


@query("ext_json_extract", JSON_SQL)
def ext_json_extract(spark, sf_dir):
    """JSON path extraction from the raw ``props`` string column
    (the bronze-fidelity pattern: keep raw JSON, pull typed fields
    on read with ``get_json_object`` — JVM-side, no schema
    inference pass over the corpus)."""
    ev = t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(F.sum("k").alias("sum_k"),
             F.count("k").alias("n_with_k"),
             F.max("k").cast("bigint").alias("max_k"))
    )


# ------------------------------------------------ exact percentiles
PERCENTILE_SQL = """
SELECT event_type,
       ROUND(quantile_cont(value, 0.25), 6) AS p25,
       ROUND(quantile_cont(value, 0.50), 6) AS p50,
       ROUND(quantile_cont(value, 0.90), 6) AS p90
FROM events GROUP BY event_type
"""


@query("ext_percentiles", PERCENTILE_SQL)
def ext_percentiles(spark, sf_dir):
    """Exact interpolated percentiles per group: Spark ``percentile``
    and DuckDB ``quantile_cont`` implement the same linear
    interpolation, rounded to 6 decimals for fp-order jitter.  At
    100 TB swap for ``approx_percentile`` (t-digest sketch, one pass,
    mergeable) — kept exact here because the oracle must match."""
    ev = t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.25)), 6).alias("p25"),
        F.round(F.percentile("value", F.lit(0.50)), 6).alias("p50"),
        F.round(F.percentile("value", F.lit(0.90)), 6).alias("p90"),
    )


# ------------------------------------------------ ranking functions
RANKING_SQL = """
SELECT o_custkey, o_orderkey,
       CAST(ROW_NUMBER() OVER w AS INTEGER) AS rn,
       CAST(RANK() OVER w AS INTEGER) AS rnk,
       CAST(DENSE_RANK() OVER w AS INTEGER) AS drnk,
       LAG(o_totalprice) OVER w AS prev_price,
       LEAD(o_totalprice) OVER w AS next_price
FROM orders
WINDOW w AS (PARTITION BY o_custkey
             ORDER BY o_totalprice DESC, o_orderkey)
QUALIFY rn <= 3
"""


@query("ext_ranking_topk", RANKING_SQL)
def ext_ranking_topk(spark, sf_dir):
    """Ranking window family (row_number/rank/dense_rank/lag/lead)
    as per-customer top-3 orders by price.  Top-k-per-group is the
    canonical rank-then-filter: one shuffle on the partition key,
    no global sort, no LIMIT bottleneck on the driver."""
    orders = t(spark, sf_dir, "orders")
    from pyspark.sql import Window
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), "o_orderkey")
    return (
        orders.select(
            "o_custkey", "o_orderkey",
            F.row_number().over(w).cast("int").alias("rn"),
            F.rank().over(w).cast("int").alias("rnk"),
            F.dense_rank().over(w).cast("int").alias("drnk"),
            F.lag("o_totalprice").over(w).alias("prev_price"),
            F.lead("o_totalprice").over(w).alias("next_price"))
        .filter(F.col("rn") <= 3)
    )


# ------------------------------------------------------------ pivot
PIVOT_SQL = """
SELECT user_id,
       COUNT(*) FILTER (event_type = 'click') AS click,
       COUNT(*) FILTER (event_type = 'error') AS error,
       COUNT(*) FILTER (event_type = 'purchase') AS purchase,
       COUNT(*) FILTER (event_type = 'signup') AS signup,
       COUNT(*) FILTER (event_type = 'view') AS view
FROM events GROUP BY user_id
"""

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@query("ext_pivot_event_counts", PIVOT_SQL)
def ext_pivot_event_counts(spark, sf_dir):
    """Pivot: per-user event counts, one column per event type.  The
    type list is passed explicitly so Spark skips the extra
    distinct-values job — at 100 TB an unpinned pivot means a full
    scan just to learn the columns."""
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .pivot("event_type", EVENT_TYPES)
        .agg(F.count(F.lit(1)))
        .na.fill(0, EVENT_TYPES)
    )


# ------------------------------------------------- count distinct
COUNT_DISTINCT_SQL = """
SELECT event_type,
       COUNT(DISTINCT user_id) AS n_users,
       COUNT(*) AS n_events
FROM events GROUP BY event_type
"""


@query("ext_count_distinct", COUNT_DISTINCT_SQL)
def ext_count_distinct(spark, sf_dir):
    """Exact COUNT(DISTINCT) per group — planned as a two-phase
    expand/partial-agg, no driver-side collection.  At 100 TB
    cardinalities swap in ``approx_count_distinct`` (HyperLogLog,
    one pass, mergeable); kept exact here for the oracle."""
    ev = t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.count(F.lit(1)).alias("n_events"))


# ------------------------------------------------- array functions
ARRAY_STATS_SQL = """
SELECT vec_id,
       CAST(len(embedding) AS INTEGER) AS dim,
       ROUND(CAST(list_min(embedding) AS DOUBLE), 6) AS min_c,
       ROUND(CAST(list_max(embedding) AS DOUBLE), 6) AS max_c,
       ROUND((SELECT SUM(CAST(e AS DOUBLE))
              FROM (SELECT UNNEST(embedding) AS e)) / len(embedding), 6)
         AS mean_c
FROM embeddings
"""


@query("ext_array_stats", ARRAY_STATS_SQL)
def ext_array_stats(spark, sf_dir):
    """Array scalar-function family over the embedding column:
    size / array_min / array_max / mean via an aggregate fold — all
    JVM higher-order functions, map-only."""
    emb = t(spark, sf_dir, "embeddings")
    e = F.col("embedding")
    mean = F.aggregate(
        e, F.lit(0.0), lambda acc, x: acc + x.cast("double")) / F.size(e)
    return emb.select(
        "vec_id",
        F.size(e).cast("int").alias("dim"),
        F.round(F.array_min(e).cast("double"), 6).alias("min_c"),
        F.round(F.array_max(e).cast("double"), 6).alias("max_c"),
        F.round(mean, 6).alias("mean_c"))


# --------------------------------------------- correlation aggregates
CORR_SQL = """
SELECT l_returnflag,
       ROUND(corr(l_quantity, l_extendedprice), 6) AS qty_price_corr,
       ROUND(covar_samp(l_quantity, l_extendedprice), 6)
         AS qty_price_covar,
       ROUND(stddev_samp(l_quantity), 6) AS qty_stddev
FROM lineitem GROUP BY l_returnflag
"""


@query("ext_corr_stats", CORR_SQL)
def ext_corr_stats(spark, sf_dir):
    """Statistical aggregate family (Pearson corr, sample covariance
    and stddev) per group — single-pass partial+final moments, the
    same merge shape as SUM/AVG."""
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6)
        .alias("qty_price_corr"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 6)
        .alias("qty_price_covar"),
        F.round(F.stddev_samp("l_quantity"), 6).alias("qty_stddev"))


# ------------------------------------------------------ salted join
#: salt fan-out for the skew-mitigation pattern.
N_SALTS = 8

SALTED_SQL = """
SELECT c.c_mktsegment AS segment, e.event_type,
       COUNT(*) AS n_events,
       ROUND(SUM(e.value), 6) AS sum_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY c.c_mktsegment, e.event_type
"""


@query("ext_salted_join", SALTED_SQL)
def ext_salted_join(spark, sf_dir):
    """Skew-mitigated equi-join: the (potentially skewed) left side
    salts its key with a DETERMINISTIC per-row salt (hash of the row
    id mod {N_SALTS}), the right side replicates each row across all
    {N_SALTS} salts, and the join runs on (key, salt) — a hot key's
    rows now spread over {N_SALTS} reducers instead of one.  The
    result is identical to the plain join (oracle = plain join SQL);
    AQE's skew-join split is the adaptive variant, this is the
    explicit one for engines/paths where AQE can't help (e.g.
    streaming state partitioning)."""
    ev = t(spark, sf_dir, "events")
    cust = t(spark, sf_dir, "customer")
    salted_left = ev.withColumn(
        "salt", F.pmod(F.hash("event_id"), F.lit(N_SALTS)))
    salted_right = (
        cust.select(F.col("c_custkey").alias("user_id"), "c_mktsegment")
        .withColumn("salt", F.explode(
            F.array(*[F.lit(s) for s in range(N_SALTS)])))
    )
    return (
        salted_left.join(salted_right, ["user_id", "salt"])
        .groupBy(F.col("c_mktsegment").alias("segment"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.round(F.sum("value"), 6).alias("sum_value"))
    )


# ------------------------------------------------------------- cube
CUBE_SQL = """
SELECT o_orderstatus, o_orderpriority,
       CAST(GROUPING(o_orderstatus, o_orderpriority) AS INTEGER) AS gid,
       COUNT(*) AS n_orders,
       ROUND(CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,10))) AS VARCHAR)
                  AS DOUBLE), 6) AS sum_price
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


@query("ext_cube_grouping", CUBE_SQL)
def ext_cube_grouping(spark, sf_dir):
    """CUBE aggregation: all four grouping sets of (status, priority)
    in one pass.  Like ROLLUP, Spark expands the sets map-side into a
    single hash-agg shuffle — the expansion multiplies rows by the
    number of sets, so at 100 TB prefer partial-agg-friendly low-
    cardinality cube keys (these are 3x5)."""
    orders = t(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(F.grouping_id().cast("int").alias("gid"),
             F.count(F.lit(1)).alias("n_orders"),
             dsum(F.col("o_totalprice"), "sum_price"))
        .select("o_orderstatus", "o_orderpriority", "gid",
                "n_orders", "sum_price")
    )


# ------------------------------------------------- EXISTS semi/anti
EXISTS_SQL = """
SELECT c.c_custkey, c.c_mktsegment,
       CASE WHEN EXISTS (SELECT 1 FROM orders o
                         WHERE o.o_custkey = c.c_custkey
                           AND EXTRACT(YEAR FROM o.o_orderdate) = 1995)
            THEN 'active_1995' ELSE 'inactive_1995' END AS cohort
FROM customer c
"""


@query("ext_exists_semi_anti", EXISTS_SQL)
def ext_exists_semi_anti(spark, sf_dir):
    """EXISTS / NOT EXISTS as left-semi and left-anti hash joins:
    tag each customer by 1995 order activity.  Both branches share
    one distinct-key build side; semi/anti joins never duplicate the
    probe row, so the output cardinality is exactly |customer| — the
    safe way to express 'has a match' at scale (a plain join +
    dropDuplicates would shuffle the fan-out first)."""
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    keys95 = (orders.filter(F.year("o_orderdate") == 1995)
              .select(F.col("o_custkey").alias("c_custkey")).distinct())
    tag = lambda df, s: df.select(  # noqa: E731
        "c_custkey", "c_mktsegment", F.lit(s).alias("cohort"))
    return tag(cust.join(keys95, "c_custkey", "left_semi"),
               "active_1995").unionByName(
        tag(cust.join(keys95, "c_custkey", "left_anti"),
            "inactive_1995"))


# -------------------------------------------- correlated scalar subquery
SCALAR_SUBQ_SQL = """
SELECT p_partkey, p_type, p_retailprice,
       ROUND(p_retailprice - (SELECT AVG(p2.p_retailprice)
                              FROM part p2
                              WHERE p2.p_type = p.p_type), 6)
         AS price_vs_type_avg
FROM part p
WHERE p_retailprice > (SELECT AVG(p2.p_retailprice) FROM part p2
                       WHERE p2.p_type = p.p_type)
"""


@query("ext_scalar_subquery", SCALAR_SUBQ_SQL)
def ext_scalar_subquery(spark, sf_dir):
    """Correlated scalar subquery (parts above their type's average
    price), decorrelated the way Catalyst would: compute the per-type
    average once (6 groups), broadcast it back onto the scan.  The
    correlated form re-aggregates per outer row in a naive engine;
    the decorrelated form is one partial-agg + one broadcast join at
    any scale."""
    part = t(spark, sf_dir, "part")
    type_avg = part.groupBy("p_type").agg(
        F.avg("p_retailprice").alias("type_avg"))
    return (
        part.join(F.broadcast(type_avg), "p_type")
        .filter(F.col("p_retailprice") > F.col("type_avg"))
        .select("p_partkey", "p_type", "p_retailprice",
                F.round(F.col("p_retailprice") - F.col("type_avg"), 6)
                .alias("price_vs_type_avg"))
    )


# --------------------------------------------- running (cumulative) window
RUNNING_SQL = """
SELECT user_id, ts, event_id, value,
       ROUND(SUM(value) OVER w, 6) AS running_sum,
       CAST(COUNT(*) OVER w AS BIGINT) AS running_n,
       ROUND(MAX(value) OVER w, 6) AS running_max,
       FIRST_VALUE(event_id) OVER w AS first_event_id
FROM events
WHERE event_type = 'purchase'
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


@query("ext_window_running", RUNNING_SQL)
def ext_window_running(spark, sf_dir):
    """Cumulative (unbounded-preceding) window family: per-user
    running sum / count / max / first_value over the purchase
    stream.  One shuffle on the partition key; the frame grows but
    Spark maintains it incrementally per partition — the classic
    'account balance' shape.  Keys are users, so scale-out is by
    user cardinality, never a global sort."""
    ev = t(spark, sf_dir, "events")
    from pyspark.sql import Window
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", "ts", "event_id", "value",
                F.round(F.sum("value").over(w), 6).alias("running_sum"),
                F.count(F.lit(1)).over(w).cast("bigint")
                .alias("running_n"),
                F.round(F.max("value").over(w), 6).alias("running_max"),
                F.first("event_id").over(w).alias("first_event_id"))
    )


# ------------------------------------- time-range (interval) window
RANGE_WIN_S = 3600  # trailing 1 hour

RANGE_WIN_SQL = f"""
SELECT user_id, ts, event_id, value,
       ROUND(AVG(value) OVER w, 6) AS avg_1h,
       CAST(COUNT(*) OVER w AS BIGINT) AS n_1h,
       ROUND(SUM(value) OVER w, 6) AS sum_1h
FROM events
WHERE event_type = 'view'
WINDOW w AS (PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL {RANGE_WIN_S} SECONDS PRECEDING
                       AND CURRENT ROW)
"""


@query("ext_window_range_interval", RANGE_WIN_SQL)
def ext_window_range_interval(spark, sf_dir):
    """TIME-RANGE window frame (RANGE BETWEEN INTERVAL .. PRECEDING):
    trailing-1-hour stats per user — the frame is defined by event
    TIME, not row count, so sparse and dense periods get the same
    wall-clock lookback (the row-count frames elsewhere cannot
    express this).  Spark's rangeBetween needs a numeric ordering
    key, so ts is ordered as epoch seconds with the offset in
    seconds — semantically identical to the INTERVAL frame (peers =
    equal timestamps in both).  Partitioned by user_id: one shuffle,
    scale-out by user cardinality."""
    ev = t(spark, sf_dir, "events")
    from pyspark.sql import Window
    # unix_timestamp accepts TIMESTAMP and TIMESTAMP_NTZ alike
    # (cast-to-long rejects NTZ), with the same second truncation
    w = (Window.partitionBy("user_id")
         .orderBy(F.unix_timestamp("ts"))
         .rangeBetween(-RANGE_WIN_S, 0))
    return (
        ev.filter(F.col("event_type") == "view")
        .select("user_id", "ts", "event_id", "value",
                F.round(F.avg("value").over(w), 6).alias("avg_1h"),
                F.count(F.lit(1)).over(w).cast("bigint").alias("n_1h"),
                F.round(F.sum("value").over(w), 6).alias("sum_1h"))
    )


# -------------------------------------- time-spine resample + fill
SPINE_START = "2024-01-01 00:00:00"
SPINE_END = "2024-01-30 23:00:00"

RESAMPLE_SQL = f"""
WITH spine AS (
  SELECT t.event_type, s.h
  FROM (SELECT DISTINCT event_type FROM events) t,
       (SELECT unnest(generate_series(TIMESTAMP '{SPINE_START}',
                                      TIMESTAMP '{SPINE_END}',
                                      INTERVAL 1 HOUR)) AS h) s),
hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS h,
         ROUND(AVG(value), 6) AS avg_value
  FROM events WHERE value IS NOT NULL
  GROUP BY event_type, date_trunc('hour', ts))
SELECT spine.event_type, spine.h AS hour,
       hourly.avg_value IS NOT NULL AS observed,
       last_value(hourly.avg_value IGNORE NULLS)
         OVER (PARTITION BY spine.event_type ORDER BY spine.h
               ROWS UNBOUNDED PRECEDING) AS avg_value_filled
FROM spine LEFT JOIN hourly
  ON hourly.event_type = spine.event_type AND hourly.h = spine.h
"""


@query("ext_time_resample", RESAMPLE_SQL)
def ext_time_resample(spark, sf_dir):
    """Gap-filling resample: a dense hourly spine per event_type,
    left-joined to hourly averages, missing hours FORWARD-FILLED with
    the last observed value (``last(ignorenulls)``) — the standard
    time-series regularization step sparse telemetry needs before
    windowed models.  Scale shape: the spine and the post-aggregation
    series are DIMENSION-sized (types x hours), not corpus-sized —
    the only corpus-scale work is the hourly partial aggregate, which
    map-side combines before one shuffle; the fill window runs over
    the tiny aggregated series."""
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events")
    spine = (
        ev.select("event_type").distinct()
        .crossJoin(
            spark.range(1).select(
                F.explode(F.sequence(
                    F.lit(SPINE_START).cast("timestamp"),
                    F.lit(SPINE_END).cast("timestamp"),
                    F.expr("INTERVAL 1 HOUR"))).alias("h"))))
    hourly = (
        ev.filter(F.col("value").isNotNull())
        .groupBy("event_type", F.date_trunc("hour", "ts").alias("h"))
        .agg(F.round(F.avg("value"), 6).alias("avg_value")))
    w = (Window.partitionBy("event_type").orderBy("h")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (
        spine.join(hourly, ["event_type", "h"], "left")
        .select("event_type", F.col("h").alias("hour"),
                F.col("avg_value").isNotNull().alias("observed"),
                F.last("avg_value", ignorenulls=True).over(w)
                .alias("avg_value_filled"))
    )


# ------------------------------------------------- funnel analysis
FUNNEL_SQL = """
WITH v AS (
  SELECT user_id, MIN(ts) AS t_view
  FROM events WHERE event_type = 'view' GROUP BY user_id),
c AS (
  SELECT e.user_id, MIN(e.ts) AS t_click
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'click' AND e.ts > v.t_view
  GROUP BY e.user_id),
p AS (
  SELECT e.user_id, MIN(e.ts) AS t_purchase
  FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND e.ts > c.t_click
  GROUP BY e.user_id)
SELECT v.user_id, v.t_view, c.t_click, p.t_purchase,
       CAST(CASE WHEN p.t_purchase IS NOT NULL THEN 3
                 WHEN c.t_click IS NOT NULL THEN 2
                 ELSE 1 END AS INTEGER) AS stage_reached
FROM v LEFT JOIN c ON v.user_id = c.user_id
       LEFT JOIN p ON v.user_id = p.user_id
"""


@query("ext_funnel", FUNNEL_SQL)
def ext_funnel(spark, sf_dir):
    """Ordered funnel (view -> later click -> later purchase) as
    cascaded conditional min-aggregates: each stage keeps the
    earliest qualifying event strictly after the previous stage's
    timestamp.  Every stage aggregates and joins on user_id — ONE
    shuffle grain reused throughout (AQE coalesces the per-user
    stage tables, which are user-cardinality, far below event
    cardinality).  No window over the full event stream, no
    sessionize: the 100 TB plan is three filtered partial aggs."""
    ev = t(spark, sf_dir, "events")
    v = (ev.filter(F.col("event_type") == "view")
         .groupBy("user_id").agg(F.min("ts").alias("t_view")))
    c = (ev.filter(F.col("event_type") == "click")
         .join(v, "user_id")
         .filter(F.col("ts") > F.col("t_view"))
         .groupBy("user_id").agg(F.min("ts").alias("t_click")))
    p = (ev.filter(F.col("event_type") == "purchase")
         .join(c, "user_id")
         .filter(F.col("ts") > F.col("t_click"))
         .groupBy("user_id").agg(F.min("ts").alias("t_purchase")))
    stage = (F.when(F.col("t_purchase").isNotNull(), 3)
             .when(F.col("t_click").isNotNull(), 2)
             .otherwise(1)).cast("int")
    return (v.join(c, "user_id", "left").join(p, "user_id", "left")
            .select("user_id", "t_view", "t_click", "t_purchase",
                    stage.alias("stage_reached")))


# ---------------------------------------------- cohort retention
COHORT_SQL = """
WITH first_seen AS (
  SELECT user_id,
         CAST(date_trunc('week', MIN(ts)) AS TIMESTAMP) AS cohort_week
  FROM events GROUP BY user_id),
activity AS (
  SELECT DISTINCT e.user_id,
         CAST(date_trunc('week', e.ts) AS TIMESTAMP) AS week
  FROM events e)
SELECT f.cohort_week,
       CAST((EPOCH(a.week) - EPOCH(f.cohort_week)) / 604800 AS INTEGER)
         AS week_offset,
       COUNT(DISTINCT a.user_id) AS n_users
FROM first_seen f JOIN activity a ON a.user_id = f.user_id
GROUP BY f.cohort_week, week_offset
"""


@query("ext_cohort_retention", COHORT_SQL)
def ext_cohort_retention(spark, sf_dir):
    """Cohort retention: users grouped by first-seen week, counted in
    each later active week (offset in whole weeks).  first-seen and
    weekly-activity are both user-grain partial aggregates on the
    user_id shuffle key; the final count-distinct runs over
    (cohorts x weeks) — dimension-sized output however large the
    event stream."""
    ev = t(spark, sf_dir, "events")
    first_seen = (ev.groupBy("user_id")
                  .agg(F.date_trunc("week", F.min("ts"))
                       .alias("cohort_week")))
    activity = (ev.select(
        "user_id", F.date_trunc("week", "ts").alias("week")).distinct())
    offset = ((F.unix_timestamp("week")
               - F.unix_timestamp("cohort_week")) / 604800).cast("int")
    return (first_seen.join(activity, "user_id")
            .groupBy("cohort_week", offset.alias("week_offset"))
            .agg(F.count_distinct("user_id").alias("n_users")))


# --------------------------------------- arg-extremes (max_by/min_by)
ARG_EXTREMES_SQL = """
SELECT event_type,
       (MAX({'v': value, 'i': event_id})).v AS max_value,
       (MAX({'v': value, 'i': event_id})).i AS max_value_event,
       (MIN({'v': value, 'i': event_id})).v AS min_value,
       (MIN({'v': value, 'i': event_id})).i AS min_value_event
FROM events WHERE value IS NOT NULL
GROUP BY event_type
"""


@query("ext_arg_extremes", ARG_EXTREMES_SQL)
def ext_arg_extremes(spark, sf_dir):
    """arg-max/arg-min per group ("which event had the extreme
    value"): MAX over a (value, id) struct — lexicographic struct
    ordering gives a DETERMINISTIC id tie-break, where bare
    max_by/arg_max pick an arbitrary winner on ties (and the two
    engines would disagree).  Pure partial aggregate: map-side
    combine, one 5-group shuffle, at any scale."""
    ev = t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    mx = F.max(F.struct(F.col("value").alias("v"),
                        F.col("event_id").alias("i")))
    mn = F.min(F.struct(F.col("value").alias("v"),
                        F.col("event_id").alias("i")))
    return (ev.groupBy("event_type")
            .agg(mx.getField("v").alias("max_value"),
                 mx.getField("i").alias("max_value_event"),
                 mn.getField("v").alias("min_value"),
                 mn.getField("i").alias("min_value_event")))


# ------------------------------------------- FILTER-clause aggregates
FILTERED_AGG_SQL = f"""
SELECT event_type,
       COUNT(*) FILTER (WHERE value > 100) AS n_large,
       ROUND({DDOUBLE_SQL.format(
           expr="SUM(CAST(value AS DECIMAL(38,10))) "
                "FILTER (WHERE value > 100)")}, 6) AS sum_large,
       COUNT(*) FILTER (WHERE value IS NULL) AS n_null,
       ROUND(CAST(COUNT(*) FILTER (WHERE value > 100) AS DOUBLE)
             / COUNT(*), 6) AS large_frac
FROM events
GROUP BY event_type
"""


@query("ext_filtered_agg", FILTERED_AGG_SQL)
def ext_filtered_agg(spark, sf_dir):
    """Conditional (FILTER-clause) aggregation: per-group counts and
    sums over different predicates in ONE pass — the idiom that
    replaces N self-joins with N conditional aggregates.  Spark
    expresses the FILTER clause as count_if / sum(CASE WHEN); one
    scan, one shuffle of 5 partially-aggregated groups."""
    ev = t(spark, sf_dir, "events")
    big = F.col("value") > 100
    return (ev.groupBy("event_type").agg(
        F.count_if(big).alias("n_large"),
        F.round(F.sum(F.when(big, F.col("value"))
                      .cast("decimal(38,10)")).cast("double"), 6)
        .alias("sum_large"),
        F.count_if(F.col("value").isNull()).alias("n_null"),
        F.round(F.count_if(big).cast("double") / F.count(F.lit(1)), 6)
        .alias("large_frac")))


# ------------------------------------------------ data-quality audit
DQ_SQL = """
WITH orphans AS (
  SELECT COUNT(*) AS n_orphan
  FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE o.o_orderkey IS NULL),
ev AS (
  SELECT COUNT(*) AS n_events,
         COUNT(*) FILTER (WHERE value IS NULL) AS n_null_value,
         COUNT(*) FILTER (WHERE value < 0) AS n_negative,
         COUNT(*) FILTER (WHERE ts < TIMESTAMP '2024-01-01 00:00:00'
                          OR ts >= TIMESTAMP '2024-02-01 00:00:00')
           AS n_out_of_range,
         COUNT(DISTINCT event_id) AS n_distinct_ids
  FROM events)
SELECT ev.n_events, ev.n_null_value, ev.n_negative, ev.n_out_of_range,
       ev.n_events - ev.n_distinct_ids AS n_dup_ids,
       orphans.n_orphan AS n_orphan_lineitems
FROM ev, orphans
"""


@query("ext_dq_checks", DQ_SQL)
def ext_dq_checks(spark, sf_dir):
    """Data-quality audit in two scans: null/range/negative counts
    and primary-key duplicate count on events (one pass of
    conditional aggregates), plus referential-integrity orphan count
    via a lineitem->orders anti join.  This is the validation gate a
    production pipeline runs before publishing a snapshot; everything
    is partial-aggregatable, and the anti join shuffles on the join
    key like any fact join (AQE broadcasts orders' key column when
    small)."""
    ev = t(spark, sf_dir, "events")
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders")
    n_orphan = (li.join(orders.select("o_orderkey"),
                        li.l_orderkey == F.col("o_orderkey"), "left_anti")
                .agg(F.count(F.lit(1)).alias("n_orphan")))
    lo = F.lit("2024-01-01 00:00:00").cast("timestamp")
    hi = F.lit("2024-02-01 00:00:00").cast("timestamp")
    ev_stats = ev.agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count_if(F.col("value").isNull()).alias("n_null_value"),
        F.count_if(F.col("value") < 0).alias("n_negative"),
        F.count_if((F.col("ts") < lo) | (F.col("ts") >= hi))
        .alias("n_out_of_range"),
        F.count_distinct("event_id").alias("n_distinct_ids"))
    return (ev_stats.crossJoin(n_orphan)
            .select("n_events", "n_null_value", "n_negative",
                    "n_out_of_range",
                    (F.col("n_events") - F.col("n_distinct_ids"))
                    .alias("n_dup_ids"),
                    F.col("n_orphan").alias("n_orphan_lineitems")))


# -------------------------------------------- latest record per key
LATEST_SQL = """
WITH ranked AS (
  SELECT user_id, event_type, ts, event_id, value,
         ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events)
SELECT user_id, event_type, ts AS last_ts, event_id AS last_event_id,
       value AS last_value
FROM ranked WHERE rn = 1
"""


@query("ext_latest_per_key", LATEST_SQL)
def ext_latest_per_key(spark, sf_dir):
    """Latest-record-per-key (the SCD/upsert compaction primitive:
    collapse a change log to current state).  row_number over
    (key ORDER BY ts DESC, id DESC) with a deterministic id
    tie-break; one shuffle on the key.  At 100 TB prefer sort-based
    aggregation over the same key the table is bucketed by — the
    plan then needs no exchange at all (tests/test_storage_layout.py
    proves the bucketed-join case)."""
    from pyspark.sql import Window
    ev = t(spark, sf_dir, "events")
    w = (Window.partitionBy("user_id", "event_type")
         .orderBy(F.col("ts").desc(), F.col("event_id").desc()))
    return (ev.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("user_id", "event_type",
                    F.col("ts").alias("last_ts"),
                    F.col("event_id").alias("last_event_id"),
                    F.col("value").alias("last_value")))


# ------------------------------------- event-sequence pattern match
SEQ_PATTERN = "vc*p"  # view, any clicks, purchase — adjacent in time

SEQ_MATCH_SQL = f"""
SELECT user_id,
       string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id)
         AS seq,
       CAST(length(string_agg(substr(event_type, 1, 1), ''
                              ORDER BY ts, event_id)) AS INTEGER)
         AS n_events,
       CAST(len(regexp_extract_all(
              string_agg(substr(event_type, 1, 1), ''
                         ORDER BY ts, event_id),
              '{SEQ_PATTERN}')) AS INTEGER) AS n_conversions
FROM events
GROUP BY user_id
"""


@query("ext_sequence_match", SEQ_MATCH_SQL)
def ext_sequence_match(spark, sf_dir):
    """Event-sequence pattern matching (MATCH_RECOGNIZE-lite): each
    user's history collapses to an ordered type-initial string, and a
    regex counts view->clicks->purchase runs.  The collect is per
    USER (bounded by one user's history, thousands of times smaller
    than the stream) and the sort is inside the array — one shuffle
    on user_id, no window over the global stream.  Determinism: the
    struct sort orders by (ts, event_id), a unique key."""
    ev = t(spark, sf_dir, "events")
    per_user = (
        ev.select("user_id",
                  F.struct(F.col("ts"), F.col("event_id"),
                           F.substring("event_type", 1, 1).alias("c"))
                  .alias("s"))
        .groupBy("user_id")
        .agg(F.sort_array(F.collect_list("s")).alias("ss")))
    seq = F.concat_ws(
        "", F.transform(F.col("ss"), lambda s: s.getField("c")))
    return per_user.select(
        "user_id", seq.alias("seq"),
        F.length(seq).cast("int").alias("n_events"),
        F.size(F.regexp_extract_all(seq, F.lit(SEQ_PATTERN), 0))
        .cast("int").alias("n_conversions"))


# ------------------------------------------ SCD2 dimension build
SCD2_SQL = """
SELECT user_id, event_type,
       ts AS valid_from,
       lead(ts) OVER w AS valid_to,
       lead(ts) OVER w IS NULL AS is_current,
       value
FROM events
WHERE event_type = 'signup'
WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
"""


@query("ext_scd2_intervals", SCD2_SQL)
def ext_scd2_intervals(spark, sf_dir):
    """Slowly-changing-dimension type 2: a change log becomes
    validity intervals — each record is valid from its own timestamp
    until the key's next change (open-ended + flagged for the current
    row).  One lead() window per key, one shuffle on the key; the
    standard dimension-history build every warehouse needs, and the
    interval table is what ext_asof_join then probes."""
    from pyspark.sql import Window
    ev = t(spark, sf_dir, "events")
    w = (Window.partitionBy("user_id", "event_type")
         .orderBy("ts", "event_id"))
    nxt = F.lead("ts").over(w)
    return (ev.filter(F.col("event_type") == "signup")
            .select("user_id", "event_type",
                    F.col("ts").alias("valid_from"),
                    nxt.alias("valid_to"),
                    nxt.isNull().alias("is_current"),
                    "value"))


# ------------------------------------------------ value histogram
HIST_BIN_W = 50.0
HIST_BINS = 10

HISTOGRAM_SQL = f"""
SELECT event_type,
       CAST(LEAST(FLOOR(value / {HIST_BIN_W}), {HIST_BINS - 1})
            AS INTEGER) AS bin,
       COUNT(*) AS n,
       ROUND(AVG(value), 6) AS avg_in_bin
FROM events
WHERE value IS NOT NULL AND value >= 0
GROUP BY event_type, bin
"""


@query("ext_histogram", HISTOGRAM_SQL)
def ext_histogram(spark, sf_dir):
    """Equal-width histogram per group ({HIST_BINS} bins of width
    {HIST_BIN_W}, top bin open): binning is a pure projection, so the
    whole query is one partial-aggregated shuffle of (type, bin)
    groups — the profiling primitive that runs before choosing
    filters/clips on a new 100 TB column."""
    ev = t(spark, sf_dir, "events")
    bin_col = F.least(F.floor(F.col("value") / HIST_BIN_W),
                      F.lit(HIST_BINS - 1)).cast("int")
    return (ev.filter(F.col("value").isNotNull() & (F.col("value") >= 0))
            .groupBy("event_type", bin_col.alias("bin"))
            .agg(F.count(F.lit(1)).alias("n"),
                 F.round(F.avg("value"), 6).alias("avg_in_bin")))


# --------------------------------------------- unpivot (wide->long)
UNPIVOT_SQL = """
SELECT l_orderkey, l_linenumber, measure, value FROM (
  SELECT l_orderkey, l_linenumber, 'quantity' AS measure,
         l_quantity AS value FROM lineitem
  UNION ALL
  SELECT l_orderkey, l_linenumber, 'extendedprice', l_extendedprice
  FROM lineitem
  UNION ALL
  SELECT l_orderkey, l_linenumber, 'discount', l_discount FROM lineitem
  UNION ALL
  SELECT l_orderkey, l_linenumber, 'tax', l_tax FROM lineitem)
"""


@query("ext_unpivot_long", UNPIVOT_SQL)
def ext_unpivot_long(spark, sf_dir):
    """Unpivot / melt (the inverse of ext_pivot_event_counts): four
    measure columns become (measure, value) rows via the native
    ``unpivot`` operator — Spark expands rows INSIDE the scan
    projection (an Expand node), one pass, no self-union of four
    scans like the naive SQL formulation."""
    li = t(spark, sf_dir, "lineitem")
    return (li.select("l_orderkey", "l_linenumber",
                      F.col("l_quantity").alias("quantity"),
                      F.col("l_extendedprice").alias("extendedprice"),
                      F.col("l_discount").alias("discount"),
                      F.col("l_tax").alias("tax"))
            .unpivot(["l_orderkey", "l_linenumber"],
                     ["quantity", "extendedprice", "discount", "tax"],
                     "measure", "value"))


# ------------------------------------- interval-overlap sweep line
OVERLAP_WIN_MIN = 60

OVERLAP_SQL = f"""
WITH deltas AS (
  SELECT event_type, ts AS t, 1 AS delta FROM events
  UNION ALL
  SELECT event_type, ts + INTERVAL {OVERLAP_WIN_MIN} MINUTES, -1
  FROM events),
running AS (
  SELECT event_type, t, delta,
         SUM(delta) OVER (PARTITION BY event_type ORDER BY t, delta
                          ROWS UNBOUNDED PRECEDING) AS concurrent
  FROM deltas)
SELECT event_type,
       CAST(MAX(concurrent) AS BIGINT) AS max_concurrent
FROM running GROUP BY event_type
"""


@query("ext_interval_overlap", OVERLAP_SQL)
def ext_interval_overlap(spark, sf_dir):
    """Max concurrent intervals (sweep line): each event opens a
    {OVERLAP_WIN_MIN}-minute interval; +1/-1 deltas sorted by time
    with a running sum give instantaneous concurrency, maxed per
    type.  Half-open semantics are pinned by ordering closes (-1)
    before opens (+1) at equal timestamps on both engines.  The
    classic capacity/concurrency primitive, O(n log n) via one
    window instead of the quadratic self-join."""
    from pyspark.sql import Window
    ev = t(spark, sf_dir, "events")
    opens = ev.select("event_type", F.col("ts").alias("t"),
                      F.lit(1).alias("delta"))
    closes = ev.select(
        "event_type",
        (F.col("ts") + F.expr(f"INTERVAL {OVERLAP_WIN_MIN} MINUTES"))
        .alias("t"),
        F.lit(-1).alias("delta"))
    w = (Window.partitionBy("event_type").orderBy("t", "delta")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (opens.unionByName(closes)
            .withColumn("concurrent", F.sum("delta").over(w))
            .groupBy("event_type")
            .agg(F.max("concurrent").cast("bigint")
                 .alias("max_concurrent")))


# --------------------------------------- robust outliers (median/MAD)
#: modified z-score threshold (Iglewicz & Hoaglin, public literature).
MAD_Z_T = 3.5

OUTLIER_MAD_SQL = f"""
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med
  FROM events WHERE value IS NOT NULL GROUP BY event_type),
dev AS (
  SELECT e.event_id, e.event_type, e.value, m.med
  FROM events e JOIN med m USING (event_type)
  WHERE e.value IS NOT NULL),
mad AS (
  SELECT event_type, quantile_cont(abs(value - med), 0.5) AS mad
  FROM dev GROUP BY event_type)
SELECT d.event_id, d.event_type, d.value,
       ROUND(d.med, 6) AS median_value,
       ROUND(m.mad, 6) AS mad,
       CASE WHEN m.mad = 0 THEN NULL
            ELSE ROUND(0.6745 * (d.value - d.med) / m.mad, 6)
       END AS robust_z,
       CASE WHEN m.mad = 0 THEN NULL
            ELSE abs(ROUND(0.6745 * (d.value - d.med) / m.mad, 6))
                 > {MAD_Z_T}
       END AS is_outlier
FROM dev d JOIN mad m USING (event_type)
"""


@query("ext_outlier_mad", OUTLIER_MAD_SQL)
def ext_outlier_mad(spark, sf_dir):
    """Robust per-group outlier detection: modified z-score from the
    MEDIAN and the median-absolute-deviation (Iglewicz & Hoaglin's
    0.6745 / 3.5 rule, public literature) — the mean/stddev z-score
    breaks down exactly when outliers are present, the MAD one does
    not.  The outlier flag compares the 6-rounded score on both
    engines so the decision boundary cannot drift with fp jitter;
    a zero MAD (constant group) yields NULL, not a division blowup.

    Scale shape: two grouped exact percentiles on the event_type
    key (the 100 TB swap is ``approx_percentile``'s mergeable
    t-digest — kept exact here because the oracle must hash-match)
    and two joins back on the same key; the per-type medians table
    is dimension-sized, so AQE broadcasts it unhinted."""
    ev = t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    med = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("med"))
    dev = ev.select("event_id", "event_type", "value") \
        .join(med, "event_type")
    mad = dev.groupBy("event_type").agg(
        F.percentile(F.abs(F.col("value") - F.col("med")), F.lit(0.5))
        .alias("mad"))
    z = F.round(0.6745 * (F.col("value") - F.col("med")) / F.col("mad"), 6)
    guard = F.col("mad") == 0
    return (
        dev.join(mad, "event_type")
        .select("event_id", "event_type", "value",
                F.round("med", 6).alias("median_value"),
                F.round("mad", 6).alias("mad"),
                F.when(guard, F.lit(None)).otherwise(z).alias("robust_z"),
                F.when(guard, F.lit(None).cast("boolean"))
                .otherwise(F.abs(z) > MAD_Z_T).alias("is_outlier"))
    )


# ------------------------------------------- key-skew diagnostics
SKEW_TOP = 10

SKEW_SQL = f"""
WITH kc AS (
  SELECT user_id, COUNT(*) AS cnt FROM events GROUP BY user_id),
total AS (
  SELECT COUNT(*) AS n_keys,
         ROUND(CAST(SUM(cnt) AS DOUBLE) / COUNT(*), 6) AS avg_cnt
  FROM kc),
topk AS (
  SELECT user_id, cnt,
         ROW_NUMBER() OVER (ORDER BY cnt DESC, user_id) AS rk
  FROM kc)
SELECT CAST(t.rk AS INTEGER) AS rank, t.user_id,
       CAST(t.cnt AS BIGINT) AS cnt,
       CAST(s.n_keys AS BIGINT) AS n_keys,
       s.avg_cnt,
       ROUND(t.cnt / s.avg_cnt, 6) AS skew_factor
FROM topk t CROSS JOIN total s
WHERE t.rk <= {SKEW_TOP}
"""


@query("ext_skew_stats", SKEW_SQL)
def ext_skew_stats(spark, sf_dir):
    """Shuffle-key skew diagnostics: the {SKEW_TOP} heaviest join/agg
    keys with their multiple of the average key load — the profile a
    data engineer reads BEFORE picking salting factors or trusting
    AQE's skew-join split at 100 TB (a key at 1000x average needs
    intervention; 3x does not).

    Scale shape: per-key counts are one map-side-combined shuffle;
    the top-k is sort+limit, which Spark executes as
    TakeOrderedAndProject (per-partition heaps merged on the driver,
    k rows moved — NEVER a global sort); the rank window and the
    scalar stats join then run over {SKEW_TOP} rows."""
    ev = t(spark, sf_dir, "events")
    kc = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt"))
    total = kc.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.round(F.sum("cnt").cast("double") / F.count(F.lit(1)), 6)
        .alias("avg_cnt"))
    topk = kc.orderBy(F.col("cnt").desc(), "user_id").limit(SKEW_TOP)
    from pyspark.sql import Window
    w = Window.orderBy(F.col("cnt").desc(), "user_id")
    return (
        topk.withColumn("rank", F.row_number().over(w).cast("int"))
        .crossJoin(total)
        .select("rank", "user_id",
                F.col("cnt").cast("bigint").alias("cnt"),
                F.col("n_keys").cast("bigint").alias("n_keys"),
                "avg_cnt",
                F.round(F.col("cnt") / F.col("avg_cnt"), 6)
                .alias("skew_factor"))
    )


# ----------------------------- re-aggregation of partial aggregates
REAGG_SQL = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d,
         COUNT(value) AS n, SUM(CAST(value AS DECIMAL(38,10))) AS s,
         MIN(value) AS mn, MAX(value) AS mx
  FROM events WHERE value IS NOT NULL
  GROUP BY event_type, CAST(ts AS DATE)),
monthly AS (
  SELECT event_type, date_trunc('month', d) AS m,
         CAST(SUM(n) AS BIGINT) AS n,
         SUM(s) AS s, MIN(mn) AS mn, MAX(mx) AS mx
  FROM daily GROUP BY event_type, date_trunc('month', d))
SELECT event_type, CAST(m AS DATE) AS month, n,
       ROUND(CAST(CAST(s AS VARCHAR) AS DOUBLE), 6) AS sum_value,
       ROUND(CAST(CAST(s AS VARCHAR) AS DOUBLE) / n, 6) AS avg_value,
       mn AS min_value, mx AS max_value
FROM monthly
"""


@query("ext_reaggregate_partials", REAGG_SQL)
def ext_reaggregate_partials(spark, sf_dir):
    """Partial-aggregate MERGE: monthly stats derived from stored
    DAILY partials (count/sum/min/max — all mergeable), never from
    the raw events.  This is the incremental-rollup contract that
    makes a 100 TB metrics pipeline cheap: each day aggregates once,
    every coarser grain re-aggregates dimension-sized partials
    (AVG is deliberately NOT stored — it does not merge; it derives
    from sum/count at read time).  The oracle recomputes the same
    two-level rollup; DECIMAL accumulation keeps the merged sums
    order-exact."""
    ev = t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    daily = (ev.groupBy("event_type",
                        F.col("ts").cast("date").alias("d"))
             .agg(F.count("value").alias("n"),
                  F.sum(F.col("value").cast("decimal(38,10)"))
                  .alias("s"),
                  F.min("value").alias("mn"),
                  F.max("value").alias("mx")))
    monthly = (daily.groupBy("event_type",
                             F.date_trunc("month", "d").alias("m"))
               .agg(F.sum("n").cast("bigint").alias("n"),
                    F.sum("s").alias("s"),
                    F.min("mn").alias("mn"),
                    F.max("mx").alias("mx")))
    s_dbl = F.col("s").cast("double")
    return monthly.select(
        "event_type", F.col("m").cast("date").alias("month"), "n",
        F.round(s_dbl, 6).alias("sum_value"),
        F.round(s_dbl / F.col("n"), 6).alias("avg_value"),
        F.col("mn").alias("min_value"),
        F.col("mx").alias("max_value"))


# ------------------------------------------ deterministic mode
MODE_SQL = """
WITH counts AS (
  SELECT c_mktsegment, c_nationkey, COUNT(*) AS cnt
  FROM customer GROUP BY c_mktsegment, c_nationkey),
ranked AS (
  SELECT c_mktsegment, c_nationkey, cnt,
         ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                            ORDER BY cnt DESC, c_nationkey) AS rk
  FROM counts)
SELECT c_mktsegment,
       c_nationkey AS mode_nationkey,
       CAST(cnt AS BIGINT) AS mode_count
FROM ranked WHERE rk = 1
"""


@query("ext_mode_per_group", MODE_SQL)
def ext_mode_per_group(spark, sf_dir):
    """Per-group MODE (most frequent value) with a deterministic
    tie-break — built-in ``mode()`` picks an arbitrary winner on
    ties in both engines, so the portable form is count + rank,
    which also IS the scalable form: a grouped count on the
    composite key, then a tiny per-group window over distinct
    values, never a per-group value buffer."""
    cust = t(spark, sf_dir, "customer")
    counts = cust.groupBy("c_mktsegment", "c_nationkey").agg(
        F.count(F.lit(1)).alias("cnt"))
    from pyspark.sql import Window
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("cnt").desc(), "c_nationkey")
    return (counts.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .select("c_mktsegment",
                    F.col("c_nationkey").alias("mode_nationkey"),
                    F.col("cnt").cast("bigint").alias("mode_count")))


# ------------------------------------------- ordered string_agg
STRING_AGG_SQL = """
SELECT n_regionkey,
       string_agg(n_name, ',' ORDER BY n_name) AS nations,
       COUNT(*) AS n_nations
FROM nation
GROUP BY n_regionkey
"""


@query("ext_string_agg_ordered", STRING_AGG_SQL)
def ext_string_agg_ordered(spark, sf_dir):
    """Ordered string aggregation (LISTAGG/STRING_AGG WITH ORDER):
    collect_list carries NO ordering guarantee in a distributed
    engine, so the portable deterministic form sorts the collected
    array before joining — the same trick any GROUP_CONCAT needs on
    Spark.  Dimension-side op; included for SQL-surface parity."""
    nat = t(spark, sf_dir, "nation")
    return (nat.groupBy("n_regionkey")
            .agg(F.array_join(F.array_sort(F.collect_list("n_name")),
                              ",").alias("nations"),
                 F.count(F.lit(1)).alias("n_nations")))


# ---------------------------- distribution windows (ntile etc.)
NTILE_SQL = """
SELECT c_custkey, c_mktsegment, c_acctbal,
       CAST(NTILE(10) OVER w AS INTEGER) AS decile,
       ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
       ROUND(CUME_DIST() OVER w, 6) AS cume
FROM customer
WINDOW w AS (ORDER BY c_acctbal, c_custkey)
"""


@query("ext_ntile_deciles", NTILE_SQL)
def ext_ntile_deciles(spark, sf_dir):
    """Distribution window functions (NTILE / PERCENT_RANK /
    CUME_DIST): account-balance deciles across customers.  The
    ordering key includes the unique c_custkey so peer groups — and
    with them all three functions — are fully deterministic.  This
    global ranking is inherently one ordered pass (like the ordered
    export); for per-group deciles the same window takes a
    PARTITION BY and parallelizes on the group key."""
    cust = t(spark, sf_dir, "customer")
    from pyspark.sql import Window
    w = Window.orderBy("c_acctbal", "c_custkey")
    return cust.select(
        "c_custkey", "c_mktsegment", "c_acctbal",
        F.ntile(10).over(w).cast("int").alias("decile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"))


# --------------------------------------- snapshot diff (CDC-lite)
SNAPDIFF_CUT = "2024-01-20"

SNAPDIFF_SQL = f"""
WITH old_state AS (
  SELECT user_id, value FROM (
    SELECT user_id, value,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM events WHERE CAST(ts AS DATE) < DATE '{SNAPDIFF_CUT}')
  WHERE rn = 1),
new_state AS (
  SELECT user_id, value FROM (
    SELECT user_id, value,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM events)
  WHERE rn = 1)
SELECT n.user_id,
       o.value AS old_value,
       n.value AS new_value,
       CASE WHEN o.user_id IS NULL THEN 'added'
            WHEN o.value IS DISTINCT FROM n.value THEN 'changed'
            ELSE 'unchanged' END AS change_type
FROM new_state n LEFT JOIN old_state o USING (user_id)
"""


@query("ext_snapshot_diff", SNAPDIFF_SQL)
def ext_snapshot_diff(spark, sf_dir):
    """Snapshot DIFF (CDC-lite): the latest-value-per-user state as
    of {SNAPDIFF_CUT} compared against the current state, each user
    classified added / changed / unchanged (removed cannot occur on
    an append-only log).  This is the change-data-capture readout
    downstream consumers poll instead of re-reading a 100 TB table:
    ship only the 'added' + 'changed' rows.

    Scale shape: both snapshots are the latest-per-key window on the
    user_id shuffle key (at scale the OLD snapshot is the stored
    table, costing nothing to recompute); the diff is one
    co-partitioned join on the same key.  NULL-safe comparison via
    IS DISTINCT FROM so null values diff correctly."""
    ev = t(spark, sf_dir, "events")
    from pyspark.sql import Window
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc())

    def latest(df):
        return (df.withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") == 1).select("user_id", "value"))

    old = latest(ev.filter(
        F.col("ts").cast("date") < F.lit(SNAPDIFF_CUT))) \
        .select(F.col("user_id"), F.col("value").alias("old_value"),
                F.lit(True).alias("__in_old"))
    new = latest(ev).select("user_id", F.col("value").alias("new_value"))
    return (
        new.join(old, "user_id", "left")
        .select(
            "user_id", "old_value", "new_value",
            F.when(F.col("__in_old").isNull(), "added")
            .when(~F.col("old_value").eqNullSafe(F.col("new_value")),
                  "changed")
            .otherwise("unchanged").alias("change_type"))
    )


# ------------------------------- value-picking window functions
NTH_SQL = """
SELECT o_custkey, o_orderkey, o_totalprice,
       FIRST_VALUE(o_totalprice) OVER w AS cheapest,
       LAST_VALUE(o_totalprice) OVER
         (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey
          ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
         AS priciest,
       NTH_VALUE(o_totalprice, 2) OVER
         (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey
          ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
         AS second_cheapest
FROM orders
WINDOW w AS (PARTITION BY o_custkey
             ORDER BY o_totalprice, o_orderkey)
"""


@query("ext_nth_value_frames", NTH_SQL)
def ext_nth_value_frames(spark, sf_dir):
    """Value-picking window functions (FIRST_VALUE / LAST_VALUE /
    NTH_VALUE) per customer, ordered by price with the unique
    orderkey tie-break.  The LAST/NTH frames are explicitly
    unbounded-both-ways: the SQL-standard default frame stops at
    CURRENT ROW, which silently turns LAST_VALUE into "current
    value" — the classic window bug, pinned identically on both
    engines here.  One shuffle on the partition key."""
    orders = t(spark, sf_dir, "orders")
    from pyspark.sql import Window
    base = Window.partitionBy("o_custkey").orderBy(
        "o_totalprice", "o_orderkey")
    w = base  # default frame: unbounded preceding .. current row
    full = base.rowsBetween(Window.unboundedPreceding,
                            Window.unboundedFollowing)
    return orders.select(
        "o_custkey", "o_orderkey", "o_totalprice",
        F.first("o_totalprice").over(w).alias("cheapest"),
        F.last("o_totalprice").over(full).alias("priciest"),
        F.nth_value("o_totalprice", 2).over(full)
        .alias("second_cheapest"))


# --------------------------------------------- RFM segmentation
#: "as of" date for recency (the day after the data ends).
RFM_ASOF = "1997-01-01"

RFM_SQL = f"""
WITH per_cust AS (
  SELECT o_custkey,
         date_diff('day', MAX(o_orderdate), DATE '{RFM_ASOF}')
           AS recency_days,
         COUNT(*) AS frequency,
         ROUND(CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,10)))
                    AS VARCHAR) AS DOUBLE), 6) AS monetary
  FROM orders GROUP BY o_custkey),
scored AS (
  SELECT o_custkey, CAST(recency_days AS INTEGER) AS recency_days,
         frequency, monetary,
         CAST(NTILE(4) OVER (ORDER BY recency_days, o_custkey)
              AS INTEGER) AS r_score,
         CAST(NTILE(4) OVER (ORDER BY frequency DESC, o_custkey)
              AS INTEGER) AS f_score,
         CAST(NTILE(4) OVER (ORDER BY monetary DESC, o_custkey)
              AS INTEGER) AS m_score
  FROM per_cust)
SELECT o_custkey, recency_days, frequency, monetary,
       r_score, f_score, m_score,
       CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR)
         || CAST(m_score AS VARCHAR) AS rfm_segment
FROM scored
"""


@query("ext_rfm_segmentation", RFM_SQL)
def ext_rfm_segmentation(spark, sf_dir):
    """RFM segmentation (recency / frequency / monetary), the
    classic behavioral-scoring pipeline: per-customer aggregates,
    quartile scores (NTILE with the unique custkey tie-break so
    quartiles are deterministic), and the concatenated segment
    label.  Score 111 = recent + frequent + big spender.

    Scale shape: one grouped aggregate on the customer key with
    DECIMAL-exact monetary sums; the three quartile windows rank
    customer-cardinality rows (for truly huge customer counts the
    NTILE swaps for a percentile-threshold join — same output,
    mergeable)."""
    orders = t(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.datediff(F.lit(RFM_ASOF).cast("date"),
                   F.max("o_orderdate").cast("date"))
        .cast("int").alias("recency_days"),
        F.count(F.lit(1)).alias("frequency"),
        F.round(F.sum(F.col("o_totalprice").cast("decimal(38,10)"))
                .cast("double"), 6).alias("monetary"))
    from pyspark.sql import Window
    r_w = Window.orderBy("recency_days", "o_custkey")
    f_w = Window.orderBy(F.col("frequency").desc(), "o_custkey")
    m_w = Window.orderBy(F.col("monetary").desc(), "o_custkey")
    scored = per_cust.select(
        "o_custkey", "recency_days", "frequency", "monetary",
        F.ntile(4).over(r_w).cast("int").alias("r_score"),
        F.ntile(4).over(f_w).cast("int").alias("f_score"),
        F.ntile(4).over(m_w).cast("int").alias("m_score"))
    return scored.withColumn(
        "rfm_segment",
        F.concat(F.col("r_score").cast("string"),
                 F.col("f_score").cast("string"),
                 F.col("m_score").cast("string")))


# ------------------------------------- cumulative distinct users
CUMDIST_SQL = """
WITH firsts AS (
  SELECT user_id, MIN(CAST(ts AS DATE)) AS first_day
  FROM events GROUP BY user_id),
daily_new AS (
  SELECT first_day AS day, COUNT(*) AS n_new
  FROM firsts GROUP BY first_day),
days AS (
  SELECT DISTINCT CAST(ts AS DATE) AS day FROM events)
SELECT d.day,
       CAST(COALESCE(n.n_new, 0) AS BIGINT) AS n_new_users,
       CAST(SUM(COALESCE(n.n_new, 0)) OVER (ORDER BY d.day
            ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS cumulative_users
FROM days d LEFT JOIN daily_new n ON n.day = d.day
"""


@query("ext_cumulative_distinct", CUMDIST_SQL)
def ext_cumulative_distinct(spark, sf_dir):
    """Cumulative DISTINCT users by day via the first-seen trick:
    COUNT(DISTINCT) cannot run inside a running window, but each
    user contributes to the cumulative total exactly on their FIRST
    day — so reduce to first-seen days (one shuffle on user_id),
    count new users per day, and running-sum the day series.  The
    running window orders day-cardinality rows, not events: this is
    the scalable growth-curve shape (and the one the naive
    window-distinct formulation cannot reach at all)."""
    ev = t(spark, sf_dir, "events")
    firsts = (ev.groupBy("user_id")
              .agg(F.min(F.col("ts").cast("date")).alias("first_day")))
    daily_new = (firsts.groupBy(F.col("first_day").alias("day"))
                 .agg(F.count(F.lit(1)).alias("n_new")))
    days = ev.select(F.col("ts").cast("date").alias("day")).distinct()
    from pyspark.sql import Window
    w = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    return (days.join(daily_new, "day", "left")
            .select("day",
                    F.coalesce("n_new", F.lit(0)).cast("bigint")
                    .alias("n_new_users"))
            .withColumn("cumulative_users",
                        F.sum("n_new_users").over(w).cast("bigint")))


# ------------------------------------------- period-over-period
MOM_SQL = """
WITH monthly AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
         ROUND(CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,10)))
                    AS VARCHAR) AS DOUBLE), 6) AS revenue,
         COUNT(*) AS n_orders
  FROM orders GROUP BY date_trunc('month', o_orderdate))
SELECT month, revenue, n_orders,
       LAG(revenue) OVER (ORDER BY month) AS prev_revenue,
       ROUND((revenue - LAG(revenue) OVER (ORDER BY month))
             / LAG(revenue) OVER (ORDER BY month), 6) AS mom_growth
FROM monthly
"""


@query("ext_mom_growth", MOM_SQL)
def ext_mom_growth(spark, sf_dir):
    """Month-over-month growth: the period-comparison readout every
    metrics dashboard ships — monthly DECIMAL-exact revenue, the
    previous period via LAG, and the growth ratio (NULL for the
    first month rather than a fake 0).  The window runs over
    month-cardinality rows, so the 'global' ordering is
    dimension-sized however large the fact table; the heavy work is
    the one map-side-combined monthly aggregate."""
    orders = t(spark, sf_dir, "orders")
    monthly = (orders.groupBy(
        F.date_trunc("month", "o_orderdate").cast("date").alias("month"))
        .agg(F.round(F.sum(F.col("o_totalprice").cast("decimal(38,10)"))
                     .cast("double"), 6).alias("revenue"),
             F.count(F.lit(1)).alias("n_orders")))
    from pyspark.sql import Window
    w = Window.orderBy("month")
    prev = F.lag("revenue").over(w)
    return monthly.select(
        "month", "revenue", "n_orders",
        prev.alias("prev_revenue"),
        F.round((F.col("revenue") - prev) / prev, 6).alias("mom_growth"))


# ----------------------------------------------- CDC apply-changes
CDC_CUT = "2024-01-20"

CDC_APPLY_SQL = f"""
WITH base AS (
  SELECT user_id, value FROM (
    SELECT user_id, value,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM events WHERE CAST(ts AS DATE) < DATE '{CDC_CUT}')
  WHERE rn = 1),
tail AS (
  SELECT user_id, event_type, value FROM (
    SELECT user_id, event_type, value,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM events WHERE CAST(ts AS DATE) >= DATE '{CDC_CUT}')
  WHERE rn = 1),
changes AS (
  SELECT user_id,
         CASE WHEN event_type = 'click' THEN 'D' ELSE 'U' END AS op,
         value
  FROM tail)
SELECT COALESCE(c.user_id, b.user_id) AS user_id,
       CASE WHEN c.op = 'U' THEN c.value ELSE b.value END AS value,
       CASE WHEN c.op IS NULL THEN 'kept'
            WHEN c.op = 'D' AND b.user_id IS NOT NULL THEN 'deleted'
            WHEN c.op = 'D' THEN 'no_op_delete'
            WHEN b.user_id IS NULL THEN 'inserted'
            ELSE 'updated' END AS outcome
FROM base b FULL OUTER JOIN changes c USING (user_id)
WHERE NOT (c.op = 'D' AND b.user_id IS NOT NULL)
   OR c.op IS NULL
"""


@query("ext_cdc_apply", CDC_APPLY_SQL)
def ext_cdc_apply(spark, sf_dir):
    """APPLY CHANGES (CDC merge with deletes): a base snapshot (the
    latest state before {CDC_CUT}) plus a change feed carrying
    upserts AND deletes (each user's newest post-cutoff event;
    clicks stand in for tombstones) produce the next state — the
    MERGE WHEN MATCHED THEN DELETE shape that plain last-writer-wins
    upserts cannot express.  Every surviving row carries its outcome
    (kept / updated / inserted / no_op_delete) so the apply is
    auditable; deleted rows are gone, delete-tombstones without a
    base row surface as explicit no-ops.

    Scale shape: both sides reduce to latest-per-key on the user_id
    shuffle key; the apply is ONE co-partitioned full-outer join on
    that key (AQE broadcasts the change feed when it is small — the
    common case for incremental CDC)."""
    ev = t(spark, sf_dir, "events")
    from pyspark.sql import Window
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc())

    def latest(df, *cols):
        return (df.withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") == 1).select("user_id", *cols))

    cut = F.col("ts").cast("date") < F.lit(CDC_CUT)
    base = latest(ev.filter(cut), "value") \
        .select("user_id", F.col("value").alias("b_value"),
                F.lit(True).alias("__in_base"))
    changes = latest(ev.filter(~cut), "event_type", "value").select(
        "user_id",
        F.when(F.col("event_type") == "click", "D").otherwise("U")
        .alias("op"),
        F.col("value").alias("c_value"))
    merged = base.join(changes, "user_id", "full_outer")
    surviving = merged.filter(
        ~((F.col("op") == "D") & F.col("__in_base").isNotNull())
        | F.col("op").isNull())
    return surviving.select(
        "user_id",
        F.when(F.col("op") == "U", F.col("c_value"))
        .otherwise(F.col("b_value")).alias("value"),
        F.when(F.col("op").isNull(), "kept")
        .when((F.col("op") == "D") & F.col("__in_base").isNotNull(),
              "deleted")
        .when(F.col("op") == "D", "no_op_delete")
        .when(F.col("__in_base").isNull(), "inserted")
        .otherwise("updated").alias("outcome"))


# ----------------------------------------------- Benford audit
BENFORD_SQL = """
WITH digits AS (
  SELECT CAST(substr(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR),
              1, 1) AS INTEGER) AS d
  FROM orders WHERE o_totalprice > 0),
counts AS (
  SELECT d, COUNT(*) AS n FROM digits GROUP BY d),
total AS (SELECT SUM(n) AS t FROM counts)
SELECT d AS first_digit,
       CAST(n AS BIGINT) AS n,
       ROUND(CAST(n AS DOUBLE) / t, 6) AS observed_share,
       ROUND(log10(1 + 1.0 / d), 6) AS benford_share,
       ROUND(CAST(n AS DOUBLE) / t - log10(1 + 1.0 / d), 6)
         AS deviation
FROM counts CROSS JOIN total
"""


@query("ext_benford_audit", BENFORD_SQL)
def ext_benford_audit(spark, sf_dir):
    """Benford first-digit audit: the distribution of leading digits
    of order totals against Benford's law (P(d) = log10(1 + 1/d)) —
    the classic screen for fabricated or truncated numeric columns
    (real multiplicative quantities follow it; synthetic uniform
    data, price floors, or silent casts do not).  Digit extraction
    goes through a fixed DECIMAL(18,2) rendering so both engines
    read the same first character.

    Scale shape: map + 9-row aggregate; the one-row total joins
    back as a bounded scalar broadcast."""
    orders = t(spark, sf_dir, "orders")
    d = F.substring(
        F.col("o_totalprice").cast("decimal(18,2)").cast("string"),
        1, 1).cast("int")
    counts = (orders.filter(F.col("o_totalprice") > 0)
              .select(d.alias("d"))
              .groupBy("d").agg(F.count(F.lit(1)).alias("n")))
    total = counts.agg(F.sum("n").alias("t"))
    share = F.col("n").cast("double") / F.col("t")
    benford = F.log10(1 + 1.0 / F.col("d"))
    return (counts.crossJoin(total)
            .select(F.col("d").alias("first_digit"),
                    F.col("n").cast("bigint").alias("n"),
                    F.round(share, 6).alias("observed_share"),
                    F.round(benford, 6).alias("benford_share"),
                    F.round(share - benford, 6).alias("deviation")))


# --------------------------------------------- Pareto concentration
PARETO_SQL = """
WITH per_cust AS (
  SELECT o_custkey,
         SUM(CAST(o_totalprice AS DECIMAL(38,10))) AS rev
  FROM orders GROUP BY o_custkey),
ranked AS (
  SELECT rev,
         ROW_NUMBER() OVER (ORDER BY rev DESC, o_custkey) AS rnk,
         COUNT(*) OVER () AS n_cust,
         SUM(rev) OVER () AS total_rev,
         SUM(rev) OVER (ORDER BY rev DESC, o_custkey
                        ROWS UNBOUNDED PRECEDING) AS cum_rev
  FROM per_cust)
SELECT CAST(MAX(n_cust) AS BIGINT) AS n_customers,
       ROUND(CAST(CAST(MAX(CASE WHEN rnk * 10 <= n_cust
                            THEN cum_rev END) AS VARCHAR) AS DOUBLE)
             / CAST(CAST(MAX(total_rev) AS VARCHAR) AS DOUBLE), 6)
         AS top_decile_share,
       ROUND(CAST(CAST(MAX(CASE WHEN rnk * 2 <= n_cust
                            THEN cum_rev END) AS VARCHAR) AS DOUBLE)
             / CAST(CAST(MAX(total_rev) AS VARCHAR) AS DOUBLE), 6)
         AS top_half_share
FROM ranked
"""


@query("ext_pareto_share", PARETO_SQL)
def ext_pareto_share(spark, sf_dir):
    """Revenue concentration (Pareto check): what share of total
    revenue the top 10% and top 50% of customers carry — the
    80/20-rule readout that doubles as a skew early-warning for any
    key the pipeline later joins or aggregates on.  Customer revenue
    accumulates in DECIMAL; the cumulative window orders
    customer-cardinality rows with a unique tie-break, and the final
    fold is a single row.  The global ordered window is the
    oracle-exact form; at extreme key cardinality swap it for the
    threshold form (rank cutoffs from exact percentiles of rev, then
    one filtered aggregate — mergeable, no global ordering)."""
    orders = t(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(38,10)")).alias("rev"))
    from pyspark.sql import Window
    order_w = Window.orderBy(F.col("rev").desc(), "o_custkey")
    all_w = Window.orderBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
    cum_w = order_w.rowsBetween(Window.unboundedPreceding,
                                Window.currentRow)
    ranked = per_cust.select(
        "rev",
        F.row_number().over(order_w).alias("rnk"),
        F.count(F.lit(1)).over(all_w).alias("n_cust"),
        F.sum("rev").over(all_w).alias("total_rev"),
        F.sum("rev").over(cum_w).alias("cum_rev"))
    dd = lambda c: F.max(c).cast("double")  # noqa: E731
    top = lambda k: F.max(  # noqa: E731
        F.when(F.col("rnk") * k <= F.col("n_cust"), F.col("cum_rev")))
    return ranked.agg(
        F.max("n_cust").cast("bigint").alias("n_customers"),
        F.round(top(10).cast("double") / dd(F.col("total_rev")), 6)
        .alias("top_decile_share"),
        F.round(top(2).cast("double") / dd(F.col("total_rev")), 6)
        .alias("top_half_share"))


# --------------------------------------- event transition matrix
TRANSITION_SQL = """
WITH seq AS (
  SELECT user_id, event_type AS to_type,
         LAG(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS from_type
  FROM events),
trans AS (
  SELECT from_type, to_type, COUNT(*) AS n
  FROM seq WHERE from_type IS NOT NULL
  GROUP BY from_type, to_type),
tot AS (
  SELECT from_type, SUM(n) AS t FROM trans GROUP BY from_type)
SELECT tr.from_type, tr.to_type,
       CAST(tr.n AS BIGINT) AS n,
       ROUND(CAST(tr.n AS DOUBLE) / tot.t, 6) AS prob
FROM trans tr JOIN tot USING (from_type)
"""


@query("ext_event_transition_matrix", TRANSITION_SQL)
def ext_event_transition_matrix(spark, sf_dir):
    """First-order event-transition matrix: per-user consecutive
    event pairs counted into P(next type | current type) — the
    Markov-chain readout behind funnel design, anomaly detection
    (impossible transitions), and session simulation.

    Scale shape: one shuffle on user_id for the LAG window, one
    dimension-sized aggregate on (from, to) — the matrix is
    |types|^2 rows regardless of event volume, and the row-sum
    normalizer joins on the bounded from_type key."""
    ev = t(spark, sf_dir, "events")
    from pyspark.sql import Window
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.lag("event_type").over(w).alias("from_type"),
        F.col("event_type").alias("to_type"))
    trans = (seq.filter(F.col("from_type").isNotNull())
             .groupBy("from_type", "to_type")
             .agg(F.count(F.lit(1)).alias("n")))
    tot = trans.groupBy("from_type").agg(F.sum("n").alias("t"))
    return (trans.join(tot, "from_type")
            .select("from_type", "to_type",
                    F.col("n").cast("bigint").alias("n"),
                    F.round(F.col("n").cast("double") / F.col("t"), 6)
                    .alias("prob")))


# ------------------------------------------ log-scale histogram
LOG_HIST_SQL = """
WITH b AS (
  SELECT event_type,
         CAST(FLOOR(log10(abs(value))) AS INTEGER) AS magnitude
  FROM events WHERE value IS NOT NULL AND value <> 0)
SELECT event_type, magnitude, COUNT(*) AS n
FROM b GROUP BY event_type, magnitude
"""


@query("ext_histogram_log_bins", LOG_HIST_SQL)
def ext_histogram_log_bins(spark, sf_dir):
    """Log-scale magnitude histogram: per event type, how many
    values fall in each decade (floor of log10 |value|) — the
    profiling view for heavy-tailed measures, where the equi-width
    histogram puts everything in one bucket and the tail in none.
    Decade boundaries are exact in both engines (log10 of the same
    double, floored), so the binning cannot drift.  Map + tiny
    grouped aggregate."""
    ev = t(spark, sf_dir, "events")
    mag = F.floor(F.log10(F.abs(F.col("value")))).cast("int")
    return (ev.filter(F.col("value").isNotNull()
                      & (F.col("value") != 0))
            .groupBy("event_type", mag.alias("magnitude"))
            .agg(F.count(F.lit(1)).alias("n")))


# --------------------------------------- rolling active users
ROLLING_DAYS = 7

ROLLING_AU_SQL = f"""
WITH du AS (
  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
days AS (SELECT DISTINCT day FROM du)
SELECT d.day,
       CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS active_users_7d
FROM days d JOIN du u
  ON u.day BETWEEN d.day - {ROLLING_DAYS - 1} AND d.day
GROUP BY d.day
"""


@query("ext_rolling_active_users", ROLLING_AU_SQL)
def ext_rolling_active_users(spark, sf_dir):
    """Rolling {ROLLING_DAYS}-day distinct active users per day —
    the WAU/MAU family.  COUNT(DISTINCT) cannot ride a window
    frame, so the scalable form reduces events to DISTINCT
    (day, user) pairs first (the heavy shuffle, on the user key),
    then joins the small day spine against a {ROLLING_DAYS}-day
    band and counts distinct per anchor day — the banded join
    carries day-grain rows, events-volume-independent.  (At extreme
    user cardinality the exact count swaps for mergeable HLL
    sketches per day — same two-stage shape.)"""
    ev = t(spark, sf_dir, "events")
    du = (ev.select(F.col("ts").cast("date").alias("day"), "user_id")
          .distinct())
    days = du.select(F.col("day").alias("anchor")).distinct()
    return (days.join(
        du, (F.col("day") <= F.col("anchor"))
        & (F.col("day") >= F.date_sub(F.col("anchor"),
                                      ROLLING_DAYS - 1)))
        .groupBy(F.col("anchor").alias("day"))
        .agg(F.count_distinct("user_id").cast("bigint")
             .alias(f"active_users_{ROLLING_DAYS}d")))


# --------------------------------------- market-basket pairs
BASKET_MIN_COUNT = 2


def _order_item_pairs(li):
    """Shared basket pair miner (round-11 shape): per-order SORTED
    item sets from one order-key shuffle (map-side partial
    collect_set), with the a<b pairs generated IN-ROW — an indexed
    transform crossed with the suffix slice of the sorted set, so
    position order IS item order and no self-join re-shuffles the
    corpus.  Returns ``(sets, pairs)``: the grouped sets (reused by
    the association entry for item counts / the order total off the
    same AQE-reusable exchange) and the exploded (part_a, part_b)
    stream.  A pathological mega-basket fans out quadratically in
    ONE row — the same mass the old self-join pair stream carried,
    without the shuffle."""
    sets = (li.groupBy("l_orderkey")
            .agg(F.array_sort(F.collect_set("l_partkey")).alias("it")))
    pairs = (sets.select(F.explode(F.flatten(F.transform(
        F.col("it"),
        lambda x, i: F.transform(
            F.slice(F.col("it"), i + F.lit(2), F.size(F.col("it"))),
            lambda y: F.struct(x.alias("part_a"),
                               y.alias("part_b")))))).alias("p"))
        .select("p.part_a", "p.part_b"))
    return sets, pairs

BASKET_SQL = f"""
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
         COUNT(*) AS n_orders
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey)
SELECT part_a, part_b, CAST(n_orders AS BIGINT) AS n_orders
FROM pairs WHERE n_orders >= {BASKET_MIN_COUNT}
"""


@query("ext_market_basket_pairs", BASKET_SQL)
def ext_market_basket_pairs(spark, sf_dir):
    """Market-basket co-occurrence: part pairs appearing together in
    at least {BASKET_MIN_COUNT} orders — the frequent-itemset seed
    (Apriori's pair pass) behind "bought together" features.  The
    pair space is sum of per-basket sizes squared — linear in order
    count, never |parts|^2; the count shuffle is on the pair key
    with map-side combine.  Round-11 shape (shared with
    ext_association_rules via _order_item_pairs): ONE shuffle on the
    order key builds per-order sorted item sets, and the a<b pairs
    are generated IN-ROW (indexed transform x suffix slice) — the
    previous items-self-join paid a second corpus shuffle to
    co-locate order keys that the grouped sets already provide."""
    li = t(spark, sf_dir, "lineitem")
    _sets, pairs = _order_item_pairs(li)
    return (pairs.groupBy("part_a", "part_b")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_orders"))
            .filter(F.col("n_orders") >= BASKET_MIN_COUNT))


# ------------------------------------- association rules (lift)
LIFT_SQL = f"""
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
n_orders AS (SELECT COUNT(DISTINCT l_orderkey) AS t FROM items),
item_cnt AS (
  SELECT l_partkey, COUNT(*) AS c FROM items GROUP BY l_partkey),
pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
         COUNT(*) AS n
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey)
SELECT p.part_a, p.part_b,
       CAST(p.n AS BIGINT) AS n_orders,
       ROUND(CAST(p.n AS DOUBLE) / t.t, 6) AS support,
       ROUND(CAST(p.n AS DOUBLE) / ca.c, 6) AS confidence_a_to_b,
       ROUND(CAST(p.n AS DOUBLE) * t.t / (ca.c * cb.c), 6) AS lift
FROM pairs p
JOIN item_cnt ca ON ca.l_partkey = p.part_a
JOIN item_cnt cb ON cb.l_partkey = p.part_b
CROSS JOIN n_orders t
WHERE p.n >= {BASKET_MIN_COUNT}
"""


@query("ext_association_rules", LIFT_SQL)
def ext_association_rules(spark, sf_dir):
    """Association-rule metrics over the basket pairs: support,
    confidence(A -> B) and LIFT — the numbers that separate "bought
    together because both are popular" (lift ~ 1) from a real
    association (lift >> 1), which raw co-occurrence counts cannot
    do.  Completes the market-basket family: pair mining finds the
    candidates, these metrics rank them.

    Scale shape (round-11 rewrite): ONE shuffle on the order key
    builds per-order sorted item sets (map-side partial collect_set),
    and the a<b pairs are generated IN-ROW from each set (indexed
    transform x suffix slice — the sort makes position order item
    order) instead of the previous items-self-join, which re-shuffled
    the distinct item stream a second time to co-locate order keys.
    The per-item counts and the one-row order total are derived from
    the SAME grouped exchange (three consumers of one identical
    exchange subtree — AQE runtime-reuses it, so the lineitem scan
    and the order-key shuffle run once; no corpus-cardinality cache
    needed).  Downstream joins are item-catalog-cardinality (AQE
    broadcasts while they fit); the order total is a bounded scalar
    broadcast.  Per-order set size is bounded by the basket (7 items
    at TPC-H marginals; a pathological mega-basket would fan out
    quadratically in ONE row — the same mass the self-join pair
    stream carried, without the shuffle).  Measured at sf0.1:
    ~10-15% under the self-join shape warm, one fewer corpus
    exchange."""
    li = t(spark, sf_dir, "lineitem")
    sets, pair_stream = _order_item_pairs(li)
    pairs = (pair_stream
             .groupBy("part_a", "part_b")
             .agg(F.count(F.lit(1)).alias("n"))
             .filter(F.col("n") >= BASKET_MIN_COUNT))
    item_cnt = (sets.select(F.explode("it").alias("l_partkey"))
                .groupBy("l_partkey")
                .agg(F.count(F.lit(1)).alias("c")))
    total = sets.agg(F.count(F.lit(1)).alias("t"))
    ca = item_cnt.select(F.col("l_partkey").alias("part_a"),
                         F.col("c").alias("ca"))
    cb = item_cnt.select(F.col("l_partkey").alias("part_b"),
                         F.col("c").alias("cb"))
    nd = F.col("n").cast("double")
    return (pairs.join(ca, "part_a").join(cb, "part_b")
            .crossJoin(total)
            .select("part_a", "part_b",
                    F.col("n").cast("bigint").alias("n_orders"),
                    F.round(nd / F.col("t"), 6).alias("support"),
                    F.round(nd / F.col("ca"), 6)
                    .alias("confidence_a_to_b"),
                    F.round(nd * F.col("t")
                            / (F.col("ca") * F.col("cb")), 6)
                    .alias("lift")))


# ------------------------------------------- reorder gap
REORDER_SQL = """
WITH seq AS (
  SELECT o_custkey, o_orderdate,
         LAG(o_orderdate) OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey)
           AS prev_date
  FROM orders),
gaps AS (
  SELECT o_custkey,
         date_diff('day', CAST(prev_date AS DATE),
                   CAST(o_orderdate AS DATE)) AS gap_days
  FROM seq WHERE prev_date IS NOT NULL)
SELECT o_custkey,
       CAST(COUNT(*) AS BIGINT) AS n_reorders,
       CAST(MIN(gap_days) AS INTEGER) AS min_gap_days,
       CAST(MAX(gap_days) AS INTEGER) AS max_gap_days,
       ROUND(AVG(gap_days), 6) AS avg_gap_days
FROM gaps GROUP BY o_custkey
"""


@query("ext_reorder_gap", REORDER_SQL)
def ext_reorder_gap(spark, sf_dir):
    """Reorder-gap profile: days between a customer's consecutive
    orders (min/max/avg per customer) — the inter-purchase-interval
    behind churn prediction and replenishment timing; pairs with
    RFM (recency says how stale, this says how stale is NORMAL for
    that customer).  One shuffle on the customer key for the LAG
    window, folded in place to customer-grain rows.  Gaps are exact
    integer day diffs, so AVG is engine-exact before the rounding."""
    orders = t(spark, sf_dir, "orders")
    from pyspark.sql import Window
    w = Window.partitionBy("o_custkey").orderBy(
        "o_orderdate", "o_orderkey")
    gaps = (orders.select(
        "o_custkey",
        F.datediff(F.col("o_orderdate").cast("date"),
                   F.lag(F.col("o_orderdate").cast("date")).over(w))
        .alias("gap_days"))
        .filter(F.col("gap_days").isNotNull()))
    return (gaps.groupBy("o_custkey")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_reorders"),
                 F.min("gap_days").cast("int").alias("min_gap_days"),
                 F.max("gap_days").cast("int").alias("max_gap_days"),
                 F.round(F.avg("gap_days"), 6).alias("avg_gap_days")))


# --------------------------------------- gaps-and-islands streaks
STREAK_SQL = """
WITH du AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
grp AS (
  SELECT user_id, day,
         day - CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                                       ORDER BY day) AS INTEGER)
           AS island
  FROM du),
islands AS (
  SELECT user_id, island,
         COUNT(*) AS streak_len,
         MIN(day) AS streak_start
  FROM grp GROUP BY user_id, island)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_streaks,
       CAST(MAX(streak_len) AS INTEGER) AS longest_streak,
       MIN(streak_start) AS first_active_day
FROM islands GROUP BY user_id
"""


@query("ext_activity_streaks", STREAK_SQL)
def ext_activity_streaks(spark, sf_dir):
    """Gaps-and-islands: consecutive-day activity streaks per user
    (count, longest, first day) via the classic ``day - row_number``
    trick — consecutive days share a constant difference, so the
    island key falls out of one window, no iterative logic.  The
    engagement-streak readout behind retention features.

    Scale shape: distinct (user, day) reduction, one window and two
    grouped aggregates, all on the user_id shuffle key — a single
    exchange end to end."""
    ev = t(spark, sf_dir, "events")
    du = (ev.select("user_id", F.col("ts").cast("date").alias("day"))
          .distinct())
    from pyspark.sql import Window
    w = Window.partitionBy("user_id").orderBy("day")
    grp = du.select(
        "user_id", "day",
        F.date_sub(F.col("day"),
                   F.row_number().over(w)).alias("island"))
    islands = (grp.groupBy("user_id", "island")
               .agg(F.count(F.lit(1)).alias("streak_len"),
                    F.min("day").alias("streak_start")))
    return (islands.groupBy("user_id")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_streaks"),
                 F.max("streak_len").cast("int")
                 .alias("longest_streak"),
                 F.min("streak_start").alias("first_active_day")))


# --------------------------------------- seasonality profile
SEASONALITY_SQL = """
SELECT event_type,
       CAST(EXTRACT(DOW FROM ts) AS INTEGER) AS dow,
       CAST(EXTRACT(HOUR FROM ts) AS INTEGER) AS hour,
       COUNT(*) AS n_events,
       ROUND(AVG(value), 6) AS avg_value
FROM events WHERE value IS NOT NULL
GROUP BY event_type, EXTRACT(DOW FROM ts), EXTRACT(HOUR FROM ts)
"""


@query("ext_seasonality_profile", SEASONALITY_SQL)
def ext_seasonality_profile(spark, sf_dir):
    """Weekly seasonality heatmap: event volume and average value by
    (day-of-week, hour) per event type — the profile that separates
    weekday/weekend and peak/off-peak regimes before any forecasting
    or anomaly threshold is set (the reference's dim_time exists for
    exactly this slicing; here the profile is computed directly).
    DOW uses the DuckDB convention (0=Sunday) via the shared
    timeparts helper.  Map + dimension-sized aggregate
    (types x 7 x 24 rows out)."""
    from ..functions.timeparts import dow_sunday0

    ev = t(spark, sf_dir, "events")
    return (ev.filter(F.col("value").isNotNull())
            .groupBy("event_type",
                     dow_sunday0(F.col("ts")).alias("dow"),
                     F.hour("ts").cast("int").alias("hour"))
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.round(F.avg("value"), 6).alias("avg_value")))


# ------------------------------------- linear-interpolation fill
INTERP_SQL = f"""
WITH spine AS (
  SELECT t.event_type, s.h
  FROM (SELECT DISTINCT event_type FROM events) t,
       (SELECT unnest(generate_series(TIMESTAMP '{{start}}',
                                      TIMESTAMP '{{end}}',
                                      INTERVAL 1 HOUR)) AS h) s),
hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS h,
         ROUND(AVG(value), 6) AS v
  FROM events WHERE value IS NOT NULL
  GROUP BY event_type, date_trunc('hour', ts)),
joined AS (
  SELECT spine.event_type, spine.h, hourly.v
  FROM spine LEFT JOIN hourly
    ON hourly.event_type = spine.event_type AND hourly.h = spine.h),
bounded AS (
  SELECT event_type, h, v,
         last_value(v IGNORE NULLS) OVER w_back AS prev_v,
         last_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS)
           OVER w_back AS prev_h,
         first_value(v IGNORE NULLS) OVER w_fwd AS next_v,
         first_value(CASE WHEN v IS NOT NULL THEN h END IGNORE NULLS)
           OVER w_fwd AS next_h
  FROM joined
  WINDOW w_back AS (PARTITION BY event_type ORDER BY h
                    ROWS UNBOUNDED PRECEDING),
         w_fwd AS (PARTITION BY event_type ORDER BY h
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
SELECT event_type, h AS hour, v IS NOT NULL AS observed,
       CASE
         WHEN v IS NOT NULL THEN v
         WHEN prev_v IS NULL THEN next_v
         WHEN next_v IS NULL THEN prev_v
         ELSE FLOOR((prev_v + (next_v - prev_v)
                * ((EPOCH(h) - EPOCH(prev_h))
                   / (EPOCH(next_h) - EPOCH(prev_h)))) * 1e6 + 0.5)
              / 1e6
       END AS v_interp
FROM bounded
"""

SPINE_INTERP_START = "2024-01-01 00:00:00"
SPINE_INTERP_END = "2024-01-30 23:00:00"


@query("ext_gap_fill_linear",
       INTERP_SQL.format(start=SPINE_INTERP_START,
                         end=SPINE_INTERP_END))
def ext_gap_fill_linear(spark, sf_dir):
    """LINEAR-interpolation gap fill over a dense hourly spine:
    missing hours take the time-weighted average of the nearest
    observed values on each side (edges fall back to the single
    available neighbor) — the resampling mode forward-fill cannot
    provide when the series must stay continuous (sensor feeds,
    price curves).  Positions come from epoch arithmetic on the
    bracketing observation times, rounded identically on both
    engines.

    Scale shape: one hourly partial aggregate over the events (the
    corpus-scale work), then two mirrored windows over the
    dimension-sized spine per type — the same two-window
    last/first-ignoring-nulls machinery the as-of join uses."""
    ev = t(spark, sf_dir, "events")
    from pyspark.sql import Window
    spine_h = F.explode(F.sequence(
        F.lit(SPINE_INTERP_START).cast("timestamp_ntz"),
        F.lit(SPINE_INTERP_END).cast("timestamp_ntz"),
        F.expr("INTERVAL 1 HOUR"))).alias("h")
    types = ev.select("event_type").distinct()
    spine = types.select("event_type", spine_h)
    hourly = (ev.filter(F.col("value").isNotNull())
              .groupBy("event_type",
                       F.date_trunc("hour", "ts").alias("h"))
              .agg(F.round(F.avg("value"), 6).alias("v")))
    joined = spine.join(hourly, ["event_type", "h"], "left")
    back = (Window.partitionBy("event_type").orderBy("h")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    fwd = (Window.partitionBy("event_type").orderBy("h")
           .rowsBetween(Window.currentRow, Window.unboundedFollowing))
    obs_h = F.when(F.col("v").isNotNull(), F.col("h"))
    b = (joined
         .withColumn("prev_v", F.last("v", True).over(back))
         .withColumn("prev_h", F.last(obs_h, True).over(back))
         .withColumn("next_v", F.first("v", True).over(fwd))
         .withColumn("next_h", F.first(obs_h, True).over(fwd)))
    frac = ((F.unix_timestamp("h") - F.unix_timestamp("prev_h"))
            / (F.unix_timestamp("next_h")
               - F.unix_timestamp("prev_h")))
    # explicit half-up emulation: ROUND(double, 6) is half-up in
    # Spark but half-even in DuckDB, and interpolated values LAND on
    # exact 6th-decimal halves often enough to hash-mismatch (seen at
    # sf0.01); floor(x * 1e6 + 0.5) / 1e6 is identical given
    # identical doubles on both engines
    interp = (F.floor((F.col("prev_v")
                       + (F.col("next_v") - F.col("prev_v")) * frac)
                      * 1e6 + 0.5) / 1e6)
    return b.select(
        "event_type", F.col("h").alias("hour"),
        F.col("v").isNotNull().alias("observed"),
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(F.col("prev_v").isNull(), F.col("next_v"))
        .when(F.col("next_v").isNull(), F.col("prev_v"))
        .otherwise(interp).alias("v_interp"))


# --------------------------------------- top-percent-per-group
TOP_PCT = 0.1

TOP_PCT_SQL = f"""
WITH d AS (
  SELECT c_mktsegment, c_custkey, c_acctbal,
         CUME_DIST() OVER (PARTITION BY c_mktsegment
                           ORDER BY c_acctbal DESC, c_custkey)
           AS cd
  FROM customer)
SELECT c_mktsegment, c_custkey, c_acctbal,
       ROUND(cd, 6) AS cume
FROM d WHERE cd <= {TOP_PCT}
"""


@query("ext_top_percent_per_group", TOP_PCT_SQL)
def ext_top_percent_per_group(spark, sf_dir):
    """Top-PERCENT-per-group filter (the QUALIFY cume_dist pattern):
    the richest {TOP_PCT:.0%} of customers per market segment —
    top-k's proportional sibling, the right tool when group sizes
    vary by orders of magnitude and a fixed k over- or under-selects.
    Deterministic peer groups via the unique custkey tie-break; the
    filter compares the UNROUNDED cume_dist identically on both
    engines.  One shuffle on the group key."""
    cust = t(spark, sf_dir, "customer")
    from pyspark.sql import Window
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").desc(), "c_custkey")
    cd = F.cume_dist().over(w)
    return (cust.select("c_mktsegment", "c_custkey", "c_acctbal",
                        cd.alias("cd"))
            .filter(F.col("cd") <= TOP_PCT)
            .select("c_mktsegment", "c_custkey", "c_acctbal",
                    F.round("cd", 6).alias("cume")))


# ------------------------------------------- null profile
NULL_PROFILE_SQL = """
WITH t AS (SELECT COUNT(*) AS n FROM events)
SELECT col, CAST(n_null AS BIGINT) AS n_null,
       ROUND(CAST(n_null AS DOUBLE) / t.n, 6) AS null_ratio
FROM (
  SELECT 'value' AS col,
         SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS n_null
  FROM events
  UNION ALL
  SELECT 'props',
         SUM(CASE WHEN props IS NULL THEN 1 ELSE 0 END) FROM events
  UNION ALL
  SELECT 'event_type',
         SUM(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END)
  FROM events
  UNION ALL
  SELECT 'user_id',
         SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) FROM events
  UNION ALL
  SELECT 'ts',
         SUM(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) FROM events) u
CROSS JOIN t
"""


@query("ext_null_profile", NULL_PROFILE_SQL)
def ext_null_profile(spark, sf_dir):
    """Per-column NULL profile of the events table — the first data-
    quality glance at any new feed (a column that went 0% -> 40%
    null between ingests is an upstream schema break, caught here
    before it poisons aggregates that silently skip nulls).
    Computed as ONE pass: all per-column null counts are conditional
    aggregates in a single scan (unpivoted afterwards), not one scan
    per column; the total joins as a bounded scalar."""
    ev = t(spark, sf_dir, "events")
    cols = ["value", "props", "event_type", "user_id", "ts"]
    agg = ev.agg(
        F.count(F.lit(1)).alias("n"),
        *[F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
          .alias(f"null_{c}") for c in cols])
    stacked = agg.selectExpr(
        "n",
        "stack({}, {}) AS (col, n_null)".format(
            len(cols),
            ", ".join(f"'{c}', null_{c}" for c in cols)))
    return stacked.select(
        "col", F.col("n_null").cast("bigint").alias("n_null"),
        F.round(F.col("n_null").cast("double") / F.col("n"), 6)
        .alias("null_ratio"))


# --------------------------------------- categorical drift
CAT_DRIFT_SQL = """
WITH monthly AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
         o_orderpriority,
         COUNT(*) AS n
  FROM orders GROUP BY 1, 2),
m_tot AS (
  SELECT month, SUM(n) AS mt FROM monthly GROUP BY month),
overall AS (
  SELECT o_orderpriority,
         CAST(COUNT(*) AS DOUBLE)
           / (SELECT COUNT(*) FROM orders) AS base_share
  FROM orders GROUP BY o_orderpriority)
SELECT m.month, m.o_orderpriority,
       CAST(m.n AS BIGINT) AS n,
       ROUND(CAST(m.n AS DOUBLE) / t.mt, 6) AS month_share,
       ROUND(o.base_share, 6) AS base_share,
       ROUND(CAST(m.n AS DOUBLE) / t.mt - o.base_share, 6)
         AS share_drift
FROM monthly m
JOIN m_tot t ON t.month = m.month
JOIN overall o ON o.o_orderpriority = m.o_orderpriority
"""


@query("ext_categorical_drift", CAT_DRIFT_SQL)
def ext_categorical_drift(spark, sf_dir):
    """Categorical-mix DRIFT: each month's order-priority
    distribution against the all-time baseline share — the
    monitoring view that catches a category silently vanishing or
    exploding (upstream enum change, routing bug) long before
    absolute counts look wrong.  Three dimension-sized aggregates
    joined on bounded keys; the share arithmetic divides exact
    counts identically on both engines."""
    orders = t(spark, sf_dir, "orders")
    monthly = (orders.groupBy(
        F.date_trunc("month", "o_orderdate").cast("date").alias("month"),
        "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n")))
    m_tot = monthly.groupBy("month").agg(F.sum("n").alias("mt"))
    total = orders.agg(F.count(F.lit(1)).alias("gt"))
    overall = (orders.groupBy("o_orderpriority")
               .agg(F.count(F.lit(1)).alias("c"))
               .crossJoin(total)
               .select("o_orderpriority",
                       (F.col("c").cast("double") / F.col("gt"))
                       .alias("base_share")))
    ms = F.col("n").cast("double") / F.col("mt")
    return (monthly.join(m_tot, "month")
            .join(overall, "o_orderpriority")
            .select("month", "o_orderpriority",
                    F.col("n").cast("bigint").alias("n"),
                    F.round(ms, 6).alias("month_share"),
                    F.round("base_share", 6).alias("base_share"),
                    F.round(ms - F.col("base_share"), 6)
                    .alias("share_drift")))


# --------------------------------------- running-peak drawdown
DRAWDOWN_SQL = """
WITH monthly AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
         ROUND(CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,10)))
                    AS VARCHAR) AS DOUBLE), 6) AS revenue
  FROM orders GROUP BY date_trunc('month', o_orderdate)),
peaks AS (
  SELECT month, revenue,
         MAX(revenue) OVER (ORDER BY month
                            ROWS UNBOUNDED PRECEDING) AS peak
  FROM monthly)
SELECT month, revenue, peak,
       ROUND((peak - revenue) / peak, 6) AS drawdown,
       revenue = peak AS at_peak
FROM peaks
"""


@query("ext_running_drawdown", DRAWDOWN_SQL)
def ext_running_drawdown(spark, sf_dir):
    """Running-peak DRAWDOWN over the monthly revenue series: each
    month's gap below the best month seen so far — the
    trough-depth readout (finance's max-drawdown family) that a
    plain month-over-month change hides, because a slow five-month
    slide never shows a big single-month drop.  The running-max
    window orders month-cardinality rows; the heavy work is the one
    DECIMAL-exact monthly aggregate."""
    orders = t(spark, sf_dir, "orders")
    monthly = (orders.groupBy(
        F.date_trunc("month", "o_orderdate").cast("date").alias("month"))
        .agg(F.round(F.sum(F.col("o_totalprice").cast("decimal(38,10)"))
                     .cast("double"), 6).alias("revenue")))
    from pyspark.sql import Window
    w = Window.orderBy("month").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    peak = F.max("revenue").over(w)
    return (monthly
            .withColumn("peak", peak)
            .select("month", "revenue", "peak",
                    F.round((F.col("peak") - F.col("revenue"))
                            / F.col("peak"), 6).alias("drawdown"),
                    (F.col("revenue") == F.col("peak"))
                    .alias("at_peak")))


# --------------------------------------------- DQ quarantine router
DQ_QUAR_SQL = """
WITH flagged AS (
  SELECT event_id, event_type, value,
         CAST(json_extract(props, '$.k') AS INTEGER) AS k,
         list_filter([
           CASE WHEN value > 400 THEN 'value_out_of_band' END,
           CASE WHEN event_type = 'error' THEN 'error_event' END,
           CASE WHEN CAST(json_extract(props, '$.k') AS INTEGER) >= 95
                THEN 'props_k_out_of_range' END
         ], r -> r IS NOT NULL) AS reasons
  FROM events)
SELECT event_id, event_type, value,
       CAST(len(reasons) AS INTEGER) AS n_reasons,
       array_to_string(reasons, ',') AS reasons
FROM flagged
WHERE len(reasons) > 0
"""


@query("ext_dq_quarantine", DQ_QUAR_SQL)
def ext_dq_quarantine(spark, sf_dir):
    """Data-quality quarantine router: rows violating any rule are
    routed OUT of the publish path with machine-readable reason
    codes (the write-audit-publish pattern's reject stream —
    complements ext_dq_checks, which only counts).  Emitting every
    violated rule per row (not just the first) is what makes the
    quarantine actionable: one scan tells you whether a source
    regressed on one rule or across the board.

    Scale shape: pure map stage — each rule is a Catalyst CASE over
    the row, reasons fold into an array literal filtered non-null;
    no shuffle, quarantine volume is the (small) violation rate
    times the corpus."""
    e = t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    reasons = F.filter(
        F.array(
            F.when(F.col("value") > 400, F.lit("value_out_of_band")),
            F.when(F.col("event_type") == "error", F.lit("error_event")),
            F.when(k >= 95, F.lit("props_k_out_of_range"))),
        lambda r: r.isNotNull())
    return (e.select("event_id", "event_type", "value",
                     F.size(reasons).cast("int").alias("n_reasons"),
                     F.array_join(reasons, ",").alias("reasons"))
            .filter(F.col("n_reasons") > 0))


# --------------------------------------- PageRank (power iteration)
#: damping factor (the canonical 0.85) and unrolled iteration count.
PR_DAMPING = 0.85
PR_ITERS = 2

_PR_EDGE_CTES = """
seq AS (
  SELECT user_id, event_type AS to_type,
         LAG(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS from_type
  FROM events),
trans AS (
  SELECT from_type, to_type, COUNT(*) AS n
  FROM seq WHERE from_type IS NOT NULL
  GROUP BY from_type, to_type),
tot AS (
  SELECT from_type, SUM(n) AS t FROM trans GROUP BY from_type),
nodes AS (SELECT DISTINCT event_type AS node FROM events),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes FROM nodes),
pr0 AS (
  SELECT node, CAST(1.0 AS DOUBLE) / nn.n_nodes AS pr
  FROM nodes CROSS JOIN nn)
"""


def _pr_iter_sql(i: int) -> str:
    """One unrolled power-iteration step as chained CTEs (DuckDB):
    fixed-point (1e-12) contribution sums keep both engines'
    accumulation order-independent and bit-identical."""
    prev = f"pr{i - 1}"
    return f"""
inflow{i} AS (
  SELECT e.to_type AS node,
         CAST(SUM(CAST(FLOOR(p.pr * (CAST(e.n AS DOUBLE)
                                     / CAST(t.t AS DOUBLE))
                             * 1000000000000 + 0.5) AS BIGINT))
              AS DOUBLE) / 1000000000000 AS inflow
  FROM trans e
  JOIN tot t ON t.from_type = e.from_type
  JOIN {prev} p ON p.node = e.from_type
  GROUP BY e.to_type),
dang{i} AS (
  SELECT COALESCE(CAST(SUM(CAST(FLOOR(pr * 1000000000000 + 0.5)
                               AS BIGINT)) AS DOUBLE)
                  / 1000000000000, CAST(0.0 AS DOUBLE)) AS m
  FROM {prev}
  WHERE node NOT IN (SELECT from_type FROM tot)),
pr{i} AS (
  SELECT n.node,
         CAST(0.15 AS DOUBLE) / nn.n_nodes
           + CAST(0.85 AS DOUBLE)
             * (COALESCE(i.inflow, CAST(0.0 AS DOUBLE))
                + d.m / nn.n_nodes) AS pr
  FROM nodes n
  CROSS JOIN nn CROSS JOIN dang{i} d
  LEFT JOIN inflow{i} i ON i.node = n.node)
"""


PAGERANK_SQL = (
    "WITH " + _PR_EDGE_CTES.strip()
    + "".join("," + _pr_iter_sql(i) for i in range(1, PR_ITERS + 1))
    + f"""
SELECT node AS event_type, ROUND(pr, 6) AS pagerank
FROM pr{PR_ITERS}
""")


@query("ext_pagerank_power", PAGERANK_SQL)
def ext_pagerank_power(spark, sf_dir):
    """Weighted PageRank over the event-transition graph (nodes =
    event types, edge weight = observed transition count), {ITERS}
    unrolled power iterations with the canonical 0.85 damping and
    dangling-mass redistribution — the link-analysis primitive a
    crawl-curation pipeline uses to weight sources by citation.

    Like sims_kmeans_lloyd, the ITERATIVE trainer is hash-verified
    bit-for-bit: the oracle unrolls each iteration as chained CTEs,
    and per-node contribution sums accumulate in 1e-12 fixed point
    (floor-scaled BIGINT) so both engines add identical integers in
    any order.

    Scale shape: edges build with one user-partitioned LAG window +
    a |types|^2-bounded aggregate; each iteration is one edge⋈rank
    join shuffling on the node key plus a node-cardinality
    aggregate.  At web scale nodes/edges are corpus-sized — the same
    plan co-partitions edges and ranks on node and AQE handles skew;
    the rank vector never needs to fit on one machine (contrast
    broadcast-based PageRank)."""
    from pyspark.sql import Window

    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.lag("event_type").over(w).alias("from_type"),
        F.col("event_type").alias("to_type"))
    trans = (seq.filter(F.col("from_type").isNotNull())
             .groupBy("from_type", "to_type")
             .agg(F.count(F.lit(1)).alias("n")))
    tot = trans.groupBy("from_type").agg(F.sum("n").alias("t"))
    edges = (trans.join(tot, "from_type")
             .select("from_type", "to_type",
                     (F.col("n").cast("double")
                      / F.col("t").cast("double")).alias("p"))
             .localCheckpoint(eager=True))
    nodes = ev.select(F.col("event_type").alias("node")).distinct() \
        .localCheckpoint(eager=True)
    nn = nodes.agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
    pr = (nodes.crossJoin(nn)
          .select("node", (F.lit(1.0) / F.col("n_nodes")).alias("pr")))
    out_nodes = tot.select(F.col("from_type").alias("node"))
    for _ in range(PR_ITERS):
        contrib = (edges.join(pr, edges.from_type == pr.node)
                   .groupBy(F.col("to_type").alias("node"))
                   .agg((F.sum(F.floor(F.col("pr") * F.col("p")
                                       * F.lit(1000000000000) + 0.5)
                               .cast("long")).cast("double")
                         / F.lit(1000000000000)).alias("inflow")))
        dang = (pr.join(out_nodes, "node", "left_anti")
                .agg(F.coalesce(
                    F.sum(F.floor(F.col("pr") * F.lit(1000000000000)
                                  + 0.5).cast("long")).cast("double")
                    / F.lit(1000000000000), F.lit(0.0)).alias("m")))
        pr = (nodes.crossJoin(nn)
              .crossJoin(dang)
              .join(contrib, "node", "left")
              .select("node",
                      (F.lit(0.15) / F.col("n_nodes")
                       + F.lit(0.85)
                       * (F.coalesce(F.col("inflow"), F.lit(0.0))
                          + F.col("m") / F.col("n_nodes"))).alias("pr")))
    return pr.select(F.col("node").alias("event_type"),
                     F.round("pr", 6).alias("pagerank"))
