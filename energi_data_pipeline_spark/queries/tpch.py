"""TPC-H-derived analytic query shapes over the synthetic star schema.

The reference's parity surface (SURVEY.md §2) stops at one fact⋈dim
join; these queries promote the classic multi-way-join + aggregate
shapes (TPC-H Q1/Q3/Q5/Q10, adapted to the driver's column subset —
no partsupp, no comment/address columns) to first-class verified
operators, because they are the shapes that dominate a 100 TB
warehouse workload:

* Q1  — full-scan grouped aggregate (partial agg does ~all the work
        map-side; the shuffle carries 4 groups);
* Q3  — selective dim filter → fact join → top-k (takeOrdered
        instead of global sort);
* Q5  — 6-way snowflake join (region→nation broadcast; the big
        shuffle join is orders⋈lineitem);

* Q10 — join + group-by-customer + top-k revenue.

Broadcast policy (docs/DEPLOY.md): a broadcast hint appears ONLY on
sides whose size is bounded independent of scale factor (nation,
region).  A one-row side (Q15's best revenue, Q22's average balance)
carries none: the planner already sizes it at one row and broadcasts
it.  Customer, supplier and part — and any subset or per-key
aggregate of them — grow linearly with SF, so a hardcoded hint would
OOM the executors at 100 TB; those joins carry no hint and AQE
converts them to broadcast at runtime whenever the side is actually
small (plan-asserted in tests/test_plan_shapes.py).  A side that
scales with the data but should broadcast while it fits goes through
the one budget gate, ``io.broadcast_within_budget``.

Float parity: money sums go through DECIMAL(38,10) (exact,
order-independent); averages divide the exact decimal by the count
in DOUBLE and round to 6.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .core import dsum, t
from . import query

# ------------------------------------------------------------------ Q1
Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       ROUND(CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(38,10))) AS VARCHAR)
                  AS DOUBLE), 6) AS sum_qty,
       ROUND(CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,10))) AS VARCHAR)
                  AS DOUBLE), 6) AS sum_base_price,
       ROUND(CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                           AS DECIMAL(38,10))) AS VARCHAR)
                  AS DOUBLE), 6) AS sum_disc_price,
       ROUND(CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax)
                           AS DECIMAL(38,10))) AS VARCHAR)
                  AS DOUBLE), 6) AS sum_charge,
       ROUND(CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE)
             / COUNT(*), 6) AS avg_qty,
       ROUND(CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,10))) AS VARCHAR)
                  AS DOUBLE) / COUNT(*), 6) AS avg_price,
       ROUND(CAST(CAST(SUM(CAST(l_discount AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE)
             / COUNT(*), 6) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


@query("tpch_q1_pricing_summary", Q1_SQL)
def tpch_q1_pricing_summary(spark, sf_dir):
    """TPC-H Q1 shape: single-table grouped aggregate with derived
    measures.  4 output groups — partial (map-side) aggregation
    reduces ~everything before the shuffle, so the plan is scan-bound
    at any scale; the shipdate predicate pushes to parquet."""
    li = t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    n = F.count(F.lit(1))

    def davg(c, alias):
        return F.round(
            F.sum(c.cast("decimal(38,10)")).cast("double") / n, 6
        ).alias(alias)

    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00")
                  .cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(dsum(F.col("l_quantity"), "sum_qty"),
             dsum(F.col("l_extendedprice"), "sum_base_price"),
             dsum(disc_price, "sum_disc_price"),
             dsum(charge, "sum_charge"),
             davg(F.col("l_quantity"), "avg_qty"),
             davg(F.col("l_extendedprice"), "avg_price"),
             davg(F.col("l_discount"), "avg_disc"),
             n.alias("count_order"))
    )


# ------------------------------------------------------------------ Q3
Q3_DATE = "1996-06-30 00:00:00"

Q3_SQL = f"""
SELECT l_orderkey,
       ROUND(CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                           AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE), 6) AS revenue,
       o_orderdate, o_orderpriority
FROM customer, orders, lineitem
WHERE c_mktsegment = 'BUILDING'
  AND c_custkey = o_custkey
  AND l_orderkey = o_orderkey
  AND o_orderdate < TIMESTAMP '{Q3_DATE}'
  AND l_shipdate > TIMESTAMP '{Q3_DATE}'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


@query("tpch_q3_shipping_priority", Q3_SQL)
def tpch_q3_shipping_priority(spark, sf_dir):
    """TPC-H Q3 shape: selective dimension filter → fact join →
    global top-k.  The filtered customer keys are SF-proportional,
    so no broadcast hint — AQE broadcasts them at runtime when they
    fit; the top-10 runs as takeOrdered (per-partition heaps merged
    on the driver), never a global sort."""
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    cutoff = F.lit(Q3_DATE).cast("timestamp")
    building = cust.filter(F.col("c_mktsegment") == "BUILDING") \
                   .select("c_custkey")
    return (
        li.filter(F.col("l_shipdate") > cutoff)
        .join(orders.filter(F.col("o_orderdate") < cutoff)
              .join(building,
                    F.col("o_custkey") == F.col("c_custkey"))
              .select("o_orderkey", "o_orderdate", "o_orderpriority"),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")),
                  "revenue"))
        .select("l_orderkey", "revenue", "o_orderdate",
                "o_orderpriority")
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


# ------------------------------------------------------------------ Q5
Q5_SQL = """
SELECT n_name,
       ROUND(CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                           AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE), 6) AS revenue
FROM customer, orders, lineitem, supplier, nation, region
WHERE c_custkey = o_custkey
  AND l_orderkey = o_orderkey
  AND l_suppkey = s_suppkey
  AND c_nationkey = s_nationkey
  AND s_nationkey = n_nationkey
  AND n_regionkey = r_regionkey
  AND r_name = 'EUROPE'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n_name
"""


@query("tpch_q5_local_supplier", Q5_SQL)
def tpch_q5_local_supplier(spark, sf_dir):
    """TPC-H Q5 shape: 6-way snowflake join with the co-location
    constraint c_nationkey = s_nationkey.  Only the bounded
    region→nation chain carries a broadcast hint; supplier and
    customer are SF-proportional, so their joins are unhinted and
    AQE broadcasts them at runtime while they fit.  The big shuffle
    join is orders⋈lineitem on orderkey — at 100 TB that is the
    single unavoidable fact repartition."""
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    supp = t(spark, sf_dir, "supplier")
    nation = t(spark, sf_dir, "nation")
    region = t(spark, sf_dir, "region")
    nations = (nation.join(
        F.broadcast(region.filter(F.col("r_name") == "EUROPE")),
        F.col("n_regionkey") == F.col("r_regionkey"))
        .select("n_nationkey", "n_name"))
    supp_n = supp.join(F.broadcast(nations),
                       F.col("s_nationkey") == F.col("n_nationkey")) \
                 .select("s_suppkey", "s_nationkey", "n_name")
    o_filt = orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00")
         .cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00")
           .cast("timestamp")))
    o_cust = o_filt.join(cust,
                         F.col("o_custkey") == F.col("c_custkey")) \
                   .select("o_orderkey", "c_nationkey")
    return (
        li.join(o_cust, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(supp_n,
              (F.col("l_suppkey") == F.col("s_suppkey"))
              & (F.col("c_nationkey") == F.col("s_nationkey")))
        .groupBy("n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")),
                  "revenue"))
    )


# ----------------------------------------------------------------- Q10
Q10_SQL = """
SELECT c_custkey, c_name,
       ROUND(CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                           AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE), 6) AS revenue,
       c_acctbal, n_name
FROM customer, orders, lineitem, nation
WHERE c_custkey = o_custkey
  AND l_orderkey = o_orderkey
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
  AND l_returnflag = 'R'
  AND c_nationkey = n_nationkey
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


@query("tpch_q10_returned_items", Q10_SQL)
def tpch_q10_returned_items(spark, sf_dir):
    """TPC-H Q10 shape: returned-item revenue per customer, top-20.
    Quarter-filtered orders join lineitem on orderkey (shuffle);
    customer (unhinted — SF-proportional, AQE decides) and nation
    (hinted — bounded) enrich the aggregated result AFTER the
    group-by, keeping the shuffle rows narrow."""
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    nation = t(spark, sf_dir, "nation")
    o_filt = orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00")
         .cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01 00:00:00")
           .cast("timestamp"))).select("o_orderkey", "o_custkey")
    rev_per_cust = (
        li.filter(F.col("l_returnflag") == "R")
        .join(o_filt, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_custkey")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")),
                  "revenue"))
    )
    enriched = (
        rev_per_cust
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation),
              F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
    )
    return enriched.orderBy(F.col("revenue").desc(), "c_custkey") \
                   .limit(20)


# ------------------------------------------------------------------ Q6
Q6_SQL = """
SELECT ROUND(CAST(CAST(SUM(CAST(l_extendedprice * l_discount
                        AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE), 6)
       AS revenue,
       COUNT(*) AS n_rows
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


@query("tpch_q6_forecast_revenue", Q6_SQL)
def tpch_q6_forecast_revenue(spark, sf_dir):
    """TPC-H Q6 shape: pure scan-filter-aggregate, zero joins.  All
    three predicates push to the parquet reader (min/max row-group
    skipping on shipdate) and the single scalar aggregate reduces
    map-side — the 100 TB plan is one scan stage and a 1-row
    shuffle."""
    li = t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00")
             .cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00")
               .cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24))
        .agg(dsum(F.col("l_extendedprice") * F.col("l_discount"),
                  "revenue"),
             F.count(F.lit(1)).alias("n_rows"))
    )


# ----------------------------------------------------------------- Q14
Q14_SQL = """
SELECT ROUND(
         100.0 * CAST(CAST(SUM(CAST(CASE WHEN p_type = 'PROMO'
                       THEN l_extendedprice * (1 - l_discount)
                       ELSE 0 END AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE)
               / CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                       AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE), 6)
       AS promo_revenue
FROM lineitem, part
WHERE l_partkey = p_partkey
  AND l_shipdate >= TIMESTAMP '1996-03-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
"""


@query("tpch_q14_promo_effect", Q14_SQL)
def tpch_q14_promo_effect(spark, sf_dir):
    """TPC-H Q14 shape: conditional aggregation over a fact⋈dim join.
    The month filter prunes lineitem first; part is SF-proportional,
    so the join is unhinted — AQE broadcasts the pruned 2-column part
    side while it fits, and falls back to a shuffle join beyond that
    instead of OOMing.  Partial agg reduces to a single row either
    way."""
    li = t(spark, sf_dir, "lineitem")
    part = t(spark, sf_dir, "part")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", disc).otherwise(F.lit(0.0))
    filtered = li.filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01 00:00:00")
         .cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00")
           .cast("timestamp")))
    joined = filtered.join(
        part.select("p_partkey", "p_type"),
        F.col("l_partkey") == F.col("p_partkey"))
    num = F.sum(promo.cast("decimal(38,10)")).cast("double")
    den = F.sum(disc.cast("decimal(38,10)")).cast("double")
    return joined.agg(
        F.round(100.0 * num / den, 6).alias("promo_revenue"))


# ----------------------------------------------------------------- Q17
Q17_SQL = """
SELECT ROUND(CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,10)))
                  AS VARCHAR) AS DOUBLE) / 7.0, 6) AS avg_yearly,
       COUNT(*) AS n_rows
FROM lineitem, part
WHERE p_partkey = l_partkey
  AND p_brand = 'Brand#4'
  AND l_quantity < (SELECT 0.2 * AVG(l_quantity)
                    FROM lineitem l2
                    WHERE l2.l_partkey = p_partkey)
"""


@query("tpch_q17_small_qty_revenue", Q17_SQL)
def tpch_q17_small_qty_revenue(spark, sf_dir):
    """TPC-H Q17 shape: correlated aggregate subquery decorrelated
    into a per-part average join.  The per-partkey AVG output has
    part cardinality (SF-proportional), so neither it nor the brand
    filter carries a broadcast hint — AQE picks broadcast at runtime
    while they fit; the correlated subquery never re-executes per row
    (the classic decorrelation Catalyst also applies to
    IN/EXISTS)."""
    li = t(spark, sf_dir, "lineitem")
    part = t(spark, sf_dir, "part")
    brand_parts = part.filter(F.col("p_brand") == "Brand#4") \
                      .select("p_partkey")
    # per-part avg over ALL lineitem (the subquery is not brand-
    # filtered on the inside in TPC-H; keep the same semantics)
    avg_qty = (li.groupBy("l_partkey")
               .agg((0.2 * F.avg("l_quantity")).alias("qty_cap"))
               .withColumnRenamed("l_partkey", "cap_partkey"))
    return (
        li.join(brand_parts,
                F.col("l_partkey") == F.col("p_partkey"))
        .join(avg_qty,
              F.col("l_partkey") == F.col("cap_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_cap"))
        .agg(F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(38,10)"))
                .cast("double") / 7.0, 6).alias("avg_yearly"),
             F.count(F.lit(1)).alias("n_rows"))
    )


# ----------------------------------------------------------------- Q18
Q18_QTY = 250

Q18_SQL = f"""
SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice,
       ROUND(CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(38,10)))
                  AS VARCHAR) AS DOUBLE), 6) AS total_qty
FROM customer, orders, lineitem
WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                     GROUP BY l_orderkey
                     HAVING SUM(l_quantity) > {Q18_QTY})
  AND c_custkey = o_custkey
  AND o_orderkey = l_orderkey
GROUP BY c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
"""


@query("tpch_q18_large_volume_customer", Q18_SQL)
def tpch_q18_large_volume_customer(spark, sf_dir):
    """TPC-H Q18 shape: HAVING-filtered semi-join back onto the fact.
    The per-order quantity sums reuse the SAME shuffle partitioning
    as the final group-by (both key on l_orderkey), so the plan pays
    one fact shuffle; the surviving (rare) large orders and the
    customer join are unhinted — AQE broadcasts whichever side is
    actually small at runtime."""
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")
    per_order = (li.groupBy("l_orderkey")
                 .agg(F.sum(F.col("l_quantity").cast("decimal(38,10)"))
                      .alias("oq"))
                 .filter(F.col("oq") > Q18_QTY)
                 .select(F.col("l_orderkey").alias("big_orderkey"),
                         F.round(F.col("oq").cast("double"), 6)
                         .alias("total_qty")))
    return (
        per_order
        .join(orders, F.col("big_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .select("c_custkey", "c_name", "o_orderkey", "o_orderdate",
                "o_totalprice", "total_qty")
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(100)
    )


# ------------------------------------------------------------------ Q4
Q4_SQL = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1996-04-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
GROUP BY o_orderpriority
"""


@query("tpch_q4_order_priority", Q4_SQL)
def tpch_q4_order_priority(spark, sf_dir):
    """TPC-H Q4 shape (dates adapted to the synthetic schema, which
    has no commit/receipt dates): priority counts over orders having
    at least one lineitem shipped after the order date.  The EXISTS
    decorrelates to a LEFT SEMI join on orderkey — one shuffle, and
    the semi join short-circuits per key instead of multiplying
    rows."""
    orders = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    o_filt = orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00")
         .cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01 00:00:00")
           .cast("timestamp")))
    shipped_late = (
        o_filt.join(
            li.select("l_orderkey", "l_shipdate"),
            (F.col("l_orderkey") == F.col("o_orderkey"))
            & (F.col("l_shipdate") > F.col("o_orderdate")),
            "left_semi"))
    return (shipped_late.groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("order_count")))


# ------------------------------------------------------------------ Q7
Q7_SQL = """
SELECT supp_nation, cust_nation, l_year,
       ROUND(CAST(CAST(SUM(CAST(volume AS DECIMAL(38,10))) AS VARCHAR)
                  AS DOUBLE), 6) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(EXTRACT(YEAR FROM l.l_shipdate) AS INTEGER) AS l_year,
         l.l_extendedprice * (1 - l.l_discount) AS volume
  FROM supplier s, lineitem l, orders o, customer c, nation n1, nation n2
  WHERE s.s_suppkey = l.l_suppkey
    AND o.o_orderkey = l.l_orderkey
    AND c.c_custkey = o.o_custkey
    AND s.s_nationkey = n1.n_nationkey
    AND c.c_nationkey = n2.n_nationkey
    AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
         OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
) shipping
GROUP BY supp_nation, cust_nation, l_year
"""


@query("tpch_q7_volume_shipping", Q7_SQL)
def tpch_q7_volume_shipping(spark, sf_dir):
    """TPC-H Q7 shape: bilateral trade volume between two nations by
    year.  The bounded nation filter broadcasts into supplier and
    customer; the tagged supplier/customer sides themselves are
    SF-proportional and join unhinted (AQE broadcasts them while
    they fit).  The symmetric nation-pair disjunction is applied
    AFTER both tags exist — no union of two mirrored plans."""
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")
    supp = t(spark, sf_dir, "supplier")
    nation = t(spark, sf_dir, "nation")
    pair = ["NATION_1", "NATION_2"]
    n = nation.filter(F.col("n_name").isin(pair))
    s_n = (supp.join(F.broadcast(n),
                     F.col("s_nationkey") == F.col("n_nationkey"))
           .select("s_suppkey", F.col("n_name").alias("supp_nation")))
    c_n = (cust.join(F.broadcast(n),
                     F.col("c_nationkey") == F.col("n_nationkey"))
           .select("c_custkey", F.col("n_name").alias("cust_nation")))
    o_c = (orders.join(c_n,
                       F.col("o_custkey") == F.col("c_custkey"))
           .select("o_orderkey", "cust_nation"))
    return (
        li.join(s_n, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o_c, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .select("supp_nation", "cust_nation",
                F.year("l_shipdate").cast("int").alias("l_year"),
                (F.col("l_extendedprice") * (1 - F.col("l_discount")))
                .alias("volume"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(dsum(F.col("volume"), "revenue"))
    )


# ----------------------------------------------------------------- Q13
Q13_SQL = """
SELECT c_count, COUNT(*) AS custdist
FROM (SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
      GROUP BY c.c_custkey) c_orders
GROUP BY c_count
"""


@query("tpch_q13_customer_distribution", Q13_SQL)
def tpch_q13_customer_distribution(spark, sf_dir):
    """TPC-H Q13 shape: two-level aggregation — orders per customer
    (LEFT join keeps zero-order customers), then the histogram of
    those counts.  First agg shuffles on custkey; the second input is
    customer-cardinality and its output is the tiny count histogram.
    This is THE skew-prone shape (power-law customers), which AQE's
    skew-join splitting handles without a manual salt."""
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count")))
    return (per_cust.groupBy("c_count")
            .agg(F.count(F.lit(1)).alias("custdist")))


# ----------------------------------------------------------------- Q22
#: every synthetic customer has orders, so the classic "never ordered"
#: anti-join is empty at any SF; "no order above this price" keeps the
#: identical NOT-EXISTS shape with a non-trivial result (88 @ sf0.01).
Q22_BIG_ORDER = 400_000

Q22_SQL = f"""
WITH avg_bal AS (
  SELECT AVG(c_acctbal) AS a FROM customer WHERE c_acctbal > 0.0),
eligible AS (
  SELECT c.c_custkey, c.c_nationkey, c.c_acctbal
  FROM customer c, avg_bal
  WHERE c.c_acctbal > avg_bal.a
    AND NOT EXISTS (SELECT 1 FROM orders o
                    WHERE o.o_custkey = c.c_custkey
                      AND o.o_totalprice > {Q22_BIG_ORDER}))
SELECT n.n_name AS nation, COUNT(*) AS numcust,
       ROUND(CAST(CAST(SUM(CAST(e.c_acctbal AS DECIMAL(38,10)))
                  AS VARCHAR) AS DOUBLE), 6) AS totacctbal
FROM eligible e JOIN nation n ON e.c_nationkey = n.n_nationkey
GROUP BY n.n_name
"""


@query("tpch_q22_global_sales_opportunity", Q22_SQL)
def tpch_q22_global_sales_opportunity(spark, sf_dir):
    """TPC-H Q22 shape (nation stands in for the phone country code
    the synthetic schema lacks): wealthy customers with no large
    order.  The scalar average broadcasts as a one-row cross join;
    the NOT EXISTS decorrelates to a LEFT ANTI join on custkey
    (anti-join side pre-filtered to large orders); nation broadcasts
    onto the (small) surviving set."""
    cust = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    nation = t(spark, sf_dir, "nation")
    avg_bal = (cust.filter(F.col("c_acctbal") > 0.0)
               .agg(F.avg("c_acctbal").alias("a")))
    eligible = (
        cust.crossJoin(avg_bal)
        .filter(F.col("c_acctbal") > F.col("a"))
        .join(orders.filter(F.col("o_totalprice") > Q22_BIG_ORDER)
              .select("o_custkey"),
              F.col("c_custkey") == F.col("o_custkey"), "left_anti"))
    return (
        eligible.join(F.broadcast(nation),
                      F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.count(F.lit(1)).alias("numcust"),
             dsum(F.col("c_acctbal"), "totacctbal"))
    )


# ------------------------------------------------------------------ Q8
Q8_SQL = """
WITH all_nations AS (
  SELECT CAST(EXTRACT(YEAR FROM o.o_orderdate) AS INTEGER) AS o_year,
         l.l_extendedprice * (1 - l.l_discount) AS volume,
         n2.n_name AS supp_nation
  FROM part p, supplier s, lineitem l, orders o, customer c,
       nation n1, nation n2, region r
  WHERE p.p_partkey = l.l_partkey
    AND s.s_suppkey = l.l_suppkey
    AND l.l_orderkey = o.o_orderkey
    AND o.o_custkey = c.c_custkey
    AND c.c_nationkey = n1.n_nationkey
    AND n1.n_regionkey = r.r_regionkey
    AND r.r_name = 'EUROPE'
    AND s.s_nationkey = n2.n_nationkey
    AND o.o_orderdate BETWEEN TIMESTAMP '1995-01-01 00:00:00'
                          AND TIMESTAMP '1996-12-31 00:00:00'
    AND p.p_type = 'STANDARD')
SELECT o_year,
       ROUND(
         CAST(CAST(SUM(CAST(CASE WHEN supp_nation = 'NATION_3'
                   THEN volume ELSE 0 END AS DECIMAL(38,10)))
              AS VARCHAR) AS DOUBLE)
         / CAST(CAST(SUM(CAST(volume AS DECIMAL(38,10)))
              AS VARCHAR) AS DOUBLE), 6) AS mkt_share
FROM all_nations
GROUP BY o_year
"""


@query("tpch_q8_national_market_share", Q8_SQL)
def tpch_q8_national_market_share(spark, sf_dir):
    """TPC-H Q8 shape: one nation's share of a part-type's trade
    volume into one region, by year.  Only the bounded nation/region
    sides carry broadcast hints; the part filter and the tagged
    supplier/customer sides are SF-proportional and join unhinted
    (AQE broadcasts them while they fit).  The big shuffle join is
    lineitem⋈orders; the share is a conditional-aggregate ratio over
    exact decimal sums."""
    part = t(spark, sf_dir, "part")
    supp = t(spark, sf_dir, "supplier")
    li = t(spark, sf_dir, "lineitem")
    orders = t(spark, sf_dir, "orders")
    cust = t(spark, sf_dir, "customer")
    nation = t(spark, sf_dir, "nation")
    region = t(spark, sf_dir, "region")
    europe_cust = (
        cust.join(F.broadcast(
            nation.join(F.broadcast(
                region.filter(F.col("r_name") == "EUROPE")),
                F.col("n_regionkey") == F.col("r_regionkey"))
            .select("n_nationkey")),
            F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey"))
    supp_n = (supp.join(F.broadcast(nation.select(
        F.col("n_nationkey").alias("sn_key"),
        F.col("n_name").alias("supp_nation"))),
        F.col("s_nationkey") == F.col("sn_key"))
        .select("s_suppkey", "supp_nation"))
    o_filt = (orders.filter(
        F.col("o_orderdate").between(
            F.lit("1995-01-01 00:00:00").cast("timestamp"),
            F.lit("1996-12-31 00:00:00").cast("timestamp")))
        .join(europe_cust,
              F.col("o_custkey") == F.col("c_custkey"))
        .select("o_orderkey",
                F.year("o_orderdate").cast("int").alias("o_year")))
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    flagged = (
        li.join(part
                .filter(F.col("p_type") == "STANDARD")
                .select("p_partkey"),
                F.col("l_partkey") == F.col("p_partkey"))
        .join(supp_n,
              F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o_filt, F.col("l_orderkey") == F.col("o_orderkey"))
        .select("o_year", vol.alias("volume"), "supp_nation"))
    num = F.sum(F.when(F.col("supp_nation") == "NATION_3",
                       F.col("volume")).otherwise(F.lit(0.0))
                .cast("decimal(38,10)")).cast("double")
    den = F.sum(F.col("volume").cast("decimal(38,10)")).cast("double")
    return (flagged.groupBy("o_year")
            .agg(F.round(num / den, 6).alias("mkt_share")))


# ----------------------------------------------------------------- Q15
Q15_SQL = """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         ROUND(CAST(CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                   AS DECIMAL(38,10))) AS VARCHAR) AS DOUBLE), 6)
           AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY l_suppkey)
SELECT s.s_suppkey, s.s_name, r.total_revenue
FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
"""


@query("tpch_q15_top_supplier", Q15_SQL)
def tpch_q15_top_supplier(spark, sf_dir):
    """TPC-H Q15 shape: the revenue "view" aggregates per supplier,
    then the scalar MAX selects the top supplier(s).  The max is a
    one-row broadcast back onto the supplier-cardinality aggregate
    (never the fact table); the supplier join itself is unhinted
    (SF-proportional side, AQE decides); equality compares the
    ROUNDED decimal sum, so both engines pick the same winner even
    on exact revenue ties."""
    li = t(spark, sf_dir, "lineitem")
    supp = t(spark, sf_dir, "supplier")
    revenue = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00")
             .cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00")
               .cast("timestamp")))
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")),
                  "total_revenue")))
    best = revenue.agg(F.max("total_revenue").alias("best"))
    return (
        revenue.crossJoin(best)
        .filter(F.col("total_revenue") == F.col("best"))
        .join(supp,
              F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue"))
