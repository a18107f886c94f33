"""Relational core: joins, aggregations, window functions, rollups over
the driver's TPC-H-ish tables.

The reference has no SQL path (SURVEY.md §2A "explicit absences") — its
relational power is keyBy + windowed/keyed aggregates + windowed joins.
This module (a) exercises those primitives in batch form over real
tables and (b) claims the Spark-native superset (sort/limit/top-k,
rollup, multi-way joins) that the reference lacks.

Float-parity convention (see registry docstring): aggregate double
columns as DECIMAL(18,4) (exact, order-insensitive), then round and cast
back to DOUBLE identically in Spark and DuckDB.

Scale notes: all joins here either broadcast a dimension (nation,
region, supplier, customer at 1/10th lineitem cardinality) or join on
the natural key with AQE handling skew; aggregations are partial+final.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F

from trisk_spark.catalog import table
from trisk_spark.registry import register


def dsum(col: Column, scale: int = 2) -> Column:
    """Order-insensitive exact sum of a double column: sum as decimal,
    round, cast back to double. Mirrors the SQL oracle expression
    CAST(ROUND(SUM(CAST(x AS DECIMAL(18,4))), s) AS DOUBLE)."""
    return F.round(F.sum(col.cast("decimal(18,4)")), scale).cast("double")


_REVENUE = "CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))"

# ------------------------------------------------------------ TPC-H Q1 --

TPCH_Q1_SQL = f"""
SELECT
  l_returnflag,
  l_linestatus,
  CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_qty,
  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_base_price,
  CAST(ROUND(SUM({_REVENUE}), 2) AS DOUBLE) AS sum_disc_price,
  CAST(ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*), 4) AS DOUBLE) AS avg_qty,
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2024-01-25 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


@register("tpch_q1", oracle=TPCH_Q1_SQL)
def tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pricing summary report: grouped sums/averages over lineitem.
    Plan: scan with pushed filter + partial agg map-side, single shuffle
    on the 2-value grouping key."""
    li = table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") <= F.lit("2024-01-25 00:00:00").cast("timestamp")
    )
    revenue = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,6)"
    )
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        dsum(F.col("l_quantity")).alias("sum_qty"),
        dsum(F.col("l_extendedprice")).alias("sum_base_price"),
        F.round(F.sum(revenue), 2).cast("double").alias("sum_disc_price"),
        F.round(
            F.sum(F.col("l_quantity").cast("decimal(18,4)")).cast("double")
            / F.count("*"),
            4,
        )
        .cast("double")
        .alias("avg_qty"),
        F.count("*").alias("count_order"),
    )


# ------------------------------------------------------------ TPC-H Q3 --

TPCH_Q3_SQL = f"""
SELECT
  l.l_orderkey AS orderkey,
  CAST(ROUND(SUM({_REVENUE.replace('l_', 'l.l_')}), 2) AS DOUBLE) AS revenue,
  o.o_orderdate AS orderdate
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
GROUP BY l.l_orderkey, o.o_orderdate
ORDER BY revenue DESC, orderkey
LIMIT 10
"""


def tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipping priority: top-10 highest-revenue BUILDING-segment orders.
    Plan: customer is the small side → broadcast into orders, then join
    lineitem on its natural key; top-k via TakeOrderedAndProject (no full
    sort shuffle).

    RETIRED to library-only status in r15 (the registry's sanctioned
    seat-freeing mechanism — r14 VERDICT next-round #1, the
    tpch_q7/q10/q14 precedent): the filtered multi-join decimal-agg
    kernel is driver-hash-gated by tpch_q5, the broadcast-dim top-k by
    tpch_q18/top_orders_per_customer, and the full oracle still runs
    every round via test_oracle_parity's library pass
    (``load_library``). q1/q5/q6/q18 remain the registered TPC-H
    rows."""
    c = table(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    revenue = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,6)"
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(F.col("l_orderkey").alias("orderkey"), F.col("o_orderdate").alias("orderdate"))
        .agg(F.round(F.sum(revenue), 2).cast("double").alias("revenue"))
        .select("orderkey", "revenue", "orderdate")
        .orderBy(F.desc("revenue"), "orderkey")
        .limit(10)
    )


# ------------------------------------------------------------ TPC-H Q5 --

TPCH_Q5_SQL = f"""
SELECT
  n.n_name AS nation,
  CAST(ROUND(SUM({_REVENUE.replace('l_', 'l.l_')}), 2) AS DOUBLE) AS revenue
FROM customer c
JOIN orders o   ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
JOIN nation n   ON s.s_nationkey = n.n_nationkey
JOIN region r   ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
GROUP BY n.n_name
"""


@register("tpch_q5", oracle=TPCH_Q5_SQL)
def tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local supplier volume: revenue by nation for one region.
    Plan: region→nation→supplier all broadcast (tiny dims); the only big
    shuffle is lineitem⋈orders on orderkey; final agg on 25 keys."""
    sf = lambda n: table(spark, sf_dir, n)  # noqa: E731
    revenue = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,6)"
    )
    return (
        sf("lineitem")
        .join(sf("orders"), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(sf("customer")), F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(sf("supplier")),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(sf("nation")), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(sf("region")), F.col("n_regionkey") == F.col("r_regionkey"))
        .where(F.col("r_name") == "ASIA")
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.round(F.sum(revenue), 2).cast("double").alias("revenue"))
    )


# ------------------------------------------- keyed aggregates (§2A) --

# argmin/argmax ignore NULL measurements (the CASE makes the aggregate
# skip them, matching SQL MIN/MAX null semantics): without it Spark
# sorts a NULL struct field FIRST and DuckDB LAST, so a NULL-valued
# event silently flips which event_id wins.
KEYED_AGG_SQL = """
SELECT
  user_id,
  COUNT(*) AS n_events,
  CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_value,
  CAST(MIN(value) AS DOUBLE) AS min_value,
  CAST(MAX(value) AS DOUBLE) AS max_value,
  MAX(CASE WHEN value IS NOT NULL THEN {'v': value, 'e': event_id} END).e
    AS max_value_event,
  MIN(CASE WHEN value IS NOT NULL THEN {'v': value, 'e': event_id} END).e
    AS min_value_event
FROM events
GROUP BY user_id
"""


@register("keyed_agg", oracle=KEYED_AGG_SQL)
def keyed_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KeyedStream.sum/min/max/minBy/maxBy (KeyedStream.java:731-875;
    used at WordCount.java:72) as one grouped aggregate per user.
    minBy/maxBy are lexicographic struct MIN/MAX so ties on value break
    deterministically by event_id (bare max_by is tie-nondeterministic).
    Plan: partial agg map-side, single shuffle on user_id."""
    ev = table(spark, sf_dir, "events")
    # NULL-valued events never win argmin/argmax (see KEYED_AGG_SQL)
    ve = F.when(
        F.col("value").isNotNull(),
        F.struct(F.col("value").alias("v"), F.col("event_id").alias("e")),
    )
    return ev.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        dsum(F.col("value")).alias("sum_value"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
        F.max(ve).getField("e").alias("max_value_event"),
        F.min(ve).getField("e").alias("min_value_event"),
    )


RUNNING_REDUCE_SQL = """
SELECT
  user_id,
  event_id,
  CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4)))
        OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS UNBOUNDED PRECEDING), 2) AS DOUBLE) AS running_total
FROM events WHERE ts IS NOT NULL
"""


@register("keyed_running_reduce", oracle=RUNNING_REDUCE_SQL)
def keyed_running_reduce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KeyedStream.reduce (KeyedStream.java:691): the batch image of a
    per-key running reduce is the prefix aggregate in event-time order —
    every intermediate emission the streaming operator would produce.
    Plan: one shuffle + per-partition sort on (user_id, ts)."""
    ev = table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.round(F.sum(F.col("value").cast("decimal(18,4)")).over(w), 2)
        .cast("double")
        .alias("running_total"),
    )


# ------------------------------------------------- windowed analytics --

TOP_ORDERS_PER_CUSTOMER_SQL = """
SELECT o_custkey, o_orderkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
)
WHERE rn <= 3
"""


@register("top_orders_per_customer", oracle=TOP_ORDERS_PER_CUSTOMER_SQL)
def top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders by price per customer (top-k per key — absent from
    the reference's DataStream API, claimed as Spark superset).
    Plan: single shuffle on custkey; rank prunes before any join."""
    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), "o_orderkey")
    return (
        o.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice")
    )


REVENUE_ROLLUP_SQL = f"""
SELECT
  l_returnflag,
  l_linestatus,
  CAST(ROUND(SUM({_REVENUE}), 2) AS DOUBLE) AS revenue
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def revenue_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup aggregation (grouping sets — absent from the reference,
    Spark superset). Plan: single expand + shuffle. RETIRED to
    library-only in r16 (the R16 seat trade): its decimal scan-agg
    kernel is driver-hash-gated by ``tpch_q1``; the full oracle keeps
    running in ``load_library``'s parity pass every round."""
    li = table(spark, sf_dir, "lineitem")
    revenue = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,6)"
    )
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.round(F.sum(revenue), 2).cast("double").alias("revenue")
    )


# -------------------------------------------------- event-time windows --

# ts IS NOT NULL on both engines: an event without event time has no
# window (Spark's window() drops it; an unfiltered oracle would emit a
# phantom NULL-window group).
TUMBLING_REVENUE_SQL = """
SELECT
  CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start,
  event_type,
  COUNT(*) AS n,
  CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_value
FROM events WHERE ts IS NOT NULL
GROUP BY CAST(date_trunc('day', ts) AS TIMESTAMP), event_type
"""


@register("tumbling_window_agg", oracle=TUMBLING_REVENUE_SQL)
def tumbling_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time window aggregate
    (TumblingEventTimeWindows.java:46, used Query8.java:114): daily
    count+sum per event_type. Plan: one shuffle, partial agg map-side."""
    ev = table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    return (
        ev.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), dsum(F.col("value")).alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"), "event_type", "n", "total_value"
        )
    )


# ------------------------------------------- semi / anti joins -------
# The reference has NO semi/anti join (SURVEY §2A "Not present" row) —
# Spark superset, pinned here so the capability is tested.

SEMI_JOIN_SQL = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey AND l_discount > 0.06
  )
GROUP BY o_orderpriority
"""


@register("semi_join_orders", oracle=SEMI_JOIN_SQL)
def semi_join_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-shaped LEFT SEMI join (EXISTS): priorities of orders
    having at least one deeply-discounted line.

    Plan: the discount filter pushes into the lineitem scan; the semi
    join dedups matches engine-side (no distinct materialization) and
    only orders columns survive; one final single-column shuffle for
    the count."""
    orders = table(spark, sf_dir, "orders")
    disc = table(spark, sf_dir, "lineitem").where(F.col("l_discount") > 0.06)
    return (
        orders.join(disc, orders.o_orderkey == disc.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


CUSTOMERS_NO_ORDERS_SQL = """
SELECT c_nationkey, COUNT(*) AS n_customers
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY c_nationkey
"""


def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join (NOT EXISTS): customers that never ordered,
    counted per nation. Anti join streams the probe side; only the
    custkey column of orders is read (column pruning through the anti
    join). RETIRED to library-only in r16 (the R16 seat trade): the
    left-anti kernel is driver-hash-gated by the curation-manifest
    family's anti-join staging every round; the full oracle keeps
    running in ``load_library``'s parity pass."""
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders").select("o_custkey")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("n_customers"))
    )


TPCH_Q6_SQL = """
SELECT CAST(ROUND(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
FROM lineitem
WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


@register("tpch_q6", oracle=TPCH_Q6_SQL)
def tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 forecasting revenue: the canonical pushdown probe —
    every predicate reaches the parquet scan (PushedFilters), only
    3 columns are read, and the single global aggregate needs a
    one-row shuffle. The product is cast to DECIMAL before summing so
    the result is order-insensitive on both engines (testdata dates
    span 1995–2001, so the 1996 year filter is selective, not empty)."""
    li = table(spark, sf_dir, "lineitem")
    return li.where(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.round(
            F.sum(
                (F.col("l_extendedprice") * F.col("l_discount")).cast(
                    "decimal(18,6)"
                )
            ),
            2,
        )
        .cast("double")
        .alias("revenue")
    )


# ------------------------------------------- deeper TPC-H coverage --
# (adapted to the driver's reduced schemas: no partsupp table, no
# shipmode/commitdate columns — queries needing those are out of scope)

TPCH_Q7_SQL = f"""
SELECT supp_nation, cust_nation, l_year,
  CAST(ROUND(SUM(volume), 2) AS DOUBLE) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         EXTRACT(year FROM l.l_shipdate) AS l_year,
         {_REVENUE.replace('l_', 'l.l_')} AS volume
  FROM supplier s
  JOIN lineitem l ON s.s_suppkey = l.l_suppkey
  JOIN orders o   ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
  JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
  WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
)
GROUP BY supp_nation, cust_nation, l_year
"""


def tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 volume shipping: bilateral trade revenue by year between
    two nations (testdata names: NATION_1/NATION_2). Plan: both nation joins and supplier/customer broadcast
    (dims are 1/10th lineitem); the disjunctive nation pair filter prunes
    before the big lineitem⋈orders shuffle; 3-key final agg is tiny.

    RETIRED to library-only status in r14 (the registry's sanctioned
    seat-freeing mechanism — r13 VERDICT next-round #1): the filtered
    multi-join decimal-agg kernel is driver-hash-gated by tpch_q3/
    tpch_q5, the broadcast-dim join by tpch_q18, and the full oracle
    still runs every round via test_oracle_parity's library pass
    (``load_library``)."""
    sf = lambda n: table(spark, sf_dir, n)  # noqa: E731
    n1 = sf("nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = sf("nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    revenue = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,6)"
    )
    return (
        sf("lineitem")
        .join(sf("orders"), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(sf("supplier")), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(sf("customer")), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .where(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(F.round(F.sum(revenue), 2).cast("double").alias("revenue"))
    )


TPCH_Q10_SQL = f"""
SELECT c.c_custkey, c.c_name,
  CAST(ROUND(SUM({_REVENUE.replace('l_', 'l.l_')}), 2) AS DOUBLE) AS revenue,
  CAST(c.c_acctbal AS DOUBLE) AS c_acctbal, n.n_name AS nation
FROM customer c
JOIN orders o   ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n   ON c.c_nationkey = n.n_nationkey
WHERE o.o_orderdate >= DATE '1996-01-01' AND o.o_orderdate < DATE '1996-04-01'
  AND l.l_returnflag = 'R'
GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
ORDER BY revenue DESC, c.c_custkey
LIMIT 20
"""


def tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 returned-item reporting: top-20 customers by lost
    revenue on returned items in one quarter. Plan: date filter pushes
    into the orders scan and returnflag into lineitem before their
    shuffle join; customer+nation broadcast onto the aggregate's output
    side; top-k via TakeOrderedAndProject (no global sort).

    RETIRED to library-only status in r13 (the registry's sanctioned
    seat-freeing mechanism — r12 VERDICT next-round #2): every kernel
    here is driver-hash-gated by the remaining relational rows
    (filtered multi-join decimal agg: tpch_q5 + tpch_q7 + tpch_q3;
    broadcast-dim top-k: tpch_q18 / top_orders_per_customer), and the
    full oracle still runs every round via test_oracle_parity's
    library pass (``load_library``)."""
    sfn = lambda n: table(spark, sf_dir, n)  # noqa: E731
    o = sfn("orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1996-04-01"))
    )
    li = sfn("lineitem").where(F.col("l_returnflag") == "R")
    revenue = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,6)"
    )
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(sfn("customer")), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(sfn("nation")), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(
            "c_custkey",
            "c_name",
            F.col("c_acctbal").cast("double").alias("c_acctbal"),
            F.col("n_name").alias("nation"),
        )
        .agg(F.round(F.sum(revenue), 2).cast("double").alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "nation")
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


TPCH_Q14_SQL = f"""
SELECT CAST(ROUND(
    100.00 * CAST(SUM(CASE WHEN p.p_type LIKE 'PROMO%%'
                           THEN {_REVENUE.replace('l_', 'l.l_')} ELSE 0 END) AS DOUBLE)
           / CAST(SUM({_REVENUE.replace('l_', 'l.l_')}) AS DOUBLE), 4) AS DOUBLE)
  AS promo_revenue
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= DATE '1996-01-01' AND l.l_shipdate < DATE '1996-02-01'
"""


def tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 promotion effect: percent of one month's revenue from
    PROMO parts — conditional aggregation through a join. Plan: the
    month filter pushes into the lineitem scan, part broadcasts, and the
    single global agg combines both sums in one pass (no second scan).

    RETIRED to library-only status in r14 (the registry's sanctioned
    seat-freeing mechanism — r13 VERDICT next-round #1): the
    conditional-agg-through-broadcast-join kernel is driver-hash-gated
    by tpch_q3/tpch_q5 (filtered multi-join decimal agg class), and the
    full oracle still runs every round via test_oracle_parity's library
    pass (``load_library``)."""
    li = table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1996-02-01"))
    )
    p = table(spark, sf_dir, "part")
    revenue = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,6)"
    )
    promo = F.when(F.col("p_type").like("PROMO%"), revenue).otherwise(
        F.lit(0).cast("decimal(18,6)")
    )
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(
                100.0 * F.sum(promo).cast("double") / F.sum(revenue).cast("double"),
                4,
            ).alias("promo_revenue")
        )
    )


TPCH_Q18_SQL = """
SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate,
  CAST(o.o_totalprice AS DOUBLE) AS o_totalprice,
  CAST(ROUND(SUM(CAST(l.l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_qty
FROM customer c
JOIN orders o   ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE o.o_orderkey IN (
  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
  HAVING SUM(CAST(l_quantity AS DECIMAL(18,4))) > 150
)
GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
"""


@register("tpch_q18", oracle=TPCH_Q18_SQL)
def tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 large-volume customers: orders whose total quantity
    exceeds a threshold (HAVING subquery → aggregate-then-semi-join).
    Plan: the qualifying-orderkey aggregate reuses lineitem's orderkey
    shuffle; its tiny output broadcasts as the semi-join side, so
    lineitem is scanned twice but shuffled on one key only."""
    li = table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,4)")).alias("q"))
        .where(F.col("q") > 150)
        .select("l_orderkey")
    )
    o = table(spark, sf_dir, "orders").join(
        F.broadcast(big.withColumnRenamed("l_orderkey", "bk")),
        F.col("o_orderkey") == F.col("bk"),
        "left_semi",
    )
    c = table(spark, sf_dir, "customer")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
        )
        .agg(dsum(F.col("l_quantity")).alias("total_qty"))
    )


# --------------------------------- decimal accumulators (Megaphone) --

DECIMAL_ACCUMULATORS_SQL = """
SELECT event_type,
  COUNT(*) AS n,
  CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 4) AS DOUBLE) AS total,
  CAST(MIN(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS min_amount,
  CAST(MAX(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS max_amount,
  CAST(ROUND(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*), 4)
       AS DOUBLE) AS avg_amount
FROM events
GROUP BY event_type
"""


@register("decimal_accumulators", oracle=DECIMAL_ACCUMULATORS_SQL)
def decimal_accumulators(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Megaphone accumulator library — BigDecimalCounter /
    BigDecimalMinimum / BigDecimalMaximum / average (reference
    examples/.../megaphone/dynamicrules/accumulators/*.java, SURVEY §2A
    'Accumulator library') — as exact DECIMAL aggregates per rule key.
    Accumulation is exact DECIMAL (arbitrary-order arithmetic, the whole
    point of BigDecimal accumulators); the emitted columns are rounded
    and cast to DOUBLE per the registry parity convention, because the
    driver's value-hash canonicalizes raw DECIMAL differently per engine.
    Plan: partial agg map-side, one shuffle on the group key."""
    ev = table(spark, sf_dir, "events")
    d = F.col("value").cast("decimal(18,4)")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.round(F.sum(d), 4).cast("double").alias("total"),
        F.min(d).cast("double").alias("min_amount"),
        F.max(d).cast("double").alias("max_amount"),
        F.round(F.sum(d).cast("double") / F.count("*"), 4).alias("avg_amount"),
    )


# --------------------------------- AllWindowedStream (non-keyed) --

ALL_WINDOW_AGG_SQL = """
SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start,
  COUNT(*) AS n,
  CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_value
FROM events WHERE ts IS NOT NULL
GROUP BY CAST(date_trunc('hour', ts) AS TIMESTAMP)
"""


@register("all_window_agg", oracle=ALL_WINDOW_AGG_SQL)
def all_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AllWindowedStream (DataStream.java:787-860): non-keyed tumbling
    window over the whole stream. Flink runs this at parallelism 1; in
    Spark the window-start IS the grouping key, so partial aggregation
    stays fully parallel and only the per-window partials shuffle —
    strictly better than the reference's single-task bottleneck at
    100 TB."""
    ev = table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count("*").alias("n"), dsum(F.col("value")).alias("total_value"))
        .select(F.col("w.start").alias("window_start"), "n", "total_value")
    )


# --------------------------------------- JSON props extraction ------

# Hostile-props hardening, round 2. Parser-based extraction is NOT
# oracle-verifiable on hostile input: Spark's get_json_object is
# LENIENT (accepts single quotes, trailing garbage; rejects trailing
# commas) where DuckDB's json parser is strict the OTHER way — the two
# parsers disagree on several malformed shapes, and an unbounded
# integral k still hard-kills the ANSI cast on both engines. So the
# field is pulled with ONE dialect-identical regex on both engines:
# explicit whitespace class (Java \\s includes \\x0B, RE2's does not),
# digits bounded at 18 (inside int64), no JSON parser in the path. A
# payload that does not carry a plainly-integral "k" contributes NULL.
# At 100 TB the real answer is promoting hot fields to columns at
# ingest — this regex IS that promotion expressed as a query.
# trailing [^0-9.] stops a float k ("k": 2.9) from truncating to its
# integer prefix; a plain $ would re-open the Java-$-before-newline gap.
# Known false-positive class: the regex matches the LEFTMOST '"k":<int>'
# anywhere in the payload, so a k-shaped substring embedded inside a
# JSON *string value* (e.g. {"note": "\"k\": 55", "k": 7}) extracts the
# embedded 55, not the real field. Both engines run the identical regex
# so parity holds; if semantic accuracy on such payloads mattered, the
# ingest-time column promotion (or a strict json_valid gate) is the fix.
_PROPS_K_RE = '"k"[ \\t\\n\\r]*:[ \\t\\n\\r]*(-?[0-9]{1,18})[^0-9.]'

PROPS_ROLLUP_SQL = f"""
WITH kv AS (
  SELECT event_type,
    CASE WHEN regexp_extract(props, '{_PROPS_K_RE}', 1) <> ''
         THEN CAST(regexp_extract(props, '{_PROPS_K_RE}', 1) AS BIGINT)
    END AS k
  FROM events
)
SELECT event_type,
  COUNT(*) AS n,
  CAST(SUM(k) AS BIGINT) AS k_total,
  MIN(k) AS k_min,
  MAX(k) AS k_max
FROM kv
GROUP BY event_type
"""


@register("props_rollup", oracle=PROPS_ROLLUP_SQL)
def props_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-payload field access over events (the reference's scalar-fn
    surface includes JSON field access — SURVEY §2A 'scalar fns'):
    extract props.k and aggregate per event type. Extraction is a
    bounded dialect-identical regex rather than a JSON parser — Spark's
    lenient get_json_object and DuckDB's strict parser disagree on
    several malformed shapes (see PROPS_ROLLUP_SQL comment), and at
    100 TB one promotes hot JSON fields to typed columns at ingest
    anyway; this regex IS that promotion expressed as a query.

    Plan: map-side field extraction, one shuffle on event_type."""
    ev = table(spark, sf_dir, "events")
    # dialect-identical regex extraction on both engines — see
    # PROPS_ROLLUP_SQL comment (JSON parsers disagree on hostile
    # payloads; bounded digits keep the cast ANSI-safe)
    ks = F.regexp_extract("props", _PROPS_K_RE, 1)
    k = F.when(ks != "", ks.cast("bigint"))
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(k).alias("k_total"),
        F.min(k).alias("k_min"),
        F.max(k).alias("k_max"),
    )
