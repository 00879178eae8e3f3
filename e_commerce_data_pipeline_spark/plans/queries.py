"""The analytic query suite: every query is a (PySpark fn, DuckDB oracle)
pair; the driver runs both at sf0.01 and diffs row-count + schema +
order-insensitive value hash.

Determinism rules (see functions/__init__.py):
- money aggregates via per-row fixed-point -> exact int sums;
- timestamps compared/grouped via ``epoch_us`` integers or formatted
  strings, never raw timestamp values;
- every window/top-k ordering carries a unique-key tiebreak;
- DuckDB SUM(integer) returns HUGEINT -> always CAST(... AS BIGINT)
  in the oracle so schemas line up;
- no current_timestamp in oracle-gated queries (fixed NOW constant).

Scale posture (100 TB): joins put the big fact (lineitem/events) on the
probe side; only bounded-cardinality dims carry an explicit broadcast
hint (catalog.BROADCAST_DIMS: region/nation/supplier — part and
customer grow with the fact side, so their joins rely on AQE's sized
broadcast decision instead, plan-tested at bench scale); aggregations
are expressed so Catalyst runs partial aggregation map-side; windows
partition by high-cardinality keys (user_id, o_orderkey) so state is
bounded per key and the shuffle is even.
"""

from __future__ import annotations

import gzip
import os
import zlib
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions import (
    epoch_us,
    fixed_avg,
    fixed_sum,
    line_charge,
    line_revenue,
    to_fixed,
)

# Fixed reference clock for staleness/freshness checks so both engines
# (and repeated runs) agree. Events span 2024-01-01..2024-01-30.
NOW = "2024-01-30 00:00:00"
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")

# Scratch dir for oracle-shared artifacts: some inputs (the synthetic
# generator's output, seeded LSH hyperplanes) aren't reproducible in
# SQL, but ARE deterministic — those queries materialize them here and
# the oracle reads the same files. The driver (like
# tests/oracle_diff.py) runs the Spark side first, so the files exist
# before DuckDB reads them. Env-overridable (baked into the oracle SQL
# strings at import) so CONCURRENT processes — e.g. pytest at sf0.001
# next to a driver sweep at sf0.01 — can't rewrite each other's
# artifacts mid-read: that race produced a false q129 FAIL in round 6.
ORACLE_SCRATCH = os.environ.get(
    "SPARK_GRAFT_ORACLE_SCRATCH", "/tmp/spark_graft_oracle"
)


def _write_scratch_vectors(name: str, id_field: str, rows) -> None:
    """Write a tiny driver-side (id, coeffs) table to the oracle
    scratch dir with pyarrow directly — these are 4-8 row artifacts
    (LSH planes, IVF codebooks), and a Spark parquet write would cost
    a full job schedule (~1s) inside a timed query."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    import shutil

    d = f"{ORACLE_SCRATCH}/{name}"
    shutil.rmtree(d, ignore_errors=True)  # no stale part files in the glob
    os.makedirs(d, exist_ok=True)
    table = pa.table(
        {
            id_field: pa.array(range(len(rows)), type=pa.int32()),
            "coeffs": pa.array(
                [[float(x) for x in row] for row in rows],
                type=pa.list_(pa.float64()),
            ),
        }
    )
    pq.write_table(table, f"{d}/part-0.parquet")


# hash_uniform's DuckDB mirror: first 8 md5 hex chars as a 32-bit
# integer fraction (DuckDB parses '0x'-prefixed varchar casts)
def _sql_hash_uniform(salt: str, key: str) -> str:
    return (
        f"(('0x' || substr(md5('{salt}:' || CAST({key} AS VARCHAR)), 1, 8))"
        f"::BIGINT) / 4294967296.0"
    )


@dataclass
class QuerySpec:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    description: str = ""
    bench: bool = True  # include in bench.py timing loop


QUERIES: dict[str, QuerySpec] = {}


def _register(name, oracle, description="", bench=True):
    def deco(fn):
        QUERIES[name] = QuerySpec(name, fn, oracle, description, bench)
        return fn

    return deco


def _t(spark, sf_dir, name):
    return load_table(spark, sf_dir, name)


# --------------------------------------------------------------------------
# Core analytics over the star schema (SURVEY §2.3 aggregations, §2.4 joins,
# §2.6 sorts/limits/set-ops, §2.5 W9 windows)
# --------------------------------------------------------------------------


@_register(
    "q01_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           SUM(CAST(round(l_quantity) AS BIGINT)) / 1.0 AS sum_qty,
           SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0 AS sum_base_price,
           SUM(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) / 10000.0 AS sum_disc_price,
           SUM(CAST(round(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 1000000) AS BIGINT)) / 1000000.0 AS sum_charge,
           SUM(CAST(round(l_quantity) AS BIGINT)) / 1.0 / COUNT(l_quantity) AS avg_qty,
           SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0 / COUNT(l_extendedprice) AS avg_price,
           SUM(CAST(round(l_discount * 100) AS BIGINT)) / 100.0 / COUNT(l_discount) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    "TPC-H Q1-style pricing summary: single-scan multi-aggregate",
)
def q01_pricing_summary(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            fixed_sum("l_quantity", 1, "sum_qty"),
            fixed_sum("l_extendedprice", 100, "sum_base_price"),
            fixed_sum(line_revenue(), 10_000, "sum_disc_price"),
            fixed_sum(line_charge(), 1_000_000, "sum_charge"),
            fixed_avg("l_quantity", 1, "avg_qty"),
            fixed_avg("l_extendedprice", 100, "avg_price"),
            fixed_avg("l_discount", 100, "avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@_register(
    "q02_revenue_by_nation",
    """
    SELECT r_name, n_name,
           SUM(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) / 10000.0 AS revenue,
           COUNT(DISTINCT o_orderkey) AS n_orders
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
    """,
    "5-way star join, revenue rollup by region/nation",
)
def q02_revenue_by_nation(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    # partial-agg pushdown below the fact-fact join: collapse lineitem
    # to one row per order first (4x fewer join rows; countDistinct
    # becomes a plain count over order-level rows)
    per_order = li.groupBy("l_orderkey").agg(
        F.sum(to_fixed(line_revenue(), 10_000)).alias("rev_fp")
    )
    return (
        per_order.join(o, per_order.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            (F.sum("rev_fp") / F.lit(10_000.0)).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


@_register(
    "q03_top_building_orders",
    """
    SELECT o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
           o_orderpriority,
           SUM(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) / 10000.0 AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1996-07-01'
      AND l_shipdate  > TIMESTAMP '1996-07-01'
    GROUP BY o_orderkey, orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
    """,
    "TPC-H Q3-style top-k unshipped revenue (filter + join + top-k)",
)
def q03_top_building_orders(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    cutoff = F.lit("1996-07-01").cast("timestamp")
    return (
        li.filter(F.col("l_shipdate") > cutoff)
        .join(o.filter(F.col("o_orderdate") < cutoff), li.l_orderkey == o.o_orderkey)
        .join(
            c.filter(F.col("c_mktsegment") == "BUILDING"),
            o.o_custkey == c.c_custkey,
        )
        .groupBy(
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .agg(fixed_sum(line_revenue(), 10_000, "revenue"))
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


@_register(
    "q04_mktsegment_revenue",
    """
    SELECT c_mktsegment,
           SUM(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) / 10000.0 AS revenue,
           COUNT(DISTINCT o_orderkey) AS n_orders,
           COUNT(*) AS n_lines
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
    "Flagship: revenue by market segment (fact-fact join + broadcast dim)",
)
def q04_mktsegment_revenue(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    # same partial-agg pushdown as q02: lineitem collapses to one row
    # per order before touching the orders side
    per_order = li.groupBy("l_orderkey").agg(
        F.sum(to_fixed(line_revenue(), 10_000)).alias("rev_fp"),
        F.count(F.lit(1)).alias("n_li"),
    )
    return (
        per_order.join(o, per_order.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            (F.sum("rev_fp") / F.lit(10_000.0)).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("n_li").alias("n_lines"),
        )
    )


@_register(
    "q05_late_ship_priority",
    """
    SELECT o_orderpriority, COUNT(*) AS n_orders
    FROM orders
    WHERE EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey
          AND l_shipdate > o_orderdate + INTERVAL 90 DAY
    )
    GROUP BY o_orderpriority
    """,
    "Semi-join (EXISTS): orders with any line shipped >90d after order",
)
def q05_late_ship_priority(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    late = o.join(
        li,
        (o.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("n_orders"))


@_register(
    "q06_promo_revenue",
    """
    SELECT SUM(CAST(round(l_extendedprice * l_discount * 10000) AS BIGINT)) / 10000.0 AS promo_revenue,
           COUNT(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 30
    """,
    "TPC-H Q6-style selective scan (predicate pushdown path)",
)
def q06_promo_revenue(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.03, 0.07)
            & (F.col("l_quantity") < 30)
        )
        .agg(
            fixed_sum(
                F.col("l_extendedprice") * F.col("l_discount"), 10_000, "promo_revenue"
            ),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@_register(
    "q07_customers_without_orders",
    """
    SELECT n_name, COUNT(*) AS n_customers
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    GROUP BY n_name
    """,
    "Anti-join: customers with no orders, by nation",
)
def q07_customers_without_orders(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    n = _t(spark, sf_dir, "nation")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .join(F.broadcast(n), F.col("c_nationkey") == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@_register(
    "q08_top_parts_per_brand",
    """
    WITH part_rev AS (
        SELECT p_brand, p_partkey,
               SUM(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) / 10000.0 AS revenue
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY p_brand, p_partkey
    )
    SELECT p_brand, p_partkey, revenue, rk
    FROM (
        SELECT *, CAST(row_number() OVER (PARTITION BY p_brand ORDER BY revenue DESC, p_partkey) AS BIGINT) AS rk
        FROM part_rev
    )
    WHERE rk <= 3
    """,
    "Top-k per group via ranking window (W9)",
)
def q08_top_parts_per_brand(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    rev = (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_partkey")
        .agg(fixed_sum(line_revenue(), 10_000, "revenue"))
    )
    w = Window.partitionBy("p_brand").orderBy(F.desc("revenue"), F.asc("p_partkey"))
    return (
        rev.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 3)
        .select("p_brand", "p_partkey", "revenue", "rk")
    )


@_register(
    "q09_order_reconciliation",
    """
    WITH calc AS (
        SELECT l_orderkey,
               SUM(CAST(round(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 1000000) AS BIGINT)) AS calc_micro
        FROM lineitem GROUP BY l_orderkey
    )
    SELECT COUNT(*) AS n_orders,
           CAST(SUM(CASE WHEN abs(calc_micro - CAST(round(o_totalprice * 1000000) AS BIGINT)) <= 10000 THEN 1 ELSE 0 END) AS BIGINT) AS n_within_1c,
           CAST(SUM(CASE WHEN abs(calc_micro - CAST(round(o_totalprice * 1000000) AS BIGINT)) <= 500000 THEN 1 ELSE 0 END) AS BIGINT) AS n_within_50c,
           CAST(SUM(CASE WHEN abs(calc_micro - CAST(round(o_totalprice * 1000000) AS BIGINT)) >  500000 THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatch,
           MAX(abs(calc_micro - CAST(round(o_totalprice * 1000000) AS BIGINT))) / 1000000.0 AS max_abs_diff
    FROM orders JOIN calc ON o_orderkey = l_orderkey
    """,
    "P9 order-total reconciliation at 1c/50c tolerance, exact fixed-point",
)
def q09_order_reconciliation(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    calc = li.groupBy("l_orderkey").agg(
        F.sum(to_fixed(line_charge(), 1_000_000)).alias("calc_micro")
    )
    diff = F.abs(F.col("calc_micro") - to_fixed("o_totalprice", 1_000_000))
    return (
        o.join(calc, o.o_orderkey == calc.l_orderkey)
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum((diff <= 10_000).cast("int")).cast("long").alias("n_within_1c"),
            F.sum((diff <= 500_000).cast("int")).cast("long").alias("n_within_50c"),
            F.sum((diff > 500_000).cast("int")).cast("long").alias("n_mismatch"),
            (F.max(diff) / F.lit(1_000_000.0)).alias("max_abs_diff"),
        )
    )


@_register(
    "q10_supplier_nation_revenue",
    """
    SELECT n_name,
           SUM(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) / 10000.0 AS revenue,
           COUNT(DISTINCT s_suppkey) AS n_suppliers
    FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    GROUP BY n_name
    """,
    "Supplier-side rollup (broadcast dim chain)",
)
def q10_supplier_nation_revenue(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    return (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            fixed_sum(line_revenue(), 10_000, "revenue"),
            F.countDistinct("s_suppkey").alias("n_suppliers"),
        )
    )


@_register(
    "q11_open_not_returned_customers",
    """
    SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'O'
    EXCEPT
    SELECT o_custkey FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_returnflag = 'R'
    """,
    "Set op (EXCEPT): customers with open orders and no returns",
)
def q11_open_not_returned_customers(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    open_cust = (
        o.filter(F.col("o_orderstatus") == "O").select(F.col("o_custkey").alias("c_custkey"))
    )
    returned = (
        o.join(li.filter(F.col("l_returnflag") == "R"), o.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    # subtract == SQL EXCEPT (set semantics); exceptAll would keep
    # surplus duplicates from the open side even when returned matches
    return open_cust.subtract(returned)


# --------------------------------------------------------------------------
# Event-stream analytics (SURVEY §2.5 sessions/windows, §2.7 JSON, J2/J3)
# --------------------------------------------------------------------------


@_register(
    "q12_sessionize",
    """
    WITH e AS (
        SELECT user_id, event_id, epoch_us(ts) AS us,
               CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) <= 600000000
                    THEN 0 ELSE 1 END AS new_s
        FROM events
    ), s AS (
        SELECT user_id, us,
               CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_no
        FROM e
    )
    SELECT user_id, session_no,
           strftime(make_timestamp(MIN(us)), '%Y-%m-%d %H:%M:%S') AS session_start,
           COUNT(*) AS n_events,
           (MAX(us) - MIN(us)) // 1000000 AS duration_s
    FROM s GROUP BY user_id, session_no
    """,
    "W1: 10-minute-inactivity sessionization (gap-and-island windows)",
)
def q12_sessionize(spark, sf_dir):
    from ..operators.sessionize import assign_sessions

    e = _t(spark, sf_dir, "events")
    sess = assign_sessions(e, user_col="user_id", ts_col="ts", id_col="event_id")
    us = epoch_us("ts")
    return sess.groupBy("user_id", "session_no").agg(
        F.date_format(F.timestamp_micros(F.min(us)), "yyyy-MM-dd HH:mm:ss").alias(
            "session_start"
        ),
        F.count(F.lit(1)).alias("n_events"),
        ((F.max(us) - F.min(us)) / F.lit(1_000_000)).cast("long").alias("duration_s"),
    )


@_register(
    "q13_signup_purchase_funnel",
    """
    WITH su AS (
        SELECT user_id, MIN(epoch_us(ts)) AS su_us FROM events
        WHERE event_type = 'signup' GROUP BY user_id
    ), pu AS (
        SELECT e.user_id, MIN(epoch_us(e.ts)) AS pu_us
        FROM events e JOIN su ON e.user_id = su.user_id
        WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > su.su_us
        GROUP BY e.user_id
    )
    SELECT su.user_id, (pu.pu_us - su.su_us) // 1000000 AS signup_to_purchase_s
    FROM su JOIN pu ON su.user_id = pu.user_id
    """,
    "J2 funnel: first signup -> first subsequent purchase per user",
)
def q13_signup_purchase_funnel(spark, sf_dir):
    e = _t(spark, sf_dir, "events").select(
        "user_id", "event_type", epoch_us("ts").alias("us")
    )
    su = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("us").alias("su_us"))
    )
    pu = (
        e.filter(F.col("event_type") == "purchase")
        .join(su, "user_id")
        .filter(F.col("us") > F.col("su_us"))
        .groupBy("user_id")
        .agg(F.min("us").alias("pu_us"))
    )
    return su.join(pu, "user_id").select(
        "user_id", F.expr("(pu_us - su_us) div 1000000").alias("signup_to_purchase_s")
    )


@_register(
    "q14_json_props_stats",
    """
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(props->>'$.k' AS INT)) AS BIGINT) AS sum_k,
           CAST(SUM(CAST(props->>'$.k' AS INT)) AS BIGINT) / (1.0 * COUNT(props->>'$.k')) AS avg_k
    FROM events
    GROUP BY event_type
    """,
    "JSON props extraction + aggregation (S3/§2.7 map-json surface)",
)
def q14_json_props_stats(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(k).cast("long").alias("sum_k"),
        (F.sum(k).cast("long") / (F.lit(1.0) * F.count(k))).alias("avg_k"),
    )


@_register(
    "q15_hourly_event_stats",
    """
    SELECT strftime(ts, '%Y-%m-%d %H:00:00') AS hour_bucket,
           COUNT(*) AS n_events,
           SUM(CAST(round(value * 100) AS BIGINT)) / 100.0 AS sum_value,
           COUNT(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY hour_bucket
    """,
    "W5 tumbling hourly rollup (event-time bucketing)",
)
def q15_hourly_event_stats(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return e.groupBy(
        F.date_format("ts", "yyyy-MM-dd HH:00:00").alias("hour_bucket")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        fixed_sum("value", 100, "sum_value"),
        F.countDistinct("user_id").alias("n_users"),
    )


@_register(
    "q16_latest_event_per_user",
    """
    SELECT user_id, event_id, event_type,
           strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_str, value
    FROM (
        SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts) DESC, event_id DESC) AS rk
        FROM events
    ) WHERE rk = 1
    """,
    "J3 CDC-apply analog: latest row per key via ranking window",
)
def q16_latest_event_per_user(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        epoch_us("ts").desc(), F.col("event_id").desc()
    )
    return (
        e.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "user_id",
            "event_id",
            "event_type",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts_str"),
            "value",
        )
    )


def entry_query(spark: SparkSession, sf_dir: str | None = None) -> DataFrame:
    """Flagship query for the driver smoke check (sf0.001)."""
    return q04_mktsegment_revenue(spark, sf_dir or "/root/testdata/sf0.001")


# --------------------------------------------------------------------------
# Validation / quality-suite queries (SURVEY §2.2 P2-P13, §2.3 A1-A9)
# --------------------------------------------------------------------------

_VALID_NOW_US = "epoch_us(TIMESTAMP '2024-01-30 00:00:00')"


@_register(
    "q17_event_quality_checks",
    f"""
    SELECT event_id,
           concat_ws(',',
             CASE WHEN user_id IS NULL THEN 'missing_user' END,
             CASE WHEN event_type NOT IN ('click','error','purchase','signup','view') OR event_type IS NULL THEN 'bad_type' END,
             CASE WHEN value < 0 OR value > 10000 OR value IS NULL THEN 'value_range' END,
             CASE WHEN epoch_us(ts) < {_VALID_NOW_US} - 86400000000 THEN 'stale' END,
             CASE WHEN epoch_us(ts) > {_VALID_NOW_US} + 3600000000 THEN 'future' END
           ) AS violations,
           CAST((CASE WHEN user_id IS NULL THEN 1 ELSE 0 END)
              + (CASE WHEN event_type NOT IN ('click','error','purchase','signup','view') OR event_type IS NULL THEN 1 ELSE 0 END)
              + (CASE WHEN value < 0 OR value > 10000 OR value IS NULL THEN 1 ELSE 0 END)
              + (CASE WHEN epoch_us(ts) < {_VALID_NOW_US} - 86400000000 THEN 1 ELSE 0 END)
              + (CASE WHEN epoch_us(ts) > {_VALID_NOW_US} + 3600000000 THEN 1 ELSE 0 END) AS INT) AS n_violations,
           greatest(0, 100 - 25 * ((CASE WHEN user_id IS NULL THEN 1 ELSE 0 END)
              + (CASE WHEN event_type NOT IN ('click','error','purchase','signup','view') OR event_type IS NULL THEN 1 ELSE 0 END)
              + (CASE WHEN value < 0 OR value > 10000 OR value IS NULL THEN 1 ELSE 0 END)
              + (CASE WHEN epoch_us(ts) < {_VALID_NOW_US} - 86400000000 THEN 1 ELSE 0 END)
              + (CASE WHEN epoch_us(ts) > {_VALID_NOW_US} + 3600000000 THEN 1 ELSE 0 END))) / 100.0 AS quality_score
    FROM events
    """,
    "P2/P3/P6/P7/P12/P13: per-event violation codes + quality score",
)
def q17_event_quality_checks(spark, sf_dir):
    from ..operators.validation import event_quality_checks

    return event_quality_checks(_t(spark, sf_dir, "events"), now=NOW)


@_register(
    "q18_quality_suite_events",
    f"""
    SELECT COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_user,
           CAST(SUM(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_event_id,
           COUNT(*) - COUNT(DISTINCT event_id) AS n_dup_event_id,
           COUNT(DISTINCT user_id) / (1.0 * COUNT(*)) AS distinct_user_ratio,
           CAST(SUM(CASE WHEN event_type NOT IN ('click','error','purchase','signup','view') THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_type,
           CAST(SUM(CASE WHEN value < 0 OR value > 10000 THEN 1 ELSE 0 END) AS BIGINT) AS n_value_oob,
           strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS max_ts,
           MAX(epoch_us(ts)) >= {_VALID_NOW_US} - 7200000000 AS freshness_pass,
           COUNT(*) BETWEEN 100 AND 10000000 AS row_count_pass,
           COUNT(*) = COUNT(DISTINCT event_id) AS uniqueness_pass
    FROM events
    """,
    "A1-A9 expectation suite compiled to ONE single-scan aggregate",
)
def q18_quality_suite_events(spark, sf_dir):
    from ..operators.quality import events_expectation_suite

    return events_expectation_suite(_t(spark, sf_dir, "events"), now=NOW)


@_register(
    "q19_user_running_totals",
    """
    SELECT event_id, user_id,
           CAST(row_number() OVER w AS BIGINT) AS running_n,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) OVER w AS BIGINT) AS running_value_cents
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id ROWS UNBOUNDED PRECEDING)
    """,
    "W9 cumulative window frames per user",
)
def q19_user_running_totals(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(epoch_us("ts"), "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        F.row_number()
        .over(Window.partitionBy("user_id").orderBy(epoch_us("ts"), "event_id"))
        .cast("long")
        .alias("running_n"),
        F.sum(to_fixed("value", 100)).over(w).cast("long").alias("running_value_cents"),
    )


# --------------------------------------------------------------------------
# Text analysis over documents (north-star U4)
# --------------------------------------------------------------------------

# Shared DuckDB text normalization fragments (mirror operators/text.py)
_SQL_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
_SQL_TOKS = (
    f"CASE WHEN length({_SQL_NORM}) = 0 THEN []::VARCHAR[] "
    f"ELSE string_split({_SQL_NORM}, ' ') END"
)


@_register(
    "q20_doc_stats_by_lang",
    f"""
    WITH d AS (SELECT lang, n_chars, len({_SQL_TOKS}) AS n_tokens FROM documents)
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           CAST(SUM(n_chars) AS BIGINT) / (1.0 * COUNT(*)) AS avg_chars,
           CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
           CAST(SUM(n_tokens) AS BIGINT) / (1.0 * COUNT(*)) AS avg_tokens
    FROM d GROUP BY lang
    """,
    "U4: corpus statistics by language",
)
def q20_doc_stats_by_lang(spark, sf_dir):
    from ..operators.text import token_count

    d = _t(spark, sf_dir, "documents")
    return (
        d.withColumn("n_tokens", token_count("text"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            (F.sum("n_chars") / (F.lit(1.0) * F.count(F.lit(1)))).alias("avg_chars"),
            F.sum("n_tokens").cast("long").alias("sum_tokens"),
            (
                F.sum("n_tokens").cast("long") / (F.lit(1.0) * F.count(F.lit(1)))
            ).alias("avg_tokens"),
        )
    )


@_register(
    "q21_doc_profile",
    f"""
    WITH d AS (
        SELECT doc_id, {_SQL_NORM} AS norm, {_SQL_TOKS} AS toks,
               regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]') AS bpe
        FROM documents
    )
    SELECT doc_id,
           CAST(len(toks) AS INT) AS n_tokens,
           CAST(len(bpe) AS INT) AS n_tokens_bpe,
           CASE WHEN len(toks) = 0 THEN 0.0
                ELSE len(list_distinct(toks)) / (1.0 * len(toks)) END AS uniq_token_ratio,
           CASE WHEN length(replace(norm, ' ', '')) = 0 THEN 0.0
                ELSE (length(replace(norm, ' ', '')) - length(regexp_replace(replace(norm, ' ', ''), '[^a-z0-9]', '', 'g')))
                     / (1.0 * length(replace(norm, ' ', ''))) END AS punct_ratio,
           CAST(list_contains(list_distinct(toks), 'the') AS INT)
             + CAST(list_contains(list_distinct(toks), 'a') AS INT)
             + CAST(list_contains(list_distinct(toks), 'of') AS INT)
             + CAST(list_contains(list_distinct(toks), 'and') AS INT)
             + CAST(list_contains(list_distinct(toks), 'to') AS INT)
             + CAST(list_contains(list_distinct(toks), 'in') AS INT)
             + CAST(list_contains(list_distinct(toks), 'is') AS INT)
             + CAST(list_contains(list_distinct(toks), 'for') AS INT) AS en_stopword_hits,
           md5(norm) AS fp_exact,
           md5(array_to_string(list_sort(list_distinct(toks)), ' ')) AS fp_bag
    FROM d
    """,
    "U4: per-document text-analysis profile (tokens, ratios, fingerprints)",
)
def q21_doc_profile(spark, sf_dir):
    from ..operators import text as T

    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        T.token_count("text").alias("n_tokens"),
        T.token_count_bpe("text").alias("n_tokens_bpe"),
        T.distinct_token_ratio("text").alias("uniq_token_ratio"),
        T.punct_ratio("text").alias("punct_ratio"),
        T.stopword_hits("text").alias("en_stopword_hits"),
        T.fingerprint_exact("text").alias("fp_exact"),
        T.fingerprint_bag("text").alias("fp_bag"),
    )


@_register(
    "q22_exact_dedup_docs",
    f"""
    WITH d AS (SELECT doc_id, md5({_SQL_NORM}) AS fp FROM documents)
    SELECT fp, MIN(doc_id) AS canonical_id, COUNT(*) AS n_copies
    FROM d GROUP BY fp
    """,
    "Exact dedup: hash-groupBy on normalized-text fingerprint",
)
def q22_exact_dedup_docs(spark, sf_dir):
    from ..operators.dedup import exact_dedup

    return exact_dedup(_t(spark, sf_dir, "documents"))


@_register(
    "q23_ngram_jaccard_pairs",
    f"""
    WITH toks AS (SELECT doc_id, {_SQL_TOKS} AS t FROM documents),
    sh AS (
        SELECT DISTINCT doc_id AS id,
               unnest(list_transform(range(len(t) - 2),
                                     i -> t[i + 1] || ' ' || t[i + 2] || ' ' || t[i + 3])) AS shingle
        FROM toks
        WHERE len(t) >= 3
    ),
    sizes AS (SELECT id, COUNT(*) AS n_sh FROM sh GROUP BY id),
    -- document-frequency cut: stop-shingles appearing in > 100 docs are
    -- dropped from the pairing join (union sizes stay full). Mirrors
    -- max_shingle_df on the Spark side; at the test SFs max df is 25 so
    -- the cut is a no-op locally, but it bounds the join quadratically
    -- at corpus scale.
    kept AS (
        SELECT sh.id, sh.shingle FROM sh
        JOIN (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 100) k
          ON sh.shingle = k.shingle
    ),
    inter AS (
        SELECT a.id AS a_id, b.id AS b_id, COUNT(*) AS n_inter
        FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.id < b.id
        GROUP BY a.id, b.id
    )
    SELECT a_id, b_id, n_inter,
           sa.n_sh AS n_a, sb.n_sh AS n_b,
           n_inter / (1.0 * (sa.n_sh + sb.n_sh - n_inter)) AS jaccard
    FROM inter
    JOIN sizes sa ON inter.a_id = sa.id
    JOIN sizes sb ON inter.b_id = sb.id
    WHERE n_inter / (1.0 * (sa.n_sh + sb.n_sh - n_inter)) >= 0.08
    """,
    "U6: n-gram Jaccard near-dup pairs via shared-shingle join with a "
    "document-frequency stop-shingle cut",
)
def q23_ngram_jaccard_pairs(spark, sf_dir):
    from ..operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), n=3, threshold=0.08, max_shingle_df=100
    ).select("a_id", "b_id", "n_inter", "n_a", "n_b", "jaccard")


@_register(
    "q24_minhash_lsh_candidates",
    f"""
    WITH toks AS (SELECT doc_id, {_SQL_TOKS} AS t FROM documents),
    units AS (
        SELECT doc_id,
               list_distinct(CASE WHEN len(t) >= 3
                   THEN list_transform(range(len(t) - 2),
                                       i -> t[i + 1] || ' ' || t[i + 2] || ' ' || t[i + 3])
                   ELSE []::VARCHAR[] END) AS u
        FROM toks
    ),
    sig AS (
        SELECT doc_id,
               [list_aggregate(list_transform(u, x -> md5('0:' || x)), 'min'),
                list_aggregate(list_transform(u, x -> md5('1:' || x)), 'min'),
                list_aggregate(list_transform(u, x -> md5('2:' || x)), 'min'),
                list_aggregate(list_transform(u, x -> md5('3:' || x)), 'min'),
                list_aggregate(list_transform(u, x -> md5('4:' || x)), 'min'),
                list_aggregate(list_transform(u, x -> md5('5:' || x)), 'min'),
                list_aggregate(list_transform(u, x -> md5('6:' || x)), 'min'),
                list_aggregate(list_transform(u, x -> md5('7:' || x)), 'min')] AS sig
        FROM units
        WHERE len(u) > 0
    ),
    bands AS (
        SELECT doc_id, b.b AS band, sig[2 * b.b + 1] || '|' || sig[2 * b.b + 2] AS key
        FROM sig, range(4) b(b)
    )
    SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
    FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    """,
    "U6: MinHash+LSH banded candidate pairs (portable md5 hash family)",
)
def q24_minhash_lsh_candidates(spark, sf_dir):
    from ..operators.dedup import minhash_lsh_candidates

    return minhash_lsh_candidates(
        _t(spark, sf_dir, "documents"),
        num_hashes=8,
        bands=4,
        use_portable_hash=True,
    )


@_register(
    "q25_lang_stopword_profile",
    f"""
    WITH d AS (
        SELECT lang, doc_id,
               text || CASE doc_id % 5
                   WHEN 1 THEN ' Cafe' || chr(769)
                   WHEN 2 THEN ' ' || chr(64257) || 'le ' || chr(65298)
                        || chr(65299)
                   WHEN 3 THEN ' ' || chr(7) || chr(27) || chr(8470)
                        || chr(9312)
                   WHEN 4 THEN ' ' || chr(8491) || chr(188)
                   ELSE '' END AS dirty,
               CAST(list_contains(list_distinct({_SQL_TOKS}), 'the') AS INT)
                 + CAST(list_contains(list_distinct({_SQL_TOKS}), 'a') AS INT)
                 + CAST(list_contains(list_distinct({_SQL_TOKS}), 'of') AS INT)
                 + CAST(list_contains(list_distinct({_SQL_TOKS}), 'and') AS INT)
                 + CAST(list_contains(list_distinct({_SQL_TOKS}), 'to') AS INT)
                 + CAST(list_contains(list_distinct({_SQL_TOKS}), 'in') AS INT)
                 + CAST(list_contains(list_distinct({_SQL_TOKS}), 'is') AS INT)
                 + CAST(list_contains(list_distinct({_SQL_TOKS}), 'for') AS INT) AS hits
        FROM documents
    ),
    n AS (
        SELECT lang, doc_id, hits,
               length(dirty) - length(cleaned) AS n_ctrl,
               nfc_normalize(cleaned) AS nfc, cleaned
        FROM (SELECT *, regexp_replace(dirty,
                  '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]', '', 'g')
                  AS cleaned FROM d)
    )
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(hits) AS BIGINT) / (1.0 * COUNT(*)) AS avg_stopword_hits,
           CAST(SUM(CASE WHEN hits >= 2 THEN 1 ELSE 0 END) AS BIGINT) / (1.0 * COUNT(*)) AS pct_english_guess,
           CAST(SUM(n_ctrl) AS BIGINT) AS sum_ctrl_stripped,
           CAST(SUM(length(nfc)) AS BIGINT) AS sum_nfc_len,
           -- NFKC has no DuckDB builtin: closed form over the
           -- synthesized confusables corpus (documents.text is
           -- normalization-inert ASCII at every test SF; suffixes
           -- start with a space so normalization is concat-local)
           CAST(SUM(length(cleaned) - CASE doc_id % 5
                WHEN 1 THEN 6 WHEN 2 THEN 7 WHEN 3 THEN 3
                WHEN 4 THEN 3 ELSE 0 END + CASE doc_id % 5
                WHEN 1 THEN 5 WHEN 2 THEN 8 WHEN 3 THEN 4
                WHEN 4 THEN 5 ELSE 0 END) AS BIGINT) AS sum_nfkc_len,
           CAST(SUM(CASE WHEN nfc <> cleaned THEN 1 ELSE 0 END)
               AS BIGINT) AS n_nfc_changed
    FROM n GROUP BY lang
    """,
    "U4: stopword-based language-ID heuristic profiled against labels. "
    "ROUND 11 fold — Unicode hygiene over a synthesized confusables "
    "corpus (doc_id%5 suffixes: decomposed e+U+0301, the fi ligature "
    "+ fullwidth digits, control chars + U+2116/U+2460, the Angstrom "
    "singleton + vulgar fraction): control-char strip (codegen "
    "regexp), NFC via the Arrow unicodedata kernel diffed against "
    "DuckDB's nfc_normalize (a REAL second normalization engine), "
    "NFKC via closed-form length deltas (no DuckDB builtin). The "
    "NFKC oracle's suffix constants are pinned by "
    "tests/test_text_hygiene.py against stdlib unicodedata. "
    "KNOWN DuckDB LIMITATION (round 13): nfc_normalize has a "
    "utf8proc NUL-path edge — some leading-NUL sequences come back "
    "empty ('\\x00\\x80' -> '') where Unicode NFC is the identity. "
    "This oracle is unaffected: cleaned is NUL-free by construction "
    "(the control-strip regexp removes \\x00 before nfc_normalize). "
    "Pinned in tests/test_text_hygiene.py::test_nfc_nul_divergence_pinned.",
)
def q25_lang_stopword_profile(spark, sf_dir):
    from ..operators.text import (
        control_char_count,
        stopword_hits,
        strip_controls,
        unicode_normalize_udf,
    )

    d = _t(spark, sf_dir, "documents")
    suffix = (
        F.when(F.col("doc_id") % 5 == 1, F.lit(" Cafe\u0301"))
        .when(F.col("doc_id") % 5 == 2, F.lit(" \ufb01le \uff12\uff13"))
        .when(F.col("doc_id") % 5 == 3, F.lit(" \x07\x1b\u2116\u2460"))
        .when(F.col("doc_id") % 5 == 4, F.lit(" \u212b\u00bc"))
        .otherwise(F.lit(""))
    )
    # materialize dirty/cleaned in their own Project (lambda-CSE
    # discipline; also keeps ONE codegen strip feeding both kernels)
    staged = d.select(
        "lang",
        stopword_hits("text").alias("hits"),
        control_char_count(F.concat(F.col("text"), suffix)).alias("n_ctrl"),
        strip_controls(F.concat(F.col("text"), suffix)).alias("cleaned"),
    ).select(
        "lang",
        "hits",
        "n_ctrl",
        unicode_normalize_udf("NFC")(F.col("cleaned")).alias("nfc"),
        unicode_normalize_udf("NFKC")(F.col("cleaned")).alias("nfkc"),
        F.col("cleaned"),
    )
    return (
        staged.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            (F.sum("hits").cast("long") / (F.lit(1.0) * F.count(F.lit(1)))).alias(
                "avg_stopword_hits"
            ),
            (
                F.sum((F.col("hits") >= 2).cast("int")).cast("long")
                / (F.lit(1.0) * F.count(F.lit(1)))
            ).alias("pct_english_guess"),
            F.sum("n_ctrl").cast("long").alias("sum_ctrl_stripped"),
            F.sum(F.length("nfc")).cast("long").alias("sum_nfc_len"),
            F.sum(F.length("nfkc")).cast("long").alias("sum_nfkc_len"),
            F.sum((F.col("nfc") != F.col("cleaned")).cast("int"))
            .cast("long")
            .alias("n_nfc_changed"),
        )
    )


# --------------------------------------------------------------------------
# Similarity search over embeddings (north-star U5)
# --------------------------------------------------------------------------


@_register(
    "q26_knn_bruteforce",
    """
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 10),
    c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
    s AS (
        SELECT query_id, neighbor_id, round(list_cosine_similarity(qv, cv), 6) AS sim
        FROM q, c WHERE query_id <> neighbor_id
    )
    SELECT query_id, neighbor_id, sim, rk FROM (
        SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rk
        FROM s
    ) WHERE rk <= 5
    """,
    "U5: exact cosine top-k (brute force baseline, broadcast queries)",
)
def q26_knn_bruteforce(spark, sf_dir):
    from ..operators.similarity import cosine_topk

    emb = _t(spark, sf_dir, "embeddings")
    return cosine_topk(emb, emb.filter(F.col("vec_id") < 10), k=5)


@_register(
    "q27_label_centroid_norms",
    """
    WITH ex AS (
        SELECT label, i.i AS pos, embedding[i.i]::DOUBLE AS v
        FROM embeddings, range(1, 65) i(i)
    ),
    dims AS (
        SELECT label, pos, SUM(v) / COUNT(v) AS mean_v, COUNT(v) AS n
        FROM ex GROUP BY label, pos
    )
    SELECT label, round(sqrt(SUM(mean_v * mean_v)), 6) AS centroid_norm,
           MAX(n) AS n_vectors
    FROM dims GROUP BY label
    """,
    "U5: per-label centroid norms (posexplode -> dimension means)",
)
def q27_label_centroid_norms(spark, sf_dir):
    from ..operators.similarity import centroid_norms

    return centroid_norms(_t(spark, sf_dir, "embeddings"), group_col="label")


@_register(
    "q28_cosine_pairs_by_label",
    """
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings)
    SELECT a.label AS block, a.vec_id AS a_id, b.vec_id AS b_id,
           round(list_cosine_similarity(a.v, b.v), 6) AS sim
    FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.3
    """,
    "U6: embedding near-dup pairs, label-blocked (never open cross join)",
)
def q28_cosine_pairs_by_label(spark, sf_dir):
    from ..operators.similarity import cosine_pairs_blocked

    return cosine_pairs_blocked(
        _t(spark, sf_dir, "embeddings"), block_col="label", threshold=0.3
    )


_Q29_MAX_HAMMING = 3


def _simhash_oracle_sql() -> str:
    """Generate the DuckDB mirror of simhash_pairs_portable: md5 hex
    nibble k of each token supplies signature bits 4k..4k+3."""
    from ..operators.dedup import SIMHASH_BITS, SIMHASH_BLOCKS

    chunk = SIMHASH_BITS // SIMHASH_BLOCKS
    contrib = ",\n               ".join(
        f"((CAST(strpos('0123456789abcdef', substr(m, {i // 4 + 1}, 1)) - 1 AS INT)"
        f" >> {i % 4}) & 1) * 2 - 1 AS b{i}"
        for i in range(SIMHASH_BITS)
    )
    sums = ", ".join(f"SUM(b{i}) AS s{i}" for i in range(SIMHASH_BITS))
    chunks = ",\n               ".join(
        "CAST("
        + " + ".join(
            f"CASE WHEN s{q * chunk + j} > 0 THEN {1 << j} ELSE 0 END"
            for j in range(chunk)
        )
        + f" AS BIGINT) AS c{q}"
        for q in range(SIMHASH_BLOCKS)
    )
    chunk_list = ", ".join(f"c{q}" for q in range(SIMHASH_BLOCKS))
    val_case = (
        "CASE q.q "
        + " ".join(f"WHEN {q} THEN c{q}" for q in range(SIMHASH_BLOCKS))
        + " END"
    )
    ham = " + ".join(
        f"bit_count(xor(a.c{q}, b.c{q}))" for q in range(SIMHASH_BLOCKS)
    )
    return f"""
    WITH toks AS (
        SELECT doc_id, unnest(list_distinct({_SQL_TOKS})) AS tok FROM documents
    ),
    nib AS (SELECT doc_id, md5(tok) AS m FROM toks),
    contrib AS (SELECT doc_id, {contrib} FROM nib),
    s AS (SELECT doc_id, {sums} FROM contrib GROUP BY doc_id),
    ch AS (SELECT doc_id, {chunks} FROM s),
    blocks AS (
        SELECT doc_id, {chunk_list}, q.q AS q, {val_case} AS val
        FROM ch, range({SIMHASH_BLOCKS}) q(q)
    )
    SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
           CAST({ham} AS INT) AS hamming
    FROM blocks a
    JOIN blocks b ON a.q = b.q AND a.val = b.val AND a.doc_id < b.doc_id
    WHERE CAST({ham} AS INT) <= {_Q29_MAX_HAMMING}
    """


@_register(
    "q29_simhash_pairs",
    _simhash_oracle_sql(),
    "U6: SimHash near-dup pairs (64-bit, quarter-block pigeonhole join) "
    "on the portable md5-nibble bit family; the xxhash64 family "
    "(operators/dedup.simhash_pairs) is the fast path at scale",
)
def q29_simhash_pairs(spark, sf_dir):
    from ..operators.dedup import simhash_pairs_portable

    return simhash_pairs_portable(
        _t(spark, sf_dir, "documents"), max_hamming=_Q29_MAX_HAMMING
    )


@_register(
    "q30_lsh_topk",
    f"""
    WITH planes AS (
        SELECT plane_id, coeffs
        FROM read_parquet('{{scratch}}/q30_planes.parquet/*.parquet')
    ),
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    sig AS (
        SELECT vec_id,
               string_agg(CASE WHEN list_dot_product(v, coeffs) >= 0
                               THEN '1' ELSE '0' END, '' ORDER BY plane_id)
                   AS bucket
        FROM e, planes GROUP BY vec_id
    ),
    q AS (
        SELECT e.vec_id AS query_id, bucket, v AS qv
        FROM e JOIN sig ON e.vec_id = sig.vec_id WHERE e.vec_id < 10
    ),
    c AS (
        SELECT e.vec_id AS neighbor_id, bucket, v AS cv
        FROM e JOIN sig ON e.vec_id = sig.vec_id
    ),
    s AS (
        SELECT query_id, neighbor_id,
               round(list_cosine_similarity(qv, cv), 6) AS sim
        FROM q JOIN c USING (bucket) WHERE query_id <> neighbor_id
    )
    SELECT query_id, neighbor_id, sim, rk FROM (
        SELECT *, CAST(row_number() OVER (
            PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rk
        FROM s
    ) WHERE rk <= 5
    """.replace("{scratch}", ORACLE_SCRATCH),
    "U5: LSH-bucketed approximate top-k (the ANN scale path). The "
    "seeded hyperplanes are materialized to scratch parquet so the "
    "oracle recomputes the same sign signatures.",
)
def q30_lsh_topk(spark, sf_dir):
    import numpy as np

    from ..operators.similarity import lsh_topk

    # materialize the same seeded planes hyperplane_signature draws
    # (seed=42, shape (n_planes, dim)) for the oracle
    rng = np.random.default_rng(42)
    planes = rng.standard_normal((4, 64))
    _write_scratch_vectors("q30_planes.parquet", "plane_id", planes)

    emb = _t(spark, sf_dir, "embeddings")
    return lsh_topk(emb, emb.filter(F.col("vec_id") < 10), dim=64, k=5, n_planes=4)


# --------------------------------------------------------------------------
# Batch 3: as-of joins, pivots, rollups, further coverage
# --------------------------------------------------------------------------


@_register(
    "q31_purchase_asof_last_click",
    """
    WITH e AS (
        SELECT event_id, user_id, event_type, value, epoch_us(ts) AS us,
               last_value(CASE WHEN event_type = 'click' THEN epoch_us(ts) END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_click_us
        FROM events
    )
    SELECT event_id, user_id,
           CASE WHEN last_click_us IS NULL THEN -1
                ELSE (us - last_click_us) // 1000000 END AS secs_since_last_click
    FROM e WHERE event_type = 'purchase'
    """,
    "J7 as-of via window: each purchase joined to the user's last prior click",
)
def q31_purchase_asof_last_click(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    us = epoch_us("ts")
    w = (
        Window.partitionBy("user_id")
        .orderBy(us, "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    last_click = F.last(
        F.when(F.col("event_type") == "click", us), ignorenulls=True
    ).over(w)
    return (
        e.withColumn("last_click_us", last_click)
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            F.when(F.col("last_click_us").isNull(), F.lit(-1))
            .otherwise(F.expr(f"(unix_micros(ts) - last_click_us) div 1000000"))
            .alias("secs_since_last_click"),
        )
    )


@_register(
    "q32_user_event_type_pivot",
    """
    SELECT user_id,
           CAST(SUM(CASE WHEN event_type = 'click'    THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
           CAST(SUM(CASE WHEN event_type = 'view'     THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
           CAST(SUM(CASE WHEN event_type = 'signup'   THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
           CAST(SUM(CASE WHEN event_type = 'error'    THEN 1 ELSE 0 END) AS BIGINT) AS n_error
    FROM events GROUP BY user_id
    """,
    "Pivot: per-user event-type counts (conditional aggregation)",
)
def q32_user_event_type_pivot(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    aggs = [
        F.sum((F.col("event_type") == t).cast("int")).cast("long").alias(f"n_{t}")
        for t in ("click", "view", "purchase", "signup", "error")
    ]
    return e.groupBy("user_id").agg(*aggs)


@_register(
    "q33_top_users_by_value",
    """
    SELECT user_id,
           SUM(CAST(round(value * 100) AS BIGINT)) / 100.0 AS total_value,
           COUNT(*) AS n_events
    FROM events GROUP BY user_id
    ORDER BY total_value DESC, user_id LIMIT 5
    """,
    "Top-k with deterministic tiebreak (TakeOrderedAndProject path)",
)
def q33_top_users_by_value(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy("user_id")
        .agg(
            fixed_sum("value", 100, "total_value"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy(F.desc("total_value"), F.asc("user_id"))
        .limit(5)
    )


@_register(
    "q34_part_type_stats",
    """
    SELECT p_type,
           COUNT(*) AS n_parts,
           SUM(CAST(round(p_retailprice * 100) AS BIGINT)) / 100.0 AS sum_price,
           SUM(CAST(round(p_retailprice * 100) AS BIGINT)) / 100.0 / COUNT(p_retailprice) AS avg_price,
           MIN(p_size) AS min_size, MAX(p_size) AS max_size
    FROM part GROUP BY p_type
    """,
    "Dimension profiling aggregates",
)
def q34_part_type_stats(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    return p.groupBy("p_type").agg(
        F.count(F.lit(1)).alias("n_parts"),
        fixed_sum("p_retailprice", 100, "sum_price"),
        fixed_avg("p_retailprice", 100, "avg_price"),
        F.min("p_size").alias("min_size"),
        F.max("p_size").alias("max_size"),
    )


@_register(
    "q35_revenue_rollup",
    """
    SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
           coalesce(l_linestatus, 'ALL') AS linestatus,
           SUM(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) / 10000.0 AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    "ROLLUP grouping sets with subtotal and grand-total rows",
)
def q35_revenue_rollup(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            fixed_sum(line_revenue(), 10_000, "revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "revenue",
            "n_lines",
        )
    )


@_register(
    "q36_order_year_priority_matrix",
    """
    SELECT strftime(o_orderdate, '%Y') AS order_year, o_orderpriority,
           COUNT(*) AS n_orders,
           SUM(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0 AS total_value
    FROM orders
    GROUP BY order_year, o_orderpriority
    """,
    "Time-bucketed dimension matrix over orders",
)
def q36_order_year_priority_matrix(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return o.groupBy(
        F.date_format("o_orderdate", "yyyy").alias("order_year"), "o_orderpriority"
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        fixed_sum("o_totalprice", 100, "total_value"),
    )


# --------------------------------------------------------------------------
# Batch 4: set-intersection, correlated subqueries, lag/lead, percentiles
# --------------------------------------------------------------------------


@_register(
    "q37_open_and_returned_customers",
    """
    SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'O'
    INTERSECT
    SELECT o_custkey FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_returnflag = 'R'
    """,
    "Set op (INTERSECT): customers with open orders AND returns",
)
def q37_open_and_returned_customers(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    open_cust = (
        o.filter(F.col("o_orderstatus") == "O")
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    returned = (
        o.join(li.filter(F.col("l_returnflag") == "R"), o.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return open_cust.intersect(returned)


@_register(
    "q38_small_quantity_parts",
    """
    WITH avg_qty AS (
        SELECT l_partkey, SUM(CAST(round(l_quantity) AS BIGINT)) / (1.0 * COUNT(*)) AS aq
        FROM lineitem GROUP BY l_partkey
    )
    SELECT p_brand, COUNT(*) AS n_small_lines,
           SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0 AS small_revenue
    FROM lineitem
    JOIN avg_qty ON lineitem.l_partkey = avg_qty.l_partkey
    JOIN part    ON lineitem.l_partkey = p_partkey
    WHERE l_quantity < 0.5 * aq
    GROUP BY p_brand
    """,
    "TPC-H Q17-style correlated avg-per-key comparison (decorrelated join)",
)
def q38_small_quantity_parts(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    avg_qty = li.groupBy(F.col("l_partkey").alias("ak")).agg(
        (F.sum(to_fixed("l_quantity", 1)) / (F.lit(1.0) * F.count(F.lit(1)))).alias("aq")
    )
    return (
        li.join(avg_qty, li.l_partkey == avg_qty.ak)
        .filter(F.col("l_quantity") < 0.5 * F.col("aq"))
        .join(p, li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_small_lines"),
            fixed_sum("l_extendedprice", 100, "small_revenue"),
        )
    )


@_register(
    "q39_daily_revenue_delta",
    """
    WITH daily AS (
        SELECT strftime(o_orderdate, '%Y-%m-%d') AS order_day,
               SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS rev_cents
        FROM orders GROUP BY order_day
    )
    SELECT order_day,
           rev_cents / 100.0 AS revenue,
           (rev_cents - lag(rev_cents) OVER (ORDER BY order_day)) / 100.0 AS delta_vs_prev_day,
           (lead(rev_cents) OVER (ORDER BY order_day) - rev_cents) / 100.0 AS delta_to_next_day
    FROM daily
    """,
    "W9 lag/lead over an ordered aggregate (day-over-day deltas)",
)
def q39_daily_revenue_delta(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_day")
    ).agg(F.sum(to_fixed("o_totalprice", 100)).alias("rev_cents"))
    w = Window.orderBy("order_day")
    return daily.select(
        "order_day",
        (F.col("rev_cents") / 100.0).alias("revenue"),
        ((F.col("rev_cents") - F.lag("rev_cents").over(w)) / 100.0).alias(
            "delta_vs_prev_day"
        ),
        ((F.lead("rev_cents").over(w) - F.col("rev_cents")) / 100.0).alias(
            "delta_to_next_day"
        ),
    )


@_register(
    "q40_weekly_event_rollup",
    """
    SELECT strftime(date_trunc('week', ts), '%Y-%m-%d') AS week_start,
           event_type,
           COUNT(*) AS n_events,
           SUM(CAST(round(value * 100) AS BIGINT)) / 100.0 AS sum_value
    FROM events GROUP BY week_start, event_type
    """,
    "ISO-week tumbling rollup (date_trunc bucketing)",
)
def q40_weekly_event_rollup(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return e.groupBy(
        F.date_format(F.date_trunc("week", F.col("ts")), "yyyy-MM-dd").alias(
            "week_start"
        ),
        "event_type",
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        fixed_sum("value", 100, "sum_value"),
    )


@_register(
    "q41_value_percentiles",
    """
    SELECT event_type,
           round(quantile_cont(value, 0.5), 4) AS p50,
           round(quantile_cont(value, 0.9), 4) AS p90,
           round(quantile_cont(value, 0.99), 4) AS p99,
           MIN(value) AS min_v, MAX(value) AS max_v
    FROM events GROUP BY event_type
    """,
    "Exact interpolated percentiles (sort-based, not approx sketches)",
)
def q41_value_percentiles(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 4).alias("p90"),
        F.round(F.expr("percentile(value, 0.99)"), 4).alias("p99"),
        F.min("value").alias("min_v"),
        F.max("value").alias("max_v"),
    )


@_register(
    "q42_supplier_above_avg",
    """
    WITH srev AS (
        SELECT l_suppkey, SUM(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS rc
        FROM lineitem GROUP BY l_suppkey
    )
    SELECT l_suppkey AS s_suppkey, rc / 10000.0 AS revenue
    FROM srev
    WHERE rc > (SELECT SUM(rc) / (1.0 * COUNT(*)) FROM srev)
    """,
    "Scalar-subquery comparison against the global average",
)
def q42_supplier_above_avg(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    srev = li.groupBy("l_suppkey").agg(
        F.sum(to_fixed(line_revenue(), 10_000)).alias("rc")
    )
    avg_rc = srev.agg(
        (F.sum("rc") / (F.lit(1.0) * F.count(F.lit(1)))).alias("avg_rc")
    )
    return (
        srev.crossJoin(F.broadcast(avg_rc))
        .filter(F.col("rc") > F.col("avg_rc"))
        .select(
            F.col("l_suppkey").alias("s_suppkey"),
            (F.col("rc") / 10_000.0).alias("revenue"),
        )
    )


@_register(
    "q43_string_surface",
    """
    SELECT doc_id,
           upper(substr(lang, 1, 2)) AS lang_uc,
           concat(source, ':', lang) AS source_lang,
           lpad(CAST(doc_id AS VARCHAR), 8, '0') AS doc_key,
           substr(trim(text), 1, 20) AS preview,
           CAST(length(text) AS INT) AS text_len,
           CASE WHEN source LIKE 'src%' THEN CAST(substr(source, 4) AS INT) END AS source_no,
           replace(lang, 'en', 'english') AS lang_expanded
    FROM documents
    """,
    "§2.7 string surface: upper/substr/concat/lpad/length/like/replace",
)
def q43_string_surface(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.upper(F.substring("lang", 1, 2)).alias("lang_uc"),
        F.concat("source", F.lit(":"), "lang").alias("source_lang"),
        F.lpad(F.col("doc_id").cast("string"), 8, "0").alias("doc_key"),
        F.substring(F.trim(F.col("text")), 1, 20).alias("preview"),
        F.length("text").alias("text_len"),
        F.when(
            F.col("source").startswith("src"),
            F.substring("source", 4, 100).cast("int"),
        ).alias("source_no"),
        F.regexp_replace("lang", "en", "english").alias("lang_expanded"),
    )


@_register(
    "q44_medallion_gold_revenue",
    f"""
    WITH raw AS (SELECT * FROM read_parquet('{ORACLE_SCRATCH}/q44_orders.parquet/*.parquet')),
    dedup AS (
        SELECT * FROM (
            SELECT *, row_number() OVER (
                PARTITION BY event_id ORDER BY "timestamp" DESC) AS rn
            FROM raw) WHERE rn = 1
    ),
    valid AS (
        SELECT * FROM dedup
        WHERE event_id IS NOT NULL AND order_id IS NOT NULL
          AND order_status IS NOT NULL AND total_amount IS NOT NULL
          AND order_status IN ('pending','confirmed','shipped','delivered',
                               'cancelled','refunded')
          AND total_amount >= 0 AND total_amount <= 100000
          AND len(items) > 0
          AND NOT coalesce(list_bool_or(list_transform(items,
                x -> x.quantity <= 0 OR x.unit_price <= 0)), FALSE)
          AND abs(total_amount - list_aggregate(list_transform(items,
                x -> x.quantity * x.unit_price * (1 - x.discount_pct / 100)),
                'sum')) <= 0.5
    ),
    lines AS (
        SELECT strftime(CAST("timestamp" AS DATE), '%Y-%m-%d') AS event_day,
               unnest(items) AS item
        FROM valid
    )
    SELECT event_day, item.category AS category,
           CAST(SUM(CAST(round(item.quantity * item.unit_price
                * (1 - coalesce(item.discount_pct, 0) / 100) * 1000) AS BIGINT))
                AS BIGINT) / 1000.0 AS revenue,
           CAST(SUM(item.quantity) AS BIGINT) AS units,
           COUNT(*) AS n_lines
    FROM lines GROUP BY event_day, category
    """,
    "Medallion end-to-end through the driver: generate -> silver -> gold, "
    "oracle over the materialized generated events",
    bench=False,  # exercised in tests; generation isn't a query-engine cost
)
def q44_medallion_gold_revenue(spark, sf_dir):
    from ..sources.generator import events_for_topic, generate_events
    from ..sources.medallion import bronze_to_silver, gold_revenue_by_category_day

    gen = generate_events(spark, n=5_000)
    orders = events_for_topic(gen, "ecommerce.orders")
    path = f"{ORACLE_SCRATCH}/q44_orders.parquet"
    orders.write.mode("overwrite").parquet(path)
    silver = bronze_to_silver(spark.read.parquet(path), "ecommerce.orders")
    gold = gold_revenue_by_category_day(silver)
    return gold.select(
        F.date_format("event_date", "yyyy-MM-dd").alias("event_day"),
        "category",
        "revenue",
        "units",
        "n_lines",
    )


@_register(
    "q45_cart_replay_sessions",
    f"""
    WITH ev AS (
        SELECT session_id, "timestamp" AS ts, event_kind, product_id,
               SUM(CASE WHEN event_kind = 'order' THEN 1 ELSE 0 END)
                   OVER (PARTITION BY session_id ORDER BY "timestamp") AS seg
        FROM read_parquet('{ORACLE_SCRATCH}/q45_events.parquet/*.parquet')
    ),
    -- Cart replay as SQL: within each (session, between-orders segment,
    -- product), a remove-if-present counter is a running sum floored at
    -- zero: pcount = S - least(0, running_min(S)). The *effective* per-
    -- event cart delta is then pcount - lag(pcount), which skips removes
    -- that found nothing to remove; the cart size is the running sum of
    -- effective deltas over the segment.
    sums AS (
        SELECT *, SUM(CASE WHEN event_kind = 'add_to_cart' THEN 1
                           WHEN event_kind = 'remove_from_cart' THEN -1
                           ELSE 0 END)
                  OVER (PARTITION BY session_id, seg, product_id ORDER BY ts)
                  AS s_run
        FROM ev
    ),
    vals AS (
        SELECT *, s_run - LEAST(0, MIN(s_run) OVER (
                   PARTITION BY session_id, seg, product_id ORDER BY ts))
                  AS pcount
        FROM sums
    ),
    eff AS (
        SELECT *, pcount - COALESCE(LAG(pcount) OVER (
                   PARTITION BY session_id, seg, product_id ORDER BY ts), 0)
                  AS eff_delta
        FROM vals
    ),
    cart AS (
        SELECT *, SUM(CASE WHEN event_kind IN ('add_to_cart', 'remove_from_cart')
                           THEN eff_delta ELSE 0 END)
                  OVER (PARTITION BY session_id, seg ORDER BY ts) AS cart_size
        FROM eff
    ),
    counts AS (
        SELECT session_id,
               CAST(SUM(CASE WHEN event_kind = 'add_to_cart' THEN 1 ELSE 0 END) AS INT) AS n_adds,
               CAST(SUM(CASE WHEN event_kind = 'remove_from_cart' THEN 1 ELSE 0 END) AS INT) AS n_removes,
               CAST(SUM(CASE WHEN event_kind = 'order' THEN 1 ELSE 0 END) AS INT) AS n_orders
        FROM ev GROUP BY session_id
    ),
    per_seg AS (
        SELECT session_id, seg, MAX(cart_size) AS seg_max,
               max_by(cart_size, ts) AS seg_final
        FROM cart GROUP BY session_id, seg
    ),
    sizes AS (
        SELECT session_id, CAST(MAX(seg_max) AS INT) AS max_cart_size,
               CAST(max_by(seg_final, seg) AS INT) AS final_cart_size
        FROM per_seg GROUP BY session_id
    )
    SELECT c.session_id, n_adds, n_removes, n_orders,
           max_cart_size, final_cart_size,
           final_cart_size > 0 AND n_orders = 0 AS abandoned
    FROM counts c JOIN sizes s ON c.session_id = s.session_id
    """,
    "U7/W3 grouped-map cart state machine through the driver, oracled by a "
    "floored-running-sum SQL replay over the materialized event log",
    bench=False,
)
def q45_cart_replay_sessions(spark, sf_dir):
    from ..operators.grouped import cart_replay
    from ..sources.generator import generate_events

    gen = generate_events(spark, n=5_000)
    ev = gen.select(
        "session_id",
        F.col("timestamp").cast("string").alias("timestamp"),
        F.when(F.col("event_type") == "order", F.lit("order"))
        .otherwise(F.coalesce("click_type", F.lit("other")))
        .alias("event_kind"),
        "product_id",
    )
    path = f"{ORACLE_SCRATCH}/q45_events.parquet"
    ev.write.mode("overwrite").parquet(path)
    return cart_replay(spark.read.parquet(path)).orderBy("session_id")


@_register(
    "q46_ivf_topk",
    f"""
    WITH cents AS (
        SELECT centroid_id, coeffs
        FROM read_parquet('{{scratch}}/q46_centroids.parquet/*.parquet')
    ),
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    sims AS (
        SELECT vec_id, centroid_id, list_cosine_similarity(v, coeffs) AS s
        FROM e, cents
    ),
    assign AS (
        SELECT vec_id AS neighbor_id, centroid_id AS cluster FROM (
            SELECT *, row_number() OVER (
                PARTITION BY vec_id ORDER BY s DESC, centroid_id) AS rn
            FROM sims) WHERE rn = 1
    ),
    probe AS (
        SELECT vec_id AS query_id, centroid_id AS cluster FROM (
            SELECT *, row_number() OVER (
                PARTITION BY vec_id ORDER BY s DESC, centroid_id) AS rn
            FROM sims WHERE vec_id < 10) WHERE rn <= 4
    ),
    cand AS (
        SELECT p.query_id, a.neighbor_id
        FROM probe p JOIN assign a ON p.cluster = a.cluster
        WHERE p.query_id <> a.neighbor_id
    ),
    scored AS (
        SELECT c.query_id, c.neighbor_id,
               round(list_cosine_similarity(eq.v, en.v), 6) AS sim
        FROM cand c
        JOIN e eq ON eq.vec_id = c.query_id
        JOIN e en ON en.vec_id = c.neighbor_id
    )
    SELECT query_id, neighbor_id, sim, rk FROM (
        SELECT *, CAST(row_number() OVER (
            PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS BIGINT) AS rk
        FROM scored
    ) WHERE rk <= 5
    """.replace("{scratch}", ORACLE_SCRATCH),
    "U5: IVF approximate top-k — PROBE path only. The codebook and the "
    "cluster-partitioned on-disk index are built once per (sf_dir, "
    "embeddings mtime/size) by _ivf_index_for and memoized under "
    "ORACLE_SCRATCH; this query prunes the index scan to the probed "
    "lists and exact-reranks, which is what a serving cluster does per "
    "query batch (index builds are offline jobs — q120 covers that "
    "path untimed). bench.py's min-of-2 therefore reports steady-state "
    "probe cost, not training. Both engines assign/probe by double "
    "cosine with first-max/stable tie-breaks, so the Arrow float64 "
    "matmul path diffs clean against the oracle.",
)
def q46_ivf_topk(spark, sf_dir):
    from ..operators.ivf import probe_ivf_index

    emb = _t(spark, sf_dir, "embeddings")
    cents, idx_path = _ivf_index_for(spark, sf_dir)
    return probe_ivf_index(
        spark, idx_path, emb.filter(F.col("vec_id") < 10), cents, k=5, nprobe=4
    )


def _ivf_index_for(spark, sf_dir):
    """Train-once/probe-many memoization of the q46 IVF artifacts.

    Key = (sf basename, embeddings.parquet mtime+size), so a driver
    data regeneration invalidates the cache and retrains. The codebook
    is stored as .npy beside the index; the oracle-visible copy at
    q46_centroids.parquet is (re)written on every call because the
    DuckDB oracle re-derives assignment from it.
    """
    import os

    import numpy as np

    from ..operators.ivf import train_centroids, write_ivf_index

    emb_file = os.path.join(sf_dir, "embeddings.parquet")
    st = os.stat(emb_file)
    key = f"{os.path.basename(sf_dir.rstrip('/'))}_{int(st.st_mtime)}_{st.st_size}"
    idx_path = f"{ORACLE_SCRATCH}/q46_index_{key}"
    cents_npy = f"{ORACLE_SCRATCH}/q46_codebook_{key}.npy"
    if os.path.exists(cents_npy) and os.path.isdir(idx_path):
        cents = np.load(cents_npy)
    else:
        emb = _t(spark, sf_dir, "embeddings")
        cents = train_centroids(emb, n_centroids=8, n_iters=2)
        write_ivf_index(emb, cents, idx_path)
        os.makedirs(ORACLE_SCRATCH, exist_ok=True)
        np.save(cents_npy, np.asarray(cents, dtype=np.float64))
    _write_scratch_vectors("q46_centroids.parquet", "centroid_id", cents)
    return cents, idx_path


@_register(
    "q120_ivf_index_build",
    f"""
    WITH cents AS (
        SELECT centroid_id, coeffs
        FROM read_parquet('{{scratch}}/q46_centroids.parquet/*.parquet')
    ),
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    assign AS (
        SELECT vec_id, centroid_id AS cluster FROM (
            SELECT e.vec_id, cents.centroid_id,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY list_cosine_similarity(e.v, cents.coeffs) DESC,
                                cents.centroid_id) AS rn
            FROM e, cents) WHERE rn = 1
    )
    SELECT cluster, COUNT(*) AS list_size
    FROM assign GROUP BY cluster ORDER BY cluster
    """.replace("{scratch}", ORACLE_SCRATCH),
    "U5: IVF index BUILD path (offline job, excluded from bench — "
    "index construction is amortized over many probe batches). Trains "
    "the seeded codebook, writes the cluster-partitioned inverted "
    "lists, and reports list sizes; the oracle re-derives assignment "
    "from the scratch codebook, so a green row certifies the on-disk "
    "index q46 probes against. List-size skew is the quantity an "
    "operator watches at 100 TB (hot lists -> AQE skew split).",
    bench=False,
)
def q120_ivf_index_build(spark, sf_dir):
    cents, idx_path = _ivf_index_for(spark, sf_dir)
    idx = spark.read.parquet(idx_path)
    return (
        idx.groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("list_size"))
        .orderBy("cluster")
    )


@_register(
    "q47_ship_latency",
    """
    SELECT CAST(date_diff('day', o_orderdate, l_shipdate) AS INT) AS ship_days,
           COUNT(*) AS n_lines,
           strftime(MIN(o_orderdate + INTERVAL 90 DAY), '%Y-%m-%d') AS min_due_date
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE l_shipdate >= o_orderdate
    GROUP BY ship_days
    """,
    "§2.7 date arithmetic: datediff buckets + interval addition",
)
def q47_ship_latency(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate") >= F.col("o_orderdate"))
        .groupBy(
            F.datediff(F.col("l_shipdate"), F.col("o_orderdate")).alias("ship_days")
        )
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.date_format(
                F.min(F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")), "yyyy-MM-dd"
            ).alias("min_due_date"),
        )
    )


@_register(
    "q48_price_rank_functions",
    """
    SELECT p_partkey, p_brand,
           CAST(rank()        OVER w AS BIGINT) AS price_rank,
           CAST(dense_rank()  OVER w AS BIGINT) AS price_dense_rank,
           CAST(ntile(4)      OVER w AS INT)    AS price_quartile,
           round(percent_rank() OVER w, 6)      AS price_pct_rank
    FROM part
    WINDOW w AS (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey)
    """,
    "W9 ranking family: rank / dense_rank / ntile / percent_rank",
)
def q48_price_rank_functions(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(F.desc("p_retailprice"), F.asc("p_partkey"))
    return p.select(
        "p_partkey",
        "p_brand",
        F.rank().over(w).cast("long").alias("price_rank"),
        F.dense_rank().over(w).cast("long").alias("price_dense_rank"),
        F.ntile(4).over(w).alias("price_quartile"),
        F.round(F.percent_rank().over(w), 6).alias("price_pct_rank"),
    )


@_register(
    "q49_channel_union",
    """
    WITH unioned AS (
        SELECT user_id, 'high_value' AS channel, value FROM events WHERE value > 400
        UNION ALL
        SELECT user_id, 'error' AS channel, value FROM events WHERE event_type = 'error'
    )
    SELECT channel, COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users,
           SUM(CAST(round(value * 100) AS BIGINT)) / 100.0 AS sum_value
    FROM unioned GROUP BY channel
    """,
    "§2.6 UNION ALL of per-channel selections + rollup",
)
def q49_channel_union(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    hv = e.filter(F.col("value") > 400).select(
        "user_id", F.lit("high_value").alias("channel"), "value"
    )
    err = e.filter(F.col("event_type") == "error").select(
        "user_id", F.lit("error").alias("channel"), "value"
    )
    return hv.unionByName(err).groupBy("channel").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("user_id").alias("n_users"),
        fixed_sum("value", 100, "sum_value"),
    )


@_register(
    "q50_cardinality_sketches",
    """
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
           quantile_cont(CAST(round(value * 100) AS BIGINT), 0.5) / 100.0 AS exact_p50,
           TRUE AS approx_users_ok,
           TRUE AS approx_p50_ok
    FROM events GROUP BY event_type
    """,
    "A6 at scale: approx_count_distinct (HLL) + approx percentile vs exact. "
    "Exact columns diff bit-for-bit; sketch columns are verified as "
    "within-error-bound booleans the oracle pins to TRUE.",
    bench=True,
)
def q50_cardinality_sketches(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    agg = e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users"),
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
        F.expr("approx_percentile(value, 0.5, 1000)").alias("approx_p50"),
        (
            F.expr("percentile(cast(round(value * 100) as bigint), 0.5)")
            / F.lit(100.0)
        ).alias("exact_p50"),
    )
    return agg.select(
        "event_type",
        "exact_users",
        "exact_p50",
        # HLL rsd=0.02 -> 3-sigma relative bound 6%; approx_percentile at
        # accuracy 10000 -> rank error <= n/10000, bounded in value terms
        # by a 5% + 1.0 slack on these [0, 500] uniforms.
        (
            F.abs(F.col("approx_users") - F.col("exact_users"))
            <= F.lit(0.06) * F.col("exact_users") + F.lit(1.0)
        ).alias("approx_users_ok"),
        (
            F.abs(F.col("approx_p50") - F.col("exact_p50"))
            <= F.lit(0.05) * F.abs(F.col("exact_p50")) + F.lit(1.0)
        ).alias("approx_p50_ok"),
    )


@_register(
    "q51_error_after_purchase",
    """
    SELECT p.event_id AS purchase_id, e.event_id AS error_id,
           (epoch_us(e.ts) - epoch_us(p.ts)) // 1000000 AS lag_s
    FROM events p
    JOIN events e
      ON p.user_id = e.user_id
     AND e.event_type = 'error'
     AND p.event_type = 'purchase'
     AND epoch_us(e.ts) > epoch_us(p.ts)
     AND epoch_us(e.ts) <= epoch_us(p.ts) + 300000000
    """,
    "Range join: errors within 5 minutes after a purchase (equi on user + interval band)",
)
def q51_error_after_purchase(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("u"),
        F.col("event_id").alias("purchase_id"),
        epoch_us("ts").alias("p_us"),
    )
    e = ev.filter(F.col("event_type") == "error").select(
        F.col("user_id").alias("u"),
        F.col("event_id").alias("error_id"),
        epoch_us("ts").alias("e_us"),
    )
    return (
        p.join(
            e,
            (p.u == e.u)
            & (F.col("e_us") > F.col("p_us"))
            & (F.col("e_us") <= F.col("p_us") + 300_000_000),
        )
        .select(
            "purchase_id",
            "error_id",
            F.expr("(e_us - p_us) div 1000000").alias("lag_s"),
        )
    )


@_register(
    "q52_daily_quality_trend",
    f"""
    WITH checked AS (
        SELECT strftime(ts, '%Y-%m-%d') AS day,
               (CASE WHEN user_id IS NULL THEN 1 ELSE 0 END)
             + (CASE WHEN event_type NOT IN ('click','error','purchase','signup','view') OR event_type IS NULL THEN 1 ELSE 0 END)
             + (CASE WHEN value < 0 OR value > 10000 OR value IS NULL THEN 1 ELSE 0 END)
             + (CASE WHEN epoch_us(ts) < {_VALID_NOW_US} - 86400000000 THEN 1 ELSE 0 END)
             + (CASE WHEN epoch_us(ts) > {_VALID_NOW_US} + 3600000000 THEN 1 ELSE 0 END) AS nv
        FROM events
    )
    SELECT day, COUNT(*) AS n_events,
           CAST(SUM(CASE WHEN nv = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_valid,
           CAST(SUM(CASE WHEN nv = 0 THEN 1 ELSE 0 END) AS BIGINT) / (1.0 * COUNT(*)) AS pct_valid,
           CAST(SUM(greatest(0, 100 - 25 * nv)) AS BIGINT) / (100.0 * COUNT(*)) AS avg_quality
    FROM checked GROUP BY day
    """,
    "Composite: validation operators rolled into a daily quality trend",
)
def q52_daily_quality_trend(spark, sf_dir):
    from ..operators.validation import event_checks, violation_count

    e = _t(spark, sf_dir, "events")
    return (
        e.withColumn("nv", violation_count(event_checks(NOW)))
        .groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum((F.col("nv") == 0).cast("int")).cast("long").alias("n_valid"),
            (
                F.sum((F.col("nv") == 0).cast("int")).cast("long")
                / (F.lit(1.0) * F.count(F.lit(1)))
            ).alias("pct_valid"),
            (
                F.sum(F.greatest(F.lit(0), F.lit(100) - F.lit(25) * F.col("nv"))).cast("long")
                / (F.lit(100.0) * F.count(F.lit(1)))
            ).alias("avg_quality"),
        )
    )


@_register(
    "q53_doc_chunks",
    f"""
    WITH toks AS (SELECT doc_id, {_SQL_TOKS} AS t FROM documents),
    sized AS (
        SELECT doc_id, t, len(t) AS n,
               least(CAST(floor((len(t) - 1) / 20) + 1 AS BIGINT),
                     CASE WHEN len(t) <= 40 THEN 1
                          ELSE CAST(ceil((len(t) - 40) / 20) + 1 AS BIGINT) END) AS n_chunks
        FROM toks WHERE len(t) > 0
    )
    SELECT doc_id, CAST(u.i AS INT) AS chunk_no,
           array_to_string(t[u.i * 20 + 1 : u.i * 20 + 40], ' ') AS chunk_text,
           CAST(least(40, n - u.i * 20) AS INT) AS n_tokens
    FROM sized, unnest(range(n_chunks)) AS u(i)
    """,
    "Training-data chunking: overlapping 40-token windows, stride 20",
)
def q53_doc_chunks(spark, sf_dir):
    from ..operators.text import chunk_documents

    return chunk_documents(
        _t(spark, sf_dir, "documents"), chunk_tokens=40, stride=20
    )


@_register(
    "q54_rebuild_nested_orders",
    """
    WITH items AS (
        SELECT l_orderkey,
               list_sort(list(l_linenumber || ':' || l_partkey || 'x' || CAST(round(l_quantity) AS BIGINT))) AS parts
        FROM lineitem GROUP BY l_orderkey
    )
    SELECT o_orderkey,
           CAST(len(parts) AS INT) AS n_items,
           md5(array_to_string(parts, ',')) AS items_fingerprint,
           o_totalprice
    FROM orders JOIN items ON o_orderkey = l_orderkey
    """,
    "Inverse explode: rebuild nested order documents from line items "
    "(collect_list -> array<struct> shape, fingerprinted for comparison)",
)
def q54_rebuild_nested_orders(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    # the real operator builds array<struct> items (the OrderEvent.items
    # shape, events.py:147-157); the oracle-compared projection uses a
    # sorted fingerprint because raw arrays don't hash portably
    item_repr = F.concat_ws(
        "",
        F.col("l_linenumber").cast("string"),
        F.lit(":"),
        F.col("l_partkey").cast("string"),
        F.lit("x"),
        to_fixed("l_quantity", 1).cast("string"),
    )
    items = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_list(item_repr)).alias("parts")
    )
    return (
        o.join(items, o.o_orderkey == items.l_orderkey)
        .select(
            "o_orderkey",
            F.size("parts").alias("n_items"),
            F.md5(F.array_join("parts", ",")).alias("items_fingerprint"),
            "o_totalprice",
        )
    )


# The two-stage near-dup pair CTEs (MinHash LSH candidates -> exact
# Jaccard verify), shared by the q55 oracle, the q58 group-closure
# oracle, and the q65 end-to-end pipeline (parameterized over the
# source relation). Terminal CTE: ndpairs(a_id, b_id, jaccard).
def _nd_pair_ctes(src: str = "documents") -> str:
    return _ND_PAIR_CTES.replace("__SRC__", src)


_ND_PAIR_CTES = f"""
    toks AS (SELECT doc_id, {_SQL_TOKS} AS t FROM __SRC__),
    units AS (
        SELECT doc_id,
               list_distinct(CASE WHEN len(t) >= 3
                   THEN list_transform(range(len(t) - 2),
                                       i -> t[i + 1] || ' ' || t[i + 2] || ' ' || t[i + 3])
                   ELSE []::VARCHAR[] END) AS u
        FROM toks
    ),
    sig AS (
        SELECT doc_id,
               [list_aggregate(list_transform(u, x -> md5('0:' || x)), 'min'),
                list_aggregate(list_transform(u, x -> md5('1:' || x)), 'min'),
                list_aggregate(list_transform(u, x -> md5('2:' || x)), 'min'),
                list_aggregate(list_transform(u, x -> md5('3:' || x)), 'min'),
                list_aggregate(list_transform(u, x -> md5('4:' || x)), 'min'),
                list_aggregate(list_transform(u, x -> md5('5:' || x)), 'min'),
                list_aggregate(list_transform(u, x -> md5('6:' || x)), 'min'),
                list_aggregate(list_transform(u, x -> md5('7:' || x)), 'min')] AS sig
        FROM units WHERE len(u) > 0
    ),
    bands AS (
        SELECT doc_id, b.b AS band, sig[2 * b.b + 1] || '|' || sig[2 * b.b + 2] AS key
        FROM sig, range(4) b(b)
    ),
    cands AS (
        SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    ),
    sh AS (SELECT doc_id AS id, unnest(u) AS shingle FROM units),
    sizes AS (SELECT id, COUNT(*) AS n_sh FROM sh GROUP BY id),
    inter AS (
        SELECT c.a_id, c.b_id, COUNT(*) AS n_inter
        FROM cands c
        JOIN sh sa ON sa.id = c.a_id
        JOIN sh sb ON sb.id = c.b_id AND sb.shingle = sa.shingle
        GROUP BY c.a_id, c.b_id
    ),
    ndpairs AS (
        SELECT i.a_id, i.b_id,
               i.n_inter / (1.0 * (za.n_sh + zb.n_sh - i.n_inter)) AS jaccard
        FROM inter i
        JOIN sizes za ON i.a_id = za.id
        JOIN sizes zb ON i.b_id = zb.id
        WHERE i.n_inter / (1.0 * (za.n_sh + zb.n_sh - i.n_inter)) >= 0.1
    )"""


@_register(
    "q55_near_dup_two_stage",
    f"""
    WITH {_nd_pair_ctes()}
    SELECT a_id, b_id, jaccard FROM ndpairs
    """,
    "U6 flagship: two-stage near-dup (MinHash LSH candidates -> exact Jaccard verify)",
)
def q55_near_dup_two_stage(spark, sf_dir):
    from ..operators.dedup import near_dup_pairs

    return near_dup_pairs(
        _t(spark, sf_dir, "documents"),
        threshold=0.1,
        use_portable_hash=True,
    )


@_register(
    "q58_dedup_groups",
    f"""
    WITH RECURSIVE {_nd_pair_ctes()},
    edges AS (
        SELECT a_id AS u, b_id AS v FROM ndpairs
        UNION ALL
        SELECT b_id, a_id FROM ndpairs
    ),
    reach(id, lbl) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.u, r.lbl FROM edges e JOIN reach r ON r.id = e.v
    ),
    comp AS (SELECT id AS doc_id, MIN(lbl) AS group_id FROM reach GROUP BY id)
    SELECT doc_id, group_id,
           CAST(COUNT(*) OVER (PARTITION BY group_id) AS BIGINT) AS group_size,
           doc_id = group_id AS is_canonical
    FROM comp
    """,
    "U6 endgame: near-dup pairs resolved into duplicate GROUPS via "
    "connected components (iterative min-label propagation; the oracle "
    "computes the same closure with a recursive CTE). group_id = min "
    "doc id of the cluster, is_canonical marks the deterministic "
    "survivor — the keep/drop contract an LLM-corpus dedup feeds "
    "downstream.",
)
def q58_dedup_groups(spark, sf_dir):
    from ..operators.components import dedup_groups
    from ..operators.dedup import near_dup_pairs

    docs = _t(spark, sf_dir, "documents")
    pairs = near_dup_pairs(docs, threshold=0.1, use_portable_hash=True)
    return dedup_groups(pairs, docs, id_col="doc_id")


# Round-12 fold: arm 1 carries a VISIBLE entity-rich payload — named
# (&mdash; &eacute; &agrave; &hellip;), hex (&#x2019;) and decimal
# (&#169;) references beyond the core set — so q65's step-0 now
# exercises the FULL HTML5 decode (html_to_text entities="full", the
# html.unescape Arrow kernel). The decoded constant is replayed
# closed-form by the oracle (prefixed to arm-1 text), and
# tests/test_text_hygiene.py pins PAYLOAD -> DECODED via stdlib
# html.unescape.
_Q65_ENTITY_PAYLOAD = (
    "News &mdash; d&eacute;j&agrave; vu &#x2019;quote&#x2019;"
    "&hellip; &#169;2024 "
)
_Q65_ENTITY_DECODED = (
    "News — déjà vu ’quote’… ©2024 "
)

_Q65_HTML_PRE = (
    '<html><head><title></title><script type="text/javascript">'
    'if(a<b&&c>d){alert("x&y");}</script></head><body><p class="doc">',
    "<HTML><BODY><DIV id='d1'><P>" + _Q65_ENTITY_PAYLOAD + "</P><SPAN>",
    "<html><body><style>p>a{color:#fff}</style><![CDATA[]]><p>",
    '<!DOCTYPE html><html><body onload="f()"><p>',
)
_Q65_HTML_POST = (
    "</p></body></html>",
    "</SPAN><BR/></DIV><!-- trailing <comment> & junk --></BODY></HTML>",
    "</p><ul><li></ul></body>",
    "</p><script> //x line() </script></body></html>",
)

# Round-13 fold (widened round 14): the WARC leg is MIXED-CHARSET,
# the way real Common-Crawl captures are. Each doc's charset arm
# (doc_id % 6) picks the on-the-wire encoding + HOW the charset is
# declared — Content-Type header spellings (arms 0-2, round 13), a
# UTF-8 BOM, an in-document <meta charset> with a header that carries
# NO charset param, and a UTF-16LE BOM (arms 3-5, round 14: the
# WHATWG sniffing order BOM > header > meta prescan > utf-8 default).
# Each arm appends a charset-native HTML comment to the shell so the
# bytes genuinely exercise the declared codec (a pure-ASCII body is
# cp1252 == utf-8 and proves nothing). Every arm is load-bearing:
# arm 3's BOM must be STRIPPED (a kept BOM decodes cleanly to a stray
# U+FEFF -> html_len/text hashes diverge — the sneaky failure), arm
# 4's shift-jis bytes without the meta prescan decode as utf-8
# mojibake/unclean, arm 5's utf-16 body without the BOM sniff is
# undecodable garbage. The comment is stripped by html_to_text, so
# the fold stays oracle-INVISIBLE on the text side and
# oracle-CONSISTENT on the html_len/n_tags side (the oracle
# concatenates the same literals).
_Q65_CHARSET_DECO = (
    "<!-- ✓ ∑ utf-8 -->",      # multi-byte UTF-8 (no charset param)
    "<!-- café ±é Ä -->",      # cp1252 bytes, charset="ISO-8859-1"
    "<!-- アイウ -->",          # shift-jis bytes, CHARSET=Shift_JIS
    "<!-- ✓ BOM -->",          # utf-8 body behind a UTF-8 BOM
    "<!-- カキク meta -->",     # shift-jis bytes, <meta charset> only
    "<!-- ✓ ∑ utf-16 -->",     # utf-16-le body behind a FF FE BOM
)
# arm 1 encodes with cp1252, NOT latin-1: the walker WHATWG-folds the
# declared ISO-8859-1 label to windows-1252 on decode, and the two
# differ on 0x80-0x9F — synthesis must be the exact inverse of the
# decode path or a future corpus C1 codepoint silently diverges.
# Chars outside cp1252/shift_jis hit the UnicodeEncodeError utf-8
# fallback (which also rewrites the header to charset=utf-8 — for
# arm 4 that header then legitimately BEATS the stale meta tag, the
# WHATWG order working as designed).
_Q65_WIRE_CHARSETS = (
    "utf-8", "cp1252", "shift_jis", "utf-8", "shift_jis", "utf-16-le",
)
_Q65_CT_HEADERS = (
    "text/html",                          # absent param -> default utf-8
    'text/html; charset="ISO-8859-1"',    # quoted spelling
    "text/html; CHARSET=Shift_JIS",       # case-insensitive name+label
    "text/html",                          # BOM is the only declaration
    "text/html",                          # meta prescan is the only one
    "text/html",                          # UTF-16 BOM is the only one
)
_Q65_BOMS = (b"", b"", b"", b"\xef\xbb\xbf", b"", b"\xff\xfe")
# arm 4's in-document declaration — FIRST bytes of the html so the
# 1024-byte prescan window always sees it; replayed verbatim by the
# oracle (html_len/n_tags count it; html_to_text strips it as a tag)
_Q65_META_PREFIX = "<meta charset=shift_jis>"


def _q65_http_chunked(body: bytes, doc_id: int) -> bytes:
    """Deterministic RFC 9112 chunked framing for the q65 WARC leg:
    chunk sizes vary per doc (97 + doc_id%64 bytes), one chunk
    carries an extension, the terminator carries a trailer header —
    the tolerated-but-ignored shapes real servers emit."""
    step = 97 + int(doc_id) % 64
    out = bytearray()
    first = True
    for pos in range(0, len(body), step):
        c = body[pos : pos + step]
        ext = b";x=1" if first else b""
        out += f"{len(c):x}".encode() + ext + b"\r\n" + c + b"\r\n"
        first = False
    out += b"0\r\nX-Trailer: q65\r\n\r\n"
    return bytes(out)



def _q65_build_warc_group(key, pdf):
    """Synthesis kernel for q65's WARC leg: serialize one bucket of
    (doc_id, lang, n_chars, html) rows into ONE WARC file — a
    warcinfo record followed by per-doc ``response`` records whose
    payloads carry a real HTTP header block; odd buckets use the
    spec's per-record-gzip-member ``.warc.gz`` layout. Rounds 13-14:
    each doc's body is encoded in its charset arm's wire encoding
    (``doc_id % 6`` — utf-8 / cp1252 / shift_jis by header, then
    BOM'd utf-8 / meta-declared shift_jis / BOM'd utf-16-le) with
    the matching declaration channel — the walker's WHATWG sniff
    (BOM > header > meta prescan) is what recovers the identical
    string. Deterministic: rows sorted by doc_id, gzip mtime
    pinned."""
    import pandas as pd

    from ..sources.warc import build_warc

    pdf = pdf.sort_values("doc_id")
    bucket = int(pdf["bucket"].iloc[0])
    records = []
    for doc_id, lang, n_chars, html in zip(
        pdf["doc_id"], pdf["lang"], pdf["n_chars"], pdf["html"]
    ):
        cs_arm = int(doc_id) % 6
        try:
            body = (
                _Q65_BOMS[cs_arm]
                + html.encode(_Q65_WIRE_CHARSETS[cs_arm])
            )
            ct_header = _Q65_CT_HEADERS[cs_arm]
        except UnicodeEncodeError:
            # corpus text outside the arm's charset (today's drops
            # are ASCII, but driver data-gen has changed between
            # rounds before): fall back to the utf-8 arm rather
            # than killing the whole build — the recovered html is
            # identical either way, so the fold stays oracle-safe
            # (for arm 4 the explicit utf-8 header also out-ranks
            # the html's stale meta tag, per the WHATWG order)
            body = html.encode("utf-8")
            ct_header = "text/html; charset=utf-8"
        # round 13: HTTP BODY-LAYER arm (doc_id % 5) — the transfer/
        # content codings real captures carry, undone by the walker
        # outside-in (de-chunk, then content-decode, then charset):
        # 0 identity, 1 chunked, 2 gzip, 3 chunked-over-gzip,
        # 4 zlib-wrapped deflate. Oracle-invisible: a correct walk
        # recovers the identical text and decode_clean stays TRUE.
        layer = int(doc_id) % 5
        extra = b""
        if layer in (2, 3):
            # level 1: the synthesis side only exists in the test
            # harness (real walkers only pay the DECODE side), so
            # the cheapest deterministic compressor wins
            body = gzip.compress(body, compresslevel=1, mtime=0)
            extra += b"Content-Encoding: gzip\r\n"
        elif layer == 4:
            body = zlib.compress(body, 1)
            extra += b"Content-Encoding: deflate\r\n"
        if layer in (1, 3):
            body = _q65_http_chunked(body, int(doc_id))
            extra += b"Transfer-Encoding: chunked\r\n"
            length_line = b""
        else:
            length_line = (
                f"Content-Length: {len(body)}".encode("ascii") + b"\r\n"
            )
        payload = (
            b"HTTP/1.1 200 OK\r\n"
            + f"Content-Type: {ct_header}".encode("ascii")
            + b"\r\n"
            + extra
            + length_line
            + b"\r\n"
            + body
        )
        records.append(
            {
                "headers": {
                    "WARC-Type": "response",
                    "WARC-Record-ID": f"<urn:doc:{int(doc_id)}>",
                    "WARC-Target-URI": (
                        f"https://corpus.example/doc/{int(doc_id)}"
                    ),
                    "Content-Type": "application/http; msgtype=response",
                    "X-Doc-Lang": str(lang),
                    "X-Doc-Chars": str(int(n_chars)),
                },
                "payload": payload,
            }
        )
    data = build_warc(
        records, gzip_members=bool(bucket % 2), compresslevel=1
    )
    return pd.DataFrame({"bucket": [bucket], "warc": [data]})


@_register(
    "q65_llm_corpus_pipeline",
    f"""
    WITH RECURSIVE raw0 AS (
        SELECT doc_id, text AS base_text, lang, n_chars FROM documents
    ),
    raw AS (
        SELECT doc_id,
               -- arm 1's shell carries a visible entity payload; the
               -- pipeline's FULL HTML5 decode must recover exactly
               -- this closed-form decoded prefix (round 12)
               CASE WHEN doc_id % 4 = 1
                    THEN '{_Q65_ENTITY_DECODED}' || base_text
                    ELSE base_text END AS text,
               lang, n_chars,
               -- round 14: arm 4's in-document charset declaration
               -- leads the html (the prescan's only channel)
               CASE WHEN doc_id % 6 = 4
                    THEN '{_Q65_META_PREFIX}' ELSE '' END
               || CASE doc_id % 4
                 WHEN 0 THEN '<html><head><title></title><script type="text/javascript">if(a<b&&c>d){{alert("x&y");}}</script></head><body><p class="doc">'
                 WHEN 1 THEN '<HTML><BODY><DIV id=''d1''><P>{_Q65_ENTITY_PAYLOAD}</P><SPAN>'
                 WHEN 2 THEN '<html><body><style>p>a{{color:#fff}}</style><![CDATA[]]><p>'
                 ELSE '<!DOCTYPE html><html><body onload="f()"><p>'
               END
               || replace(replace(replace(base_text, '&', '&amp;'),
                          '<', '&lt;'), '>', '&gt;')
               -- rounds 13-14: the charset-arm comment (stripped by
               -- the pipeline's html_to_text; counted here in
               -- html_len/n_tags, same literals as the Spark side)
               || CASE doc_id % 6
                 WHEN 0 THEN '{_Q65_CHARSET_DECO[0]}'
                 WHEN 1 THEN '{_Q65_CHARSET_DECO[1]}'
                 WHEN 2 THEN '{_Q65_CHARSET_DECO[2]}'
                 WHEN 3 THEN '{_Q65_CHARSET_DECO[3]}'
                 WHEN 4 THEN '{_Q65_CHARSET_DECO[4]}'
                 ELSE '{_Q65_CHARSET_DECO[5]}'
               END
               || CASE doc_id % 4
                 WHEN 0 THEN '</p></body></html>'
                 WHEN 1 THEN '</SPAN><BR/></DIV><!-- trailing <comment> & junk --></BODY></HTML>'
                 WHEN 2 THEN '</p><ul><li></ul></body>'
                 ELSE '</p><script> //x line() </script></body></html>'
               END AS html
        FROM raw0
    ),
    corpus AS (
        SELECT doc_id, text, lang,
               CAST(len({_SQL_TOKS}) AS INT) AS n_tokens,
               CAST(length(html) AS BIGINT) AS html_len,
               CAST(length(html) - length(replace(html, '<', ''))
                   AS BIGINT) AS n_tags
        FROM raw
        WHERE n_chars BETWEEN 50 AND 10000 AND len({_SQL_TOKS}) >= 10
    ),
    {{pair_ctes}},
    edges AS (
        SELECT a_id AS u, b_id AS v FROM ndpairs
        UNION ALL
        SELECT b_id, a_id FROM ndpairs
    ),
    reach(id, lbl) AS (
        SELECT doc_id, doc_id FROM corpus
        UNION
        SELECT e.u, r.lbl FROM edges e JOIN reach r ON r.id = e.v
    ),
    comp AS (SELECT id AS doc_id, MIN(lbl) AS group_id FROM reach GROUP BY id),
    kept AS (
        SELECT c.doc_id, c.lang, c.n_tokens, c.html_len, c.n_tags
        FROM corpus c JOIN comp USING (doc_id)
        WHERE comp.doc_id = comp.group_id
    ),
    split_assign AS (
        SELECT lang, n_tokens, html_len, n_tags,
               CASE WHEN u < 0.8 THEN 'train'
                    WHEN u < {0.8 + 0.1!r} THEN 'val'
                    ELSE 'test' END AS split
        FROM (SELECT *, {_sql_hash_uniform("split", "doc_id")} AS u FROM kept)
    )
    SELECT split, COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
           COUNT(DISTINCT lang) AS n_langs,
           CAST(SUM(html_len) AS BIGINT) AS sum_html_chars,
           CAST(SUM(n_tags) AS BIGINT) AS sum_tags_stripped
    FROM split_assign GROUP BY split
    """.replace("{pair_ctes}", _nd_pair_ctes("corpus")),
    "Flagship composition — the end-to-end LLM corpus pipeline, "
    "fronted (round 12) by its step -1, the raw-web CONTAINER walk: "
    "every bucket of docs is serialized into one WARC file "
    "(warcinfo record + HTTP-framed response records; odd buckets "
    "per-record-gzip .warc.gz) and re-ingested through "
    "sources/warc.py's record walk — an oracle-INVISIBLE fold (the "
    "recovered frame is byte-identical when the walk is correct, "
    "and every downstream hash pins it). Rounds 13-14: the WARC leg "
    "is MIXED-CHARSET — each doc's body is wire-encoded per its "
    "doc_id%6 arm (utf-8 with no charset param / cp1252 declared "
    "charset=\"ISO-8859-1\" / shift_jis declared CHARSET=Shift_JIS "
    "/ round 14: BOM'd utf-8 / shift_jis declared ONLY by an "
    "in-document <meta charset> tag / BOM'd utf-16-le) and carries "
    "a charset-native comment so the bytes genuinely exercise the "
    "declared codec; the walker's WHATWG-order sniff (BOM > "
    "transport header > meta prescan > utf-8, warc.decode_http_body)"
    " must pick the right codec AND strip the BOM for the recovered "
    "html to match (a kept BOM decodes cleanly to a stray U+FEFF "
    "and the length/text hashes diverge), and the decode_clean=TRUE "
    "filter pins the strict-decode path (a wrong codec flags rows "
    "unclean and the row counts diverge). The leg is also "
    "BODY-LAYERED "
    "(round 13, doc_id%5): chunked transfer framing (extensions + "
    "trailers), gzip/deflate content codings, and chunked-over-gzip "
    "— the walker undoes the layers outside-in; all arms "
    "oracle-invisible through the same decode_clean pin. Then "
    "step-0: HTML->text "
    "extraction. Each document is "
    "deterministically wrapped in one of four HTML shells (script "
    "with bare </>& in its body, uppercase tags + comment with "
    "embedded tags + an ENTITY-RICH visible payload — round 12: "
    "named &mdash;/&eacute;/&hellip;, hex &#x2019;, decimal &#169; "
    "beyond the core set — style + empty CDATA + unclosed <li>, "
    "DOCTYPE + inline handler), entity-encoded (&/</> -> "
    "&amp;/&lt;/&gt;), then recovered by text.html_to_text with "
    "entities='full' (regexp chain + the html.unescape Arrow "
    "kernel) BEFORE the quality clean. The oracle keeps computing "
    "tokens from the RAW text (+ the closed-form decoded arm-1 "
    "prefix): the strip must be the exact inverse of the wrap for "
    "every downstream stage (near-dup shingles, closure, split, "
    "token sums) to hash-match — a whole-pipeline proof of the "
    "extractor. sum_html_chars / sum_tags_stripped (markup '<' "
    "census) pin the wrap itself. Then: quality clean (length + "
    "token floor) -> two-stage near-dup (MinHash LSH + exact "
    "Jaccard) -> connected-component group closure -> "
    "canonical-survivor keep -> deterministic train/val/test split "
    "-> per-split stats.",
)
def q65_llm_corpus_pipeline(spark, sf_dir):
    from ..operators.components import dedup_groups
    from ..operators.dedup import near_dup_pairs
    from ..operators.sampling import hash_split
    from ..operators.text import (
        html_tag_stats,
        html_to_text,
        token_count,
    )
    from ..sources.warc import extract_warc_responses

    docs = _t(spark, sf_dir, "documents")
    # step -1 (round 12): the raw-web CONTAINER shape — each bucket of
    # docs is serialized into one WARC file (warcinfo + HTTP-framed
    # response records; odd buckets per-record-gzip .warc.gz) and the
    # pipeline re-enters through sources/warc.py's record walk. The
    # fold is oracle-INVISIBLE: when the walk is correct the recovered
    # (doc_id, lang, n_chars, html) frame is byte-identical to the
    # direct one, and every downstream hash already pins it.
    # step-0: deterministic HTML shells around the entity-encoded
    # text, recovered by the full-entity extractor. The pipeline below
    # runs on the RECOVERED text while the oracle uses the raw column,
    # so the strip is verified end-to-end through every downstream
    # stage. clean.cache() materializes the stripped column, keeping
    # the explode-based shingle stages reading a plain cached column
    # (no computed-expression lineage under a Generate).
    arm = (F.col("doc_id") % 4).cast("int")
    enc = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), "&", "&amp;"), "<", "&lt;"
        ),
        ">",
        "&gt;",
    )
    pre = F.element_at(F.array(*[F.lit(s) for s in _Q65_HTML_PRE]), arm + 1)
    post = F.element_at(F.array(*[F.lit(s) for s in _Q65_HTML_POST]), arm + 1)
    # rounds 13-14: charset-native comment per wire-charset arm —
    # makes the WARC bodies genuinely non-ASCII in cp1252/shift-jis/
    # utf-16 so the walker's WHATWG sniff (BOM > header > meta) is
    # load-bearing (html_to_text strips the comment; html_len/n_tags
    # replay it closed-form in the oracle). Arm 4 additionally leads
    # with the <meta charset> tag — its ONLY declaration channel.
    cs_arm = (F.col("doc_id") % 6).cast("int")
    deco = F.element_at(
        F.array(*[F.lit(s) for s in _Q65_CHARSET_DECO]), cs_arm + 1
    )
    metapre = F.when(cs_arm == 4, F.lit(_Q65_META_PREFIX)).otherwise(
        F.lit("")
    )
    html = F.concat(metapre, pre, enc, deco, post)
    warc_files = (
        docs.select(
            "doc_id",
            "lang",
            "n_chars",
            html.alias("html"),
            (F.col("doc_id") % 64).cast("int").alias("bucket"),
        )
        .groupBy("bucket")
        .applyInPandas(_q65_build_warc_group, "bucket int, warc binary")
    )
    recs = extract_warc_responses(warc_files, "warc")
    # round 13: the mixed-charset proof — every synthesized page
    # declares a decodable charset, so a correct sniff+decode yields
    # decode_clean=TRUE for ALL rows; any walker regression (wrong
    # codec, lost param, strict-utf-8 fallback) drops rows here and
    # the oracle's row counts/sums catch it.
    # round 17 (guide §2 parallelism): the walk is file-granular —
    # 64 buckets hashed over the shuffle partitions, so the
    # regex-heavy strip/tag/token stage inherited skewed bucket-level
    # tasks. Keep the cheap header extractions and the row filters in
    # the walk stage, then fan the surviving records out round-robin
    # to the session's cores so the heavy stage runs record-granular;
    # the exchange carries only (doc_id, lang, n_chars, html). The
    # input bucketing itself is untouched (re-bucketing the corpus
    # would game the measurement, not optimize the engine).
    slim = (
        recs.filter(F.col("decode_clean"))
        .select(
            F.regexp_extract("record_id", r"urn:doc:(\d+)", 1)
            .cast("long")
            .alias("doc_id"),
            F.element_at("headers", "x-doc-lang").alias("lang"),
            F.element_at("headers", "x-doc-chars")
            .cast("int")
            .alias("n_chars"),
            F.col("html"),
        )
        .filter((F.col("n_chars") >= 50) & (F.col("n_chars") <= 10000))
        .repartition(spark.sparkContext.defaultParallelism)
    )
    rehtml = F.col("html")
    # cache BELOW the token floor: the floor filter then reads the
    # materialized n_tokens int from the InMemoryRelation instead of
    # inlining the tokenizer regexp chain into a Filter node (the
    # mapInPandas child changed CollapseProject behavior in round 12
    # — the plan test pins this shape)
    staged = (
        slim.select(
            "doc_id",
            "lang",
            "n_chars",
            F.length(rehtml).cast("long").alias("html_len"),
            html_tag_stats(rehtml).alias("n_tags"),
            html_to_text(rehtml, entities="full").alias("text"),
        )
        .withColumn("n_tokens", token_count("text").cast("int"))
        .cache()
    )
    clean = staged.filter(F.col("n_tokens") >= 10)
    pairs = near_dup_pairs(clean, threshold=0.1, use_portable_hash=True)
    groups = dedup_groups(pairs, clean, id_col="doc_id")
    kept = clean.join(
        groups.filter("is_canonical").select("doc_id"), "doc_id"
    )
    return (
        hash_split(kept, "doc_id")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("sum_tokens"),
            F.countDistinct("lang").alias("n_langs"),
            F.sum("html_len").alias("sum_html_chars"),
            F.sum("n_tags").alias("sum_tags_stripped"),
        )
    )


@_register(
    "q59_embedding_near_dup",
    f"""
    WITH planes AS (
        SELECT plane_id, coeffs
        FROM read_parquet('{{scratch}}/q59_planes.parquet/*.parquet')
    ),
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    sig AS (
        SELECT e.vec_id, p.plane_id // 4 AS tbl,
               string_agg(CASE WHEN list_dot_product(v, coeffs) >= 0
                               THEN '1' ELSE '0' END, '' ORDER BY p.plane_id)
                   AS bucket
        FROM e, planes p GROUP BY e.vec_id, p.plane_id // 4
    ),
    cand AS (
        SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
        FROM sig a
        JOIN sig b ON a.tbl = b.tbl AND a.bucket = b.bucket
                  AND a.vec_id < b.vec_id
    )
    SELECT c.a_id, c.b_id,
           round(list_cosine_similarity(ea.v, eb.v), 6) AS sim
    FROM cand c
    JOIN e ea ON ea.vec_id = c.a_id
    JOIN e eb ON eb.vec_id = c.b_id
    WHERE round(list_cosine_similarity(ea.v, eb.v), 6) >= 0.4
    """.replace("{scratch}", ORACLE_SCRATCH),
    "U6: embedding-cosine near-dup — multi-table hyperplane LSH blocks "
    "candidates, exact cosine verifies (sum(bucket^2) per table, never "
    "corpus^2). Seeded planes for both tables are materialized to "
    "scratch parquet (plane_id // 4 = table) so the oracle recomputes "
    "identical sign buckets.",
)
def q59_embedding_near_dup(spark, sf_dir):
    import numpy as np

    from ..operators.dedup import embedding_near_dup

    # the same seeded draws hyperplane_signature makes per table
    planes = np.concatenate(
        [np.random.default_rng(42 + t).standard_normal((4, 64)) for t in range(2)]
    )
    _write_scratch_vectors("q59_planes.parquet", "plane_id", planes)
    return embedding_near_dup(
        _t(spark, sf_dir, "embeddings"),
        dim=64,
        threshold=0.4,
        n_planes=4,
        n_tables=2,
    )


@_register(
    "q60_hash_split",
    f"""
    WITH u AS (
        SELECT doc_id, n_chars,
               {_sql_hash_uniform("split", "doc_id")} AS u
        FROM documents
    )
    SELECT CASE WHEN u < 0.8 THEN 'train'
                WHEN u < {0.8 + 0.1!r} THEN 'val'
                ELSE 'test' END AS split,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
    FROM u GROUP BY 1
    """,
    "Training-data op: deterministic train/val/test split by hashed "
    "key (layout- and engine-independent, unlike randomSplit: the "
    "same row keeps its split across re-runs, backfills, and engines; "
    "the oracle recomputes the same md5-fraction draw). The val "
    "boundary literal is the Spark-side float accumulation, "
    "bit-for-bit.",
)
def q60_hash_split(spark, sf_dir):
    from ..operators.sampling import hash_split

    docs = _t(spark, sf_dir, "documents")
    return (
        hash_split(docs, "doc_id")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
    )


@_register(
    "q61_stratified_sample",
    f"""
    WITH u AS (
        SELECT doc_id, lang, source, n_chars,
               {_sql_hash_uniform("sample", "doc_id")} AS u
        FROM documents
    ),
    r AS (
        SELECT *, row_number() OVER (PARTITION BY lang ORDER BY u, doc_id) AS rk
        FROM u
    )
    SELECT doc_id, lang, source, n_chars FROM r WHERE rk <= 20
    """,
    "Training-data op: exact-count stratified sample (20 docs per "
    "language) in deterministic hash order — repeatable data-mixing "
    "draws; one window shuffle on the stratum key.",
)
def q61_stratified_sample(spark, sf_dir):
    from ..operators.sampling import stratified_sample

    docs = _t(spark, sf_dir, "documents")
    return stratified_sample(docs, "lang", 20, "doc_id").select(
        "doc_id", "lang", "source", "n_chars"
    )


@_register(
    "q62_source_mix",
    f"""
    WITH w(source, wt) AS (VALUES ('src0', 0.5), ('src1', 0.3), ('src2', 0.2)),
    c AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY source),
    sc AS (SELECT MIN(n / wt) AS scale FROM c JOIN w USING (source)),
    q AS (SELECT w.source, CAST(FLOOR(wt * scale) AS BIGINT) AS quota FROM w, sc),
    r AS (
        SELECT d.doc_id, d.source, d.lang, d.n_chars,
               row_number() OVER (
                   PARTITION BY d.source
                   ORDER BY {_sql_hash_uniform("mix", "d.doc_id")}, d.doc_id
               ) AS rk
        FROM documents d JOIN q ON d.source = q.source
    )
    SELECT doc_id, source, lang, n_chars
    FROM r JOIN q USING (source) WHERE rk <= quota
    """,
    "Training-data op: source-weighted mixing (the '70% web / 20% "
    "code / 10% books' composition). Largest total consistent with "
    "the weights is bounded by the scarcest source; each source keeps "
    "floor(weight * scale) rows in deterministic hash order.",
)
def q62_source_mix(spark, sf_dir):
    from ..operators.sampling import source_mix

    docs = _t(spark, sf_dir, "documents")
    return source_mix(
        docs, "source", {"src0": 0.5, "src1": 0.3, "src2": 0.2}, "doc_id"
    ).select("doc_id", "source", "lang", "n_chars")


@_register(
    "q63_vocabulary_idf",
    f"""
    WITH toks AS (
        SELECT doc_id, unnest(list_distinct({_SQL_TOKS})) AS token FROM documents
    ),
    df_t AS (SELECT token, COUNT(*) AS doc_freq FROM toks GROUP BY token),
    n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT token, doc_freq, round(ln(n_docs / (1.0 * doc_freq)), 6) AS idf
    FROM (
        SELECT token, doc_freq, n_docs,
               row_number() OVER (ORDER BY doc_freq DESC, token) AS rk
        FROM df_t, n
    ) WHERE rk <= 50
    """,
    "U4: corpus vocabulary statistics — per-token document frequency "
    "and IDF, top 50 by df (explode-distinct -> groupBy partial agg; "
    "the total-docs scalar broadcasts via a 1-row cross join).",
)
def q63_vocabulary_idf(spark, sf_dir):
    from ..operators.text import tokens

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.array_distinct(tokens("text"))).alias("token")
    )
    df_t = toks.groupBy("token").agg(F.count(F.lit(1)).alias("doc_freq"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    # orderBy+limit compiles to TakeOrderedAndProject — distributed
    # per-partition top-k, no global window sort over the vocabulary
    return (
        df_t.crossJoin(F.broadcast(n))
        .orderBy(F.desc("doc_freq"), F.asc("token"))
        .limit(50)
        .select(
            "token",
            "doc_freq",
            F.round(F.log(F.col("n_docs") / F.col("doc_freq")), 6).alias("idf"),
        )
    )


@_register(
    "q64_token_entropy",
    f"""
    WITH toks AS (
        SELECT doc_id, lang, unnest({_SQL_TOKS}) AS token FROM documents
    ),
    tc AS (SELECT doc_id, lang, token, COUNT(*) AS c FROM toks
           GROUP BY doc_id, lang, token),
    d AS (
        SELECT doc_id, lang,
               CAST(round((ln(SUM(c)) - SUM(c * ln(c)) / SUM(c)) * 1e6)
                    AS BIGINT) AS entropy_q,
               CAST(round((COUNT(*) / (1.0 * SUM(c))) * 1e6)
                    AS BIGINT) AS ttr_q
        FROM tc GROUP BY doc_id, lang
    )
    SELECT lang, COUNT(*) AS n_docs,
           round(CAST(SUM(entropy_q) AS BIGINT) / (COUNT(*) * 1e6), 6)
               AS avg_entropy,
           round(CAST(SUM(ttr_q) AS BIGINT) / (COUNT(*) * 1e6), 6) AS avg_ttr
    FROM d GROUP BY lang
    """,
    "U4 quality scoring: per-document unigram entropy "
    "(ln n - sum(c ln c)/n — the repetitive-text detector) and "
    "type-token ratio, averaged per language. Two partial-agg "
    "shuffles. Per-doc values quantize to micro-units (round(x*1e6) "
    "-> int) BEFORE the cross-doc average so the sum is an exact "
    "integer in both engines — raw double sums are order-dependent "
    "and a boundary-straddling average would hash-mismatch.",
)
def q64_token_entropy(spark, sf_dir):
    from ..operators.text import tokens

    docs = _t(spark, sf_dir, "documents")
    tc = (
        docs.select("doc_id", "lang", F.explode(tokens("text")).alias("token"))
        .groupBy("doc_id", "lang", "token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    d = tc.groupBy("doc_id", "lang").agg(
        F.round(
            (F.log(F.sum("c")) - F.sum(F.col("c") * F.log("c")) / F.sum("c"))
            * 1e6
        )
        .cast("long")
        .alias("entropy_q"),
        F.round((F.count(F.lit(1)) / F.sum("c")) * 1e6)
        .cast("long")
        .alias("ttr_q"),
    )
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.sum("entropy_q") / (F.count(F.lit(1)) * 1e6), 6).alias(
            "avg_entropy"
        ),
        F.round(F.sum("ttr_q") / (F.count(F.lit(1)) * 1e6), 6).alias(
            "avg_ttr"
        ),
    )


@_register(
    "q57_decimal_money_sum",
    """
    SELECT l_returnflag,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6)))
                AS DOUBLE) AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem GROUP BY l_returnflag
    """,
    "P8/P9 money hardening: exact DecimalType accumulation (the int64 "
    "fixed-point alternative for sums that could overflow long range), "
    "surfaced as double after the exact sum. Both engines cast the "
    "double revenue to DECIMAL(28,6) per row, sum exactly, and convert "
    "once at the end.",
)
def q57_decimal_money_sum(spark, sf_dir):
    from ..functions import decimal_sum

    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        decimal_sum(line_revenue(), "revenue_dec").cast("double").alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@_register(
    "q56_streaming_session_stats",
    """
    WITH e AS (
        SELECT user_id, epoch_us(ts) AS us,
               CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (
                        PARTITION BY user_id ORDER BY epoch_us(ts)) < 600000000
                    THEN 0 ELSE 1 END AS new_s
        FROM events
    ), s AS (
        SELECT user_id, us,
               SUM(new_s) OVER (PARTITION BY user_id ORDER BY us
                                ROWS UNBOUNDED PRECEDING) AS session_no
        FROM e
    )
    SELECT user_id,
           MIN(us) AS start_us,
           MAX(us) + 600000000 AS end_us,
           COUNT(*) AS n_events
    FROM s GROUP BY user_id, session_no
    """,
    "W1 streaming: session_window over a bounded stream drained with "
    "availableNow, diffed against the batch gap-and-islands oracle. "
    "session_window starts a NEW session at a gap of exactly 10 min "
    "(end-exclusive windows), hence the strict < in the oracle; "
    "session_end = last event + gap.",
    bench=False,  # stream startup dominates; not a query-engine cost
)
def q56_streaming_session_stats(spark, sf_dir):
    from ..operators.sessionize import drain_streaming_session_stats

    out = drain_streaming_session_stats(spark, f"{sf_dir}/events.parquet")
    return out.select(
        "user_id",
        F.unix_micros("session_start").alias("start_us"),
        F.unix_micros("session_end").alias("end_us"),
        "n_events",
    )


@_register(
    "q66_stream_attribution_join",
    """
    WITH c AS (
        SELECT user_id, epoch_us(ts) AS c_us FROM events
        WHERE event_type = 'click'
    ),
    p AS (
        SELECT user_id, epoch_us(ts) AS p_us, value FROM events
        WHERE event_type = 'purchase'
    )
    SELECT c.user_id, c.c_us AS click_us, p.p_us AS purchase_us,
           CAST(round(p.value * 100) AS BIGINT) AS value_cents,
           p.p_us - c.c_us AS lag_us
    FROM c JOIN p
      ON c.user_id = p.user_id
     AND p.p_us >= c.c_us
     AND p.p_us <= c.c_us + 600000000
    """,
    "Stream-stream join (the canonical hard Structured Streaming op): "
    "click->purchase attribution over two watermarked event streams "
    "with a 10-min time-bound so both sides' state evicts, drained "
    "availableNow and diffed against the batch join oracle. "
    "Timestamps surface as epoch-µs ints; lag is a µs difference "
    "(second-truncated lags would diverge between engines).",
    bench=False,  # stream startup dominates; not a query-engine cost
)
def q66_stream_attribution_join(spark, sf_dir):
    from ..streaming.stream_join import drain_attribution_from_events

    out = drain_attribution_from_events(spark, f"{sf_dir}/events.parquet")
    return out.select(
        "user_id",
        F.unix_micros("click_ts").alias("click_us"),
        F.unix_micros("purchase_ts").alias("purchase_us"),
        F.round(F.col("value") * 100).cast("long").alias("value_cents"),
        (
            F.unix_micros("purchase_ts") - F.unix_micros("click_ts")
        ).alias("lag_us"),
    )


# --------------------------------------------------------------------------
# Round-3 training-data surface: corpus quality gating, benchmark
# decontamination, and the remaining analytic-window functions
# --------------------------------------------------------------------------

_SQL_TRIGRAMS = (
    "CASE WHEN len(t) >= 3 THEN list_transform(range(len(t) - 2), "
    "i -> t[i + 1] || ' ' || t[i + 2] || ' ' || t[i + 3]) "
    "ELSE []::VARCHAR[] END"
)

_SQL_STOP_HITS = " + ".join(
    f"CAST(list_contains(list_distinct(t), '{w}') AS BIGINT)"
    for w in ("the", "a", "of", "and", "to", "in", "is", "for")
)


@_register(
    "q67_gopher_quality_signals",
    f"""
    WITH toks AS (SELECT doc_id, {_SQL_TOKS} AS t FROM documents),
    sh AS (SELECT doc_id, t, {_SQL_TRIGRAMS} AS tg FROM toks),
    base AS (
        SELECT doc_id,
               CAST(len(t) AS BIGINT) AS n_tokens,
               CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct_tokens,
               CAST(CASE WHEN len(t) = 0 THEN 0
                    ELSE length(array_to_string(t, ' ')) - (len(t) - 1)
                    END AS BIGINT) AS n_chars_nospace,
               CAST(len(tg) AS BIGINT) AS n_trigrams,
               CAST(len(tg) - len(list_distinct(tg)) AS BIGINT)
                   AS n_dup_trigrams,
               {_SQL_STOP_HITS} AS stop_hits
        FROM sh
    ),
    top AS (
        SELECT doc_id, MAX(c) AS top_token_count
        FROM (SELECT doc_id, tok, COUNT(*) AS c
              FROM (SELECT doc_id, unnest(t) AS tok FROM toks)
              GROUP BY doc_id, tok)
        GROUP BY doc_id
    )
    SELECT b.doc_id, n_tokens, n_distinct_tokens, n_chars_nospace,
           n_trigrams, n_dup_trigrams, stop_hits,
           COALESCE(top_token_count, 0) AS top_token_count,
           (n_tokens BETWEEN 10 AND 1000)
               AND n_chars_nospace >= 3 * n_tokens
               AND n_chars_nospace <= 10 * n_tokens
               AND 10 * COALESCE(top_token_count, 0) <= 3 * n_tokens
               AND 10 * n_dup_trigrams <= 3 * greatest(n_trigrams, 1)
               AS keep
    FROM base b LEFT JOIN top USING (doc_id)
    """,
    "Training-data op: Gopher/C4-style per-document quality signals — "
    "length, vocabulary, mean-word-length bounds, top-unigram "
    "repetition, duplicate-trigram fraction, stopword hits — plus the "
    "composite keep gate. Every signal is an integer and every "
    "threshold applies by integer cross-multiplication, so the gate is "
    "bit-identical across engines (no float comparisons).",
)
def q67_gopher_quality_signals(spark, sf_dir):
    from ..operators.text import gopher_signals

    return gopher_signals(_t(spark, sf_dir, "documents"))


@_register(
    "q68_benchmark_decontamination",
    f"""
    WITH toks AS (SELECT doc_id, {_SQL_TOKS} AS t FROM documents),
    sh AS (
        SELECT doc_id, unnest(list_distinct(
            CASE WHEN len(t) >= 5 THEN list_transform(range(len(t) - 4),
                i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' '
                     || t[i+4] || ' ' || t[i+5])
            ELSE []::VARCHAR[] END)) AS shingle
        FROM toks
    ),
    ev AS (SELECT doc_id AS eval_id, shingle FROM sh WHERE doc_id % 50 = 7),
    co AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 50 <> 7),
    ov AS (
        SELECT co.doc_id, ev.eval_id, COUNT(*) AS shared
        FROM co JOIN ev USING (shingle)
        GROUP BY co.doc_id, ev.eval_id
    )
    SELECT doc_id, COUNT(*) AS n_eval_matches,
           CAST(SUM(shared) AS BIGINT) AS total_shared,
           CAST(MAX(shared) AS BIGINT) AS max_shared
    FROM ov GROUP BY doc_id
    """,
    "Training-data op: benchmark decontamination — flag corpus docs "
    "sharing 5-token shingles with a held-out eval set (doc_id % 50 = "
    "7, the GPT-3/Llama n-gram-overlap method). The eval shingle set "
    "broadcasts, so the corpus side never shuffles: matches alone "
    "reach the per-doc aggregation.",
)
def q68_benchmark_decontamination(spark, sf_dir):
    from ..operators.decontam import ngram_contamination

    docs = _t(spark, sf_dir, "documents")
    ev = docs.filter(F.col("doc_id") % 50 == 7)
    corpus = docs.filter(F.col("doc_id") % 50 != 7)
    return ngram_contamination(corpus, ev, n=5, min_overlap=1)


@_register(
    "q69_price_distribution_windows",
    """
    SELECT p_partkey, p_brand,
           CAST(round(p_retailprice * 100) AS BIGINT) AS price_cents,
           cume_dist() OVER w AS cd,
           percent_rank() OVER w AS pr,
           ntile(4) OVER w AS quartile,
           CAST(round(p_retailprice * 100) AS BIGINT)
               - lag(CAST(round(p_retailprice * 100) AS BIGINT)) OVER w
               AS step_cents
    FROM part
    WINDOW w AS (PARTITION BY p_brand
                 ORDER BY p_retailprice, p_partkey)
    """,
    "SURVEY 2.7 analytic-window completion: cume_dist, percent_rank, "
    "ntile, and lag deltas over per-brand price order (unique "
    "p_partkey tiebreak). cume_dist/percent_rank emit exact rational "
    "doubles (k/n of identical ints), so cross-engine parity holds "
    "without rounding; money stays fixed-point cents.",
)
def q69_price_distribution_windows(spark, sf_dir):
    part = _t(spark, sf_dir, "part")
    w = (
        Window.partitionBy("p_brand")
        .orderBy(F.col("p_retailprice").asc(), F.col("p_partkey").asc())
    )
    cents = F.round(F.col("p_retailprice") * 100).cast("long")
    return part.select(
        "p_partkey",
        "p_brand",
        cents.alias("price_cents"),
        F.cume_dist().over(w).alias("cd"),
        F.percent_rank().over(w).alias("pr"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
        (cents - F.lag(cents).over(w)).alias("step_cents"),
    )


@_register(
    "q70_top_trigrams_per_lang",
    f"""
    WITH toks AS (SELECT doc_id, lang, {_SQL_TOKS} AS t FROM documents),
    tg AS (SELECT lang, unnest({_SQL_TRIGRAMS}) AS ngram FROM toks),
    c AS (SELECT lang, ngram, COUNT(*) AS n FROM tg GROUP BY lang, ngram)
    SELECT lang, ngram, n, rk FROM (
        SELECT lang, ngram, n,
               CAST(row_number() OVER (PARTITION BY lang
                    ORDER BY n DESC, ngram) AS BIGINT) AS rk
        FROM c
    ) WHERE rk <= 5
    """,
    "U4: top-5 token trigrams per language by raw frequency "
    "(explode -> partial-agg count -> per-lang top-k; the window sees "
    "only per-(lang,ngram) aggregates, never the token stream).",
)
def q70_top_trigrams_per_lang(spark, sf_dir):
    from ..operators.dedup import shingles_of
    from ..operators.text import tokens

    docs = _t(spark, sf_dir, "documents")
    tg = docs.select(
        "lang", tokens("text").alias("__toks")
    ).select("lang", F.explode(shingles_of("__toks", 3)).alias("ngram"))
    c = tg.groupBy("lang", "ngram").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("lang").orderBy(F.desc("n"), F.asc("ngram"))
    return (
        c.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 5)
        .select("lang", "ngram", "n", "rk")
    )


@_register(
    "q71_length_band_filter",
    f"""
    WITH d AS (
        SELECT doc_id, lang, CAST(len({_SQL_TOKS}) AS BIGINT) AS n_tokens
        FROM documents
    ),
    r AS (
        SELECT doc_id, lang, n_tokens,
               percent_rank() OVER (PARTITION BY lang
                                    ORDER BY n_tokens, doc_id) AS pr
        FROM d
    )
    SELECT lang, COUNT(*) AS n_kept,
           MIN(n_tokens) AS min_tokens, MAX(n_tokens) AS max_tokens,
           (SELECT COUNT(*) FROM d d2 WHERE d2.lang = r.lang) AS n_total
    FROM r WHERE pr >= 0.05 AND pr <= 0.95
    GROUP BY lang
    """,
    "Training-data op: rank-based length-band filtering — keep docs "
    "between the 5th and 95th per-language token-length percentile "
    "(percent_rank = exact rational (rank-1)/(n-1), so the band edges "
    "are deterministic across engines, unlike interpolated "
    "percentiles).",
)
def q71_length_band_filter(spark, sf_dir):
    from ..operators.text import token_count

    docs = _t(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id", "lang", token_count("text").cast("long").alias("n_tokens")
    )
    w = Window.partitionBy("lang").orderBy("n_tokens", "doc_id")
    r = d.withColumn("pr", F.percent_rank().over(w))
    totals = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_total"))
    return (
        r.filter((F.col("pr") >= 0.05) & (F.col("pr") <= 0.95))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.min("n_tokens").alias("min_tokens"),
            F.max("n_tokens").alias("max_tokens"),
        )
        .join(totals, "lang")
    )


@_register(
    "q72_streaming_windowed_counts",
    """
    SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS start_us,
           (epoch_us(ts) // 3600000000) * 3600000000 + 3600000000 AS end_us,
           event_type, COUNT(*) AS n_events,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS value_cents
    FROM events
    GROUP BY 1, 2, 3
    """,
    "W5+W6 streaming: watermarked tumbling-hour aggregation over a "
    "bounded event stream drained with availableNow, diffed against "
    "the batch hour-bucket oracle (Spark tumbling windows align to the "
    "epoch hour; money stays fixed-point cents; timestamps surface as "
    "epoch-us ints). Completes the three streaming shapes: session "
    "window (q56), stream-stream join (q66), windowed agg (q72).",
    bench=False,  # stream startup dominates; not a query-engine cost
)
def q72_streaming_windowed_counts(spark, sf_dir):
    from ..streaming.stream_processor import drain_windowed_event_counts

    out = drain_windowed_event_counts(spark, f"{sf_dir}/events.parquet")
    return out.select(
        F.unix_micros("window_start").alias("start_us"),
        F.unix_micros("window_end").alias("end_us"),
        "event_type",
        "n_events",
        "value_cents",
    )


@_register(
    "q73_order_cube_rollup",
    """
    SELECT CAST(year(o_orderdate) AS INT) AS order_year,
           o_orderpriority,
           GROUPING(year(o_orderdate)) * 2 + GROUPING(o_orderpriority)
               AS gid,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS total_cents
    FROM orders
    GROUP BY CUBE (year(o_orderdate), o_orderpriority)
    """,
    "SURVEY 2.3 grouping-sets completion: CUBE over (order year, "
    "priority) with per-row grouping flags (GROUPING bits composed "
    "explicitly — portable across engines regardless of native "
    "grouping_id bit order) and fixed-point money totals.",
)
def q73_order_cube_rollup(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders").withColumn(
        "order_year", F.year("o_orderdate").cast("int")
    )
    return (
        orders.cube("order_year", "o_orderpriority")
        .agg(
            (F.grouping("order_year") * 2 + F.grouping("o_orderpriority"))
            .cast("long")
            .alias("gid"),
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "total_cents"
            ),
        )
        .select(
            "order_year", "o_orderpriority", "gid", "n_orders", "total_cents"
        )
    )


@_register(
    "q74_fuzzy_part_names",
    """
    WITH names AS (
        SELECT DISTINCT p_name AS name FROM part
    ),
    blocked AS (
        SELECT name, string_split(name, ' ')[-1] AS blk FROM names
    ),
    pairs AS (
        SELECT a.name AS name_a, b.name AS name_b,
               CAST(levenshtein(a.name, b.name) AS BIGINT) AS distance
        FROM blocked a JOIN blocked b
          ON a.blk = b.blk AND a.name < b.name
        WHERE levenshtein(a.name, b.name) <= 3
    ),
    counts AS (SELECT p_name, COUNT(*) AS n FROM part GROUP BY p_name)
    SELECT p.name_a, p.name_b, p.distance,
           ca.n AS n_parts_a, cb.n AS n_parts_b
    FROM pairs p
    JOIN counts ca ON ca.p_name = p.name_a
    JOIN counts cb ON cb.p_name = p.name_b
    """,
    "Entity resolution: fuzzy part-name pairs — DISTINCT values first "
    "(the pair search never touches the row count), blocked on the "
    "head noun so comparisons are sum(block^2) not corpus^2, "
    "levenshtein <= 3 JVM-side on blocked candidates only; row "
    "weights join back by value.",
)
def q74_fuzzy_part_names(spark, sf_dir):
    from ..operators.fuzzy import fuzzy_name_pairs

    part = _t(spark, sf_dir, "part")
    pairs = fuzzy_name_pairs(part, "p_name", max_distance=3)
    counts = part.groupBy(F.col("p_name")).agg(F.count(F.lit(1)).alias("n"))
    ca = counts.select(
        F.col("p_name").alias("name_a"), F.col("n").alias("n_parts_a")
    )
    cb = counts.select(
        F.col("p_name").alias("name_b"), F.col("n").alias("n_parts_b")
    )
    return pairs.join(ca, "name_a").join(
        cb, "name_b"
    ).select("name_a", "name_b", "distance", "n_parts_a", "n_parts_b")


@_register(
    "q75_rolling_week_revenue",
    """
    WITH daily AS (
        SELECT o_orderdate AS d,
               date_diff('day', DATE '1970-01-01', o_orderdate) AS epoch_day,
               CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS day_cents
        FROM orders GROUP BY 1, 2
    )
    SELECT strftime(d, '%Y-%m-%d') AS day,
           day_cents,
           CAST(SUM(day_cents) OVER (
               ORDER BY epoch_day
               RANGE BETWEEN 6 PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS rolling_7d_cents
    FROM daily
    """,
    "W9 range-frame windows: trailing 7-day revenue via RANGE BETWEEN "
    "over epoch-day ints — a value-based frame (calendar gaps shrink "
    "the window), not a 7-ROW frame. The window input is the per-day "
    "aggregate (bounded by the calendar, not the fact table), so the "
    "unpartitioned sort is a few thousand rows at any corpus scale.",
)
def q75_rolling_week_revenue(spark, sf_dir):
    orders = _t(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_orderdate").alias("d"),
        F.datediff(F.col("o_orderdate"), F.lit("1970-01-01").cast("date"))
        .alias("epoch_day"),
    ).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "day_cents"
        )
    )
    w = Window.orderBy("epoch_day").rangeBetween(-6, 0)
    return daily.select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        "day_cents",
        F.sum("day_cents").over(w).alias("rolling_7d_cents"),
    )


@_register(
    "q76_event_value_histogram",
    """
    SELECT event_type,
           least(greatest(CAST(floor(value / 5) AS BIGINT), 0), 19) AS bin,
           COUNT(*) AS n_events,
           CAST(MIN(round(value * 100)) AS BIGINT) AS min_cents,
           CAST(MAX(round(value * 100)) AS BIGINT) AS max_cents
    FROM events
    GROUP BY 1, 2
    """,
    "SURVEY 2.3: equi-width histogram — 5-unit value bins (clamped to "
    "[0, 19], so the top bin absorbs the tail) per event type. Bin "
    "assignment is integer floor division; one partial-agg shuffle of "
    "(type x 20) groups regardless of event count.",
)
def q76_event_value_histogram(spark, sf_dir):
    events = _t(spark, sf_dir, "events")
    bin_col = F.least(
        F.greatest(F.floor(F.col("value") / 5).cast("long"), F.lit(0)),
        F.lit(19),
    )
    return events.groupBy(
        "event_type", bin_col.alias("bin")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min(F.round(F.col("value") * 100)).cast("long").alias("min_cents"),
        F.max(F.round(F.col("value") * 100)).cast("long").alias("max_cents"),
    )


@_register(
    "q77_span_dup_fraction",
    f"""
    WITH toks AS (SELECT doc_id, {_SQL_TOKS} AS t FROM documents),
    sp AS (
        SELECT doc_id, unnest(list_distinct(
            CASE WHEN len(t) >= 8 THEN list_transform(range(len(t) - 7),
                i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' '
                     || t[i+4] || ' ' || t[i+5] || ' ' || t[i+6] || ' '
                     || t[i+7] || ' ' || t[i+8])
            ELSE []::VARCHAR[] END)) AS span
        FROM toks
    ),
    freq AS (SELECT span, COUNT(*) AS ndocs FROM sp GROUP BY span),
    per AS (
        SELECT sp.doc_id, COUNT(*) AS n_spans,
               SUM(CASE WHEN ndocs >= 2 THEN 1 ELSE 0 END) AS n_shared
        FROM sp JOIN freq USING (span) GROUP BY sp.doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(per.n_spans, 0) AS BIGINT) AS n_spans,
           CAST(COALESCE(per.n_shared, 0) AS BIGINT) AS n_shared_spans,
           CAST((1000000 * COALESCE(per.n_shared, 0))
                // GREATEST(COALESCE(per.n_spans, 0), 1) AS BIGINT)
               AS dup_frac_micro
    FROM documents d LEFT JOIN per USING (doc_id)
    """,
    "Training-data op: span-level exact-substring duplication signal "
    "(Lee et al. 2022 ExactSubstr statistic) — per doc, the fraction "
    "of its distinct 8-token spans that occur in any other document. "
    "Integer division end-to-end (no float rounding); no pair "
    "materialization — cost is the span stream, never corpus^2.",
)
def q77_span_dup_fraction(spark, sf_dir):
    from ..operators.dedup import span_dup_stats

    return span_dup_stats(_t(spark, sf_dir, "documents"), span_n=8)


@_register(
    "q78_unigram_logprob",
    f"""
    WITH toks AS (SELECT doc_id, {_SQL_TOKS} AS t FROM documents),
    tok AS (SELECT doc_id, unnest(t) AS tok FROM toks),
    cnt AS (SELECT tok, COUNT(*) AS c FROM tok GROUP BY tok),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS total FROM cnt),
    lp AS (
        SELECT tok,
               CAST(round(ln(c / (1.0 * total)) * 1000000) AS BIGINT)
                   AS lp_micro
        FROM cnt, tot
    )
    SELECT doc_id, COUNT(*) AS n_tokens,
           CAST(SUM(lp_micro) AS BIGINT) AS sum_lp_micro,
           CAST(SUM(lp_micro) AS BIGINT) / (1.0 * COUNT(*)) AS avg_lp_micro
    FROM tok JOIN lp USING (tok) GROUP BY doc_id
    """,
    "Training-data op: corpus-trained unigram-LM document scoring "
    "(the cheap analog of CCNet/RedPajama's KenLM perplexity filter). "
    "Per-token ln(count/total) quantized ONCE to micro-units, then "
    "exact integer sums per doc — order-independent across engines; "
    "the mean is one division of two exact integers.",
)
def q78_unigram_logprob(spark, sf_dir):
    from ..operators.text import unigram_logprob

    return unigram_logprob(_t(spark, sf_dir, "documents"))


@_register(
    "q79_daily_revenue_gapfill",
    """
    WITH daily AS (
        SELECT o_orderdate::DATE AS d,
               SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents,
               COUNT(*) AS n_orders
        FROM orders GROUP BY d
    ),
    bounds AS (SELECT MIN(d) AS d0, MAX(d) AS d1 FROM daily),
    cal AS (
        SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS d
        FROM bounds
    )
    SELECT strftime(cal.d, '%Y-%m-%d') AS order_day,
           COALESCE(daily.cents, 0) / 100.0 AS revenue,
           CAST(COALESCE(daily.n_orders, 0) AS BIGINT) AS n_orders,
           daily.n_orders IS NULL AS is_gap
    FROM cal LEFT JOIN daily ON cal.d = daily.d
    """,
    "Time-series resample/gap-fill: a dense daily revenue series over "
    "the full calendar span, zero-filled on days with no orders "
    "(sequence/generate_series explode + left join). The calendar "
    "frame is bounded by the date range — a few thousand rows joined "
    "against a per-day aggregate regardless of fact-table size, so "
    "the only at-scale work is the orders scan + partial agg.",
)
def q79_daily_revenue_gapfill(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(F.to_date("o_orderdate").alias("d")).agg(
        F.sum(to_fixed("o_totalprice", 100)).alias("cents"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    bounds = daily.agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
    cal = bounds.select(
        F.explode(F.expr("sequence(d0, d1, interval 1 day)")).alias("d")
    )
    return cal.join(daily, "d", "left").select(
        F.date_format("d", "yyyy-MM-dd").alias("order_day"),
        (F.coalesce("cents", F.lit(0)) / F.lit(100.0)).alias("revenue"),
        F.coalesce("n_orders", F.lit(0)).cast("long").alias("n_orders"),
        F.col("n_orders").isNull().alias("is_gap"),
    )


@_register(
    "q80_part_metrics_unpivot",
    """
    WITH agg AS (
        SELECT p_type,
               CAST(COUNT(*) AS BIGINT) AS n_parts,
               CAST(SUM(p_size) AS BIGINT) AS sum_size,
               CAST(SUM(CAST(round(p_retailprice * 100) AS BIGINT))
                    AS BIGINT) AS sum_price_cents
        FROM part GROUP BY p_type
    )
    UNPIVOT agg ON n_parts, sum_size, sum_price_cents
    INTO NAME metric VALUE value
    """,
    "SURVEY 2.6 wide-to-long completion: per-type part metrics "
    "unpivoted to (p_type, metric, value) rows via DataFrame.unpivot "
    "(Spark's melt) against DuckDB's UNPIVOT — the reshape runs on "
    "the already-aggregated frame, never the fact table.",
)
def q80_part_metrics_unpivot(spark, sf_dir):
    part = _t(spark, sf_dir, "part")
    wide = part.groupBy("p_type").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.sum("p_size").alias("sum_size"),
        F.sum(to_fixed("p_retailprice", 100)).alias("sum_price_cents"),
    )
    return wide.unpivot(
        ids=["p_type"],
        values=["n_parts", "sum_size", "sum_price_cents"],
        variableColumnName="metric",
        valueColumnName="value",
    )


@_register(
    "q81_incremental_dedup",
    f"""
    WITH {_nd_pair_ctes()},
    inc_cands AS (
        SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS corpus_id
        FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
        WHERE a.doc_id % 10 = 3 AND b.doc_id % 10 <> 3
    ),
    inc_inter AS (
        SELECT c.new_id, c.corpus_id, COUNT(*) AS n_inter
        FROM inc_cands c
        JOIN sh sa ON sa.id = c.new_id
        JOIN sh sb ON sb.id = c.corpus_id AND sb.shingle = sa.shingle
        GROUP BY c.new_id, c.corpus_id
    )
    SELECT i.new_id, i.corpus_id,
           i.n_inter / (1.0 * (za.n_sh + zb.n_sh - i.n_inter)) AS jaccard
    FROM inc_inter i
    JOIN sizes za ON i.new_id = za.id
    JOIN sizes zb ON i.corpus_id = zb.id
    WHERE i.n_inter / (1.0 * (za.n_sh + zb.n_sh - i.n_inter)) >= 0.1
    """,
    "Training-data op: incremental ingestion dedup — a new batch "
    "(doc_id % 10 = 3) deduped AGAINST the existing corpus via "
    "MinHash-LSH band collisions + exact Jaccard verify, without ever "
    "re-pairing the corpus with itself. Per ingest the cost is "
    "O(batch + collisions); at scale the corpus band index persists "
    "bucketed by (band, key) so the candidate join is co-located.",
)
def q81_incremental_dedup(spark, sf_dir):
    from ..operators.dedup import incremental_near_dups

    docs = _t(spark, sf_dir, "documents")
    return incremental_near_dups(
        docs.filter(F.col("doc_id") % 10 != 3),
        docs.filter(F.col("doc_id") % 10 == 3),
        threshold=0.1,
        use_portable_hash=True,
    )


@_register(
    "q82_cluster_balanced_sample",
    f"""
    WITH cents AS (
        SELECT centroid_id, coeffs
        FROM read_parquet('{{scratch}}/q82_centroids.parquet/*.parquet')
    ),
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    sims AS (
        SELECT vec_id, centroid_id, list_cosine_similarity(v, coeffs) AS s
        FROM e, cents
    ),
    assign AS (
        SELECT vec_id, centroid_id AS cluster FROM (
            SELECT *, row_number() OVER (
                PARTITION BY vec_id ORDER BY s DESC, centroid_id) AS rn
            FROM sims) WHERE rn = 1
    ),
    ranked AS (
        SELECT vec_id, cluster,
               CAST(row_number() OVER (
                   PARTITION BY cluster
                   ORDER BY {_sql_hash_uniform("csample", "vec_id")}, vec_id
               ) AS BIGINT) AS rk,
               CAST(COUNT(*) OVER (PARTITION BY cluster) AS BIGINT)
                   AS cluster_size
        FROM assign
    )
    SELECT vec_id, cluster, rk, cluster_size FROM ranked WHERE rk <= 20
    """.replace("{scratch}", ORACLE_SCRATCH),
    "Training-data op: cluster-balanced subsampling (the SemDeDup-"
    "style curation shape) — assign every embedding to its nearest "
    "trained centroid, then keep a deterministic hash-ranked quota "
    "per cluster, so dense regions downsample hard and sparse regions "
    "survive. Assignment reuses the q46 codebook protocol (float64 "
    "cosine, first-max ties, codebook materialized for the oracle).",
)
def q82_cluster_balanced_sample(spark, sf_dir):
    from ..operators.ivf import build_ivf_index, train_centroids
    from ..operators.sampling import cluster_balanced_sample

    emb = _t(spark, sf_dir, "embeddings")
    cents = train_centroids(emb, n_centroids=8, n_iters=2)
    _write_scratch_vectors("q82_centroids.parquet", "centroid_id", cents)
    assigned = build_ivf_index(emb, cents).select(
        F.col("neighbor_id").alias("vec_id"), "cluster"
    )
    return cluster_balanced_sample(assigned, per_cluster=20)


@_register(
    "q83_weekly_cohort_retention",
    """
    WITH ev AS (
        SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events
    ),
    fw AS (SELECT user_id, MIN(wk) AS cohort_week FROM ev GROUP BY user_id)
    SELECT strftime(fw.cohort_week, '%Y-%m-%d') AS cohort_week,
           CAST(date_diff('week', fw.cohort_week, ev.wk) AS BIGINT)
               AS weeks_since,
           COUNT(*) AS n_active_users
    FROM ev JOIN fw USING (user_id)
    GROUP BY 1, 2
    """,
    "Cohort retention matrix: users grouped by first-active week, "
    "counted in every later week they return (the standard product-"
    "analytics triangle). Both week keys are Monday-truncated in both "
    "engines, so weeks_since is an exact integer. Shape: distinct "
    "(user, week) partial-aggregates map-side; the only shuffles are "
    "by user_id — no window over the raw event stream.",
)
def q83_weekly_cohort_retention(spark, sf_dir):
    ev = (
        _t(spark, sf_dir, "events")
        .select("user_id", F.date_trunc("week", "ts").alias("wk"))
        .distinct()
    )
    fw = ev.groupBy("user_id").agg(F.min("wk").alias("cohort_week"))
    return (
        ev.join(fw, "user_id")
        .groupBy(
            F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"),
            (F.datediff(F.col("wk"), F.col("cohort_week")) / 7)
            .cast("long")
            .alias("weeks_since"),
        )
        .agg(F.count(F.lit(1)).alias("n_active_users"))
    )


def _order_part_sets(spark, sf_dir):
    """Per-order sorted distinct part array in ONE order-keyed shuffle
    (q138's edge-generation pattern, extracted round 16). Replaces the
    (l_orderkey, l_partkey)-distinct + per-order self-join pair build
    used by the market-basket family: the distinct and the join each
    paid a shuffle of the full (order, part) stream plus a hash-relation
    build; here one groupBy shuffles the same stream once and the pair
    expansion runs in-codegen over the <= order-size array (guide
    §2.3 aggregate-before-shuffle / §2.4 remove-shuffles)."""
    return (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("ps"))
    )


def _ordered_part_pairs(ps_sets):
    """(part_a, part_b) with part_a < part_b, one row per co-occurrence,
    expanded from the per-order part array by a nested transform (the
    array arg is a MATERIALIZED column, so the no-CSE-inside-HOF rule
    is satisfied — same shape q138 uses)."""
    return (
        ps_sets.filter(F.size("ps") >= 2)
        .select(
            F.explode(
                F.flatten(
                    F.transform(
                        F.col("ps"),
                        lambda x, i: F.transform(
                            F.slice(
                                F.col("ps"),
                                i + F.lit(2),
                                F.greatest(F.size("ps") - i - 1, F.lit(0)),
                            ),
                            lambda y: F.struct(
                                x.alias("part_a"), y.alias("part_b")
                            ),
                        ),
                    )
                )
            ).alias("e")
        )
        .select("e.part_a", "e.part_b")
    )


@_register(
    "q84_market_basket_pairs",
    """
    WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    counts AS (SELECT l_partkey, COUNT(*) AS n_ord FROM lp GROUP BY l_partkey),
    tot AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM lp),
    pairs AS (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
               COUNT(*) AS n_both
        FROM lp a JOIN lp b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY part_a, part_b
    )
    SELECT part_a, part_b, n_both,
           CAST((1000000 * n_both * n_orders)
                // (ca.n_ord * cb.n_ord) AS BIGINT) AS lift_micro
    FROM pairs
    JOIN counts ca ON ca.l_partkey = part_a
    JOIN counts cb ON cb.l_partkey = part_b
    CROSS JOIN tot
    WHERE n_both >= 3
    """,
    "Market-basket co-occurrence: part pairs ordered together, with "
    "integer-exact lift (1e6 * P(ab) / (P(a)P(b)) by integer "
    "division). The self-join is per-order — cost is bounded by "
    "order size squared (<= 7 lines in TPC-H), linear in orders, "
    "never parts^2; the totals row broadcasts.",
)
def q84_market_basket_pairs(spark, sf_dir):
    # one order-keyed shuffle builds the per-order part sets; counts,
    # the order total, and the pair expansion all read the cached sets
    # (round 16: replaces distinct + self-join; interleaved A/B at
    # sf0.1: q84 -3.5%, q145 -15.7%, q93 -7.0% — and one less
    # Exchange + no join build at scale)
    ps_all = _order_part_sets(spark, sf_dir).cache()
    counts = (
        ps_all.select(F.explode("ps").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("n_ord"))
    )
    tot = ps_all.agg(F.count(F.lit(1)).alias("n_orders"))
    pairs = (
        _ordered_part_pairs(ps_all)
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
        .filter(F.col("n_both") >= 3)
    )
    return (
        pairs.join(
            counts.select(F.col("l_partkey").alias("part_a"), F.col("n_ord").alias("n_a")),
            "part_a",
        )
        .join(
            counts.select(F.col("l_partkey").alias("part_b"), F.col("n_ord").alias("n_b")),
            "part_b",
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "part_a",
            "part_b",
            "n_both",
            F.expr(
                "CAST((1000000 * n_both * n_orders) DIV (n_a * n_b) AS BIGINT)"
            ).alias("lift_micro"),
        )
    )


@_register(
    "q85_bigram_pmi",
    f"""
    WITH toks AS (SELECT doc_id, {_SQL_TOKS} AS t FROM documents),
    uni AS (
        SELECT unnest(t) AS tok FROM toks
    ),
    ucnt AS (SELECT tok, COUNT(*) AS c FROM uni GROUP BY tok),
    utot AS (SELECT CAST(SUM(c) AS BIGINT) AS tt FROM ucnt),
    bg AS (
        SELECT unnest(CASE WHEN len(t) >= 2
            THEN list_transform(range(len(t) - 1),
                                i -> t[i + 1] || ' ' || t[i + 2])
            ELSE []::VARCHAR[] END) AS bigram
        FROM toks
    ),
    bcnt AS (SELECT bigram, COUNT(*) AS c_ab FROM bg GROUP BY bigram),
    btot AS (SELECT CAST(SUM(c_ab) AS BIGINT) AS tb FROM bcnt),
    pmi AS (
        SELECT bigram, c_ab,
               CAST(round(ln((c_ab / (1.0 * tb))
                    / ((ca.c / (1.0 * tt)) * (cb.c / (1.0 * tt))))
                    * 1000000) AS BIGINT) AS pmi_micro
        FROM bcnt
        JOIN ucnt ca ON ca.tok = string_split(bigram, ' ')[1]
        JOIN ucnt cb ON cb.tok = string_split(bigram, ' ')[2]
        CROSS JOIN utot CROSS JOIN btot
        WHERE c_ab >= 5
    )
    SELECT bigram, c_ab, pmi_micro FROM pmi
    ORDER BY pmi_micro DESC, bigram LIMIT 20
    """,
    "Collocation mining: top-20 token bigrams by pointwise mutual "
    "information (min support 5). PMI is computed from exact integer "
    "counts, quantized once to micro-units, and the top-k orders by "
    "the quantized integer — deterministic across engines. Shape: "
    "two explode+partial-agg passes and a join of bigram counts to "
    "the (small) unigram vocabulary; totals broadcast.",
)
def q85_bigram_pmi(spark, sf_dir):
    from ..operators.dedup import shingles_of
    from ..operators.text import tokens as _tokens

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(_tokens("text").alias("t"))
    uni = toks.select(F.explode("t").alias("tok"))
    ucnt = uni.groupBy("tok").agg(F.count(F.lit(1)).alias("c")).cache()
    utot = ucnt.agg(F.sum("c").alias("tt"))
    bg = toks.select(F.explode(shingles_of("t", 2)).alias("bigram"))
    bcnt = (
        bg.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .filter(F.col("c_ab") >= 5)
    )
    btot = bg.agg(F.count(F.lit(1)).alias("tb"))
    parts = F.split("bigram", " ")
    scored = (
        bcnt.withColumn("tok_a", parts.getItem(0))
        .withColumn("tok_b", parts.getItem(1))
        .join(ucnt.select(F.col("tok").alias("tok_a"), F.col("c").alias("c_a")), "tok_a")
        .join(ucnt.select(F.col("tok").alias("tok_b"), F.col("c").alias("c_b")), "tok_b")
        .crossJoin(F.broadcast(utot))
        .crossJoin(F.broadcast(btot))
        .select(
            "bigram",
            "c_ab",
            F.round(
                F.log(
                    (F.col("c_ab") / F.col("tb"))
                    / ((F.col("c_a") / F.col("tt")) * (F.col("c_b") / F.col("tt")))
                )
                * 1000000
            )
            .cast("long")
            .alias("pmi_micro"),
        )
    )
    return scored.orderBy(F.desc("pmi_micro"), F.asc("bigram")).limit(20)


@_register(
    "q86_streaming_dedup_keys",
    """
    SELECT DISTINCT user_id, event_type,
           (epoch_us(ts) // 3600000000) * 3600000000 AS hour_us
    FROM events
    """,
    "S7/W6 streaming Silver dedup as an oracle-gated query: "
    "watermark-bounded dropDuplicates on a composite "
    "(user_id, event_type, hour) key over a bounded stream, drained "
    "with availableNow. The surviving ROW per key is arrival-order "
    "dependent, so the deterministic contract is the key set — equal "
    "to batch DISTINCT. Completes the fourth streaming shape "
    "(session q56, join q66, windowed agg q72, dedup q86).",
    bench=False,  # stream startup dominates; not a query-engine cost
)
def q86_streaming_dedup_keys(spark, sf_dir):
    from ..streaming.stream_processor import drain_streaming_dedup

    return drain_streaming_dedup(spark, f"{sf_dir}/events.parquet")


@_register(
    "q87_custom_grouping_sets",
    """
    SELECT n_name,
           o_orderpriority,
           GROUPING(n_name) * 2 + GROUPING(o_orderpriority) AS gid,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS total_cents
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY GROUPING SETS ((n_name, o_orderpriority), (n_name), ())
    """,
    "SURVEY 2.3 grouping-sets completion beyond CUBE/ROLLUP (q73/q35): "
    "an explicit GROUPING SETS list — per-(nation, priority) detail, "
    "per-nation subtotal, grand total, with portable grouping flags — "
    "through the spark.sql entry path over broadcast dim joins.",
)
def q87_custom_grouping_sets(spark, sf_dir):
    _t(spark, sf_dir, "orders").createOrReplaceTempView("v_orders_q87")
    _t(spark, sf_dir, "customer").createOrReplaceTempView("v_customer_q87")
    _t(spark, sf_dir, "nation").createOrReplaceTempView("v_nation_q87")
    return spark.sql(
        """
        SELECT n_name,
               o_orderpriority,
               CAST(grouping(n_name) * 2 + grouping(o_orderpriority)
                    AS BIGINT) AS gid,
               COUNT(*) AS n_orders,
               SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS total_cents
        FROM v_orders_q87
        JOIN v_customer_q87 ON o_custkey = c_custkey
        JOIN v_nation_q87 ON c_nationkey = n_nationkey
        GROUP BY GROUPING SETS ((n_name, o_orderpriority), (n_name), ())
        """
    )


@_register(
    "q88_bpe_pretoken_stats",
    r"""
    WITH d AS (
        SELECT lang,
               CAST(len(regexp_extract_all(text,
                   '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS BIGINT) AS n_bpe,
               CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT)
                   AS n_digit_runs,
               CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9 ]')) AS BIGINT)
                   AS n_symbols
        FROM documents
    )
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(n_bpe) AS BIGINT) AS sum_bpe_tokens,
           CAST(SUM(n_digit_runs) AS BIGINT) AS sum_digit_runs,
           CAST(SUM(n_symbols) AS BIGINT) AS sum_symbols
    FROM d GROUP BY lang
    """,
    "U4 tokenizer surface: BPE-ish pre-token counts per language "
    "(letter runs / digit runs / single symbols via "
    "regexp_extract_all — the byte-pair pre-split approximation), "
    "plus digit-run and symbol counts. Pure codegen expressions; one "
    "partial-agg shuffle of 5 rows.",
)
def q88_bpe_pretoken_stats(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    bpe = F.size(
        F.regexp_extract_all("text", F.lit(r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"), 0)
    ).cast("long")
    digits = F.size(
        F.regexp_extract_all("text", F.lit(r"[0-9]+"), 0)
    ).cast("long")
    syms = F.size(
        F.regexp_extract_all("text", F.lit(r"[^a-zA-Z0-9 ]"), 0)
    ).cast("long")
    return (
        docs.select("lang", bpe.alias("n_bpe"), digits.alias("n_digit_runs"),
                    syms.alias("n_symbols"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_bpe").alias("sum_bpe_tokens"),
            F.sum("n_digit_runs").alias("sum_digit_runs"),
            F.sum("n_symbols").alias("sum_symbols"),
        )
    )


@_register(
    "q89_scd2_user_tiers",
    """
    WITH e AS (
        SELECT user_id, epoch_us(ts) AS us, event_id,
               CAST(least(floor(value / 100), 4) AS BIGINT) AS tier
        FROM events
    ),
    o AS (
        SELECT *, lag(tier) OVER (PARTITION BY user_id
                                  ORDER BY us, event_id) AS prev
        FROM e
    ),
    ch AS (
        SELECT user_id, us, event_id, tier FROM o
        WHERE prev IS NULL OR prev <> tier
    )
    SELECT user_id,
           CAST(row_number() OVER w AS BIGINT) AS version_no,
           tier,
           us AS valid_from_us,
           lead(us) OVER w AS valid_to_us
    FROM ch
    WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
    """,
    "Warehouse SCD2: build a type-2 slowly-changing dimension from a "
    "change stream — collapse consecutive unchanged attribute values "
    "(user value-tier), then half-open validity intervals "
    "[valid_from, valid_to) with NULL for the current version. "
    "Complements apply_cdc (latest-by-key, q16) with full history "
    "for point-in-time joins. One shuffle by key; both windows reuse "
    "the same sort.",
)
def q89_scd2_user_tiers(spark, sf_dir):
    from ..operators.cdc import scd2_intervals

    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros("ts").alias("us"),
        "event_id",
        F.least(F.floor(F.col("value") / 100), F.lit(4))
        .cast("long")
        .alias("tier"),
    )
    return scd2_intervals(
        ev, key_col="user_id", attr_col="tier",
        ts_col="us", tiebreak_col="event_id",
    ).select(
        "user_id",
        "version_no",
        "tier",
        F.col("valid_from").alias("valid_from_us"),
        F.col("valid_to").alias("valid_to_us"),
    )


@_register(
    "q90_waiting_suppliers",
    """
    WITH lo AS (
        SELECT l_orderkey, l_suppkey,
               CASE WHEN l_shipdate > o_orderdate + INTERVAL 60 DAY
                    THEN 1 ELSE 0 END AS late
        FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        WHERE o_orderstatus = 'F'
    ),
    per_order AS (
        SELECT l_orderkey,
               COUNT(DISTINCT l_suppkey) AS n_supp,
               COUNT(DISTINCT CASE WHEN late = 1 THEN l_suppkey END)
                   AS n_late_supp
        FROM lo GROUP BY l_orderkey
    )
    SELECT s_name, COUNT(*) AS numwait
    FROM lo
    JOIN per_order USING (l_orderkey)
    JOIN supplier ON s_suppkey = l_suppkey
    WHERE late = 1 AND n_supp > 1 AND n_late_supp = 1
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 20
    """,
    "TPC-H Q21 shape (suppliers who kept finished multi-supplier "
    "orders waiting: their line shipped >60d after order date and no "
    "other supplier's did). The textbook form is a correlated EXISTS "
    "+ NOT EXISTS; re-expressed as ONE pass over lineitem with a "
    "per-order distinct-supplier aggregate re-joined to the late "
    "lines — two shuffles on l_orderkey total, where the correlated "
    "form would re-probe lineitem twice per row. Supplier dim "
    "broadcasts.",
)
def q90_waiting_suppliers(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    s = _t(spark, sf_dir, "supplier")
    lo = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "l_orderkey",
        "l_suppkey",
        (
            F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
        )
        .cast("int")
        .alias("late"),
    )
    per_order = lo.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(
            F.when(F.col("late") == 1, F.col("l_suppkey"))
        ).alias("n_late_supp"),
    )
    return (
        lo.filter(F.col("late") == 1)
        .join(per_order, "l_orderkey")
        .filter((F.col("n_supp") > 1) & (F.col("n_late_supp") == 1))
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(20)
    )


@_register(
    "q91_idle_rich_customers",
    """
    WITH c AS (
        SELECT c_custkey, c_mktsegment,
               CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c
        FROM customer
        WHERE c_mktsegment IN ('BUILDING', 'MACHINERY', 'HOUSEHOLD')
    ),
    avg_bal AS (
        SELECT CAST(SUM(bal_c) AS BIGINT) AS s, COUNT(*) AS n
        FROM c WHERE bal_c > 0
    )
    SELECT c_mktsegment,
           COUNT(*) AS n_customers,
           CAST(SUM(bal_c) AS BIGINT) / 100.0 AS total_acctbal
    FROM c CROSS JOIN avg_bal
    WHERE bal_c * n > s
      AND NOT EXISTS (
          SELECT 1 FROM orders
          WHERE o_custkey = c_custkey
            AND o_orderdate >= DATE '2001-01-01'
      )
    GROUP BY c_mktsegment
    """,
    "TPC-H Q22 shape (rich customers in target segments with no "
    "RECENT orders — lapsed high-value accounts): scalar-subquery "
    "average + date-filtered anti-join. The "
    "above-average test is exact — cents * count > sum_cents by "
    "integer cross-multiplication, no float average. Spark side: "
    "1-row aggregate broadcast-crossJoined, left_anti against "
    "orders; customer is the probe side so the anti-join shuffles "
    "the smaller relation's keys only.",
)
def q91_idle_rich_customers(spark, sf_dir):
    segs = ("BUILDING", "MACHINERY", "HOUSEHOLD")
    c = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment").isin(*segs))
        .select(
            "c_custkey",
            "c_mktsegment",
            to_fixed("c_acctbal", 100).alias("bal_c"),
        )
    )
    avg_bal = c.filter(F.col("bal_c") > 0).agg(
        F.sum("bal_c").alias("s"), F.count(F.lit(1)).alias("n")
    )
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2001-01-01").cast("date")
    )
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("bal_c") * F.col("n") > F.col("s"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            (F.sum("bal_c") / 100.0).alias("total_acctbal"),
        )
    )


@_register(
    "q92_brand_price_qty_corr",
    """
    WITH x AS (
        SELECT p_brand,
               CAST(round(l_quantity) AS BIGINT) AS x,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS y
        FROM lineitem JOIN part ON p_partkey = l_partkey
    ),
    sums AS (
        SELECT p_brand,
               COUNT(*) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * y) AS BIGINT) AS sxy,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(y * y) AS BIGINT) AS syy
        FROM x GROUP BY p_brand
    )
    SELECT p_brand, n, sx, sy,
           CAST(round(
               (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
               / nullif(
                   sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                   * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                          - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)),
                   0)
               * 1000000) AS BIGINT) AS corr_micro
    FROM sums
    ORDER BY p_brand
    """,
    "Statistical aggregate surface: Pearson correlation of quantity "
    "vs extended price per brand, from EXACT integer moment sums "
    "(n, Σx, Σy, Σxy, Σx², Σy² of fixed-point values) — the "
    "map-side-combinable decomposition every distributed corr uses. "
    "The final r is one double expression over those exact ints, "
    "quantized to micro-units; both engines evaluate the identical "
    "expression tree so IEEE doubles agree bit-for-bit. Never uses "
    "the engines' own corr()/covar() (their accumulation order is "
    "engine-defined).",
)
def q92_brand_price_qty_corr(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    x = li.join(p, p.p_partkey == li.l_partkey).select(
        "p_brand",
        F.round("l_quantity").cast("long").alias("x"),
        to_fixed("l_extendedprice", 100).alias("y"),
    )
    sums = x.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    # zero-variance guard (round 16, the q162-class ANSI rule): a
    # single-row or constant-valued brand makes n*sxx - sx^2 = 0 and
    # ANSI Spark raises DIVIDE_BY_ZERO even on DOUBLE 0/0 (probed),
    # while DuckDB's nullif mirror returns NULL — corr_micro is NULL
    # for degenerate groups on both sides. The guarded branch keeps
    # the exact expression tree, so non-degenerate rows stay
    # bit-identical.
    vx = d("n") * d("sxx") - d("sx") * d("sx")
    vy = d("n") * d("syy") - d("sy") * d("sy")
    corr = F.when(
        (vx > 0) & (vy > 0),
        (d("n") * d("sxy") - d("sx") * d("sy"))
        / (F.sqrt(vx) * F.sqrt(vy)),
    )
    return sums.select(
        "p_brand",
        "n",
        "sx",
        "sy",
        F.round(corr * 1000000).cast("long").alias("corr_micro"),
    ).orderBy("p_brand")


def _pagerank_oracle(iters: int = 3) -> str:
    """Unrolled-CTE mirror of operators.graph.pagerank (integer
    fixed-point, '//' floor division) over the part co-purchase
    graph."""
    scale = 10**12
    ctes = [
        "li2 AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)",
        """edges AS (
        SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        FROM li2 a JOIN li2 b ON a.l_orderkey = b.l_orderkey
        WHERE a.l_partkey <> b.l_partkey
    )""",
        "deg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY src)",
        f"""consts AS (
        SELECT CAST({scale} // COUNT(*) AS BIGINT) AS r_init,
               CAST(15 * {scale} // (100 * COUNT(*)) AS BIGINT) AS tele
        FROM deg
    )""",
        "r0 AS (SELECT src AS id, (SELECT r_init FROM consts) AS r FROM deg)",
    ]
    for k in range(iters):
        ctes.append(
            f"""r{k + 1} AS (
        SELECT e.dst AS id,
               (SELECT tele FROM consts)
               + CAST(SUM((85 * r{k}.r) // (100 * deg.d)) AS BIGINT) AS r
        FROM edges e
        JOIN r{k} ON r{k}.id = e.src
        JOIN deg ON deg.src = e.src
        GROUP BY e.dst
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT p_partkey, p_name, r AS rank_q
    FROM r{iters} JOIN part ON p_partkey = id
    ORDER BY rank_q DESC, p_partkey LIMIT 20
    """
    )


@_register(
    "q93_copurchase_pagerank",
    _pagerank_oracle(3),
    "Iterative graph operator: 3 power iterations of PageRank over "
    "the part co-purchase graph (parts sharing an order). All-integer "
    "fixed-point (RANK_SCALE units, floor-division shares) so the "
    "distributed result is bit-identical to the oracle's unrolled "
    "CTEs. Spark side pre-partitions+caches the edge frame once; each "
    "iteration is a |V|-row join + one groupBy with map-side partial "
    "sums — the Pregel-style shuffle pattern that scales to "
    "billion-edge graphs. operators/graph.py.",
)
def q93_copurchase_pagerank(spark, sf_dir):
    from ..operators.graph import pagerank

    # one order-keyed shuffle + in-codegen pair expansion (round 16:
    # replaces the distinct + self-join edge build — q84's pattern);
    # both directions emitted per ordered pair, pagerank dedups
    op = _ordered_part_pairs(_order_part_sets(spark, sf_dir))
    edges = op.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("part_a").alias("src"), F.col("part_b").alias("dst")
                ),
                F.struct(
                    F.col("part_b").alias("src"), F.col("part_a").alias("dst")
                ),
            )
        ).alias("e2")
    ).select("e2.src", "e2.dst")
    # 3 iterations is shallow lineage — skip the per-round
    # localCheckpoint jobs (worth ~0.8 s of 4.9 s at sf0.1); keep
    # checkpointing for deep iteration counts
    pr = pagerank(edges, iters=3, checkpoint=False)
    p = _t(spark, sf_dir, "part")
    return (
        pr.join(p, pr.id == p.p_partkey)
        .select("p_partkey", "p_name", "rank_q")
        .orderBy(F.desc("rank_q"), F.asc("p_partkey"))
        .limit(20)
    )


@_register(
    "q119_large_volume_orders",
    """
    WITH big AS (
        SELECT l_orderkey,
               CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT)
                   AS total_qty
        FROM lineitem GROUP BY l_orderkey
        HAVING SUM(CAST(round(l_quantity) AS BIGINT)) > 250
    )
    SELECT c_name, c_custkey, o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS order_day,
           CAST(round(o_totalprice * 100) AS BIGINT) / 100.0
               AS total_price,
           total_qty
    FROM big
    JOIN orders ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    ORDER BY total_price DESC, o_orderkey
    LIMIT 100
    """,
    "TPC-H Q18 shape (large-volume orders: customers whose order "
    "moved >250 units). The HAVING runs on the partial-agg output of "
    "ONE lineitem scan — at 100 TB the per-order rollup collapses "
    "~4B lineitems to ~1B one-row groups map-side before the "
    "orderkey shuffle; the surviving handful of big orders then join "
    "orders (same key, no re-shuffle of lineitem) and a broadcast "
    "customer dim. Quantities are integral by data contract -> "
    "round+cast to long, exact int sums both engines.",
)
def q119_large_volume_orders(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(
            F.sum(F.round("l_quantity").cast("long")).alias("total_qty")
        )
        .filter(F.col("total_qty") > 250)
    )
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_day"),
            (to_fixed("o_totalprice", 100) / 100.0).alias("total_price"),
            "total_qty",
        )
        .orderBy(F.desc("total_price"), F.asc("o_orderkey"))
        .limit(100)
    )


@_register(
    "q94_bracket_revenue",
    """
    SELECT bracket,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           SUM(CAST(round(l_extendedprice * (1 - l_discount) * 10000)
                    AS BIGINT)) / 10000.0 AS revenue
    FROM (
        SELECT CASE
                 WHEN p_brand = 'Brand#1' THEN 'small'
                 WHEN p_brand = 'Brand#13' THEN 'medium'
                 ELSE 'large'
               END AS bracket,
               l_extendedprice, l_discount
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
               AND l_quantity BETWEEN 1 AND 20)
           OR (p_brand = 'Brand#13' AND p_size BETWEEN 10 AND 30
               AND l_quantity BETWEEN 10 AND 30)
           OR (p_brand = 'Brand#20' AND p_size BETWEEN 20 AND 50
               AND l_quantity BETWEEN 20 AND 40)
    ) GROUP BY bracket
    """,
    "TPC-H Q19 shape (disjunctive bracket predicates spanning both "
    "join sides). The l_quantity legs of the OR reference only "
    "lineitem, so Catalyst extracts the common disjunction "
    "(l_quantity BETWEEN 1 AND 40 overall envelope) into the parquet "
    "scan while the mixed part+lineitem legs evaluate post-join "
    "against the broadcast part dim — the scan never materializes "
    "non-candidate rows and there is no shuffle at all (broadcast "
    "join + final 3-group agg).",
)
def q94_bracket_revenue(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    j = li.join(p, p.p_partkey == li.l_partkey)
    legs = [
        ("Brand#1", (1, 15), (1, 20), "small"),
        ("Brand#13", (10, 30), (10, 30), "medium"),
        ("Brand#20", (20, 50), (20, 40), "large"),
    ]
    conds = [
        (F.col("p_brand") == b)
        & F.col("p_size").between(*ps)
        & F.col("l_quantity").between(*lq)
        for b, ps, lq, _ in legs
    ]
    keep = conds[0] | conds[1] | conds[2]
    bracket = (
        F.when(F.col("p_brand") == "Brand#1", "small")
        .when(F.col("p_brand") == "Brand#13", "medium")
        .otherwise("large")
    )
    return (
        j.filter(keep)
        .groupBy(bracket.alias("bracket"))
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            fixed_sum(line_revenue(), 10000, "revenue"),
        )
    )


@_register(
    "q95_promo_part_suppliers",
    """
    WITH shipped AS (
        SELECT l_suppkey, l_partkey,
               CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT)
                   AS qty
        FROM lineitem
        JOIN part ON p_partkey = l_partkey
        WHERE p_name LIKE 'small%'
          AND l_shipdate >= DATE '1998-01-01'
          AND l_shipdate <  DATE '1999-01-01'
        GROUP BY l_suppkey, l_partkey
    )
    SELECT s_suppkey, s_name,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(qty) AS BIGINT) AS total_qty
    FROM shipped JOIN supplier ON s_suppkey = l_suppkey
    WHERE qty > 40
    GROUP BY s_suppkey, s_name
    ORDER BY s_suppkey
    """,
    "TPC-H Q20 shape (suppliers who moved real volume of promo-line "
    "parts in a year — the textbook form is nested IN subqueries "
    "against partsupp; this dataset has no partsupp, so availability "
    "is re-expressed as shipped volume). One lineitem scan with the "
    "ship-date window pushed to the parquet reader, the 'small%' "
    "part filter applied via broadcast join BEFORE the per-(supp, "
    "part) rollup, then a 100-row supplier dim join. The qty>40 gate "
    "runs on partial-agg output, not raw lines.",
)
def q95_promo_part_suppliers(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1998-01-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1999-01-01").cast("date"))
    )
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").startswith("small"))
    s = _t(spark, sf_dir, "supplier")
    shipped = (
        li.join(p, p.p_partkey == li.l_partkey)
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(F.round("l_quantity").cast("long")).alias("qty"))
        .filter(F.col("qty") > 40)
    )
    return (
        shipped.join(F.broadcast(s), s.s_suppkey == shipped.l_suppkey)
        .groupBy("s_suppkey", "s_name")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum("qty").alias("total_qty"),
        )
        .orderBy("s_suppkey")
    )


@_register(
    "q96_top_revenue_suppliers",
    """
    WITH rev AS (
        SELECT l_suppkey,
               CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount)
                                   * 10000) AS BIGINT)) AS BIGINT)
                   AS rev_dm
        FROM lineitem
        WHERE l_shipdate >= DATE '1998-01-01'
          AND l_shipdate <  DATE '1998-04-01'
        GROUP BY l_suppkey
    ),
    mx AS (SELECT MAX(rev_dm) AS m FROM rev)
    SELECT s_suppkey, s_name, rev_dm / 10000.0 AS total_revenue
    FROM rev JOIN mx ON rev_dm = m
    JOIN supplier ON s_suppkey = l_suppkey
    ORDER BY s_suppkey
    """,
    "TPC-H Q15 shape (the quarter's top revenue supplier(s) — the "
    "view + MAX correlation). The max is computed over the 100-row "
    "per-supplier aggregate and broadcast back as a 1-row frame "
    "(crossJoin), so ties surface exactly and nothing rescans "
    "lineitem. Fixed-point revenue: the equality join on the max is "
    "an integer compare — exact across engines, where a double "
    "MAX=SUM comparison could disagree in the last ulp.",
)
def q96_top_revenue_suppliers(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1998-01-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1998-04-01").cast("date"))
    )
    s = _t(spark, sf_dir, "supplier")
    rev = li.groupBy("l_suppkey").agg(
        F.sum(to_fixed(line_revenue(), 10000)).alias("rev_dm")
    )
    mx = rev.agg(F.max("rev_dm").alias("m"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("rev_dm") == F.col("m"))
        .join(F.broadcast(s), s.s_suppkey == F.col("l_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            (F.col("rev_dm") / 10000.0).alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


@_register(
    "q97_dsir_importance",
    f"""
    WITH toks AS (
        SELECT doc_id, source IN ('src0', 'src1') AS is_target,
               {_SQL_TOKS} AS t
        FROM documents
    ),
    tok AS (SELECT doc_id, is_target, unnest(t) AS tok FROM toks),
    cnt AS (
        SELECT tok, COUNT(*) AS c_raw,
               CAST(SUM(CASE WHEN is_target THEN 1 ELSE 0 END) AS BIGINT)
                   AS c_tgt
        FROM tok GROUP BY tok
    ),
    tot AS (
        SELECT CAST(SUM(c_raw) AS BIGINT) AS t_raw,
               CAST(SUM(c_tgt) AS BIGINT) AS t_tgt,
               COUNT(*) AS v
        FROM cnt
    ),
    lw AS (
        SELECT tok,
               CAST(round((ln((c_tgt + 1) / (1.0 * (t_tgt + v)))
                         - ln((c_raw + 1) / (1.0 * (t_raw + v))))
                          * 1000000) AS BIGINT) AS w_micro
        FROM cnt, tot
    )
    SELECT doc_id, is_target, COUNT(*) AS n_tokens,
           CAST(SUM(w_micro) AS BIGINT) AS sum_w_micro,
           CAST(SUM(w_micro) AS BIGINT) / (1.0 * COUNT(*)) AS avg_w_micro
    FROM tok JOIN lw USING (tok)
    GROUP BY doc_id, is_target
    """,
    "Training-data op: DSIR importance weighting (Xie et al. 2023) — "
    "score every doc by the summed log-likelihood ratio of its tokens "
    "under a target distribution (sources src0/src1 here) vs the raw "
    "corpus, add-1 smoothed over the raw vocabulary. One token "
    "explode feeds BOTH distributions (conditional sum in the same "
    "partial agg); per-token log-ratios are quantized once to "
    "micro-units so per-doc weights are exact integer sums. "
    "operators/sampling.py dsir_importance.",
)
def q97_dsir_importance(spark, sf_dir):
    from ..operators.sampling import dsir_importance

    return dsir_importance(
        _t(spark, sf_dir, "documents"),
        F.col("source").isin("src0", "src1"),
    )


@_register(
    "q98_tfidf_cosine_pairs",
    f"""
    WITH toks AS (
        SELECT doc_id, lang, {_SQL_TOKS} AS t FROM documents
    ),
    blocked AS (
        SELECT doc_id, lang || '|' || CAST(len(t) // 16 AS VARCHAR) AS blk,
               t
        FROM toks
    ),
    tok AS (SELECT doc_id, blk, unnest(t) AS tok FROM blocked),
    tf AS (
        SELECT doc_id, blk, tok, COUNT(*) AS tf
        FROM tok GROUP BY doc_id, blk, tok
    ),
    nd AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM tf),
    dfreq AS (SELECT tok, COUNT(*) AS df_t FROM tf GROUP BY tok),
    w AS (
        SELECT doc_id, blk, tok,
               tf * CAST(round(ln(n_docs / (1.0 * df_t)) * 1000000)
                         AS BIGINT) AS wq
        FROM tf JOIN dfreq USING (tok) CROSS JOIN nd
    ),
    norms AS (
        SELECT doc_id, CAST(SUM(wq * wq) AS BIGINT) AS n2
        FROM w GROUP BY doc_id
    ),
    num AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id,
               COUNT(*) AS n_shared,
               CAST(SUM(a.wq * b.wq) AS BIGINT) AS num
        FROM w a
        JOIN w b ON a.tok = b.tok AND a.blk = b.blk
                AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT a_id, b_id, n_shared,
           round(num / nullif(sqrt(na.n2) * sqrt(nb.n2), 0), 6) AS sim
    FROM num
    JOIN norms na ON na.doc_id = a_id
    JOIN norms nb ON nb.doc_id = b_id
    WHERE round(num / nullif(sqrt(na.n2) * sqrt(nb.n2), 0), 6) >= 0.8
    """,
    "Sparse lexical similarity: doc pairs with tf-idf cosine >= 0.8 "
    "through an inverted-index self-join (the sparse counterpart of "
    "the dense-embedding q26/q28 family, and the BM25-ish near-dup "
    "signal of corpus curation). Blocking key is (lang, 16-token "
    "length band) — near-dups land in the same band by construction, "
    "and the join cost is Sigma block-df^2, never corpus^2 (the "
    "lang-only block measured 11.6 s at sf0.1 on this 31-token "
    "max-density vocab; the band cuts it ~7x). idf stays "
    "corpus-global, quantized once to micro-units, so pair dot "
    "products and norms are exact integer sums — the only floats are "
    "one sqrt+divide per surviving pair. max_token_df (stop-token "
    "cut) stays available for Zipfian corpora. "
    "operators/similarity.py tfidf_cosine_pairs.",
)
def q98_tfidf_cosine_pairs(spark, sf_dir, max_token_df=None, prefix=False):
    # Scale passthroughs (round 15; defaults pinned for the oracle):
    # max_token_df is the operator's stop-token guard — the probe
    # measured the unguarded pairing join at 60.1x for a 10x corpus
    # vs 1.15x capped; prefix=True swaps in the All-Pairs
    # prefix-filtered variant — SAME output (differentially pinned,
    # test_tfidf_prefix_filter_is_lossless + the sf0.1 diff), with
    # candidate cost prefix_df*df instead of df^2 (PERF.md part 3).
    from ..operators.similarity import (
        tfidf_cosine_pairs,
        tfidf_cosine_pairs_prefix,
    )
    from ..operators.text import tokens

    band = F.floor(F.size(tokens("text")) / 16).cast("int").cast("string")
    docs = _t(spark, sf_dir, "documents").withColumn(
        "lang_band", F.concat(F.col("lang"), F.lit("|"), band)
    )
    op = tfidf_cosine_pairs_prefix if prefix else tfidf_cosine_pairs
    return op(
        docs,
        threshold=0.8,
        block_col="lang_band",
        max_token_df=max_token_df,
    )


@_register(
    "q99_copurchase_reachability",
    """
    WITH RECURSIVE e AS (
        SELECT DISTINCT a.l_partkey AS s, b.l_partkey AS d
        FROM lineitem a
        JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
        WHERE a.l_quantity >= 45 AND b.l_quantity >= 45
    ),
    seeds AS (
        SELECT DISTINCT s FROM e
        JOIN part ON p_partkey = s
        WHERE p_brand = 'Brand#1'
    ),
    reach(pk, depth) AS (
        SELECT s, 0 FROM seeds
        UNION ALL
        SELECT e.d, depth + 1
        FROM reach r JOIN e ON e.s = r.pk
        WHERE depth < 3
    )
    SELECT pk AS p_partkey, CAST(MIN(depth) AS BIGINT) AS hops,
           CAST(COUNT(*) AS BIGINT) AS n_paths
    FROM reach GROUP BY pk
    """,
    "Native recursive CTE (SQL:1999 recursion, new in Spark 4): "
    "bounded-depth BFS over the high-volume co-purchase graph — "
    "every part reachable within 3 hops of a Brand#1 seed part, with "
    "min hop count and path multiplicity. The edge list is "
    "sparsified by the qty>=45 gate BEFORE pairing (the per-order "
    "self-join stays bounded by order size); each recursion round is "
    "one frontier-edge equi-join, the same shuffle shape as the "
    "iterative pagerank/components operators but expressed "
    "declaratively and executed by Catalyst's UnionLoop. Depth bound "
    "+ min-agg make duplicate paths well-defined on both engines.",
)
def q99_copurchase_reachability(spark, sf_dir):
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("v_lineitem_q99")
    _t(spark, sf_dir, "part").createOrReplaceTempView("v_part_q99")
    return spark.sql(
        """
        WITH RECURSIVE e AS (
            SELECT DISTINCT a.l_partkey AS s, b.l_partkey AS d
            FROM v_lineitem_q99 a
            JOIN v_lineitem_q99 b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
            WHERE a.l_quantity >= 45 AND b.l_quantity >= 45
        ),
        seeds AS (
            SELECT DISTINCT s FROM e
            JOIN v_part_q99 ON p_partkey = s
            WHERE p_brand = 'Brand#1'
        ),
        reach(pk, depth) AS (
            SELECT s, 0 FROM seeds
            UNION ALL
            SELECT e.d, depth + 1
            FROM reach r JOIN e ON e.s = r.pk
            WHERE depth < 3
        )
        SELECT pk AS p_partkey, CAST(MIN(depth) AS BIGINT) AS hops,
               COUNT(*) AS n_paths
        FROM reach GROUP BY pk
        """
    )


@_register(
    "q100_winnow_candidates",
    f"""
    WITH toks AS (SELECT doc_id, {_SQL_TOKS} AS t FROM documents),
    g AS (
        SELECT doc_id, len(t) - 3 AS n_grams,
               unnest(list_transform(range(len(t) - 3),
                   i -> {{'p': i,
                          'h': ('0x' || substr(md5(t[i+1] || ' ' || t[i+2]
                                || ' ' || t[i+3] || ' ' || t[i+4]), 1, 8))
                               ::BIGINT}}
               )) AS u
        FROM toks WHERE len(t) >= 4
    ),
    keys AS (
        SELECT doc_id, n_grams, u.p AS pos,
               u.h * 1048576 + (1048575 - u.p) AS key
        FROM g
    ),
    sel AS (
        SELECT DISTINCT doc_id, skey // 1048576 AS fp_hash
        FROM (
            SELECT doc_id, n_grams, pos,
                   MIN(key) OVER (PARTITION BY doc_id ORDER BY pos
                                  ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING)
                       AS skey
            FROM keys
        )
        WHERE pos <= GREATEST(n_grams - 5, 0)
    )
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           CAST(COUNT(*) AS BIGINT) AS n_shared_fp
    FROM sel a JOIN sel b ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING COUNT(*) >= 2
    """,
    "Training-data op: winnowing fingerprints (Schleimer et al. 2003 "
    "— the MOSS plagiarism detector): hash every token 4-gram, keep "
    "the rightmost minimum of each 5-hash sliding window (ONE window "
    "min over an encoded hash*2^20+revpos key, no per-window argmin "
    "subquery), then pair docs sharing >=2 selected hashes. Any "
    "shared run of >= 8 tokens is GUARANTEED to share a fingerprint, "
    "at ~1/3 the join density of the raw shingle stream (q23). "
    "Portable 32-bit md5-prefix hashes. operators/dedup.py "
    "winnow_fingerprints / winnow_candidate_pairs.",
)
def q100_winnow_candidates(spark, sf_dir):
    from ..operators.dedup import winnow_candidate_pairs

    return winnow_candidate_pairs(
        _t(spark, sf_dir, "documents"), k=4, w=5, min_shared=2
    )


@_register(
    "q101_nation_balance_reconciliation",
    """
    WITH s AS (
        SELECT s_nationkey AS nk,
               CAST(COUNT(*) AS BIGINT) AS n_rich_suppliers,
               CAST(SUM(CAST(round(s_acctbal * 100) AS BIGINT)) AS BIGINT)
                   AS supp_cents
        FROM supplier WHERE s_acctbal > 5000 GROUP BY s_nationkey
    ),
    c AS (
        SELECT c_nationkey AS nk,
               CAST(COUNT(*) AS BIGINT) AS n_rich_customers,
               CAST(SUM(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
                   AS cust_cents
        FROM customer WHERE c_acctbal > 9900 GROUP BY c_nationkey
    )
    SELECT n_name,
           COALESCE(n_rich_suppliers, 0) AS n_rich_suppliers,
           COALESCE(supp_cents, 0) / 100.0 AS supplier_balance,
           COALESCE(n_rich_customers, 0) AS n_rich_customers,
           COALESCE(cust_cents, 0) / 100.0 AS customer_balance,
           (s.nk IS NULL) AS missing_suppliers,
           (c.nk IS NULL) AS missing_customers
    FROM s FULL OUTER JOIN c ON s.nk = c.nk
    JOIN nation ON n_nationkey = COALESCE(s.nk, c.nk)
    """,
    "SURVEY 2.4 completion: FULL OUTER JOIN — the symmetric "
    "reconciliation shape (which nations have high-balance suppliers "
    "but no high-balance customers, and vice versa), with explicit "
    "missing-side flags. Both inputs pre-aggregate to <=25 rows "
    "before the join, so the full-outer runs on partial-agg output "
    "and the nation dim broadcasts.",
)
def q101_nation_balance_reconciliation(spark, sf_dir):
    s = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") > 5000)
        .groupBy(F.col("s_nationkey").alias("nk"))
        .agg(
            F.count(F.lit(1)).alias("n_rich_suppliers"),
            F.sum(to_fixed("s_acctbal", 100)).alias("supp_cents"),
        )
    )
    c = (
        _t(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9900)
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(
            F.count(F.lit(1)).alias("n_rich_customers"),
            F.sum(to_fixed("c_acctbal", 100)).alias("cust_cents"),
        )
    )
    n = _t(spark, sf_dir, "nation")
    sn = s.withColumnRenamed("nk", "s_nk")
    cn = c.withColumnRenamed("nk", "c_nk")
    return (
        sn.join(cn, sn.s_nk == cn.c_nk, "full")
        .join(
            F.broadcast(n),
            F.coalesce(F.col("s_nk"), F.col("c_nk")) == n.n_nationkey,
        )
        .select(
            "n_name",
            F.coalesce("n_rich_suppliers", F.lit(0)).alias("n_rich_suppliers"),
            (F.coalesce("supp_cents", F.lit(0)) / 100.0).alias(
                "supplier_balance"
            ),
            F.coalesce("n_rich_customers", F.lit(0)).alias("n_rich_customers"),
            (F.coalesce("cust_cents", F.lit(0)) / 100.0).alias(
                "customer_balance"
            ),
            F.col("s_nk").isNull().alias("missing_suppliers"),
            F.col("c_nk").isNull().alias("missing_customers"),
        )
    )


@_register(
    "q102_quantized_knn",
    """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    n AS (
        SELECT vec_id, v,
               sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
        FROM e
    ),
    q8 AS (
        SELECT vec_id,
               list_transform(v, x -> CAST(round(x / nrm * 127) AS BIGINT))
                   AS qv
        FROM n
    ),
    pairs AS (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               CAST(list_dot_product(a.qv::DOUBLE[], b.qv::DOUBLE[])
                    AS BIGINT) AS dot_q
        FROM q8 a, q8 b
        WHERE a.vec_id < 5 AND a.vec_id <> b.vec_id
    )
    SELECT query_id, neighbor_id, dot_q, rk FROM (
        SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                       ORDER BY dot_q DESC, neighbor_id) AS BIGINT) AS rk
        FROM pairs
    ) WHERE rk <= 5
    """,
    "U5 scale path: top-k by INTEGER dot product over int8-quantized "
    "unit vectors (FAISS-SQ8-style scalar quantization) — 4x smaller "
    "vectors, SIMD int8 dots, and EXACT engine-order-independent "
    "scoring (products <= 127^2, sums <= dim*127^2 — no float "
    "tolerance needed in the ranking, unlike q26's rounded cosine). "
    "The one float step is the per-vector normalize+quantize. "
    "operators/similarity.py quantized_topk.",
)
def q102_quantized_knn(spark, sf_dir):
    from ..operators.similarity import quantized_topk

    emb = _t(spark, sf_dir, "embeddings")
    return quantized_topk(emb, emb.filter(F.col("vec_id") < 5), k=5)


@_register(
    "q103_price_outliers",
    """
    WITH r AS (
        SELECT p_type,
               CAST(round(p_retailprice * 100) AS BIGINT) AS cents,
               row_number() OVER (PARTITION BY p_type
                   ORDER BY round(p_retailprice * 100), p_partkey) AS rn,
               COUNT(*) OVER (PARTITION BY p_type) AS n
        FROM part
    ),
    qs AS (
        SELECT p_type,
               MAX(CASE WHEN rn = CAST(ceil(n / 4.0) AS BIGINT)
                        THEN cents END) AS q1,
               MAX(CASE WHEN rn = CAST(ceil(3 * n / 4.0) AS BIGINT)
                        THEN cents END) AS q3,
               CAST(MAX(n) AS BIGINT) AS n_parts
        FROM r GROUP BY p_type
    )
    SELECT qs.p_type, n_parts,
           q1 / 100.0 AS q1_price, q3 / 100.0 AS q3_price,
           CAST(SUM(CASE WHEN 2 * cents < 2 * q1 - 3 * (q3 - q1)
                           OR 2 * cents > 2 * q3 + 3 * (q3 - q1)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM r JOIN qs ON r.p_type = qs.p_type
    GROUP BY qs.p_type, n_parts, q1, q3
    """,
    "Robust outlier detection: per-type Tukey 1.5-IQR fences over "
    "EXACT order-statistic quartiles (type-1 quantiles: the "
    "ceil(n/4)-th value under a total (cents, partkey) order — no "
    "interpolated percentile, which engines implement differently). "
    "The fence test is integer cross-multiplied (2*cents vs "
    "2*q1-3*IQR) so no halves are materialized. One window pass per "
    "group + a 6-row quartile join.",
)
def q103_price_outliers(spark, sf_dir):
    p = _t(spark, sf_dir, "part").select(
        "p_type",
        "p_partkey",
        to_fixed("p_retailprice", 100).alias("cents"),
    )
    wr = Window.partitionBy("p_type").orderBy("cents", "p_partkey")
    wn = Window.partitionBy("p_type")
    r = p.select(
        "p_type",
        "cents",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    qs = r.groupBy("p_type").agg(
        F.max(
            F.when(
                F.col("rn") == F.ceil(F.col("n") / 4.0).cast("long"),
                F.col("cents"),
            )
        ).alias("q1"),
        F.max(
            F.when(
                F.col("rn") == F.ceil(3 * F.col("n") / 4.0).cast("long"),
                F.col("cents"),
            )
        ).alias("q3"),
        F.max("n").cast("long").alias("n_parts"),
    )
    iqr = F.col("q3") - F.col("q1")
    is_out = (2 * F.col("cents") < 2 * F.col("q1") - 3 * iqr) | (
        2 * F.col("cents") > 2 * F.col("q3") + 3 * iqr
    )
    return (
        r.join(qs, "p_type")
        .groupBy("p_type", "n_parts", "q1", "q3")
        .agg(F.sum(is_out.cast("int")).alias("n_outliers"))
        .select(
            "p_type",
            "n_parts",
            (F.col("q1") / 100.0).alias("q1_price"),
            (F.col("q3") / 100.0).alias("q3_price"),
            "n_outliers",
        )
    )


@_register(
    "q104_stream_static_enrichment",
    """
    WITH profile AS (
        SELECT user_id,
               CASE WHEN SUM(CAST(round(value * 100) AS BIGINT)) >= 500000
                    THEN 'high'
                    WHEN SUM(CAST(round(value * 100) AS BIGINT)) >= 100000
                    THEN 'mid'
                    ELSE 'low' END AS tier
        FROM events GROUP BY user_id
    )
    SELECT tier, event_type, COUNT(*) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events JOIN profile USING (user_id)
    GROUP BY tier, event_type
    """,
    "Structured Streaming stream-STATIC join (the stateless W-family "
    "enrichment shape): the bounded event stream joins a broadcast "
    "per-user value-tier profile per micro-batch — no state, no "
    "watermark, append sink. The drained per-event rows equal the "
    "batch join exactly (integer-cents tier thresholds), verified "
    "here by aggregating them against a pure-batch oracle. "
    "streaming/stream_processor.py drain_static_enriched_events.",
    bench=False,  # streaming drains measure trigger latency, not plan cost
)
def q104_stream_static_enrichment(spark, sf_dir):
    from ..streaming.stream_processor import drain_static_enriched_events

    drained = drain_static_enriched_events(
        spark, f"{sf_dir}/events.parquet"
    )
    return drained.groupBy("tier", "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
    )


@_register(
    "q105_status_history_scd2",
    """
    WITH o AS (
        SELECT o_custkey, o_orderstatus AS status, o_orderdate,
               row_number() OVER (PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey) AS rn,
               row_number() OVER (PARTITION BY o_custkey, o_orderstatus
                   ORDER BY o_orderdate, o_orderkey) AS rns
        FROM orders
    ),
    runs AS (
        SELECT o_custkey, status,
               MIN(o_orderdate) AS eff_from,
               MIN(rn) AS rn0,
               CAST(COUNT(*) AS BIGINT) AS n_orders
        FROM o GROUP BY o_custkey, status, rn - rns
    )
    SELECT o_custkey AS custkey, status,
           strftime(eff_from, '%Y-%m-%d') AS effective_from,
           COALESCE(strftime(lead(eff_from) OVER w, '%Y-%m-%d'),
                    'current') AS effective_to,
           n_orders,
           CAST(row_number() OVER w AS BIGINT) AS version
    FROM runs
    WINDOW w AS (PARTITION BY o_custkey ORDER BY rn0)
    """,
    "Warehouse dimension maintenance: SCD Type-2 history rebuild — "
    "collapse each customer's order-status stream into validity "
    "intervals (effective_from/effective_to/version) via the "
    "gaps-and-islands idiom (rn - rn_per_status run ids), then "
    "lead() for interval close-off. All windows partition by "
    "customer with unique (date, orderkey) tiebreaks — per-key state "
    "is bounded, shuffle is one hash exchange on o_custkey reused by "
    "every window and the final lead.",
)
def q105_status_history_scd2(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    wo = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    ws = Window.partitionBy("o_custkey", "o_orderstatus").orderBy(
        "o_orderdate", "o_orderkey"
    )
    runs = (
        o.select(
            "o_custkey",
            F.col("o_orderstatus").alias("status"),
            "o_orderdate",
            F.row_number().over(wo).alias("rn"),
            F.row_number().over(ws).alias("rns"),
        )
        .groupBy("o_custkey", "status", (F.col("rn") - F.col("rns")).alias("grp"))
        .agg(
            F.min("o_orderdate").alias("eff_from"),
            F.min("rn").alias("rn0"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )
    w = Window.partitionBy("o_custkey").orderBy("rn0")
    return runs.select(
        F.col("o_custkey").alias("custkey"),
        "status",
        F.date_format("eff_from", "yyyy-MM-dd").alias("effective_from"),
        F.coalesce(
            F.date_format(F.lead("eff_from").over(w), "yyyy-MM-dd"),
            F.lit("current"),
        ).alias("effective_to"),
        "n_orders",
        F.row_number().over(w).cast("long").alias("version"),
    )


@_register(
    "q106_event_transitions",
    """
    WITH typed AS (
        SELECT event_id, event_type, epoch_us(ts) AS us, user_id,
               CASE WHEN event_id % 97 = 0 THEN NULL
                    ELSE CAST(user_id AS VARCHAR) END AS session_id,
               ['US','CA','BR','MX','GB','DE','FR','ES',
                'IN','JP','AU','CN'][user_id % 12 + 1] AS cc
        FROM events
    ),
    env AS (
        SELECT *,
               COUNT(*) OVER (PARTITION BY session_id) > 100 AS is_bot,
               session_id IS NULL AS has_missing,
               CASE WHEN cc IN ('US','CA','BR','MX') THEN 'AMER'
                    WHEN cc IN ('GB','DE','FR','ES') THEN 'EMEA'
                    ELSE 'APAC' END AS geo_region,
               length('{"event_id":' || CAST(event_id AS VARCHAR)
                   || ',"event_type":"' || event_type
                   || '","timestamp":' || CAST(us AS VARCHAR)
                   || ',"user_id":' || CAST(user_id AS VARCHAR)
                   || CASE WHEN session_id IS NULL THEN ''
                           ELSE ',"session_id":"' || session_id || '"' END
                   || ',"country_code":"' || cc || '"}') AS plen
        FROM typed
    ),
    s AS (
        SELECT event_type, geo_region, is_bot, has_missing, plen, us,
               lead(event_type) OVER (PARTITION BY user_id
                   ORDER BY us, event_id) AS next_type
        FROM env
    ),
    c AS (
        SELECT event_type AS from_type, next_type AS to_type, geo_region,
               COUNT(*) AS n_transitions,
               CAST(SUM(CASE WHEN is_bot THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_bot,
               CAST(SUM(CASE WHEN has_missing THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_missing,
               CAST(SUM(plen) AS BIGINT) AS sum_payload_len,
               bit_xor(us) AS xor_us
        FROM s WHERE next_type IS NOT NULL
        GROUP BY event_type, next_type, geo_region
    ),
    tot AS (
        SELECT from_type, CAST(SUM(n_transitions) AS BIGINT) AS n_from
        FROM c GROUP BY from_type
    )
    SELECT from_type, to_type, geo_region,
           CAST(n_transitions AS BIGINT) AS n_transitions,
           CAST((1000000 * n_transitions) // n_from AS BIGINT) AS p_micro,
           n_bot, n_missing, sum_payload_len, xor_us
    FROM c JOIN tot USING (from_type)
    """,
    "Behavioral sequence analysis THROUGH the ProcessedEvent envelope "
    "(round-8 upgrade: SURVEY P1 leaves pytest-only — reference "
    "data/schemas/events.py:230-253): a deterministic typed event "
    "slice (epoch_us timestamp, user-derived session_id nulled for "
    "event_id % 97 = 0, country from a 12-code wheel) routes through "
    "enrich.to_processed_events — bot window over session_id (the "
    "null-session bucket exceeds the 100-event threshold at sf0.01, "
    "so BOTH bot branches fire), broadcast geo join, required-field "
    "missing flag, and the raw_payload JSON projection (Spark "
    "to_json omits null fields; the oracle rebuilds the byte-exact "
    "string with the same omission rule and checks its LENGTH per "
    "group). On top: the first-order Markov transition matrix — "
    "lead() over (epoch_us, event_id) unique order, integer-micro "
    "row-normalized probabilities (floor division — no float), now "
    "per geo_region with per-group bot/missing counts and a "
    "bit_xor(epoch_us) checksum (order-insensitive, overflow-free — "
    "a raw sum of epoch micros would overflow int64 at sf0.1 group "
    "sizes). One shuffle by user_id for the window, one by the "
    "75-cell group; the geo dim and per-from totals broadcast.",
)
def q106_event_transitions(spark, sf_dir):
    from ..operators.enrich import GEO_REGIONS, to_processed_events

    ev = _t(spark, sf_dir, "events")
    codes = F.array(*[F.lit(c) for c, _ in GEO_REGIONS])
    typed = ev.select(
        "event_id",
        "event_type",
        epoch_us("ts").alias("timestamp"),
        "user_id",
        F.when(F.col("event_id") % 97 == 0, F.lit(None).cast("string"))
        .otherwise(F.col("user_id").cast("string"))
        .alias("session_id"),
        F.element_at(codes, (F.col("user_id") % 12 + 1).cast("int")).alias(
            "country_code"
        ),
    )
    env = to_processed_events(typed, spark)
    w = Window.partitionBy("user_id").orderBy("timestamp", "event_id")
    s = env.select(
        "event_type",
        "geo_region",
        "is_bot",
        "has_missing_fields",
        F.length("raw_payload").alias("plen"),
        F.col("timestamp").alias("us"),
        F.lead("event_type").over(w).alias("next_type"),
    ).filter(F.col("next_type").isNotNull())
    c = s.groupBy(
        F.col("event_type").alias("from_type"),
        F.col("next_type").alias("to_type"),
        "geo_region",
    ).agg(
        F.count(F.lit(1)).alias("n_transitions"),
        F.sum(F.col("is_bot").cast("long")).alias("n_bot"),
        F.sum(F.col("has_missing_fields").cast("long")).alias("n_missing"),
        F.sum("plen").alias("sum_payload_len"),
        F.expr("bit_xor(us)").alias("xor_us"),
    )
    tot = c.groupBy("from_type").agg(F.sum("n_transitions").alias("n_from"))
    return c.join(F.broadcast(tot), "from_type").select(
        "from_type",
        "to_type",
        "geo_region",
        "n_transitions",
        F.expr("CAST((1000000 * n_transitions) DIV n_from AS BIGINT)").alias(
            "p_micro"
        ),
        "n_bot",
        "n_missing",
        "sum_payload_len",
        "xor_us",
    )


@_register(
    "q107_refund_excess_multiset",
    """
    SELECT c_custkey, COUNT(*) AS n_excess
    FROM (
        SELECT o_custkey AS c_custkey FROM orders
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE l_returnflag = 'R'
        EXCEPT ALL
        SELECT o_custkey FROM orders
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE l_returnflag = 'A'
    )
    GROUP BY c_custkey
    ORDER BY n_excess DESC, c_custkey
    LIMIT 50
    """,
    "SURVEY 2.6 set-op completion: EXCEPT ALL (multiset difference — "
    "q11's EXCEPT collapses duplicates; this keeps per-row "
    "multiplicity): customers ranked by how many MORE returned "
    "line-items than accepted ones they have. Spark `exceptAll` "
    "compiles to the same anti-multiplicity aggregate both engines "
    "use — per-key counts, never a row-by-row diff.",
)
def q107_refund_excess_multiset(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")

    def side(flag):
        return (
            o.join(li, li.l_orderkey == o.o_orderkey)
            .filter(F.col("l_returnflag") == flag)
            .select(F.col("o_custkey").alias("c_custkey"))
        )

    return (
        side("R")
        .exceptAll(side("A"))
        .groupBy("c_custkey")
        .agg(F.count(F.lit(1)).alias("n_excess"))
        .orderBy(F.desc("n_excess"), F.asc("c_custkey"))
        .limit(50)
    )


@_register(
    "q108_snapshot_diff",
    """
    WITH oldv AS (
        SELECT l_orderkey,
               CAST(COUNT(*) AS BIGINT) AS n_lines,
               CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT)
                   AS total_qty
        FROM lineitem WHERE l_shipdate < DATE '1999-01-01'
        GROUP BY l_orderkey
    ),
    newv AS (
        SELECT l_orderkey,
               CAST(COUNT(*) AS BIGINT) AS n_lines,
               CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT)
                   AS total_qty
        FROM lineitem GROUP BY l_orderkey
    )
    SELECT CASE WHEN o.l_orderkey IS NULL THEN 'added'
                WHEN n.l_orderkey IS NULL THEN 'removed'
                WHEN o.n_lines <> n.n_lines OR o.total_qty <> n.total_qty
                THEN 'changed'
                ELSE 'unchanged' END AS diff_status,
           COUNT(*) AS n_orders
    FROM oldv o FULL OUTER JOIN newv n ON o.l_orderkey = n.l_orderkey
    GROUP BY diff_status
    """,
    "Backfill/reprocessing audit: snapshot_diff between the "
    "'as-of-1998' per-order rollup and the full rollup — which "
    "orders a reprocessing run would add or change. Each side "
    "collapses to (key, md5 fingerprint) before the FULL OUTER join, "
    "so however wide the snapshots are, the join moves two narrow "
    "frames; statuses aggregate to a 3-row summary. "
    "operators/cdc.py snapshot_diff.",
)
def q108_snapshot_diff(spark, sf_dir):
    from ..operators.cdc import snapshot_diff

    li = _t(spark, sf_dir, "lineitem")

    def rollup(df):
        return df.groupBy("l_orderkey").agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.round("l_quantity").cast("long")).alias("total_qty"),
        )

    old = rollup(
        li.filter(F.col("l_shipdate") < F.lit("1999-01-01").cast("date"))
    )
    new = rollup(li)
    return (
        snapshot_diff(old, new, ["l_orderkey"])
        .groupBy("diff_status")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@_register(
    "q109_bpe_pair_counts",
    """
    WITH toks AS (
        SELECT unnest(regexp_extract_all(text,
            '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS w
        FROM documents
    ),
    wf AS (SELECT w, COUNT(*) AS freq FROM toks GROUP BY w),
    pairs AS (
        SELECT unnest(list_transform(range(length(w) - 1),
                   i -> {'a': w[i+1], 'b': w[i+2]})) AS p,
               freq
        FROM wf WHERE length(w) >= 2
    )
    SELECT p.a AS a, p.b AS b, CAST(SUM(freq) AS BIGINT) AS pair_count
    FROM pairs GROUP BY p.a, p.b
    ORDER BY pair_count DESC, a, b
    LIMIT 20
    """,
    "Tokenizer training: the distributed core of BPE merge training "
    "(operators/text.py train_bpe_merges) — frequency-weighted "
    "adjacent character-pair counts over the pre-tokenized word "
    "table, i.e. round 1's merge candidates. The corpus collapses to "
    "(word, freq) once; pair counting partial-aggregates map-side; "
    "only the argmax crosses to the driver per round in the full "
    "trainer (reference-equivalence-tested in pytest — the loop "
    "itself is iterative and not SQL-expressible).",
)
def q109_bpe_pair_counts(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    words = (
        docs.select(
            F.explode(
                F.expr(
                    "regexp_extract_all(text, "
                    "'[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]', 0)"
                )
            ).alias("w")
        )
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    pairs = words.filter(F.length("w") >= 2).select(
        "freq",
        F.explode(
            F.expr(
                "transform(sequence(1, length(w) - 1), "
                "i -> struct(substring(w, i, 1) AS a, "
                "substring(w, i + 1, 1) AS b))"
            )
        ).alias("p"),
    )
    return (
        pairs.groupBy("p.a", "p.b")
        .agg(F.sum("freq").alias("pair_count"))
        .orderBy(F.desc("pair_count"), F.asc("a"), F.asc("b"))
        .limit(20)
    )


@_register(
    "q110_linear_attribution",
    """
    WITH e AS (
        SELECT user_id, event_type, ts, event_id,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events
    ),
    seq AS (
        SELECT *, SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
            OVER (PARTITION BY user_id ORDER BY ts, event_id) AS grp0
        FROM e
    ),
    clicks AS (
        SELECT user_id, grp0 + 1 AS pnum, ts, event_id
        FROM seq WHERE event_type = 'click'
    ),
    purch AS (
        SELECT user_id, grp0 AS pnum, cents
        FROM seq WHERE event_type = 'purchase'
    ),
    touch AS (
        SELECT c.user_id, c.pnum, p.cents,
               row_number() OVER (PARTITION BY c.user_id, c.pnum
                   ORDER BY c.ts, c.event_id) AS rn,
               COUNT(*) OVER (PARTITION BY c.user_id, c.pnum) AS n
        FROM clicks c JOIN purch p USING (user_id, pnum)
    ),
    alloc AS (
        SELECT CASE WHEN rn = 1 THEN 'first'
                    WHEN rn = n THEN 'last'
                    ELSE 'middle' END AS touch_pos,
               cents // n
                 + CASE WHEN rn = 1 THEN cents % n ELSE 0 END AS ac
        FROM touch
    )
    SELECT touch_pos, CAST(COUNT(*) AS BIGINT) AS n_touches,
           CAST(SUM(ac) AS BIGINT) / 100.0 AS attributed_value
    FROM alloc GROUP BY touch_pos
    UNION ALL
    SELECT 'unattributed', CAST(COUNT(*) AS BIGINT),
           CAST(COALESCE(SUM(cents), 0) AS BIGINT) / 100.0
    FROM purch p
    WHERE NOT EXISTS (
        SELECT 1 FROM clicks c
        WHERE c.user_id = p.user_id AND c.pnum = p.pnum
    )
    """,
    "Marketing analytics: linear multi-touch attribution — every "
    "purchase's value splits equally over the clicks since the "
    "user's previous purchase (running purchase counter assigns each "
    "click to its epoch; no range join). The split is INTEGER: "
    "cents div n per touch with the remainder assigned to the "
    "earliest touch, so attributed value sums exactly to purchase "
    "value on any engine. Purchases with no preceding clicks report "
    "as 'unattributed' via anti-join. All windows key on user_id "
    "with (ts, event_id) unique order.",
)
def q110_linear_attribution(spark, sf_dir):
    e = _t(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    wseq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.withColumn(
        "grp0",
        F.sum((F.col("event_type") == "purchase").cast("int")).over(wseq),
    )
    clicks = seq.filter(F.col("event_type") == "click").select(
        "user_id", (F.col("grp0") + 1).alias("pnum"), "ts", "event_id"
    )
    purch = seq.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("grp0").alias("pnum"), "cents"
    )
    wt = Window.partitionBy("user_id", "pnum").orderBy("ts", "event_id")
    wn = Window.partitionBy("user_id", "pnum")
    touch = (
        clicks.join(purch, ["user_id", "pnum"])
        .withColumn("rn", F.row_number().over(wt))
        .withColumn("n", F.count(F.lit(1)).over(wn))
    )
    alloc = touch.select(
        F.when(F.col("rn") == 1, "first")
        .when(F.col("rn") == F.col("n"), "last")
        .otherwise("middle")
        .alias("touch_pos"),
        (
            F.expr("cents DIV n")
            + F.when(F.col("rn") == 1, F.col("cents") % F.col("n")).otherwise(
                F.lit(0)
            )
        ).alias("ac"),
    )
    attributed = alloc.groupBy("touch_pos").agg(
        F.count(F.lit(1)).alias("n_touches"),
        (F.sum("ac") / 100.0).alias("attributed_value"),
    )
    unattr = (
        purch.join(clicks, ["user_id", "pnum"], "left_anti")
        .agg(
            F.count(F.lit(1)).alias("n_touches"),
            (F.coalesce(F.sum("cents"), F.lit(0)) / 100.0).alias(
                "attributed_value"
            ),
        )
        .select(
            F.lit("unattributed").alias("touch_pos"),
            "n_touches",
            "attributed_value",
        )
    )
    return attributed.unionAll(unattr)


@_register(
    "q111_zipf_slope",
    f"""
    WITH toks AS (SELECT doc_id, lang, {_SQL_TOKS} AS t FROM documents),
    tok AS (SELECT lang, unnest(t) AS tok FROM toks),
    cnt AS (SELECT lang, tok, COUNT(*) AS c FROM tok GROUP BY lang, tok),
    ranked AS (
        SELECT lang,
               CAST(round(ln(row_number() OVER (PARTITION BY lang
                   ORDER BY c DESC, tok)) * 1000000) AS BIGINT) AS x,
               CAST(round(ln(c) * 1000000) AS BIGINT) AS y
        FROM cnt
    ),
    s AS (
        SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * y) AS BIGINT) AS sxy,
               CAST(SUM(x * x) AS BIGINT) AS sxx
        FROM ranked GROUP BY lang
    )
    SELECT lang, n AS vocab_size,
           round((1.0 * (n * sxy - sx * sy))
                 / (1.0 * (n * sxx - sx * sx)), 6) AS zipf_slope
    FROM s WHERE n >= 3
    """,
    "Corpus statistics: per-language Zipf slope — the log-log "
    "rank-frequency regression used to sanity-check scraped corpora "
    "(natural language sits near -1; generated/templated text "
    "flattens). ln(rank)/ln(count) are quantized ONCE to micro-units "
    "so all five regression sums are exact integers; the closed-form "
    "least-squares slope is one float division per language. "
    "Unique (count DESC, token) rank tiebreak keeps ranks identical "
    "across engines.",
)
def q111_zipf_slope(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    from ..operators.text import tokens

    tok = docs.select(
        "lang", F.explode(tokens("text")).alias("tok")
    )
    cnt = tok.groupBy("lang", "tok").agg(F.count(F.lit(1)).alias("c"))
    wr = Window.partitionBy("lang").orderBy(F.desc("c"), F.asc("tok"))
    ranked = cnt.select(
        "lang",
        F.round(F.log(F.row_number().over(wr).cast("double")) * 1000000)
        .cast("long")
        .alias("x"),
        F.round(F.log(F.col("c").cast("double")) * 1000000)
        .cast("long")
        .alias("y"),
    )
    s = ranked.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    num = 1.0 * (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
    den = 1.0 * (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
    return s.filter(F.col("n") >= 3).select(
        "lang",
        F.col("n").alias("vocab_size"),
        F.round(num / den, 6).alias("zipf_slope"),
    )


@_register(
    "q112_pca_label_projection",
    f"""
    WITH pc AS (
        SELECT coeffs FROM read_parquet(
            '{ORACLE_SCRATCH}/q112_pc1.parquet/*.parquet')
        WHERE plane_id = 0
    ),
    proj AS (
        SELECT label,
               CAST(list_dot_product(
                   list_transform(embedding::DOUBLE[],
                                  x -> round(x * 1000000)),
                   coeffs) AS BIGINT) AS p_q
        FROM embeddings, pc
    )
    SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(SUM(p_q) AS BIGINT) AS sum_proj_q,
           CAST(SUM(p_q) AS BIGINT) / (1.0 * COUNT(*)) AS avg_proj_q
    FROM proj GROUP BY label
    """,
    "Distributed PCA: per-label mean projection onto the corpus' "
    "first principal component. Raw co-moments accumulate as EXACT "
    "integer sums over micro-quantized vectors (dim^2 rows reach the "
    "driver regardless of corpus size); the 64x64 eigenproblem runs "
    "driver-side (deterministic power iteration, fixed sign) and the "
    "quantized component ships to the oracle via the scratch-parquet "
    "channel (the q30/q46 pattern). Projections are integer dot "
    "products — engine-exact; one division per label at the end. "
    "operators/similarity.py pca_top_component.",
)
def q112_pca_label_projection(spark, sf_dir):
    from ..operators.similarity import pca_top_component, quantized_vectors

    emb = _t(spark, sf_dir, "embeddings")
    pc1 = pca_top_component(emb, dim=64)
    pc1q = [float(round(x * 1_000_000)) for x in pc1]
    _write_scratch_vectors("q112_pc1.parquet", "plane_id", [pc1q])
    vq = quantized_vectors(emb).join(
        emb.select(F.col("vec_id").alias("id"), "label"), "id"
    )
    pc_lit = F.array(*[F.lit(int(x)) for x in pc1q])
    p_q = F.aggregate(
        F.zip_with(F.col("vq"), pc_lit, lambda a, c: a * c),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return (
        vq.withColumn("p_q", p_q)
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.sum("p_q").alias("sum_proj_q"),
        )
        .select(
            "label",
            "n_vectors",
            "sum_proj_q",
            (F.col("sum_proj_q") / (1.0 * F.col("n_vectors"))).alias(
                "avg_proj_q"
            ),
        )
    )


@_register(
    "q113_quality_gate_ensemble",
    f"""
    WITH toks AS (SELECT doc_id, {_SQL_TOKS} AS t FROM documents),
    sh AS (SELECT doc_id, t, {_SQL_TRIGRAMS} AS tg FROM toks),
    base AS (
        SELECT doc_id,
               CAST(len(t) AS BIGINT) AS n_tokens,
               CAST(CASE WHEN len(t) = 0 THEN 0
                    ELSE length(array_to_string(t, ' ')) - (len(t) - 1)
                    END AS BIGINT) AS n_chars_nospace,
               CAST(len(tg) AS BIGINT) AS n_trigrams,
               CAST(len(tg) - len(list_distinct(tg)) AS BIGINT)
                   AS n_dup_trigrams
        FROM sh
    ),
    top AS (
        SELECT doc_id, MAX(c) AS top_token_count
        FROM (SELECT doc_id, tok, COUNT(*) AS c
              FROM (SELECT doc_id, unnest(t) AS tok FROM toks)
              GROUP BY doc_id, tok)
        GROUP BY doc_id
    ),
    gop AS (
        SELECT b.doc_id,
               (n_tokens BETWEEN 10 AND 1000)
                   AND n_chars_nospace >= 3 * n_tokens
                   AND n_chars_nospace <= 10 * n_tokens
                   AND 10 * COALESCE(top_token_count, 0) <= 3 * n_tokens
                   AND 10 * n_dup_trigrams <= 3 * greatest(n_trigrams, 1)
                   AS gopher_keep
        FROM base b LEFT JOIN top USING (doc_id)
    ),
    tok AS (SELECT doc_id, unnest(t) AS tok FROM toks),
    cnt AS (SELECT tok, COUNT(*) AS c FROM tok GROUP BY tok),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS total FROM cnt),
    lpm AS (
        SELECT tok,
               CAST(round(ln(c / (1.0 * total)) * 1000000) AS BIGINT)
                   AS lp_micro
        FROM cnt, tot
    ),
    lp AS (
        SELECT doc_id,
               CAST(SUM(lp_micro) AS BIGINT) / (1.0 * COUNT(*)) AS avg_lp
        FROM tok JOIN lpm USING (tok) GROUP BY doc_id
    ),
    ranked AS (
        SELECT d.doc_id, d.lang, gopher_keep, avg_lp,
               row_number() OVER (PARTITION BY d.lang
                   ORDER BY avg_lp ASC NULLS FIRST, d.doc_id) AS rn,
               COUNT(*) OVER (PARTITION BY d.lang) AS n
        FROM documents d
        JOIN gop USING (doc_id)
        JOIN lp USING (doc_id)
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN gopher_keep
                          AND rn > CAST(ceil(n / 10.0) AS BIGINT)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
           CAST(SUM(CASE WHEN NOT gopher_keep THEN 1 ELSE 0 END)
                AS BIGINT) AS n_fail_gopher,
           CAST(SUM(CASE WHEN rn <= CAST(ceil(n / 10.0) AS BIGINT)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_fail_lm
    FROM ranked GROUP BY lang
    """,
    "The production data-curation decision: an ENSEMBLE quality gate "
    "combining the Gopher integer-signal rules (q67) with the "
    "unigram-LM score (q78) banded per language (bottom decile by "
    "EXACT rank, not interpolated percentile — ceil(n/10) under a "
    "unique (score, doc_id) order). Per-language keep rates and "
    "per-rule rejection counts — the report a corpus-filter sweep "
    "produces before committing a cut. Composes the existing "
    "operators; one extra shuffle per signal family.",
)
def q113_quality_gate_ensemble(spark, sf_dir):
    from ..operators.text import gopher_signals, unigram_logprob

    docs = _t(spark, sf_dir, "documents")
    # round-16 note: a tokenize-once fusion (shared cached (doc_id,
    # __toks) frame feeding gopher + unigram) MEASURED 9.9% SLOWER at
    # sf0.1 in an interleaved A/B — caching the token arrays costs
    # more than re-running the codegen tokenizer per pass (same class
    # as the round-5 "cache of exploded gram streams is slower"
    # result). Deliberately left on the re-tokenize path.
    g = gopher_signals(docs).select("doc_id", F.col("keep").alias("gopher_keep"))
    lp = unigram_logprob(docs).select(
        "doc_id",
        (F.col("sum_lp_micro") / (1.0 * F.col("n_tokens"))).alias("avg_lp"),
    )
    d = docs.select("doc_id", "lang")
    j = d.join(g, "doc_id").join(lp, "doc_id")
    wr = Window.partitionBy("lang").orderBy(
        F.asc_nulls_first("avg_lp"), F.asc("doc_id")
    )
    wn = Window.partitionBy("lang")
    ranked = j.select(
        "lang",
        "gopher_keep",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    cut = F.ceil(F.col("n") / 10.0).cast("long")
    return ranked.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(
            (F.col("gopher_keep") & (F.col("rn") > cut)).cast("int")
        ).alias("n_keep"),
        F.sum((~F.col("gopher_keep")).cast("int")).alias("n_fail_gopher"),
        F.sum((F.col("rn") <= cut).cast("int")).alias("n_fail_lm"),
    )


@_register(
    "q114_quality_survivorship",
    f"""
    WITH RECURSIVE {_nd_pair_ctes()},
    edges AS (
        SELECT a_id AS u, b_id AS v FROM ndpairs
        UNION ALL
        SELECT b_id, a_id FROM ndpairs
    ),
    reach(id, lbl) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.u, r.lbl FROM edges e JOIN reach r ON r.id = e.v
    ),
    comp AS (SELECT id AS doc_id, MIN(lbl) AS group_id FROM reach GROUP BY id),
    sized AS (
        SELECT doc_id, group_id,
               COUNT(*) OVER (PARTITION BY group_id) AS gsz
        FROM comp
    ),
    ranked AS (
        SELECT s.doc_id, s.group_id, s.gsz,
               row_number() OVER (PARTITION BY s.group_id
                   ORDER BY length(d.text) DESC, s.doc_id) AS rk
        FROM sized s JOIN documents d USING (doc_id)
        WHERE s.gsz >= 2
    )
    SELECT doc_id, group_id,
           CAST(gsz AS BIGINT) AS group_size,
           MAX(CASE WHEN rk = 1 THEN doc_id END)
               OVER (PARTITION BY group_id) AS survivor_id,
           rk = 1 AS survives
    FROM ranked
    """,
    "U6 survivorship policy: within each near-dup group (q58's "
    "closure), elect the canonical document by QUALITY — longest "
    "text wins, doc id breaks ties — instead of min-id. Emits the "
    "(doc -> survivor) mapping for multi-doc groups, i.e. exactly "
    "the rewrite table a corpus dedup pass applies. Same closure "
    "cost as q58 plus one per-group window over groups only "
    "(singletons drop before the rank).",
    bench=False,  # re-times q58's closure + one window; no new signal
)
def q114_quality_survivorship(spark, sf_dir):
    from ..operators.components import dedup_groups
    from ..operators.dedup import near_dup_pairs

    docs = _t(spark, sf_dir, "documents")
    pairs = near_dup_pairs(docs, threshold=0.1, use_portable_hash=True)
    comp = dedup_groups(pairs, docs, id_col="doc_id").select(
        "doc_id", "group_id", "group_size"
    )
    multi = comp.filter(F.col("group_size") >= 2).join(
        docs.select("doc_id", F.length("text").alias("__len")), "doc_id"
    )
    wrk = Window.partitionBy("group_id").orderBy(
        F.desc("__len"), F.asc("doc_id")
    )
    wg = Window.partitionBy("group_id")
    return (
        multi.withColumn("rk", F.row_number().over(wrk))
        .select(
            "doc_id",
            "group_id",
            F.col("group_size").cast("long").alias("group_size"),
            F.max(F.when(F.col("rk") == 1, F.col("doc_id"))).over(wg).alias(
                "survivor_id"
            ),
            (F.col("rk") == 1).alias("survives"),
        )
    )


@_register(
    "q115_think_time_histogram",
    """
    WITH d AS (
        SELECT event_type,
               epoch_us(ts) - lag(epoch_us(ts)) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
        FROM events
    )
    SELECT event_type,
           CASE WHEN gap_us < 3000000 THEN 0
                WHEN gap_us < 15000000 THEN 1
                WHEN gap_us < 63000000 THEN 2
                WHEN gap_us < 255000000 THEN 3
                WHEN gap_us < 1023000000 THEN 4
                WHEN gap_us < 4095000000 THEN 5
                WHEN gap_us < 16383000000 THEN 6
                ELSE 7 END AS bucket,
           COUNT(*) AS n_gaps,
           CAST(MIN(gap_us) AS BIGINT) AS min_gap_us,
           CAST(MAX(gap_us) AS BIGINT) AS max_gap_us
    FROM d WHERE gap_us IS NOT NULL
    GROUP BY event_type, bucket
    """,
    "Behavioral timing: the user think-time distribution — "
    "inter-event gaps per user (lag over the unique (ts, event_id) "
    "order) in log-4 second buckets (edges 4^k-1 s as INTEGER "
    "microsecond literals — a floor(ln/ln4) formulation would hinge "
    "on 1-ulp ln() agreement between engines at exact-power gaps), "
    "split by the event type that ENDED the gap. One window shuffle "
    "by user_id, then a ~40-cell agg.",
)
def q115_think_time_histogram(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    d = ev.select(
        "event_type",
        (epoch_us("ts") - F.lag(epoch_us("ts")).over(w)).alias("gap_us"),
    ).filter(F.col("gap_us").isNotNull())
    edges = [3, 15, 63, 255, 1023, 4095, 16383]  # 4^k - 1 seconds
    bucket = F.lit(len(edges))
    for i in range(len(edges) - 1, -1, -1):
        bucket = F.when(
            F.col("gap_us") < edges[i] * 1_000_000, F.lit(i)
        ).otherwise(bucket)
    return d.groupBy("event_type", bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.min("gap_us").alias("min_gap_us"),
        F.max("gap_us").alias("max_gap_us"),
    )


@_register(
    "q116_session_paths",
    """
    WITH e AS (
        SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
               CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (
                        PARTITION BY user_id
                        ORDER BY epoch_us(ts), event_id) <= 600000000
                    THEN 0 ELSE 1 END AS new_s
        FROM events
    ),
    s AS (
        SELECT user_id, event_id, event_type, us,
               CAST(SUM(new_s) OVER (PARTITION BY user_id
                   ORDER BY us, event_id ROWS UNBOUNDED PRECEDING)
                   AS BIGINT) AS session_no
        FROM e
    ),
    paths AS (
        SELECT user_id, session_no,
               array_to_string(
                   (list(event_type ORDER BY us, event_id))[1:6], '>')
                   AS path,
               COUNT(*) AS session_len
        FROM s GROUP BY user_id, session_no
    )
    SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(session_len) AS BIGINT) AS n_events
    FROM paths GROUP BY path
    ORDER BY n_sessions DESC, path
    LIMIT 20
    """,
    "Behavioral path mining: the top session-opening event-type "
    "sequences (first 6 events of each 10-min-gap session, q12's "
    "sessionization) — the funnel-discovery query product analytics "
    "runs before defining funnels like q13. Order inside each "
    "session is the unique (epoch_us, event_id) key on both "
    "engines; one shuffle by user for the windows, one by path for "
    "the count, TakeOrdered top-20.",
)
def q116_session_paths(spark, sf_dir):
    from ..operators.sessionize import assign_sessions

    e = _t(spark, sf_dir, "events")
    sess = assign_sessions(e)
    us = epoch_us("ts")
    worder = Window.partitionBy("user_id", "session_no").orderBy(
        us, "event_id"
    )
    wfull = worder.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    paths = (
        sess.withColumn("seq", F.collect_list("event_type").over(wfull))
        .withColumn("rn", F.row_number().over(worder))
        .filter(F.col("rn") == 1)
        .select(
            F.concat_ws(">", F.slice("seq", 1, 6)).alias("path"),
            F.size("seq").alias("session_len"),
        )
    )
    return (
        paths.groupBy("path")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("session_len").alias("n_events"),
        )
        .orderBy(F.desc("n_sessions"), F.asc("path"))
        .limit(20)
    )


# Shared closed form for synthetic_media_table's EIGHTEEN container
# variants (k = i % 18, round 11 adds the printer-DIB CMYK pair): full-depth variants carry the gradient
# unchanged — including the round-8 six (BI_PNG embed and the three
# TIFFs are lossless, A2R10G10B10's 10-bit samples are v << 2 so
# cyclic replication is exact, OS/2 core is plain truecolor, the
# TIFF palette is the identity-gradient table), so they need no
# CASE arm;
# 4-bit/1-bit palettes quantize the base sample (// 17, // 128)
# BEFORE the channel offsets, and 16-bit X1R5G5B5 quantizes each
# 8-bit CHANNEL to 5 bits (or 6 for R5G6B5's green) with
# bit-replication expansion. Used by the q139/q143 pixel oracles.
def _media_variant_rgb(base: str) -> tuple[str, str, str]:
    rb = (
        f"CASE WHEN k IN (5, 7) THEN (({base}) // 17) * 17 "
        f"WHEN k = 6 THEN (({base}) // 128) * 255 "
        f"ELSE ({base}) END"
    )

    def f555(c: str) -> str:
        return f"((({c}) // 8) * 8 + (({c}) // 8) // 4)"

    def f565(c: str) -> str:
        return f"((({c}) // 4) * 4 + (({c}) // 4) // 16)"

    # CMYK printer-DIB arms (round 11, k 16/17): ink channels follow
    # the gradient's +85/+170 offsets with K = (q*3 + 7) % 256; the
    # RLE4 variant (17) quantizes the base through the 16-entry ink
    # palette first. Conversion is the shared naive map
    # (255 - ink) * (255 - K) // 255 (all operands non-negative).
    qb = f"(CASE WHEN k = 17 THEN (({base}) // 17) * 17 ELSE ({base}) END)"
    kq = f"(({qb} * 3 + 7) % 256)"

    def cmy(chan: str) -> str:
        return f"(((255 - ({chan})) * (255 - {kq})) // 255)"

    r = (
        f"CASE WHEN k IN (16, 17) THEN {cmy(qb)} "
        f"WHEN k IN (8, 9) THEN {f555(base)} ELSE {rb} END"
    )
    g = (
        f"CASE WHEN k IN (16, 17) THEN {cmy(f'({qb} + 85) % 256')} "
        f"WHEN k = 8 THEN {f555(f'(({base}) + 85) % 256')} "
        f"WHEN k = 9 THEN {f565(f'(({base}) + 85) % 256')} "
        f"ELSE (({rb}) + 85) % 256 END"
    )
    b = (
        f"CASE WHEN k IN (16, 17) THEN {cmy(f'({qb} + 170) % 256')} "
        f"WHEN k IN (8, 9) THEN {f555(f'(({base}) + 170) % 256')} "
        f"ELSE (({rb}) + 170) % 256 END"
    )
    return r, g, b


_Q139_R, _Q139_G, _Q139_B = _media_variant_rgb("base")


@_register(
    "q117_multimodal_decode_meta",
    """
    SELECT i AS media_id,
           CAST(16 + (i % 8) * 4 AS INT) AS width,
           CAST(16 + (i % 5) * 4 AS INT) AS height,
           CAST(3 AS INT) AS channels,
           CASE WHEN i % 18 = 1 THEN 'ppm'
                WHEN i % 18 IN (13, 14, 15) THEN 'tiff'
                ELSE 'bmp' END AS format
    FROM range(100) t(i)
    """,
    "Multimodal columns, driver-verified end-to-end: the synthetic "
    "media table (deterministic gradient pixels, now cycling "
    "EIGHTEEN container variants — 24/32/16-bit BMP, PPM, 8/4/1-bit "
    "paletted BMP, RLE8 and RLE4 BMP, BI_PNG embedded-payload BMP, "
    "A2R10G10B10 BI_ALPHABITFIELDS BMP, OS/2 BITMAPCOREHEADER BMP, "
    "big-endian LZW+predictor / PackBits-palette / multi-strip "
    "Deflate TIFF, and — round 11, the last BMP registry gate — the "
    "printer-DIB CMYK pair BI_CMYK and BI_CMYKRLE4, converted with "
    "the shared naive (255-ink)*(255-K)//255 map) is "
    "ENCODED "
    "and then DECODED by the real pure-numpy codecs through the "
    "Arrow mapInPandas kernel; the oracle recomputes the expected "
    "(width, height, channels, format) from the generator's closed "
    "form — so a bit-level bug in any container header path or the "
    "batch plumbing breaks the hash. Pixels never leave the kernel; "
    "only scalar metadata crosses back. operators/multimodal.py "
    "decode_bmp / encode_bmp32 / encode_bmp_paletted / "
    "encode_bmp16_555.",
    bench=False,  # exercises the Python kernel path, not a plan shape
)
def q117_multimodal_decode_meta(spark, sf_dir):
    from ..operators.multimodal import decode_image_meta, synthetic_media_table

    media = synthetic_media_table(spark, n=100, real=True)
    return decode_image_meta(media).orderBy("media_id")


@_register(
    "q118_audio_decode_meta",
    """
    WITH m AS (
        SELECT i, (i * 500) % 32768 AS amp,
               8000 + (i % 4) * 4000 AS frames, i % 8 AS k
        FROM range(50) t(i)
    ),
    v AS (
        SELECT i, k, frames,
               CASE WHEN k = 1 THEN amp - (amp % 256)
                    WHEN k = 4 AND i % 16 <> 12
                        THEN CAST(round(amp / 256.0) AS BIGINT)
                    ELSE amp END AS q15,
               CASE WHEN k = 4 AND i % 16 = 12 THEN amp
                    WHEN k IN (2, 4) THEN amp * 256
                    WHEN k = 1 THEN amp - (amp % 256)
                    ELSE amp END AS raw
        FROM m WHERE k < 5 OR k = 7
    ),
    -- round 10: i%16=11 ships k=3 as AIFC 'fl64' (fmt 41471, 64-bit)
    -- and i%16=12 ships k=4 as .au float32 (fmt 29550) — both carry
    -- amp/2^15 exactly, so q15/raw read amp directly
    pcm AS (
        SELECT i AS media_id,
               CAST(CASE WHEN k = 3 AND i % 16 = 11 THEN 41471
                    WHEN k = 4 AND i % 16 = 12 THEN 29550
                    WHEN k = 2 THEN 65534 WHEN k = 3 THEN 3
                    WHEN k = 7 THEN 41471
                    ELSE 1 END AS INT) AS fmt_code,
               CAST(CASE WHEN k = 3 AND i % 16 = 11 THEN 64
                    ELSE CASE k WHEN 0 THEN 16 WHEN 1 THEN 8
                         WHEN 2 THEN 24 WHEN 7 THEN 16
                         ELSE 32 END END AS INT) AS bits,
               CAST(1 AS INT) AS channels,
               CAST(16000 AS INT) AS sample_rate,
               CAST(frames // 16 AS BIGINT) AS duration_ms,
               CAST(q15 AS BIGINT) AS amp_q15,
               CAST(frames * raw AS BIGINT) AS sum_lin,
               CAST(frames * raw * raw AS BIGINT) AS sum_sq
        FROM v
    ),
    fls AS (
        SELECT i, k, amp, frames, unnest(range(frames)) AS t
        FROM m WHERE k IN (5, 6)
    ),
    flv AS (
        SELECT i, k, frames,
               CASE WHEN k = 5 THEN amp - (t * 7 + i) % 97
                    ELSE amp - (t * 11 + i) % 73 END AS s
        FROM fls
    ),
    fla AS (
        SELECT i, k, frames, MAX(s) AS pk,
               SUM(s) AS sl, SUM(s * s) AS sq
        FROM flv GROUP BY i, k, frames
    ),
    flac_rows AS (
        SELECT i AS media_id,
               CAST(61868 AS INT) AS fmt_code,
               CAST(CASE WHEN k = 5 THEN 16 ELSE 24 END AS INT) AS bits,
               CAST(1 AS INT) AS channels,
               CAST(16000 AS INT) AS sample_rate,
               CAST(frames // 16 AS BIGINT) AS duration_ms,
               CAST(pk AS BIGINT) AS amp_q15,
               CAST(CASE WHEN k = 5 THEN sl ELSE sl * 256 END
                    AS BIGINT) AS sum_lin,
               CAST(CASE WHEN k = 5 THEN sq ELSE sq * 65536 END
                    AS BIGINT) AS sum_sq
        FROM fla
    )
    SELECT * FROM pcm UNION ALL SELECT * FROM flac_rows
    """,
    "Multimodal audio across EIGHT container variants — five PCM "
    "WAVs (round-8 gate retirements: decode_wav handles unsigned "
    "8-bit, 24-bit and 32-bit integer PCM, IEEE float32, and "
    "WAVE_FORMAT_EXTENSIBLE containers resolved via the SubFormat "
    "GUID) plus TWO FLAC variants (round 9: a from-scratch RFC-9639 "
    "decoder — STREAMINFO, CRC-8/CRC-16/MD5 checks, CONSTANT/"
    "VERBATIM/FIXED/LPC subframes, Rice partitions with escapes, "
    "wasted bits, all four stereo decorrelations; FLAC is lossless, "
    "so the k=5/k=6 rows carry VARYING signals amp - (t*c+i) mod p "
    "at 16- and 24-bit whose per-sample closed forms the oracle "
    "replays with exact integer sums — fmt_code 61868 is the "
    "kernel's FLAC sentinel; round 10: the i%16==13/14 sub-rotation "
    "ships those rows OGG-ENCAPSULATED — RFC 3533 page walk, forward "
    "CRC-32, 255-lacing packet reassembly, xiph mapping header — "
    "container-invisible to the oracle but gating on the Ogg decode "
    "path; round 11 extends the rotation: i%32==29 ships the Ogg "
    "FLAC GROUPED with a Skeleton metadata stream — pages demux by "
    "serial, the fishead track is skipped — and i%32==30 ships a "
    "CHAINED file whose second FLAC link, distinct serial and "
    "different audio, is ignored in favor of the first, so both "
    "folds stay oracle-invisible while gating on the multi-stream "
    "walk) plus AIFF (round 9, k=7: big-endian PCM "
    "with the 80-bit-extended sample-rate field, or AIFC 'sowt' "
    "little-endian on i%16==15 — both decode identically, fmt_code "
    "sentinel 41471). The constant-amplitude WAVs cycle by "
    "i mod 8 (the 24-bit rows ship EXTENSIBLE, how real 24-bit files "
    "arrive) and round-trip through the real RIFF-chunk decoder and "
    "BOTH Arrow kernels — audio_features surfaces the container "
    "(fmt_code: 1 / 3 / 0xFFFE, bits) plus width-normalized "
    "duration/peak (peak * 2^15 re-quantizes to the generator "
    "amplitude: 8-bit drops the low byte, 24-bit/float32 preserve it, "
    "the quiet 32-bit rows read amp/256 at 0 dp — the one safe "
    "cross-engine rounding), audio_exact_stats carries exact int64 "
    "linear/square sums (raw sample scale per width; float32 "
    "micro-quantizes rint(x * 2^15), exact for dyadic amplitudes). "
    "The oracle recomputes every column from the generator's closed "
    "form — a wrong sign extension, bias re-centering, GUID "
    "resolution, or normalization denominator breaks the hash. "
    "operators/multimodal.py decode_wav / encode_wav_pcm8 / "
    "encode_wav_pcm24 / encode_wav_pcm32 / encode_wav_float32 / "
    "synthetic_audio_table.",
    bench=False,  # exercises the Python kernel path, not a plan shape
)
def q118_audio_decode_meta(spark, sf_dir):
    from ..operators.multimodal import (
        audio_exact_stats,
        audio_features,
        synthetic_audio_table,
    )

    media = synthetic_audio_table(spark, n=50)
    feats = audio_features(media)
    exact = audio_exact_stats(media).select("media_id", "sum_lin", "sum_sq")
    return (
        feats.join(exact, "media_id")
        .select(
            "media_id",
            "fmt_code",
            "bits",
            "channels",
            "sample_rate",
            F.round(F.col("duration_sec") * 1000).cast("long").alias(
                "duration_ms"
            ),
            F.round(F.col("peak") * 32768).cast("long").alias("amp_q15"),
            "sum_lin",
            "sum_sq",
        )
        .orderBy("media_id")
    )


@_register(
    "q121_pii_redaction",
    r"""
    WITH blob AS (
        SELECT c_custkey,
               c_name || ' <cust' || CAST(c_custkey AS VARCHAR)
                      || '@shop.example> '
               || CASE WHEN c_custkey % 3 <> 0
                       THEN 'call +1 '
                            || lpad(CAST(c_custkey % 900 + 100 AS VARCHAR), 3, '0')
                            || '-'
                            || lpad(CAST(c_custkey % 1000 AS VARCHAR), 3, '0')
                            || '-'
                            || lpad(CAST((c_custkey * 7) % 10000 AS VARCHAR), 4, '0')
                            || ' '
                       ELSE '' END
               || 'acct ' || CAST(CAST(round(c_acctbal * 100) AS BIGINT) AS VARCHAR)
               || ' cents' AS contact
        FROM customer
    )
    SELECT c_custkey,
           regexp_replace(regexp_replace(regexp_replace(regexp_replace(contact,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '\b(?:\+?\d[\s-]?){7,15}\b', '<PHONE>', 'g'),
               '\b\d{3}-\d{2}-\d{4}\b', '<SSN>', 'g'),
               '\b(?:\d[ -]*?){13,16}\b', '<CARD>', 'g') AS redacted,
           CAST(len(regexp_extract_all(contact,
                    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
              + len(regexp_extract_all(contact, '\b(?:\+?\d[\s-]?){7,15}\b'))
              + len(regexp_extract_all(contact, '\b\d{3}-\d{2}-\d{4}\b'))
              + len(regexp_extract_all(contact, '\b(?:\d[ -]*?){13,16}\b'))
             AS INT) AS n_redactions
    FROM blob
    """,
    "Training-data PII scrubbing (text.redact_pii / redaction_count): "
    "a contact blob derived deterministically from customer columns is "
    "scrubbed by the email/phone/SSN/card regex chain; the oracle "
    "re-applies the identical chain (DuckDB RE2 with 'g' vs Spark "
    "Java regex — the diff certifies pattern-semantics parity "
    "char-for-char). Pure regexp_replace in codegen, linear scan, "
    "no shuffle — the 100 TB shape is a map-only rewrite.",
)
def q121_pii_redaction(spark, sf_dir):
    from ..operators.text import redact_pii, redaction_count
    from ..operators.util import spread

    # customer arrives as ONE parquet partition at bench scale, and 8
    # regex passes/row is exactly the per-row compute spread() exists
    # for (measured round 6: 0.70s -> 0.34s; at real scale the scan
    # splits naturally and the round-robin is a no-op)
    c = spread(_t(spark, sf_dir, "customer"))
    k = F.col("c_custkey")
    phone = F.when(
        k % 3 != 0,
        F.concat(
            F.lit("call +1 "),
            F.lpad((k % 900 + 100).cast("string"), 3, "0"),
            F.lit("-"),
            F.lpad((k % 1000).cast("string"), 3, "0"),
            F.lit("-"),
            F.lpad(((k * 7) % 10000).cast("string"), 4, "0"),
            F.lit(" "),
        ),
    ).otherwise(F.lit(""))
    contact = F.concat(
        F.col("c_name"),
        F.lit(" <cust"),
        k.cast("string"),
        F.lit("@shop.example> "),
        phone,
        F.lit("acct "),
        F.round(F.col("c_acctbal") * 100).cast("long").cast("string"),
        F.lit(" cents"),
    )
    return c.select(
        "c_custkey",
        redact_pii(contact).alias("redacted"),
        redaction_count(contact).cast("int").alias("n_redactions"),
    )


@_register(
    "q122_embedding_decontamination",
    """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    ev AS (SELECT vec_id, v FROM e WHERE vec_id < 5),
    c AS (SELECT vec_id, v FROM e WHERE vec_id >= 5),
    scored AS (
        SELECT c.vec_id, ev.vec_id AS eval_id,
               list_cosine_similarity(c.v, ev.v) AS s
        FROM c, ev
    )
    SELECT vec_id, eval_id AS nearest_eval_id, round(s, 6) AS sim FROM (
        SELECT *, row_number() OVER (
            PARTITION BY vec_id ORDER BY s DESC, eval_id) AS rn
        FROM scored
    ) WHERE rn = 1 AND round(s, 6) >= 0.30
    """,
    "Embedding-space eval-set decontamination "
    "(decontam.embedding_contamination): corpus vectors whose max "
    "cosine against the eval set reaches the threshold — the "
    "semantic-leakage companion to q68's n-gram overlap. Scale shape: "
    "the eval matrix is driver-collected and closed over by an Arrow "
    "mapInPandas kernel, so the corpus side is ONE scan with zero "
    "joins and zero shuffles; per-batch float64 matmul (q46 parity "
    "discipline: first-max argmax == (sim DESC, eval_id ASC), "
    "rounding JVM-side half-up).",
)
def q122_embedding_decontamination(spark, sf_dir):
    from ..operators.decontam import embedding_contamination

    emb = _t(spark, sf_dir, "embeddings")
    return embedding_contamination(
        emb.filter(F.col("vec_id") >= 5),
        emb.filter(F.col("vec_id") < 5),
        threshold=0.30,
    )


@_register(
    "q123_token_heavy_hitters",
    f"""
    WITH t AS (
        SELECT unnest({_SQL_TOKS}) AS token FROM documents
    ),
    tot AS (SELECT COUNT(*) AS n_total FROM t)
    SELECT token, CAST(COUNT(*) AS BIGINT) AS freq,
           (SELECT n_total FROM tot) AS n_total
    FROM t GROUP BY token
    HAVING COUNT(*) * 46 > (SELECT n_total FROM tot)
    ORDER BY freq DESC, token
    """,
    "Exact distributed heavy hitters (frequency.heavy_hitters): "
    "tokens with frequency > N/(k+1), k=45. Two linear scans — "
    "per-partition mergeable Misra-Gries candidates (mapInPandas, "
    "no shuffle, superset guarantee by pigeonhole), then an exact "
    "recount of ONLY the broadcast candidate set with an integer "
    "cross-multiplied threshold. At 100 TB the long tail never "
    "shuffles; a plain groupBy-count oracle verifies exactness.",
)
def q123_token_heavy_hitters(spark, sf_dir):
    from ..operators.frequency import heavy_hitters
    from ..operators.text import tokens

    docs = _t(spark, sf_dir, "documents")
    toks = (
        _spread_docs(docs)
        .select(F.explode(tokens("text")).alias("token"))
        .cache()  # candidates + recount + total reuse one tokenizer pass
    )
    return heavy_hitters(toks, "token", k=45).withColumn(
        "freq", F.col("freq").cast("long")
    )


@_register(
    "q124_hourly_interpolation",
    """
    WITH src AS (
        SELECT epoch_us(ts) // 3600000000 AS hr,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events WHERE event_type = 'purchase' AND value > 200
    ),
    known AS (
        SELECT hr, CAST(SUM(cents) AS BIGINT) AS s, COUNT(*) AS c
        FROM src GROUP BY hr
    ),
    spine AS (
        SELECT unnest(range((SELECT MIN(hr) FROM known),
                            (SELECT MAX(hr) FROM known) + 1)) AS hr
    ),
    j AS (
        SELECT spine.hr, known.s, known.c
        FROM spine LEFT JOIN known ON spine.hr = known.hr
    ),
    w AS (
        SELECT hr, s, c,
               last_value(s IGNORE NULLS) OVER past AS ps,
               last_value(c IGNORE NULLS) OVER past AS pc,
               last_value(CASE WHEN s IS NOT NULL THEN hr END IGNORE NULLS)
                   OVER past AS ph,
               first_value(s IGNORE NULLS) OVER fut AS ns,
               first_value(c IGNORE NULLS) OVER fut AS nc,
               first_value(CASE WHEN s IS NOT NULL THEN hr END IGNORE NULLS)
                   OVER fut AS nh
        FROM j
        WINDOW past AS (ORDER BY hr
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               fut AS (ORDER BY hr
                       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT hr,
           CASE WHEN c IS NOT NULL THEN s / (c * 100.0)
                ELSE (ps * nc * (nh - hr) + ns * pc * (hr - ph))
                     / (pc * nc * (nh - ph) * 100.0)
           END AS avg_value,
           (c IS NULL) AS interpolated
    FROM w
    """,
    "Time-series resample with LINEAR interpolation over gap hours "
    "(beyond q79's zero-fill): hourly average of sparse high-value "
    "purchases on a dense hour spine; missing hours lerp between the "
    "neighboring known hours. Float parity: the lerp is a single "
    "double division of exact int64 cross-products "
    "(ps*nc*(nh-h) + ns*pc*(h-ph)) / (pc*nc*(nh-ph)*100) — no "
    "intermediate double arithmetic to drift cross-engine. Scale "
    "shape: the hourly rollup is a partial-agg groupBy; the spine "
    "and windows run over hours (bounded rows), not events.",
)
def q124_hourly_interpolation(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    known = (
        e.filter((F.col("event_type") == "purchase") & (F.col("value") > 200))
        .groupBy((epoch_us("ts") / F.lit(3_600_000_000)).cast("long").alias("hr"))
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("s"),
            F.count(F.lit(1)).alias("c"),
        )
    )
    lo, hi = known.agg(F.min("hr"), F.max("hr")).first()
    spine = spark.range(lo, hi + 1).select(F.col("id").alias("hr"))
    j = spine.join(known, "hr", "left")
    past = Window.orderBy("hr").rowsBetween(Window.unboundedPreceding, 0)
    fut = Window.orderBy("hr").rowsBetween(0, Window.unboundedFollowing)
    known_hr = F.when(F.col("s").isNotNull(), F.col("hr"))
    w = j.select(
        "hr",
        "s",
        "c",
        F.last("s", ignorenulls=True).over(past).alias("ps"),
        F.last("c", ignorenulls=True).over(past).alias("pc"),
        F.last(known_hr, ignorenulls=True).over(past).alias("ph"),
        F.first("s", ignorenulls=True).over(fut).alias("ns"),
        F.first("c", ignorenulls=True).over(fut).alias("nc"),
        F.first(known_hr, ignorenulls=True).over(fut).alias("nh"),
    )
    lerp_num = (
        F.col("ps") * F.col("nc") * (F.col("nh") - F.col("hr"))
        + F.col("ns") * F.col("pc") * (F.col("hr") - F.col("ph"))
    )
    lerp_den = F.col("pc") * F.col("nc") * (F.col("nh") - F.col("ph")) * F.lit(100.0)
    return w.select(
        "hr",
        F.when(
            F.col("c").isNotNull(), F.col("s") / (F.col("c") * F.lit(100.0))
        )
        .otherwise(lerp_num / lerp_den)
        .alias("avg_value"),
        F.col("c").isNull().alias("interpolated"),
    )


@_register(
    "q125_weighted_sample",
    """
    WITH keyed AS (
        SELECT doc_id, n_chars,
               -ln((('0x' || substr(md5('wsample:' || CAST(doc_id AS VARCHAR)),
                                    1, 8))::BIGINT + 0.5) / 4294967296.0)
               / CAST(n_chars AS DOUBLE) AS race
        FROM documents
    )
    SELECT doc_id, n_chars FROM keyed ORDER BY race ASC, doc_id ASC LIMIT 100
    """,
    "Deterministic weighted sampling WITHOUT replacement "
    "(sampling.weighted_sample, Efraimidis-Spirakis): inclusion odds "
    "proportional to n_chars, drawn from the hashed-uniform race key "
    "-ln(u)/w — a pure function of the row, so layout changes, "
    "re-runs, and the oracle reproduce the exact sample (the frozen-"
    "eval-set property q60's hash_split gives splits, extended to "
    "weighted selection). ONE scan; the n-smallest selection is "
    "TakeOrderedAndProject (per-partition top-n + driver merge), "
    "no global sort shuffle.",
)
def q125_weighted_sample(spark, sf_dir):
    from ..operators.sampling import weighted_sample

    docs = _t(spark, sf_dir, "documents")
    return weighted_sample(
        docs.select("doc_id", "n_chars"), "doc_id", "n_chars", 100, salt="wsample"
    )


def _spread_docs(docs):
    """documents.parquet is a single small file -> single input split;
    spread before the tokenizer explode so all cores work (the
    operators/util.spread rationale)."""
    from ..operators.util import spread

    return spread(docs)


@_register(
    "q126_value_psi_drift",
    """
    WITH src AS (
        SELECT event_type,
               least(CAST(round(value * 100) AS BIGINT) // 5000, 9) AS bin,
               epoch_us(ts) >= 1705363200000000 AS cur
        FROM events
    ),
    counts AS (
        SELECT event_type, bin, cur, COUNT(*) AS n
        FROM src GROUP BY event_type, bin, cur
    ),
    totals AS (
        SELECT event_type,
               CAST(SUM(CASE WHEN NOT cur THEN n ELSE 0 END) AS BIGINT) AS n_base,
               CAST(SUM(CASE WHEN cur THEN n ELSE 0 END) AS BIGINT) AS n_cur
        FROM counts GROUP BY event_type
    ),
    grid AS (
        SELECT event_type, n_base, n_cur, unnest(range(0, 10)) AS bin
        FROM totals
    ),
    j AS (
        SELECT g.event_type, g.n_base, g.n_cur, g.bin,
               COALESCE(b.n, 0) + 1 AS kb,
               COALESCE(c.n, 0) + 1 AS kc
        FROM grid g
        LEFT JOIN counts b
          ON b.event_type = g.event_type AND b.bin = g.bin AND NOT b.cur
        LEFT JOIN counts c
          ON c.event_type = g.event_type AND c.bin = g.bin AND c.cur
    ),
    terms AS (
        SELECT event_type, n_base, n_cur,
               CAST(round((kb / (n_base + 10.0) - kc / (n_cur + 10.0))
                          * 1000000) AS BIGINT)
               * CAST(round(ln((kb / (n_base + 10.0))
                               / (kc / (n_cur + 10.0))) * 1000000) AS BIGINT)
                   AS contrib
        FROM j
    )
    SELECT event_type, n_base, n_cur,
           CAST(SUM(contrib) AS BIGINT) AS psi_micro2,
           CAST(SUM(contrib) AS BIGINT) / 1e12 AS psi
    FROM terms GROUP BY event_type, n_base, n_cur
    """,
    "Distribution-drift monitoring (drift.psi_drift): per-event-type "
    "Population Stability Index of the value histogram, first half of "
    "January vs second (10 equi-width bins, Laplace-smoothed). The "
    "transcendental factors are quantized to integer micro-units ONCE "
    "and summed as exact int64 products (the q64/q78 ln discipline). "
    "ONE partial-agg scan builds (type, bin, period) counts; all later "
    "work runs on #types x 10 rows.",
)
def q126_value_psi_drift(spark, sf_dir):
    from ..operators.drift import psi_drift

    e = _t(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    bin_ = F.least(F.floor(cents / F.lit(5000)), F.lit(9)).cast("int")
    cur = epoch_us("ts") >= F.lit(1_705_363_200_000_000)  # 2024-01-16 UTC
    return psi_drift(e, "event_type", bin_, cur, n_bins=10)


@_register(
    "q127_robust_value_outliers",
    """
    WITH src AS (
        SELECT event_type, CAST(round(value * 100) AS BIGINT) AS c
        FROM events
    ),
    med AS (
        SELECT event_type,
               CAST(round(quantile_cont(c, 0.5) * 2) AS BIGINT) AS med2
        FROM src GROUP BY event_type
    ),
    dev AS (
        SELECT src.event_type, med2, abs(2 * c - med2) AS dev2
        FROM src JOIN med USING (event_type)
    ),
    mad AS (
        SELECT event_type, med2,
               CAST(round(quantile_cont(dev2, 0.5) * 2) AS BIGINT) AS mad4
        FROM dev GROUP BY event_type, med2
    )
    SELECT dev.event_type, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN dev2 * 20000 > 3 * 14826 * mad4
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           med2, mad4
    FROM dev JOIN mad USING (event_type, med2)
    GROUP BY dev.event_type, med2, mad4
    """,
    "Robust per-group outlier census (quality.robust_outlier_stats): "
    "median/MAD z-score over integer cents — the heavy-tail-safe "
    "data-quality screen. Medians of ints are half-integers, so med2/"
    "mad4 carry 2x/4x exact values and the outlier predicate is an "
    "integer cross-multiplication (|2x-med2|*20000 > 3*14826*mad4); "
    "no float rounding anywhere. Two group-key-only shuffles + a "
    "broadcast flagging pass.",
)
def q127_robust_value_outliers(spark, sf_dir):
    from ..operators.quality import robust_outlier_stats

    e = _t(spark, sf_dir, "events")
    return robust_outlier_stats(
        e, "event_type", F.round(F.col("value") * 100).cast("long"), k_sigma=3
    )


@_register(
    "q128_negative_samples",
    """
    WITH pos AS (
        SELECT DISTINCT o_custkey AS u, l_partkey AS item
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    users AS (SELECT DISTINCT u FROM pos),
    np AS (SELECT COUNT(*) AS n FROM part),
    cand AS (SELECT u, unnest(range(0, 8)) AS slot FROM users),
    c2 AS (
        SELECT u, slot,
               (('0x' || substr(md5('neg:' || CAST(u AS VARCHAR) || ':'
                                    || CAST(slot AS VARCHAR)), 1, 8))::BIGINT
                % (SELECT n FROM np)) + 1 AS item
        FROM cand
    ),
    neg AS (SELECT c2.* FROM c2 ANTI JOIN pos USING (u, item))
    SELECT u AS o_custkey, item AS l_partkey, CAST(slot AS INT) AS slot
    FROM (
        SELECT *, row_number() OVER (PARTITION BY u ORDER BY slot) AS rk
        FROM neg
    ) WHERE rk <= 3
    """,
    "Deterministic negative sampling (sampling.negative_samples) for "
    "contrastive/recsys training rows: per purchasing customer, 3 "
    "parts they never ordered, hash-drawn from the contiguous part-id "
    "universe (layout/engine-independent like every sampler here). "
    "Candidates are a map-side sequence explode — no join to the item "
    "table; the anti-join shuffles on the (user, item) key the "
    "positives already have; the slot rank is a <=8-row-per-user "
    "window.",
)
def q128_negative_samples(spark, sf_dir):
    from ..operators.sampling import negative_samples

    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    n_parts = _t(spark, sf_dir, "part").count()
    pos = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "o_custkey", "l_partkey"
    )
    return negative_samples(
        pos, "o_custkey", "l_partkey", n_items=n_parts, k=3, n_cand=8, salt="neg"
    )


@_register(
    "q129_semdedup",
    f"""
    WITH cents AS (
        SELECT centroid_id, coeffs
        FROM read_parquet('{{scratch}}/q46_centroids.parquet/*.parquet')
    ),
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    sims AS (
        SELECT vec_id, centroid_id, list_cosine_similarity(v, coeffs) AS s
        FROM e, cents
    ),
    assign AS (
        SELECT vec_id, cluster, cent_sim FROM (
            SELECT vec_id, centroid_id AS cluster, s AS cent_sim,
                   row_number() OVER (
                       PARTITION BY vec_id ORDER BY s DESC, centroid_id) AS rn
            FROM sims) WHERE rn = 1
    ),
    ranked AS (
        SELECT vec_id, cluster,
               CAST(row_number() OVER (
                   PARTITION BY cluster
                   ORDER BY round(cent_sim, 6) DESC, vec_id)
                   AS INT) AS rk
        FROM assign
    ),
    prior AS (
        SELECT a.vec_id, MAX(round(list_cosine_similarity(ea.v, eb.v), 6)) AS mps
        FROM ranked a
        JOIN ranked b ON a.cluster = b.cluster AND a.rk > b.rk
        JOIN e ea ON ea.vec_id = a.vec_id
        JOIN e eb ON eb.vec_id = b.vec_id
        GROUP BY a.vec_id
    )
    SELECT r.vec_id, r.cluster, r.rk,
           coalesce(p.mps, -1.0) AS max_prior_sim,
           coalesce(p.mps, -1.0) < 0.35 AS keep
    FROM ranked r LEFT JOIN prior p ON r.vec_id = p.vec_id
    """.replace("{scratch}", ORACLE_SCRATCH),
    "SemDeDup (arXiv:2303.09540) semantic dedup over the shared IVF "
    "artifacts (same memoized codebook/index as q46/q120): rank each "
    "cluster by centroid similarity, drop any vector whose cosine to "
    "a higher-ranked cluster-mate rounds to >= tau, keep the most "
    "central representative of each duplicate chain seed. Pairing is "
    "the bucket-bounded sum(list^2) self-join — never corpus^2; tau "
    "compares on round(sim,6) so both engines share the keep/drop "
    "frontier.",
)
def q129_semdedup(spark, sf_dir):
    from ..operators.dedup import semdedup

    cents, idx_path = _ivf_index_for(spark, sf_dir)
    idx = spark.read.parquet(idx_path)
    return semdedup(idx, cents, tau=0.35)


@_register(
    "q130_boilerplate_ngrams",
    f"""
    WITH toks AS (SELECT doc_id, {_SQL_TOKS} AS t FROM documents),
    sh AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(range(len(t) - 3),
                   i -> t[i + 1] || ' ' || t[i + 2] || ' ' || t[i + 3]
                        || ' ' || t[i + 4])) AS shingle
        FROM toks WHERE len(t) >= 4
    ),
    dfreq AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY shingle),
    boiler AS (SELECT shingle FROM dfreq WHERE df >= 3),
    per_doc AS (
        SELECT sh.doc_id, COUNT(*) AS n_shingles,
               SUM(CASE WHEN b.shingle IS NOT NULL THEN 1 ELSE 0 END)
                   AS n_boiler
        FROM sh LEFT JOIN boiler b ON sh.shingle = b.shingle
        GROUP BY sh.doc_id
    )
    SELECT d.doc_id,
           CAST(coalesce(p.n_shingles, 0) AS BIGINT) AS n_shingles,
           CAST(coalesce(p.n_boiler, 0) AS BIGINT) AS n_boiler,
           100 * coalesce(p.n_boiler, 0) <= 30 * coalesce(p.n_shingles, 0)
               AS keep
    FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
    """,
    "Cross-document boilerplate span filter (CCNet/RefinedWeb): "
    "4-grams recurring in >= 3 distinct docs are boilerplate; docs "
    "more than 30% boilerplate are dropped (integer cross-multiplied "
    "gate). One distinct-shingle explode -> df groupBy -> join back "
    "on the shingle key; complements gopher_signals' WITHIN-doc "
    "repetition signal with the cross-corpus one.",
)
def q130_boilerplate_ngrams(spark, sf_dir):
    from ..operators.text import boilerplate_ngrams

    return boilerplate_ngrams(
        _t(spark, sf_dir, "documents"), n=4, min_df=3, max_keep_pct=30
    )


@_register(
    "q131_bloom_prejoin",
    """
    WITH ck AS (
        SELECT c_custkey
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        WHERE c_mktsegment = 'BUILDING' AND n_name >= 'M'
    )
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           SUM(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0
               AS total_revenue
    FROM orders SEMI JOIN ck ON o_custkey = c_custkey
    GROUP BY o_orderpriority
    """,
    "Bloom pre-filtered fact⋈dim-subset semi-join (operators/bloom): "
    "the qualifying customer keys fold into an 8 KiB bitset "
    "(distributed bit_or build — the driver sees m/64 words, never "
    "the key set), the orders scan drops non-members via pure-JVM "
    "xxhash64/shift expressions BEFORE the shuffle, and the exact "
    "semi join removes false positives — result identical to the "
    "plain semi join the oracle runs. At 100 TB this is the "
    "shuffle-avoidance pattern for key sets too big to broadcast as "
    "a hash relation but tiny as a bitset.",
)
def q131_bloom_prejoin(spark, sf_dir):
    from ..operators.bloom import bloom_semi_join

    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    o = _t(spark, sf_dir, "orders")
    ck = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .filter((F.col("c_mktsegment") == "BUILDING") & (F.col("n_name") >= "M"))
        .select("c_custkey")
    )
    return (
        bloom_semi_join(o, "o_custkey", ck, "c_custkey")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            fixed_sum("o_totalprice", 100, "total_revenue"),
        )
    )


@_register(
    "q132_knn_label_vote",
    f"""
    WITH cents AS (
        SELECT centroid_id, coeffs
        FROM read_parquet('{{scratch}}/q46_centroids.parquet/*.parquet')
    ),
    e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    sims AS (
        SELECT vec_id, centroid_id, list_cosine_similarity(v, coeffs) AS s
        FROM e, cents
    ),
    assign AS (
        SELECT vec_id AS neighbor_id, centroid_id AS cluster FROM (
            SELECT *, row_number() OVER (
                PARTITION BY vec_id ORDER BY s DESC, centroid_id) AS rn
            FROM sims) WHERE rn = 1
    ),
    probe AS (
        SELECT vec_id AS query_id, centroid_id AS cluster FROM (
            SELECT *, row_number() OVER (
                PARTITION BY vec_id ORDER BY s DESC, centroid_id) AS rn
            FROM sims WHERE vec_id % 10 = 0) WHERE rn <= 4
    ),
    topk AS (
        SELECT query_id, neighbor_id FROM (
            SELECT c.query_id, a.neighbor_id,
                   row_number() OVER (
                       PARTITION BY c.query_id
                       ORDER BY round(list_cosine_similarity(eq.v, en.v), 6)
                                    DESC,
                                a.neighbor_id) AS rk
            FROM probe c
            JOIN assign a ON c.cluster = a.cluster
                         AND c.query_id <> a.neighbor_id
            JOIN e eq ON eq.vec_id = c.query_id
            JOIN e en ON en.vec_id = a.neighbor_id
        ) WHERE rk <= 5
    ),
    votes AS (
        SELECT t.query_id, en.label, COUNT(*) AS n_votes
        FROM topk t JOIN e en ON en.vec_id = t.neighbor_id
        GROUP BY t.query_id, en.label
    ),
    pred AS (
        SELECT query_id, label AS pred_label,
               CAST(n_votes AS BIGINT) AS n_votes
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id
                ORDER BY n_votes DESC, label) AS rn
            FROM votes) WHERE rn = 1
    )
    SELECT p.query_id AS vec_id, e.label, p.pred_label, p.n_votes,
           e.label = p.pred_label AS correct
    FROM pred p JOIN e ON e.vec_id = p.query_id
    """.replace("{scratch}", ORACLE_SCRATCH),
    "kNN majority-vote label classification (the embedding-quality "
    "eval a curation pipeline runs after every re-embed): a held-out "
    "eval slice (vec_id % 10 = 0) probes the SHARED memoized IVF "
    "index (q46/q120/q129 artifacts) for its 5 nearest corpus "
    "neighbors (nprobe=4 cells, exact cosine rerank) and takes the "
    "modal neighbor label (count desc, label asc tiebreak). "
    "Candidates stay list-bounded (|eval| x probed-list sizes, never "
    "corpus^2); votes are a <=5-row-per-query groupBy.",
)
def q132_knn_label_vote(spark, sf_dir):
    from ..operators.ivf import probe_ivf_index

    emb = _t(spark, sf_dir, "embeddings")
    cents, idx_path = _ivf_index_for(spark, sf_dir)
    eval_set = emb.filter(F.col("vec_id") % 10 == 0)
    topk = probe_ivf_index(spark, idx_path, eval_set, cents, k=5, nprobe=4)
    labels = emb.select("vec_id", "label")
    votes = (
        topk.join(
            labels.select(F.col("vec_id").alias("neighbor_id"), "label"),
            "neighbor_id",
        )
        .groupBy("query_id", "label")
        .agg(F.count(F.lit(1)).alias("n_votes"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("n_votes"), F.asc("label"))
    pred = (
        votes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("query_id").alias("vec_id"),
            F.col("label").alias("pred_label"),
            F.col("n_votes"),
        )
    )
    return (
        pred.join(labels, "vec_id")
        .select(
            "vec_id",
            "label",
            "pred_label",
            "n_votes",
            (F.col("label") == F.col("pred_label")).alias("correct"),
        )
    )


@_register(
    "q133_salted_hot_key_agg",
    """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           SUM(CAST(round(value * 100) AS BIGINT)) / 100.0 AS total_value
    FROM events
    GROUP BY event_type
    """,
    "Two-phase SALTED aggregation on an extreme-skew key "
    "(operators/skew.salted_aggregate — 5 event types over the whole "
    "fact table means 5 reducers own everything under a naive "
    "groupBy): phase 1 partial-aggregates per (key, 32-way row-hash "
    "salt) so the shuffle fans out over 160 even groups, phase 2 "
    "merges the per-salt partials. Result is identical to the plain "
    "GROUP BY the oracle runs — the salt is transparent for "
    "algebraic aggregates (count/int-sum). At 100 TB this is the "
    "pattern when AQE skew-split can't help because the skew is in "
    "the aggregation key itself.",
)
def q133_salted_hot_key_agg(spark, sf_dir):
    from ..operators.skew import salted_aggregate

    events = _t(spark, sf_dir, "events")
    return salted_aggregate(
        events,
        "event_type",
        n_salts=32,
        partial_aggs=[
            F.count(F.lit(1)).alias("pc"),
            F.sum(to_fixed("value", 100)).alias("ps"),
        ],
        final_aggs=[
            F.sum("pc").alias("n_events"),
            (F.sum("ps") / 100.0).alias("total_value"),
        ],
    )


@_register(
    "q134_dim_standardization",
    """
    WITH x AS (
        SELECT generate_subscripts(embedding, 1) - 1 AS pos,
               CAST(round(unnest(embedding::DOUBLE[]) * 1000000) AS BIGINT)
                   AS q
        FROM embeddings
    ),
    m AS (
        SELECT pos, COUNT(*) AS n,
               CAST(SUM(q) AS BIGINT) AS s1,
               CAST(SUM(q * q) AS BIGINT) AS s2,
               CAST(MIN(q) AS BIGINT) AS mn,
               CAST(MAX(q) AS BIGINT) AS mx
        FROM x GROUP BY pos
    )
    SELECT CAST(pos AS INT) AS pos, CAST(n AS BIGINT) AS n,
           round(s1 / (n * 1000000.0), 6) AS mean6,
           round(sqrt(greatest(n * s2 - s1 * s1, 0))
                 / (n * 1000000.0), 6) AS std6,
           round(mn / 1000000.0, 6) AS min6,
           round(mx / 1000000.0, 6) AS max6
    FROM m
    """,
    "Per-dimension feature standardization stats (the fit step of a "
    "z-score normalizer over an embedding column): posexplode -> one "
    "(dim)-keyed partial-agg shuffle of EXACT integer sums over "
    "micro-quantized (1e-6) values — population std via the "
    "n*S2 - S1^2 identity, so no float accumulation anywhere and "
    "both engines do ONE correctly-rounded sqrt/div per dim. 64 "
    "output rows regardless of corpus size. Overflow exposure is the "
    "PRODUCTS n*S2 and S1^2 (not S2 itself): worst-case |x|<=1 "
    "vectors wrap int64 around n~3e3 rows, typical unit-norm 64-dim "
    "around n~2e4 — so the query carries an assert_true guard that "
    "raises loudly (Spark would otherwise wrap silently where DuckDB "
    "HUGEINT keeps going) instead of emitting a wrong std6; "
    "requantize to a coarser scale (1e-4/1e-5) when it fires.",
)
def q134_dim_standardization(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    q = F.round(F.col("x") * 1_000_000).cast("long")
    m = (
        emb.select(F.posexplode("embedding").alias("pos", "x"))
        .select("pos", q.alias("q"))
        .groupBy("pos")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("q").alias("s1"),
            F.sum(F.col("q") * F.col("q")).alias("s2"),
            F.min("q").alias("mn"),
            F.max("q").alias("mx"),
        )
    )
    # n*S2 and S1^2 square the int64 exposure (S2 alone is the wrong
    # bound): guard in double with margin before Spark silently wraps.
    no_wrap = (
        F.col("n").cast("double") * F.col("s2").cast("double") < F.lit(9.0e18)
    ) & (
        F.col("s1").cast("double") * F.col("s1").cast("double") < F.lit(9.0e18)
    )
    guard = F.assert_true(
        no_wrap,
        F.concat(
            F.lit("q134: n*S2 or S1^2 would overflow int64 at pos "),
            F.col("pos").cast("string"),
            F.lit("; requantize to a coarser scale"),
        ),
    )
    return m.select(
        F.col("pos").cast("int").alias("pos"),
        F.col("n"),
        F.round(F.col("s1") / (F.col("n") * 1_000_000.0), 6).alias("mean6"),
        F.round(
            F.when(
                guard.isNull(),
                F.sqrt(
                    F.greatest(
                        F.col("n") * F.col("s2") - F.col("s1") * F.col("s1"),
                        F.lit(0).cast("long"),
                    ).cast("double")
                ),
            )
            / (F.col("n") * 1_000_000.0),
            6,
        ).alias("std6"),
        F.round(F.col("mn") / 1_000_000.0, 6).alias("min6"),
        F.round(F.col("mx") / 1_000_000.0, 6).alias("max6"),
    )


@_register(
    "q135_orc_roundtrip",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
           SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0
               AS sum_base
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
    "ORC source/sink parity (sources/formats): project lineitem, "
    "write it as ORC (Spark's second native columnar lake format — "
    "same stripe/row-group stats pruning story as parquet), read it "
    "back schema-enforced, and run the pricing rollup on the "
    "round-tripped data; the oracle aggregates the original parquet, "
    "so a green row certifies write+read fidelity for every column "
    "type in the projection.",
)
def q135_orc_roundtrip(spark, sf_dir):
    import os

    from ..sources.formats import read_table, write_table

    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice"
    )
    path = (
        f"{ORACLE_SCRATCH}/q135_lineitem_orc_"
        f"{os.path.basename(sf_dir.rstrip('/'))}"
    )
    write_table(li, path, "orc")
    back = read_table(spark, path, "orc", li.schema)
    return back.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.round("l_quantity").cast("long")).alias("sum_qty"),
        fixed_sum("l_extendedprice", 100, "sum_base"),
    )


@_register(
    "q136_langid_ngram",
    f"""
    WITH d AS (
        SELECT doc_id, lang, {_SQL_NORM} AS nt,
               {_sql_hash_uniform('langid', 'doc_id')} < 0.5 AS is_train
        FROM documents
    ),
    tg AS (
        SELECT lang AS p_lang,
               unnest(list_transform(range(length(nt) - 2),
                   i -> substring(nt, i + 1, 3))) AS gram
        FROM d WHERE is_train AND length(nt) >= 3
    ),
    prof AS (
        SELECT p_lang, gram FROM (
            SELECT p_lang, gram,
                   row_number() OVER (
                       PARTITION BY p_lang
                       ORDER BY COUNT(*) DESC, gram) AS rk
            FROM tg GROUP BY p_lang, gram) WHERE rk <= 20
    ),
    test AS (SELECT doc_id, lang, nt FROM d WHERE NOT is_train),
    tgrams AS (
        SELECT DISTINCT doc_id,
               unnest(list_transform(range(length(nt) - 2),
                   i -> substring(nt, i + 1, 3))) AS gram
        FROM test WHERE length(nt) >= 3
    ),
    ov AS (
        SELECT t.doc_id, p.p_lang, COUNT(*) AS hits
        FROM tgrams t JOIN prof p ON t.gram = p.gram
        GROUP BY t.doc_id, p.p_lang
    ),
    langs AS (SELECT DISTINCT lang AS p_lang FROM documents),
    scored AS (
        SELECT te.doc_id, te.lang, l.p_lang,
               CAST(coalesce(o.hits, 0) AS BIGINT) AS score
        FROM test te CROSS JOIN langs l
        LEFT JOIN ov o ON o.doc_id = te.doc_id AND o.p_lang = l.p_lang
    )
    SELECT doc_id, lang, p_lang AS pred_lang, score FROM (
        SELECT *, row_number() OVER (
            PARTITION BY doc_id ORDER BY score DESC, p_lang) AS rn
        FROM scored) WHERE rn = 1
    """,
    "Char-trigram language identification "
    "(text.langid_ngram_classify, north-star 'language-ID (n-gram "
    "heuristic)'): per-language top-20 trigram profiles fit on a "
    "deterministic hash-split train half, every held-out doc "
    "classified by distinct-trigram overlap (all languages scored "
    "via a 5-row broadcast cross join, so zero-overlap docs still "
    "classify deterministically). Profiling is one explode + "
    "partial-agg groupBy; classification streams the held-out "
    "explode through a broadcast join — no corpus-keyed shuffle.",
)
def q136_langid_ngram(spark, sf_dir):
    from ..operators.text import langid_ngram_classify

    return langid_ngram_classify(
        _t(spark, sf_dir, "documents"), n=3, top_k=20, train_frac=0.5
    )


@_register(
    "q137_minhash_calibration",
    f"""
    WITH toks AS (SELECT doc_id, {_SQL_TOKS} AS t FROM documents),
    units AS (
        SELECT doc_id,
               list_distinct(CASE WHEN len(t) >= 3
                   THEN list_transform(range(len(t) - 2),
                       i -> t[i + 1] || ' ' || t[i + 2] || ' ' || t[i + 3])
                   ELSE []::VARCHAR[] END) AS u
        FROM toks
    ),
    sig AS (
        SELECT doc_id,
               [list_aggregate(list_transform(u, x -> md5('0:' || x)), 'min'),
                list_aggregate(list_transform(u, x -> md5('1:' || x)), 'min'),
                list_aggregate(list_transform(u, x -> md5('2:' || x)), 'min'),
                list_aggregate(list_transform(u, x -> md5('3:' || x)), 'min'),
                list_aggregate(list_transform(u, x -> md5('4:' || x)), 'min'),
                list_aggregate(list_transform(u, x -> md5('5:' || x)), 'min'),
                list_aggregate(list_transform(u, x -> md5('6:' || x)), 'min'),
                list_aggregate(list_transform(u, x -> md5('7:' || x)), 'min')]
                   AS sig
        FROM units WHERE len(u) > 0
    ),
    bands AS (
        SELECT doc_id, b.b AS band,
               sig[2 * b.b + 1] || '|' || sig[2 * b.b + 2] AS key
        FROM sig, range(4) b(b)
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    ),
    eq AS (
        SELECT c.a_id, c.b_id,
               CAST((CASE WHEN sa.sig[1] = sb.sig[1] THEN 1 ELSE 0 END)
                  + (CASE WHEN sa.sig[2] = sb.sig[2] THEN 1 ELSE 0 END)
                  + (CASE WHEN sa.sig[3] = sb.sig[3] THEN 1 ELSE 0 END)
                  + (CASE WHEN sa.sig[4] = sb.sig[4] THEN 1 ELSE 0 END)
                  + (CASE WHEN sa.sig[5] = sb.sig[5] THEN 1 ELSE 0 END)
                  + (CASE WHEN sa.sig[6] = sb.sig[6] THEN 1 ELSE 0 END)
                  + (CASE WHEN sa.sig[7] = sb.sig[7] THEN 1 ELSE 0 END)
                  + (CASE WHEN sa.sig[8] = sb.sig[8] THEN 1 ELSE 0 END)
                 AS INT) AS n_eq_slots
        FROM cand c
        JOIN sig sa ON sa.doc_id = c.a_id
        JOIN sig sb ON sb.doc_id = c.b_id
    ),
    ush AS (SELECT doc_id, unnest(u) AS u FROM units),
    sizes AS (SELECT doc_id, len(u) AS n_u FROM units),
    inter AS (
        SELECT c.a_id, c.b_id, COUNT(*) AS n_inter
        FROM cand c
        JOIN ush a ON a.doc_id = c.a_id
        JOIN ush b ON b.doc_id = c.b_id AND b.u = a.u
        GROUP BY c.a_id, c.b_id
    )
    SELECT e.a_id, e.b_id, e.n_eq_slots,
           round(coalesce(i.n_inter, 0)
                 / (1.0 * (sa.n_u + sb.n_u - coalesce(i.n_inter, 0))), 6)
               AS jaccard6
    FROM eq e
    LEFT JOIN inter i ON i.a_id = e.a_id AND i.b_id = e.b_id
    JOIN sizes sa ON sa.doc_id = e.a_id
    JOIN sizes sb ON sb.doc_id = e.b_id
    """,
    "MinHash estimator calibration (dedup.minhash_jaccard_"
    "calibration): for every LSH candidate pair, the sketch estimate "
    "(equal signature slots / 8) beside the EXACT shingle-set "
    "Jaccard — the error-bar report an operator reads before "
    "trusting a sketch threshold on a new corpus. Exact side joins "
    "candidates to the distinct-shingle stream (|candidates| x "
    "shingles-per-doc, bucket-bounded), never all pairs.",
)
def q137_minhash_calibration(spark, sf_dir):
    from ..operators.dedup import minhash_jaccard_calibration

    return minhash_jaccard_calibration(
        _t(spark, sf_dir, "documents"),
        num_hashes=8,
        bands=4,
        shingle_n=3,
        use_portable_hash=True,
    )


@_register(
    "q138_copurchase_triangles",
    """
    WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
        SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        FROM lp a JOIN lp b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ),
    deg AS (
        SELECT node, COUNT(*) AS degree FROM (
            SELECT u AS node FROM e UNION ALL SELECT v FROM e
        ) GROUP BY node
    ),
    tri AS (
        SELECT e1.u AS a, e1.v AS b, e2.v AS c
        FROM e e1
        JOIN e e2 ON e2.u = e1.v
        JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
    ),
    tn AS (
        SELECT node, COUNT(*) AS n_triangles FROM (
            SELECT a AS node FROM tri
            UNION ALL SELECT b FROM tri
            UNION ALL SELECT c FROM tri
        ) GROUP BY node
    )
    SELECT d.node, CAST(d.degree AS BIGINT) AS degree,
           CAST(coalesce(t.n_triangles, 0) AS BIGINT) AS n_triangles,
           CASE WHEN d.degree >= 2
                THEN round(2.0 * coalesce(t.n_triangles, 0)
                           / (d.degree * (d.degree - 1)), 6)
                ELSE 0.0 END AS clustering6
    FROM deg d LEFT JOIN tn t ON t.node = d.node
    """,
    "Triangle counting + local clustering coefficient over the part "
    "co-purchase graph (graph.triangle_counts) — the third graph "
    "operator beside PageRank and components, and the standard "
    "cohesion metric for recommendation graphs. Spark side orients "
    "edges by (degree, id) rank so the wedge self-join is bounded by "
    "Sum out-deg^2 = O(m^1.5) (Chiba-Nishizeki) even on hub-heavy "
    "graphs; orientation affects cost only, so the oracle verifies "
    "with the naive ordered triple join. Per-order pairing bounds "
    "edge generation by order size squared, linear in orders.",
)
def q138_copurchase_triangles(spark, sf_dir):
    from ..operators.graph import triangle_counts

    # edge generation in ONE order-keyed shuffle: collect the order's
    # part set (<= 7 in TPC-H shape, bounded by order size) and expand
    # ordered pairs with a nested transform — no per-order self-join
    # (the pattern q84/q93/q145 now share via the round-16 helpers)
    edges = _ordered_part_pairs(_order_part_sets(spark, sf_dir)).select(
        F.col("part_a").alias("src"), F.col("part_b").alias("dst")
    )
    return triangle_counts(edges)


@_register(
    "q139_image_feature_stats",
    f"""
    WITH m AS (
        SELECT i, i % 18 AS k, 16 + (i % 8) * 4 AS w, 16 + (i % 5) * 4 AS h
        FROM range(100) t(i)
    ),
    ys AS (SELECT i, k, w, unnest(range(h)) AS y FROM m),
    px AS (
        SELECT i, k, y, unnest(range(w)) AS x FROM ys
    ),
    bs AS (SELECT i, k, (x + y + i) % 256 AS base FROM px),
    ch AS (
        SELECT i, {_Q139_R} AS r, {_Q139_G} AS g, {_Q139_B} AS b
        FROM bs
    ),
    lq AS (SELECT i, r, g, b, 2126 * r + 7152 * g + 722 * b AS l FROM ch)
    SELECT i AS media_id,
           CAST(COUNT(*) AS BIGINT) AS n_px,
           CAST(SUM(r) AS BIGINT) AS sum_r,
           CAST(SUM(g) AS BIGINT) AS sum_g,
           CAST(SUM(b) AS BIGINT) AS sum_b,
           CAST(SUM(l) AS BIGINT) AS sum_lq,
           CAST(SUM(l * l) AS BIGINT) AS sum_lq2
    FROM lq GROUP BY i
    """,
    "Multimodal feature extraction, driver-verified end-to-end "
    "(multimodal.image_exact_stats): the deterministic gradient "
    "images — encoded across EIGHTEEN containers (24/32-bit BMP, "
    "555 and 565 16-bit BMP, PPM, 8/4/1-bit paletted, RLE8, RLE4, "
    "BI_PNG embed, A2R10G10B10 alpha-bitfields, OS/2 core, "
    "LZW/PackBits-palette/Deflate TIFF, and the round-11 CMYK "
    "printer DIBs) — are decoded by the real "
    "pure-numpy codecs inside the Arrow kernel and reduced to "
    "integer-exact channel/luminance sums; the oracle regenerates "
    "each variant's pixels from its closed form (full-depth variants "
    "share one rule; 4/1-bit quantize the base sample // 17 / // 128 "
    "before the channel offsets; 16-bit X1R5G5B5 quantizes each "
    "channel to 5 bits with bit-replication expansion), so any "
    "payload bug in ANY decode path — BGRX padding, palette lookup, "
    "MSB-first bit unpack, RLE runs/absolute mode, 555 bit "
    "extraction — shifts a group and breaks the hash. Complements "
    "q117/q118 by verifying pixel VALUES through the full "
    "encode->decode->reduce path.",
    bench=False,  # exercises the Python kernel path, not a plan shape
)
def q139_image_feature_stats(spark, sf_dir):
    from ..operators.multimodal import image_exact_stats, synthetic_media_table

    media = synthetic_media_table(spark, n=100, real=True)
    return image_exact_stats(media).orderBy("media_id")


@_register(
    "q140_nation_trade_volume",
    """
    SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           CAST(strftime(l_shipdate, '%Y') AS INT) AS ship_year,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           SUM(CAST(round(l_extendedprice * (1 - l_discount) * 10000)
                    AS BIGINT)) / 10000.0 AS volume
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation sn ON s_nationkey = sn.n_nationkey
    JOIN nation cn ON c_nationkey = cn.n_nationkey
    WHERE sn.n_name < cn.n_name
    GROUP BY supp_nation, cust_nation, ship_year
    """,
    "TPC-H Q7 shape (volume shipping between nation pairs by ship "
    "year): the lineitem⋈orders fact-fact join shuffles once on "
    "orderkey; customer/supplier/nation dims broadcast (two aliased "
    "broadcasts of the same 25-row nation table); revenue is the "
    "per-row fixed-point discipline. Output cardinality is "
    "nation-pair x year — tiny regardless of fact size.",
)
def q140_nation_trade_volume(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    sn = n.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    cn = n.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(sn), s.s_nationkey == F.col("sn_key"))
        .join(F.broadcast(cn), c.c_nationkey == F.col("cn_key"))
        .filter(F.col("supp_nation") < F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("ship_year"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            fixed_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")),
                10_000,
                "volume",
            ),
        )
    )


@_register(
    "q141_market_share",
    """
    WITH vol AS (
        SELECT CAST(strftime(o_orderdate, '%Y') AS INT) AS order_year,
               sn.n_name AS supp_nation,
               CAST(round(l_extendedprice * (1 - l_discount) * 10000)
                    AS BIGINT) AS rev_q
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation cn ON c_nationkey = cn.n_nationkey
        JOIN region ON cn.n_regionkey = r_regionkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation sn ON s_nationkey = sn.n_nationkey
        WHERE r_name = 'ASIA'
    )
    SELECT order_year,
           SUM(CASE WHEN supp_nation = 'NATION_2' THEN rev_q ELSE 0 END)
               / 10000.0 AS focal_volume,
           CAST(SUM(rev_q) AS BIGINT) / 10000.0 AS total_volume,
           round(SUM(CASE WHEN supp_nation = 'NATION_2' THEN rev_q ELSE 0 END)
                 / (1.0 * SUM(rev_q)), 6) AS mkt_share
    FROM vol GROUP BY order_year
    """,
    "TPC-H Q8 shape (market share: the fraction of revenue into ASIA "
    "customers supplied from the focal nation (NATION_2), per order year). Numerator and "
    "denominator are EXACT integer sums off one scan — the share is "
    "one rounded division per year row, so no float accumulation "
    "anywhere; dims broadcast, one orderkey shuffle.",
)
def q141_market_share(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    cn = n.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_region")
    )
    sn = n.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    rev_q = to_fixed(F.col("l_extendedprice") * (1 - F.col("l_discount")), 10_000)
    vol = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(cn), c.c_nationkey == F.col("cn_key"))
        .join(
            F.broadcast(r.filter(F.col("r_name") == "ASIA")),
            F.col("cn_region") == F.col("r_regionkey"),
        )
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(sn), s.s_nationkey == F.col("sn_key"))
        .select(
            F.year("o_orderdate").alias("order_year"),
            "supp_nation",
            rev_q.alias("rev_q"),
        )
    )
    china = F.sum(F.when(F.col("supp_nation") == "NATION_2", F.col("rev_q")).otherwise(F.lit(0)))
    return vol.groupBy("order_year").agg(
        (china / 10_000.0).alias("focal_volume"),
        (F.sum("rev_q") / 10_000.0).alias("total_volume"),
        F.round(china / F.sum("rev_q").cast("double"), 6).alias("mkt_share"),
    )


@_register(
    "q142_video_frame_sample",
    """
    WITH m AS (
        SELECT i, 16 AS w, 16 + (i % 3) * 4 AS h, 6 + (i % 5) AS nf
        FROM range(20) t(i)
    ),
    fr AS (SELECT i, w, h, unnest(range(nf)) AS f FROM m),
    kept AS (SELECT * FROM fr WHERE f % 3 = 0),
    ys AS (SELECT i, f, w, unnest(range(h)) AS y FROM kept),
    px AS (SELECT i, f, y, unnest(range(w)) AS x FROM ys),
    ch AS (SELECT i, f, (x + y + i * 100 + f) % 256 AS base FROM px)
    SELECT i AS media_id, CAST(f AS INT) AS frame_no,
           CAST(COUNT(*) AS BIGINT) AS n_px,
           CAST(SUM(base) AS BIGINT) AS sum_r,
           CAST(SUM((base + 85) % 256) AS BIGINT) AS sum_g,
           CAST(SUM((base + 170) % 256) AS BIGINT) AS sum_b
    FROM ch GROUP BY i, f
    """,
    "Video frame sampling, driver-verified end-to-end (north-star "
    "'frame-sample'): the deterministic VIDF containers are built "
    "from closed-form PPM frames, every 3rd frame is extracted by "
    "seek-and-skip (only KEPT frames decode — linear in frames kept, "
    "not stored), and each sampled frame reduces to integer-exact "
    "channel sums; the oracle regenerates the kept frames' pixels in "
    "SQL, so container framing, the sampling stride, and frame "
    "payload bytes are all hash-checked. multimodal."
    "sample_video_frames + frame_exact_stats.",
    bench=False,  # exercises the Python kernel path, not a plan shape
)
def q142_video_frame_sample(spark, sf_dir):
    from ..operators.multimodal import (
        frame_exact_stats,
        sample_video_frames,
        synthetic_video_table,
    )

    media = synthetic_video_table(spark, n=20)
    return frame_exact_stats(sample_video_frames(media, every_n=3)).orderBy(
        "media_id", "frame_no"
    )


@_register(
    "q143_image_resize_verify",
    f"""
    WITH m AS (
        SELECT i, i % 18 AS k, 16 + (i % 8) * 4 AS w, 16 + (i % 5) * 4 AS h
        FROM range(100) t(i)
    ),
    ys AS (SELECT i, k, w, h, unnest(range(8)) AS yy FROM m),
    px AS (SELECT i, k, w, h, yy, unnest(range(8)) AS xx FROM ys),
    bs AS (
        SELECT i, k, ((xx * w) // 8 + (yy * h) // 8 + i) % 256 AS base
        FROM px
    ),
    rgb AS (
        SELECT i, {_Q139_R} AS r, {_Q139_G} AS g, {_Q139_B} AS b
        FROM bs
    ),
    lq AS (
        SELECT i, r, g, b, 2126 * r + 7152 * g + 722 * b AS l
        FROM rgb
    )
    SELECT i AS media_id,
           CAST(COUNT(*) AS BIGINT) AS n_px,
           CAST(SUM(r) AS BIGINT) AS sum_r,
           CAST(SUM(g) AS BIGINT) AS sum_g,
           CAST(SUM(b) AS BIGINT) AS sum_b,
           CAST(SUM(l) AS BIGINT) AS sum_lq,
           CAST(SUM(l * l) AS BIGINT) AS sum_lq2
    FROM lq GROUP BY i
    """,
    "Image RESIZE, driver-verified end-to-end (north-star 'resize'): "
    "the deterministic gradient images are decoded, nearest-neighbor "
    "resized to 8x8 (index map (j*w)//8, (i*h)//8), RE-ENCODED as "
    "BMP, decoded again, and reduced to integer-exact channel/"
    "luminance sums; the oracle applies the same index map to the "
    "generator's closed form in SQL. Verifies the resample index "
    "math AND the BMP re-encode path with pixel-value granularity "
    "(q117 covers headers, q139 covers straight decode). "
    "multimodal.resize_images + image_exact_stats.",
    bench=False,  # exercises the Python kernel path, not a plan shape
)
def q143_image_resize_verify(spark, sf_dir):
    from ..operators.multimodal import (
        image_exact_stats,
        resize_images,
        synthetic_media_table,
    )

    media = synthetic_media_table(spark, n=100, real=True)
    return image_exact_stats(resize_images(media, (8, 8))).orderBy("media_id")


@_register(
    "q144_cluster_topics",
    f"""
    WITH cents AS (
        SELECT centroid_id, coeffs
        FROM read_parquet('{{scratch}}/q46_centroids.parquet/*.parquet')
    ),
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    assign AS (
        SELECT vec_id, cluster FROM (
            SELECT vec_id, centroid_id AS cluster,
                   row_number() OVER (
                       PARTITION BY vec_id
                       ORDER BY list_cosine_similarity(v, coeffs) DESC,
                                centroid_id) AS rn
            FROM e, cents) WHERE rn = 1
    ),
    dtok AS (
        SELECT d.doc_id, a.cluster,
               unnest(list_distinct({_SQL_TOKS})) AS token
        FROM documents d JOIN assign a ON a.vec_id = d.doc_id
    ),
    cdf AS (
        SELECT cluster, token, COUNT(*) AS c_df
        FROM dtok GROUP BY cluster, token
    ),
    gdf AS (SELECT token, COUNT(*) AS g_df FROM dtok GROUP BY token),
    csize AS (SELECT cluster, COUNT(DISTINCT doc_id) AS n_docs FROM dtok
              GROUP BY cluster),
    tot AS (SELECT COUNT(*) AS n_all FROM assign),
    scored AS (
        SELECT cdf.cluster, cdf.token, cdf.c_df, cs.n_docs,
               -- distinctiveness: in-cluster df share vs global df
               -- share, as an integer-exact cross-ratio * 1e6
               CAST((1000000 * cdf.c_df * t.n_all)
                    // (cs.n_docs * g.g_df) AS BIGINT) AS lift_micro
        FROM cdf
        JOIN csize cs ON cs.cluster = cdf.cluster
        JOIN gdf g ON g.token = cdf.token
        CROSS JOIN tot t
        WHERE 10 * cdf.c_df >= 3 * cs.n_docs
    )
    SELECT cluster, token, CAST(c_df AS BIGINT) AS c_df,
           CAST(n_docs AS BIGINT) AS n_docs, lift_micro, rk
    FROM (
        SELECT *, CAST(row_number() OVER (
            PARTITION BY cluster
            ORDER BY lift_micro DESC, c_df DESC, token) AS INT) AS rk
        FROM scored
    ) WHERE rk <= 5
    """.replace("{scratch}", ORACLE_SCRATCH),
    "Cluster topic labeling (the 'what is in each semantic bucket' "
    "report a curation pipeline prints after clustering): docs join "
    "their embedding's IVF cell (shared q46 codebook), and each "
    "cluster is labeled by its 5 most DISTINCTIVE tokens — "
    "in-cluster document frequency vs global df as an integer-exact "
    "cross-ratio lift (floor x1e6), with a 30%-support floor. One "
    "distinct-token explode keyed by (cluster, token) with partial "
    "agg; the global df and cluster sizes are broadcast-sized "
    "side tables.",
)
def q144_cluster_topics(spark, sf_dir):
    from ..operators.text import tokens

    cents, idx_path = _ivf_index_for(spark, sf_dir)
    assign = spark.read.parquet(idx_path).select(
        F.col("neighbor_id").alias("vec_id"), "cluster"
    )
    docs = _t(spark, sf_dir, "documents")
    dtok = (
        docs.join(assign, docs.doc_id == assign.vec_id)
        .select("doc_id", "cluster", tokens("text").alias("__toks"))
        .select(
            "doc_id",
            "cluster",
            F.explode(F.array_distinct("__toks")).alias("token"),
        )
        .cache()
    )
    cdf = dtok.groupBy("cluster", "token").agg(F.count(F.lit(1)).alias("c_df"))
    gdf = dtok.groupBy("token").agg(F.count(F.lit(1)).alias("g_df"))
    csize = dtok.groupBy("cluster").agg(
        F.countDistinct("doc_id").alias("n_docs")
    )
    n_all = assign.count()
    scored = (
        cdf.join(F.broadcast(csize), "cluster")
        .join(gdf, "token")
        .filter(10 * F.col("c_df") >= 3 * F.col("n_docs"))
        .withColumn(
            "lift_micro",
            # integer DIV, not floor(double/): a double ratio that
            # rounds up across an integer boundary would diverge from
            # the oracle's exact // on large counts
            F.expr(
                f"CAST((1000000L * c_df * {n_all}) DIV (n_docs * g_df) AS LONG)"
            ),
        )
    )
    w = Window.partitionBy("cluster").orderBy(
        F.desc("lift_micro"), F.desc("c_df"), F.asc("token")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("cluster", "token", "c_df", "n_docs", "lift_micro", "rk")
    )


@_register(
    "q145_assoc_rules",
    """
    WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    counts AS (SELECT l_partkey, COUNT(*) AS n_ord FROM lp GROUP BY l_partkey),
    tot AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM lp),
    pairs AS (
        SELECT a.l_partkey AS pa, b.l_partkey AS pb, COUNT(*) AS n_both
        FROM lp a JOIN lp b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY pa, pb
        HAVING COUNT(*) >= 3
    ),
    rules AS (
        SELECT pa AS antecedent, pb AS consequent, n_both FROM pairs
        UNION ALL
        SELECT pb, pa, n_both FROM pairs
    ),
    scored AS (
        SELECT r.antecedent, r.consequent,
               CAST(r.n_both AS BIGINT) AS n_both,
               CAST((1000000 * r.n_both) // ca.n_ord AS BIGINT)
                   AS conf_micro,
               CAST((1000000 * r.n_both * t.n_orders)
                    // (ca.n_ord * cb.n_ord) AS BIGINT) AS lift_micro
        FROM rules r
        JOIN counts ca ON ca.l_partkey = r.antecedent
        JOIN counts cb ON cb.l_partkey = r.consequent
        CROSS JOIN tot t
    )
    SELECT antecedent, consequent, n_both, conf_micro, lift_micro, rk
    FROM (
        SELECT *, CAST(row_number() OVER (
            ORDER BY conf_micro DESC, n_both DESC,
                     antecedent, consequent) AS INT) AS rk
        FROM scored
    ) WHERE rk <= 50
    """,
    "Association rules with directional confidence (the recsys rule "
    "mine on top of q84's co-occurrence): each supported unordered "
    "pair emits both directions, confidence = P(consequent|"
    "antecedent) and lift as integer-exact cross-ratios (floor "
    "x1e6), global top-50 by confidence. Per-order pairing stays "
    "bounded by order size; the directional expansion is a 2x map; "
    "item counts and the totals row are broadcast-sized.",
)
def q145_assoc_rules(spark, sf_dir):
    # same one-shuffle per-order part sets as q84 (round 16); the
    # build-time count() also materializes the cache before the
    # counts/pairs branches read it
    ps_all = _order_part_sets(spark, sf_dir).cache()
    counts = (
        ps_all.select(F.explode("ps").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("n_ord"))
    )
    n_orders = ps_all.count()
    pairs = (
        _ordered_part_pairs(ps_all)
        .groupBy(
            F.col("part_a").alias("pa"), F.col("part_b").alias("pb")
        )
        .agg(F.count(F.lit(1)).alias("n_both"))
        .filter(F.col("n_both") >= 3)
    )
    rules = pairs.select(
        F.col("pa").alias("antecedent"),
        F.col("pb").alias("consequent"),
        "n_both",
    ).unionAll(
        pairs.select(
            F.col("pb").alias("antecedent"),
            F.col("pa").alias("consequent"),
            "n_both",
        )
    )
    scored = (
        rules.join(
            counts.select(
                F.col("l_partkey").alias("antecedent"),
                F.col("n_ord").alias("na"),
            ),
            "antecedent",
        )
        .join(
            counts.select(
                F.col("l_partkey").alias("consequent"),
                F.col("n_ord").alias("nb"),
            ),
            "consequent",
        )
        .select(
            "antecedent",
            "consequent",
            "n_both",
            F.expr("CAST((1000000L * n_both) DIV na AS LONG)").alias(
                "conf_micro"
            ),
            F.expr(
                f"CAST((1000000L * n_both * {n_orders}) DIV (na * nb) AS LONG)"
            ).alias("lift_micro"),
        )
    )
    # distributed top-50 first (TakeOrderedAndProject), then the
    # emitted rank over the 50 survivors — not a global row_number
    # window over every qualifying rule pair (round 15)
    order = [
        F.desc("conf_micro"), F.desc("n_both"), F.asc("antecedent"),
        F.asc("consequent"),
    ]
    return (
        scored.orderBy(*order)
        .limit(50)
        .withColumn("rk", F.row_number().over(Window.orderBy(*order)))
    )


@_register(
    "q146_common_traffic_multiset",
    """
    SELECT c_custkey, COUNT(*) AS n_common
    FROM (
        SELECT o_custkey AS c_custkey FROM orders
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE l_returnflag = 'R'
        INTERSECT ALL
        SELECT o_custkey FROM orders
        JOIN lineitem ON l_orderkey = o_orderkey
        WHERE l_returnflag = 'A'
    )
    GROUP BY c_custkey
    ORDER BY n_common DESC, c_custkey
    LIMIT 50
    """,
    "SURVEY 2.6 set-op completion: INTERSECT ALL (multiset "
    "intersection — q37's INTERSECT collapses duplicates; this keeps "
    "min-multiplicity): customers ranked by their overlapping count "
    "of returned vs accepted line-items. Spark `intersectAll` "
    "compiles to the same per-key min-of-counts aggregate DuckDB "
    "uses — never a row-by-row match.",
)
def q146_common_traffic_multiset(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")

    def side(flag):
        return (
            o.join(li, li.l_orderkey == o.o_orderkey)
            .filter(F.col("l_returnflag") == flag)
            .select(F.col("o_custkey").alias("c_custkey"))
        )

    return (
        side("R")
        .intersectAll(side("A"))
        .groupBy("c_custkey")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .orderBy(F.desc("n_common"), F.asc("c_custkey"))
        .limit(50)
    )


@_register(
    "q147_png_decode_stats",
    """
    WITH m AS (
        SELECT i, 16 + (i % 6) * 4 AS w, 16 + (i % 4) * 4 AS h
        FROM range(80) t(i)
    ),
    ys AS (SELECT i, w, unnest(range(h)) AS y FROM m),
    px AS (
        SELECT i, y, unnest(range(w)) AS x FROM ys
    ),
    ch AS (
        SELECT i,
               (x + y + i) % 256 AS r,
               ((x + y + i) % 256 + 85) % 256 AS g,
               ((x + y + i) % 256 + 170) % 256 AS b
        FROM px
    ),
    lq AS (SELECT i, r, g, b, 2126 * r + 7152 * g + 722 * b AS l FROM ch)
    SELECT i AS media_id,
           CAST(COUNT(*) AS BIGINT) AS n_px,
           CAST(SUM(r) AS BIGINT) AS sum_r,
           CAST(SUM(g) AS BIGINT) AS sum_g,
           CAST(SUM(b) AS BIGINT) AS sum_b,
           CAST(SUM(l) AS BIGINT) AS sum_lq,
           CAST(SUM(l * l) AS BIGINT) AS sum_lq2
    FROM lq GROUP BY i
    """,
    "Real compressed-image decode, driver-verified end-to-end "
    "(multimodal.decode_png): deterministic gradient pixels are "
    "DEFLATE-compressed into genuine PNGs with the scanline filter "
    "cycling 0..4 by row, then decoded inside the Arrow kernel via "
    "zlib inflate + numpy unfiltering (Sub as a mod-256 cumsum, "
    "Average/Paeth per the spec's serial recurrence) and reduced to "
    "integer-exact channel/luminance sums; the oracle regenerates the "
    "same pixels from the generator's closed form, so a bit error in "
    "chunk CRCs, the inflate path, ANY of the five unfilter branches, "
    "or the feature reduction breaks the hash. Size formula differs "
    "from q139's BMP/PPM corpus so the two can't mask each other. "
    "Corrupt payloads yield null rows, never task failures "
    "(tests/test_multimodal.py).",
    bench=False,  # exercises the Python kernel path, not a plan shape
)
def q147_png_decode_stats(spark, sf_dir):
    from ..operators.multimodal import image_exact_stats, synthetic_png_table

    media = synthetic_png_table(spark, n=80)
    return image_exact_stats(media).orderBy("media_id")


def _q148_oracle() -> str:
    from ..operators.layout import quantize_minmax_sql, zorder_key_sql

    pq = quantize_minmax_sql("l_partkey", 1, "pmax", 8, idiv="//")
    sq = quantize_minmax_sql("l_suppkey", 1, "smax", 8, idiv="//")
    return f"""
    WITH b AS (SELECT MAX(l_partkey) AS pmax, MAX(l_suppkey) AS smax
               FROM lineitem),
    q AS (
        SELECT l_partkey, l_suppkey, {pq} AS pq, {sq} AS sq
        FROM lineitem, b
    ),
    z AS (
        SELECT l_partkey, l_suppkey,
               {zorder_key_sql(["pq", "sq"], 8)} AS zkey
        FROM q
    )
    SELECT CAST(zkey >> 12 AS INT) AS zbucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(l_partkey) AS BIGINT) AS p_lo,
           CAST(MAX(l_partkey) AS BIGINT) AS p_hi,
           CAST(MIN(l_suppkey) AS BIGINT) AS s_lo,
           CAST(MAX(l_suppkey) AS BIGINT) AS s_hi,
           CAST(SUM(zkey) AS BIGINT) AS sum_zkey
    FROM z GROUP BY zbucket
    """


@_register(
    "q148_zorder_buckets",
    _q148_oracle(),
    "Multi-dimensional clustering for data skipping "
    "(operators/layout.py, the OPTIMIZE ZORDER capability): quantize "
    "(l_partkey, l_suppkey) onto an 8-bit grid with declared min-max "
    "bounds (integer DIV per the house rule), interleave into a "
    "Morton key with a pure shift/and/or codegen expression — no UDF, "
    "no shuffle for the key itself — and report per-z-cell (top 4 "
    "key bits = a 4x4 grid over the 2-D domain) row counts and dim "
    "spans. The spans are the zone-map tightness a z-ordered rewrite "
    "buys on BOTH columns at once; zorder_repartition ships the "
    "layout with one range-repartition shuffle (locality asserted in "
    "tests/test_layout.py). Oracle shares the literal expression "
    "strings via zorder_key_sql/quantize_minmax_sql, so any bit "
    "drift between dialects breaks the hash.",
)
def q148_zorder_buckets(spark, sf_dir):
    from ..operators.layout import quantize_minmax_sql, zorder_key

    li = _t(spark, sf_dir, "lineitem")
    b = li.agg(
        F.max("l_partkey").alias("pmax"), F.max("l_suppkey").alias("smax")
    )
    q = (
        li.select("l_partkey", "l_suppkey")
        .crossJoin(F.broadcast(b))
        .selectExpr(
            "l_partkey",
            "l_suppkey",
            quantize_minmax_sql("l_partkey", 1, "pmax", 8) + " AS pq",
            quantize_minmax_sql("l_suppkey", 1, "smax", 8) + " AS sq",
        )
    )
    z = q.select(
        "l_partkey", "l_suppkey", zorder_key(["pq", "sq"], 8).alias("zkey")
    )
    return z.groupBy(
        F.shiftright("zkey", 12).cast("int").alias("zbucket")
    ).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("l_partkey").cast("long").alias("p_lo"),
        F.max("l_partkey").cast("long").alias("p_hi"),
        F.min("l_suppkey").cast("long").alias("s_lo"),
        F.max("l_suppkey").cast("long").alias("s_hi"),
        F.sum("zkey").alias("sum_zkey"),
    )


@_register(
    "q149_incremental_rollup",
    """
    SELECT o_orderstatus,
           CAST(strftime(o_orderdate, '%Y') AS INT) AS yr,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS sum_total,
           CAST(MIN(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS min_total,
           CAST(MAX(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS max_total
    FROM orders
    GROUP BY o_orderstatus, yr
    """,
    "Incremental materialized-view maintenance (operators/rollup.py): "
    "the (status, year) revenue rollup is built as TWO algebraic "
    "state frames — history (< 1996-01-01) and delta (>=) — then "
    "MERGED (sums/counts add, min/max fold) without touching history "
    "rows again; the oracle aggregates the whole table directly, so "
    "the hash proves merge == from-scratch bit-exactly (fixed-point "
    "int sums). The merge shuffles only |key groups| state rows — "
    "the refresh cost a 100 TB append pipeline actually pays.",
)
def q149_incremental_rollup(spark, sf_dir):
    from ..operators.rollup import merge_rollup_states, rollup_state

    o = _t(spark, sf_dir, "orders")
    keyed = o.select(
        "o_orderstatus",
        F.year("o_orderdate").cast("int").alias("yr"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("tot"),
        "o_orderdate",
    )
    keys = ["o_orderstatus", "yr"]
    split = F.lit("1996-01-01").cast("date")
    hist = rollup_state(
        keyed.filter(F.col("o_orderdate") < split), keys, {"total": F.col("tot")}
    )
    delta = rollup_state(
        keyed.filter(F.col("o_orderdate") >= split), keys, {"total": F.col("tot")}
    )
    return merge_rollup_states([hist, delta], keys)


@_register(
    "q150_prefix_filter_jaccard",
    f"""
    WITH toks AS (SELECT doc_id, {{toks}} AS t FROM documents),
    sh AS (
        SELECT DISTINCT doc_id AS id,
               unnest(list_transform(range(len(t) - 2),
                   i -> t[i + 1] || ' ' || t[i + 2] || ' ' || t[i + 3]))
                   AS shingle
        FROM toks
        WHERE len(t) >= 3
    ),
    sizes AS (SELECT id, COUNT(*) AS n_sh FROM sh GROUP BY id),
    inter AS (
        SELECT a.id AS a_id, b.id AS b_id, COUNT(*) AS n_inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
        GROUP BY a.id, b.id
    )
    SELECT a_id, b_id, n_inter,
           sa.n_sh AS n_a, sb.n_sh AS n_b,
           n_inter / (1.0 * (sa.n_sh + sb.n_sh - n_inter)) AS jaccard
    FROM inter
    JOIN sizes sa ON inter.a_id = sa.id
    JOIN sizes sb ON inter.b_id = sb.id
    WHERE n_inter / (1.0 * (sa.n_sh + sb.n_sh - n_inter)) >= 0.10
    """.replace("{toks}", _SQL_TOKS),
    "PPJoin-style prefix-filtered Jaccard self-join (Xiao et al., WWW "
    "2008; dedup.prefix_filter_jaccard_pairs): shingles sort by "
    "ascending global df (rarest first), only each doc's first "
    "|x| - ceil(t|x|) + 1 units enter the candidate join (integer "
    "ceil — a float epsilon above an integer would silently drop "
    "qualifying pairs), and candidates verify with one JVM "
    "array_intersect per pair. The ORACLE runs the FULL shared-"
    "shingle join with no filter, so the hash proves the prefix "
    "filter is lossless — exact semantics, unlike the df-cut (q23) "
    "which redefines which pairs qualify; the two compose for "
    "hostile corpora. Join stream shrinks by ~t of every doc's "
    "units; verification is |candidates| array ops, never corpus^2.",
)
def q150_prefix_filter_jaccard(spark, sf_dir):
    from ..operators.dedup import prefix_filter_jaccard_pairs

    return prefix_filter_jaccard_pairs(
        _t(spark, sf_dir, "documents"), n=3, threshold_pct=10
    )


@_register(
    "q151_event_type_pivot",
    """
    SELECT strftime(ts, '%Y-%m-%d') AS day,
           CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                AS BIGINT) AS click,
           CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                AS BIGINT) AS error,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                AS BIGINT) AS purchase,
           CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
                AS BIGINT) AS signup,
           CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                AS BIGINT) AS view
    FROM events
    GROUP BY day
    """,
    "PIVOT surface (the one relational reshape q80's unpivot didn't "
    "cover): daily event counts widened to one column per event type "
    "via DataFrame.pivot with an EXPLICIT value list — the explicit "
    "list keeps the schema static (no extra distinct-values job, no "
    "run-order-dependent columns) which is both the deterministic-"
    "contract requirement and the scale posture: pivot with declared "
    "values is a single partial-agg groupBy, identical shuffle shape "
    "to the oracle's CASE-sum formulation.",
)
def q151_event_type_pivot(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    kinds = ["click", "error", "purchase", "signup", "view"]
    out = (
        e.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .pivot("event_type", kinds)
        .agg(F.count(F.lit(1)))
    )
    # pivot leaves null where a (day, type) cell had no rows; the
    # CASE-sum oracle yields 0 — align
    return out.select(
        "day", *[F.coalesce(F.col(k), F.lit(0)).alias(k) for k in kinds]
    )


@_register(
    "q152_count_min_accuracy",
    """
    WITH ev AS (SELECT user_id FROM events WHERE user_id IS NOT NULL),
    cnt AS (SELECT user_id, COUNT(*) AS n FROM ev GROUP BY user_id),
    top AS (
        SELECT user_id, n FROM (
            SELECT *, row_number() OVER (ORDER BY n DESC, user_id) AS rk
            FROM cnt) WHERE rk <= 20
    ),
    rows_ AS (SELECT unnest(range(4)) AS r),
    cells AS (
        SELECT r,
               ('0x' || substr(md5('cm:' || r || ':' || user_id), 1, 8))
                   ::BIGINT % 256 AS bucket,
               COUNT(*) AS c
        FROM ev, rows_ GROUP BY r, bucket
    ),
    probes AS (
        SELECT user_id, n, r,
               ('0x' || substr(md5('cm:' || r || ':' || user_id), 1, 8))
                   ::BIGINT % 256 AS bucket
        FROM top, rows_
    )
    SELECT p.user_id, CAST(MIN(p.n) AS BIGINT) AS exact_n,
           CAST(MIN(coalesce(c.c, 0)) AS BIGINT) AS cm_est
    FROM probes p LEFT JOIN cells c ON p.r = c.r AND p.bucket = c.bucket
    GROUP BY p.user_id
    """,
    "Count-Min sketch accuracy report (Cormode & Muthukrishnan 2005; "
    "operators/frequency.py count_min_counters/estimate): a 4x256 "
    "counter table built in ONE map-side explode + partial-agg "
    "groupBy (shuffle bounded by d*w per map partition — corpus-"
    "independent, counters merge by addition), point-queried for the "
    "20 exactly-heaviest users. Buckets use the portable md5-prefix "
    "hash family (q128 pattern) so the oracle rebuilds the identical "
    "sketch; est >= exact always (one-sided CM guarantee), and "
    "narrow width makes real collisions visible rather than "
    "vacuously matching. Complements exact Misra-Gries heavy "
    "hitters (q123): MG says WHICH items are heavy exactly, CM "
    "answers point queries for ANY item in fixed memory.",
)
def q152_count_min_accuracy(spark, sf_dir):
    from ..operators.frequency import count_min_counters, count_min_estimate

    e = _t(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    counters = count_min_counters(e, "user_id", depth=4, width=256)
    cnt = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    top = (
        cnt.withColumn(
            "rk",
            F.row_number().over(
                Window.orderBy(F.desc("n"), F.asc("user_id"))
            ),
        )
        .filter(F.col("rk") <= 20)
        .select("user_id", F.col("n").alias("exact_n"))
    )
    est = count_min_estimate(counters, top, "user_id", depth=4, width=256)
    return top.join(est, "user_id").select(
        "user_id", F.col("exact_n").cast("long"), F.col("cm_est").cast("long")
    )


_HLL_NUMER = repr(0.709 * 4096 * float(1 << 55))  # alpha_64 * m^2 * 2^B

@_register(
    "q153_hll_distinct_accuracy",
    f"""
    WITH h AS (
        SELECT ('0x' || substr(md5('hll:' || CAST(o_orderkey AS VARCHAR)),
                               1, 15))::BIGINT AS h
        FROM orders WHERE o_orderkey IS NOT NULL
    ),
    regs AS (
        SELECT CAST(h % 64 AS INT) AS register,
               MAX(CASE WHEN h // 64 = 0 THEN 55
                        ELSE 55 - length(bin(h // 64)) END) AS m_j
        FROM h GROUP BY register
    ),
    est AS (
        SELECT CAST(64 AS INT) AS m,
               CAST(COUNT(*) AS INT) AS nonzero_registers,
               CAST(SUM((CAST(1 AS BIGINT) << (55 - m_j)))
                    + (64 - COUNT(*)) * (CAST(1 AS BIGINT) << 55)
                    AS BIGINT) AS harmonic_scaled
        FROM regs
    ),
    ex AS (SELECT CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS exact_distinct
           FROM orders)
    SELECT m, nonzero_registers, harmonic_scaled,
           round({_HLL_NUMER} / harmonic_scaled, 3) AS hll_est,
           exact_distinct,
           round(round({_HLL_NUMER} / harmonic_scaled, 3)
                 / exact_distinct - 1, 4) AS rel_err
    FROM est CROSS JOIN ex
    """,
    "HyperLogLog distinct-count accuracy report (Flajolet et al. 2007; "
    "operators/frequency.py hll_registers/hll_estimate), completing "
    "the mergeable-sketch family: Misra-Gries (q123) says WHICH items "
    "are heavy, Count-Min (q152) answers point frequency queries, HLL "
    "answers COUNT DISTINCT in m registers that merge by MAX — the "
    "shard/day/partition combinability a 100 TB pipeline buys sketches "
    "for. Registers use the portable md5-prefix hash family so the "
    "oracle rebuilds the sketch bit-for-bit; rho comes from "
    "length(bin(remainder)) — exact string length, never "
    "floor(log2()) whose double rounding flips 2^k-1 up to k near the "
    "52-bit edge — and the harmonic sum is an exact integer "
    "(shiftleft terms; empty registers folded in arithmetically). The "
    "only float is the one alpha*m^2*2^B / sum divide, same literal "
    "both engines. Raw-regime estimator on purpose (15k distinct >> "
    "2.5m = 160 at every SF); the small-range linear-counting branch "
    "needs ln() and is documented out of scope. Vs q50's opaque "
    "approx_count_distinct bound-check: this one audits the registers "
    "themselves.",
)
def q153_hll_distinct_accuracy(spark, sf_dir):
    from ..operators.frequency import hll_estimate, hll_registers

    o = _t(spark, sf_dir, "orders")
    regs = hll_registers(o, "o_orderkey", p=6, salt="hll")
    est = hll_estimate(regs, p=6)
    exact = o.agg(
        F.countDistinct("o_orderkey").cast("long").alias("exact_distinct")
    )
    return est.crossJoin(exact).select(
        "m",
        "nonzero_registers",
        "harmonic_scaled",
        "hll_est",
        "exact_distinct",
        F.round(F.col("hll_est") / F.col("exact_distinct") - 1, 4).alias(
            "rel_err"
        ),
    )


@_register(
    "q154_bm25_retrieval",
    f"""
    WITH base AS (SELECT doc_id AS id, {{toks}} AS t FROM documents),
    lens AS (SELECT id, CAST(len(t) AS BIGINT) AS dl FROM base),
    stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                     CAST(SUM(dl) AS BIGINT) AS t_tokens FROM lens),
    tok AS (SELECT id, unnest(t) AS tok FROM base),
    tf AS (SELECT id, tok, COUNT(*) AS tf FROM tok
           WHERE tok IN ('hash', 'join', 'vector') GROUP BY id, tok),
    dfreq AS (SELECT tok, COUNT(*) AS df_t FROM tf GROUP BY tok),
    scored AS (
        SELECT id,
               CAST(round(ln(1 + (n_docs - df_t + 0.5) / (df_t + 0.5))
                          * 1000000) AS BIGINT) AS idf_q,
               tf, dl, n_docs, t_tokens
        FROM tf JOIN dfreq USING (tok) JOIN lens USING (id)
        CROSS JOIN stats
    ),
    per AS (
        SELECT id, CAST(COUNT(*) AS BIGINT) AS n_terms_hit,
               CAST(SUM(CAST(round(idf_q *
                   ((44.0 * t_tokens * tf) /
                    (20.0 * t_tokens * tf + 6.0 * t_tokens
                     + 18.0 * dl * n_docs))) AS BIGINT)) AS BIGINT)
                   AS score_micro
        FROM scored GROUP BY id
    )
    SELECT id AS doc_id, n_terms_hit, score_micro, CAST(rk AS INTEGER) AS rk
    FROM (SELECT *, row_number() OVER (ORDER BY score_micro DESC, id) AS rk
          FROM per)
    WHERE rk <= 20
    """.replace("{toks}", _SQL_TOKS),
    "BM25 ranked retrieval (Robertson & Zaragoza 2009; operators/"
    "similarity.py bm25_topk): top-20 docs for the query set "
    "{{hash, join, vector}} — the query->corpus lexical scorer of RAG "
    "and curation stacks, complementing q98's pairwise tf-idf cosine. "
    "k1 = 1.2 / b = 0.75 enter as exact rationals (numerator and "
    "denominator scaled by 20*T: 44 = 20*(k1+1), 6 = 20*k1*(1-b), "
    "18 = 20*k1*b), so the saturation term is one integer-operand "
    "divide; idf is the positive BM25+ ln form quantized once to "
    "micro-units and per-term scores round to integer micro-units "
    "before the per-doc sum — the established cross-engine float "
    "discipline. Scale: tokens filter to the 3-term query set BEFORE "
    "the tf groupBy, so the shuffle carries <= |terms| rows per doc "
    "regardless of document length; N/T are one partial agg; df is "
    "|terms| groups.",
)
def q154_bm25_retrieval(spark, sf_dir):
    from ..operators.similarity import bm25_topk

    return bm25_topk(
        _t(spark, sf_dir, "documents"), ["hash", "join", "vector"], k=20
    )


@_register(
    "q155_rfm_segmentation",
    """
    WITH pc AS (
        SELECT o_custkey,
               CAST(date_diff('day', MAX(CAST(o_orderdate AS DATE)),
                              DATE '2001-08-02') AS INT) AS rec_days,
               CAST(COUNT(*) AS BIGINT) AS freq,
               CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS mon_cents
        FROM orders GROUP BY o_custkey
    ),
    sc AS (
        SELECT mon_cents,
               CAST(ntile(5) OVER (ORDER BY rec_days, o_custkey) AS INT)
                   AS r_score,
               CAST(ntile(5) OVER (ORDER BY freq DESC, o_custkey) AS INT)
                   AS f_score,
               CAST(ntile(5) OVER (ORDER BY mon_cents DESC, o_custkey) AS INT)
                   AS m_score
        FROM pc
    )
    SELECT r_score, f_score, m_score,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(mon_cents) AS BIGINT) / 100.0 / COUNT(*)
               AS avg_monetary
    FROM sc GROUP BY r_score, f_score, m_score
    """,
    "RFM customer segmentation — the e-commerce scoring rollup "
    "(recency of last order vs the fixed 2001-08-02 reference day, "
    "order frequency, lifetime monetary in exact cents) bucketed into "
    "quintiles with NTILE(5) — the segmentation ROLLUP layer above "
    "q69's single-ntile decile exercise: three independent quintile "
    "orderings composed into 125 RFM cells. Every NTILE ordering "
    "carries the custkey "
    "tiebreak so bucket boundaries are deterministic cross-engine "
    "(ANSI ntile distributes the remainder to the leading buckets in "
    "both). Scale: the quintile windows run over the per-customer "
    "AGGREGATE (|customers| rows, one partial-agg groupBy of the fact "
    "table feeding three sorts of the dim-sized frame) — at 100 TB "
    "the global sort swaps for percent_rank over a range-partitioned "
    "frame, same semantics; the 125-cell segment rollup is the "
    "corpus-independent output.",
)
def q155_rfm_segmentation(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    pc = o.groupBy("o_custkey").agg(
        F.datediff(
            F.lit("2001-08-02").cast("date"),
            F.max(F.col("o_orderdate").cast("date")),
        )
        .cast("int")
        .alias("rec_days"),
        F.count(F.lit(1)).alias("freq"),
        F.sum(to_fixed(F.col("o_totalprice"), 100)).alias("mon_cents"),
    )
    sc = pc.select(
        "mon_cents",
        F.ntile(5)
        .over(Window.orderBy(F.asc("rec_days"), F.asc("o_custkey")))
        .alias("r_score"),
        F.ntile(5)
        .over(Window.orderBy(F.desc("freq"), F.asc("o_custkey")))
        .alias("f_score"),
        F.ntile(5)
        .over(Window.orderBy(F.desc("mon_cents"), F.asc("o_custkey")))
        .alias("m_score"),
    )
    return sc.groupBy("r_score", "f_score", "m_score").agg(
        F.count(F.lit(1)).alias("n_customers"),
        # fixed_avg discipline: exact int sum, one unrounded double
        # division chain — round(x, 2) on a double renders via
        # shortest-decimal in Spark (BigDecimal HALF_UP) but stays
        # binary in DuckDB, so a .405-class quotient flips the cell
        (F.sum("mon_cents") / F.lit(100.0) / F.count(F.lit(1))).alias(
            "avg_monetary"
        ),
    )


@_register(
    "q156_snapshot_reconciliation",
    """
    SELECT o_orderkey, 'deleted' AS status FROM orders
    WHERE o_orderkey % 997 = 0 AND o_orderkey % 991 <> 0
    UNION ALL
    SELECT o_orderkey, 'inserted' AS status FROM orders
    WHERE o_orderkey % 991 = 0 AND o_orderkey % 997 <> 0
    UNION ALL
    SELECT o_orderkey, 'modified' AS status FROM orders
    WHERE o_orderkey % 89 = 0
      AND o_orderkey % 991 <> 0 AND o_orderkey % 997 <> 0
    """,
    "Snapshot reconciliation / anti-entropy (operators/reconcile.py "
    "snapshot_diff — the flattened-Merkle replica-sync shape): two "
    "order snapshots derived by deterministic mutation rules (A drops "
    "keys %991, B drops %997 and rewrites priority on %89) are "
    "compared by per-bucket XOR-of-md5-signature checksums first — "
    "two linear scans shuffling 256 summary rows each — and only rows "
    "in the ~17% of buckets whose checksums disagree enter the "
    "row-level full-outer compare, classifying deleted / inserted / "
    "modified keys. bit_xor, not SUM: order/partition-insensitive and "
    "overflow-free at any bucket size (a SUM of 60-bit sigs wraps at "
    "~8 rows). Signatures render money as fixed-point cents so the "
    "string fed to md5 is engine-identical. The oracle is "
    "INDEPENDENT, not a rebuild: it derives the expected diff "
    "directly from the mutation rules, so it would catch a checksum "
    "false-clean, a pruning bug, or a misclassified side. vs q108's "
    "cdc.snapshot_diff (the full-outer REPORT that shuffles every "
    "key): this is the sync primitive for NEAR-IDENTICAL sides — "
    "clean buckets cost n_buckets summary rows, only the dirty "
    "sliver joins.",
)
def q156_snapshot_reconciliation(spark, sf_dir):
    from ..operators.reconcile import anti_entropy_diff

    o = _t(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    snap_a = o.filter(F.col("o_orderkey") % 991 != 0)
    snap_b = o.filter(F.col("o_orderkey") % 997 != 0).withColumn(
        "o_orderpriority",
        F.when(
            F.col("o_orderkey") % 89 == 0, F.lit("RECONCILED")
        ).otherwise(F.col("o_orderpriority")),
    )
    sig = [F.col("o_orderstatus"), F.col("o_orderpriority"), cents]
    return anti_entropy_diff(
        snap_a, snap_b, "o_orderkey", sig, sig, n_buckets=256
    )


@_register(
    "q157_exact_quantile_narrowing",
    """
    WITH v AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS c
               FROM lineitem),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM v),
    p AS (SELECT * FROM (VALUES (50), (90), (99)) t(percent)),
    ks AS (SELECT CAST(percent AS INT) AS percent, n,
                  CAST((percent * n + 99) // 100 AS BIGINT) AS k
           FROM p CROSS JOIN nn),
    o AS (SELECT c, row_number() OVER (ORDER BY c) AS rn FROM v)
    SELECT percent, n, k, CAST(c AS BIGINT) AS value
    FROM ks JOIN o ON o.rn = ks.k
    """,
    "EXACT p50/p90/p99 of line price in cents by iterative histogram "
    "narrowing (operators/quantiles.py exact_quantiles) — the scale "
    "path for order statistics, completing the percentile triangle: "
    "q41 is exact-via-global-sort (right at dim scale), q50 is "
    "approx_percentile (a sketch), this is exact WITHOUT a total "
    "order — O(log_B range) linear scans, each histogramming every "
    "still-open rank interval into B equal-width integer buckets "
    "(B auto-sized from the first scan's min/max: smallest power of "
    "two preserving the minimal scan count) "
    "(map-side partial agg, shuffle = B rows/partition; all three "
    "quantiles narrow in the same scan via a tagged literal explode). "
    "Driver state is B counters per open quantile — corpus-size "
    "independent; 32-bit cent ranges converge in <= 4 scans at ANY "
    "row count. Bucketing is ceil-width integer div (never a "
    "value*B product), exact across the full int64 domain. The "
    "oracle is INDEPENDENT: rank k = ceil(p*n/100) read off a "
    "row_number over the global sort.",
)
def q157_exact_quantile_narrowing(spark, sf_dir):
    from ..operators.quantiles import exact_quantiles

    li = _t(spark, sf_dir, "lineitem").select(
        to_fixed(F.col("l_extendedprice"), 100).alias("cents")
    )
    # histogram width is auto-derived from the first scan's min/max
    # (round 17): at the sf0.1 ~1e7-cent span that resolves to the
    # hand-measured optimum B=4096 (2 narrowing scans; 256 needed 3
    # and 65536 paid a heavier per-scan histogram — 3.25 / 2.20 /
    # 3.33 s isolated, identical exact values), and wider corpora
    # rescale without re-measuring
    return exact_quantiles(li, "cents", [50, 90, 99])


@_register(
    "q158_phrase_search",
    f"""
    WITH toks AS (SELECT doc_id, {{toks}} AS t FROM documents),
    post AS (
        SELECT doc_id, unnest(t) AS tok,
               generate_subscripts(t, 1) - 1 AS pos
        FROM toks
    ),
    ph AS (SELECT * FROM (VALUES ('hash', 0), ('join', 1)) v(tok, idx)),
    votes AS (
        SELECT doc_id, pos - idx AS anchor, idx
        FROM post JOIN ph USING (tok)
    ),
    occ AS (
        SELECT doc_id, anchor
        FROM votes
        WHERE anchor >= 0
        GROUP BY doc_id, anchor
        HAVING COUNT(DISTINCT idx) = 2
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           CAST(MIN(anchor) AS BIGINT) AS first_pos
    FROM occ GROUP BY doc_id
    """.replace("{toks}", _SQL_TOKS),
    "Exact phrase search for 'hash join' via a positional "
    "inverted index (operators/text.py phrase_search) — the "
    "adjacency-and-order retrieval primitive q154's bag-of-words "
    "BM25 can't express. One posexplode builds (doc, token, pos) "
    "postings, a broadcast (token, phrase_index) join filters them "
    "map-side to the phrase vocabulary, and the anchor trick "
    "(posting for index i at position p votes for anchor p - i; an "
    "anchor with all DISTINCT indices is an occurrence) resolves "
    "adjacency in ONE groupBy regardless of phrase length — no "
    "per-term self-join chain. Corpus postings outside the phrase "
    "vocabulary never leave the scan; the groupBy keys on (doc, "
    "anchor) so state is bounded by matched postings, not corpus "
    "positions.",
)
def q158_phrase_search(spark, sf_dir):
    from ..operators.text import phrase_search

    return phrase_search(
        _t(spark, sf_dir, "documents"), ["hash", "join"]
    )


@_register(
    "q159_revenue_autocorrelation",
    """
    WITH daily AS (
        SELECT CAST(date_diff('day', DATE '1995-01-01',
                              CAST(o_orderdate AS DATE)) AS BIGINT) AS di,
               CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)
                        // 100000) AS BIGINT) AS x
        FROM orders GROUP BY di
    ),
    bounds AS (SELECT MIN(di) AS d0, MAX(di) AS d1 FROM daily),
    spine AS (
        SELECT d0 + unnest(range(d1 - d0 + 1)) AS di FROM bounds
    ),
    grid AS (
        SELECT CAST(year(DATE '1995-01-01' + INTERVAL (s.di) DAY)
                    AS INT) AS yr,
               s.di, COALESCE(daily.x, 0) AS x
        FROM spine s LEFT JOIN daily USING (di)
    ),
    stats AS (
        SELECT yr, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS s
        FROM grid GROUP BY yr
    ),
    resid AS (
        SELECT g.yr, g.di, g.x - (st.s // st.n) AS d,
               st.n, st.s - st.n * (st.s // st.n) AS r
        FROM grid g JOIN stats st ON g.yr = st.yr
    ),
    led AS (
        SELECT yr, n, r, d,
               lead(d, 1) OVER w AS d1, lead(d, 2) OVER w AS d2,
               lead(d, 3) OVER w AS d3, lead(d, 4) OVER w AS d4,
               lead(d, 5) OVER w AS d5, lead(d, 6) OVER w AS d6,
               lead(d, 7) OVER w AS d7
        FROM resid WINDOW w AS (PARTITION BY yr ORDER BY di)
    ),
    agg AS (
        SELECT yr, n, r,
               CAST(SUM(d * d) AS BIGINT) AS sdd0,
               lg.lag,
               CAST(SUM(CASE lg.lag WHEN 1 THEN d * d1 WHEN 2 THEN d * d2
                        WHEN 3 THEN d * d3 WHEN 4 THEN d * d4
                        WHEN 5 THEN d * d5 WHEN 6 THEN d * d6
                        ELSE d * d7 END) AS BIGINT) AS sdd,
               CAST(SUM(CASE lg.lag WHEN 1 THEN CASE WHEN d1 IS NOT NULL
                            THEN d END
                        WHEN 2 THEN CASE WHEN d2 IS NOT NULL THEN d END
                        WHEN 3 THEN CASE WHEN d3 IS NOT NULL THEN d END
                        WHEN 4 THEN CASE WHEN d4 IS NOT NULL THEN d END
                        WHEN 5 THEN CASE WHEN d5 IS NOT NULL THEN d END
                        WHEN 6 THEN CASE WHEN d6 IS NOT NULL THEN d END
                        ELSE CASE WHEN d7 IS NOT NULL THEN d END END)
                    AS BIGINT) AS sh,
               CAST(SUM(CASE lg.lag WHEN 1 THEN d1 WHEN 2 THEN d2
                        WHEN 3 THEN d3 WHEN 4 THEN d4 WHEN 5 THEN d5
                        WHEN 6 THEN d6 ELSE d7 END) AS BIGINT) AS st
        FROM led CROSS JOIN (SELECT unnest(range(1, 8)) AS lag) lg
        GROUP BY yr, n, r, lg.lag
    )
    SELECT yr, CAST(lag AS INT) AS lag,
           CAST(round(1000000.0 *
                (n * n * sdd - n * r * (sh + st) + (n - lag) * r * r) /
                (n * n * sdd0 - n * r * r)) AS BIGINT) AS acf_micro
    FROM agg
    """,
    "Time-series diagnostics: per-year autocorrelation (lags 1-7) of "
    "gap-filled daily revenue — the lag-structure statistic beyond "
    "the suite's moving windows (q75) and cross-column Pearson "
    "(q92). Exactness without a float mean: revenue quantizes to "
    "KILOdollars per row (floor-div of the exact cents integer — no "
    "float rounding at all), the series centers on the INTEGER floor "
    "mean mu = S div n, and the closed-form remainder correction "
    "(r = S - n*mu) restores the exact-mean ACF as a pure integer "
    "formula — acf = (n^2*Sdd - n*r*(Sh+St) + (n-lag)*r^2) / "
    "(n^2*Sd2 - n*r^2) — so both engines divide IDENTICAL int64s "
    "(one final double divide, quantized to micro-units). Headroom: "
    "n <= 366 per year keeps n^2*Sd2 inside int64 while daily "
    "residuals stay under ~1.4e7 kUSD (~sf100 of this corpus); both "
    "engines RAISE beyond (Spark ANSI, DuckDB) rather than wrap. "
    "Scale shape: the grid is calendar-bounded (|days| rows "
    "independent of fact size), built by one partial-agg groupBy of "
    "orders + a sequence-explode spine; the 7 leads come from ONE "
    "window pass; the lag explode is a literal 7-element cross.",
)
def q159_revenue_autocorrelation(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date")
        )
        .cast("long")
        .alias("di")
    ).agg(
        F.sum(
            F.expr("CAST(round(o_totalprice * 100) AS BIGINT) div 100000")
        ).alias("x")
    )
    bounds = daily.agg(
        F.min("di").alias("d0"), F.max("di").alias("d1")
    )
    spine = bounds.select(
        F.explode(F.sequence(F.col("d0"), F.col("d1"))).alias("di")
    )
    grid = (
        spine.join(daily, "di", "left")
        .select(
            F.year(
                F.date_add(F.lit("1995-01-01").cast("date"), F.col("di").cast("int"))
            )
            .cast("int")
            .alias("yr"),
            "di",
            F.coalesce("x", F.lit(0)).alias("x"),
        )
    )
    stats = grid.groupBy("yr").agg(
        F.count(F.lit(1)).alias("n"), F.sum("x").alias("s")
    )
    resid = grid.join(stats, "yr").select(
        "yr",
        "di",
        (F.col("x") - F.expr("s div n")).alias("d"),
        "n",
        (F.col("s") - F.col("n") * F.expr("s div n")).alias("r"),
    )
    w = Window.partitionBy("yr").orderBy("di")
    led = resid.select(
        "yr",
        "n",
        "r",
        "d",
        *[F.lead("d", L).over(w).alias(f"d{L}") for L in range(1, 8)],
    )
    lagged = led.select(
        "yr",
        "n",
        "r",
        "d",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(L).alias("lag"), F.col(f"d{L}").alias("dl")
                    )
                    for L in range(1, 8)
                ]
            )
        ).alias("c"),
    ).select("yr", "n", "r", "d", "c.lag", "c.dl")
    agg = (
        lagged.groupBy("yr", "n", "r", "lag")
        .agg(
            F.sum(F.col("d") * F.col("d")).alias("sdd0"),
            F.sum(F.col("d") * F.col("dl")).alias("sdd"),
            F.sum(F.when(F.col("dl").isNotNull(), F.col("d"))).alias("sh"),
            F.sum("dl").alias("st"),
        )
    )
    return agg.select(
        "yr",
        F.col("lag").cast("int").alias("lag"),
        F.round(
            F.lit(1000000.0)
            * (
                F.col("n") * F.col("n") * F.col("sdd")
                - F.col("n") * F.col("r") * (F.col("sh") + F.col("st"))
                + (F.col("n") - F.col("lag")) * F.col("r") * F.col("r")
            )
            / (
                F.col("n") * F.col("n") * F.col("sdd0")
                - F.col("n") * F.col("r") * F.col("r")
            )
        )
        .cast("long")
        .alias("acf_micro"),
    )


_HLL7_NUMER = repr(0.673 * 256 * float(1 << 57))  # alpha_16 * m^2 * 2^B

@_register(
    "q160_rolling_distinct_hll_merge",
    f"""
    WITH ev AS (
        SELECT user_id, strftime(ts, '%Y-%m-%d') AS day,
               CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
                    AS BIGINT) AS day_int,
               ('0x' || substr(md5('hll7:' || CAST(user_id AS VARCHAR)),
                               1, 15))::BIGINT AS h
        FROM events WHERE user_id IS NOT NULL
    ),
    regs AS (
        SELECT day, day_int, CAST(h % 16 AS INT) AS register,
               MAX(CASE WHEN h // 16 = 0 THEN 57
                        ELSE 57 - length(bin(h // 16)) END) AS m_j
        FROM ev GROUP BY day, day_int, register
    ),
    days AS (SELECT DISTINCT day, day_int FROM ev),
    grid AS (
        SELECT day, day_int, unnest(range(16)) AS register FROM days
    ),
    dense AS (
        SELECT g.day, g.day_int, g.register,
               COALESCE(r.m_j, 0) AS m_j
        FROM grid g LEFT JOIN regs r
          ON g.day_int = r.day_int AND g.register = r.register
    ),
    merged AS (
        SELECT day, day_int, register,
               MAX(m_j) OVER (PARTITION BY register ORDER BY day_int
                              RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
                   AS mm
        FROM dense
    ),
    est AS (
        SELECT day,
               CAST(SUM(CASE WHEN mm > 0 THEN 1 ELSE 0 END) AS INT)
                   AS merged_nonzero,
               CAST(SUM(CAST(1 AS BIGINT) << (57 - mm)) AS BIGINT)
                   AS harmonic_scaled
        FROM merged GROUP BY day
    ),
    exact AS (
        SELECT d.day, CAST(COUNT(DISTINCT e.user_id) AS BIGINT)
                   AS exact_distinct
        FROM days d JOIN ev e
          ON e.day_int BETWEEN d.day_int - 6 AND d.day_int
        GROUP BY d.day
    )
    SELECT day, merged_nonzero,
           round({_HLL7_NUMER} / harmonic_scaled, 3) AS hll_est,
           exact_distinct
    FROM est JOIN exact USING (day)
    """,
    "Rolling 7-day distinct users via WINDOWED HLL REGISTER MERGE — "
    "the merge property q153 certifies, exercised in anger: one scan "
    "builds a 16-register sketch PER DAY (frequency.hll_registers "
    "group_cols; shuffle = |days|*16 summary rows), and every day's "
    "trailing-week estimate is a RANGE-window MAX over the day "
    "sketches on a dense (day x register) grid — row data is touched "
    "once, each 7-day combination costs 16 integer MAXes. This is "
    "the sketch contract at 100 TB: daily shards pre-aggregate "
    "independently, any window/realignment merges summaries. The "
    "exact comparison (interval-join COUNT DISTINCT, 7x|events| "
    "join rows) is the audit the sketch replaces at scale. Raw-"
    "regime estimator (m = 16 keeps 2.5m below the ~150-user "
    "corpus); estimator parity is exact regardless of statistical "
    "bias because both engines rebuild identical registers.",
)
def q160_rolling_distinct_hll_merge(spark, sf_dir):
    from ..operators.frequency import hll_registers

    e = (
        _t(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .withColumn("day", F.date_format("ts", "yyyy-MM-dd"))
        .withColumn(
            "day_int",
            F.datediff(
                F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
            ).cast("long"),
        )
    )
    regs = hll_registers(
        e, "user_id", p=4, salt="hll7", group_cols=["day", "day_int"]
    )
    days = e.select("day", "day_int").distinct()
    grid = days.crossJoin(
        spark.range(16).select(F.col("id").cast("int").alias("register"))
    )
    dense = grid.join(
        regs.select("day_int", "register", "m_j"), ["day_int", "register"], "left"
    ).select(
        "day", "day_int", "register", F.coalesce("m_j", F.lit(0)).alias("m_j")
    )
    wr = (
        Window.partitionBy("register")
        .orderBy("day_int")
        .rangeBetween(-6, 0)
    )
    merged = dense.select(
        "day", "day_int", "register", F.max("m_j").over(wr).alias("mm")
    )
    est = merged.groupBy("day").agg(
        F.sum(F.when(F.col("mm") > 0, 1).otherwise(0))
        .cast("int")
        .alias("merged_nonzero"),
        F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), 57 - mm)")).alias(
            "harmonic_scaled"
        ),
    )
    exact = (
        days.alias("d")
        .join(
            e.select(F.col("user_id"), F.col("day_int").alias("de")).alias("e"),
            (F.col("de") >= F.col("d.day_int") - 6)
            & (F.col("de") <= F.col("d.day_int")),
        )
        .groupBy("d.day")
        .agg(F.countDistinct("user_id").alias("exact_distinct"))
    )
    return (
        est.join(exact, "day")
        .select(
            "day",
            "merged_nonzero",
            F.round(
                F.lit(float(_HLL7_NUMER)) / F.col("harmonic_scaled"), 3
            ).alias("hll_est"),
            "exact_distinct",
        )
    )


def _fs_scored_ctes() -> str:
    """Shared Fellegi-Sunter CTE chain (q161 top-k view; q172 entity
    closure) — one definition so the two oracles cannot drift."""
    return f"""base AS (
        SELECT doc_id AS id,
               lang || '|' || CAST(n_chars // 32 AS VARCHAR) AS blk,
               source, t[1] AS ft, t[len(t)] AS lt, len(t) AS ntok
        FROM (SELECT doc_id, lang, n_chars, source, {{toks}} AS t
              FROM documents)
    ),
    s_source AS (
        SELECT CAST(SUM(c * (c - 1)) AS BIGINT) AS num,
               CAST(SUM(c) AS BIGINT) AS n
        FROM (SELECT COUNT(*) AS c FROM base
              WHERE source IS NOT NULL GROUP BY source)
    ),
    s_ft AS (
        SELECT CAST(SUM(c * (c - 1)) AS BIGINT) AS num,
               CAST(SUM(c) AS BIGINT) AS n
        FROM (SELECT COUNT(*) AS c FROM base
              WHERE ft IS NOT NULL GROUP BY ft)
    ),
    s_lt AS (
        SELECT CAST(SUM(c * (c - 1)) AS BIGINT) AS num,
               CAST(SUM(c) AS BIGINT) AS n
        FROM (SELECT COUNT(*) AS c FROM base
              WHERE lt IS NOT NULL GROUP BY lt)
    ),
    s_ntok AS (
        SELECT CAST(SUM(c * (c - 1)) AS BIGINT) AS num,
               CAST(SUM(c) AS BIGINT) AS n
        FROM (SELECT COUNT(*) AS c FROM base
              WHERE ntok IS NOT NULL GROUP BY ntok)
    ),
    w AS (
        SELECT
          CAST(round(ln(0.9 * (s_source.n * (s_source.n - 1))
                        / greatest(s_source.num, 1)) * 1000000) AS BIGINT)
              AS wa_source,
          CAST(round(ln({repr(1.0 - 0.9)} * (s_source.n * (s_source.n - 1))
                        / greatest(s_source.n * (s_source.n - 1)
                                   - greatest(s_source.num, 1), 1))
                     * 1000000) AS BIGINT) AS wd_source,
          CAST(round(ln(0.9 * (s_ft.n * (s_ft.n - 1))
                        / greatest(s_ft.num, 1)) * 1000000) AS BIGINT)
              AS wa_ft,
          CAST(round(ln({repr(1.0 - 0.9)} * (s_ft.n * (s_ft.n - 1))
                        / greatest(s_ft.n * (s_ft.n - 1)
                                   - greatest(s_ft.num, 1), 1))
                     * 1000000) AS BIGINT) AS wd_ft,
          CAST(round(ln(0.9 * (s_lt.n * (s_lt.n - 1))
                        / greatest(s_lt.num, 1)) * 1000000) AS BIGINT)
              AS wa_lt,
          CAST(round(ln({repr(1.0 - 0.9)} * (s_lt.n * (s_lt.n - 1))
                        / greatest(s_lt.n * (s_lt.n - 1)
                                   - greatest(s_lt.num, 1), 1))
                     * 1000000) AS BIGINT) AS wd_lt,
          CAST(round(ln(0.9 * (s_ntok.n * (s_ntok.n - 1))
                        / greatest(s_ntok.num, 1)) * 1000000) AS BIGINT)
              AS wa_ntok,
          CAST(round(ln({repr(1.0 - 0.9)} * (s_ntok.n * (s_ntok.n - 1))
                        / greatest(s_ntok.n * (s_ntok.n - 1)
                                   - greatest(s_ntok.num, 1), 1))
                     * 1000000) AS BIGINT) AS wd_ntok
        FROM s_source, s_ft, s_lt, s_ntok
    ),
    scored AS (
        SELECT a.id AS a_id, b.id AS b_id,
               (CASE WHEN a.source IS NULL OR b.source IS NULL THEN '?'
                     WHEN a.source = b.source THEN '1' ELSE '0' END) ||
               (CASE WHEN a.ft IS NULL OR b.ft IS NULL THEN '?'
                     WHEN a.ft = b.ft THEN '1' ELSE '0' END) ||
               (CASE WHEN a.lt IS NULL OR b.lt IS NULL THEN '?'
                     WHEN a.lt = b.lt THEN '1' ELSE '0' END) ||
               (CASE WHEN a.ntok IS NULL OR b.ntok IS NULL THEN '?'
                     WHEN a.ntok = b.ntok THEN '1' ELSE '0' END)
                   AS pattern,
               CAST((CASE WHEN a.source IS NULL OR b.source IS NULL THEN 0
                     WHEN a.source = b.source THEN wa_source
                     ELSE wd_source END)
               + (CASE WHEN a.ft IS NULL OR b.ft IS NULL THEN 0
                       WHEN a.ft = b.ft THEN wa_ft ELSE wd_ft END)
               + (CASE WHEN a.lt IS NULL OR b.lt IS NULL THEN 0
                       WHEN a.lt = b.lt THEN wa_lt ELSE wd_lt END)
               + (CASE WHEN a.ntok IS NULL OR b.ntok IS NULL THEN 0
                       WHEN a.ntok = b.ntok THEN wa_ntok ELSE wd_ntok END)
                   AS BIGINT) AS score_micro
        FROM base a JOIN base b ON a.blk = b.blk AND a.id < b.id
        CROSS JOIN w
    )""".replace("{toks}", _SQL_TOKS)


@_register(
    "q161_fellegi_sunter_linkage",
    f"""
    WITH {_fs_scored_ctes()}
    SELECT a_id, b_id, pattern, score_micro
    FROM (SELECT *, row_number() OVER (ORDER BY score_micro DESC, a_id,
                                       b_id) AS rk
          FROM scored)
    WHERE rk <= 50
    """,
    "Fellegi-Sunter probabilistic record linkage (1969; operators/"
    "fuzzy.py fs_linkage_pairs) — the calibrated-evidence layer above "
    "q74's boolean edit-distance matching: each field contributes "
    "ln(m/u) on agreement and ln((1-m)/(1-u)) on disagreement, with "
    "u (chance agreement) estimated from the data itself as the "
    "exact integer rational sum c_v*(c_v-1) / N*(N-1) per field — so "
    "sharing a rare last token outweighs sharing one of 20 sources. "
    "Weights quantize once to micro-units; pair scores are exact "
    "integer sums; degenerate all-unique/constant fields clamp "
    "finitely, mirrored in SQL. Blocking on (lang, 32-char length "
    "band) keeps the candidate join sum-block^2; per-field u stats "
    "are one tiny groupBy each, broadcast as two int64s. Top-50 "
    "pairs by (score, ids).",
)
def q161_fellegi_sunter_linkage(
    spark, sf_dir, block_width=32, offset_pass=False
):
    # block_width: same knob and same rationale as q172 — the fixed
    # 32-char length band has a corpus-size-independent block count,
    # so blocked pair cost grows quadratically; scaled corpora pass
    # fuzzy.auto_block_width. 32 is pinned (oracle mirrors it).
    # offset_pass=True (round 16) adds the width/2-offset second
    # blocking pass for the narrow-auto-width boundary-split trade
    # (candidates unioned + deduped before scoring) — off by default
    # so the pinned oracle blocking is untouched.
    from ..operators.fuzzy import fs_linkage_pairs
    from ..operators.text import tokens

    w = int(block_width)
    d = (
        _t(spark, sf_dir, "documents")
        .withColumn("__toks", tokens("text"))
        .select(
            F.col("doc_id"),
            F.concat(
                F.col("lang"),
                F.lit("|"),
                F.expr(f"n_chars div {w}").cast("string"),
            ).alias("blk"),
            F.concat(
                F.col("lang"),
                F.lit("|"),
                F.expr(f"(n_chars + {w // 2}) div {w}").cast("string"),
            ).alias("blk2"),
            F.col("source"),
            F.get("__toks", 0).alias("ft"),
            F.get("__toks", F.size("__toks") - 1).alias("lt"),
            F.size("__toks").alias("ntok"),
        )
    )
    return fs_linkage_pairs(
        d,
        "doc_id",
        "blk",
        ["source", "ft", "lt", "ntok"],
        m=0.9,
        k=50,
        block_col2="blk2" if offset_pass else None,
    )


@_register(
    "q162_theil_sen_trend",
    """
    WITH daily AS (
        SELECT CAST(date_diff('day', DATE '1995-01-01',
                              CAST(o_orderdate AS DATE)) AS BIGINT) AS di,
               CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)
                        // 100000) AS BIGINT) AS x
        FROM orders GROUP BY di
    ),
    slopes AS (
        SELECT CAST(round(1000000.0 * (b.x - a.x) / (b.di - a.di))
                    AS BIGINT) AS s
        FROM daily a JOIN daily b ON a.di < b.di
    ),
    np AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs FROM slopes),
    med AS (
        SELECT s AS slope_micro FROM (
            SELECT s, row_number() OVER (ORDER BY s) AS rn FROM slopes
        ) JOIN np ON rn = (n_pairs + 1) // 2
    ),
    resid AS (
        SELECT CAST(round(1000.0 * (d.x - m.slope_micro / 1000000.0
                                    * d.di)) AS BIGINT) AS r
        FROM daily d CROSS JOIN med m
    ),
    nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_days FROM daily),
    icept AS (
        SELECT r AS intercept_milli FROM (
            SELECT r, row_number() OVER (ORDER BY r) AS rn FROM resid
        ) JOIN nd ON rn = (n_days + 1) // 2
    )
    SELECT n_days, n_pairs, slope_micro, intercept_milli
    FROM nd CROSS JOIN np CROSS JOIN med CROSS JOIN icept
    """,
    "Theil-Sen robust trend of daily revenue (Theil 1950; Sen 1968) — "
    "the outlier-immune regression beside q111's least-squares Zipf "
    "fit and q127's robust location stats: the slope is the MEDIAN of "
    "all pairwise day-to-day slopes, so up to ~29% of days can be "
    "corrupted (promotions, outages) without moving the estimate. "
    "Slopes quantize once to micro-kUSD/day ints; the median is rank "
    "ceil(n/2) of the quantized set — found by exact_quantiles' "
    "histogram narrowing (q157's operator REUSED on a derived "
    "frame), never a global sort; the intercept is the median "
    "residual at that slope, same machinery. The pair join is "
    "CALENDAR-bounded (|days|^2 ~ 5.8M at 7 years) and corpus-size "
    "independent — the fact table only feeds the |days|-row daily "
    "aggregate. Oracle is independent: row_number over the sorted "
    "slope set.",
)
def q162_theil_sen_trend(spark, sf_dir):
    from ..operators.quantiles import exact_quantiles

    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date")
        )
        .cast("long")
        .alias("di")
    ).agg(
        F.sum(
            F.expr("CAST(round(o_totalprice * 100) AS BIGINT) div 100000")
        ).alias("x")
    ).cache()  # |days| rows; without this the orders scan re-runs for
    # the slope-pair build AND the residual stage (measured ~2 s each
    # at sf0.1 — the scan, not the bounded pair join, dominates here)
    a = daily.select(F.col("di").alias("da"), F.col("x").alias("xa"))
    b = daily.select(F.col("di").alias("db"), F.col("x").alias("xb"))
    slopes = (
        a.join(b, F.col("da") < F.col("db"))
        .select(
            # nullif: codegen can evaluate this projection on candidate
            # pairs before the da < db condition filters them (ANSI
            # divide-by-zero); equal-day pairs never survive the join,
            # so the null branch is unreachable in the output
            F.round(
                F.lit(1000000.0)
                * (F.col("xb") - F.col("xa"))
                / F.expr("nullif(db - da, 0)")
            )
            .cast("long")
            .alias("s")
        )
    )
    # histogram width auto-derived per pass (round 17, supersedes the
    # round-16 pinned 4096): the sf0.1 slope span (2.22e10) resolves
    # to the same measured-optimal 4096 / three scans, while the
    # residual pass below — whose span is orders of magnitude
    # narrower — gets its own smaller histogram at its own scan count
    # instead of inheriting the slope pass's width (the ADVICE r16
    # note)
    med = exact_quantiles(slopes, "s", [50]).select(
        F.col("n").alias("n_pairs"), F.col("value").alias("slope_micro")
    )
    resid = daily.crossJoin(F.broadcast(med)).select(
        "n_pairs",
        "slope_micro",
        F.round(
            F.lit(1000.0)
            * (
                F.col("x")
                - F.col("slope_micro") / F.lit(1000000.0) * F.col("di")
            )
        )
        .cast("long")
        .alias("r"),
    )
    icept = exact_quantiles(resid, "r", [50]).select(
        F.col("n").alias("n_days"), F.col("value").alias("intercept_milli")
    )
    return (
        icept.crossJoin(
            F.broadcast(resid.select("n_pairs", "slope_micro").limit(1))
        )
        .select("n_days", "n_pairs", "slope_micro", "intercept_milli")
    )


@_register(
    "q163_ngram_novelty_drift",
    f"""
    WITH toks AS (SELECT source, {{toks}} AS t FROM documents),
    gr AS (
        SELECT source, CAST(substr(source, 4) AS INT) AS sn,
               unnest(list_transform(range(len(t) - 2),
                   i -> t[i + 1] || ' ' || t[i + 2] || ' ' || t[i + 3]))
                   AS g
        FROM toks WHERE len(t) >= 3
    ),
    ref AS (SELECT DISTINCT g FROM gr WHERE sn < 10),
    cur AS (
        SELECT gr.source, gr.g,
               CASE WHEN r.g IS NULL THEN 1 ELSE 0 END AS novel
        FROM gr LEFT JOIN ref r ON gr.g = r.g
        WHERE gr.sn >= 10
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(novel) AS BIGINT) AS novel_grams,
           CAST(COUNT(DISTINCT g) AS BIGINT) AS n_types,
           CAST(COUNT(DISTINCT CASE WHEN novel = 1 THEN g END) AS BIGINT)
               AS novel_types,
           round(SUM(novel) / (1.0 * COUNT(*)), 6) AS novel_rate
    FROM cur GROUP BY source
    """.replace("{toks}", _SQL_TOKS),
    "Vocabulary-shift monitoring for corpus curation: per-slice "
    "UNSEEN-TRIGRAM rates against a reference slice (sources "
    "src0-src9 train the reference type set; src10-src19 are "
    "scored) — the n-gram generalization of OOV-rate tracking, the "
    "distribution-shift signal a training-data pipeline watches "
    "beside q126's per-column PSI (PSI sees value drift in KNOWN "
    "bins; novelty-rate sees mass appearing OUTSIDE the known "
    "vocabulary entirely). Both token-level (novel_grams/n_grams) "
    "and type-level (novel_types/n_types) rates, since burstiness "
    "makes them diverge. Scale shape: the reference is "
    "DISTINCT-first (type set, not occurrences); the scored side "
    "joins it on the gram key — a plain shuffled equi-join bounded "
    "by gram-type df, with the one division rounded once at the "
    "end. Shingling reuses dedup.shingles_of (pinned-array lambda, "
    "no per-element retokenize).",
)
def q163_ngram_novelty_drift(spark, sf_dir):
    from ..operators.dedup import shingles_of
    from ..operators.text import tokens

    d = (
        _t(spark, sf_dir, "documents")
        .select(
            "source",
            F.substring("source", 4, 10).cast("int").alias("sn"),
            tokens("text").alias("__toks"),
        )
        .select(
            "source", "sn", F.explode(shingles_of("__toks", 3)).alias("g")
        )
    )
    ref = d.filter(F.col("sn") < 10).select("g").distinct()
    cur = d.filter(F.col("sn") >= 10).join(
        ref.withColumn("seen", F.lit(1)), "g", "left"
    )
    return cur.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.sum(F.when(F.col("seen").isNull(), 1).otherwise(0)).alias(
            "novel_grams"
        ),
        F.countDistinct("g").alias("n_types"),
        F.countDistinct(
            F.when(F.col("seen").isNull(), F.col("g"))
        ).alias("novel_types"),
        F.round(
            F.sum(F.when(F.col("seen").isNull(), 1).otherwise(0))
            / (F.lit(1.0) * F.count(F.lit(1))),
            6,
        ).alias("novel_rate"),
    )


@_register(
    "q164_jpeg_decode_stats",
    """
    WITH m AS (
        SELECT i, 24 + (i % 4) * 8 AS w, 16 + (i % 3) * 8 AS h
        FROM range(60) t(i)
    ),
    tb AS (SELECT i, w, unnest(range(h // 8)) AS by FROM m),
    tiles AS (SELECT i, by, unnest(range(w // 8)) AS bx FROM tb),
    v AS (SELECT i, (i * 31 + by * 7 + bx * 13) % 256 AS t FROM tiles)
    SELECT i AS media_id,
           CAST(64 * COUNT(*) AS BIGINT) AS n_px,
           CAST(64 * SUM(t) AS BIGINT) AS sum_r,
           CAST(64 * SUM(t) AS BIGINT) AS sum_g,
           CAST(64 * SUM(t) AS BIGINT) AS sum_b,
           CAST(64 * SUM(10000 * t) AS BIGINT) AS sum_lq,
           CAST(64 * SUM(10000 * t * 10000 * t) AS BIGINT) AS sum_lq2
    FROM v GROUP BY i
    """,
    "Real JPEG decode, driver-verified at VALUE level "
    "(multimodal.decode_jpeg: pure numpy+stdlib baseline codec — "
    "marker walk, canonical Annex K Huffman, byte unstuffing, DC "
    "prediction, dequant, zigzag, float64 IDCT, YCbCr->RGB). The "
    "corpus makes a LOSSY format exactly checkable: gray-in-RGB "
    "block-constant tiles have an unambiguous color transform and "
    "DC-only spectra, and the 85-95 quality range keeps the DC "
    "quantization step under 8, so the decoded pixels equal the "
    "generator's closed form bit-for-bit — the oracle regenerates "
    "them per tile (64 px each) and any error in headers, Huffman "
    "decode, prediction, dequantization, or the IDCT breaks the "
    "hash. Every fifth image re-encodes as EXTENDED sequential "
    "(round 8): SOF1 with Pq=1 16-bit quantization tables — the "
    "entropy coding is identical and DC entries untouched, so the "
    "same oracle rows hold, but a misparsed 16-bit stride or "
    "endianness desyncs the marker walk or scrambles the DC step. "
    "Every seventh image ships inside a BI_JPEG BMP container "
    "(biBitCount=0 passthrough): decode_bmp routes the embedded "
    "stream to the in-house JPEG codec and cross-checks header "
    "dims, same closed form. "
    "AC/ZRL runs and corrupt-stream safety are pytest-covered "
    "(tolerance-bounded round trips); subsampled layouts are q165's "
    "corpus, restart/progressive/12-bit/ARITHMETIC streams q198's "
    "(the SOF9 QM-coder rows, round 12); hierarchical streams "
    "still gate through require_codec.",
    bench=False,  # exercises the Python kernel path, not a plan shape
)
def q164_jpeg_decode_stats(spark, sf_dir):
    from ..operators.multimodal import image_exact_stats, synthetic_jpeg_table

    media = synthetic_jpeg_table(spark, n=60)
    return image_exact_stats(media).orderBy("media_id")


@_register(
    "q165_jpeg420_decode_stats",
    """
    WITH m AS (
        SELECT i,
               CASE i % 4 WHEN 0 THEN 16 WHEN 1 THEN 16
                          WHEN 2 THEN 8 ELSE 32 END AS tw,
               CASE i % 4 WHEN 0 THEN 16 WHEN 1 THEN 8
                          WHEN 2 THEN 16 ELSE 8 END AS th,
               2 + (i % 3) AS nx, 2 + (i % 2) AS ny
        FROM range(40) t(i)
    ),
    tb AS (SELECT i, tw, th, nx, unnest(range(ny)) AS by FROM m),
    tiles AS (SELECT i, tw, th, by, unnest(range(nx)) AS bx FROM tb),
    v AS (
        SELECT i, tw * th AS npx,
               (i * 17 + by * 29 + bx * 43) % 256 AS t
        FROM tiles
    )
    SELECT i AS media_id,
           CAST(SUM(npx) AS BIGINT) AS n_px,
           CAST(SUM(npx * t) AS BIGINT) AS sum_r,
           CAST(SUM(npx * t) AS BIGINT) AS sum_g,
           CAST(SUM(npx * t) AS BIGINT) AS sum_b,
           CAST(SUM(npx * 10000 * t) AS BIGINT) AS sum_lq,
           CAST(SUM(npx * 10000 * t * 10000 * t) AS BIGINT) AS sum_lq2
    FROM v GROUP BY i
    """,
    "Chroma-subsampled JPEG decode across the FULL sampling family, "
    "driver-verified at VALUE level — layouts q164's 4:4:4 path "
    "doesn't touch: image i%4 rotates 4:2:0 (16x16 MCU, the "
    "libjpeg/phone-camera default), 4:2:2 (16x8, video/YUY2), 4:4:0 "
    "(8x16), 4:1:1 (32x8, DV) — interleaved MCUs with per-component "
    "DC predictors advancing at different rates, encoder-side "
    "round-half-up box-mean chroma downsampling and decoder-side "
    "nearest replication at each factor pair. The corpus makes it "
    "exact: constant tiles span a full MCU of their layout, so "
    "downsample and upsample are identity on them and the DC-step<8 "
    "argument from q164 carries over — decoded pixels equal the "
    "closed form bit-for-bit (tw*th px per tile in the oracle; the "
    "per-layout MCU geometry is itself under test via n_px). "
    "Fractional-replication factor mixes still gate via "
    "require_codec; out-of-range factors are ValueError.",
    bench=False,  # exercises the Python kernel path, not a plan shape
)
def q165_jpeg420_decode_stats(spark, sf_dir):
    from ..operators.multimodal import (
        image_exact_stats,
        synthetic_jpeg420_table,
    )

    media = synthetic_jpeg420_table(spark, n=40)
    return image_exact_stats(media).orderBy("media_id")


@_register(
    "q166_g711_decode_stats",
    """
    WITH m AS (SELECT i, 400 + (i % 5) * 40 AS ns FROM range(40) t(i)),
    s AS (SELECT i, unnest(range(ns)) AS t FROM m),
    c AS (SELECT i, (i * 13 + t * 7) % 256 AS code FROM s),
    bits AS (
        SELECT i, code,
               255 - code AS u,
               xor(code, 85) AS a
        FROM c
    ),
    lin AS (
        SELECT i,
          CASE WHEN i % 2 = 0 THEN
            CASE WHEN u >= 128
                 THEN 132 - (((u % 16) * 8 + 132)
                             * (CAST(1 AS BIGINT) << ((u // 16) % 8)))
                 ELSE (((u % 16) * 8 + 132)
                       * (CAST(1 AS BIGINT) << ((u // 16) % 8))) - 132
            END
          ELSE
            (CASE WHEN a >= 128 THEN 1 ELSE -1 END) *
            (CASE WHEN (a // 16) % 8 = 0 THEN (a % 16) * 16 + 8
                  WHEN (a // 16) % 8 = 1 THEN (a % 16) * 16 + 264
                  ELSE ((a % 16) * 16 + 264)
                       * (CAST(1 AS BIGINT) << ((a // 16) % 8 - 1))
            END)
          END AS v
        FROM bits
    )
    SELECT i AS media_id,
           CAST(COUNT(*) AS BIGINT) AS n_samples,
           CAST(SUM(v) AS BIGINT) AS sum_lin,
           CAST(SUM(v * v) AS BIGINT) AS sum_sq,
           CAST(MAX(ABS(v)) AS BIGINT) AS peak
    FROM lin GROUP BY i
    """,
    "G.711 telephony audio decode, driver-verified at VALUE level "
    "(multimodal.decode_wav formats 6/7 + ulaw_expand/alaw_expand): "
    "the compressed-WAV gate q118's PCM path left in place, lifted "
    "honestly — mu-law (complement, 4-bit mantissa + 132 bias "
    "shifted by the 3-bit segment) and A-law (XOR 0x55, segment "
    "half-step biases, sign-bit-set = positive) expanded with pure "
    "integer bit arithmetic inside the Arrow kernel, reduced to "
    "exact int64 sample sums/squares/peak. The oracle regenerates "
    "the closed-form code bytes and applies the SAME CCITT expansion "
    "in SQL shift/mod arithmetic, so a wrong complement, bias, "
    "segment shift, or sign convention in either law breaks the "
    "hash. Even clips are mu-law, odd are A-law — both laws verify "
    "in one query. Round 9: clips with i%4 in (2,3) ship the same "
    "code bytes in Sun/NeXT .au containers (encodings 1/27) instead "
    "of WAV — identical decoded samples, so the container rotation "
    "is oracle-invisible, but a broken .au header walk fails half "
    "the rows.",
    bench=False,  # exercises the Python kernel path, not a plan shape
)
def q166_g711_decode_stats(spark, sf_dir):
    from ..operators.multimodal import audio_exact_stats, synthetic_g711_table

    media = synthetic_g711_table(spark, n=40)
    return audio_exact_stats(media).orderBy("media_id")


@_register(
    "q167_gif_decode_stats",
    """
    WITH m AS (
        SELECT i, 20 + (i % 5) * 4 AS w, 12 + (i % 6) * 4 AS h,
               i * 3 + 1 AS seed
        FROM range(50) t(i)
    ),
    ys AS (SELECT i, w, seed, unnest(range(h)) AS y FROM m),
    px AS (SELECT i, seed, y, unnest(range(w)) AS x FROM ys),
    ch AS (
        SELECT i,
               (x + y + seed) % 256 AS r,
               ((x + y + seed) % 256 + 85) % 256 AS g,
               ((x + y + seed) % 256 + 170) % 256 AS b
        FROM px
    ),
    lq AS (SELECT i, r, g, b, 2126 * r + 7152 * g + 722 * b AS l FROM ch)
    SELECT i AS media_id,
           CAST(COUNT(*) AS BIGINT) AS n_px,
           CAST(SUM(r) AS BIGINT) AS sum_r,
           CAST(SUM(g) AS BIGINT) AS sum_g,
           CAST(SUM(b) AS BIGINT) AS sum_b,
           CAST(SUM(l) AS BIGINT) AS sum_lq,
           CAST(SUM(l * l) AS BIGINT) AS sum_lq2
    FROM lq GROUP BY i
    """,
    "Real GIF decode, driver-verified at VALUE level (multimodal."
    "decode_gif: pure-python variable-width LZW with CLEAR/EOI and "
    "the 4096-entry dictionary reset, global color table lookup, "
    "extension-block skipping). GIF is lossless, so like PNG (q147) "
    "the oracle regenerates the gradient pixels from the generator's "
    "closed form and any error in bit unpacking, the cScSc "
    "first-use-of-next-code case, width growth, palette order, or "
    "the reduction breaks the hash. The sorted-distinct-color "
    "palette keeps the encoder deterministic; local color tables, "
    "interlace, and partial frames gate via require_codec; damage "
    "raises ValueError -> null rows.",
    bench=False,  # exercises the Python kernel path, not a plan shape
)
def q167_gif_decode_stats(spark, sf_dir):
    from ..operators.multimodal import image_exact_stats, synthetic_gif_table

    media = synthetic_gif_table(spark, n=50)
    return image_exact_stats(media).orderBy("media_id")


@_register(
    "q168_sequential_rules",
    """
    WITH ev AS (
        SELECT user_id || '|' || strftime(ts, '%Y-%m-%d') AS sess,
               event_type AS et,
               row_number() OVER (
                   PARTITION BY user_id || '|' || strftime(ts, '%Y-%m-%d')
                   ORDER BY ts, event_id) AS rn
        FROM events WHERE user_id IS NOT NULL
    ),
    per AS (
        SELECT sess, et, MIN(rn) AS first_rn, MAX(rn) AS last_rn
        FROM ev GROUP BY sess, et
    ),
    na AS (SELECT et, CAST(COUNT(*) AS BIGINT) AS n_with_a
           FROM per GROUP BY et),
    rules AS (
        SELECT a.et AS antecedent, b.et AS consequent,
               CAST(COUNT(*) AS BIGINT) AS support
        FROM per a JOIN per b
          ON a.sess = b.sess AND a.et <> b.et AND a.first_rn < b.last_rn
        GROUP BY a.et, b.et
    )
    SELECT antecedent, consequent, support, n_with_a,
           round(support / (1.0 * n_with_a), 6) AS confidence
    FROM rules JOIN na ON na.et = rules.antecedent
    """,
    "Sequential pattern rules over user-day sessions: a -> b counts "
    "sessions where SOME a-event precedes SOME b-event (first(a) < "
    "last(b) under the (ts, event_id) total order) — the "
    "eventually-follows relation of process mining, deliberately "
    "different from q106's Markov matrix (adjacent transitions only) "
    "and q116's opening paths (exact prefixes). Per-session state "
    "collapses to one (first_rn, last_rn) pair per event type BEFORE "
    "any pairing, so the rule join is |sessions| x 5x5, never "
    "|events|^2; confidence = support / sessions-containing-a with "
    "the one division rounded once. Scale shape: one window rank "
    "per session partition (bounded state), two partial-agg "
    "groupBys, and a self-join keyed on session id.",
)
def q168_sequential_rules(spark, sf_dir):
    e = (
        _t(spark, sf_dir, "events")
        .filter(F.col("user_id").isNotNull())
        .withColumn(
            "sess",
            F.concat(
                F.col("user_id").cast("string"),
                F.lit("|"),
                F.date_format("ts", "yyyy-MM-dd"),
            ),
        )
    )
    w = Window.partitionBy("sess").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    per = (
        e.withColumn("rn", F.row_number().over(w))
        .groupBy("sess", F.col("event_type").alias("et"))
        .agg(F.min("rn").alias("first_rn"), F.max("rn").alias("last_rn"))
    )
    na = per.groupBy("et").agg(F.count(F.lit(1)).alias("n_with_a"))
    a = per.select(
        "sess", F.col("et").alias("antecedent"), F.col("first_rn").alias("fa")
    )
    b = per.select(
        "sess", F.col("et").alias("consequent"), F.col("last_rn").alias("lb")
    )
    rules = (
        a.join(b, "sess")
        .filter(
            (F.col("antecedent") != F.col("consequent"))
            & (F.col("fa") < F.col("lb"))
        )
        .groupBy("antecedent", "consequent")
        .agg(F.count(F.lit(1)).alias("support"))
    )
    return rules.join(
        F.broadcast(na.withColumnRenamed("et", "antecedent")), "antecedent"
    ).select(
        "antecedent",
        "consequent",
        "support",
        "n_with_a",
        F.round(F.col("support") / (F.lit(1.0) * F.col("n_with_a")), 6).alias(
            "confidence"
        ),
    )


def _q169_oracle() -> str:
    from ..operators.multimodal import _IMA_STEP, _MS_NIB_BIAS

    steps = ", ".join(f"({i}, {v})" for i, v in enumerate(_IMA_STEP))
    _MS_NIB_VALUES = ", ".join(
        f"({i}, {v})" for i, v in enumerate(_MS_NIB_BIAS)
    )
    def _ima_exprs(code: str):
        diff = (
            f"((s.step // 8)"
            f" + (CASE WHEN ({code}) // 4 % 2 = 1 THEN s.step ELSE 0 END)"
            f" + (CASE WHEN ({code}) // 2 % 2 = 1 THEN s.step // 2"
            f" ELSE 0 END)"
            f" + (CASE WHEN ({code}) % 2 = 1 THEN s.step // 4"
            f" ELSE 0 END))"
        )
        sign = f"(CASE WHEN ({code}) // 8 = 1 THEN -1 ELSE 1 END)"
        idx_adj = (
            f"(CASE WHEN ({code}) % 8 < 4 THEN -1"
            f" ELSE (({code}) % 8 - 3) * 2 END)"
        )
        return diff, sign, idx_adj

    diff, sign, idx_adj = _ima_exprs("(d.i * 5 + d.t * 3) % 16")
    diff4, sign4, idx_adj4 = _ima_exprs("(d.i * 9 + d.t * 5) % 16")
    # AIFC ima4 packet-boundary predictor snap: the decoder re-reads
    # state from each packet's 2-byte preamble, which only carries
    # pred & ~0x7F — in SQL, pred minus its non-negative mod-128
    # residue (DuckDB % truncates, so re-add 128 before the final %)
    snap4 = (
        "(CASE WHEN d.t % 64 = 0"
        " THEN d.pred - ((d.pred % 128) + 128) % 128"
        " ELSE d.pred END)"
    )
    return f"""
    WITH RECURSIVE m AS (
        SELECT i, 200 + (i % 4) * 20 AS ns,
               ((i * 97) % 2000) - 1000 AS p0,
               i % 89 AS x0
        FROM range(30) t(i)
    ),
    steptab(sx, step) AS (SELECT * FROM (VALUES {steps}) v(ix, st)),
    dec(i, t, pred, sx) AS (
        SELECT i, 0, p0, x0 FROM m
        UNION ALL
        SELECT d.i, d.t + 1,
               greatest(-32768, least(32767,
                   d.pred + {sign} * {diff})),
               greatest(0, least(88, d.sx + {idx_adj}))
        FROM dec d
        JOIN m ON m.i = d.i
        JOIN steptab s ON s.sx = d.sx
        WHERE d.t < m.ns
    ),
    msm AS (
        SELECT i, 180 + (i % 4) * 16 AS ns,
               i % 7 AS ci,
               16 + (i * 11) % 200 AS d0,
               ((i * 53) % 800) - 400 AS s1_0,
               ((i * 31) % 600) - 300 AS s2_0
        FROM range(24) t(i)
    ),
    mscoef(ci, c1, c2) AS (
        SELECT * FROM (VALUES (0, 256, 0), (1, 512, -256), (2, 0, 64),
                              (3, 192, 64), (4, 240, 0), (5, 460, -208),
                              (6, 392, -232)) v
    ),
    msadapt(nx, av) AS (
        SELECT * FROM (VALUES (0, 230), (1, 230), (2, 230), (3, 230),
                              (4, 307), (5, 409), (6, 512), (7, 614),
                              (8, 768), (9, 614), (10, 512), (11, 409),
                              (12, 307), (13, 230), (14, 230),
                              (15, 230)) v
    ),
    msnib(bx, nib) AS (
        SELECT * FROM (VALUES {_MS_NIB_VALUES}) v
    ),
    -- state row t holds the newest sample (s1) AFTER consuming
    -- nibble t-2; t=1 is the header state. DuckDB // truncates
    -- toward zero, matching the C-reference arithmetic exactly.
    msdec(i, t, s1, s2, delta) AS (
        SELECT i, 1, s1_0, s2_0, d0 FROM msm
        UNION ALL
        SELECT d.i, d.t + 1,
               greatest(-32768, least(32767,
                   (d.s1 * c.c1 + d.s2 * c.c2) // 256
                   + (CASE WHEN b.nib >= 8 THEN b.nib - 16
                          ELSE b.nib END) * d.delta)),
               d.s1,
               greatest(16, (a.av * d.delta) // 256)
        FROM msdec d
        JOIN msm m ON m.i = d.i
        JOIN mscoef c ON c.ci = m.ci
        JOIN msnib b ON b.bx = (m.i * 7 + (d.t - 1) * 5) % 16
        JOIN msadapt a ON a.nx = b.nib
        WHERE d.t <= m.ns
    ),
    ms_samples(i, v) AS (
        SELECT i, s2_0 FROM msm
        UNION ALL SELECT i, s1_0 FROM msm
        UNION ALL SELECT i, s1 FROM msdec WHERE t >= 2
    ),
    -- AIFC 'ima4' (Apple QuickTime IMA 4:1): same step table and
    -- transition arithmetic as WAV IMA, but the 34-byte packet
    -- framing re-reads state from each preamble, whose predictor
    -- field keeps only the top 9 bits — replayed as the mod-128
    -- snap at every 64-code boundary. The preamble sample is NOT
    -- emitted (unlike WAV IMA's header sample), so aggregation
    -- starts at t = 1; numSampleFrames truncates below packets*64.
    im4 AS (
        SELECT i, 100 + (i % 4) * 50 AS ns,
               ((i * 113) % 2000) - 1000 AS p0,
               (i * 7) % 89 AS x0
        FROM range(20) t(i)
    ),
    dec4(i, t, pred, sx) AS (
        SELECT i, 0, p0, x0 FROM im4
        UNION ALL
        SELECT d.i, d.t + 1,
               greatest(-32768, least(32767,
                   {snap4} + {sign4} * {diff4})),
               greatest(0, least(88, d.sx + {idx_adj4}))
        FROM dec4 d
        JOIN im4 m ON m.i = d.i
        JOIN steptab s ON s.sx = d.sx
        WHERE d.t < m.ns
    )
    SELECT i AS media_id,
           CAST(COUNT(*) AS BIGINT) AS n_samples,
           CAST(SUM(pred) AS BIGINT) AS sum_lin,
           CAST(SUM(pred * pred) AS BIGINT) AS sum_sq,
           CAST(MAX(ABS(pred)) AS BIGINT) AS peak
    FROM dec GROUP BY i
    UNION ALL
    SELECT i + 100 AS media_id,
           CAST(COUNT(*) AS BIGINT) AS n_samples,
           CAST(SUM(v) AS BIGINT) AS sum_lin,
           CAST(SUM(v * v) AS BIGINT) AS sum_sq,
           CAST(MAX(ABS(v)) AS BIGINT) AS peak
    FROM ms_samples GROUP BY i
    UNION ALL
    SELECT i + 200 AS media_id,
           CAST(COUNT(*) AS BIGINT) AS n_samples,
           CAST(SUM(pred) AS BIGINT) AS sum_lin,
           CAST(SUM(pred * pred) AS BIGINT) AS sum_sq,
           CAST(MAX(ABS(pred)) AS BIGINT) AS peak
    FROM dec4 WHERE t >= 1 GROUP BY i
    """


@_register(
    "q169_ima_adpcm_decode_stats",
    _q169_oracle(),
    "BOTH classic WAV ADPCM codecs, driver-verified at VALUE level — "
    "genuinely SEQUENTIAL decoders (unlike G.711's per-sample table "
    "lookup, q166), so the oracle replays the exact state machines "
    "with RECURSIVE CTEs. IMA (format 0x11): (predictor, step-index) "
    "state, 89-row step table joined per transition, greatest/least "
    "clamps, bit-split diff accumulation. MS ADPCM (format 2, round "
    "8): 3-variable state (sample1, sample2, delta) over a 2-tap "
    "linear predictor — per-block coefficient-pair selection "
    "(corpus sweeps all seven standard pairs), signed-nibble delta "
    "scaling, 16-entry adaptation table with the floor-16 clamp, "
    "and C-reference TRUNCATING division mirrored by DuckDB's // "
    "(the q174 int-division lesson applied in reverse). A wrong "
    "shift, clamp bound, sign bit, header-sample order, or "
    "adaptation entry diverges within a few samples and breaks "
    "every downstream sum. Round 10 adds the THIRD classic IMA "
    "framing — AIFC 'ima4' (Apple QuickTime IMA 4:1, media_id "
    "offset +200): 34-byte packets whose 2-byte preamble re-seeds "
    "(pred & ~0x7F, step index) per packet, 64 low-nibble-first "
    "codes each, NO emitted header sample, and COMM numSampleFrames "
    "truncation below packets*64 — the oracle replays the identical "
    "state machine with the mod-128 predictor snap at every "
    "64-code boundary. Stereo layouts for all three codecs are "
    "pytest-verified against per-channel mono replay; "
    "multimodal.ima_adpcm_step/ms_adpcm_step and the encode_wav_* / "
    "encode_aiff(ima4=True) writers.",
    bench=False,  # exercises the Python kernel path, not a plan shape
)
def q169_ima_adpcm_decode_stats(spark, sf_dir):
    from ..operators.multimodal import (
        audio_exact_stats,
        synthetic_ima4_table,
        synthetic_ima_table,
        synthetic_ms_adpcm_table,
    )

    media = synthetic_ima_table(spark, n=30).unionByName(
        synthetic_ms_adpcm_table(spark, n=24)
    ).unionByName(synthetic_ima4_table(spark, n=20))
    return audio_exact_stats(media).orderBy("media_id")


@_register(
    "q170_png_palette_decode_stats",
    """
    WITH m AS (
        SELECT i, 18 + (i % 7) * 4 AS w, 14 + (i % 5) * 4 AS h,
               i * 2 + 3 AS seed
        FROM range(45) t(i)
    ),
    ys AS (SELECT i, w, seed, unnest(range(h)) AS y FROM m),
    px AS (SELECT i, seed, y, unnest(range(w)) AS x FROM ys),
    ch AS (
        SELECT i,
               (x + y + seed) % 256 AS r,
               ((x + y + seed) % 256 + 85) % 256 AS g,
               ((x + y + seed) % 256 + 170) % 256 AS b
        FROM px
    ),
    lq AS (SELECT i, r, g, b, 2126 * r + 7152 * g + 722 * b AS l FROM ch)
    SELECT i AS media_id,
           CAST(COUNT(*) AS BIGINT) AS n_px,
           CAST(SUM(r) AS BIGINT) AS sum_r,
           CAST(SUM(g) AS BIGINT) AS sum_g,
           CAST(SUM(b) AS BIGINT) AS sum_b,
           CAST(SUM(l) AS BIGINT) AS sum_lq,
           CAST(SUM(l * l) AS BIGINT) AS sum_lq2
    FROM lq GROUP BY i
    """,
    "Indexed (palette) PNG decode, driver-verified at VALUE level — "
    "color type 3 exercises the decode paths q147's truecolor corpus "
    "cannot: PLTE chunk parse, sorted-palette lookup, and scanline "
    "unfiltering at ONE byte per pixel (the Sub/Average/Paeth "
    "recurrences step by bpp, so a stride bug here is invisible to "
    "the 3-byte path). Lossless like q147, so the oracle is the "
    "closed-form gradient; size formula differs from every other "
    "image corpus. tRNS transparency and sub-8-bit palettes still "
    "gate via require_codec. multimodal.encode_png_palette / "
    "decode_png.",
    bench=False,  # exercises the Python kernel path, not a plan shape
)
def q170_png_palette_decode_stats(spark, sf_dir):
    from ..operators.multimodal import (
        image_exact_stats,
        synthetic_png_palette_table,
    )

    media = synthetic_png_palette_table(spark, n=45)
    return image_exact_stats(media).orderBy("media_id")


@_register(
    "q171_streaming_hll_registers",
    """
    WITH h AS (
        SELECT ('0x' || substr(md5('hll-s:' || CAST(user_id AS VARCHAR)),
                               1, 15))::BIGINT AS h
        FROM events WHERE user_id IS NOT NULL
    )
    SELECT CAST(h % 32 AS INT) AS register,
           CAST(MAX(CASE WHEN h // 32 = 0 THEN 56
                         ELSE 56 - length(bin(h // 32)) END) AS INT) AS m_j
    FROM h GROUP BY register
    """,
    "Streaming COUNT DISTINCT as a SKETCH-STATE aggregation "
    "(streaming/stream_processor.py drain_streaming_hll): the "
    "portable HLL register table is maintained as streaming state by "
    "a plain groupBy-MAX — state bounded at 2^p rows FOREVER, no "
    "watermark, no forgetting — which is the principled streaming "
    "answer to distinct counting (exact per-key state grows without "
    "bound; q86's dropDuplicates trades a watermark for amnesia). "
    "Because register transitions are MAXes over deterministic "
    "hashes, the availableNow drain is byte-identical to the batch "
    "build AND to the oracle's SQL rebuild — the merge property "
    "q153 certifies and q160 windows, now closed over the streaming "
    "path too.",
    bench=False,  # timed via the streaming-drain lane in bench.py
)
def q171_streaming_hll_registers(spark, sf_dir):
    from ..streaming.stream_processor import drain_streaming_hll

    return drain_streaming_hll(spark, f"{sf_dir}/events.parquet")


@_register(
    "q172_entity_resolution_pipeline",
    f"""
    WITH RECURSIVE {_fs_scored_ctes()},
    e2 AS (SELECT a_id, b_id FROM scored WHERE score_micro >= 3000000),
    edges AS (
        SELECT a_id AS u, b_id AS v FROM e2
        UNION ALL
        SELECT b_id, a_id FROM e2
    ),
    verts AS (SELECT DISTINCT u AS id FROM edges),
    reach(id, lbl) AS (
        SELECT id, id FROM verts
        UNION
        SELECT e.u, r.lbl FROM edges e JOIN reach r ON r.id = e.v
    ),
    comp AS (SELECT id, MIN(lbl) AS component FROM reach GROUP BY id),
    mem AS (
        SELECT c.component, c.id, d.n_chars
        FROM comp c JOIN documents d ON d.doc_id = c.id
    ),
    ranked AS (
        SELECT component, id, n_chars,
               row_number() OVER (PARTITION BY component
                                  ORDER BY n_chars DESC, id) AS rk
        FROM mem
    )
    SELECT CAST(component AS BIGINT) AS component,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(MAX(CASE WHEN rk = 1 THEN id END) AS BIGINT)
               AS survivor_id,
           CAST(MAX(CASE WHEN rk = 1 THEN n_chars END) AS BIGINT)
               AS survivor_nchars
    FROM ranked GROUP BY component
    """,
    "End-to-end ENTITY RESOLUTION, the q65-style composition for the "
    "linkage family: Fellegi-Sunter evidence scores (q161 machinery "
    "in THRESHOLD mode — a distributed filter, no global top-k, the "
    "shape that survives match volume growing with the corpus) "
    "become match edges at >= 3.0 evidence-micros, close into "
    "entities via connected components (driver union-find fast path "
    "/ pointer-jumping fallback, q58's operator), and each entity "
    "elects a canonical survivor (longest text, id tiebreak — q114's "
    "election rule). The oracle replays every stage: the shared FS "
    "CTE chain, a recursive-CTE closure, and a window election — so "
    "a drift in weights, thresholding, closure, or election breaks "
    "the hash. Output is one row per resolved entity.",
)
def q172_entity_resolution_pipeline(
    spark, sf_dir, block_width=32, offset_pass=False
):
    # block_width: the length-bucket width of the blocking key. 32
    # is pinned (the oracle mirrors it); scaled corpora pass
    # fuzzy.auto_block_width(n, span, groups) — a fixed width makes
    # block count corpus-size-independent, so blocked pair cost
    # grows quadratically (round-15 scale probe: 14.0x at 10x with
    # width 32; PERF.md has the auto-width measurement).
    # offset_pass=True (round 16): width/2-offset second blocking
    # pass — recovers the cross-boundary pairs a narrow auto width
    # splits (the measured 8,256-vs-6,693 component trade at 10x);
    # off by default so the pinned oracle blocking is untouched.
    from ..operators.components import connected_components
    from ..operators.fuzzy import fs_linkage_pairs
    from ..operators.text import tokens

    w = int(block_width)
    docs = _t(spark, sf_dir, "documents")
    d = (
        docs.withColumn("__toks", tokens("text"))
        .select(
            F.col("doc_id"),
            F.concat(
                F.col("lang"),
                F.lit("|"),
                F.expr(f"n_chars div {w}").cast("string"),
            ).alias("blk"),
            F.concat(
                F.col("lang"),
                F.lit("|"),
                F.expr(f"(n_chars + {w // 2}) div {w}").cast("string"),
            ).alias("blk2"),
            F.col("source"),
            F.get("__toks", 0).alias("ft"),
            F.get("__toks", F.size("__toks") - 1).alias("lt"),
            F.size("__toks").alias("ntok"),
        )
    )
    pairs = fs_linkage_pairs(
        d,
        "doc_id",
        "blk",
        ["source", "ft", "lt", "ntok"],
        m=0.9,
        k=None,
        min_score_micro=3_000_000,
        block_col2="blk2" if offset_pass else None,
    )
    comp = connected_components(pairs, "a_id", "b_id")
    mem = comp.join(
        docs.select(F.col("doc_id").alias("id"), "n_chars"), "id"
    )
    wr = Window.partitionBy("component").orderBy(
        F.desc("n_chars"), F.asc("id")
    )
    ranked = mem.withColumn("rk", F.row_number().over(wr))
    return ranked.groupBy(F.col("component").cast("long").alias("component")).agg(
        F.count(F.lit(1)).alias("n_members"),
        F.max(F.when(F.col("rk") == 1, F.col("id")))
        .cast("long")
        .alias("survivor_id"),
        F.max(F.when(F.col("rk") == 1, F.col("n_chars")))
        .cast("long")
        .alias("survivor_nchars"),
    )


@_register(
    "q173_png_adam7_decode_stats",
    """
    WITH m AS (
        SELECT i, 15 + (i % 8) * 3 AS w, 11 + (i % 6) * 3 AS h,
               i * 5 + 2 AS seed
        FROM range(42) t(i)
    ),
    ys AS (SELECT i, w, seed, unnest(range(h)) AS y FROM m),
    px AS (SELECT i, seed, y, unnest(range(w)) AS x FROM ys),
    ch AS (
        SELECT i,
               CASE i % 4
                   WHEN 2 THEN ((x + y + seed) % 16) * 17
                   WHEN 3 THEN (((x + y + seed) % 4) * 60 + seed) % 256
                   ELSE (x + y + seed) % 256
               END AS r,
               CASE i % 4
                   WHEN 2 THEN ((x + y + seed) % 16) * 17
                   ELSE (CASE i % 4
                             WHEN 3 THEN (((x + y + seed) % 4) * 60
                                          + seed) % 256
                             ELSE (x + y + seed) % 256
                         END + 85) % 256
               END AS g,
               CASE i % 4
                   WHEN 2 THEN ((x + y + seed) % 16) * 17
                   ELSE (CASE i % 4
                             WHEN 3 THEN (((x + y + seed) % 4) * 60
                                          + seed) % 256
                             ELSE (x + y + seed) % 256
                         END + 170) % 256
               END AS b
        FROM px
    ),
    lq AS (SELECT i, r, g, b, 2126 * r + 7152 * g + 722 * b AS l FROM ch)
    SELECT i AS media_id,
           CAST(COUNT(*) AS BIGINT) AS n_px,
           CAST(SUM(r) AS BIGINT) AS sum_r,
           CAST(SUM(g) AS BIGINT) AS sum_g,
           CAST(SUM(b) AS BIGINT) AS sum_b,
           CAST(SUM(l) AS BIGINT) AS sum_lq,
           CAST(SUM(l * l) AS BIGINT) AS sum_lq2
    FROM lq GROUP BY i
    """,
    "Adam7 INTERLACED PNG decode, driver-verified at VALUE level — "
    "the progressive-layout variant q147 (sequential truecolor) and "
    "q170 (sequential palette) leave untested: seven independently "
    "filtered reduced images whose scanlines must be unfiltered at "
    "their own pass width and scattered back onto the (x0, y0, dx, "
    "dy) pass grid. The corpus cycles truecolor, palette, 4-bit "
    "grayscale, and 2-bit palette files (the round-8 PNG surface "
    "closure: sub-byte passes bit-pack their OWN scanlines at "
    "ceil(wp*depth/8) bytes) with deliberately odd sizes (ragged "
    "final passes, empty passes on tiny images), so a wrong pass "
    "origin, a pass-width stride bug, a full-image-stride reuse on "
    "a sub-byte pass, or filter state leaking across passes breaks "
    "the closed-form hash. multimodal.encode_png/encode_png_palette/"
    "encode_png_gray/encode_png_palette_subbyte (interlace=True) / "
    "decode_png.",
    bench=False,  # exercises the Python kernel path, not a plan shape
)
def q173_png_adam7_decode_stats(spark, sf_dir):
    from ..operators.multimodal import (
        image_exact_stats,
        synthetic_png_adam7_table,
    )

    media = synthetic_png_adam7_table(spark, n=42)
    return image_exact_stats(media).orderBy("media_id")


@_register(
    "q174_integer_ewma_trend",
    """
    WITH RECURSIVE daily AS (
        SELECT CAST(date_diff('day', DATE '1995-01-01',
                              CAST(o_orderdate AS DATE)) AS BIGINT) AS di,
               CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)
                        // 100000) AS BIGINT) AS x
        FROM orders GROUP BY di
    ),
    bounds AS (SELECT MIN(di) AS d0, MAX(di) AS d1 FROM daily),
    spine AS (SELECT d0 + unnest(range(d1 - d0 + 1)) AS di FROM bounds),
    grid AS (
        SELECT s.di, COALESCE(daily.x, 0) AS x,
               row_number() OVER (ORDER BY s.di) - 1 AS t
        FROM spine s LEFT JOIN daily USING (di)
    ),
    n AS (SELECT MAX(t) AS tmax FROM grid),
    ew(t, di, x, s) AS (
        SELECT t, di, x, x FROM grid WHERE t = 0
        UNION ALL
        SELECT g.t, g.di, g.x,
               e.s + ((g.x - e.s) // 8)
        FROM ew e JOIN grid g ON g.t = e.t + 1
    )
    SELECT CAST(di AS BIGINT) AS di, x, CAST(s AS BIGINT) AS ewma
    FROM ew
    """,
    "Exponential smoothing with INTEGER state: s_t = s_{t-1} + "
    "trunc((x_t - s_{t-1}) / 8) over the gap-filled daily kilodollar "
    "series — the recursive smoother beside the suite's window "
    "averages (q75 RANGE frames are memoryless; EWMA carries "
    "unbounded-horizon state). alpha = 1/8 as an exact dyadic with "
    "truncating division keeps every state an int64 (DuckDB's "
    "integer // truncates toward zero — floats floor), so both "
    "engines "
    "agree bit-for-bit with zero float anywhere — the oracle replays "
    "the recurrence with a recursive CTE (the q169 discipline "
    "applied to analytics). The fold itself runs driver-side over "
    "the CALENDAR-bounded daily aggregate (~2.4k rows at any corpus "
    "size — the same bounded-artifact class as PCA's dim^2 moments "
    "and the BPE argmax), after one partial-agg groupBy of the fact "
    "table; output is the full audited series.",
)
def q174_integer_ewma_trend(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    daily = (
        o.groupBy(
            F.datediff(
                F.col("o_orderdate").cast("date"),
                F.lit("1995-01-01").cast("date"),
            )
            .cast("long")
            .alias("di")
        )
        .agg(
            F.sum(
                F.expr("CAST(round(o_totalprice * 100) AS BIGINT) div 100000")
            ).alias("x")
        )
    )
    from ..operators.regression import integer_ewma

    rows = [
        (r["di"], r["x"]) for r in daily.collect()
    ]  # calendar-bounded: ~2.4k tuples to the driver at ANY corpus size
    return daily.sparkSession.createDataFrame(
        integer_ewma(rows, shift=3), "di long, x long, ewma long"
    )


@_register(
    "q175_seasonal_anomalies",
    """
    WITH daily AS (
        SELECT CAST(date_diff('day', DATE '1995-01-01',
                              CAST(o_orderdate AS DATE)) AS BIGINT) AS di,
               CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)
                        // 100000) AS BIGINT) AS x
        FROM orders GROUP BY di
    ),
    dw AS (SELECT di, x, CAST(di % 7 AS INT) AS dow FROM daily),
    prof AS (
        SELECT dow, CAST(COUNT(*) AS BIGINT) AS n_dow,
               CAST(SUM(x) AS BIGINT) AS sum_dow
        FROM dw GROUP BY dow
    ),
    dev AS (
        SELECT di, x, dw.dow, n_dow, sum_dow,
               ABS(x * n_dow - sum_dow) AS dev_scaled
        FROM dw JOIN prof ON prof.dow = dw.dow
    )
    SELECT di, x, dow, n_dow, CAST(dev_scaled AS BIGINT) AS dev_scaled
    FROM (SELECT *, row_number() OVER (ORDER BY dev_scaled DESC, di) AS rk
          FROM dev)
    WHERE rk <= 10
    """,
    "Seasonal anomaly detection with ZERO divisions: each day's "
    "revenue is compared to its day-of-week profile via the integer "
    "cross-multiplication |x * n_dow - sum_dow| (equivalent to "
    "|x - mean_dow| scaled by the per-dow count — ranking is "
    "preserved within a dow and the quantity stays exact int64), the "
    "same no-float-ratio trick as the quality gates. dow comes from "
    "di % 7, never an engine dayofweek() whose week-start convention "
    "varies. Top-10 by deviation with day tiebreak; complements "
    "q127's global robust outliers (these are CONDITIONAL anomalies "
    "— a normal Saturday is a wild Tuesday) and q159's "
    "autocorrelation (which measures the seasonality this query "
    "conditions away).",
)
def q175_seasonal_anomalies(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date")
        )
        .cast("long")
        .alias("di")
    ).agg(
        F.sum(
            F.expr("CAST(round(o_totalprice * 100) AS BIGINT) div 100000")
        ).alias("x")
    )
    dw = daily.withColumn("dow", (F.col("di") % 7).cast("int"))
    prof = dw.groupBy("dow").agg(
        F.count(F.lit(1)).alias("n_dow"), F.sum("x").alias("sum_dow")
    )
    dev = dw.join(F.broadcast(prof), "dow").withColumn(
        "dev_scaled",
        F.abs(F.col("x") * F.col("n_dow") - F.col("sum_dow")),
    )
    wk = Window.orderBy(F.desc("dev_scaled"), F.asc("di"))
    return (
        dev.withColumn("rk", F.row_number().over(wk))
        .filter(F.col("rk") <= 10)
        .select("di", "x", "dow", "n_dow", "dev_scaled")
    )


@_register(
    "q176_png16_decode_stats",
    """
    WITH m AS (
        SELECT i, i % 6 AS k, 14 + ((i // 6) % 6) * 4 AS w,
               10 + (i % 4) * 4 AS h, i * 7 + 1 AS seed
        FROM range(36) t(i)
    ),
    ys AS (SELECT i, k, w, seed, unnest(range(h)) AS y FROM m),
    px AS (SELECT i, k, seed, y, unnest(range(w)) AS x FROM ys),
    base AS (
        SELECT i, k, x, y,
               (x * 257 + y * 509 + seed * 65521) % 65536 AS v
        FROM px
    ),
    ch AS (
        SELECT i, k, v AS r,
               CASE WHEN k IN (2, 3, 4) THEN v
                    ELSE (v + 21845) % 65536 END AS g,
               CASE WHEN k IN (2, 3, 4) THEN v
                    ELSE (v + 43690) % 65536 END AS b,
               CASE WHEN k IN (1, 3) THEN
                        CASE WHEN (x * 257 + y * 509) % 65536 = 0
                             THEN 0 ELSE 65535 END
                    WHEN k = 4 THEN (v + 12345) % 65536
                    WHEN k = 5 THEN (v + 23456) % 65536
               END AS a
        FROM base
    )
    SELECT i AS media_id,
           CAST(COUNT(*) AS BIGINT) AS n_px,
           CAST(SUM(r) AS BIGINT) AS sum_r,
           CAST(SUM(g) AS BIGINT) AS sum_g,
           CAST(SUM(b) AS BIGINT) AS sum_b,
           CAST(MAX(r) AS BIGINT) AS max_r,
           CAST(MAX(g) AS BIGINT) AS max_g,
           CAST(MAX(b) AS BIGINT) AS max_b,
           CAST(SUM(a) AS BIGINT) AS sum_a,
           CAST(CASE WHEN k IN (0, 2) THEN NULL
                ELSE SUM(CASE WHEN a = 0 THEN 1 ELSE 0 END)
                END AS BIGINT) AS n_transp
    FROM ch GROUP BY i, k
    """,
    "16-bit (high-depth) PNG decode across ALL FOUR high-depth color "
    "types — scientific/medical-imaging depth the 8-bit corpora "
    "can't represent: PNG filters operate on BYTES with the pixel "
    "offset at 2/4/6/8 bytes by color type, so Sub/Average/Paeth "
    "recurrences run at strides no other corpus exercises, and the "
    "decoder recombines big-endian byte pairs into uint16 planes. "
    "The corpus cycles plain/origin-keyed truecolor, plain/origin-"
    "keyed GRAYSCALE (round-8 family completion), gray+alpha, and "
    "RGBA by i mod 6; the gradient sweeps the full 0..65535 range "
    "(max_* pins dynamic range — an 8-bit truncation bug caps at 255 "
    "and fails loudly), keyed images hit the full-sample-depth tRNS "
    "key (spec 11.3.2) exactly once, and the 16-bit alpha channels "
    "carry their own closed forms. Opaque variants pin the kernel's "
    "null alpha columns (wrong channel count fails loudly). The "
    "high-depth stats kernel carries channel moments only: the "
    "8-bit kernel's squared micro-luminance would overflow int64 at "
    "this range. multimodal.encode_png16* / decode_png / "
    "image16_exact_stats.",
    bench=False,  # exercises the Python kernel path, not a plan shape
)
def q176_png16_decode_stats(spark, sf_dir):
    from ..operators.multimodal import (
        image16_exact_stats,
        synthetic_png16_table,
    )

    media = synthetic_png16_table(spark, n=36)
    return image16_exact_stats(media).orderBy("media_id")


@_register(
    "q177_mixed_media_dispatch",
    """
    WITH all_media AS (
        SELECT CASE WHEN i % 18 = 1 THEN 'ppm'
                    WHEN i % 18 IN (13, 14, 15) THEN 'tiff'
                    ELSE 'bmp' END AS fmt,
               16 + (i % 8) * 4 AS w, 16 + (i % 5) * 4 AS h
        FROM range(40) t(i)
        UNION ALL
        SELECT 'png', 16 + (i % 6) * 4, 16 + (i % 4) * 4 FROM range(80) t(i)
        UNION ALL
        SELECT 'png', 18 + (i % 7) * 4, 14 + (i % 5) * 4 FROM range(45) t(i)
        UNION ALL
        SELECT 'png', 15 + (i % 8) * 3, 11 + (i % 6) * 3 FROM range(42) t(i)
        UNION ALL
        SELECT CASE WHEN i % 7 = 3 THEN 'bmp' ELSE 'jpeg' END,
               24 + (i % 4) * 8, 16 + (i % 3) * 8 FROM range(60) t(i)
        UNION ALL
        SELECT 'jpeg',
               (CASE i % 4 WHEN 0 THEN 16 WHEN 1 THEN 16
                           WHEN 2 THEN 8 ELSE 32 END) * (2 + (i % 3)),
               (CASE i % 4 WHEN 0 THEN 16 WHEN 1 THEN 8
                           WHEN 2 THEN 16 ELSE 8 END) * (2 + (i % 2))
        FROM range(40) t(i)
        UNION ALL
        SELECT 'gif', 20 + (i % 5) * 4, 12 + (i % 6) * 4 FROM range(50) t(i)
    )
    SELECT fmt AS format,
           CAST(COUNT(*) AS BIGINT) AS n_images,
           CAST(SUM(w * h) AS BIGINT) AS total_px,
           CAST(MIN(w) AS BIGINT) AS min_w,
           CAST(MAX(h) AS BIGINT) AS max_h
    FROM all_media GROUP BY fmt
    """,
    "Heterogeneous media corpus in ONE scan — the 100 TB reality no "
    "single-format query exercises: 357 images across SEVEN corpora "
    "and SIX formats (18-variant BMP/PPM/TIFF/CMYK-family census, "
    "sequential/palette/Adam7 PNG, 4:4:4+extended JPEG with "
    "BI_JPEG-wrapped rows dispatching as bmp, subsampling-family "
    "JPEG, GIF) flow through the magic-byte dispatch "
    "(_decode_any) inside one Arrow kernel pass, each decoded by its "
    "own real codec to recover dimensions. The per-format rollup "
    "(counts, total pixels, dimension extrema) matches the closed "
    "forms of all seven generators unioned in SQL — a wrong dispatch "
    "(e.g. a JPEG420 landing in the gif branch) or a dimension bug "
    "in any single decoder shifts a group and breaks the hash. "
    "Distinct media_id offsets per corpus keep ids unique; kernels "
    "stream Arrow batches, so peak memory is one batch regardless of "
    "corpus mix.",
    bench=False,  # exercises the Python kernel path, not a plan shape
)
def q177_mixed_media_dispatch(spark, sf_dir):
    from ..operators.multimodal import (
        decode_image_meta,
        synthetic_gif_table,
        synthetic_jpeg420_table,
        synthetic_jpeg_table,
        synthetic_media_table,
        synthetic_png_adam7_table,
        synthetic_png_palette_table,
        synthetic_png_table,
    )

    parts = [
        (synthetic_media_table(spark, 40, real=True), 0),
        (synthetic_png_table(spark, 80), 1000),
        (synthetic_png_palette_table(spark, 45), 2000),
        (synthetic_png_adam7_table(spark, 42), 3000),
        (synthetic_jpeg_table(spark, 60), 4000),
        (synthetic_jpeg420_table(spark, 40), 5000),
        (synthetic_gif_table(spark, 50), 6000),
    ]
    media = None
    for df, off in parts:
        shifted = df.withColumn("media_id", F.col("media_id") + F.lit(off))
        media = shifted if media is None else media.unionByName(shifted)
    meta = decode_image_meta(media)
    return meta.groupBy("format").agg(
        F.count(F.lit(1)).alias("n_images"),
        F.sum(F.col("width").cast("long") * F.col("height")).alias(
            "total_px"
        ),
        F.min("width").cast("long").alias("min_w"),
        F.max("height").cast("long").alias("max_h"),
    )


@_register(
    "q178_png_trns_alpha_stats",
    """
    WITH m AS (
        SELECT i, 17 + (i % 6) * 4 AS w, 13 + (i % 5) * 4 AS h,
               i * 11 + 5 AS seed
        FROM range(44) t(i)
    ),
    ys AS (SELECT i, w, seed, unnest(range(h)) AS y FROM m),
    px AS (SELECT i, seed, y, unnest(range(w)) AS x FROM ys),
    ch AS (
        SELECT i,
               (x + y + seed) % 256 AS r,
               ((x + y + seed) % 256 + 85) % 256 AS g,
               ((x + y + seed) % 256 + 170) % 256 AS b,
               seed % 256 AS s
        FROM px
    ),
    al AS (
        SELECT i, r, g, b,
               CASE WHEN i % 2 = 0 THEN (r * 3 + 7) % 256
                    WHEN r = s THEN 0 ELSE 255 END AS a
        FROM ch
    )
    SELECT i AS media_id,
           CAST(COUNT(*) AS BIGINT) AS n_px,
           CAST(SUM(r) AS BIGINT) AS sum_r,
           CAST(SUM(g) AS BIGINT) AS sum_g,
           CAST(SUM(b) AS BIGINT) AS sum_b,
           CAST(SUM(a) AS BIGINT) AS sum_a,
           CAST(SUM(CASE WHEN a = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_transp
    FROM al GROUP BY i
    """,
    "tRNS-transparent PNG decode (the round-5 verdict's gate "
    "retirement: the chunk is one more parse on the existing "
    "CRC-checked walk, no codec library involved): even images are "
    "INDEXED PNGs whose tRNS carries per-palette-entry alpha "
    "(alpha = (entry_red*3+7) mod 256, so pixel alpha has a closed "
    "form independent of index assignment), odd images are TRUECOLOR "
    "with a transparent-color key (spec 11.3.2's 16-bit-sample "
    "layout). The decoder now returns RGBA for either layout; the "
    "kernel reduces exact channel+alpha sums and the "
    "fully-transparent pixel count, and the oracle regenerates both "
    "alpha rules from the generator's closed form — a wrong key "
    "compare, palette-alpha padding bug, or RGBA reshape breaks the "
    "hash.",
    bench=False,  # exercises the Python kernel path, not a plan shape
)
def q178_png_trns_alpha_stats(spark, sf_dir):
    from ..operators.multimodal import (
        image_alpha_stats,
        synthetic_png_trns_table,
    )

    media = synthetic_png_trns_table(spark, n=44)
    return image_alpha_stats(media).orderBy("media_id")


# q179's merge table: train_bpe_merges(documents @ sf0.01, n_merges=24)
# frozen 2026-08-14 (training is deterministic — argmax ties break
# (count DESC, pair ASC) — but the merge list must be a plan constant
# so the oracle SQL can replay the identical replace chain).
_Q179_MERGES = [
    ("e", "r"), ("i", "n"), ("o", "w"), ("o", "r"), ("s", "t"),
    ("m", "er"), ("a", "t"), ("l", "u"), ("a", "r"), ("p", "ar"),
    ("j", "o"), ("jo", "in"), ("a", "s"), ("as", "h"), ("h", "ash"),
    ("r", "ow"), ("at", "c"), ("atc", "h"), ("b", "atch"), ("a", "n"),
    ("c", "an"), ("s", "can"), ("c", "o"), ("c", "u"),
]


def _q179_oracle() -> str:
    enc = "regexp_replace(w, '(.)', '<\\1>', 'g')"
    for a, b in _Q179_MERGES:
        enc = f"replace({enc}, '<{a}><{b}>', '<{a}{b}>')"
    return f"""
    WITH words AS (
        SELECT w, COUNT(*) AS freq FROM (
            SELECT unnest(regexp_extract_all(text,
                '[a-zA-Z]+|[0-9]+')) AS w
            FROM documents) GROUP BY w
    ),
    enc AS (SELECT w, freq, {enc} AS s FROM words),
    toks AS (
        SELECT w, freq,
               unnest(str_split(substr(s, 2, length(s) - 2), '><'))
                   AS token
        FROM enc
    )
    SELECT token, CAST(SUM(freq) AS BIGINT) AS n_total,
           CAST(COUNT(DISTINCT w) AS BIGINT) AS n_words
    FROM toks GROUP BY token
    ORDER BY n_total DESC, token LIMIT 30
    """


@_register(
    "q179_bpe_encode_tokens",
    _q179_oracle(),
    "Corpus-scale BPE ENCODE (the tokenizer-throughput half an LLM "
    "data pipeline actually runs at 100 TB; q109 trains the merges, "
    "this applies them): the corpus collapses once to the distinct "
    "(word, freq) vocabulary, so each distinct word is encoded "
    "exactly once regardless of frequency — cost O(|vocab|), not "
    "O(corpus) — and the 24 trained merges apply as a chain of "
    "literal replaces over a sentinel-wrapped symbol string "
    "(left-to-right non-overlapping replace IS the greedy BPE merge "
    "fold), pure whole-stage codegen with the merge table as a plan "
    "constant. Output: top-30 BPE tokens by weighted occurrence "
    "count. The oracle replays the IDENTICAL replace chain in DuckDB "
    "(generated from the same frozen constant, so the two engines "
    "cannot drift), and tests/test_text_ops.py pins both against a "
    "pure-Python greedy-merge reference.",
)
def q179_bpe_encode_tokens(spark, sf_dir):
    from ..operators.text import bpe_encode_corpus

    docs = _t(spark, sf_dir, "documents")
    enc = bpe_encode_corpus(docs, _Q179_MERGES)
    toks = enc.select("w", "freq", F.explode("toks").alias("token"))
    return (
        toks.groupBy("token")
        .agg(
            F.sum("freq").cast("long").alias("n_total"),
            F.countDistinct("w").cast("long").alias("n_words"),
        )
        .orderBy(F.desc("n_total"), F.asc("token"))
        .limit(30)
    )


@_register(
    "q180_gif_variant_decode_stats",
    """
    WITH m AS (
        SELECT i, 19 + (i % 6) * 4 AS w, 15 + (i % 4) * 4 AS h,
               i * 7 + 4 AS seed
        FROM range(48) t(i)
    ),
    ys AS (SELECT i, w, seed, unnest(range(h)) AS y FROM m),
    px AS (SELECT i, seed, y, unnest(range(w)) AS x FROM ys),
    ch AS (
        SELECT i, y,
               (x + y + seed) % 256 AS r,
               ((x + y + seed) % 256 + 85) % 256 AS g,
               ((x + y + seed) % 256 + 170) % 256 AS b
        FROM px
    )
    SELECT i AS media_id,
           CAST(COUNT(*) AS BIGINT) AS n_px,
           CAST(SUM(r) AS BIGINT) AS sum_r,
           CAST(SUM(g) AS BIGINT) AS sum_g,
           CAST(SUM(b) AS BIGINT) AS sum_b,
           CAST(COUNT(DISTINCT r) AS BIGINT) AS n_colors,
           CAST(SUM(y * r) AS BIGINT) AS row_weighted_r
    FROM ch GROUP BY i
    """,
    "GIF interlace + local-color-table decode (the round-5 verdict's "
    "second gate retirement; the LZW core was already real): 48 GIFs "
    "cycle all four container layouts — plain, interlaced (rows "
    "stored in the spec's four-pass order), LCT-only (no global "
    "table; palette rides the image descriptor), and both. All four "
    "are lossless spellings of the same gradient, so one closed-form "
    "oracle covers them; the ROW-WEIGHTED red checksum (sum of "
    "row_index * row red-sum) is position-sensitive — a decoder that "
    "forgets to de-interlace preserves plain channel sums (same row "
    "multiset) but breaks it — and the distinct-color count catches "
    "LCT/GCT palette mix-ups independently.",
    bench=False,  # exercises the Python kernel path, not a plan shape
)
def q180_gif_variant_decode_stats(spark, sf_dir):
    from ..operators.multimodal import (
        image_color_stats,
        synthetic_gif_variants_table,
    )

    media = synthetic_gif_variants_table(spark, n=48)
    return image_color_stats(media).orderBy("media_id")


@_register(
    "q181_png_gray_family_stats",
    """
    WITH m AS (
        SELECT i, 18 + (i % 6) * 3 AS w, 12 + (i % 4) * 5 AS h,
               i * 13 + 6 AS seed, i % 6 AS v
        FROM range(42) t(i)
    ),
    ys AS (SELECT i, w, seed, v, unnest(range(h)) AS y FROM m),
    px AS (SELECT i, seed, v, y, unnest(range(w)) AS x FROM ys),
    ch AS (
        SELECT i, v,
               CASE v WHEN 1 THEN ((x + y + seed) % 16) * 17
                      WHEN 2 THEN ((x + y + seed) % 4) * 85
                      WHEN 3 THEN ((x + y + seed) % 2) * 255
                      ELSE (x + y + seed) % 256 END AS r,
               x, y, seed
        FROM px
    ),
    rgba AS (
        SELECT i,
               r,
               CASE WHEN v = 5 THEN (r + 85) % 256 ELSE r END AS g,
               CASE WHEN v = 5 THEN (r + 170) % 256 ELSE r END AS b,
               CASE WHEN v = 4 THEN (x * 3 + y * 5 + seed) % 256
                    WHEN v = 5 THEN (x * 7 + y * 11 + seed) % 256
                    ELSE 255 END AS a
        FROM ch
    )
    SELECT i AS media_id,
           CAST(COUNT(*) AS BIGINT) AS n_px,
           CAST(SUM(r) AS BIGINT) AS sum_r,
           CAST(SUM(g) AS BIGINT) AS sum_g,
           CAST(SUM(b) AS BIGINT) AS sum_b,
           CAST(SUM(a) AS BIGINT) AS sum_a,
           CAST(SUM(CASE WHEN a = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_transp
    FROM rgba GROUP BY i
    """,
    "PNG 8-bit-family completion (grayscale depths 8/4/2/1, "
    "gray+alpha, truecolor+alpha): 42 images cycle the six layouts "
    "the decoder gained this round — sub-byte rows unfilter at the "
    "spec's 1-byte neighbor distance then bit-unpack MSB-first and "
    "scale by 255/(2^d-1); color types 4/6 surface real alpha planes "
    "as RGBA. One kernel pass reduces exact channel/alpha sums; the "
    "oracle regenerates all six planes from the generators' closed "
    "forms, so a bit-order, scaling, padding-bit, or channel-order "
    "bug in any one layout shifts its rows and breaks the hash.",
    bench=False,  # exercises the Python kernel path, not a plan shape
)
def q181_png_gray_family_stats(spark, sf_dir):
    from ..operators.multimodal import (
        image_alpha_stats,
        synthetic_png_gray_family_table,
    )

    media = synthetic_png_gray_family_table(spark, n=42)
    return image_alpha_stats(media).orderBy("media_id")


@_register(
    "q182_bigram_lm_scores",
    f"""
    WITH toks AS (SELECT doc_id, {_SQL_TOKS} AS t FROM documents),
    prs AS (
        SELECT doc_id,
               unnest(list_transform(range(len(t) - 1),
                   i -> struct_pack(a := t[i + 1], b := t[i + 2]))) AS p
        FROM toks WHERE len(t) >= 2
    ),
    pp AS (SELECT doc_id, p.a AS a, p.b AS b FROM prs),
    cnt AS (SELECT a, b, COUNT(*) AS c_ab FROM pp GROUP BY a, b),
    pre AS (SELECT a, CAST(SUM(c_ab) AS BIGINT) AS c_a FROM cnt GROUP BY a),
    voc AS (
        SELECT COUNT(DISTINCT tok) AS v
        FROM (SELECT unnest(t) AS tok FROM toks)
    ),
    lp AS (
        SELECT a, b,
               CAST(round(ln((c_ab + 1) / (1.0 * (c_a + v))) * 1000000)
                   AS BIGINT) AS lp_micro
        FROM cnt JOIN pre USING (a), voc
    )
    SELECT doc_id, COUNT(*) AS n_bigrams,
           CAST(SUM(lp_micro) AS BIGINT) AS sum_lp_micro,
           CAST(SUM(lp_micro) AS BIGINT) / (1.0 * COUNT(*)) AS avg_lp_micro
    FROM pp JOIN lp USING (a, b) GROUP BY doc_id
    """,
    "Training-data op: corpus-trained BIGRAM-LM document scoring "
    "with add-one smoothing (text.bigram_lm_scores) — the next rung "
    "above q78's unigram filter and the closer analog of KenLM "
    "perplexity filtering: token-ORDER gibberish that unigram "
    "frequency can't see scores low. P(b|a) = (c(a,b)+1)/(c(a)+V) "
    "with prefix counts derived from the pair-count table (never a "
    "second corpus pass) and V a one-row broadcast; each distinct "
    "pair's ln P quantizes once to micro-units so per-doc scores are "
    "exact integer sums, order-independent across engines.",
)
def q182_bigram_lm_scores(spark, sf_dir):
    from ..operators.text import bigram_lm_scores

    return bigram_lm_scores(_t(spark, sf_dir, "documents"))


def _q183_oracle() -> str:
    from ..operators.multimodal import _IMA_STEP

    steps = ", ".join(f"({i}, {v})" for i, v in enumerate(_IMA_STEP))
    code = (
        "(CASE WHEN d.ch = 0 THEN (d.i * 7 + d.t * 5) % 16"
        " ELSE (d.i * 11 + d.t * 3 + 8) % 16 END)"
    )
    diff = (
        f"((s.step // 8)"
        f" + (CASE WHEN ({code}) // 4 % 2 = 1 THEN s.step ELSE 0 END)"
        f" + (CASE WHEN ({code}) // 2 % 2 = 1 THEN s.step // 2 ELSE 0 END)"
        f" + (CASE WHEN ({code}) % 2 = 1 THEN s.step // 4 ELSE 0 END))"
    )
    sign = f"(CASE WHEN ({code}) // 8 = 1 THEN -1 ELSE 1 END)"
    idx_adj = (
        f"(CASE WHEN ({code}) % 8 < 4 THEN -1"
        f" ELSE (({code}) % 8 - 3) * 2 END)"
    )
    return f"""
    WITH RECURSIVE m AS (
        SELECT i, 160 + (i % 3) * 32 AS ns,
               ((i * 53) % 1800) - 900 AS p0l, (i * 3) % 89 AS x0l,
               ((i * 29) % 1600) - 800 AS p0r, (i * 5 + 7) % 89 AS x0r
        FROM range(24) t(i)
    ),
    chans AS (
        SELECT i, ns, 0 AS ch, p0l AS p0, x0l AS x0 FROM m
        UNION ALL
        SELECT i, ns, 1, p0r, x0r FROM m
    ),
    steptab(sx, step) AS (SELECT * FROM (VALUES {steps}) v(ix, st)),
    dec(i, ch, t, pred, sx) AS (
        SELECT i, ch, 0, p0, x0 FROM chans
        UNION ALL
        SELECT d.i, d.ch, d.t + 1,
               greatest(-32768, least(32767,
                   d.pred + {sign} * {diff})),
               greatest(0, least(88, d.sx + {idx_adj}))
        FROM dec d
        JOIN chans c ON c.i = d.i AND c.ch = d.ch
        JOIN steptab s ON s.sx = d.sx
        WHERE d.t < c.ns
    ),
    l AS (SELECT i, t, pred FROM dec WHERE ch = 0),
    r AS (SELECT i, t, pred FROM dec WHERE ch = 1)
    SELECT l.i AS media_id,
           CAST(COUNT(*) AS BIGINT) AS n_frames,
           CAST(SUM(l.pred) AS BIGINT) AS sum_left,
           CAST(SUM(r.pred) AS BIGINT) AS sum_right,
           CAST(SUM(l.pred * l.pred) AS BIGINT) AS sumsq_left,
           CAST(SUM(r.pred * r.pred) AS BIGINT) AS sumsq_right,
           CAST(SUM(l.pred * r.pred) AS BIGINT) AS cross_sum,
           CAST(MAX(GREATEST(ABS(l.pred), ABS(r.pred))) AS BIGINT) AS peak
    FROM l JOIN r ON r.i = l.i AND r.t = l.t
    GROUP BY l.i
    """


@_register(
    "q183_ima_stereo_decode_stats",
    _q183_oracle(),
    "STEREO IMA ADPCM decode (the round-5 gate retirement list's "
    "last audio item): the Microsoft WAV layout interleaves 4-byte "
    "nibble groups per channel after per-channel block headers, so "
    "the decoder runs TWO (predictor, step-index) state machines in "
    "lockstep. The oracle replays both with one channel-dimensioned "
    "recursive CTE; the CROSS-channel product sum is the signature "
    "stat — a decoder that swaps or desynchronizes channels "
    "preserves per-channel sums but breaks it.",
    bench=False,  # exercises the Python kernel path, not a plan shape
)
def q183_ima_stereo_decode_stats(spark, sf_dir):
    from ..operators.multimodal import (
        audio_stereo_stats,
        synthetic_ima_stereo_table,
    )

    media = synthetic_ima_stereo_table(spark, n=24)
    return audio_stereo_stats(media).orderBy("media_id")


@_register(
    "q184_pq_adc_topk",
    f"""
    WITH cb AS (
        SELECT centroid_id // 16 AS sub, centroid_id % 16 AS code,
               list_transform(coeffs, v -> CAST(v AS BIGINT)) AS cq
        FROM read_parquet(
            '{{scratch}}/q184_pq_codebooks.parquet/*.parquet')
    ),
    eq AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[],
                   v -> CAST(round(v * 1000000) AS BIGINT)) AS xq
        FROM embeddings
    ),
    sv AS (
        SELECT vec_id, sub, xq[sub * 4 + 1 : sub * 4 + 4] AS s8
        FROM eq, (SELECT unnest(range(16)) AS sub)
    ),
    dists AS (
        SELECT v.vec_id, v.sub, c.code,
               list_sum(list_transform(range(4),
                   j -> (v.s8[j + 1] - c.cq[j + 1])
                        * (v.s8[j + 1] - c.cq[j + 1]))) AS d
        FROM sv v JOIN cb c ON c.sub = v.sub
    ),
    codes AS (
        SELECT vec_id, sub, code FROM (
            SELECT vec_id, sub, code,
                   row_number() OVER (PARTITION BY vec_id, sub
                                      ORDER BY d, code) AS rn
            FROM dists) WHERE rn = 1
    ),
    q AS (SELECT vec_id AS query_id, sub, s8 AS q8
          FROM sv WHERE vec_id % 50 = 0),
    lut AS (
        SELECT q.query_id, q.sub, c.code,
               CAST(round(list_sum(list_transform(range(4),
                   j -> q.q8[j + 1] * c.cq[j + 1])) / 1000000.0)
                   AS BIGINT) AS lut_micro
        FROM q JOIN cb c ON c.sub = q.sub
    ),
    scored AS (
        SELECT l.query_id, k.vec_id AS neighbor_id,
               CAST(SUM(l.lut_micro) AS BIGINT) AS score_micro
        FROM codes k JOIN lut l ON l.sub = k.sub AND l.code = k.code
        WHERE k.vec_id != l.query_id
        GROUP BY l.query_id, k.vec_id
    )
    SELECT query_id, CAST(rk AS INT) AS rank, neighbor_id, score_micro
    FROM (
        SELECT query_id, neighbor_id, score_micro,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY score_micro DESC, neighbor_id)
                   AS rk
        FROM scored) WHERE rk <= 5
    """.replace("{scratch}", ORACLE_SCRATCH),
    "PRODUCT QUANTIZATION ADC search (Jegou et al. 2011) — the "
    "memory-side half of 100 TB ANN that the IVF family (q46/q132) "
    "leaves open: vectors compress to 16 sub-codes (4 bits each, 32x "
    "vs float32) and queries score candidates WITHOUT decompression "
    "through an additive lookup table. Everything is integer-exact: "
    "micro-quantized inputs make encode argmins pure int64 "
    "comparisons (first-min tiebreak = the oracle's (dist, code) "
    "window) and ADC scores exact integer sums of per-(query, sub, "
    "code) LUT entries. Scoring is a broadcast LUT join on the "
    "exploded code table + partial-agg sum — no UDF in the ranking "
    "path; codebooks are a driver-trained 1,024-parameter artifact "
    "shared with the oracle through the scratch channel. Exhaustive "
    "ADC certifies the compression; production composes with q46's "
    "partition-pruned IVF probe.",
)
def q184_pq_adc_topk(spark, sf_dir):
    from ..operators.pq import pq_adc_topk

    emb = _t(spark, sf_dir, "embeddings")
    books = _pq_books_for(spark, sf_dir)
    return pq_adc_topk(emb, books, (F.col("vec_id") % 50) == 0, k=5)


def _pq_books_for(spark, sf_dir):
    """Train-once memoization of the q184/q185 PQ codebooks (same key
    discipline as _ivf_index_for); the oracle-visible copy is
    (re)written every call because DuckDB re-derives codes from it."""
    import numpy as np

    from ..operators.pq import train_pq_codebooks_micro

    emb_file = os.path.join(sf_dir, "embeddings.parquet")
    st = os.stat(emb_file)
    key = (
        f"{os.path.basename(sf_dir.rstrip('/'))}_"
        f"{int(st.st_mtime)}_{st.st_size}"
    )
    npy = f"{ORACLE_SCRATCH}/q184_pq_books_{key}.npy"
    if os.path.exists(npy):
        books = np.load(npy)
    else:
        books = train_pq_codebooks_micro(_t(spark, sf_dir, "embeddings"))
        os.makedirs(ORACLE_SCRATCH, exist_ok=True)
        np.save(npy, books)
    _write_scratch_vectors(
        "q184_pq_codebooks.parquet",
        "centroid_id",
        [
            [float(x) for x in books[s, k]]
            for s in range(books.shape[0])
            for k in range(books.shape[1])
        ],
    )
    return books


@_register(
    "q185_ivfpq_topk",
    f"""
    WITH cents AS (
        SELECT centroid_id, coeffs
        FROM read_parquet('{{scratch}}/q46_centroids.parquet/*.parquet')
    ),
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    sims AS (
        SELECT vec_id, centroid_id, list_cosine_similarity(v, coeffs) AS s
        FROM e, cents
    ),
    assign AS (
        SELECT vec_id AS neighbor_id, centroid_id AS cluster FROM (
            SELECT *, row_number() OVER (
                PARTITION BY vec_id ORDER BY s DESC, centroid_id) AS rn
            FROM sims) WHERE rn = 1
    ),
    probe AS (
        SELECT vec_id AS query_id, centroid_id AS cluster FROM (
            SELECT *, row_number() OVER (
                PARTITION BY vec_id ORDER BY s DESC, centroid_id) AS rn
            FROM sims WHERE vec_id < 10) WHERE rn <= 4
    ),
    cand AS (
        SELECT p.query_id, a.neighbor_id
        FROM probe p JOIN assign a ON p.cluster = a.cluster
        WHERE p.query_id <> a.neighbor_id
    ),
    cb AS (
        SELECT centroid_id // 16 AS sub, centroid_id % 16 AS code,
               list_transform(coeffs, v -> CAST(v AS BIGINT)) AS cq
        FROM read_parquet(
            '{{scratch}}/q184_pq_codebooks.parquet/*.parquet')
    ),
    eq AS (
        SELECT vec_id,
               list_transform(embedding::DOUBLE[],
                   v -> CAST(round(v * 1000000) AS BIGINT)) AS xq
        FROM embeddings
    ),
    sv AS (
        SELECT vec_id, sub, xq[sub * 4 + 1 : sub * 4 + 4] AS s8
        FROM eq, (SELECT unnest(range(16)) AS sub)
    ),
    dists AS (
        SELECT v.vec_id, v.sub, c.code,
               list_sum(list_transform(range(4),
                   j -> (v.s8[j + 1] - c.cq[j + 1])
                        * (v.s8[j + 1] - c.cq[j + 1]))) AS d
        FROM sv v JOIN cb c ON c.sub = v.sub
    ),
    codes AS (
        SELECT vec_id, sub, code FROM (
            SELECT vec_id, sub, code,
                   row_number() OVER (PARTITION BY vec_id, sub
                                      ORDER BY d, code) AS rn
            FROM dists) WHERE rn = 1
    ),
    q AS (SELECT vec_id AS query_id, sub, s8 AS q8
          FROM sv WHERE vec_id < 10),
    lut AS (
        SELECT q.query_id, q.sub, c.code,
               CAST(round(list_sum(list_transform(range(4),
                   j -> q.q8[j + 1] * c.cq[j + 1])) / 1000000.0)
                   AS BIGINT) AS lut_micro
        FROM q JOIN cb c ON c.sub = q.sub
    ),
    scored AS (
        SELECT cd.query_id, cd.neighbor_id,
               CAST(SUM(l.lut_micro) AS BIGINT) AS score_micro
        FROM cand cd
        JOIN codes k ON k.vec_id = cd.neighbor_id
        JOIN lut l ON l.query_id = cd.query_id
                  AND l.sub = k.sub AND l.code = k.code
        GROUP BY cd.query_id, cd.neighbor_id
    )
    SELECT query_id, CAST(rk AS INT) AS rank, neighbor_id, score_micro
    FROM (
        SELECT query_id, neighbor_id, score_micro,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY score_micro DESC, neighbor_id)
                   AS rk
        FROM scored) WHERE rk <= 5
    """.replace("{scratch}", ORACLE_SCRATCH),
    "IVF-PQ — the PRODUCTION ANN serving shape that ties the suite's "
    "two halves together: q46's memoized coarse index prunes each "
    "query to its 4 probed cells (the scan reads ONLY those partition "
    "directories — same static pruning probe_ivf_index certifies), "
    "then q184's PQ codes rank the survivors through integer ADC "
    "LUT sums without touching a single original vector. The oracle "
    "replays the ENTIRE composition — cosine probe windows, integer "
    "code argmins, LUT quantization, candidate join, final rank — "
    "from the two shared scratch artifacts, so drift in either stage "
    "or their glue breaks the hash. At 100 TB this is the shape that "
    "serves: cells bound the candidates, codes bound the memory.",
)
def q185_ivfpq_topk(spark, sf_dir):
    from ..operators.pq import ivfpq_adc_topk

    emb = _t(spark, sf_dir, "embeddings")
    cents, idx_path = _ivf_index_for(spark, sf_dir)
    books = _pq_books_for(spark, sf_dir)
    return ivfpq_adc_topk(
        spark,
        idx_path,
        emb,
        books,
        F.col("vec_id") < 10,
        cents,
        k=5,
        nprobe=4,
    )


def _q186_oracle() -> str:
    enc = "regexp_replace(w, '(.)', '<\\1>', 'g')"
    for a, b in _Q179_MERGES:
        enc = f"replace({enc}, '<{a}><{b}>', '<{a}{b}>')"
    return f"""
    WITH words AS (
        SELECT lang, w, COUNT(*) AS freq FROM (
            SELECT lang, unnest(regexp_extract_all(text,
                '[a-zA-Z]+|[0-9]+')) AS w
            FROM documents) GROUP BY lang, w
    ),
    enc AS (
        SELECT lang, w, freq,
               length(w) AS n_chars,
               len(str_split(substr({enc}, 2,
                   length({enc}) - 2), '><')) AS n_toks
        FROM words
    )
    SELECT lang,
           CAST(SUM(freq) AS BIGINT) AS n_words,
           CAST(SUM(freq * n_chars) AS BIGINT) AS n_chars,
           CAST(SUM(freq * n_toks) AS BIGINT) AS n_tokens,
           CAST(SUM(freq * n_toks) AS BIGINT)
               / (1.0 * CAST(SUM(freq) AS BIGINT)) AS fertility,
           CAST(SUM(freq * n_chars) AS BIGINT)
               / (1.0 * CAST(SUM(freq * n_toks) AS BIGINT))
               AS chars_per_token
    FROM enc GROUP BY lang
    """


@_register(
    "q186_tokenizer_fertility",
    _q186_oracle(),
    "Tokenizer FERTILITY report (tokens per word, chars per token) "
    "by language — the metric an LLM team tracks when choosing or "
    "retraining a tokenizer (high fertility on a language = wasted "
    "context window). Reuses q179's replace-chain encode over the "
    "distinct (lang, word) vocabulary: per-word token counts are "
    "computed once per distinct word per language and weighted by "
    "frequency, so the report costs O(|vocab|) no matter the corpus; "
    "the two ratios are single divisions of exact integer sums "
    "(the fixed_avg discipline).",
)
def q186_tokenizer_fertility(spark, sf_dir):
    from ..operators.text import bpe_encode_corpus

    docs = _t(spark, sf_dir, "documents")
    enc = bpe_encode_corpus(docs, _Q179_MERGES, group_cols=["lang"])
    per = enc.select(
        "lang",
        "freq",
        F.length("w").cast("long").alias("n_chars"),
        F.size("toks").cast("long").alias("n_toks"),
    )
    return per.groupBy("lang").agg(
        F.sum("freq").cast("long").alias("n_words"),
        F.sum(F.col("freq") * F.col("n_chars")).cast("long").alias("n_chars"),
        F.sum(F.col("freq") * F.col("n_toks")).cast("long").alias("n_tokens"),
        (
            F.sum(F.col("freq") * F.col("n_toks"))
            / (F.sum("freq") * F.lit(1.0))
        ).alias("fertility"),
        (
            F.sum(F.col("freq") * F.col("n_chars"))
            / (F.sum(F.col("freq") * F.col("n_toks")) * F.lit(1.0))
        ).alias("chars_per_token"),
    )


@_register(
    "q187_isotonic_return_rate",
    """
    WITH b AS (
        SELECT CAST(l_quantity AS INT) AS x,
               CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                   AS BIGINT) AS hits,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM lineitem GROUP BY x
    ),
    pre AS (
        SELECT x, hits, n,
               CAST(SUM(hits) OVER (ORDER BY x) AS BIGINT) AS s,
               CAST(SUM(n) OVER (ORDER BY x) AS BIGINT) AS nn
        FROM b
    ),
    iv AS (
        SELECT j.x AS jx, k.x AS kx,
               (k.s - j.s + j.hits) / (1.0 * (k.nn - j.nn + j.n)) AS a
        FROM pre j JOIN pre k ON j.x <= k.x
    ),
    m1 AS (
        SELECT iv.jx, i.x AS ix, MIN(iv.a) AS mn
        FROM iv JOIN b i ON iv.jx <= i.x AND i.x <= iv.kx
        GROUP BY iv.jx, i.x
    ),
    fit AS (SELECT ix, MAX(mn) AS fitted_rate FROM m1 GROUP BY ix)
    SELECT p.x, p.hits, p.n,
           p.hits / (1.0 * p.n) AS emp_rate,
           f.fitted_rate
    FROM pre p JOIN fit f ON f.ix = p.x
    """,
    "ISOTONIC REGRESSION (monotone calibration, Barlow et al. 1972): "
    "the best non-decreasing return-rate curve over quantity bands, "
    "fit via the minimax closed form fitted(i) = max_(j<=i) "
    "min_(k>=i) avg(j..k) instead of the inherently serial "
    "pool-adjacent-violators sweep — prefix sums, an interval-average "
    "self-join, and two grouped extremes, O(B^3) over the BOUNDED "
    "band table (50 quantity levels; corpus touched once by the "
    "banding aggregate, the q162 calendar-bounded doctrine). Every "
    "interval average is one double division of exact integer sums, "
    "so the average multiset — hence min/max, hence the fitted curve "
    "— is bit-identical across engines. tests/test_regression.py "
    "pins the minimax form against a classic PAVA reference.",
)
def q187_isotonic_return_rate(spark, sf_dir):
    from ..operators.regression import isotonic_fit

    li = _t(spark, sf_dir, "lineitem")
    bands = li.groupBy(
        F.col("l_quantity").cast("int").alias("x")
    ).agg(
        F.sum(
            F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
        ).alias("hits"),
        F.count(F.lit(1)).alias("n"),
    )
    return isotonic_fit(bands)


_Q188_BROWSERS = [
    "Chrome/120.0", "Firefox/115.0", "GoogleBot/2.1", "Safari/17.1",
    "curl-spider/1.0", "Edge/120.0", "HeadlessChrome/119.0",
]


def _q188_oracle() -> str:
    from ..operators.enrich import GEO_REGIONS

    browsers = ", ".join(f"'{b}'" for b in _Q188_BROWSERS)
    codes = ", ".join(f"'{c}'" for c, _ in GEO_REGIONS) + ", 'XX'"
    region_case = (
        "CASE country_code "
        + " ".join(f"WHEN '{c}' THEN '{r}'" for c, r in GEO_REGIONS)
        + " ELSE NULL END"
    )
    return f"""
    WITH e AS (
        SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
               CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (
                        PARTITION BY user_id
                        ORDER BY epoch_us(ts), event_id) <= 600000000
                    THEN 0 ELSE 1 END AS new_s
        FROM events
    ),
    s AS (
        SELECT user_id, event_id, event_type,
               user_id * 1000000 + CAST(SUM(new_s) OVER (
                   PARTITION BY user_id ORDER BY us, event_id
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        FROM e
    ),
    b AS (
        SELECT *,
               [{browsers}][CAST(user_id % 7 AS INT) + 1] AS browser,
               [{codes}][CAST(user_id % 13 AS INT) + 1] AS country_code
        FROM s
    ),
    c AS (
        SELECT *, COUNT(*) OVER (PARTITION BY session_id) AS scount
        FROM b
    ),
    f AS (
        SELECT event_type, session_id,
               (scount > 4 OR regexp_matches(lower(browser),
                   'bot|crawler|spider|headless')) AS is_bot,
               {region_case} AS geo_region
        FROM c
    )
    SELECT event_type, geo_region,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN is_bot THEN 1 ELSE 0 END) AS BIGINT)
               AS n_bots,
           CAST(COUNT(DISTINCT session_id) AS BIGINT) AS n_sessions
    FROM f GROUP BY event_type, geo_region
    """


@_register(
    "q188_bot_geo_enrichment",
    _q188_oracle(),
    "U1/U3/J1 driver-verified end to end (previously pytest-only "
    "rows in the operator inventory): events are sessionized (q12's "
    "gap-and-island machinery), decorated with deterministic "
    "browser/country derivations, flagged by enrich.bot_score's "
    "native rules (hyperactive-session window count OR scripted-UA "
    "regex — the oracle replays the SAME regex in DuckDB RE2, so "
    "pattern-semantics parity is certified like q121), and geo-"
    "enriched through the broadcast country->region dim with LEFT "
    "semantics (the 13th country code maps to no region — the null "
    "group proves the join doesn't silently drop unmatched rows).",
)
def q188_bot_geo_enrichment(spark, sf_dir):
    from ..operators.enrich import GEO_REGIONS, bot_score, geo_dim
    from ..operators.sessionize import assign_sessions

    e = _t(spark, sf_dir, "events")
    sess = assign_sessions(e, user_col="user_id", ts_col="ts", id_col="event_id")
    browsers = F.array(*[F.lit(x) for x in _Q188_BROWSERS])
    codes = F.array(*([F.lit(c) for c, _ in GEO_REGIONS] + [F.lit("XX")]))
    d = (
        sess.withColumn(
            "session_id", F.col("user_id") * 1000000 + F.col("session_no")
        )
        .withColumn(
            "browser",
            F.element_at(browsers, (F.col("user_id") % 7).cast("int") + 1),
        )
        .withColumn(
            "country_code",
            F.element_at(codes, (F.col("user_id") % 13).cast("int") + 1),
        )
    )
    flagged = bot_score(d, events_per_session_threshold=4)
    enr = flagged.join(F.broadcast(geo_dim(spark)), "country_code", "left")
    return enr.groupBy("event_type", "geo_region").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("is_bot").cast("int")).cast("long").alias("n_bots"),
        F.countDistinct("session_id").alias("n_sessions"),
    )


@_register(
    "q189_user_segments",
    """
    WITH per_user AS (
        SELECT o_custkey AS user_id,
               CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
                   AS BIGINT) AS lifetime_value,
               CAST(COUNT(*) AS BIGINT) AS n_orders
        FROM orders GROUP BY o_custkey
    )
    SELECT user_id, lifetime_value, n_orders,
           CASE WHEN lifetime_value >= 200000000 THEN 'high_value'
                WHEN n_orders >= 5 THEN 'loyal'
                WHEN n_orders = 1 THEN 'new'
                ELSE 'regular' END AS user_segment
    FROM per_user
    """,
    "U2 driver-verified (previously pytest-only): per-user lifetime-"
    "value segmentation through enrich.user_segments' when-ladder — "
    "spend accumulates as exact integer cents (the fixed-point "
    "doctrine), thresholds compare on ints, so the segment frontier "
    "is identical across engines. One scan, map-side partial "
    "aggregation, no UDF.",
)
def q189_user_segments(spark, sf_dir):
    from ..operators.enrich import user_segments

    o = _t(spark, sf_dir, "orders")
    orders = o.select(
        F.col("o_custkey").alias("user_id"),
        to_fixed(F.col("o_totalprice"), 100).alias("total_amount"),
        F.col("o_orderdate").alias("timestamp"),
    )
    return user_segments(orders, hv_threshold=200_000_000).select(
        "user_id",
        F.col("lifetime_value").cast("long").alias("lifetime_value"),
        F.col("n_orders").cast("long").alias("n_orders"),
        "user_segment",
    )


@_register(
    "q190_leakage_safe_split",
    f"""
    WITH RECURSIVE toks AS (SELECT doc_id, {{toks}} AS t FROM documents),
    sh AS (
        SELECT DISTINCT doc_id AS id,
               unnest(list_transform(range(len(t) - 2),
                   i -> t[i + 1] || ' ' || t[i + 2] || ' ' || t[i + 3]))
                   AS shingle
        FROM toks WHERE len(t) >= 3
    ),
    sizes AS (SELECT id, COUNT(*) AS n_sh FROM sh GROUP BY id),
    inter AS (
        SELECT a.id AS a_id, b.id AS b_id, COUNT(*) AS n_inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.id < b.id
        GROUP BY a.id, b.id
    ),
    prs AS (
        SELECT a_id, b_id FROM inter
        JOIN sizes sa ON inter.a_id = sa.id
        JOIN sizes sb ON inter.b_id = sb.id
        WHERE n_inter / (1.0 * (sa.n_sh + sb.n_sh - n_inter)) >= 0.10
    ),
    edges AS (
        SELECT a_id AS u, b_id AS v FROM prs
        UNION ALL SELECT b_id, a_id FROM prs
    ),
    verts AS (SELECT DISTINCT u AS id FROM edges),
    reach(id, lbl) AS (
        SELECT id, id FROM verts
        UNION
        SELECT e.u, r.lbl FROM edges e JOIN reach r ON r.id = e.v
    ),
    closed AS (SELECT id, MIN(lbl) AS component FROM reach GROUP BY id),
    assigned AS (
        SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component
        FROM documents d LEFT JOIN closed c ON c.id = d.doc_id
    ),
    split AS (
        SELECT doc_id, component,
               CASE WHEN {{u}} < 0.8 THEN 'train'
                    WHEN {{u}} < 0.9 THEN 'val'
                    ELSE 'test' END AS split
        FROM assigned
    ),
    leak AS (
        SELECT sa.split, COUNT(*) AS n_dup_pairs,
               CAST(SUM(CASE WHEN sa.split != sb.split THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_leaky
        FROM prs p
        JOIN split sa ON sa.doc_id = p.a_id
        JOIN split sb ON sb.doc_id = p.b_id
        GROUP BY sa.split
    )
    SELECT s.split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT s.component) AS BIGINT) AS n_groups,
           CAST(coalesce(MAX(l.n_dup_pairs), 0) AS BIGINT) AS n_dup_pairs,
           CAST(coalesce(MAX(l.n_leaky), 0) AS BIGINT) AS n_leaky_pairs
    FROM split s LEFT JOIN leak l ON l.split = s.split
    GROUP BY s.split
    """.replace("{toks}", _SQL_TOKS)
    .replace("{u}", _sql_hash_uniform("dsplit", "component")),
    "LEAKAGE-SAFE train/val/test split — the eval-hygiene step an LLM "
    "pipeline must run before near-dups poison a holdout: q150's "
    "lossless prefix-filtered Jaccard pairs close into dup groups "
    "(q58's components operator, singletons attached by one left "
    "join), every group's docs inherit ONE split decision hashed from "
    "the GROUP representative (not the doc — the entire point), and "
    "the output carries its own audit: n_leaky_pairs counts near-dup "
    "pairs straddling splits and must be 0 by construction, so any "
    "drift to per-doc splitting breaks both the audit column and the "
    "hash. The oracle replays pairs, recursive closure, md5 split "
    "assignment, and the audit end to end.",
)
def q190_leakage_safe_split(spark, sf_dir):
    from ..operators.components import connected_components
    from ..operators.dedup import prefix_filter_jaccard_pairs
    from ..operators.sampling import hash_uniform

    docs = _t(spark, sf_dir, "documents")
    pairs = prefix_filter_jaccard_pairs(
        docs, n=3, threshold_pct=10
    ).select("a_id", "b_id").cache()
    comp = connected_components(
        pairs, "a_id", "b_id",
        vertices=docs.select(F.col("doc_id").alias("id")),
        id_col="id",
    )
    u = hash_uniform(F.col("component"), salt="dsplit")
    split = comp.select(
        F.col("id").alias("doc_id"),
        "component",
        F.when(u < 0.8, "train").when(u < 0.9, "val").otherwise("test").alias(
            "split"
        ),
    )
    sa = split.select(
        F.col("doc_id").alias("a_id"), F.col("split").alias("sa")
    )
    sb = split.select(
        F.col("doc_id").alias("b_id"), F.col("split").alias("sb")
    )
    leak = (
        pairs.join(sa, "a_id")
        .join(sb, "b_id")
        .groupBy(F.col("sa").alias("split"))
        .agg(
            F.count(F.lit(1)).alias("n_dup_pairs"),
            F.sum((F.col("sa") != F.col("sb")).cast("int"))
            .cast("long")
            .alias("n_leaky"),
        )
    )
    return (
        split.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("component").alias("n_groups"),
        )
        .join(leak, "split", "left")
        .select(
            "split",
            "n_docs",
            "n_groups",
            F.coalesce("n_dup_pairs", F.lit(0)).cast("long").alias(
                "n_dup_pairs"
            ),
            F.coalesce("n_leaky", F.lit(0)).cast("long").alias(
                "n_leaky_pairs"
            ),
        )
    )


@_register(
    "q191_hard_negative_mining",
    """
    WITH q AS (
        SELECT vec_id AS query_id, label AS q_label,
               embedding::DOUBLE[] AS qv
        FROM embeddings WHERE vec_id % 40 = 0
    ),
    c AS (
        SELECT vec_id AS neighbor_id, label AS n_label,
               embedding::DOUBLE[] AS cv
        FROM embeddings
    ),
    s AS (
        SELECT query_id, q_label, neighbor_id, n_label,
               round(list_cosine_similarity(qv, cv), 6) AS sim
        FROM q, c WHERE query_id <> neighbor_id
    ),
    r AS (
        SELECT *, row_number() OVER (
            PARTITION BY query_id, (q_label = n_label)
            ORDER BY sim DESC, neighbor_id) AS rk
        FROM s
    )
    SELECT p.query_id, CAST(p.q_label AS INT) AS label,
           p.neighbor_id AS pos_id, p.sim AS pos_sim,
           n.neighbor_id AS neg_id, n.sim AS neg_sim,
           p.sim - n.sim AS margin
    FROM (SELECT * FROM r WHERE rk = 1 AND q_label = n_label) p
    JOIN (SELECT * FROM r WHERE rk = 1 AND q_label != n_label) n
      ON n.query_id = p.query_id
    """,
    "HARD-NEGATIVE MINING for contrastive embedding training (the "
    "data-prep step behind retrieval/embedding model fine-tuning): "
    "per anchor, the nearest same-label neighbor becomes the positive "
    "and the nearest DIFFERENT-label neighbor the hard negative — "
    "the boundary-teaching sample random negatives almost never are. "
    "One broadcast-query corpus scan, both picks from a single "
    "(query, same-label?) rank window on 6dp-rounded cosine, margin "
    "as a plain difference of the two already-rounded doubles. "
    "Anchors whose label has no second member drop out by inner-join "
    "construction on both engines.",
)
def q191_hard_negative_mining(spark, sf_dir):
    from ..operators.similarity import hard_negative_mining

    emb = _t(spark, sf_dir, "embeddings")
    return hard_negative_mining(emb, emb.filter((F.col("vec_id") % 40) == 0))


def _q192_oracle() -> str:
    def lum(xe: str) -> str:
        r = (
            f"((({xe}) * ({xe}) * 3 + y0 * y0 * 5"
            f" + ({xe}) * y0 * 7 + seed) % 256)"
        )
        return (
            f"(({r}) * 299 + (({r} + 85) % 256) * 587"
            f" + (({r} + 170) % 256) * 114) // 1000"
        )

    return f"""
    WITH m AS (
        SELECT j * 4 + k AS media_id,
               CASE WHEN k < 3 THEN 24 + (j % 5) * 4
                    ELSE 20 + (j % 6) * 4 END AS w,
               CASE WHEN k < 3 THEN 16 + (j % 4) * 4
                    ELSE 14 + (j % 5) * 4 END AS h,
               CASE WHEN k < 3 THEN j * 17 + 3
                    ELSE j * 31 + 1000 END AS seed
        FROM range(20) t(j), range(4) u(k)
    ),
    cells AS (
        SELECT media_id, seed,
               (ry * h) // 5 AS y0,
               (c * w) // 9 AS x1,
               ((c + 1) * w) // 9 AS x2,
               ry, c
        FROM m,
             (SELECT unnest(range(5)) AS ry),
             (SELECT unnest(range(8)) AS c)
    ),
    hashes AS (
        SELECT media_id,
               CAST(SUM(CASE WHEN {lum('x2')} > {lum('x1')}
                        THEN (1::BIGINT << (ry * 8 + c))
                        ELSE 0 END) AS BIGINT) AS dhash
        FROM cells GROUP BY media_id
    )
    SELECT dhash,
           CAST(COUNT(*) AS BIGINT) AS n_images,
           CAST(MIN(media_id) AS BIGINT) AS canonical_id,
           CAST(SUM(media_id) AS BIGINT) AS id_sum
    FROM hashes GROUP BY dhash
    HAVING COUNT(*) >= 2
    """


@_register(
    "q192_crossformat_phash_dedup",
    _q192_oracle(),
    "PERCEPTUAL-HASH image dedup ACROSS container formats — the "
    "multimodal signal exact byte hashing cannot see: each duplicate "
    "group's pixels are encoded as BMP, PNG, and GIF (three unrelated "
    "byte blobs), decoded through three different real codecs, and "
    "must converge to ONE 40-bit dHash (integer luma -> q143's "
    "(c*w)//cols resample map -> horizontal-gradient bits). The "
    "oracle regenerates every hash from the pixel closed form — a "
    "drift in any decoder, the luma weights, the resample map, or "
    "the bit packing splits a group and breaks the hash. Grouping is "
    "a plain partial-agg groupBy on the 8-byte hash: the exact-dedup "
    "shuffle shape (q22) applied to perceptual identity.",
    bench=False,  # exercises the Python kernel path, not a plan shape
)
def q192_crossformat_phash_dedup(spark, sf_dir):
    from ..operators.multimodal import (
        image_dhash,
        synthetic_crossformat_dup_table,
    )

    media = synthetic_crossformat_dup_table(spark, n_groups=20)
    return (
        image_dhash(media)
        .groupBy("dhash")
        .agg(
            F.count(F.lit(1)).alias("n_images"),
            F.min("media_id").alias("canonical_id"),
            F.sum("media_id").alias("id_sum"),
        )
        .filter(F.col("n_images") >= 2)
    )


@_register(
    "q193_audio_resample_stats",
    """
    WITH m AS (SELECT i, 400 + (i % 5) * 40 AS ns FROM range(40) t(i)),
    s AS (SELECT i, unnest(range((ns * 3000) // 8000)) AS k FROM m),
    c AS (
        SELECT i, (i * 13 + ((k * 8000) // 3000) * 7) % 256 AS code
        FROM s
    ),
    bits AS (
        SELECT i, code,
               255 - code AS u,
               xor(code, 85) AS a
        FROM c
    ),
    lin AS (
        SELECT i,
          CASE WHEN i % 2 = 0 THEN
            CASE WHEN u >= 128
                 THEN 132 - (((u % 16) * 8 + 132)
                             * (CAST(1 AS BIGINT) << ((u // 16) % 8)))
                 ELSE (((u % 16) * 8 + 132)
                       * (CAST(1 AS BIGINT) << ((u // 16) % 8))) - 132
            END
          ELSE
            (CASE WHEN a >= 128 THEN 1 ELSE -1 END) *
            (CASE WHEN (a // 16) % 8 = 0 THEN (a % 16) * 16 + 8
                  WHEN (a // 16) % 8 = 1 THEN (a % 16) * 16 + 264
                  ELSE ((a % 16) * 16 + 264)
                       * (CAST(1 AS BIGINT) << ((a // 16) % 8 - 1))
            END)
          END AS v
        FROM bits
    )
    SELECT i AS media_id,
           CAST(COUNT(*) AS BIGINT) AS n_samples,
           CAST(SUM(v) AS BIGINT) AS sum_lin,
           CAST(SUM(v * v) AS BIGINT) AS sum_sq,
           CAST(MAX(ABS(v)) AS BIGINT) AS peak
    FROM lin GROUP BY i
    """,
    "Audio RESAMPLE driver-verified at value level (the resample "
    "operator was pytest-only): the G.711 corpus decodes through the "
    "CCITT expansion, nearest-sample-resamples 8000 -> 3000 Hz "
    "(kept sample k reads source index (k*8000)//3000 — the audio "
    "analog of q143's verified resize index map), re-encodes as PCM "
    "WAV, and re-decodes into exact int64 stats. The oracle "
    "regenerates ONLY the kept samples' codes and applies the same "
    "expansion, so an off-by-one in the index map, output length "
    "floor, or the PCM re-encode round-trip breaks the hash.",
    bench=False,  # exercises the Python kernel path, not a plan shape
)
def q193_audio_resample_stats(spark, sf_dir):
    from ..operators.multimodal import (
        audio_exact_stats,
        resample_audio,
        synthetic_g711_table,
    )

    media = synthetic_g711_table(spark, n=40)
    return audio_exact_stats(resample_audio(media, 3000)).orderBy("media_id")


@_register(
    "q194_click_validation_census",
    """
    WITH d AS (
        SELECT
          CASE WHEN event_id % 97 = 0 THEN NULL ELSE event_id END AS eid,
          CASE WHEN user_id % 89 = 0 THEN NULL
               ELSE user_id * 1000 + event_id % 7 END AS sid,
          ['page_view','product_view','search','add_to_cart','hover']
              [CAST(event_id % 5 AS INT) + 1] AS ct,
          ['mobile','desktop','tablet','smart_tv']
              [CAST(event_id % 4 AS INT) + 1] AS dt,
          CASE CAST(event_id % 12 AS INT)
               WHEN 0 THEN 'https://shop.example/p/'
                           || CAST(event_id AS VARCHAR)
               WHEN 1 THEN 'http://shop.example/s?q='
                           || CAST(user_id AS VARCHAR)
               WHEN 2 THEN 'ftp://files.example/x'
               WHEN 3 THEN 'shop.example/no-scheme'
               WHEN 4 THEN ''
               WHEN 6 THEN 'HTTPS://Shop.Example:443/p/'
                           || CAST(event_id AS VARCHAR)
                           || '?utm_source=ad&b=2&a=1#frag'
               WHEN 7 THEN 'http://shop.example:80?z=9&gclid='
                           || CAST(user_id AS VARCHAR) || '&q=x'
               WHEN 8 THEN 'https://shop.example:8443/p//x?'
               WHEN 9 THEN 'https://shop.example/p%61th%2F/%7e'
                           || CAST(event_id AS VARCHAR)
                           || '?x=%2fv&utm_id=3#f?g'
               WHEN 10 THEN 'HTTP://Shop.Example/a%2fb%4Ac%zz?'
               WHEN 11 THEN 'https://BÜcher.Example:443/p/'
                           || CAST(event_id AS VARCHAR)
                           || '?utm_medium=e&q=1'
               ELSE NULL END AS url,
          -- canonicalize_url's expected output, CLOSED FORM per arm
          -- (the generic Spark chain must land exactly here)
          CASE CAST(event_id % 12 AS INT)
               WHEN 0 THEN 'https://shop.example/p/'
                           || CAST(event_id AS VARCHAR)
               WHEN 1 THEN 'http://shop.example/s?q='
                           || CAST(user_id AS VARCHAR)
               WHEN 2 THEN 'ftp://files.example/x'
               WHEN 3 THEN 'shop.example/no-scheme'
               WHEN 4 THEN ''
               WHEN 6 THEN 'https://shop.example/p/'
                           || CAST(event_id AS VARCHAR) || '?a=1&b=2'
               WHEN 7 THEN 'http://shop.example/?q=x&z=9'
               WHEN 8 THEN 'https://shop.example:8443/p//x'
               WHEN 9 THEN 'https://shop.example/path%2F/~'
                           || CAST(event_id AS VARCHAR) || '?x=%2Fv'
               WHEN 10 THEN 'http://shop.example/a%2FbJc%zz'
               WHEN 11 THEN 'https://xn--bcher-kva.example/p/'
                           || CAST(event_id AS VARCHAR) || '?q=1'
               ELSE NULL END AS canon
        FROM events
    ),
    f AS (
        SELECT url, canon,
          CASE WHEN canon IS NULL THEN NULL
               WHEN canon LIKE 'https://shop.example%' THEN 'shop.example'
               WHEN canon LIKE 'http://shop.example%' THEN 'shop.example'
               WHEN canon LIKE 'ftp://files.example%' THEN 'files.example'
               WHEN canon LIKE 'https://xn--bcher-kva.example%'
                   THEN 'xn--bcher-kva.example'
               ELSE '' END AS host,
          (eid IS NULL OR sid IS NULL OR ct IS NULL
           OR url IS NULL OR dt IS NULL) AS m,
          NOT coalesce(ct IN ('page_view','product_view','search',
              'add_to_cart','remove_from_cart','wishlist_add',
              'checkout_start'), FALSE) AS bad_ct,
          NOT coalesce(dt IN ('mobile','desktop','tablet'), FALSE)
              AS bad_dt,
          NOT coalesce(url LIKE 'http://%' OR url LIKE 'https://%',
              FALSE) AS bad_url,
          coalesce(trim(url) = '', TRUE) AS empty_url
        FROM d
    ),
    g AS (
        SELECT *,
          CAST(m AS INT) + CAST(bad_ct AS INT) + CAST(bad_dt AS INT)
          + CAST(bad_url AS INT) + CAST(empty_url AS INT) AS n_viol
        FROM f
    ),
    x AS (
        SELECT unnest(list_filter([
            CASE WHEN m THEN 'missing_required_field' END,
            CASE WHEN bad_ct THEN 'invalid_click_type' END,
            CASE WHEN bad_dt THEN 'invalid_device_type' END,
            CASE WHEN bad_url THEN 'invalid_url_format' END,
            CASE WHEN empty_url THEN 'empty_page_url' END,
            CASE WHEN n_viol = 0 THEN 'none' END
        ], v -> v IS NOT NULL)) AS violation,
        greatest(0, 100 - 20 * n_viol) AS q,
        url, canon, host
        FROM g
    )
    SELECT violation,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(q) AS BIGINT) AS sum_quality_pct,
           CAST(SUM(CASE WHEN canon <> url THEN 1 ELSE 0 END)
               AS BIGINT) AS n_urls_changed,
           CAST(COUNT(DISTINCT host) AS BIGINT) AS n_canon_hosts,
           CAST(SUM(length(canon)) AS BIGINT) AS sum_canon_len
    FROM x GROUP BY violation
    """,
    "P4/P5 driver-verified (URL-prefix and non-empty-string "
    "predicates were pytest-only): a deterministic click frame "
    "derived from events — now TWELVE URL shapes (round 12): valid "
    "http/https, wrong scheme, scheme-less, empty, null, three "
    "CANONICALIZATION arms (uppercase scheme+host with default :443, "
    "utm/click-id tracking params, unsorted query, fragment; "
    "port-80 host with no path; non-default port with empty query), "
    "two PERCENT-ENCODING arms (round 12): unreserved-escape "
    "decode %61/%7e -> a/~, hex-case uppercasing %2f -> %2F, an "
    "invalid %zz span preserved byte-identical, and a fragment "
    "containing '?' that must NOT be promoted into the query (the "
    "round-12 advice fix), plus an IDN arm (round 12): a Unicode "
    "host BÜcher.Example that the idna_host_udf Arrow kernel folds "
    "to its punycode ACE form xn--bcher-kva.example (stdlib "
    "encodings.idna ToASCII + nameprep case-fold; the oracle "
    "carries the closed-form ACE literal, computed independently) "
    "— flows through validate_clicks' full "
    "check list and the census counts every violation code with the "
    "quality-penalty sum. text.canonicalize_url's GENERIC codegen "
    "chain (scheme/host lowercase, default-port strip, fragment "
    "drop, percent_normalize, tracking-param filter, bytewise param "
    "sort, empty path -> '/', empty query -> no '?') is diffed "
    "against per-arm CLOSED-FORM expected URLs in the oracle via "
    "n_urls_changed / n_canon_hosts / sum_canon_len — a drift "
    "anywhere in the chain shifts a sum. The oracle replays every "
    "predicate including the coalesce null-semantics (a null URL is "
    "BOTH missing and empty — the reference's rule).",
)
def q194_click_validation_census(spark, sf_dir):
    from ..operators.text import canonicalize_url, url_host
    from ..operators.validation import validate_clicks

    e = _t(spark, sf_dir, "events")
    cts = F.array(*[
        F.lit(x) for x in
        ("page_view", "product_view", "search", "add_to_cart", "hover")
    ])
    dts = F.array(*[
        F.lit(x) for x in ("mobile", "desktop", "tablet", "smart_tv")
    ])
    eid = F.col("event_id")
    clicks = e.select(
        F.when(eid % 97 == 0, F.lit(None)).otherwise(eid).alias("event_id"),
        F.when(F.col("user_id") % 89 == 0, F.lit(None))
        .otherwise(F.col("user_id") * 1000 + eid % 7)
        .alias("session_id"),
        F.element_at(cts, (eid % 5).cast("int") + 1).alias("click_type"),
        F.element_at(dts, (eid % 4).cast("int") + 1).alias("device_type"),
        F.when(eid % 12 == 0,
               F.concat(F.lit("https://shop.example/p/"), eid.cast("string")))
        .when(eid % 12 == 1,
              F.concat(F.lit("http://shop.example/s?q="),
                       F.col("user_id").cast("string")))
        .when(eid % 12 == 2, F.lit("ftp://files.example/x"))
        .when(eid % 12 == 3, F.lit("shop.example/no-scheme"))
        .when(eid % 12 == 4, F.lit(""))
        .when(eid % 12 == 6,
              F.concat(F.lit("HTTPS://Shop.Example:443/p/"),
                       eid.cast("string"),
                       F.lit("?utm_source=ad&b=2&a=1#frag")))
        .when(eid % 12 == 7,
              F.concat(F.lit("http://shop.example:80?z=9&gclid="),
                       F.col("user_id").cast("string"), F.lit("&q=x")))
        .when(eid % 12 == 8, F.lit("https://shop.example:8443/p//x?"))
        .when(eid % 12 == 9,
              F.concat(F.lit("https://shop.example/p%61th%2F/%7e"),
                       eid.cast("string"),
                       F.lit("?x=%2fv&utm_id=3#f?g")))
        .when(eid % 12 == 10, F.lit("HTTP://Shop.Example/a%2fb%4Ac%zz?"))
        .when(eid % 12 == 11,
              F.concat(F.lit("https://BÜcher.Example:443/p/"),
                       eid.cast("string"),
                       F.lit("?utm_medium=e&q=1")))
        .otherwise(F.lit(None))
        .alias("page_url"),
    )
    v = validate_clicks(clicks)
    quality_pct = F.greatest(
        F.lit(0), F.lit(100) - F.lit(20) * F.col("n_violations")
    )
    # canon/host materialize in their own Project BELOW the explode
    # (computed-expression-under-Generate discipline)
    staged = v.select(
        "violations",
        quality_pct.alias("q"),
        "page_url",
        canonicalize_url("page_url", idna_hosts=True).alias("canon"),
    ).withColumn("host", url_host("canon"))
    x = staged.select(
        F.explode_outer("violations").alias("violation"),
        "q",
        "page_url",
        "canon",
        "host",
    ).select(
        F.coalesce("violation", F.lit("none")).alias("violation"),
        "q",
        "page_url",
        "canon",
        "host",
    )
    return x.groupBy("violation").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("q").cast("long").alias("sum_quality_pct"),
        F.sum((F.col("canon") != F.col("page_url")).cast("int"))
        .cast("long")
        .alias("n_urls_changed"),
        F.countDistinct("host").cast("long").alias("n_canon_hosts"),
        F.sum(F.length("canon")).cast("long").alias("sum_canon_len"),
    )


@_register(
    "q195_embedding_cluster_drift",
    f"""
    WITH cents AS (
        SELECT centroid_id, coeffs
        FROM read_parquet('{{scratch}}/q46_centroids.parquet/*.parquet')
    ),
    e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
    sims AS (
        SELECT vec_id, label, centroid_id,
               list_cosine_similarity(v, coeffs) AS s
        FROM e, cents
    ),
    assign AS (
        SELECT vec_id, label, centroid_id AS bin FROM (
            SELECT *, row_number() OVER (
                PARTITION BY vec_id ORDER BY s DESC, centroid_id) AS rn
            FROM sims) WHERE rn = 1
    ),
    src AS (SELECT label, bin, vec_id % 2 = 1 AS cur FROM assign),
    counts AS (
        SELECT label, bin, cur, COUNT(*) AS n
        FROM src GROUP BY label, bin, cur
    ),
    totals AS (
        SELECT label,
               CAST(SUM(CASE WHEN NOT cur THEN n ELSE 0 END) AS BIGINT)
                   AS n_base,
               CAST(SUM(CASE WHEN cur THEN n ELSE 0 END) AS BIGINT)
                   AS n_cur
        FROM counts GROUP BY label
    ),
    grid AS (
        SELECT label, n_base, n_cur, unnest(range(0, 8)) AS bin
        FROM totals
    ),
    j AS (
        SELECT g.label, g.n_base, g.n_cur, g.bin,
               COALESCE(b.n, 0) + 1 AS kb,
               COALESCE(c.n, 0) + 1 AS kc
        FROM grid g
        LEFT JOIN counts b
          ON b.label = g.label AND b.bin = g.bin AND NOT b.cur
        LEFT JOIN counts c
          ON c.label = g.label AND c.bin = g.bin AND c.cur
    ),
    terms AS (
        SELECT label, n_base, n_cur,
               CAST(round((kb / (n_base + 8.0) - kc / (n_cur + 8.0))
                          * 1000000) AS BIGINT)
               * CAST(round(ln((kb / (n_base + 8.0))
                               / (kc / (n_cur + 8.0))) * 1000000)
                     AS BIGINT) AS contrib
        FROM j
    )
    SELECT label, n_base, n_cur,
           CAST(SUM(contrib) AS BIGINT) AS psi_micro2,
           CAST(SUM(contrib) AS BIGINT) / 1e12 AS psi
    FROM terms GROUP BY label, n_base, n_cur
    """.replace("{scratch}", ORACLE_SCRATCH),
    "EMBEDDING-SPACE drift monitoring — q126's PSI lifted from value "
    "bins to VECTOR-SPACE bins: each vector's IVF cell (the shared "
    "memoized q46 codebook) is its bucket, and per-label PSI between "
    "two ingestion batches (vec_id parity) flags a label whose "
    "embedding distribution moved — the retrain/recalibrate signal a "
    "production vector pipeline watches, since raw-value PSI can't "
    "see a rotation in embedding space. Laplace-smoothed, "
    "micro^2-exact integer PSI terms (the q126 discipline) over the "
    "8-cell assignment the q129/q132 family already certifies.",
)
def q195_embedding_cluster_drift(spark, sf_dir):
    from ..operators.drift import psi_drift

    emb = _t(spark, sf_dir, "embeddings")
    cents, idx_path = _ivf_index_for(spark, sf_dir)
    idx = spark.read.parquet(idx_path).select(
        F.col("neighbor_id").alias("vec_id"), "cluster"
    )
    d = emb.select("vec_id", "label").join(idx, "vec_id")
    return psi_drift(
        d,
        "label",
        F.col("cluster"),
        (F.col("vec_id") % 2) == 1,
        n_bins=8,
    )


@_register(
    "q196_order_validation_census",
    """
    WITH o AS (SELECT o_orderkey AS k FROM orders),
    d AS (
        SELECT k,
          CASE WHEN k % 101 = 0 THEN NULL ELSE k END AS eid,
          ['pending','confirmed','shipped','delivered','archived']
              [CAST(k % 5 AS INT) + 1] AS status,
          CAST(k % 4 AS INT) AS n,
          list_transform(range(CAST(k % 4 AS INT)), i -> struct_pack(
              quantity := CAST((k + i + 1) % 7 AS INT) - 1,
              unit_price := ((k * 3 + (i + 1) * 11) % 160 + 4) / 4.0,
              discount_pct := CAST(((k + i + 1) % 4) * 25 AS INT)
          )) AS items
        FROM o
    ),
    c AS (
        SELECT *,
          coalesce((SELECT SUM(x.quantity * x.unit_price
                               * (1 - x.discount_pct / 100))
                    FROM unnest(d.items) AS t(x)), 0.0) AS calc
        FROM d
    ),
    tt AS (
        SELECT *,
          CASE CAST(k % 5 AS INT)
               WHEN 0 THEN calc
               WHEN 1 THEN calc + 0.25
               WHEN 2 THEN calc + 0.75
               WHEN 3 THEN CASE WHEN k % 11 = 0
                                THEN 200000.25 ELSE calc END
               ELSE NULL END AS total
        FROM c
    ),
    f AS (
        SELECT
          (eid IS NULL OR k IS NULL OR status IS NULL
           OR total IS NULL) AS m,
          NOT coalesce(status IN ('pending','confirmed','shipped',
              'delivered','cancelled','refunded'), FALSE) AS bad_status,
          coalesce(total < 0 OR total > 100000, TRUE) AS oor,
          coalesce(len(items) = 0, TRUE) AS empty_items,
          coalesce(len(list_filter(items,
              x -> x.quantity <= 0 OR x.unit_price <= 0)) > 0, FALSE)
              AS bad_item,
          coalesce(abs(total - calc) > 0.50, FALSE) AS mismatch
        FROM tt
    ),
    g AS (
        SELECT *,
          CAST(m AS INT) + CAST(bad_status AS INT) + CAST(oor AS INT)
          + CAST(empty_items AS INT) + CAST(bad_item AS INT)
          + CAST(mismatch AS INT) AS n_viol
        FROM f
    ),
    x AS (
        SELECT unnest(list_filter([
            CASE WHEN m THEN 'missing_required_field' END,
            CASE WHEN bad_status THEN 'invalid_order_status' END,
            CASE WHEN oor THEN 'total_amount_out_of_range' END,
            CASE WHEN empty_items THEN 'empty_items' END,
            CASE WHEN bad_item THEN 'invalid_item_values' END,
            CASE WHEN mismatch THEN 'total_mismatch' END,
            CASE WHEN n_viol = 0 THEN 'none' END
        ], v -> v IS NOT NULL)) AS violation,
        greatest(0, 100 - 25 * n_viol) AS q
        FROM g
    )
    SELECT violation,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(q) AS BIGINT) AS sum_quality_pct
    FROM x GROUP BY violation
    """,
    "P10/A8 driver-verified (empty-items and item-value-bounds "
    "predicates were pytest-only): a deterministic order-event frame "
    "with items ARRAYS built from closed forms flows through "
    "validate_orders' full check list — including the P9 line-total "
    "fold. Float parity is engineered, not hoped for: quarter-dollar "
    "prices and {0,25,50,75}%% discounts make every line total an "
    "exactly-representable dyadic rational, so the Spark aggregate "
    "fold and the oracle's SUM over unnested items are bit-identical "
    "REGARDLESS of summation order, and the planted offsets "
    "(0/0.25/0.75 vs the 0.50 tolerance) sit decisively on either "
    "side of the mismatch frontier. Null totals fire the range check "
    "(the operator's coalesce-to-true rule) and slice-built empty "
    "arrays fire empty_items.",
)
def q196_order_validation_census(spark, sf_dir):
    from ..operators.validation import validate_orders

    o = _t(spark, sf_dir, "orders").select(F.col("o_orderkey").alias("k"))
    statuses = F.array(*[
        F.lit(x) for x in
        ("pending", "confirmed", "shipped", "delivered", "archived")
    ])
    d = o.select(
        "k",
        F.when(F.col("k") % 101 == 0, F.lit(None))
        .otherwise(F.col("k"))
        .alias("event_id"),
        F.col("k").alias("order_id"),
        F.element_at(statuses, (F.col("k") % 5).cast("int") + 1).alias(
            "order_status"
        ),
        (F.col("k") % 4).cast("int").alias("n"),
        F.expr(
            "slice(transform(sequence(1, 3), i -> struct("
            "CAST((k + i) % 7 AS INT) - 1 AS quantity, "
            "((k * 3 + i * 11) % 160 + 4) / 4.0 AS unit_price, "
            "CAST(((k + i) % 4) * 25 AS INT) AS discount_pct)), "
            "1, CAST(k % 4 AS INT))"
        ).alias("items"),
    )
    calc = F.expr(
        "aggregate(items, 0D, (acc, x) -> acc + "
        "(x.quantity * x.unit_price * (1 - x.discount_pct / 100)))"
    )
    tt = d.withColumn(
        "total_amount",
        F.when(F.col("k") % 5 == 0, calc)
        .when(F.col("k") % 5 == 1, calc + 0.25)
        .when(F.col("k") % 5 == 2, calc + 0.75)
        .when(
            F.col("k") % 5 == 3,
            F.when(F.col("k") % 11 == 0, F.lit(200000.25)).otherwise(calc),
        )
        .otherwise(F.lit(None)),
    )
    v = validate_orders(tt)
    quality_pct = F.greatest(
        F.lit(0), F.lit(100) - F.lit(25) * F.col("n_violations")
    )
    x = v.select(
        F.explode_outer("violations").alias("violation"),
        quality_pct.alias("q"),
    ).select(
        F.coalesce("violation", F.lit("none")).alias("violation"), "q"
    )
    return x.groupBy("violation").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("q").cast("long").alias("sum_quality_pct"),
    )


@_register(
    "q197_cdc_validation_census",
    """
    WITH d AS (
        SELECT p_partkey AS k,
          CASE WHEN p_partkey % 97 = 0 THEN NULL
               ELSE p_partkey END AS eid,
          ['INSERT','UPDATE','DELETE','UPSERT']
              [CAST(p_partkey % 4 AS INT) + 1] AS op,
          CASE WHEN p_partkey % 3 = 0 THEN NULL
               ELSE (p_partkey * 13) % 500 - 50 END AS before_stock,
          CASE WHEN p_partkey % 5 = 0 THEN NULL
               ELSE (p_partkey * 7) % 400 - 20 END AS after_stock
        FROM part
    ),
    f AS (
        SELECT
          (eid IS NULL) AS m,
          (op = 'UPSERT') AS bad_op,
          (op = 'INSERT' AND after_stock IS NULL) AS ins_bad,
          (op = 'DELETE' AND before_stock IS NULL) AS del_bad,
          (coalesce(before_stock < 0, FALSE)
           OR coalesce(after_stock < 0, FALSE)) AS neg
        FROM d
    ),
    g AS (
        SELECT *,
          CAST(m AS INT) + CAST(bad_op AS INT) + CAST(ins_bad AS INT)
          + CAST(del_bad AS INT) + CAST(neg AS INT) AS n_viol
        FROM f
    ),
    x AS (
        SELECT unnest(list_filter([
            CASE WHEN m THEN 'missing_required_field' END,
            CASE WHEN bad_op THEN 'invalid_operation' END,
            CASE WHEN ins_bad THEN 'insert_missing_after' END,
            CASE WHEN del_bad THEN 'delete_missing_before' END,
            CASE WHEN neg THEN 'negative_stock' END,
            CASE WHEN n_viol = 0 THEN 'none' END
        ], v -> v IS NOT NULL)) AS violation,
        greatest(0, 100 - 30 * n_viol) AS q
        FROM g
    )
    SELECT violation,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(q) AS BIGINT) AS sum_quality_pct
    FROM x GROUP BY violation
    """,
    "P11 driver-verified (CDC op/image-consistency checks were "
    "pytest-only): a deterministic CDC frame — op vocabulary with a "
    "planted invalid op, before/after images nulled on coprime "
    "cycles so INSERT-without-after and DELETE-without-before both "
    "fire, negative stock in either image — flows through "
    "validate_cdc and the census counts every code plus the clean "
    "class with the 30-point penalty sums. Null-struct navigation "
    "(before.stock_quantity on a null struct) exercises the "
    "coalesce-to-false rule the operator encodes.",
)
def q197_cdc_validation_census(spark, sf_dir):
    from ..operators.validation import validate_cdc

    p = _t(spark, sf_dir, "part").select(F.col("p_partkey").alias("k"))
    ops = F.array(*[F.lit(x) for x in ("INSERT", "UPDATE", "DELETE", "UPSERT")])
    d = p.select(
        F.when(F.col("k") % 97 == 0, F.lit(None))
        .otherwise(F.col("k"))
        .alias("event_id"),
        F.element_at(ops, (F.col("k") % 4).cast("int") + 1).alias("operation"),
        F.when(F.col("k") % 3 == 0, F.lit(None))
        .otherwise(
            F.struct(((F.col("k") * 13) % 500 - 50).alias("stock_quantity"))
        )
        .alias("before"),
        F.when(F.col("k") % 5 == 0, F.lit(None))
        .otherwise(
            F.struct(((F.col("k") * 7) % 400 - 20).alias("stock_quantity"))
        )
        .alias("after"),
    )
    v = validate_cdc(d)
    quality_pct = F.greatest(
        F.lit(0), F.lit(100) - F.lit(30) * F.col("n_violations")
    )
    x = v.select(
        F.explode_outer("violations").alias("violation"),
        quality_pct.alias("q"),
    ).select(
        F.coalesce("violation", F.lit("none")).alias("violation"), "q"
    )
    return x.groupBy("violation").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("q").cast("long").alias("sum_quality_pct"),
    )


@_register(
    "q198_codec_gate_census",
    """
    WITH p AS (
        SELECT i, 15 + (i % 6) * 3 AS w, 11 + (i % 4) * 3 AS h
        FROM range(36) t(i)
    ),
    pys AS (SELECT i, w, unnest(range(h)) AS y FROM p),
    ppx AS (SELECT i, y, unnest(range(w)) AS x FROM pys),
    pch AS (
        SELECT i,
               (x * 257 + y * 509 + i * 1021) % 65536 AS r,
               ((x * 257 + y * 509 + i * 1021) % 65536 + 21845) % 65536
                   AS g,
               ((x * 257 + y * 509 + i * 1021) % 65536 + 43690) % 65536
                   AS b
        FROM ppx
    ),
    ppm AS (
        SELECT 'ppm16' AS fmt, i AS media_id,
               CAST(COUNT(*) AS BIGINT) AS n_px,
               CAST(SUM(r) AS BIGINT) AS sum_r,
               CAST(SUM(g) AS BIGINT) AS sum_g,
               CAST(SUM(b) AS BIGINT) AS sum_b,
               CAST(MAX(GREATEST(r, g, b)) AS BIGINT) AS aux
        FROM pch GROUP BY i
    ),
    tf AS (
        SELECT i, 14 + (i % 5) * 3 AS w, 10 + (i % 3) * 4 AS h
        FROM range(30) t(i)
    ),
    tys AS (SELECT i, w, unnest(range(h)) AS y FROM tf),
    tpx AS (SELECT i, y, unnest(range(w)) AS x FROM tys),
    tch AS (
        SELECT i,
               (x * 263 + y * 521 + i * 1031) % 65536 AS r,
               ((x * 263 + y * 521 + i * 1031) % 65536 + 21845) % 65536
                   AS g,
               ((x * 263 + y * 521 + i * 1031) % 65536 + 43690) % 65536
                   AS b
        FROM tpx
    ),
    tif AS (
        SELECT 'tiff16' AS fmt, i AS media_id,
               CAST(COUNT(*) AS BIGINT) AS n_px,
               CAST(SUM(r) AS BIGINT) AS sum_r,
               CAST(SUM(g) AS BIGINT) AS sum_g,
               CAST(SUM(b) AS BIGINT) AS sum_b,
               CAST(MAX(GREATEST(r, g, b)) AS BIGINT) AS aux
        FROM tch GROUP BY i
    ),
    sbm AS (
        SELECT i,
               CASE i % 3 WHEN 0 THEN 1 WHEN 1 THEN 2 ELSE 4 END AS d,
               19 + (i % 4) * 5 AS w, 13 + (i % 5) * 3 AS h
        FROM range(24) t(i)
    ),
    sbys AS (SELECT i, d, w, unnest(range(h)) AS y FROM sbm),
    sbpx AS (SELECT i, d, y, unnest(range(w)) AS x FROM sbys),
    sbv AS (
        SELECT i,
               ((x * 3 + y * 7 + i * 11) % (1 << d))
                   * (255 // ((1 << d) - 1)) AS v
        FROM sbpx
    ),
    tifsb AS (
        SELECT 'tiff' AS fmt, i AS media_id,
               CAST(COUNT(*) AS BIGINT) AS n_px,
               CAST(SUM(v) AS BIGINT) AS sum_r,
               CAST(SUM(v) AS BIGINT) AS sum_g,
               CAST(SUM(v) AS BIGINT) AS sum_b,
               CAST(MAX(v) AS BIGINT) AS aux
        FROM sbv GROUP BY i
    ),
    ckm AS (
        SELECT i, 15 + (i % 4) * 4 AS w, 9 + (i % 3) * 4 AS h
        FROM range(12) t(i)
    ),
    ckys AS (SELECT i, w, unnest(range(h)) AS y FROM ckm),
    ckpx AS (SELECT i, y, unnest(range(w)) AS x FROM ckys),
    ckv AS (
        SELECT i,
               (x * 5 + y * 11 + i * 13) % 256 AS c,
               ((x * 5 + y * 11 + i * 13) % 256 + 85) % 256 AS m,
               ((x * 5 + y * 11 + i * 13) % 256 + 170) % 256 AS yk,
               (x * 3 + y * 7 + i * 19) % 256 AS k
        FROM ckpx
    ),
    ckrgb AS (
        SELECT i,
               ((255 - c) * (255 - k)) // 255 AS r,
               ((255 - m) * (255 - k)) // 255 AS g2,
               ((255 - yk) * (255 - k)) // 255 AS b2
        FROM ckv
    ),
    tifck AS (
        SELECT 'tiff' AS fmt, i + 200 AS media_id,
               CAST(COUNT(*) AS BIGINT) AS n_px,
               CAST(SUM(r) AS BIGINT) AS sum_r,
               CAST(SUM(g2) AS BIGINT) AS sum_g,
               CAST(SUM(b2) AS BIGINT) AS sum_b,
               CAST(MAX(GREATEST(r, g2, b2)) AS BIGINT) AS aux
        FROM ckrgb GROUP BY i
    ),
    -- round 11: CMYK JPEG-in-TIFF rows (+212..217) — block-constant
    -- ink tiles through 4-component no-transform scans; per-tile
    -- closed form x 64 pixels per tile
    ckjm AS (
        SELECT i, (16 + (i % 3) * 8) // 8 AS tw, (16 + (i % 2) * 8) // 8 AS th
        FROM range(12, 26) t(i)
    ),
    ckjb AS (SELECT i, tw, unnest(range(th)) AS by FROM ckjm),
    ckjt AS (SELECT i, by, unnest(range(tw)) AS bx FROM ckjb),
    -- rows 18-23 are the YCCK arms: GRAY ink (C = M = Y); rows
    -- 24-25 (round 12) ARITHMETIC no-transform scans with the
    -- colored-ink formulas again
    ckjv AS (
        SELECT i,
               (i * 41 + by * 9 + bx * 23) % 256 AS c,
               CASE WHEN i >= 18 AND i < 24
                    THEN (i * 41 + by * 9 + bx * 23) % 256
                    ELSE ((i * 41 + by * 9 + bx * 23) % 256 + 85) % 256
               END AS m,
               CASE WHEN i >= 18 AND i < 24
                    THEN (i * 41 + by * 9 + bx * 23) % 256
                    ELSE ((i * 41 + by * 9 + bx * 23) % 256 + 170) % 256
               END AS yk,
               (i * 17 + by * 5 + bx * 3) % 256 AS k
        FROM ckjt
    ),
    ckjrgb AS (
        SELECT i,
               ((255 - c) * (255 - k)) // 255 AS r,
               ((255 - m) * (255 - k)) // 255 AS g2,
               ((255 - yk) * (255 - k)) // 255 AS b2
        FROM ckjv
    ),
    tifckj AS (
        SELECT 'tiff' AS fmt, i + 200 AS media_id,
               CAST(64 * COUNT(*) AS BIGINT) AS n_px,
               CAST(64 * SUM(r) AS BIGINT) AS sum_r,
               CAST(64 * SUM(g2) AS BIGINT) AS sum_g,
               CAST(64 * SUM(b2) AS BIGINT) AS sum_b,
               CAST(MAX(GREATEST(r, g2, b2)) AS BIGINT) AS aux
        FROM ckjrgb GROUP BY i
    ),
    pcm2 AS (
        SELECT i, 9 + (i % 4) * 5 AS w, 7 + (i % 3) * 4 AS h
        FROM range(12) t(i)
    ),
    pcys AS (SELECT i, w, unnest(range(h)) AS y FROM pcm2),
    pcpx AS (SELECT i, y, unnest(range(w)) AS x FROM pcys),
    -- round 10: five layouts by i%5; the EGA bit-plane (i%5=3,
    -- 2 + i%3 planes) and packed-4bpp (i%5=4) indices resolve
    -- through the 16-entry header palette
    pcidx AS (
        SELECT i, x, y,
               CASE i % 5
                 WHEN 3 THEN (x + y * 2 + i) %
                      (CASE i % 3 WHEN 0 THEN 4 WHEN 1 THEN 8
                       ELSE 16 END)
                 ELSE (x * 3 + y + i) %
                      (CASE WHEN i = 9 THEN 4 ELSE 16 END) END AS eidx
        FROM pcpx
    ),
    pcch AS (
        SELECT i,
          CASE i % 5
            WHEN 0 THEN (x * 11 + y * 3 + i * 23) % 256
            WHEN 1 THEN (((x * 3 + y * 5 + i * 7) % 256) * 7 + 5) % 256
            WHEN 2 THEN (((x // (1 + i % 3)) + (y // (1 + i % 2)) + i)
                         % 2) * 255
            ELSE (eidx * 11 + 3) % 256 END AS r,
          CASE i % 5
            WHEN 0 THEN ((x * 11 + y * 3 + i * 23) % 256 + 85) % 256
            WHEN 1 THEN (((x * 3 + y * 5 + i * 7) % 256) * 3 + 57) % 256
            WHEN 2 THEN (((x // (1 + i % 3)) + (y // (1 + i % 2)) + i)
                         % 2) * 255
            ELSE (eidx * 7 + 29) % 256 END AS g2,
          CASE i % 5
            WHEN 0 THEN ((x * 11 + y * 3 + i * 23) % 256 + 170) % 256
            WHEN 1 THEN (((x * 3 + y * 5 + i * 7) % 256) * 13 + 19)
                        % 256
            WHEN 2 THEN (((x // (1 + i % 3)) + (y // (1 + i % 2)) + i)
                         % 2) * 255
            ELSE (eidx * 3 + 101) % 256 END AS b2
        FROM pcidx
    ),
    pcxrows AS (
        SELECT 'pcx' AS fmt, i AS media_id,
               CAST(COUNT(*) AS BIGINT) AS n_px,
               CAST(SUM(r) AS BIGINT) AS sum_r,
               CAST(SUM(g2) AS BIGINT) AS sum_g,
               CAST(SUM(b2) AS BIGINT) AS sum_b,
               CAST(MAX(GREATEST(r, g2, b2)) AS BIGINT) AS aux
        FROM pcch GROUP BY i
    ),
    icm AS (
        SELECT i, 10 + (i % 4) * 4 AS w, 8 + (i % 3) * 4 AS h
        FROM range(12) t(i)
    ),
    icys AS (SELECT i, w, unnest(range(h)) AS y FROM icm),
    icpx AS (SELECT i, y, unnest(range(w)) AS x FROM icys),
    -- i%4=3 rows store X1R5G5B5 16bpp DIBs (round 10): channels
    -- 5-bit-quantized with bit replication
    icbase AS (
        SELECT i,
               (x * 9 + y * 5 + i * 17) % 256 AS cr,
               ((x * 9 + y * 5 + i * 17) % 256 + 85) % 256 AS cg,
               ((x * 9 + y * 5 + i * 17) % 256 + 170) % 256 AS cb
        FROM icpx
    ),
    icch AS (
        SELECT i,
               CASE WHEN i % 4 = 3
                    THEN (cr // 8) * 8 + (cr // 8) // 4 ELSE cr END AS r,
               CASE WHEN i % 4 = 3
                    THEN (cg // 8) * 8 + (cg // 8) // 4 ELSE cg END AS g2,
               CASE WHEN i % 4 = 3
                    THEN (cb // 8) * 8 + (cb // 8) // 4 ELSE cb END AS b2
        FROM icbase
    ),
    icrows AS (
        SELECT 'ico' AS fmt, i AS media_id,
               CAST(COUNT(*) AS BIGINT) AS n_px,
               CAST(SUM(r) AS BIGINT) AS sum_r,
               CAST(SUM(g2) AS BIGINT) AS sum_g,
               CAST(SUM(b2) AS BIGINT) AS sum_b,
               CAST(MAX(GREATEST(r, g2, b2)) AS BIGINT) AS aux
        FROM icch GROUP BY i
    ),
    pnm AS (
        SELECT i, 9 + (i % 4) * 4 AS w, 7 + (i % 3) * 3 AS h,
               CASE WHEN i % 2 = 0 THEN 255 ELSE 15 END AS mv
        FROM range(20) t(i)
    ),
    pnmys AS (SELECT i, w, mv, unnest(range(h)) AS y FROM pnm),
    pnmpx AS (SELECT i, mv, y, unnest(range(w)) AS x FROM pnmys),
    pnmch AS (
        SELECT i,
          CASE i % 5
            WHEN 0 THEN (1 - ((x // (1 + i % 3)) + (y // (1 + i % 2))
                              + i) % 2) * 255
            WHEN 3 THEN (1 - ((x // (1 + i % 3)) + (y // (1 + i % 2))
                              + i) % 2) * 255
            WHEN 1 THEN (((x * 5 + y * 9 + i * 7) % (mv + 1)) * 255
                         + mv // 2) // mv
            WHEN 2 THEN (((x * 5 + y * 9 + i * 7) % (mv + 1)) * 255
                         + mv // 2) // mv
            ELSE CASE WHEN i % 2 = 0
                 THEN (x * 3 + y * 11 + i * 13) % 256
                 ELSE (x * 257 + y * 509 + i * 1021) % 65536 END
          END AS r,
          CASE i % 5
            WHEN 2 THEN ((((x * 5 + y * 9 + i * 7) % (mv + 1)
                           + (mv + 1) // 3) % (mv + 1)) * 255
                         + mv // 2) // mv
            ELSE NULL END AS g_p3,
          CASE i % 5
            WHEN 2 THEN ((((x * 5 + y * 9 + i * 7) % (mv + 1)
                           + 2 * ((mv + 1) // 3)) % (mv + 1)) * 255
                         + mv // 2) // mv
            ELSE NULL END AS b_p3
        FROM pnmpx
    ),
    pnmrgb AS (
        SELECT i, r,
               COALESCE(g_p3, r) AS g2,
               COALESCE(b_p3, r) AS b2
        FROM pnmch
    ),
    pnmrows AS (
        SELECT 'pnm' AS fmt, i AS media_id,
               CAST(COUNT(*) AS BIGINT) AS n_px,
               CAST(SUM(r) AS BIGINT) AS sum_r,
               CAST(SUM(g2) AS BIGINT) AS sum_g,
               CAST(SUM(b2) AS BIGINT) AS sum_b,
               CAST(MAX(GREATEST(r, g2, b2)) AS BIGINT) AS aux
        FROM pnmrgb GROUP BY i
    ),
    tfm AS (
        SELECT i, 10 + (i % 4) * 4 AS w, 8 + (i % 3) * 4 AS h
        FROM range(12) t(i)
    ),
    tfys AS (SELECT i, w, unnest(range(h)) AS y FROM tfm),
    tfpx AS (SELECT i, y, unnest(range(w)) AS x FROM tfys),
    tfv AS (
        SELECT i,
               (x * 7 + y * 13 + i * 3) % 256 AS base,
               (x + y + i) % 16 AS frac
        FROM tfpx
    ),
    tfq AS (
        SELECT i,
               base * 16 + frac AS qr,
               CASE WHEN i % 2 = 0 THEN base * 16 + frac
                    ELSE ((base + 85) % 256) * 16 + frac END AS qg,
               CASE WHEN i % 2 = 0 THEN base * 16 + frac
                    ELSE ((base + 170) % 256) * 16 + frac END AS qb
        FROM tfv
    ),
    tifff AS (
        SELECT 'tiff_f' AS fmt, i + 800 AS media_id,
               CAST(COUNT(*) AS BIGINT) AS n_px,
               CAST(SUM(qr) AS BIGINT) AS sum_r,
               CAST(SUM(qg) AS BIGINT) AS sum_g,
               CAST(SUM(qb) AS BIGINT) AS sum_b,
               CAST(MAX(GREATEST(qr, qg, qb)) AS BIGINT) AS aux
        FROM tfq GROUP BY i
    ),
    tgm AS (
        SELECT i, 11 + (i % 4) * 5 AS w, 9 + (i % 3) * 4 AS h
        FROM range(20) t(i)
    ),
    tgys AS (SELECT i, w, unnest(range(h)) AS y FROM tgm),
    tgpx AS (SELECT i, y, unnest(range(w)) AS x FROM tgys),
    tgv AS (
        SELECT i,
               (x * 7 + y * 13 + i * 31) % 256 AS base,
               -- i=13 stores a cm_first=32 colormap; its indices
               -- re-range to [32, 256)
               CASE WHEN i = 13 THEN 32 + (x + y * 3 + i) % 224
                    ELSE (x + y * 3 + i) % 256 END AS idx
        FROM tgpx
    ),
    -- i=3 (15-bit) and i=8 (16-bit) store X1R5G5B5 colormap
    -- entries: 5-bit-quantized channels bit-replicated on decode
    tgpal AS (
        SELECT i, idx, base,
               (idx * 5 + 3) % 256 AS pr,
               (idx * 7 + 11) % 256 AS pg,
               (idx * 11 + 29) % 256 AS pb
        FROM tgv
    ),
    tgrgb AS (
        SELECT i,
               CASE i % 5
                 WHEN 2 THEN base
                 WHEN 3 THEN CASE WHEN i IN (3, 8)
                      THEN (pr // 8) * 8 + (pr // 8) // 4 ELSE pr END
                 WHEN 4 THEN (base // 8) * 8 + (base // 8) // 4
                 ELSE base END AS r,
               CASE i % 5
                 WHEN 2 THEN base
                 WHEN 3 THEN CASE WHEN i IN (3, 8)
                      THEN (pg // 8) * 8 + (pg // 8) // 4 ELSE pg END
                 WHEN 4 THEN (((base + 85) % 256) // 8) * 8
                             + (((base + 85) % 256) // 8) // 4
                 ELSE (base + 85) % 256 END AS g2,
               CASE i % 5
                 WHEN 2 THEN base
                 WHEN 3 THEN CASE WHEN i IN (3, 8)
                      THEN (pb // 8) * 8 + (pb // 8) // 4 ELSE pb END
                 WHEN 4 THEN (((base + 170) % 256) // 8) * 8
                             + (((base + 170) % 256) // 8) // 4
                 ELSE (base + 170) % 256 END AS b2
        FROM tgpal
    ),
    tga AS (
        SELECT 'tga' AS fmt, i + 700 AS media_id,
               CAST(COUNT(*) AS BIGINT) AS n_px,
               CAST(SUM(r) AS BIGINT) AS sum_r,
               CAST(SUM(g2) AS BIGINT) AS sum_g,
               CAST(SUM(b2) AS BIGINT) AS sum_b,
               CAST(MAX(GREATEST(r, g2, b2)) AS BIGINT) AS aux
        FROM tgrgb GROUP BY i
    ),
    tjm AS (
        SELECT i, 24 + (i % 3) * 8 AS w, 16 + (i % 2) * 16 AS h
        FROM range(30) t(i)
    ),
    tjb AS (SELECT i, w, unnest(range(h // 8)) AS by FROM tjm),
    tjt AS (SELECT i, by, unnest(range(w // 8)) AS bx FROM tjb),
    tjv AS (SELECT i, (i * 41 + by * 9 + bx * 17) % 256 AS t FROM tjt),
    -- round 11/12: the RGB-SPACE arms (i%15 in (2,3,5,6) —
    -- photometric 2, no color transform) carry true-color per-tile
    -- constants; every other layout arm (tiled/planar/old-style +
    -- the round-12 planar 9/10, per-strip old-style 11/12, TILED
    -- planar YCbCr 13, and ARITHMETIC strips 14) is gray and
    -- oracle-invisible
    tjch AS (
        SELECT i, t,
               CASE WHEN i % 15 IN (2, 3, 5, 6)
                    THEN (t + 85) % 256 ELSE t END AS g2,
               CASE WHEN i % 15 IN (2, 3, 5, 6)
                    THEN (t + 170) % 256 ELSE t END AS b2
        FROM tjv
    ),
    tifjp AS (
        SELECT 'tiff' AS fmt, i + 600 AS media_id,
               CAST(64 * COUNT(*) AS BIGINT) AS n_px,
               CAST(64 * SUM(t) AS BIGINT) AS sum_r,
               CAST(64 * SUM(g2) AS BIGINT) AS sum_g,
               CAST(64 * SUM(b2) AS BIGINT) AS sum_b,
               CAST(MAX(GREATEST(t, g2, b2)) AS BIGINT) AS aux
        FROM tjch GROUP BY i
    ),
    plm AS (
        SELECT i, 9 + (i % 3) * 5 AS w, 7 + (i % 2) * 4 AS h
        FROM range(6) t(i)
    ),
    plys AS (SELECT i, w, unnest(range(h)) AS y FROM plm),
    plpx AS (SELECT i, y, unnest(range(w)) AS x FROM plys),
    plidx AS (
        SELECT i, (x * 271 + y * 523 + i * 1033) % 65536 AS idx
        FROM plpx
    ),
    plrgb AS (
        SELECT i,
               ((idx * 3 + 11) % 65536) // 256 AS r,
               ((idx * 5 + 17) % 65536) // 256 AS g2,
               ((idx * 7 + 91) % 65536) // 256 AS b2
        FROM plidx
    ),
    tifpl AS (
        SELECT 'tiff' AS fmt, i + 400 AS media_id,
               CAST(COUNT(*) AS BIGINT) AS n_px,
               CAST(SUM(r) AS BIGINT) AS sum_r,
               CAST(SUM(g2) AS BIGINT) AS sum_g,
               CAST(SUM(b2) AS BIGINT) AS sum_b,
               CAST(MAX(GREATEST(r, g2, b2)) AS BIGINT) AS aux
        FROM plrgb GROUP BY i
    ),
    sck AS (
        SELECT i, CASE WHEN i % 2 = 0 THEN 15 ELSE 3 END AS fl,
               13 + (i % 3) * 4 AS w, 9 + (i % 2) * 4 AS h
        FROM range(6) t(i)
    ),
    sckys AS (SELECT i, fl, w, unnest(range(h)) AS y FROM sck),
    sckpx AS (SELECT i, fl, y, unnest(range(w)) AS x FROM sckys),
    sckv AS (
        SELECT i, fl,
               (x * 3 + y * 5 + i * 7) % (fl + 1) AS c,
               ((x * 3 + y * 5 + i * 7) % (fl + 1) + 1) % (fl + 1) AS m,
               ((x * 3 + y * 5 + i * 7) % (fl + 1) + 2) % (fl + 1) AS yk,
               (x + y + i) % (fl + 1) AS k
        FROM sckpx
    ),
    sckrgb AS (
        SELECT i,
               ((fl - c) * (fl - k)) // fl * (255 // fl) AS r,
               ((fl - m) * (fl - k)) // fl * (255 // fl) AS g2,
               ((fl - yk) * (fl - k)) // fl * (255 // fl) AS b2
        FROM sckv
    ),
    tifsck AS (
        SELECT 'tiff' AS fmt, i + 250 AS media_id,
               CAST(COUNT(*) AS BIGINT) AS n_px,
               CAST(SUM(r) AS BIGINT) AS sum_r,
               CAST(SUM(g2) AS BIGINT) AS sum_g,
               CAST(SUM(b2) AS BIGINT) AS sum_b,
               CAST(MAX(GREATEST(r, g2, b2)) AS BIGINT) AS aux
        FROM sckrgb GROUP BY i
    ),
    ycm AS (
        SELECT i, 11 + (i % 4) * 7 AS w, 9 + (i % 3) * 5 AS h,
               CASE i % 3 WHEN 0 THEN 1 ELSE 2 END AS sh,
               CASE i % 3 WHEN 1 THEN 2 ELSE 1 END AS sv
        FROM range(32) t(i)
    ),
    ycys AS (SELECT i, w, sh, sv, unnest(range(h)) AS y FROM ycm),
    ycpx AS (SELECT i, sh, sv, y, unnest(range(w)) AS x FROM ycys),
    -- round 11 ReferenceBlackWhite arms: i%6==4 video range
    -- ((code-16)*255/219, (code-128)*127/112), i%6==5 exact-5x
    -- (Y codes %52, Yfull = code*5); default rows keep the
    -- full-range identity — the decoder's general linear map
    -- reduces to it exactly in IEEE double
    yccv AS (
        SELECT i,
               CASE i % 6
                 WHEN 4 THEN (CAST((x * 7 + y * 13 + i * 23) % 256
                      AS DOUBLE) - 16.0) * (255.0 / 219.0)
                 WHEN 5 THEN CAST((x * 7 + y * 13 + i * 23) % 52
                      AS DOUBLE) * 5.0
                 ELSE CAST((x * 7 + y * 13 + i * 23) % 256 AS DOUBLE)
               END AS yv,
               (CAST(((x // sh) * 11 + (y // sv) * 17 + i * 5) % 256
                    AS DOUBLE) - 128.0)
               * (CASE WHEN i % 6 = 4 THEN 127.0 / 112.0 ELSE 1.0 END)
                   AS cbv,
               (CAST(((x // sh) * 3 + (y // sv) * 19 + i * 29) % 256
                    AS DOUBLE) - 128.0)
               * (CASE WHEN i % 6 = 4 THEN 127.0 / 112.0 ELSE 1.0 END)
                   AS crv
        FROM ycpx
    ),
    -- round 12 custom-luma rows (i>=24, coefficients 1/4,1/2,1/4):
    -- exact-dyadic inverse crk=cbk=1.5, gcr=gcb=0.75; default rows
    -- keep the literal CCIR-601 constants bit-identically
    ycrgb AS (
        SELECT i,
               CAST(LEAST(255.0, GREATEST(0.0,
                    FLOOR(yv + (CASE WHEN i >= 24 THEN 1.5
                                ELSE 1.402 END) * crv + 0.5)))
                   AS BIGINT) AS r,
               CAST(LEAST(255.0, GREATEST(0.0,
                    FLOOR(yv - (CASE WHEN i >= 24 THEN 0.75
                                ELSE 0.344136286 END) * cbv
                             - (CASE WHEN i >= 24 THEN 0.75
                                ELSE 0.714136286 END) * crv
                          + 0.5))) AS BIGINT) AS g2,
               CAST(LEAST(255.0, GREATEST(0.0,
                    FLOOR(yv + (CASE WHEN i >= 24 THEN 1.5
                                ELSE 1.772 END) * cbv + 0.5)))
                   AS BIGINT) AS b2
        FROM yccv
    ),
    tifyc AS (
        SELECT 'tiff' AS fmt, i + 500 AS media_id,
               CAST(COUNT(*) AS BIGINT) AS n_px,
               CAST(SUM(r) AS BIGINT) AS sum_r,
               CAST(SUM(g2) AS BIGINT) AS sum_g,
               CAST(SUM(b2) AS BIGINT) AS sum_b,
               CAST(MAX(GREATEST(r, g2, b2)) AS BIGINT) AS aux
        FROM ycrgb GROUP BY i
    ),
    fxm AS (
        SELECT i, 40 + (i % 5) * 40 AS w, 16 + (i % 4) * 6 AS h
        FROM range(24) t(i)
    ),
    fxys AS (SELECT i, w, unnest(range(h)) AS y FROM fxm),
    fxpx AS (SELECT i, y, unnest(range(w)) AS x FROM fxys),
    fxv AS (
        SELECT i,
               CASE i % 3
                 WHEN 0 THEN ((x // (1 + i % 4)) + (y // (1 + i % 3))
                              + i) % 2
                 WHEN 1 THEN CASE WHEN (x * 5 + y * 11 + i * 3) % 37 = 0
                                  THEN 1 ELSE 0 END
                 ELSE CASE WHEN (x + 2 * y + i) % 5 < 2
                           THEN 1 ELSE 0 END
               END * 255 AS v
        FROM fxpx
    ),
    tiffax AS (
        SELECT 'tiff' AS fmt, i + 300 AS media_id,
               CAST(COUNT(*) AS BIGINT) AS n_px,
               CAST(SUM(v) AS BIGINT) AS sum_r,
               CAST(SUM(v) AS BIGINT) AS sum_g,
               CAST(SUM(v) AS BIGINT) AS sum_b,
               CAST(MAX(v) AS BIGINT) AS aux
        FROM fxv GROUP BY i
    ),
    j AS (
        SELECT i, 24 + (i % 4) * 8 AS w, 16 + (i % 3) * 8 AS h,
               1 + (i % 4) AS ri
        FROM range(36) t(i)
    ),
    jtb AS (SELECT i, w, ri, unnest(range(h // 8)) AS by FROM j),
    jt AS (SELECT i, ri, by, unnest(range(w // 8)) AS bx FROM jtb),
    -- i%6=5 rows ship 12-bit extended-sequential gray (round 10):
    -- tile value (t*16 + i) mod 4096, same bit-exact DC argument
    jv AS (SELECT i, ri,
                  CASE WHEN i % 6 = 5
                       THEN ((i * 31 + by * 7 + bx * 13) % 256 * 16
                             + i) % 4096
                       ELSE (i * 31 + by * 7 + bx * 13) % 256
                  END AS t
           FROM jt),
    jpg AS (
        SELECT 'jpeg' AS fmt, i AS media_id,
               CAST(64 * COUNT(*) AS BIGINT) AS n_px,
               CAST(64 * SUM(t) AS BIGINT) AS sum_r,
               CAST(64 * SUM(t) AS BIGINT) AS sum_g,
               CAST(64 * SUM(t) AS BIGINT) AS sum_b,
               CAST((COUNT(*) + MIN(ri) - 1) // MIN(ri) - 1 AS BIGINT)
                   AS aux
        FROM jv GROUP BY i
    ),
    q AS (
        SELECT i, 24 + (i % 3) * 8 AS w, 16 + (i % 4) * 8 AS h,
               CASE WHEN i % 3 = 2 THEN 1 + (i % 5) ELSE 0 END AS ri
        FROM range(36) t(i)
    ),
    qtb AS (SELECT i, w, ri, unnest(range(h // 8)) AS by FROM q),
    qt2 AS (SELECT i, ri, by, unnest(range(w // 8)) AS bx FROM qtb),
    qv AS (
        -- i%6=5 rows ship 12-bit ARITHMETIC progressive, i%12=8
        -- rows 12-bit HUFFMAN progressive (round 13): tile value
        -- (t*16 + i) mod 4096, the jpg-family formula
        SELECT i, ri,
               CASE WHEN i % 6 = 5 OR i % 12 = 8
                    THEN ((i * 37 + by * 11 + bx * 5) % 256 * 16
                          + i) % 4096
                    ELSE (i * 37 + by * 11 + bx * 5) % 256
               END AS t
        FROM qt2
    ),
    jprog AS (
        SELECT 'jpeg_prog' AS fmt, i AS media_id,
               CAST(64 * COUNT(*) AS BIGINT) AS n_px,
               CAST(64 * SUM(t) AS BIGINT) AS sum_r,
               CAST(64 * SUM(t) AS BIGINT) AS sum_g,
               CAST(64 * SUM(t) AS BIGINT) AS sum_b,
               CAST(10 * 1000 + 10 * CASE WHEN MIN(ri) > 0 THEN
                        (COUNT(*) + MIN(ri) - 1) // MIN(ri) - 1
                    ELSE 0 END AS BIGINT) AS aux
        FROM qv GROUP BY i
    ),
    -- LOSSLESS JPEG (SOF3, round 10): full-entropy gradients at
    -- precision 256/4096/65536 by i%3, gray/RGB by i%2, point
    -- transform (q = 2^Pt quantization) on i%6>=3; aux counts the
    -- row-aligned restart markers ((h-1) div 3 on i%4==1)
    jlm AS (
        SELECT i, 9 + (i % 4) * 5 AS w, 7 + (i % 3) * 4 AS h,
               CASE i % 3 WHEN 0 THEN 256 WHEN 1 THEN 4096
                    ELSE 65536 END AS pw,
               CASE WHEN i % 6 >= 3 THEN 2 ELSE 1 END AS q
        FROM range(21) t(i)
    ),
    jlys AS (SELECT i, w, pw, q, unnest(range(h)) AS y FROM jlm),
    jlpx AS (SELECT i, pw, q, y, unnest(range(w)) AS x FROM jlys),
    jlv AS (
        SELECT i, pw, q, (x * 37 + y * 101 + i * 53) % pw AS v
        FROM jlpx
    ),
    jlch AS (
        SELECT i,
               (v // q) * q AS r,
               CASE WHEN i % 2 = 0 THEN (v // q) * q
                    ELSE (((v + pw // 4) % pw) // q) * q END AS g2,
               CASE WHEN i % 2 = 0 THEN (v // q) * q
                    ELSE (((v + 2 * (pw // 4)) % pw) // q) * q
                    END AS b2
        FROM jlv
    ),
    jll AS (
        SELECT 'jpeg_ll' AS fmt, c.i + 900 AS media_id,
               CAST(COUNT(*) AS BIGINT) AS n_px,
               CAST(SUM(r) AS BIGINT) AS sum_r,
               CAST(SUM(g2) AS BIGINT) AS sum_g,
               CAST(SUM(b2) AS BIGINT) AS sum_b,
               CAST(MAX(CASE WHEN c.i % 4 = 1 THEN (m.h - 1) // 3
                        ELSE 0 END) AS BIGINT) AS aux
        FROM jlch c JOIN jlm m ON m.i = c.i GROUP BY c.i
    ),
    -- HIERARCHICAL JPEG (round 12, Annex J, fmt 'jpeg_hier',
    -- media_id +1000): EXP-less QUALITY hierarchies (i%4 in 0..2 —
    -- coarse base + differential corrections; block-constant
    -- residuals are integer constants per block, exact through
    -- unit-step differential quantization at ANY base quality) and
    -- EXP pyramids over GLOBALLY CONSTANT rasters (i%4==3 —
    -- interpolating a constant is the constant). aux = frames*1000
    -- + total RSTm over ALL frames (per frame ceil(mcus/2) - 1 on
    -- the i%3==0 rows; EXP frames shrink 4x per level)
    hm AS (
        SELECT i, 64 + (i % 2) * 32 AS w, 32 + (i % 3) * 32 AS h,
               CASE WHEN i % 4 = 3 THEN 3 ELSE 2 + (i % 2) END AS lv,
               ((64 + (i % 2) * 32) // 8)
               * ((32 + (i % 3) * 32) // 8) AS m
        FROM range(12) t(i)
    ),
    htb AS (SELECT i, w, lv, m, unnest(range(h // 32)) AS by FROM hm),
    ht AS (SELECT i, lv, m, by, unnest(range(w // 32)) AS bx FROM htb),
    hv AS (
        SELECT i, lv, m,
               CASE WHEN i % 4 = 3 THEN (i * 41) % 256
                    ELSE (i * 41 + by * 9 + bx * 17) % 256 END AS t
        FROM ht
    ),
    hj AS (
        SELECT 'jpeg_hier' AS fmt, i + 1000 AS media_id,
               CAST(1024 * COUNT(*) AS BIGINT) AS n_px,
               CAST(1024 * SUM(t) AS BIGINT) AS sum_r,
               CAST(1024 * SUM(t) AS BIGINT) AS sum_g,
               CAST(1024 * SUM(t) AS BIGINT) AS sum_b,
               CAST(MIN(lv) * 1000 + CASE WHEN i % 3 = 0 THEN
                        CASE WHEN i % 4 = 3 THEN
                             ((MIN(m) // 16 + 1) // 2 - 1)
                             + ((MIN(m) // 4 + 1) // 2 - 1)
                             + ((MIN(m) + 1) // 2 - 1)
                        ELSE MIN(lv) * ((MIN(m) + 1) // 2 - 1) END
                    ELSE 0 END AS BIGINT) AS aux
        FROM hv GROUP BY i
    )
    SELECT * FROM ppm UNION ALL SELECT * FROM tif
    UNION ALL SELECT * FROM jll
    UNION ALL SELECT * FROM hj
    UNION ALL SELECT * FROM tifsb
    UNION ALL SELECT * FROM tifck
    UNION ALL SELECT * FROM tifsck
    UNION ALL SELECT * FROM tifpl
    UNION ALL SELECT * FROM tifjp
    UNION ALL SELECT * FROM tiffax
    UNION ALL SELECT * FROM tifyc
    UNION ALL SELECT * FROM tifff
    UNION ALL SELECT * FROM pnmrows
    UNION ALL SELECT * FROM pcxrows
    UNION ALL SELECT * FROM tifckj
    UNION ALL SELECT * FROM icrows
    UNION ALL SELECT * FROM tga
    UNION ALL SELECT * FROM jpg
    UNION ALL SELECT * FROM jprog
    """,
    "Codec gate retirements, value-verified (the round-5 verdict's "
    "class: gates whose 'needs a codec library' claim is not true). "
    "LOSSLESS JPEG (round 10, T.81 process 14/SOF3, fmt 'jpeg_ll', "
    "media_id +900): per-sample neighbor prediction sweeping all "
    "SEVEN selectors, modulo-2^16 differences as DC-style Huffman "
    "categories (SSSS 16 = 32768, no appended bits), precisions "
    "8/12/16 (the DNG/DICOM class, uint16 rasters), point-transform "
    "re-scaling, and row-aligned restart intervals — lossless over "
    "a FULL-ENTROPY gradient (no block-constant trick needed), so "
    "every combination is value-verified; aux counts RSTm markers. "
    "OLD-STYLE JPEG-IN-TIFF (round 10, compression 6): rows i%13 in "
    "(4,7) of the +600 family ship the deprecated one-full-stream "
    "JPEGInterchangeFormat layout — pixel-identical, so the oracle "
    "is layout-invisible but the rows gate on the tag-513 walk. "
    "SCANNER-CLASS JPEG-IN-TIFF ORGANIZATIONS (round 11, +600 "
    "family — rotation widened to i%15 in round 12): TILED chunky "
    "(1,8 — full-size tile JPEGs "
    "pasted into the grid canvas), RGB-SPACE photometric 2 with "
    "TRUE-COLOR tiles (2: strips, 5: tiles — no color transform, "
    "each channel independently block-constant, the only arms with "
    "per-channel oracle sums), RGB-SPACE PLANAR (3: per-plane "
    "strips, 6: per-plane tiles — single-component scans, "
    "component-major), and — round 12, the last organization gates "
    "— PLANAR YCBCR (9: Y plane full-size, Cb/Cr planes at the "
    "TIFF 6.0 §21 SUBSAMPLED dims, 4:2:0 16-row strips on odd rows "
    "/ 4:2:2 single-strip on even; gray raster keeps chroma at "
    "constant 128 so the replication upsample + full-range inverse "
    "is bit-exact) and PLANAR CMYK (10: four full-size "
    "single-component ink planes, C=M=Y=255-t and K=0, so the "
    "naive ink conversion lands back on t exactly), and PER-STRIP "
    "OLD-STYLE (11/12: compression 6 WITHOUT JPEGInterchangeFormat "
    "— raw entropy strips, tables at tags 519/520/521, gray and "
    "YCbCr-4:2:0-with-restarts; the decoder synthesizes a JPEG per "
    "strip, the libtiff OJPEG reconstruction), and TILED PLANAR "
    "YCBCR (13 — per-plane 16x16 tile grids, chroma planes "
    "covering their SUBSAMPLED dims with their own grids; round "
    "12, the last JPEG-in-TIFF organization gate), and ARITHMETIC "
    "strips (14 — every strip a complete SOF9 interchange stream "
    "through the T.81 QM-coder, round 12) — all six arms "
    "oracle-invisible but gating on their segment walks). "
    "CMYK JPEG-IN-TIFF (round 11, +200 family "
    "rows 12-17, ARITHMETIC SOF9 rows 24-25 round 12 — the Adobe "
    "scanned-document class): photometric 5 "
    "wraps 4-component no-transform scans (C/M/Y/K component IDs); "
    "block-constant ink tiles keep every channel DC-only bit-exact "
    "through strips/tiles/JPEGTables, and the shared naive ink "
    "conversion closes the form; odd rows add the Adobe APP14 "
    "transform-0 marker with numeric component IDs (the real Adobe "
    "layout, pixel-identical), and rows 18-23 ship YCCK (transform "
    "2 — inverted gray ink through the YCbCr matrix + K, neutral "
    "chroma exact). YCBCR REFERENCEBLACKWHITE HEADROOM (round "
    "11, +500 family by i%6): video-range BT.601 codes (4 — "
    "(Y-16)*255/219, (C-128)*127/112, IEEE-double mirrored) and an "
    "exact-5x layout (5 — Y codes %52, Yfull = code*5 integer-"
    "exact) through the general TIFF 6.0 linear code map, whose "
    "full-range default reduces to the old closed forms exactly. "
    "SUBSAMPLED PROGRESSIVE JPEG (round 10): the progressive "
    "family's i%3==1 rows ship 4:2:0 — interleaved-MCU DC scans, "
    "per-component AC block rasters, chroma box-mean + replication "
    "— bit-exact on the block-constant corpus (neutral chroma is "
    "constant through the box mean), so the fold is oracle-"
    "invisible; those rows carry no restarts so the uniform "
    "per-scan RST formula stays exact. PROGRESSIVE ARITHMETIC "
    "JPEG (round 13, T.81 Annex G.2 over the Annex D QM-coder): "
    "the progressive family's ODD rows re-code through SOF10 — "
    "crossed with i%3 that ships arithmetic plain/4:2:0/restarted "
    "scans; pixels and the scans*1000+restarts aux are identical "
    "to the Huffman layout, so the fold is oracle-invisible while "
    "those rows gate on the whole SOF10 walk (DC/AC successive "
    "approximation under the G.2 statistical models). The i%6=5 "
    "rows ship PRECISION 12 (restarted 12-bit arithmetic "
    "progressive, tile value (t*16+i) mod 4096) — oracle-VISIBLE: "
    "the qv CASE replays the 12-bit values, so the whole 12-bit "
    "SOF10 cascade is value-verified; i%12==8 rows ship the "
    "HUFFMAN half (restarted 12-bit SOF2, per-scan optimal DC "
    "table past Annex K's category range), same formula, also "
    "value-verified. "
    "HIERARCHICAL JPEG (round 12, T.81 Annex J, fmt 'jpeg_hier', "
    "media_id +1000): DHP frame pyramids — a non-differential base "
    "frame, EXP reference expansions ((a+b+1)>>1 interpolation, "
    "edge replicated), and DIFFERENTIAL SOF5 frames (zero DC "
    "prediction, no level shift) added to the reference; round 13 "
    "re-codes the ODD rows' pyramids through the QM-coder (SOF9 "
    "base + SOF13 differential frames — identical per-frame "
    "coefficients, so pixels and the frames*1000+RSTm aux are "
    "layout-invariant and the arithmetic-hierarchy walk is "
    "oracle-gated). Two "
    "oracle-exact sub-families: EXP-LESS quality hierarchies (the "
    "base deliberately COARSE at quality 25-45, every frame full "
    "dims — block-constant residuals are integer constants per 8x8 "
    "block, so unit-step differential quantization reconstructs "
    "them exactly and the REFINEMENT VALUES are driver-verified, "
    "not just the walk), and EXP pyramids over globally constant "
    "rasters (interpolating a constant is the constant, so the "
    "multi-resolution walk — DHP dims, per-frame grids, two "
    "expansion steps — is driver-verified; value behavior at tile "
    "boundaries is pytest tolerance + an independent expansion-"
    "filter reference). Levels 2/3, gray + gray-in-RGB color, "
    "per-frame restart intervals; aux = frames*1000 + total RSTm "
    "pins the pyramid structure. "
    "ARITHMETIC SEQUENTIAL JPEG (round 12): the restart family's "
    "i%6==4 rows ship SOF9 — the T.81 Annex D QM-coder (Table D.3 "
    "state machine, carry resolution, 0x00 stuffing) with the "
    "Annex F conditioning models, per-segment coder+statistics "
    "resets under the family's DRI rotation, custom DAC "
    "conditioning on i%12==4 and the no-DAC defaults path (as "
    "gray-in-RGB color) on i%12==10 — pixels and the aux restart "
    "count are layout-invariant, so the fold is oracle-invisible "
    "but every row gates on the whole arithmetic walk. "
    "12-BIT JPEG (round 10): the restart family's i%6==5 rows ship "
    "extended-sequential precision 12 — gray, or 4:4:4 gray-in-RGB "
    "COLOR on i%12==11, whose neutral chroma stays exact through "
    "the 2048-centered YCbCr relations; round 13 sub-rotates the "
    "i%12==5 gray rows through 12-BIT ARITHMETIC (SOF9 precision "
    "12, the DICOM/DNG-on-arithmetic class): no-DAC gray, "
    "custom-conditioning gray, and 4:4:4 gray-in-RGB color by "
    "i//12 — the Annex F models are precision-agnostic, pixels and "
    "aux stay identical, so the fold is oracle-invisible while "
    "gating on the precision-parameterized QM walk — (level shift "
    "2048, optimal DC tables with categories past Annex K, uint16 "
    "rasters, tile value (t*16+i) mod 4096) — the unscaled "
    "quantization table keeps the DC step < 8, so the 12-bit "
    "pipeline is bit-exact under the same block-constant argument. "
    "NETPBM FAMILY (round 9, fmt 'pnm'): P1-P5 complete the P6 "
    "surface — ASCII bitmap (abutting digits legal), ASCII "
    "gray/pixmaps with comments and maxval scaling by round-half-up "
    "(v*255 + mv//2)//mv on non-255 maxvals, packed binary bitmaps "
    "(PBM 1 = black renders 0), and binary graymaps incl. 16-bit "
    "big-endian — every variant replayed closed-form. ICO/CUR "
    "(round 9, fmt 'ico'): favicon containers — embedded-PNG "
    "entries through decode_png, 32bpp DIBs (alpha channel wins "
    "when non-zero anywhere), legacy 24bpp + AND-mask DIBs, "
    "paletted DIBs, X1R5G5B5 16bpp DIBs (round 10 — 5-bit channels "
    "bit-replicated, the oracle's f555 arm), doubled-height "
    "headers, largest-entry selection over multi-entry files; the "
    "CUR magic collides with raw truecolor TGA's first four bytes, "
    "disambiguated by the entry-count byte + TGA footer "
    "(pytest-pinned). PCX (round 9, "
    "fmt 'pcx'): version-5 RLE scanlines — 24bpp three-plane rows, "
    "8bpp with the 0x0C VGA palette trailer, 1bpp monochrome, and "
    "(round 10, gates retired) the EGA 2/3/4-bit-plane and packed "
    "4bpp layouts resolving through the 16-entry header palette; "
    "even bytes-per-line padding honored. The TGA group (round 10) "
    "adds 15/16-bit X1R5G5B5 colormap entries, nonzero first-entry "
    "offsets with absolute indices, 16-bit gray+attribute, and "
    "depth-15 truecolor to its rotation. "
    "16-bit PPM: maxval>255 means 2-byte big-endian samples per the "
    "netpbm spec — one frombuffer dtype switch; aux = max sample "
    "proves full-range 16-bit values actually arrive (a byte-order "
    "or stride bug caps or scrambles it). 16-bit TIFF (round 8): the "
    "same full-range closed form (different multipliers) through the "
    "strip machinery at BitsPerSample 16, rotating all four "
    "compressions, both byte orders, the 16-bit horizontal "
    "predictor (cumsum mod 65536), and strip/16x16-tile/planar/"
    "TILED+PLANAR (per-component tile grids, round 9) "
    "organization — lossless at every combination. 16-BIT PALETTE "
    "TIFF (round 9): photometric 3 at BitsPerSample 16 with the full "
    "65536-entry ColorMap, decoded 8-bit channels taking each "
    "entry's high byte — closed form ((idx*k+c) mod 65536) // 256, "
    "media_id +400. SUB-BYTE CMYK TIFF (round 9): depth-2/4 "
    "pixel-interleaved packed separations through the same naive "
    "conversion at full=2^d-1 then the exact 255/(2^d-1) expansion, "
    "media_id +250. SUB-BYTE TIFF "
    "(round 8): depth-1/2/4 gray planes (the fax/document class), "
    "MSB-first row-padded packing expanded by the exact "
    "255/(2^d - 1), WhiteIsZero round-tripping through the "
    "encoder/decoder inversion pair, tiled on every fifth image. "
    "CCITT FAX TIFF (round 9): compressions 2/3/4 from the public "
    "ITU-T T.4/T.6 tables — Modified Huffman byte-aligned rows, G3 "
    "1-D with EOLs, G3 2-D with per-row tag bits, and G4 "
    "pass/vertical/horizontal coding against the reference line — "
    "over bilevel corpora rotating block/sparse/stripe patterns "
    "(widths to 200 exercise make-up codes), byte order, and "
    "strip-independent coding blocks; photometric-0 closed form "
    "pattern*255, media_id +300. Round 10 retires the last fax "
    "organization gates: 32x16 TILE grids (per-tile independent "
    "coding blocks) and the T4/T6Options UNCOMPRESSED bit (T.4 "
    "extension escape 0000001-111, literal pixel codes, "
    "0^(6+n)-1-T exit) rotate through the corpus — lossless, "
    "oracle-invisible, gating on decode. YCBCR TIFF (round 9, "
    "photometric 6): "
    "chunky sh*sv-Y+Cb+Cr data units (TIFF 6.0 s21) at subsampling "
    "(1,1)/(2,2)/(2,1) over non-unit-multiple dims (pad units "
    "replicated on encode, ignored on decode), chroma replicated to "
    "full res and converted with decode_jpeg's exact full-range "
    "CCIR-601 float math — floor(x+0.5) of IEEE-double expressions "
    "is bitwise-deterministic, so the oracle replays the conversion "
    "in SQL (unlike round(x,2), which diverges cross-engine); the "
    "corpus generates Y/Cb/Cr samples directly so no inverse "
    "transform is needed. media_id +500. RAW-YCBCR ORGANIZATIONS "
    "(round 12, +500 family by i%7 — the codec layer is lossless, "
    "so all three are pixel-invisible but gate on decode): planar "
    "strip sets (3 — PlanarConfiguration 2, three PLAIN rasters, "
    "no data-unit interleave per TIFF 6.0 s21, chroma planes at "
    "the subsampled dims), tiled chunky data-unit grids (5 — tile "
    "dims (4sh,4sv), edge pads), and tiled per-plane raster grids "
    "(6); plus CUSTOM LUMA COEFFICIENTS on rows 24-31 "
    "(YCbCrCoefficients (1/4, 1/2, 1/4) — the exact-dyadic inverse "
    "crk=cbk=1.5, gcr=gcb=0.75 replayed closed-form in the oracle "
    "through the same rbw linear map; the default triple keeps the "
    "literal CCIR-601 constants bit-identically). Only the DEEP "
    "(non-8-bit) YCbCr variant stays gated. "
    "JPEG-IN-TIFF (round 9, compression 7 / TechNote 2): "
    "each strip an independently decodable JPEG interchange stream — "
    "or abbreviated with shared DQT/DHT spliced from the JPEGTables "
    "tag (347) after each strip's SOI — through the in-house "
    "decode_jpeg; gray 1-component and gray-in-RGB 4:4:4 strips on "
    "the established block-constant bit-exact corpus, strip splits "
    "exercising independent per-strip DC predictors. media_id "
    "+600. TGA (round 9, media_id +700, fmt "
    "'tga'): the magic-less Targa container detected via its v2.0 "
    "footer signature — 24bpp raw/RLE, 8-bit grayscale, 8-bit "
    "color-mapped (BGR entries), and 16bpp X1R5G5B5 with top-5-bit "
    "channels bit-replicated, both vertical orientations; all "
    "lossless, closed forms only re-index. FLOAT TIFF (round 9, "
    "SampleFormat 3, fmt 'tiff_f', media_id +800): the "
    "elevation/HDR class — float32/float64 gray and RGB at "
    "all four codecs and byte orders via decode_tiff_float (no "
    "canonical 8-bit rendering exists, so the census surfaces "
    "rint(v*16) micro-quantized ints, the house float discipline); "
    "the DYADIC corpus (base + frac/16) makes the quantization "
    "exact and the oracle closed form base*16 + frac; round 10 "
    "retires the float organization gates — the TechNote-3 "
    "floating-point predictor (per-row MSB-first byte-plane shuffle "
    "+ bytewise differencing), 16x16 tile grids with partial edge "
    "tiles, and planar configuration now rotate through the corpus "
    "(lossless, organization-invisible to the oracle, gating on "
    "decode). JPEG DRI/RSTm restart "
    "intervals: the encoder byte-aligns, emits RSTm (m cycling 0-7) "
    "and resets DC predictors every 1+(i%4) MCUs; the decoder "
    "realigns, checks the marker sequence number, and resets its "
    "predictors — the layout real encoders emit so 100 TB-scale "
    "decoders can resynchronize and parallelize WITHIN one image. "
    "PROGRESSIVE JPEG (SOF2): full spectral-selection + successive-"
    "approximation machinery — 10-scan libjpeg-style script, DC "
    "first/refine, per-band AC scans with an Al cascade, AC "
    "refinement with buffered correction bits, EOBn runs, optimal "
    "per-scan Huffman tables (T.81 K.2; Annex K has no canonical "
    "slack for EOBn) — progressive re-coding is lossless, so the "
    "block-constant corpus decodes bit-exact and pytest asserts "
    "decode(progressive(x)) == decode(baseline(x)) on gradients "
    "too. Every third progressive image adds a DRI of 1+(i%5) MCUs "
    "(round 8): all 10 scans split into restart segments — EOB runs "
    "and buffered correction bits flush at each boundary, and the "
    "decoder realigns + sequence-checks inside every scan kind. "
    "aux: max sample / RST count / scans*1000 + RST count, the "
    "latter two from a structural marker walk (stuffed 0xFF00 "
    "can't false-positive) — the formula pins the EXACT restart "
    "census, ceil(mcus/ri)-1 per scan across all 10 scans.",
    bench=False,  # exercises the Python kernel path, not a plan shape
)
def q198_codec_gate_census(spark, sf_dir):
    from ..operators.multimodal import (
        codec_census_stats,
        synthetic_ico_table,
        synthetic_pcx_table,
        synthetic_pnm_table,
        synthetic_jpeg_hier_table,
        synthetic_jpeg_ll_table,
        synthetic_jpeg_prog_table,
        synthetic_jpeg_rst_table,
        synthetic_ppm16_table,
        synthetic_tiff16_table,
        synthetic_tiff_cmyk_subbyte_table,
        synthetic_tiff_cmyk_table,
        synthetic_tiff_fax_table,
        synthetic_tiff_jpeg_table,
        synthetic_tiff_pal16_table,
        synthetic_tiff_float_table,
        synthetic_tiff_subbyte_table,
        synthetic_tiff_ycbcr_table,
        synthetic_tga_table,
    )

    media = (
        synthetic_ppm16_table(spark, n=36)
        .unionByName(synthetic_tiff16_table(spark, n=30))
        .unionByName(synthetic_tiff_subbyte_table(spark, n=24))
        .unionByName(synthetic_tiff_cmyk_table(spark, n=26))
        .unionByName(synthetic_tiff_cmyk_subbyte_table(spark, n=6))
        .unionByName(synthetic_tiff_pal16_table(spark, n=6))
        .unionByName(synthetic_tiff_fax_table(spark, n=24))
        .unionByName(synthetic_tiff_jpeg_table(spark, n=30))
        .unionByName(synthetic_tiff_ycbcr_table(spark, n=32))
        .unionByName(synthetic_tiff_float_table(spark, n=12))
        .unionByName(synthetic_pnm_table(spark, n=20))
        .unionByName(synthetic_pcx_table(spark, n=12))
        .unionByName(synthetic_ico_table(spark, n=12))
        .unionByName(synthetic_tga_table(spark, n=20))
        .unionByName(synthetic_jpeg_rst_table(spark, n=36))
        .unionByName(synthetic_jpeg_prog_table(spark, n=36))
        .unionByName(synthetic_jpeg_ll_table(spark, n=21))
        .unionByName(synthetic_jpeg_hier_table(spark, n=12))
    )
    return codec_census_stats(media).orderBy("fmt", "media_id")


@_register(
    "q199_gif_partial_frame_stats",
    """
    WITH g AS (
        SELECT i,
               20 + (i % 5) * 4 AS sw, 16 + (i % 4) * 4 AS sh,
               7 + (i % 6) * 2 AS w, 5 + (i % 5) * 2 AS h,
               i * 7 AS seed,
               (i * 5) % 256 AS bgr, (i * 11) % 256 AS bgg,
               (i * 17) % 256 AS bgb
        FROM range(40) t(i)
    ),
    go AS (
        SELECT *, i % (sw - w + 1) AS ox, (i * 3) % (sh - h + 1) AS oy
        FROM g
    ),
    fys AS (SELECT i, w, seed, sw, ox, oy, unnest(range(h)) AS y FROM go),
    fpx AS (SELECT i, seed, sw, ox, oy, y, unnest(range(w)) AS x FROM fys),
    fch AS (
        SELECT i,
               (x + y + seed) % 256 AS r,
               ((x + y + seed) % 256 + 85) % 256 AS g2,
               ((x + y + seed) % 256 + 170) % 256 AS b2,
               (oy + y) * sw + ox + x + 1 AS wgt
        FROM fpx
    ),
    fr AS (
        SELECT i, COUNT(*) AS n, SUM(r) AS sr, SUM(g2) AS sg,
               SUM(b2) AS sb, SUM(wgt * r) AS swr, SUM(wgt) AS sww,
               MAX(GREATEST(r, g2, b2)) AS mx
        FROM fch GROUP BY i
    ),
    ag AS (
        SELECT i, 2 + (i % 3) AS nf, 7 + (i % 5) * 2 AS wf,
               5 + (i % 4) * 2 AS hf,
               CASE WHEN i % 2 = 0 THEN 1 ELSE 2 END AS disp,
               CASE WHEN i % 3 = 2 THEN 1 ELSE 0 END AS tr,
               (i * 5) % 256 AS bgr, (i * 11) % 256 AS bgg,
               (i * 17) % 256 AS bgb
        FROM range(40) t(i)
    ),
    ags AS (SELECT *, 2 + nf * (wf + 1) AS sw, hf + 4 AS sh FROM ag),
    afr AS (
        SELECT i, sw, sh, wf, hf, disp, tr,
               unnest(range(nf)) AS k
        FROM ags
    ),
    afo AS (SELECT *, 1 + k * (wf + 1) AS ox, 2 AS oy FROM afr),
    afy AS (SELECT *, unnest(range(hf)) AS y FROM afo),
    afx AS (SELECT *, unnest(range(wf)) AS x FROM afy),
    apv AS (
        SELECT i, k,
               (x + y + i * 7 + 31 * k) % 256 AS r,
               ((x + y + i * 7 + 31 * k) % 256 + 85) % 256 AS g2,
               ((x + y + i * 7 + 31 * k) % 256 + 170) % 256 AS b2,
               (oy + y) * sw + ox + x + 1 AS wgt,
               (tr = 1 AND x + y = 2) AS hid
        FROM afx
    ),
    afs AS (
        SELECT i, k,
               SUM(CASE WHEN hid THEN 0 ELSE r END) AS vr,
               SUM(CASE WHEN hid THEN 0 ELSE g2 END) AS vg,
               SUM(CASE WHEN hid THEN 0 ELSE b2 END) AS vb,
               SUM(CASE WHEN hid THEN 0 ELSE wgt * r END) AS vwr,
               SUM(CASE WHEN hid THEN 0 ELSE wgt END) AS vw,
               SUM(CASE WHEN hid THEN 0 ELSE 1 END) AS vn,
               MAX(CASE WHEN hid THEN NULL
                   ELSE GREATEST(r, g2, b2) END) AS vmx
        FROM apv GROUP BY i, k
    ),
    avis AS (
        SELECT a.i, a.k AS fid, SUM(s.vr) AS svr, SUM(s.vg) AS svg,
               SUM(s.vb) AS svb, SUM(s.vwr) AS svwr, SUM(s.vw) AS svw,
               SUM(s.vn) AS svn, MAX(s.vmx) AS smx
        FROM afr a JOIN afs s ON s.i = a.i
             AND ((a.disp = 1 AND s.k <= a.k)
                  OR (a.disp = 2 AND s.k = a.k))
        GROUP BY a.i, a.k
    ),
    mpg AS (
        SELECT i, unnest(range(2 + i % 3)) AS k FROM range(12) t(i)
    ),
    mpd AS (
        SELECT i, k, 10 + ((i + k) % 4) * 3 AS w,
               8 + ((i + k) % 3) * 4 AS h
        FROM mpg
    ),
    mpy AS (SELECT i, k, w, unnest(range(h)) AS y FROM mpd),
    mpx AS (SELECT i, k, w, y, unnest(range(w)) AS x FROM mpy),
    mpv AS (
        SELECT i, k,
               (x * 3 + y * 7 + i * 11 + k * 29) % 256 AS r,
               ((x * 3 + y * 7 + i * 11 + k * 29) % 256 + 85) % 256
                   AS g2,
               ((x * 3 + y * 7 + i * 11 + k * 29) % 256 + 170) % 256
                   AS b2,
               y * w + x + 1 AS wgt
        FROM mpx
    ),
    apg AS (
        SELECT i, 2 + i % 3 AS nf, 7 + (i % 5) * 2 AS wf,
               5 + (i % 4) * 2 AS hf,
               (i * 5) % 256 AS bgr, (i * 11) % 256 AS bgg,
               (i * 17) % 256 AS bgb
        FROM range(12) t(i)
    ),
    apgs AS (SELECT *, 2 + nf * (wf + 1) AS sw, hf + 4 AS sh FROM apg),
    apfr AS (
        SELECT i, sw, sh, wf, hf, unnest(range(nf)) + 1 AS k
        FROM apgs
    ),
    apfo AS (SELECT *, 1 + (k - 1) * (wf + 1) AS ox, 2 AS oy FROM apfr),
    apfy AS (SELECT *, unnest(range(hf)) AS y FROM apfo),
    apfx AS (SELECT *, unnest(range(wf)) AS x FROM apfy),
    appv AS (
        SELECT i, k,
               (x + y + i * 7 + 31 * k) % 256 AS r,
               ((x + y + i * 7 + 31 * k) % 256 + 85) % 256 AS g2,
               ((x + y + i * 7 + 31 * k) % 256 + 170) % 256 AS b2,
               CASE WHEN i % 3 = 2 AND x + y = 2 THEN 0 ELSE 1 END
                   AS op,
               (oy + y) * sw + ox + x + 1 AS wgt
        FROM apfx
    ),
    apfs AS (
        SELECT i, k, COUNT(*) AS fn,
               SUM(r) AS fr, SUM(g2) AS fg, SUM(b2) AS fb,
               SUM(wgt * r) AS fwr, SUM(wgt) AS fw,
               SUM(op * r) AS opr, SUM(op * g2) AS opg,
               SUM(op * b2) AS opb,
               SUM(op * wgt * r) AS opwr,
               SUM(1 - op) AS ntr, SUM((1 - op) * wgt) AS ntrw
        FROM appv GROUP BY i, k
    ),
    apcum AS (
        SELECT a.i, a.k AS fid, SUM(s.fn) AS cn, SUM(s.fr) AS cr2,
               SUM(s.fg) AS cg, SUM(s.fb) AS cb2, SUM(s.fwr) AS cwr,
               SUM(s.fw) AS cw
        FROM apfr a JOIN apfs s ON s.i = a.i AND s.k <= a.k
        GROUP BY a.i, a.k
    ),
    aprows AS (
        SELECT g.i, c.fid, g.sw * g.sh AS n2, g.bgr, g.bgg, g.bgb,
               g.sw * g.sh * (g.sw * g.sh + 1) // 2 AS tw,
               c.cn, c.cr2, c.cg, c.cb2, c.cwr, c.cw,
               s.opr, s.opg, s.opb, s.opwr, s.ntr, s.ntrw
        FROM apgs g
        JOIN apcum c ON c.i = g.i
        JOIN apfs s ON s.i = g.i AND s.k = c.fid
    )
    SELECT go.i AS media_id,
           CAST(0 AS BIGINT) AS frame_id,
           CAST(sw * sh AS BIGINT) AS n_px,
           CAST(fr.sr + (sw * sh - fr.n) * bgr AS BIGINT) AS sum_r,
           CAST(fr.sg + (sw * sh - fr.n) * bgg AS BIGINT) AS sum_g,
           CAST(fr.sb + (sw * sh - fr.n) * bgb AS BIGINT) AS sum_b,
           CAST(fr.swr
                + (sw * sh * (sw * sh + 1) // 2 - fr.sww) * bgr
                AS BIGINT) AS wsum_r,
           CAST(GREATEST(fr.mx, bgr, bgg, bgb) AS BIGINT) AS aux
    FROM go JOIN fr ON go.i = fr.i
    UNION ALL
    SELECT a2.i + 100 AS media_id,
           CAST(v.fid AS BIGINT) AS frame_id,
           CAST(a2.sw * a2.sh AS BIGINT) AS n_px,
           CAST(a2.bgr * (a2.sw * a2.sh - v.svn) + v.svr AS BIGINT)
               AS sum_r,
           CAST(a2.bgg * (a2.sw * a2.sh - v.svn) + v.svg AS BIGINT)
               AS sum_g,
           CAST(a2.bgb * (a2.sw * a2.sh - v.svn) + v.svb AS BIGINT)
               AS sum_b,
           CAST(a2.bgr * (a2.sw * a2.sh * (a2.sw * a2.sh + 1) // 2
                          - v.svw) + v.svwr AS BIGINT) AS wsum_r,
           CAST(GREATEST(v.smx, a2.bgr, a2.bgg, a2.bgb) AS BIGINT)
               AS aux
    FROM ags a2 JOIN avis v ON v.i = a2.i
    UNION ALL
    SELECT i + 200 AS media_id,
           CAST(k AS BIGINT) AS frame_id,
           CAST(COUNT(*) AS BIGINT) AS n_px,
           CAST(SUM(r) AS BIGINT) AS sum_r,
           CAST(SUM(g2) AS BIGINT) AS sum_g,
           CAST(SUM(b2) AS BIGINT) AS sum_b,
           CAST(SUM(wgt * r) AS BIGINT) AS wsum_r,
           CAST(MAX(GREATEST(r, g2, b2)) AS BIGINT) AS aux
    FROM mpv GROUP BY i, k
    UNION ALL
    SELECT i + 300 AS media_id, CAST(0 AS BIGINT) AS frame_id,
           CAST(sw * sh AS BIGINT) AS n_px,
           CAST(bgr * sw * sh AS BIGINT) AS sum_r,
           CAST(bgg * sw * sh AS BIGINT) AS sum_g,
           CAST(bgb * sw * sh AS BIGINT) AS sum_b,
           CAST(bgr * (sw * sh * (sw * sh + 1) // 2) AS BIGINT)
               AS wsum_r,
           CAST(255 AS BIGINT) AS aux
    FROM apgs
    UNION ALL
    SELECT i + 300 AS media_id, CAST(fid AS BIGINT) AS frame_id,
           CAST(n2 AS BIGINT) AS n_px,
           CAST(CASE WHEN i % 2 = 0 THEN bgr * (n2 - cn) + cr2
                ELSE bgr * (n2 - cn + ntr) + opr END AS BIGINT)
               AS sum_r,
           CAST(CASE WHEN i % 2 = 0 THEN bgg * (n2 - cn) + cg
                ELSE bgg * (n2 - cn + ntr) + opg END AS BIGINT)
               AS sum_g,
           CAST(CASE WHEN i % 2 = 0 THEN bgb * (n2 - cn) + cb2
                ELSE bgb * (n2 - cn + ntr) + opb END AS BIGINT)
               AS sum_b,
           CAST(CASE WHEN i % 2 = 0 THEN bgr * (tw - cw) + cwr
                ELSE bgr * (tw - cw + ntrw) + opwr END AS BIGINT)
               AS wsum_r,
           CAST(255 AS BIGINT) AS aux
    FROM aprows
    """,
    "GIF partial-frame compositing AND full ANIMATION rendering, "
    "value-verified per rendered frame. Single-frame corpus: a frame "
    "smaller than the logical screen lands at its descriptor offset "
    "on a canvas of the background color resolved through the GLOBAL "
    "color table (GIF89a section 18). Animation corpus (round 8, "
    "media_id +100): 2-4 frames per image walk the Graphic Control "
    "Extension machinery — disposal 1 (frames ACCUMULATE on the "
    "canvas) on even ids, disposal 2 (background restores between "
    "frames, so each rendered canvas shows only its own frame) on "
    "odd ids, and on i%3==2 every frame marks its (x=2,y=0) color "
    "TRANSPARENT, punching exactly the three x+y==2 anti-diagonal "
    "pixels through to the background — the frame-extraction path a "
    "video-like training corpus needs. The oracle replays every "
    "rendered canvas closed-form (visible-frame set by disposal "
    "rule, per-frame transparent-pixel census); the POSITION-"
    "WEIGHTED red sum catches wrong offsets, interlace pass order, "
    "stale disposal state, and mis-painted transparency. Disposal 3 "
    "(restore-previous) and overlapping frames are pytest-verified. "
    "MULTI-PAGE TIFF (round 9, media_id +200): chained IFDs — the "
    "scanned-document layout — one rendered row per page, pages with "
    "PER-PAGE dims and all four strip codecs, decoded by rewriting "
    "the 8-byte header per IFD (offsets are absolute); the weighted "
    "sum catches swapped or dropped pages. APNG (round 9, media_id "
    "+300): acTL/fcTL/fdAT with shared sequence validation, frame 0 "
    "as the full-canvas default image in IDAT, per-frame zlib "
    "streams decoded through the standard PNG machinery "
    "(synthesized single-frame PNGs), SOURCE vs OVER blending "
    "(straight-alpha spec formula — binary-alpha corpus keeps it "
    "integer-exact) and NONE vs BACKGROUND disposal; even files "
    "accumulate SOURCE rects (transparent pixels REPLACE, unlike "
    "GIF), odd files alpha-composite the live rect over the "
    "background while prior rects clear to transparent black. "
    "multimodal.decode_gif_frames / encode_gif_animation / "
    "decode_tiff_pages / encode_tiff_multipage / decode_apng_frames "
    "/ encode_apng / gif_frame_stats.",
    bench=False,  # exercises the Python kernel path, not a plan shape
)
def q199_gif_partial_frame_stats(spark, sf_dir):
    from ..operators.multimodal import (
        gif_frame_stats,
        synthetic_apng_table,
        synthetic_gif_animation_table,
        synthetic_gif_partial_table,
        synthetic_tiff_multipage_table,
    )

    media = (
        synthetic_gif_partial_table(spark, n=40)
        .unionByName(synthetic_gif_animation_table(spark, n=40))
        .unionByName(synthetic_tiff_multipage_table(spark, n=12))
        .unionByName(synthetic_apng_table(spark, n=12))
    )
    return gif_frame_stats(media).orderBy("media_id", "frame_id")


@_register(
    "q200_quality_gate_catalog_census",
    f"""
    WITH agg AS (
        SELECT COUNT(*) AS n_rows,
               CAST(SUM(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_event_id,
               CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_user_id,
               COUNT(*) - COUNT(DISTINCT event_id) AS n_dup_event_id,
               CAST(SUM(CASE WHEN event_type NOT IN ('click','error','purchase','signup','view') THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_event_type,
               CAST(SUM(CASE WHEN value < 0 OR value > 10000 THEN 1 ELSE 0 END) AS BIGINT) AS n_oob_value,
               COUNT(DISTINCT user_id) / (1.0 * COUNT(*)) AS distinct_ratio,
               MAX(epoch_us(ts)) AS max_us_ts
        FROM events
    ),
    flags AS (
        SELECT *,
               n_null_event_id = 0 AS p1,
               n_null_user_id = 0 AS p2,
               n_dup_event_id = 0 AS p3,
               n_bad_event_type = 0 AS p4,
               n_oob_value = 0 AS p5,
               n_rows BETWEEN 100 AND 10000000 AS p6,
               distinct_ratio BETWEEN 0.01 AND 1.0 AS p7,
               max_us_ts >= {_VALID_NOW_US} - 7200000000 AS p8
        FROM agg
    ),
    scored AS (
        SELECT *,
               (CASE WHEN p1 THEN 1 ELSE 0 END + CASE WHEN p2 THEN 1 ELSE 0 END
              + CASE WHEN p3 THEN 1 ELSE 0 END + CASE WHEN p4 THEN 1 ELSE 0 END
              + CASE WHEN p5 THEN 1 ELSE 0 END + CASE WHEN p6 THEN 1 ELSE 0 END
              + CASE WHEN p7 THEN 1 ELSE 0 END + CASE WHEN p8 THEN 1 ELSE 0 END)
                   AS n_passed
        FROM flags
    ),
    blobs AS (
        SELECT filename, size
        FROM read_blob('{ORACLE_SCRATCH}/q200_bronze/year=*/month=*/day=*/hour=*/*.json.gz')
    ),
    parts AS (
        SELECT regexp_extract(filename,
                   'year=\\d+/month=\\d+/day=\\d+/hour=\\d+') AS name,
               COUNT(*) AS fc, CAST(SUM(size) AS BIGINT) AS bytes
        FROM blobs GROUP BY 1
    )
    SELECT 'expectation' AS section, 'not_null_event_id' AS name,
           n_null_event_id AS metric, CAST(NULL AS BIGINT) AS bytes, p1 AS passed FROM scored
    UNION ALL SELECT 'expectation', 'not_null_user_id', n_null_user_id, NULL, p2 FROM scored
    UNION ALL SELECT 'expectation', 'unique_event_id', n_dup_event_id, NULL, p3 FROM scored
    UNION ALL SELECT 'expectation', 'in_set_event_type', n_bad_event_type, NULL, p4 FROM scored
    UNION ALL SELECT 'expectation', 'between_value', n_oob_value, NULL, p5 FROM scored
    UNION ALL SELECT 'expectation', 'row_count', n_rows, NULL, p6 FROM scored
    UNION ALL SELECT 'expectation', 'distinct_ratio_user_id',
           CAST(FLOOR(distinct_ratio * 1000000.0) AS BIGINT), NULL, p7 FROM scored
    UNION ALL SELECT 'expectation', 'freshness_ts', max_us_ts, NULL, p8 FROM scored
    UNION ALL SELECT 'suite', 'quality_gate',
           CAST((1000 * n_passed) // 8 AS BIGINT), NULL,
           100 * n_passed >= 95 * 8 FROM scored
    UNION ALL SELECT 'catalog', name, CAST(fc AS BIGINT), bytes, bytes > 0 FROM parts
    UNION ALL SELECT 'catalog_total', 'events',
           CAST(SUM(fc) AS BIGINT), CAST(SUM(bytes) AS BIGINT), SUM(fc) > 0
        FROM parts
    """,
    "A9 suite compiler + >=0.95 gate as ONE scan (census rows), plus "
    "S10/A10 bronze lake catalog stats (file count + bytes per Hive "
    "hour partition) over a real partitioned gzip-JSONL write",
    bench=False,  # dominated by the bronze backfill write, not query cost
)
def q200_quality_gate_catalog_census(spark, sf_dir):
    """A9/A10/S10 oracle census (reference: quality suite scoring +
    0.95 warehouse gate at data/quality/expectations.py:398-412,
    437-464; lake catalog stats at data/lake_writer.py:244-286).

    One compile_suite() scan produces every expectation metric, pass
    flag, and the gate; the same frame unpivots to long-format census
    rows. The catalog half writes events as event-time-partitioned
    gzip JSONL (S4/S5) and censuses the resulting lake via the
    binaryFile listing — the oracle reads the identical files through
    DuckDB read_blob, so file counts AND byte sizes are value-checked.
    Integer discipline: the score is (1000 * passed) div total and the
    distinct-ratio metric is floor(ratio * 1e6) — no float rounding at
    engine boundaries; the gate compare is 100 * passed >= 95 * total.

    Scratch coupling (q44 pattern, sharper here): every build rewrites
    {ORACLE_SCRATCH}/q200_bronze with SF-dependent content, and the
    oracle reads those files — so the Spark side must run first in the
    same scratch, and concurrent sessions sharing the default scratch
    path can race it at ANY invocation (not just first write like the
    memoized IVF/PQ artifacts). Same rule as CLAUDE.md's scratch note:
    isolate via SPARK_GRAFT_ORACLE_SCRATCH per run (conftest does).
    """
    from ..operators.quality import (
        compile_suite,
        expect_between,
        expect_distinct_ratio,
        expect_freshness,
        expect_in_set,
        expect_not_null,
        expect_row_count,
        expect_unique,
    )
    from ..sources.bronze import bronze_catalog_stats, write_bronze

    e = _t(spark, sf_dir, "events")
    path = f"{ORACLE_SCRATCH}/q200_bronze"
    write_bronze(
        e.select("event_id", "user_id", "event_type", "value", "ts"),
        path,
        ts_col="ts",
        mode="overwrite",
        one_file_per_partition=True,
    )

    suite = [
        expect_not_null("event_id"),
        expect_not_null("user_id"),
        expect_unique("event_id"),
        expect_in_set("event_type", EVENT_TYPES),
        expect_between("value", 0, 10_000),
        expect_row_count(100, 10_000_000),
        expect_distinct_ratio("user_id", 0.01, 1.0),
        expect_freshness("ts", 2, NOW),
    ]
    r = compile_suite(e, suite)  # carries integer n_passed

    def erow(name, metric, pass_col):
        return F.struct(
            F.lit("expectation").alias("section"),
            F.lit(name).alias("name"),
            metric.cast("long").alias("metric"),
            F.lit(None).cast("long").alias("bytes"),
            F.col(pass_col).alias("passed"),
        )

    census = r.select(
        F.explode(
            F.array(
                erow("not_null_event_id", F.col("n_null_event_id"),
                     "pass_not_null_event_id"),
                erow("not_null_user_id", F.col("n_null_user_id"),
                     "pass_not_null_user_id"),
                erow("unique_event_id", F.col("n_dup_event_id"),
                     "pass_unique_event_id"),
                erow("in_set_event_type", F.col("n_bad_event_type"),
                     "pass_in_set_event_type"),
                erow("between_value", F.col("n_oob_value"),
                     "pass_between_value"),
                erow("row_count", F.col("n_rows"), "pass_row_count"),
                erow(
                    "distinct_ratio_user_id",
                    F.floor(F.col("distinct_ratio_user_id") * 1_000_000.0),
                    "pass_distinct_ratio_user_id",
                ),
                erow("freshness_ts", F.col("max_us_ts"), "pass_freshness_ts"),
                F.struct(
                    F.lit("suite").alias("section"),
                    F.lit("quality_gate").alias("name"),
                    F.expr("(1000 * n_passed) div 8").cast("long").alias("metric"),
                    F.lit(None).cast("long").alias("bytes"),
                    (F.col("n_passed") * 100 >= F.lit(95 * 8)).alias("passed"),
                ),
            )
        ).alias("x")
    ).select("x.*")

    cat = bronze_catalog_stats(spark, path).cache()
    cat_rows = cat.select(
        F.lit("catalog").alias("section"),
        F.col("partition").alias("name"),
        F.col("file_count").cast("long").alias("metric"),
        F.col("total_bytes").cast("long").alias("bytes"),
        (F.col("total_bytes") > 0).alias("passed"),
    )
    cat_total = cat.agg(
        F.sum("file_count").cast("long").alias("metric"),
        F.sum("total_bytes").cast("long").alias("bytes"),
    ).select(
        F.lit("catalog_total").alias("section"),
        F.lit("events").alias("name"),
        "metric",
        "bytes",
        (F.col("metric") > 0).alias("passed"),
    )
    return census.unionByName(cat_rows).unionByName(cat_total)


# --------------------------------------------------------------------------
# Registration order: the driver diffs queries in dict order and caps how
# many it runs (rounds 1 and 2 each recorded exactly 50 rows, so with 66
# registered queries the 16 newest never got a CORRECTNESS entry). Order
# least-recently-verified first: queries with no green row in any
# CORRECTNESS_r*.json lead, then ascending by the last round that verified
# them (registration order breaks ties). A capped diff therefore always
# covers the queries with the weakest verification record, and the set
# rotates round over round so every query re-verifies every other round.
# Oracle-gated queries still precede rows-only ones within each tier.
# --------------------------------------------------------------------------


def _order_least_recently_verified() -> None:
    import json
    import re
    from pathlib import Path

    last_verified: dict[str, int] = {}
    root = Path(__file__).resolve().parents[2]
    for path in root.glob("CORRECTNESS_r*.json"):
        m = re.search(r"r(\d+)", path.stem)
        rnd = int(m.group(1)) if m else 0
        try:
            rows = json.loads(path.read_text())
        except (OSError, ValueError):
            continue
        for name, row in rows.items():
            if isinstance(row, dict) and row.get("hash_match"):
                last_verified[name] = max(last_verified.get(name, 0), rnd)
    names = list(QUERIES)
    pos = {n: i for i, n in enumerate(names)}
    names.sort(
        key=lambda n: (
            QUERIES[n].oracle is None,  # oracle-gated before rows-only
            last_verified.get(n, -1),  # never-verified first, then oldest
            pos[n],
        )
    )
    ordered = {n: QUERIES[n] for n in names}
    QUERIES.clear()
    QUERIES.update(ordered)


_order_least_recently_verified()

# qNN prefixes must be unique: docs, VERDICT, the rotation record, and
# bench reports all refer to queries by number (a round-3 collision
# between two q89s forced a renumber — fail loudly on the next one)
_nums = [n.split("_", 1)[0] for n in QUERIES]
if len(set(_nums)) != len(_nums):
    raise ValueError(
        "duplicate qNN prefixes in QUERIES: "
        + ", ".join(sorted(x for x in set(_nums) if _nums.count(x) > 1))
    )
del _nums
