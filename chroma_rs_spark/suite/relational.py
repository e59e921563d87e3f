"""Relational analytics suite (SURVEY.md §2.3) over the TPC-H-ish
driver tables, each query with a DuckDB oracle twin.

Scale discipline baked into every query:
- dims (region/nation, and supplier where small) join via explicit
  `F.broadcast` — no shuffle for the dimension side;
- fact-fact joins shuffle on their natural keys only after filters are
  applied (Catalyst pushes the filters into the parquet scans);
- aggregations are expressed as plain groupBy so map-side partial
  aggregation happens automatically;
- window top-k is used instead of global sorts wherever "top N per
  group" is wanted.

Exactness discipline (SURVEY.md §7 hard-part (e)): money math runs in
DECIMAL (exact, order-independent) and is cast to DOUBLE only at the
output boundary; averages are expressed as exact-sum / count so both
engines perform one identical double division. This makes value
hashes engine-independent even though Spark sums in arbitrary
partition order.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from chroma_rs_spark.functions import money
from chroma_rs_spark.sources.tables import load_table
from chroma_rs_spark.suite import QueryDef


def _dec(col: str | Column, spec: str = "15,2") -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(f"decimal({spec})")


def _one_minus(col: str) -> Column:
    return F.lit(1).cast("decimal(3,2)") - _dec(col, "4,2")


def _one_plus(col: str) -> Column:
    return F.lit(1).cast("decimal(3,2)") + _dec(col, "4,2")


# -- Q1-style pricing summary ------------------------------------------


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 on the exact int64 fast path (functions/money.py): the
    same fixed-point rationals the DECIMAL formulation produces, summed
    as two-limb codegen long accumulators instead of boxed BigDecimal —
    one filtered scan, map-side partial agg, one 6-group shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    cutoff = F.lit("2000-09-02").cast("timestamp")
    # whole select lists as parsed SQL strings — one py4j call each
    # (functions/vector.py has the measured plan-build motivation);
    # the parsed trees are identical to the Column-DSL forms
    qty = money.int_scaled_sql("l_quantity")  # cents: units 1e-2
    price = money.int_scaled_sql("l_extendedprice")
    disc = money.int_scaled_sql("l_discount")
    tax = money.int_scaled_sql("l_tax")
    src = li.filter(F.col("l_shipdate") <= cutoff).selectExpr(
        "l_returnflag",
        "l_linestatus",
        f"{qty} AS _qty",
        f"{price} AS _price",
        f"{disc} AS _disc",
        f"{price} * (100 - {disc}) AS _dp",  # units 1e-4
        f"{price} * (100 - {disc}) * (100 + {tax}) AS _ch",  # units 1e-6
    )
    grouped = src.groupBy("l_returnflag", "l_linestatus").agg(
        *[
            F.expr(s)
            for s in (
                money.split_sum_sql("_qty", "sq")
                + money.split_sum_sql("_price", "sp")
                + money.split_sum_sql("_dp", "sd")
                + money.split_sum_sql("_ch", "sc")
                + money.split_sum_sql("_disc", "sdisc")
            )
        ],
        F.count(F.lit(1)).alias("count_order"),
    )
    return grouped.selectExpr(
        "l_returnflag",
        "l_linestatus",
        f"{money.combine_double_sql('sq', 2)} AS sum_qty",
        f"{money.combine_double_sql('sp', 2)} AS sum_base_price",
        f"{money.combine_double_sql('sd', 4)} AS sum_disc_price",
        f"{money.combine_double_sql('sc', 6)} AS sum_charge",
        f"{money.combine_double_sql('sq', 2)} / count_order AS avg_qty",
        f"{money.combine_double_sql('sp', 2)} / count_order AS avg_price",
        f"{money.combine_double_sql('sdisc', 2)} / count_order AS avg_disc",
        "count_order",
    )


_PRICING_ORACLE = """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(15,2))) AS DOUBLE) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(15,2))) AS DOUBLE) AS sum_base_price,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(15,2))
                * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
           AS sum_disc_price,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(15,2))
                * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))
                * (CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE)
           AS sum_charge,
       CAST(sum(CAST(l_quantity AS DECIMAL(15,2))) AS DOUBLE) / count(*) AS avg_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(15,2))) AS DOUBLE) / count(*) AS avg_price,
       CAST(sum(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) / count(*) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


# -- Q3-style shipping priority (join + agg + top-k) -------------------


def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    d = F.lit("1998-03-15").cast("timestamp")
    # exact revenue in units 1e-4 on int64 — per-order groups are tiny
    # (≤ 7 lineitems at any scale factor), so a plain long sum is exact
    # with huge headroom and stays in codegen
    revenue = money.int_scaled("l_extendedprice") * (
        F.lit(100) - money.int_scaled("l_discount")
    )
    return (
        li.filter(F.col("l_shipdate") > d)
        .join(orders.filter(F.col("o_orderdate") < d), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(cust.filter(F.col("c_mktsegment") == "BUILDING")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.sum(revenue).alias("_rev4"))
        .select(
            "o_orderkey",
            (F.col("_rev4").cast("decimal(38,0)") / F.lit(10_000))
            .cast("double")
            .alias("revenue"),
            "o_orderdate",
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
    )


_SHIPPING_ORACLE = """
SELECT o_orderkey,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(15,2))
                * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
           AS revenue,
       o_orderdate
FROM customer, orders, lineitem
WHERE c_mktsegment = 'BUILDING'
  AND c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
GROUP BY o_orderkey, o_orderdate
ORDER BY revenue DESC, o_orderkey
LIMIT 10
"""


# -- Q5-style local supplier volume (6-way join, broadcast dims) -------


def q_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    lo = F.lit("1996-01-01").cast("timestamp")
    hi = F.lit("1998-01-01").cast("timestamp")
    # exact int64 revenue (units 1e-4), two-limb sums per nation group
    revenue = money.int_scaled("l_extendedprice") * (
        F.lit(100) - money.int_scaled("l_discount")
    )
    asia_nations = nation.join(
        F.broadcast(region.filter(F.col("r_name") == "ASIA")),
        F.col("n_regionkey") == F.col("r_regionkey"),
    )
    return (
        li.join(
            orders.filter((F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi)),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            cust,
            (F.col("o_custkey") == F.col("c_custkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(asia_nations), F.col("s_nationkey") == F.col("n_nationkey"))
        .withColumn("_r4", revenue)
        .groupBy("n_name")
        .agg(*money.split_sum_aggs(F.col("_r4"), "rev"))
        .select("n_name", money.combine_double("rev", 4).alias("revenue"))
    )


_LOCAL_SUPPLIER_ORACLE = """
SELECT n_name,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(15,2))
                * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
           AS revenue
FROM customer, orders, lineitem, supplier, nation, region
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
  AND r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n_name
"""


# -- window top-k per group --------------------------------------------


def q_top_customers_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    nation = load_table(spark, sf_dir, "nation")
    spend = (
        orders.groupBy("o_custkey")
        .agg(F.sum(_dec("o_totalprice")).alias("_spend"))
    )
    w = Window.partitionBy("n_name").orderBy(
        F.col("spend").desc(), F.col("c_custkey").asc()
    )
    return (
        cust.join(spend, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .select(
            "n_name", "c_custkey", F.col("_spend").cast("double").alias("spend")
        )
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
    )


_TOP_CUSTOMERS_ORACLE = """
WITH spend AS (
  SELECT o_custkey, CAST(sum(CAST(o_totalprice AS DECIMAL(15,2))) AS DOUBLE) AS spend
  FROM orders GROUP BY o_custkey
),
ranked AS (
  SELECT n_name, c_custkey, spend,
         ROW_NUMBER() OVER (PARTITION BY n_name ORDER BY spend DESC, c_custkey) AS rank
  FROM customer
  JOIN spend ON c_custkey = o_custkey
  JOIN nation ON c_nationkey = n_nationkey
)
SELECT n_name, c_custkey, spend, rank FROM ranked WHERE rank <= 3
"""


# -- rollup / cube ------------------------------------------------------


def q_events_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.withColumn("event_year", F.year("ts").cast("long"))
        .cube("event_type", "event_year")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(_dec("value", "18,6")).cast("double").alias("total_value"),
        )
    )


_EVENTS_CUBE_ORACLE = """
SELECT event_type, CAST(year(ts) AS BIGINT) AS event_year,
       count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
FROM events
GROUP BY CUBE (event_type, CAST(year(ts) AS BIGINT))
"""


# -- outer / semi / anti joins -----------------------------------------
# (left OUTER join + coalesce-count — the old customer_order_counts
# query — is exercised by tests/test_relational_ops.py; the suite keeps
# the semi and anti variants, which the SURVEY §2.3 join family lists.)


def q_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join: customers with no order since 2000 (lapsed)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    recent = orders.filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    )
    return (
        cust.join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
    )


_CUSTOMERS_WITHOUT_ORDERS_ORACLE = """
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
"""


def q_suppliers_with_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi: suppliers that shipped at least one returned line."""
    supp = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem")
    returned = li.filter(F.col("l_returnflag") == "R")
    return supp.join(
        returned, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi"
    ).select("s_suppkey", "s_name")


_SUPPLIERS_WITH_RETURNS_ORACLE = """
SELECT s_suppkey, s_name FROM supplier
WHERE EXISTS (SELECT 1 FROM lineitem
              WHERE l_suppkey = s_suppkey AND l_returnflag = 'R')
"""


# -- set operations -----------------------------------------------------


def q_set_ops_tagged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All three set operations in one tagged result (INTERSECT /
    EXCEPT / UNION-distinct), so each branch stays a genuine set-op
    plan while the family fits one correctness row:

    - intersect: parts shipped in both 1996 and 2000;
    - except: customers who placed URGENT orders but never LOW ones;
    - union: orders that are URGENT or over 400k (distinct orderkeys).

    Each branch shuffles only its distinct key set; the final
    unionByName is a zero-shuffle concatenation.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")

    y96 = li.filter(F.year("l_shipdate") == 1996).select("l_partkey").distinct()
    y00 = li.filter(F.year("l_shipdate") == 2000).select("l_partkey").distinct()
    both_years = y96.intersect(y00).select(
        F.lit("intersect_parts_both_years").alias("set_op"),
        F.col("l_partkey").cast("long").alias("key_id"),
    )

    urgent = (
        orders.filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
        .distinct()
    )
    low = (
        orders.filter(F.col("o_orderpriority") == "5-LOW")
        .select("o_custkey")
        .distinct()
    )
    urgent_only = urgent.exceptAll(low).select(
        F.lit("except_urgent_only").alias("set_op"),
        F.col("o_custkey").cast("long").alias("key_id"),
    )

    pri = orders.filter(F.col("o_orderpriority") == "1-URGENT").select("o_orderkey")
    big = orders.filter(F.col("o_totalprice") > 400000.0).select("o_orderkey")
    pri_or_big = (
        pri.union(big)
        .distinct()
        .select(
            F.lit("union_priority_or_big").alias("set_op"),
            F.col("o_orderkey").cast("long").alias("key_id"),
        )
    )

    return both_years.unionByName(urgent_only).unionByName(pri_or_big)


_SET_OPS_ORACLE = """
SELECT 'intersect_parts_both_years' AS set_op, CAST(l_partkey AS BIGINT) AS key_id
FROM (
  SELECT DISTINCT l_partkey FROM lineitem WHERE year(l_shipdate) = 1996
  INTERSECT
  SELECT DISTINCT l_partkey FROM lineitem WHERE year(l_shipdate) = 2000)
UNION ALL
SELECT 'except_urgent_only', CAST(o_custkey AS BIGINT)
FROM (
  SELECT o_custkey FROM (
    SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
  EXCEPT ALL
  SELECT o_custkey FROM (
    SELECT DISTINCT o_custkey FROM orders WHERE o_orderpriority = '5-LOW'))
UNION ALL
SELECT 'union_priority_or_big', CAST(o_orderkey AS BIGINT)
FROM (
  SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'
  UNION
  SELECT o_orderkey FROM orders WHERE o_totalprice > 400000.0)
"""


# -- windows: running totals & sessionization --------------------------


def q_order_window_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The window-function surface over each customer's order history
    in ONE pass / one shuffle on o_custkey: running totals + sequence
    (rows frame), ntile quartiles, percent_rank/cume_dist, first/last
    value over the unbounded frame, and lead/lag deltas. Merges the
    former running_order_totals + customer_spend_windows queries —
    every window spec shares the same partitioning and ordering, so
    Spark evaluates them in a single Window node.
    """
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_all = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    price = _dec("o_totalprice")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.sum(price).over(w_run).cast("double").alias("running_spend"),
        F.row_number().over(w).cast("long").alias("order_seq"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.first(price).over(w_all).cast("double").alias("first_price"),
        F.last(price).over(w_all).cast("double").alias("last_price"),
        F.coalesce(
            (price - F.lag(price).over(w)).cast("double"), F.lit(0.0)
        ).alias("delta_prev"),
        F.coalesce(
            (F.lead(price).over(w) - price).cast("double"), F.lit(0.0)
        ).alias("delta_next"),
    )


_ORDER_WINDOW_FRAMES_ORACLE = """
SELECT o_custkey, o_orderkey, o_orderdate,
       CAST(sum(CAST(o_totalprice AS DECIMAL(15,2))) OVER wr AS DOUBLE)
           AS running_spend,
       ROW_NUMBER() OVER w AS order_seq,
       CAST(ntile(4) OVER w AS BIGINT) AS quartile,
       round(percent_rank() OVER w, 6) AS pct_rank,
       round(cume_dist() OVER w, 6) AS cume,
       CAST(first_value(CAST(o_totalprice AS DECIMAL(15,2))) OVER wa AS DOUBLE)
           AS first_price,
       CAST(last_value(CAST(o_totalprice AS DECIMAL(15,2))) OVER wa AS DOUBLE)
           AS last_price,
       coalesce(CAST(CAST(o_totalprice AS DECIMAL(15,2))
                     - lag(CAST(o_totalprice AS DECIMAL(15,2))) OVER w AS DOUBLE),
                0.0) AS delta_prev,
       coalesce(CAST(lead(CAST(o_totalprice AS DECIMAL(15,2))) OVER w
                     - CAST(o_totalprice AS DECIMAL(15,2)) AS DOUBLE),
                0.0) AS delta_next
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
       wr AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
       wa AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""


SESSION_GAP_SECONDS = 1800


def q_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag-based sessionization: a >30min gap starts a new session."""
    ev = load_table(spark, sf_dir, "events")
    by_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    running = by_user.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    gap_us = SESSION_GAP_SECONDS * 1_000_000
    with_gap = ev.withColumn(
        "_prev", F.lag(F.unix_micros(F.col("ts"))).over(by_user)
    ).withColumn(
        "_new",
        F.when(
            F.col("_prev").isNull()
            | ((F.unix_micros(F.col("ts")) - F.col("_prev")) > gap_us),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    return (
        with_gap.withColumn("session_id", F.sum("_new").over(running).cast("long"))
        .groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
    )


_SESSIONIZE_ORACLE = f"""
WITH gaps AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                   OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > {SESSION_GAP_SECONDS * 1_000_000}
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
  SELECT user_id, ts,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS session_id
  FROM gaps
)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
       count(*) AS n_events,
       min(ts) AS session_start, max(ts) AS session_end
FROM sessions
GROUP BY user_id, session_id
"""


# -- distinct counts ----------------------------------------------------


def q_approx_distinct_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact + approximate distinct counts per return flag.

    The HyperLogLog++ estimate itself is algorithm-specific (no other
    engine reproduces it bit-for-bit), so the oracle-checkable contract
    is the exact count plus a deterministic error-bound boolean: HLL is
    order-independent, so `approx_within_5pct` is stable run-to-run,
    and the oracle asserts the exact counts and literal TRUE. rsd=0.02
    keeps the estimate comfortably inside the 5% gate (measured worst
    error ~1% at sf0.01 and sf0.1) at a quarter of the register count
    of rsd=0.01.
    """
    li = load_table(spark, sf_dir, "lineitem")
    # Dedup first, then count + sketch the distinct pairs: HLL registers
    # only see distinct hashed values, so the estimate over the deduped
    # set is bit-identical to the estimate over raw rows — and the plan
    # becomes ONE distinct shuffle + a tiny agg instead of Spark's
    # two-shuffle countDistinct expansion running next to a second
    # full-table HLL pass.
    # SQL COUNT(DISTINCT x) semantics: NULL part keys are not values
    # (HLL also skips NULL inputs in both engines)
    pairs = (
        li.filter(F.col("l_partkey").isNotNull())
        .select("l_returnflag", "l_partkey")
        .distinct()
    )
    g = pairs.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("_approx"),
        F.count(F.lit(1)).alias("exact_parts"),
    )
    return g.select(
        "l_returnflag",
        F.col("exact_parts").cast("long").alias("exact_parts"),
        (
            F.abs(F.col("_approx") - F.col("exact_parts")).cast("double")
            / F.col("exact_parts").cast("double")
            <= F.lit(0.05)
        ).alias("approx_within_5pct"),
    )


_APPROX_DISTINCT_ORACLE = """
SELECT l_returnflag,
       CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
       TRUE AS approx_within_5pct
FROM lineitem
GROUP BY l_returnflag
"""


# -- JSON extraction (events.props) ------------------------------------


def q_events_json_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.from_json("props", "k INT")["k"]
    return (
        ev.withColumn("_k", k)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("_k").cast("long").alias("sum_k"),
            (F.sum("_k").cast("double") / F.count(F.lit(1))).alias("avg_k"),
        )
    )


# TRY semantics mirror Spark's permissive from_json: NULL or malformed
# props (and non-integer k) contribute NULL, which sum() skips
_EVENTS_JSON_ORACLE = """
WITH p AS (
  SELECT event_type,
         CASE WHEN json_valid(props)
              THEN TRY_CAST(json_extract_string(props, '$.k') AS INTEGER)
         END AS k
  FROM events
)
SELECT event_type, count(*) AS n,
       CAST(sum(k) AS BIGINT) AS sum_k,
       CAST(sum(k) AS DOUBLE) / count(*) AS avg_k
FROM p
GROUP BY event_type
"""


# -- grouping sets ------------------------------------------------------


def q_orders_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS ((status, priority), (status), ()) — finer control
    than rollup/cube; grouped-out dims carry an '(all)' sentinel so the
    output is null-free for the hash gate.

    These sets ARE the rollup lattice of (status, priority), so this
    query also covers the ROLLUP operator (the former orders_rollup
    query returned the identical result set; the rollup/groupingSets
    equivalence is asserted by tests/test_relational_ops.py)."""
    orders = load_table(spark, sf_dir, "orders").withColumn(
        "_p", money.int_scaled("o_totalprice")
    )
    # two-limb int64 money sums (functions/money.py) instead of
    # sum(DECIMAL): the grouping-sets expansion multiplies every row by
    # |sets|, so keeping the accumulator on the codegen long fast path
    # matters x3 here; the recombine is one decimal op per output row
    gs = orders.groupingSets(
        [["o_orderstatus", "o_orderpriority"], ["o_orderstatus"], []],
        "o_orderstatus",
        "o_orderpriority",
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        *money.split_sum_aggs(F.col("_p"), "tp"),
    )
    gs = gs.withColumn("total_price", money.combine_double("tp", 2))
    return gs.select(
        F.coalesce("o_orderstatus", F.lit("(all)")).alias("o_orderstatus"),
        F.coalesce("o_orderpriority", F.lit("(all)")).alias("o_orderpriority"),
        "n_orders",
        "total_price",
    )


_ORDERS_GROUPING_SETS_ORACLE = """
SELECT coalesce(o_orderstatus, '(all)') AS o_orderstatus,
       coalesce(o_orderpriority, '(all)') AS o_orderpriority,
       count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(15,2))) AS DOUBLE) AS total_price
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
"""


# -- pivot --------------------------------------------------------------


EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def q_user_event_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-type counts as columns (pivot with an explicit
    value list — at scale an implicit list would force a distinct scan)."""
    ev = load_table(spark, sf_dir, "events")
    pv = (
        ev.groupBy("user_id")
        .pivot("event_type", list(EVENT_TYPES))
        .agg(F.count(F.lit(1)))
    )
    return pv.select(
        "user_id",
        *[
            F.coalesce(F.col(t), F.lit(0)).cast("long").alias(f"n_{t}")
            for t in EVENT_TYPES
        ],
    )


_USER_EVENT_PIVOT_ORACLE = """
SELECT user_id,
       count(*) FILTER (WHERE event_type = 'click') AS n_click,
       count(*) FILTER (WHERE event_type = 'error') AS n_error,
       count(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
       count(*) FILTER (WHERE event_type = 'signup') AS n_signup,
       count(*) FILTER (WHERE event_type = 'view') AS n_view
FROM events
GROUP BY user_id
"""


# -- statistical aggregates --------------------------------------------


def _rank_select_percentiles(
    df: DataFrame,
    group_col: str,
    value_col: str,
    ps: tuple[float, ...],
    names: tuple[str, ...],
) -> DataFrame:
    """Exact linear-interpolation percentiles via rank selection: one
    in-group sort (parallel across groups), keep only the floor/ceil
    ranks of each target position pos = (n-1)*p, and interpolate
    v_lo + (v_hi - v_lo) * frac — the definition `percentile` /
    DuckDB quantile_cont computes, without buffering every value into
    one aggregation state. Rounded to 4 dp.

    The one in-group sort serializes each group into a single task, so
    this formulation assumes group cardinality x per-group volume that
    fits one task (true for the 3 return flags at suite scale). For
    groups too large to sort in one task, `percentiles_cent_histogram`
    below computes the identical result with no group-sized sort
    anywhere (equality pinned by tests/test_relational_ops.py); it
    costs two extra (tiny) jobs, which is why the dimension-bounded
    suite query keeps the window form — measured A/B at sf0.1:
    window 1.04 s vs histogram 1.45 s, both dominated by fixed
    per-job overhead at this scale, reversed at 100 TB where the
    blocking sort is the failure mode, not the job count."""
    # whole builder in parsed SQL-string form — one py4j call per
    # select/filter/agg output instead of one per node (identical
    # trees; see functions/vector.py for the measured motivation)
    g, v = f"`{group_col}`", f"`{value_col}`"
    # quantile_cont semantics: NULL values are not ranked (a NULL would
    # otherwise sort NULLS FIRST into _rn and shift every position)
    df = df.filter(F.col(value_col).isNotNull())
    ranked = df.selectExpr(
        g,
        v,
        f"row_number() OVER (PARTITION BY {g} ORDER BY {v}) AS _rn",
        f"count(1) OVER (PARTITION BY {g}) AS _n",
    )

    def pos(p: float) -> str:
        return f"(_n - 1) * {p!r}D"

    keep = " OR ".join(
        f"(_rn - 1) = floor({pos(p)}) OR (_rn - 1) = ceil({pos(p)})"
        for p in ps
    )
    outs = []
    for p, nm in zip(ps, names):
        lo = f"max(CASE WHEN (_rn - 1) = floor({pos(p)}) THEN {v} END)"
        hi = f"max(CASE WHEN (_rn - 1) = ceil({pos(p)}) THEN {v} END)"
        frac = f"max({pos(p)} - floor({pos(p)}))"
        outs.append(
            F.expr(f"round({lo} + ({hi} - {lo}) * {frac}, 4) AS `{nm}`")
        )
    return ranked.filter(keep).groupBy(group_col).agg(*outs)


def percentiles_cent_histogram(
    df: DataFrame,
    group_col: str,
    value_col: str,
    ps: tuple[float, ...],
    names: tuple[str, ...],
    shift: int = 10,
) -> DataFrame:
    """Exact linear-interpolation percentiles via a CENT-HISTOGRAM +
    targeted rank selection — the definition `percentile` / DuckDB
    quantile_cont computes, with no group-sized sort anywhere in the
    plan (the formulation that survives a 100 TB group, where a
    partitionBy(group) window serializes each group into one task).

    Phase 1 (the only full-data shuffle, map-side combinable): bucket
    each row by its fixed-point value right-shifted `shift` bits (a
    data-independent equi-width histogram on the money domain — cents
    >> 10 is ~$10.24 buckets) and count per (group, bucket).
    Phase 2 (tiny, |groups| x |buckets| rows): cumulative offsets +
    group totals via a window; a bucket is NEEDED iff it contains the
    floor or ceil rank of some target position pos = (n-1)*p.
    Phase 3: re-scan with a broadcast semi-join keeping ONLY rows in
    needed buckets (≤ 2*|ps| buckets per group), sort those few rows
    within (group, bucket), add the bucket offset for the global rank,
    and interpolate v_lo + (v_hi - v_lo) * frac. Rounded to 4 dp.

    Equal values share a bucket, and lo/hi select VALUES at ranks, so
    row_number tie order cannot change the result — deterministic
    across engines and partitionings."""
    from functools import reduce
    from operator import or_

    # NULL group keys cannot survive the re-scan join on [group, _bk]
    # (NULL never equi-joins), and NULL values are not ranked by
    # quantile_cont — both excluded explicitly, mirrored in oracles
    df = df.filter(
        F.col(group_col).isNotNull() & F.col(value_col).isNotNull()
    )
    bucket = F.shiftright(money.int_scaled(value_col), shift)
    hist = (
        df.select(group_col, bucket.alias("_bk"))
        .groupBy(group_col, "_bk")
        .agg(F.count(F.lit(1)).alias("_bc"))
    )
    w_off = (
        Window.partitionBy(group_col)
        .orderBy("_bk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_all = Window.partitionBy(group_col)
    cum = hist.select(
        group_col,
        "_bk",
        "_bc",
        F.coalesce(F.sum("_bc").over(w_off), F.lit(0)).alias("_off"),
        F.sum("_bc").over(w_all).alias("_n"),
    )
    rank_conds = []
    for p in ps:
        pos = (F.col("_n") - 1) * F.lit(p)
        for r in (F.floor(pos) + 1, F.ceil(pos) + 1):
            rank_conds.append(
                (F.col("_off") < r) & (r <= F.col("_off") + F.col("_bc"))
            )
    needed = cum.filter(reduce(or_, rank_conds)).select(
        group_col, "_bk", "_off", "_n"
    )
    w_rank = Window.partitionBy(group_col, "_bk").orderBy(value_col)
    ranked = (
        df.select(group_col, value_col, bucket.alias("_bk"))
        .join(F.broadcast(needed), [group_col, "_bk"])
        .withColumn("_rn", F.col("_off") + F.row_number().over(w_rank))
    )
    keep = None
    for p in ps:
        pos = (F.col("_n") - 1) * F.lit(p)
        c = ((F.col("_rn") - 1) == F.floor(pos)) | (
            (F.col("_rn") - 1) == F.ceil(pos)
        )
        keep = c if keep is None else (keep | c)
    outs = []
    for p, nm in zip(ps, names):
        pos = (F.col("_n") - 1) * F.lit(p)
        lo = F.max(
            F.when((F.col("_rn") - 1) == F.floor(pos), F.col(value_col))
        )
        hi = F.max(
            F.when((F.col("_rn") - 1) == F.ceil(pos), F.col(value_col))
        )
        frac = F.max(pos - F.floor(pos))
        outs.append(F.round(lo + (hi - lo) * frac, 4).alias(nm))
    return ranked.filter(keep).groupBy(group_col).agg(*outs)


def q_lineitem_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """corr / covariance / stddev per return flag, computed from EXACT
    fixed-point sums (int64 two-limb accumulators, functions/money.py)
    via the closed forms — not the built-in floating accumulators,
    whose partition-order-dependent rounding would break cross-engine
    hashing. Both engines cast the same exact sums to double and
    evaluate the same IEEE expression, so results match bit-for-bit
    while staying one-pass/map-side-combinable at scale.
    """
    # Two branches ON PURPOSE (measured): moments aggregate map-side in
    # parallel over the scan, percentiles pay the flag-partitioned sort
    # on ONLY (flag, price), and a 3-row broadcast join glues them. A
    # round-4 experiment fused both into one window pass — 0.72 s vs
    # 0.84 s at sf0.1 — but carrying the money limbs through the
    # 3-task in-group sort tripled the 10x-replication time (10.7 s vs
    # 3.2 s at ~sf1.0): the narrow-sort/parallel-agg split IS the plan
    # that survives scale-up, so the suite keeps it.
    li = load_table(spark, sf_dir, "lineitem").selectExpr(
        "l_returnflag",
        f"{money.int_scaled_sql('l_quantity')} AS _x",
        f"{money.int_scaled_sql('l_extendedprice')} AS _y",
    )
    g = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        # exact two-limb int64 sums (functions/money.py) — the second
        # moments (y*y ≤ ~1.2e14 per row, units 1e-4) hold exactly to
        # ~1e10 rows per group on two limbs
        *[
            F.expr(s)
            for s in (
                money.split_sum_sql("_x", "sx")
                + money.split_sum_sql("_y", "sy")
                + money.split_sum_sql("_x * _y", "sxy")
                + money.split_sum_sql("_x * _x", "sxx")
                + money.split_sum_sql("_y * _y", "syy")
            )
        ],
    )
    # Exact linear-interpolation percentiles (≡ DuckDB quantile_cont):
    # the in-group sort parallelizes across groups and carries only the
    # two columns it needs; `percentiles_cent_histogram` remains the
    # formulation for groups too large to sort in one task.
    pcts = _rank_select_percentiles(
        load_table(spark, sf_dir, "lineitem"),
        "l_returnflag",
        "l_extendedprice",
        (0.25, 0.5, 0.75, 0.95),
        ("p25", "p50", "p75", "p95"),
    )
    g = g.join(F.broadcast(pcts), "l_returnflag")
    nd = "CAST(n AS DOUBLE)"
    sx = money.combine_double_sql("sx", 2)
    sy = money.combine_double_sql("sy", 2)
    sxy = money.combine_double_sql("sxy", 4)
    sxx = money.combine_double_sql("sxx", 4)
    syy = money.combine_double_sql("syy", 4)
    return g.selectExpr(
        "l_returnflag",
        "n",
        f"round(({nd} * {sxy} - {sx} * {sy})"
        f" / SQRT(({nd} * {sxx} - {sx} * {sx}) * ({nd} * {syy} - {sy} * {sy})), 6)"
        " AS corr_qty_price",
        f"round(({nd} * {sxy} - {sx} * {sy}) / ({nd} * ({nd} - 1.0D)), 6)"
        " AS covar_qty_price",
        f"round(SQRT(({nd} * {syy} - {sy} * {sy}) / ({nd} * ({nd} - 1.0D))), 6)"
        " AS stddev_price",
        f"round({sx} / {nd}, 6) AS avg_qty",
        "p25",
        "p50",
        "p75",
        "p95",
    )


_LINEITEM_STATS_ORACLE = """
WITH sums AS (
  SELECT l_returnflag,
         count(*) AS n,
         CAST(count(*) AS DOUBLE) AS nd,
         CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sx,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sy,
         CAST(sum(CAST(l_quantity AS DECIMAL(12,2))
                  * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sxy,
         CAST(sum(CAST(l_quantity AS DECIMAL(12,2))
                  * CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sxx,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                  * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS syy
  FROM lineitem GROUP BY l_returnflag
),
pct AS (
  SELECT l_returnflag,
         round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
         round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
         round(quantile_cont(l_extendedprice, 0.75), 4) AS p75,
         round(quantile_cont(l_extendedprice, 0.95), 4) AS p95
  FROM lineitem GROUP BY l_returnflag
)
SELECT sums.l_returnflag, n,
       round((nd * sxy - sx * sy) / sqrt((nd * sxx - sx * sx) * (nd * syy - sy * sy)), 6)
           AS corr_qty_price,
       round((nd * sxy - sx * sy) / (nd * (nd - 1.0)), 6) AS covar_qty_price,
       round(sqrt((nd * syy - sy * sy) / (nd * (nd - 1.0))), 6) AS stddev_price,
       round(sx / nd, 6) AS avg_qty,
       p25, p50, p75, p95
FROM sums JOIN pct ON sums.l_returnflag = pct.l_returnflag
"""


def q_orders_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-subquery pattern + the scalar/date/string function
    surface: orders pricier than the global average, with derived
    display columns (the old standalone scalar_functions query folded
    in — same expressions, now over the filtered subset).

    The 1-row aggregate is explicitly broadcast, so the fact table is
    filtered map-side with zero shuffle — the plan a scalar subquery
    should compile to at 100 TB. Average is exact-decimal-sum / count
    (one identical double division in both engines). The correlated
    variant (value above its own GROUP's average, decorrelated into a
    window pass) is exercised by tests/test_relational_ops.py.
    """
    orders = load_table(spark, sf_dir, "orders")
    avg_row = orders.agg(
        (F.sum(_dec("o_totalprice")).cast("double") / F.count("*")).alias("avg_price")
    )
    return (
        orders.crossJoin(F.broadcast(avg_row))
        .filter(F.col("o_totalprice") > F.col("avg_price"))
        .select(
            "o_orderkey",
            "o_custkey",
            "o_totalprice",
            F.year("o_orderdate").cast("long").alias("o_year"),
            F.month("o_orderdate").cast("long").alias("o_month"),
            # to_date: Spark date_trunc returns TIMESTAMP while SQL engines
            # truncating a DATE return DATE — pin DATE for type-exact hashes
            F.to_date(F.date_trunc("month", F.col("o_orderdate"))).alias(
                "month_start"
            ),
            F.upper("o_orderpriority").alias("priority_upper"),
            F.substring("o_orderpriority", 1, 1).cast("long").alias("priority_rank"),
            F.length("o_orderpriority").cast("long").alias("priority_len"),
            F.concat_ws("-", "o_orderstatus", "o_orderpriority").alias("status_priority"),
            F.round(F.sqrt("o_totalprice"), 6).alias("price_sqrt"),
            # divisor chosen so the true quotient never lands on an exact
            # decimal half — Spark rounds the shortest string repr
            # (HALF_UP) while DuckDB rounds the binary value, and they
            # disagree only at exact .xx5 decimals (x*0.1 of 2-decimal
            # money hits those).
            F.round(F.col("o_totalprice") / 3.0, 2).alias("price_third"),
            F.abs(F.col("o_totalprice") - 200000.0).alias("price_dev"),
        )
    )


_ORDERS_ABOVE_AVG_ORACLE = """
SELECT o_orderkey, o_custkey, o_totalprice,
       CAST(year(o_orderdate) AS BIGINT) AS o_year,
       CAST(month(o_orderdate) AS BIGINT) AS o_month,
       date_trunc('month', o_orderdate) AS month_start,
       upper(o_orderpriority) AS priority_upper,
       CAST(substring(o_orderpriority, 1, 1) AS BIGINT) AS priority_rank,
       CAST(length(o_orderpriority) AS BIGINT) AS priority_len,
       concat_ws('-', o_orderstatus, o_orderpriority) AS status_priority,
       round(sqrt(o_totalprice), 6) AS price_sqrt,
       round(o_totalprice / 3.0, 2) AS price_third,
       abs(o_totalprice - 200000.0) AS price_dev
FROM orders
WHERE o_totalprice > (
    SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(15,2))) AS DOUBLE) / count(*)
    FROM orders)
"""


def q_high_revenue_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts whose revenue exceeds 1.2x the average
    part's revenue (HAVING against a scalar aggregate).

    The threshold is computed with a global window over the per-part
    aggregate rather than a separate agg + self-join: Spark does not
    reuse the shuffle between the two branches of the self-join form
    (verified with .explain — 2 lineitem scans), and the window's
    single-partition pass only sees the *part-sized* aggregate
    (dimension cardinality, not fact rows), so one fact scan instead
    of two is the right trade at 100 TB.
    """
    li = load_table(spark, sf_dir, "lineitem")
    # revenue in exact units of 1e-4 (price cents x (100 - disc cents));
    # int64 two-limb sums per part, recombined to DECIMAL so the
    # global-window sum of per-part revenues stays exact
    price = money.int_scaled("l_extendedprice")
    disc = money.int_scaled("l_discount")
    per_part = (
        li.select("l_partkey", (price * (F.lit(100) - disc)).alias("_r4"))
        .groupBy("l_partkey")
        .agg(*money.split_sum_aggs(F.col("_r4"), "rev"))
        .select("l_partkey", money.combine("rev", 4).alias("_rev"))
    )
    # single-partition ON PURPOSE over the part-sized aggregate (see
    # docstring); pmod(key, 1) is a constant-0 partition spec the
    # optimizer cannot fold away — a bare lit would be constant-folded
    # out and re-emit WindowExec's unpartitioned warning every action.
    # coalesce: pmod(NULL, 1) is NULL, which would split a NULL-key
    # group into its own window partition and skew the global average.
    w = Window.partitionBy(F.pmod(F.coalesce(F.col("l_partkey"), F.lit(0)), F.lit(1)))
    threshold = F.sum("_rev").over(w).cast("double") / F.count("*").over(w) * 1.2
    return (
        per_part.withColumn("threshold", threshold)
        .filter(F.col("_rev").cast("double") > F.col("threshold"))
        .select("l_partkey", F.col("_rev").cast("double").alias("part_revenue"))
    )


_HIGH_REVENUE_PARTS_ORACLE = """
WITH per_part AS (
    SELECT l_partkey,
           sum(CAST(l_extendedprice AS DECIMAL(15,2))
               * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS _rev
    FROM lineitem
    GROUP BY l_partkey)
SELECT l_partkey, CAST(_rev AS DOUBLE) AS part_revenue
FROM per_part
WHERE CAST(_rev AS DOUBLE) >
      (SELECT CAST(sum(_rev) AS DOUBLE) / count(*) * 1.2 FROM per_part)
"""


QUERIES = {
    "pricing_summary": QueryDef(q_pricing_summary, _PRICING_ORACLE),
    "shipping_priority": QueryDef(q_shipping_priority, _SHIPPING_ORACLE),
    "local_supplier_volume": QueryDef(q_local_supplier_volume, _LOCAL_SUPPLIER_ORACLE),
    "top_customers_per_nation": QueryDef(
        q_top_customers_per_nation, _TOP_CUSTOMERS_ORACLE
    ),
    "orders_grouping_sets": QueryDef(
        q_orders_grouping_sets, _ORDERS_GROUPING_SETS_ORACLE
    ),
    "order_window_frames": QueryDef(
        q_order_window_frames, _ORDER_WINDOW_FRAMES_ORACLE
    ),
    "lineitem_stats": QueryDef(q_lineitem_stats, _LINEITEM_STATS_ORACLE),
    "set_ops_tagged": QueryDef(q_set_ops_tagged, _SET_OPS_ORACLE),
    # the scalar-subquery pattern (broadcast 1-row aggregate filtering
    # the fact table map-side) + the scalar date/string function surface
    "orders_above_avg": QueryDef(q_orders_above_avg, _ORDERS_ABOVE_AVG_ORACLE),
}

FUNNEL_WINDOW_US = 30 * 60 * 1_000_000  # 30 minutes, microseconds


def q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bounded ordered funnel (view -> click within 30 min ->
    purchase within 30 min of that click): how many users reached each
    stage. Running-epoch windows carry "latest view ts" and "latest
    qualifying click ts" per user — one shuffle on user_id, no
    self-joins; the stage test is integer microsecond arithmetic, and
    ties resolve by (ts, event_id) so both engines see the same order.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros(F.col("ts")).alias("_us"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    last_view = F.max(
        F.when(F.col("event_type") == "view", F.col("_us"))
    ).over(w)
    f1 = ev.withColumn("_lv", last_view)
    good_click = (
        (F.col("event_type") == "click")
        & (F.col("_lv").isNotNull())
        & (F.col("_us") - F.col("_lv") <= F.lit(FUNNEL_WINDOW_US))
    )
    last_click = F.max(F.when(good_click, F.col("_us"))).over(w)
    f2 = f1.withColumn("_lc", last_click)
    good_purchase = (
        (F.col("event_type") == "purchase")
        & (F.col("_lc").isNotNull())
        & (F.col("_us") - F.col("_lc") <= F.lit(FUNNEL_WINDOW_US))
    )
    per_user = f2.groupBy("user_id").agg(
        F.max((F.col("_lv").isNotNull()).cast("int")).alias("_s1"),
        F.max(good_click.cast("int")).alias("_s2"),
        F.max(good_purchase.cast("int")).alias("_s3"),
    )
    stage = (F.col("_s1") + F.col("_s2") + F.col("_s3")).alias("funnel_stage")
    return (
        per_user.select(stage)
        .groupBy("funnel_stage")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


_EVENT_FUNNEL_ORACLE = f"""
WITH ev AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events
),
f1 AS (
  SELECT user_id, event_id, event_type, us,
         max(CASE WHEN event_type = 'view' THEN us END)
           OVER (PARTITION BY user_id ORDER BY us, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lv
  FROM ev
),
f2 AS (
  SELECT user_id, event_id, event_type, us, lv,
         max(CASE WHEN event_type = 'click' AND lv IS NOT NULL
                       AND us - lv <= {FUNNEL_WINDOW_US} THEN us END)
           OVER (PARTITION BY user_id ORDER BY us, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lc
  FROM f1
),
per_user AS (
  SELECT user_id,
         max(CASE WHEN lv IS NOT NULL THEN 1 ELSE 0 END) AS s1,
         max(CASE WHEN event_type = 'click' AND lv IS NOT NULL
                       AND us - lv <= {FUNNEL_WINDOW_US} THEN 1 ELSE 0 END) AS s2,
         max(CASE WHEN event_type = 'purchase' AND lc IS NOT NULL
                       AND us - lc <= {FUNNEL_WINDOW_US} THEN 1 ELSE 0 END) AS s3
  FROM f2 GROUP BY user_id
)
SELECT s1 + s2 + s3 AS funnel_stage, count(*) AS n_users
FROM per_user GROUP BY 1
"""


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users grouped by the week of their
    first event; for each (cohort_week, week_offset), how many of them
    were active. Two aggregations — first-event week per user, then
    distinct (user, active week) — both keyed shuffles that scale as
    |users| and |user-weeks|, never |events|^2."""
    ev = load_table(spark, sf_dir, "events")
    # to_date: day-or-coarser truncation is a DATE in SQL engines while
    # Spark date_trunc returns TIMESTAMP — pin DATE for type-exact hashes
    wk = F.to_date(F.date_trunc("week", F.col("ts")))
    first = ev.groupBy("user_id").agg(F.min(wk).alias("cohort_week"))
    active = ev.select("user_id", wk.alias("_aw")).distinct()
    j = active.join(first, "user_id").select(
        "cohort_week",
        (F.datediff(F.col("_aw"), F.col("cohort_week")) / 7)
        .cast("long")
        .alias("week_offset"),
    )
    return j.groupBy("cohort_week", "week_offset").agg(
        F.count(F.lit(1)).alias("n_users")
    )


_COHORT_ORACLE = """
WITH first AS (
  SELECT user_id, min(date_trunc('week', ts)) AS cohort_week
  FROM events GROUP BY user_id
),
active AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS aw FROM events
)
SELECT f.cohort_week,
       CAST(date_diff('day', f.cohort_week, a.aw) // 7 AS BIGINT) AS week_offset,
       count(*) AS n_users
FROM active a JOIN first f USING (user_id)
GROUP BY 1, 2
"""


def q_price_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group z-score outliers: lineitem rows whose extended price
    is >2.5 sample standard deviations from their return flag's mean —
    the basic numeric data-quality screen. Mean/std come from the SAME
    exact two-limb int64 sums as lineitem_stats (one map-side-
    combinable aggregation broadcast back), so the flag is a
    deterministic function of the data; the z itself is one double
    expression, rounded to 6 dp on both engines."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        "l_extendedprice",
        money.int_scaled("l_extendedprice").alias("_y"),
    )
    y = F.col("_y")
    g = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("_n"),
        *money.split_sum_aggs(y, "sy"),
        *money.split_sum_aggs(y * y, "syy"),
    )
    n = F.col("_n").cast("double")
    sy = money.combine_double("sy", 2)
    syy = money.combine_double("syy", 4)
    stats = g.select(
        "l_returnflag",
        (sy / n).alias("_mean"),
        F.sqrt((n * syy - sy * sy) / (n * (n - F.lit(1.0)))).alias("_std"),
    )
    z = (F.col("l_extendedprice") - F.col("_mean")) / F.col("_std")
    return (
        li.join(F.broadcast(stats), "l_returnflag")
        .withColumn("z", F.round(z, 6) + F.lit(0.0))
        # uniform-ish price distributions cap |z| at ~sqrt(3), so the
        # classic 3-sigma screen selects nothing on this corpus; 1.6
        # keeps the tails (~7%) while exercising the whole plan
        .filter(F.abs(F.col("z")) > 1.6)
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_returnflag",
            "l_extendedprice",
            "z",
        )
    )


_PRICE_OUTLIERS_ORACLE = """
WITH s AS (
  SELECT l_returnflag,
         CAST(count(*) AS DOUBLE) AS nd,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sy,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                  * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS syy
  FROM lineitem GROUP BY l_returnflag
),
st AS (
  SELECT l_returnflag, sy / nd AS mean,
         sqrt((nd * syy - sy * sy) / (nd * (nd - 1.0))) AS std
  FROM s
)
SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag, l.l_extendedprice,
       round((l.l_extendedprice - st.mean) / st.std, 6) + 0.0 AS z
FROM lineitem l JOIN st USING (l_returnflag)
WHERE abs(round((l.l_extendedprice - st.mean) / st.std, 6) + 0.0) > 1.6
"""


HIST_LO, HIST_HI, HIST_BINS = 0.0, 600000.0, 20


def q_order_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-bin histogram of order totals over a data-independent
    [0, 600k) domain in 20 bins — the one-pass, map-side-combinable
    shape of every monitoring histogram (the same family as
    percentiles_cent_histogram's phase 1). The bucket expression is
    spelled out identically on both engines (DuckDB has no
    width_bucket; and spelling it out pins the boundary arithmetic:
    floor(v / step) + 1 with a literal step, clamped to [0, bins+1]).
    """
    orders = load_table(spark, sf_dir, "orders")
    step = (HIST_HI - HIST_LO) / HIST_BINS
    b = F.least(
        F.lit(HIST_BINS + 1),
        F.greatest(
            F.lit(0),
            (F.floor((F.col("o_totalprice") - F.lit(HIST_LO)) / F.lit(step)) + 1).cast("int"),
        ),
    )
    return (
        orders.select(b.cast("long").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


_HIST_STEP = (HIST_HI - HIST_LO) / HIST_BINS

_PRICE_HISTOGRAM_ORACLE = f"""
SELECT CAST(least({HIST_BINS + 1},
            greatest(0, CAST(floor((o_totalprice - {HIST_LO!r}) / {_HIST_STEP!r})
                             AS INT) + 1)) AS BIGINT) AS bucket,
       count(*) AS n_orders
FROM orders GROUP BY 1
"""


_REVENUE_BY_NATION_SQL = """
SELECT n_name,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(15,2))
                * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2))))
            AS DOUBLE) AS revenue,
       count(*) AS n_lineitems
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""


def q_sql_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The spark.sql(...) surface: the SAME ANSI string runs on both
    engines (registered temp views on the Spark side, parquet views on
    the DuckDB side) — demonstrating that SQL-authored queries get the
    identical Catalyst treatment (broadcast dims, pushed filters,
    partial aggs) as the DataFrame-authored suite."""
    from chroma_rs_spark.sources.tables import register_temp_views

    register_temp_views(spark, sf_dir)
    return spark.sql(_REVENUE_BY_NATION_SQL)


def q_lineitem_percentiles_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB percentile formulation under the oracle: the
    cent-histogram rank-select (no group-sized sort anywhere — see
    percentiles_cent_histogram) computing the exact quantile_cont
    values the window form produces."""
    return percentiles_cent_histogram(
        load_table(spark, sf_dir, "lineitem"),
        "l_returnflag",
        "l_extendedprice",
        (0.25, 0.5, 0.75, 0.95),
        ("p25", "p50", "p75", "p95"),
    )


_LINEITEM_PCT_HIST_ORACLE = """
SELECT l_returnflag,
       round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
       round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
       round(quantile_cont(l_extendedprice, 0.75), 4) AS p75,
       round(quantile_cont(l_extendedprice, 0.95), 4) AS p95
FROM lineitem WHERE l_returnflag IS NOT NULL GROUP BY l_returnflag
"""


QUERIES.update(
    {
        "approx_distinct_parts": QueryDef(
            q_approx_distinct_parts, _APPROX_DISTINCT_ORACLE
        ),
        "high_revenue_parts": QueryDef(
            q_high_revenue_parts, _HIGH_REVENUE_PARTS_ORACLE
        ),
        "sessionize_events": QueryDef(q_sessionize_events, _SESSIONIZE_ORACLE),
        # the scale-path percentile formulation, oracle-checked against the
        # same quantile_cont ground truth the declared window form matches
        "lineitem_percentiles_hist": QueryDef(
            q_lineitem_percentiles_hist, _LINEITEM_PCT_HIST_ORACLE
        ),
        "sql_revenue_by_nation": QueryDef(
            q_sql_revenue_by_nation, _REVENUE_BY_NATION_SQL
        ),
        "event_funnel": QueryDef(q_event_funnel, _EVENT_FUNNEL_ORACLE),
        "cohort_retention": QueryDef(q_cohort_retention, _COHORT_ORACLE),
        "price_outliers": QueryDef(q_price_outliers, _PRICE_OUTLIERS_ORACLE),
        "order_price_histogram": QueryDef(
            q_order_price_histogram, _PRICE_HISTOGRAM_ORACLE
        ),
        "events_cube": QueryDef(q_events_cube, _EVENTS_CUBE_ORACLE),
        "customers_without_orders": QueryDef(
            q_customers_without_orders, _CUSTOMERS_WITHOUT_ORDERS_ORACLE
        ),
        "suppliers_with_returns": QueryDef(
            q_suppliers_with_returns, _SUPPLIERS_WITH_RETURNS_ORACLE
        ),
        "user_event_pivot": QueryDef(q_user_event_pivot, _USER_EVENT_PIVOT_ORACLE),
        "events_json_stats": QueryDef(q_events_json_stats, _EVENTS_JSON_ORACLE),
    }
)

