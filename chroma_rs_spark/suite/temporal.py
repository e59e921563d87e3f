"""Temporal-join suite (SURVEY.md §2.3 [EXT]): as-of join and
range/theta join over the `events` stream table, both DuckDB-oracle
checked (DuckDB has native ASOF JOIN — a strong independent oracle for
our union+window implementation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from chroma_rs_spark.operators.asof import asof_join
from chroma_rs_spark.sources.tables import load_table
from chroma_rs_spark.suite import QueryDef


def q_asof_purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each purchase event attributed to the most recent click by the
    same user at or before it (classic last-touch attribution)."""
    ev = load_table(spark, sf_dir, "events")
    # one click per (user, ts): deterministic tie-winner = max event_id
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", F.col("ts").alias("click_ts"))
        .agg(F.max("event_id").alias("click_id"))
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "ts", "user_id", "value"
    )
    joined = asof_join(
        purchases, clicks, on="user_id", left_ts="ts", right_ts="click_ts"
    )
    # null-free output: the driver's value-hash null semantics are not
    # ours to choose, so unmatched purchases carry explicit sentinels
    return joined.select(
        "event_id",
        "ts",
        "user_id",
        "value",
        F.coalesce(
            "click_ts", F.lit("1970-01-01 00:00:00").cast("timestamp")
        ).alias("click_ts"),
        F.coalesce("click_id", F.lit(-1)).alias("click_id"),
    )


_ASOF_ORACLE = """
WITH clicks AS (
  SELECT user_id, ts AS click_ts, max(event_id) AS click_id
  FROM events WHERE event_type = 'click'
  GROUP BY user_id, ts
),
purchases AS (
  SELECT event_id, ts, user_id, value
  FROM events WHERE event_type = 'purchase'
)
SELECT p.event_id, p.ts, p.user_id, p.value,
       coalesce(c.click_ts, TIMESTAMP '1970-01-01 00:00:00') AS click_ts,
       coalesce(c.click_id, -1) AS click_id
FROM purchases p
ASOF LEFT JOIN clicks c
  ON p.user_id = c.user_id AND p.ts >= c.click_ts
"""


def q_error_prior_clicks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range/theta join: for each error event, how many clicks the same
    user made in the preceding 10 minutes.

    Physically an equi-join on user_id (hash join, one shuffle) with
    the time-range predicate applied as a post-join filter — the range
    bound keeps the per-key pairing sparse, and at scale AQE handles
    user-key skew. The left join preserves zero-click errors.
    """
    ev = load_table(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "ts", "user_id"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
    )
    joined = errors.join(
        clicks,
        (F.col("user_id") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("ts") - F.expr("INTERVAL 10 MINUTES"))
        & (F.col("c_ts") < F.col("ts")),
        "left",
    )
    return joined.groupBy("event_id", "ts", "user_id").agg(
        F.count("c_ts").alias("n_prior_clicks")
    )


_ERROR_PRIOR_CLICKS_ORACLE = """
SELECT e.event_id, e.ts, e.user_id, count(c.c_ts) AS n_prior_clicks
FROM (SELECT event_id, ts, user_id FROM events WHERE event_type = 'error') e
LEFT JOIN (SELECT user_id AS c_user, ts AS c_ts
           FROM events WHERE event_type = 'click') c
  ON c.c_user = e.user_id
 AND c.c_ts >= e.ts - INTERVAL '10 minutes'
 AND c.c_ts < e.ts
GROUP BY e.event_id, e.ts, e.user_id
"""


QUERIES = {
    "asof_purchase_attribution": QueryDef(
        q_asof_purchase_attribution, _ASOF_ORACLE
    ),
    "error_prior_clicks": QueryDef(
        q_error_prior_clicks, _ERROR_PRIOR_CLICKS_ORACLE
    ),
}


# -- direction variants --------------------------------------------------


def q_asof_next_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of: each click attributed to the next purchase by the
    same user at or after it (time-to-conversion shape). Exercises
    asof_join(direction="forward")."""
    ev = load_table(spark, sf_dir, "events")
    # one purchase per (user, ts): deterministic tie-winner = max id
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", F.col("ts").alias("purchase_ts"))
        .agg(F.max("event_id").alias("purchase_id"))
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "ts", "user_id"
    )
    joined = asof_join(
        clicks,
        purchases,
        on="user_id",
        left_ts="ts",
        right_ts="purchase_ts",
        direction="forward",
    )
    return joined.select(
        "event_id",
        "ts",
        "user_id",
        F.coalesce(
            "purchase_ts", F.lit("1970-01-01 00:00:00").cast("timestamp")
        ).alias("purchase_ts"),
        F.coalesce("purchase_id", F.lit(-1)).alias("purchase_id"),
    )


# forward as-of has no native DuckDB spelling (ASOF JOIN is >= only):
# the oracle is the definitional window twin — smallest purchase_ts at
# or after each click, ties to the smaller (purchase_ts, purchase_id)
# struct exactly like the operator's first-over-rv-asc frame
_ASOF_FORWARD_ORACLE = """
WITH purchases AS (
  SELECT user_id, ts AS purchase_ts, max(event_id) AS purchase_id
  FROM events WHERE event_type = 'purchase'
  GROUP BY user_id, ts
),
clicks AS (
  SELECT event_id, ts, user_id FROM events WHERE event_type = 'click'
),
ranked AS (
  SELECT c.event_id, c.ts, c.user_id, p.purchase_ts, p.purchase_id,
         row_number() OVER (
           PARTITION BY c.event_id
           ORDER BY p.purchase_ts, p.purchase_id) AS rn
  FROM clicks c
  LEFT JOIN purchases p
    ON p.user_id = c.user_id AND p.purchase_ts >= c.ts
)
SELECT event_id, ts, user_id,
       coalesce(purchase_ts, TIMESTAMP '1970-01-01 00:00:00') AS purchase_ts,
       coalesce(purchase_id, -1) AS purchase_id
FROM ranked WHERE rn = 1
"""


QUERIES["asof_next_purchase"] = QueryDef(
    q_asof_next_purchase, _ASOF_FORWARD_ORACLE
)
