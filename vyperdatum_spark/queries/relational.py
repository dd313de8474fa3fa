"""Relational coverage queries (agg / broadcast join / window / set
ops) over the TPC-H-ish tables — exercises the engine's general
DataFrame surface and provides stable bench headliners."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .fixtures import SCHEMAS


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # plain scan, no read_input fan-out: the relational shapes are
    # aggregation/join-bound (their first exchange re-partitions
    # anyway), so a pre-shuffle to 32 partitions only adds a stage -
    # measured +0.2-0.6 s per query at sf0.1, no winner among them
    path = f"{sf_dir}/{name}.parquet"
    return spark.read.schema(SCHEMAS[name]).parquet(path)


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count("*").alias("n_rows"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q_top_orders_per_cust(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rk")
    )


def q_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        # customer is 150k rows/sf (multi-GB at scale) — no forced
        # broadcast; AQE picks the strategy from runtime sizes. Only
        # nation (25 rows at every sf) is hinted.
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count("*").alias("n_items"),
        )
        .orderBy("n_name")
    )


def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"),
            F.col("event_type"),
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .orderBy("hour", "event_type")
    )


def q_custs_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join shape (the checkpoint-resume primitive, §2.8):
    customers with no high-value order on file, counted per nation.
    left_anti shuffles on the key once; AQE converts to broadcast when
    the filtered orders key set is small enough, and the price filter
    is pushed to the parquet scan."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 450000.0)
    n = _t(spark, sf_dir, "nation")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .join(F.broadcast(n), F.col("c_nationkey") == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_custs"),
            F.round(F.sum("c_acctbal"), 2).alias("sum_acctbal"),
        )
        .orderBy("n_name")
    )


def q_events_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization: Spark-native ``F.session_window``
    (merging-session state machine inside one hash aggregate — in
    streaming mode the same expression is incremental with watermarked
    state eviction).  The oracle is the classic gaps-and-islands
    rewrite: lag → new-session flag → running sum → group.  One
    shuffle on user_id; per-user state is bounded by the gap horizon,
    so the shape survives 10^12 events as long as single users aren't
    hot keys (monitoring analog of the crawl's per-source cadence)."""
    ev = _t(spark, sf_dir, "events")
    gap = "8 hours"
    return (
        ev.groupBy(
            F.col("user_id"), F.session_window(F.col("ts"), gap).alias("w")
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("n_events"),
            F.col("sum_value"),
        )
        .orderBy("user_id", "session_start")
    )


def q_stream_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming (§2.8) window/watermark machinery under the
    oracle gate: AvailableNow drain of the static events table through
    a watermarked tumbling-window aggregation; append mode emits
    exactly the windows with end ≤ max(ts) − 1h, which the batch-SQL
    oracle reproduces in closed form."""
    from ..streaming import windows as sw

    return sw.stream_events_hourly(
        spark, f"{sf_dir}/events.parquet",
        sw.query_work_dir("events_hourly"), schema=SCHEMAS["events"],
    )


def q_stream_events_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sessionization (§2.8): session_window + watermark in
    append mode over the AvailableNow drain; emitted = finalized
    sessions (end ≤ max(ts) − watermark), reproduced in closed form
    by the batch gaps-and-islands oracle plus the cutoff."""
    from ..streaming import windows as sw

    return sw.stream_events_sessions(
        spark, f"{sf_dir}/events.parquet",
        sw.query_work_dir("events_sessions"), schema=SCHEMAS["events"],
    ).orderBy("user_id", "session_start")


def q_events_asof_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join: each event picks up the customer's most
    recent order at-or-before the event timestamp (ties on orderdate
    broken by greatest orderkey).  Runs the union-and-carry
    ``ops.asof.asof_join`` — one shuffle on the key, no join node, no
    range explosion; see the module docstring for the 10^12-row
    analysis."""
    from ..ops.asof import asof_join

    ev = _t(spark, sf_dir, "events").select("event_id", "ts", "user_id", "event_type")
    o = _t(spark, sf_dir, "orders")
    return asof_join(
        ev, o,
        left_on="user_id", right_on="o_custkey",
        left_time="ts", right_time="o_orderdate",
        payload=["o_orderkey", "o_orderdate", "o_totalprice"],
        tie="o_orderkey",
    )


def q_events_asof_orders_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same result via the skew-safe two-phase ``asof_join_bucketed``
    (window partitions bounded by (key, 30-day bucket) instead of
    whole keys) — the variant a hot-host crawl table needs."""
    from ..ops.asof import asof_join_bucketed

    ev = _t(spark, sf_dir, "events").select("event_id", "ts", "user_id", "event_type")
    o = _t(spark, sf_dir, "orders")
    return asof_join_bucketed(
        ev, o,
        left_on="user_id", right_on="o_custkey",
        left_time="ts", right_time="o_orderdate",
        payload=["o_orderkey", "o_orderdate", "o_totalprice"],
        tie="o_orderkey",
        bucket_seconds=30 * 86400,
    )


def q_events_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-containment join via the bucketed ``ops.ranges``
    rewrite: every 'error' event opens a 2-hour incident window for
    its user; count the user's events landing inside each window.
    Equi-join on (bucket, user_id) + exact post-filter — no
    nested-loop/cartesian node (plan-audited), replication factor
    len(window)/bucket + 1 = 3."""
    from ..ops.ranges import range_join

    ev = _t(spark, sf_dir, "events")
    incidents = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("incident_id"),
        "user_id",
        F.col("ts").alias("win_start"),
        (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("win_end"),
    )
    hits = range_join(
        ev.select("ts", "user_id", "value"),
        incidents,
        left_point="ts",
        right_start="win_start",
        right_end="win_end",
        on=["user_id"],
        bucket_seconds=3600,
    )
    return (
        hits.groupBy("incident_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


_RANGE_ORACLE = (
    "SELECT i.incident_id, COUNT(*) AS n_events, "
    "ROUND(SUM(e.value), 2) AS sum_value "
    "FROM events e JOIN ("
    "  SELECT event_id AS incident_id, user_id, ts AS s, "
    "         ts + INTERVAL 2 HOUR AS en "
    "  FROM events WHERE event_type = 'error') i "
    "ON e.user_id = i.user_id AND e.ts >= i.s AND e.ts < i.en "
    "GROUP BY i.incident_id"
)


_ASOF_ORACLE = (
    "SELECT event_id, ts, user_id, event_type, "
    "o_orderkey AS asof_o_orderkey, o_orderdate AS asof_o_orderdate, "
    "o_totalprice AS asof_o_totalprice FROM ("
    "  SELECT e.event_id, e.ts, e.user_id, e.event_type, "
    "         o.o_orderkey, o.o_orderdate, o.o_totalprice, "
    "         ROW_NUMBER() OVER (PARTITION BY e.event_id "
    "           ORDER BY (o.o_orderkey IS NOT NULL) DESC, "
    "                    o.o_orderdate DESC, o.o_orderkey DESC) AS rn "
    "  FROM events e LEFT JOIN orders o "
    "    ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts"
    ") t WHERE rn = 1"
)


def queries() -> dict:
    return {
        "rel_pricing_summary": q_pricing_summary,
        "rel_events_asof": q_events_asof_orders,
        "rel_events_asof_bucketed": q_events_asof_orders_bucketed,
        "rel_events_range_join": q_events_range_join,
        "rel_top_orders_per_cust": q_top_orders_per_cust,
        "rel_nation_revenue": q_nation_revenue,
        "rel_events_hourly": q_events_hourly,
        "rel_events_sessions": q_events_sessions,
        "stream_events_sessions": q_stream_events_sessions,
        "rel_custs_without_orders": q_custs_without_orders,
        "stream_events_hourly": q_stream_events_hourly,
    }


def oracle_sql() -> dict:
    return {
        "rel_events_asof": _ASOF_ORACLE,
        "rel_events_asof_bucketed": _ASOF_ORACLE,
        "rel_events_range_join": _RANGE_ORACLE,
        "rel_pricing_summary": (
            "SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sum_qty, "
            "ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue, "
            "COUNT(*) AS n_rows FROM lineitem "
            "WHERE l_shipdate <= TIMESTAMP '1998-09-02' "
            "GROUP BY l_returnflag, l_linestatus ORDER BY 1, 2"
        ),
        "rel_top_orders_per_cust": (
            "SELECT o_custkey, o_orderkey, o_totalprice, rk FROM ("
            "  SELECT o_custkey, o_orderkey, o_totalprice, "
            "  ROW_NUMBER() OVER (PARTITION BY o_custkey "
            "    ORDER BY o_totalprice DESC, o_orderkey) AS rk FROM orders) "
            "WHERE rk <= 3"
        ),
        "rel_events_sessions": (
            "WITH flagged AS ("
            "  SELECT user_id, ts, value, "
            "  CASE WHEN ts - lag(ts) OVER w > INTERVAL 8 HOUR "
            "       OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_s "
            "  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)"
            "), numbered AS ("
            "  SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts "
            "    ROWS UNBOUNDED PRECEDING) AS sid FROM flagged) "
            "SELECT user_id, MIN(ts) AS session_start, "
            "COUNT(*) AS n_events, ROUND(SUM(value), 2) AS sum_value "
            "FROM numbered GROUP BY user_id, sid "
            "ORDER BY user_id, session_start"
        ),
        "stream_events_sessions": (
            "WITH flagged AS ("
            "  SELECT user_id, ts, value, "
            "  CASE WHEN ts - lag(ts) OVER w > INTERVAL 8 HOUR "
            "       OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_s "
            "  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)"
            "), numbered AS ("
            "  SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts "
            "    ROWS UNBOUNDED PRECEDING) AS sid FROM flagged"
            "), sess AS ("
            "  SELECT user_id, MIN(ts) AS session_start, "
            "  MAX(ts) + INTERVAL 8 HOUR AS session_end, "
            "  COUNT(*) AS n_events, ROUND(SUM(value), 2) AS sum_value "
            "  FROM numbered GROUP BY user_id, sid"
            "), cut AS (SELECT MAX(ts) - INTERVAL 1 HOUR AS wm FROM events) "
            "SELECT user_id, session_start, session_end, n_events, sum_value "
            "FROM sess, cut WHERE session_end <= wm "
            "ORDER BY user_id, session_start"
        ),
        "rel_nation_revenue": (
            "SELECT n_name, "
            "ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue, "
            "COUNT(*) AS n_items "
            "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
            "JOIN customer ON o_custkey = c_custkey "
            "JOIN nation ON c_nationkey = n_nationkey "
            "GROUP BY n_name ORDER BY n_name"
        ),
        "rel_events_hourly": (
            "SELECT date_trunc('hour', ts) AS hour, event_type, "
            "COUNT(*) AS n_events, ROUND(SUM(value), 2) AS sum_value "
            "FROM events GROUP BY 1, 2 ORDER BY 1, 2"
        ),
        "rel_custs_without_orders": (
            "SELECT n_name, COUNT(*) AS n_custs, "
            "ROUND(SUM(c_acctbal), 2) AS sum_acctbal "
            "FROM customer JOIN nation ON c_nationkey = n_nationkey "
            "WHERE NOT EXISTS (SELECT 1 FROM orders "
            "WHERE o_custkey = c_custkey AND o_totalprice > 450000.0) "
            "GROUP BY n_name ORDER BY n_name"
        ),
        "stream_events_hourly": (
            "SELECT date_trunc('hour', ts) AS window_start, event_type, "
            "COUNT(*) AS n_events, ROUND(SUM(value), 2) AS sum_value "
            "FROM events "
            "GROUP BY 1, 2 "
            "HAVING date_trunc('hour', MIN(ts)) + INTERVAL 1 HOUR <= "
            "(SELECT MAX(ts) FROM events) - INTERVAL 1 HOUR"
        ),
    }
