"""Relational queries: TPC-H style joins and aggregates, event windows, set
operations and document rollups."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ocr_pipeline_spark.queries.registry import _t, query


@query(oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
""")
def _q_pricing_summary(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@query(oracle="""
    SELECT n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           count(*) AS n_items
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    GROUP BY n_name
    ORDER BY revenue DESC
""")
def _q_revenue_by_nation(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    n = _t(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count("*").alias("n_items"),
        )
        .orderBy(F.desc("revenue"))
    )


@query(oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10
""")
def _q_top_orders(spark, sf_dir):
    return (
        _t(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(10)
    )


@query(oracle="""
    SELECT o.o_orderkey, o.o_orderdate,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2)
               AS revenue
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY o.o_orderkey, o.o_orderdate
    ORDER BY revenue DESC, o.o_orderkey
    LIMIT 10
""")
def _q_shipping_priority(spark, sf_dir):
    """TPC-H Q3 shape: segment filter -> 3-way join -> revenue per order
    -> top 10.  The nation-style small dims broadcast; the orders join
    shuffles on orderkey."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), "o_orderkey")
        .limit(10)
    )


@query(oracle="""
    SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
           round(sum(CASE WHEN p_type = 'PROMO'
                     THEN l_extendedprice * (1 - l_discount) END), 2)
               AS promo_rev,
           round(sum(l_extendedprice * (1 - l_discount)), 2)
               AS total_rev
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY ship_month
    ORDER BY ship_month
""")
def _q_promo_revenue(spark, sf_dir):
    """TPC-H Q14 shape: lineitem ⋈ broadcast(part), promo revenue share
    per ship-month (conditional aggregation over a join)."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(F.date_format("l_shipdate", "yyyy-MM").alias("ship_month"))
        .agg(
            F.round(F.sum(F.when(F.col("p_type") == "PROMO", rev)), 2).alias(
                "promo_rev"
            ),
            F.round(F.sum(rev), 2).alias("total_rev"),
        )
        .orderBy("ship_month")
    )


@query(oracle="""
    SELECT o_orderpriority, count(*) AS n_orders
    FROM orders o
    WHERE EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_returnflag = 'R')
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
""")
def _q_priority_returned_orders(spark, sf_dir):
    """TPC-H Q4 shape: EXISTS semi-join (orders with >= 1 returned
    lineitem) -> counts by priority."""
    o = _t(spark, sf_dir, "orders")
    returned = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select(F.col("l_orderkey").alias("o_orderkey"))
        .distinct()
    )
    return (
        o.join(returned, "o_orderkey", "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
        .orderBy("o_orderpriority")
    )


@query(oracle="""
    SELECT c_mktsegment, rk, o_orderkey, o_totalprice
    FROM (
        SELECT c.c_mktsegment, o.o_orderkey, o.o_totalprice,
               row_number() OVER (
                   PARTITION BY c.c_mktsegment
                   ORDER BY o.o_totalprice DESC, o.o_orderkey ASC
               ) AS rk
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    )
    WHERE rk <= 3
    ORDER BY c_mktsegment, rk
""")
def _q_top_orders_per_segment(spark, sf_dir):
    """Per-group top-k: 3 biggest orders per market segment (window
    rank, one shuffle on the window key)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("c_mktsegment", "rk", "o_orderkey", "o_totalprice")
        .orderBy("c_mktsegment", "rk")
    )


@query(oracle="""
    SELECT user_id, event_id, event_type, value
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY user_id ORDER BY ts DESC, event_id DESC
        ) AS rn
        FROM events
    )
    WHERE rn = 1
    ORDER BY user_id
""")
def _q_latest_event_per_user(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type", "value")
        .orderBy("user_id")
    )


@query(oracle="""
    SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
           count(*) AS n_events,
           round(sum(value), 2) AS total_value
    FROM events
    GROUP BY day, event_type
    ORDER BY day, event_type
""")
def _q_events_daily(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_format("ts", "yyyy-MM-dd").alias("day"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .orderBy("day", "event_type")
    )


@query(oracle="""
    SELECT user_id, event_id,
           round(sum(value) OVER w, 2) AS running_value,
           count(*) OVER w AS event_seq
    FROM events
    WINDOW w AS (
        PARTITION BY user_id ORDER BY ts, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
    )
    ORDER BY user_id, event_seq
""")
def _q_events_running_total(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        ev.select(
            "user_id",
            "event_id",
            F.round(F.sum("value").over(w), 2).alias("running_value"),
            F.count("*").over(w).alias("event_seq"),
        )
        .orderBy("user_id", "event_seq")
    )


@query(oracle="""
    WITH gapped AS (
        SELECT user_id, value,
               CASE WHEN ts - lag(ts, 1) OVER
                         (PARTITION BY user_id ORDER BY ts, event_id)
                         > INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_session,
               ts, event_id
        FROM events
    ), sessioned AS (
        SELECT user_id, value,
               CAST(sum(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS session_seq
        FROM gapped
    )
    SELECT user_id, session_seq,
           count(*) AS n_events,
           round(sum(value), 2) AS session_value
    FROM sessioned
    GROUP BY user_id, session_seq
    ORDER BY user_id, session_seq
""")
def _q_events_sessionized(spark, sf_dir):
    """Gap-based sessionization (30-min inactivity closes a session) via
    lag + cumulative-sum windows — runs entirely in JVM window exec."""
    ev = _t(spark, sf_dir, "events")
    w_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gapped = ev.withColumn(
        "new_session",
        F.when(
            F.col("ts") - F.lag("ts", 1).over(w_user)
            > F.expr("INTERVAL 30 MINUTES"),
            1,
        ).otherwise(0),
    )
    sessioned = gapped.withColumn(
        "session_seq",
        F.sum("new_session").over(
            w_user.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        sessioned.groupBy("user_id", "session_seq")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("session_value"),
        )
        .orderBy("user_id", "session_seq")
    )


@query(oracle="""
    SELECT p.event_id AS purchase_id,
           p.user_id,
           (SELECT c.event_id FROM events c
            WHERE c.user_id = p.user_id
              AND c.event_type = 'click'
              AND c.ts <= p.ts
            ORDER BY c.ts DESC, c.event_id DESC
            LIMIT 1) AS last_click_id
    FROM events p
    WHERE p.event_type = 'purchase'
    ORDER BY purchase_id
""")
def _q_purchase_last_click(spark, sf_dir):
    """As-of join (operators/asof.py): each purchase event matched to
    the same user's most recent click at-or-before it."""
    from ocr_pipeline_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "ts", "user_id"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "ts", "user_id"
    )
    joined = asof_join(
        purchases,
        clicks,
        key="user_id",
        left_time="ts",
        right_time="ts",
        payload_cols=["event_id"],
        tie_col="event_id",
    )
    return joined.select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("asof_event_id").alias("last_click_id"),
    ).orderBy("purchase_id")


@query(oracle="""
    SELECT s.event_id AS signup_id,
           s.user_id,
           (SELECT count(*) FROM events c
            WHERE c.user_id = s.user_id
              AND c.event_type = 'click'
              AND c.ts >= s.ts
              AND c.ts <= s.ts + INTERVAL 1 HOUR) AS n_clicks
    FROM events s
    WHERE s.event_type = 'signup'
    ORDER BY signup_id
""")
def _q_signup_clicks_1h(spark, sf_dir):
    """Range join (operators/range_join.py): clicks of the same user
    within one hour after each signup, counted per signup."""
    from ocr_pipeline_spark.operators.range_join import interval_join

    ev = _t(spark, sf_dir, "events")
    signups = ev.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("signup_id"),
        "user_id",
        F.col("ts").alias("win_start"),
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("win_end"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    matched = interval_join(
        signups, clicks, key="user_id",
        left_start="win_start", left_end="win_end", right_time="ts",
    )
    counts = matched.groupBy("signup_id").agg(
        F.count("*").alias("n_clicks")
    )
    return (
        signups.join(counts, "signup_id", "left")
        .select(
            "signup_id",
            "user_id",
            F.coalesce(F.col("n_clicks"), F.lit(0)).alias("n_clicks"),
        )
        .orderBy("signup_id")
    )


@query(oracle="""
    SELECT strftime(ts, '%Y-%m-%d') AS day,
           count(*) FILTER (event_type = 'click')    AS click,
           count(*) FILTER (event_type = 'error')    AS error,
           count(*) FILTER (event_type = 'purchase') AS purchase,
           count(*) FILTER (event_type = 'signup')   AS signup,
           count(*) FILTER (event_type = 'view')     AS view
    FROM events
    GROUP BY day
    ORDER BY day
""")
def _q_events_pivot(spark, sf_dir):
    """Pivot: daily event counts widened by event_type (Spark
    groupBy().pivot() -> conditional-aggregation SQL oracle).  The
    event_type domain is a closed enum (TESTDATA.md), so the pivot
    values are static — passing them skips the extra distinct job a
    bare pivot() would run (at scale: one full scan saved)."""
    ev = _t(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    day = F.date_format("ts", "yyyy-MM-dd").alias("day")
    return (
        ev.groupBy(day)
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
        .na.fill(0)
        .orderBy("day")
    )


@query(oracle="""
    SELECT lang,
           round(quantile_cont(n_chars, 0.25), 2) AS p25,
           round(quantile_cont(n_chars, 0.50), 2) AS p50,
           round(quantile_cont(n_chars, 0.75), 2) AS p75
    FROM documents
    GROUP BY lang
    ORDER BY lang
""")
def _q_docs_char_quantiles(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    pct = F.expr("percentile(n_chars, array(0.25, 0.5, 0.75))")
    return (
        d.groupBy("lang")
        .agg(
            F.round(pct[0], 2).alias("p25"),
            F.round(pct[1], 2).alias("p50"),
            F.round(pct[2], 2).alias("p75"),
        )
        .orderBy("lang")
    )


@query(oracle="""
    SELECT lang, count(*) AS n_docs,
           round(avg(n_chars), 2) AS avg_chars,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY lang
    ORDER BY lang
""")
def _q_docs_by_lang(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return (
        d.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("n_chars"), 2).alias("avg_chars"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("lang")
    )


@query(oracle="""
    SELECT coalesce(event_type, 'ALL') AS etype,
           count(*) AS n_events,
           round(sum(value), 2) AS total_value
    FROM events
    GROUP BY ROLLUP(event_type)
    ORDER BY etype
""")
def _q_events_rollup(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (
        ev.rollup("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.coalesce(F.col("event_type"), F.lit("ALL")).alias("etype"),
            "n_events",
            "total_value",
        )
        .orderBy("etype")
    )


@query(oracle="""
    SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    INTERSECT
    SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 100000
    ORDER BY custkey
""")
def _q_custkey_intersect(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    building = c.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("custkey")
    )
    big = o.filter(F.col("o_totalprice") > 100000).select(
        F.col("o_custkey").alias("custkey")
    )
    return building.intersect(big).orderBy("custkey")


@query(oracle="""
    SELECT c_custkey AS custkey FROM customer
    EXCEPT
    SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 150000
    ORDER BY custkey
""")
def _q_custkey_except(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    all_custs = c.select(F.col("c_custkey").alias("custkey"))
    big = o.filter(F.col("o_totalprice") > 150000).select(
        F.col("o_custkey").alias("custkey")
    )
    return all_custs.exceptAll(big.distinct()).orderBy("custkey")


@query(oracle="""
    SELECT c_custkey, c_mktsegment
    FROM customer c
    WHERE EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey
          AND o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
    )
    ORDER BY c_custkey
""")
def _q_custs_with_recent_orders(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    recent = o.filter(
        F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp")
    ).select("o_custkey")
    return (
        c.join(recent, c.c_custkey == recent.o_custkey, "left_semi")
        .select("c_custkey", "c_mktsegment")
        .orderBy("c_custkey")
    )


@query(oracle="""
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer c
    WHERE NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 250000
    )
    ORDER BY c_custkey
""")
def _q_custs_no_big_orders(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    big = o.filter(F.col("o_totalprice") > 250000).select("o_custkey")
    return (
        c.join(big, c.c_custkey == big.o_custkey, "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
        .orderBy("c_custkey")
    )


@query(oracle="""
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           count(DISTINCT lang) AS n_langs,
           round(1.0 - count(DISTINCT md5(text)) * 1.0 / count(*), 4)
               AS dup_ratio
    FROM documents
    GROUP BY source
    ORDER BY source
""")
def _q_host_stats(spark, sf_dir):
    """Host-level crawl stats — the downstream consumer that justifies
    the salted host co-location shuffle (SURVEY.md §4.4).  Here over the
    documents table's source field treated as the host key."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.countDistinct("lang").alias("n_langs"),
            F.round(
                1.0
                - F.countDistinct(F.md5(F.col("text").cast("binary")))
                / F.count("*"),
                4,
            ).alias("dup_ratio"),
        )
        .orderBy("source")
    )


@query(oracle="""
    WITH per_supp AS (
        SELECT l_suppkey,
               sum(l_extendedprice * (1 - l_discount)) AS rev
        FROM lineitem GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, round(rev, 2) AS revenue
    FROM per_supp JOIN supplier ON l_suppkey = s_suppkey
    WHERE rev > (SELECT avg(rev) FROM per_supp)
    ORDER BY revenue DESC, s_suppkey
""")
def _q_supplier_share(spark, sf_dir):
    """TPC-H Q11-shaped: suppliers whose lineitem revenue exceeds the
    all-supplier average — a HAVING against a global scalar aggregate.
    The scalar rides a broadcast cross join (never a driver collect,
    never a single-partition global window)."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    per_supp = li.groupBy("l_suppkey").agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("rev")
    )
    thresh = per_supp.agg(F.avg("rev").alias("avg_rev"))
    return (
        per_supp.crossJoin(F.broadcast(thresh))
        .filter(F.col("rev") > F.col("avg_rev"))
        .join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "s_suppkey", "s_name", F.round("rev", 2).alias("revenue")
        )
        .orderBy(F.desc("revenue"), "s_suppkey")
    )


@query(oracle="""
    WITH tiled AS (
        SELECT o_orderpriority, o_totalprice,
               ntile(4) OVER (PARTITION BY o_orderpriority
                              ORDER BY o_totalprice, o_orderkey)
                   AS quartile
        FROM orders
    )
    SELECT o_orderpriority, quartile,
           count(*) AS n_orders,
           round(min(o_totalprice), 2) AS lo,
           round(max(o_totalprice), 2) AS hi
    FROM tiled
    GROUP BY o_orderpriority, quartile
    ORDER BY o_orderpriority, quartile
""")
def _q_order_quartiles(spark, sf_dir):
    """Window-function breadth: ntile quartiles of order value within
    each priority class — integer-exact quartile populations plus
    rounded value bounds."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        "o_totalprice", "o_orderkey"
    )
    tiled = o.withColumn("quartile", F.ntile(4).over(w))
    return (
        tiled.groupBy("o_orderpriority", "quartile")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
        .orderBy("o_orderpriority", "quartile")
    )


@query(oracle="""
    SELECT strftime(ts, '%Y-%m-%d') AS day,
           count(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY day
    ORDER BY day
""")
def _q_daily_active_users(spark, sf_dir):
    """Exact count-distinct per day (the expensive-but-oracled twin of
    approx_count_distinct — the HLL variant is tolerance-tested against
    this in tests/test_entry_contract.py)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .agg(F.countDistinct("user_id").alias("n_users"))
        .orderBy("day")
    )
