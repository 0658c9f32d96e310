"""Relational operator matrix (SURVEY.md §2.5 "driver-oracle operator
queries"): projections, filters, joins (broadcast/semi/anti/multiway),
aggregations, rollup, windows (rank/lag/frames), sorts/limits, set ops,
scalar string/date/math/json functions.

Every query is written DataFrame-first (Catalyst plans it); the oracle is
the equivalent ANSI SQL for DuckDB. Column names are aliased identically on
both sides (driver compares sorted-by-name). Double aggregates are rounded
to 2 decimals on both sides so parallel-summation order can't flip the
value hash.

Scale notes (100 TB thinking, per-query):
- dimension joins (nation/region/customer-dim) are broadcast — `F.broadcast`
  hints where Catalyst's threshold might not see it;
- aggregations are partial (map-side combine) by construction — groupBy on
  low-cardinality keys;
- windows partition by high-cardinality keys (custkey/user_id) so no single
  partition explodes; none orders an unbounded global frame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pdf_spark.functions.tables import load, register_views

QUERIES = {}
ORACLE = {}


def q(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = oracle
        return fn

    return deco


# -- scans / filters / projections -------------------------------------------


@q(
    "qr01_scan_filter_project",
    """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
       FROM lineitem WHERE l_quantity > 45 AND l_returnflag <> 'N'""",
)
def qr01(spark: SparkSession, sf: str) -> DataFrame:
    return (
        load(spark, sf, "lineitem")
        .where((F.col("l_quantity") > 45) & (F.col("l_returnflag") != "N"))
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
    )


@q(
    "qr02_agg_pricing_summary",
    """SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt,
              ROUND(SUM(l_quantity), 2) AS sum_qty,
              ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
              ROUND(AVG(l_discount), 4) AS avg_disc
       FROM lineitem GROUP BY l_returnflag, l_linestatus""",
)
def qr02(spark: SparkSession, sf: str) -> DataFrame:
    return (
        load(spark, sf, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("cnt"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
        )
    )


# -- joins --------------------------------------------------------------------


@q(
    "qr03_broadcast_join_segment",
    """SELECT o_orderpriority, COUNT(*) AS n_orders,
              ROUND(SUM(o_totalprice), 2) AS revenue
       FROM orders JOIN customer ON o_custkey = c_custkey
       WHERE c_mktsegment = 'BUILDING'
       GROUP BY o_orderpriority""",
)
def qr03(spark: SparkSession, sf: str) -> DataFrame:
    cust = load(spark, sf, "customer").where(F.col("c_mktsegment") == "BUILDING")
    return (
        load(spark, sf, "orders")
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


@q(
    "qr04_multiway_dim_join",
    """SELECT r_name, n_name, COUNT(*) AS n_cust,
              ROUND(SUM(c_acctbal), 2) AS total_bal
       FROM customer
       JOIN nation ON c_nationkey = n_nationkey
       JOIN region ON n_regionkey = r_regionkey
       GROUP BY r_name, n_name""",
)
def qr04(spark: SparkSession, sf: str) -> DataFrame:
    return (
        load(spark, sf, "customer")
        .join(
            F.broadcast(load(spark, sf, "nation")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(load(spark, sf, "region")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .groupBy("r_name", "n_name")
        .agg(
            F.count("*").alias("n_cust"),
            F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
        )
    )


@q(
    "qr05_semijoin_exists",
    """SELECT c_custkey, c_name FROM customer
       WHERE EXISTS (SELECT 1 FROM orders
                     WHERE o_custkey = c_custkey AND o_totalprice > 300000)""",
)
def qr05(spark: SparkSession, sf: str) -> DataFrame:
    big = load(spark, sf, "orders").where(F.col("o_totalprice") > 300000)
    return (
        load(spark, sf, "customer")
        .join(big, F.col("c_custkey") == F.col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
    )


@q(
    "qr06_antijoin_not_exists",
    """SELECT c_custkey, c_acctbal FROM customer
       WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""",
)
def qr06(spark: SparkSession, sf: str) -> DataFrame:
    return (
        load(spark, sf, "customer")
        .join(
            load(spark, sf, "orders"),
            F.col("c_custkey") == F.col("o_custkey"),
            "left_anti",
        )
        .select("c_custkey", "c_acctbal")
    )


# -- windows ------------------------------------------------------------------


@q(
    "qr07_window_topk_per_group",
    """SELECT c_custkey, o_orderkey, o_totalprice, rk FROM (
         SELECT o_custkey AS c_custkey, o_orderkey, o_totalprice,
                ROW_NUMBER() OVER (PARTITION BY o_custkey
                                   ORDER BY o_totalprice DESC, o_orderkey) AS rk
         FROM orders) t
       WHERE rk <= 3""",
)
def qr07(spark: SparkSession, sf: str) -> DataFrame:
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        load(spark, sf, "orders")
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select(
            F.col("o_custkey").alias("c_custkey"),
            "o_orderkey",
            "o_totalprice",
            "rk",
        )
    )


@q(
    "qr08_window_lag_delta",
    """SELECT event_id, user_id,
              ROUND(value - LAG(value) OVER (PARTITION BY user_id
                                             ORDER BY ts, event_id), 2) AS delta
       FROM events""",
)
def qr08(spark: SparkSession, sf: str) -> DataFrame:
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return load(spark, sf, "events").select(
        "event_id",
        "user_id",
        F.round(F.col("value") - F.lag("value").over(w), 2).alias("delta"),
    )


@q(
    "qr09_window_running_sum",
    """SELECT o_custkey, o_orderkey,
              ROUND(SUM(o_totalprice) OVER (PARTITION BY o_custkey
                     ORDER BY o_orderkey
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
                AS running_total
       FROM orders""",
)
def qr09(spark: SparkSession, sf: str) -> DataFrame:
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return load(spark, sf, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_total"),
    )


# -- rollup / distinct / set ops ---------------------------------------------


@q(
    "qr10_rollup",
    """SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt
       FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""",
)
def qr10(spark: SparkSession, sf: str) -> DataFrame:
    return (
        load(spark, sf, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("cnt"))
    )


@q(
    "qr11_intersect",
    """SELECT c_nationkey AS nationkey FROM customer
       INTERSECT
       SELECT s_nationkey AS nationkey FROM supplier""",
)
def qr11(spark: SparkSession, sf: str) -> DataFrame:
    c = load(spark, sf, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load(spark, sf, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s)


@q(
    "qr12_except",
    """SELECT c_nationkey AS nationkey FROM customer
       EXCEPT
       SELECT s_nationkey AS nationkey FROM supplier""",
)
def qr12(spark: SparkSession, sf: str) -> DataFrame:
    c = load(spark, sf, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load(spark, sf, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    # subtract = EXCEPT DISTINCT (exceptAll is multiset-minus — different op)
    return c.subtract(s)


@q(
    "qr13_topk_global",
    """SELECT o_orderkey, o_totalprice FROM orders
       ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""",
)
def qr13(spark: SparkSession, sf: str) -> DataFrame:
    return (
        load(spark, sf, "orders")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(10)
        .select("o_orderkey", "o_totalprice")
    )


# -- scalar functions ---------------------------------------------------------


@q(
    "qr14_string_funcs",
    """SELECT p_partkey, UPPER(p_brand) AS brand_uc,
              SUBSTRING(p_name, 1, 8) AS name_prefix,
              LENGTH(p_name) AS name_len,
              CONCAT_WS('|', p_brand, p_type) AS brand_type
       FROM part WHERE p_size >= 40""",
)
def qr14(spark: SparkSession, sf: str) -> DataFrame:
    return (
        load(spark, sf, "part")
        .where(F.col("p_size") >= 40)
        .select(
            "p_partkey",
            F.upper("p_brand").alias("brand_uc"),
            F.substring("p_name", 1, 8).alias("name_prefix"),
            F.length("p_name").alias("name_len"),
            F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
        )
    )


@q(
    "qr15_date_funcs",
    """SELECT CAST(YEAR(o_orderdate) AS INT) AS yr,
              CAST(MONTH(o_orderdate) AS INT) AS mon,
              COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS total
       FROM orders GROUP BY 1, 2""",
)
def qr15(spark: SparkSession, sf: str) -> DataFrame:
    o = load(spark, sf, "orders")
    return (
        o.groupBy(
            F.year("o_orderdate").cast("int").alias("yr"),
            F.month("o_orderdate").cast("int").alias("mon"),
        )
        .agg(F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total"))
    )


@q(
    "qr16_math_case_bands",
    """SELECT CASE WHEN l_discount > 0.05 THEN 'hi' ELSE 'lo' END AS band,
              COUNT(*) AS n,
              ROUND(AVG(l_extendedprice), 2) AS avg_price,
              ROUND(SUM(ABS(l_tax - l_discount)), 2) AS tax_gap
       FROM lineitem GROUP BY 1""",
)
def qr16(spark: SparkSession, sf: str) -> DataFrame:
    li = load(spark, sf, "lineitem")
    return (
        li.withColumn(
            "band", F.when(F.col("l_discount") > 0.05, "hi").otherwise("lo")
        )
        .groupBy("band")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("l_extendedprice"), 2).alias("avg_price"),
            F.round(F.sum(F.abs(F.col("l_tax") - F.col("l_discount"))), 2).alias(
                "tax_gap"
            ),
        )
    )


@q(
    "qr17_scalar_subquery",
    """SELECT c_nationkey, COUNT(*) AS n_rich FROM customer
       WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer)
       GROUP BY c_nationkey""",
)
def qr17(spark: SparkSession, sf: str) -> DataFrame:
    cust = load(spark, sf, "customer")
    avg_bal = cust.agg(F.avg("c_acctbal").alias("avg_bal"))
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("avg_bal"))
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("n_rich"))
    )


@q(
    "qr18_having",
    """SELECT c_nationkey, COUNT(*) AS n FROM customer
       GROUP BY c_nationkey HAVING COUNT(*) > 20""",
)
def qr18(spark: SparkSession, sf: str) -> DataFrame:
    return (
        load(spark, sf, "customer")
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("n"))
        .where(F.col("n") > 20)
    )


@q(
    "qr19_json_extract",
    r"""SELECT TRY_CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS INT) AS k,
              COUNT(*) AS n, ROUND(SUM(value), 2) AS total
       FROM events GROUP BY 1""",
)
def qr19(spark: SparkSession, sf: str) -> DataFrame:
    ev = load(spark, sf, "events")
    return (
        ev.withColumn(
            "k", F.regexp_extract("props", r'"k":\s*(\d+)', 1).cast("int")
        )
        .groupBy("k")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total"))
    )


@q(
    "qr20_union_all_tagged",
    """SELECT src, COUNT(*) AS n, ROUND(SUM(bal), 2) AS total FROM (
         SELECT 'cust' AS src, c_acctbal AS bal FROM customer
         UNION ALL
         SELECT 'supp' AS src, s_acctbal AS bal FROM supplier
       ) u GROUP BY src""",
)
def qr20(spark: SparkSession, sf: str) -> DataFrame:
    c = load(spark, sf, "customer").select(
        F.lit("cust").alias("src"), F.col("c_acctbal").alias("bal")
    )
    s = load(spark, sf, "supplier").select(
        F.lit("supp").alias("src"), F.col("s_acctbal").alias("bal")
    )
    return (
        c.unionByName(s)
        .groupBy("src")
        .agg(F.count("*").alias("n"), F.round(F.sum("bal"), 2).alias("total"))
    )


@q(
    "qr21_count_distinct",
    """SELECT l_returnflag, COUNT(DISTINCT l_suppkey) AS n_supp,
              COUNT(DISTINCT l_partkey) AS n_part
       FROM lineitem GROUP BY l_returnflag""",
)
def qr21(spark: SparkSession, sf: str) -> DataFrame:
    return (
        load(spark, sf, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_suppkey").alias("n_supp"),
            F.countDistinct("l_partkey").alias("n_part"),
        )
    )


@q(
    "qr22_tumbling_window_events",
    """SELECT DATE_TRUNC('hour', ts) AS bucket, event_type,
              COUNT(*) AS n, ROUND(SUM(value), 2) AS total
       FROM events GROUP BY 1, 2""",
)
def qr22(spark: SparkSession, sf: str) -> DataFrame:
    # batch twin of the structured-streaming aggregation
    # (pdf_spark.streaming runs the same groupBy over readStream)
    return (
        load(spark, sf, "events")
        .groupBy(
            F.date_trunc("hour", "ts").alias("bucket"),
            "event_type",
        )
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total"))
    )


@q(
    "qr23_sessionize",
    """WITH e AS (
         SELECT user_id, event_id,
                date_diff('microsecond', TIMESTAMP '2024-01-01 00:00:00', ts) AS us
         FROM events),
       gaps AS (
         SELECT user_id, event_id, us,
                CASE WHEN LAG(us) OVER w IS NULL
                          OR us - LAG(us) OVER w > 1800000000
                     THEN 1 ELSE 0 END AS is_new
         FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
       sess AS (
         SELECT user_id, event_id, us,
                SUM(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id
                                  ROWS UNBOUNDED PRECEDING) AS session_no
         FROM gaps)
       SELECT user_id,
              CAST(session_no AS BIGINT) AS session_no,
              CAST(COUNT(*) AS BIGINT) AS n_events,
              CAST((MAX(us) - MIN(us)) // 1000000 AS BIGINT) AS duration_s,
              CAST(MIN(event_id) AS BIGINT) AS first_event
       FROM sess GROUP BY user_id, session_no""",
)
def qr23(spark: SparkSession, sf: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity gap): the classic
    lag -> session-start flag -> running-sum session id cascade. The two
    windows share one user_id exchange (same partitioning + ordering) and
    the per-session aggregate adds one map-side-combined shuffle — two
    exchanges total at any corpus size. Gaps compare
    microsecond epochs (unix_micros / epoch_us) because second-truncated
    timestamps diverge between engines on sub-second data. The streaming
    twin of this op is a session window with watermark; the batch form is
    what backfills it."""
    from pyspark.sql import Window

    e = load(spark, sf, "events").select(
        "user_id",
        "event_id",
        F.expr(
            "timestampdiff(MICROSECOND,"
            " TIMESTAMP_NTZ'2024-01-01 00:00:00', ts)"
        ).alias("us"),
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    gaps = e.withColumn(
        "is_new",
        F.when(
            F.lag("us").over(w).isNull()
            | ((F.col("us") - F.lag("us").over(w)) > 1_800_000_000),
            1,
        ).otherwise(0),
    )
    sess = gaps.withColumn(
        "session_no",
        F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return sess.groupBy("user_id", "session_no").agg(
        F.count("*").cast("long").alias("n_events"),
        ((F.max("us") - F.min("us")) / 1_000_000)
            .cast("long").alias("duration_s"),
        F.min("event_id").cast("long").alias("first_event"),
    ).select(
        "user_id",
        F.col("session_no").cast("long").alias("session_no"),
        "n_events", "duration_s", "first_event",
    )


@q(
    "qr24_pivot_status_matrix",
    """SELECT o_orderpriority,
              CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_open,
              CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_filled,
              CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_partial,
              ROUND(SUM(CASE WHEN o_orderstatus = 'O'
                             THEN o_totalprice ELSE 0 END), 2) AS open_value
       FROM orders GROUP BY o_orderpriority""",
)
def qr24(spark: SparkSession, sf: str) -> DataFrame:
    """Pivot: long -> wide status matrix per priority. The values list is
    EXPLICIT (["O","F","P"]) — without it Spark runs a separate
    distinct-values job and collects the keys to the driver before it can
    even plan, which at 10^12 rows is a full extra scan; with it the
    whole pivot is ONE map-side-combined exchange, exactly a groupBy with
    fixed conditional aggregates (which is also how the oracle states
    it). Missing (priority, status) cells surface as NULL from pivot and
    are coalesced to the 0 the conditional-agg formulation produces."""
    wide = (
        load(spark, sf, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(
            # count(lit(1)) == count(*); bare * is rejected inside Pivot
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("val"),
        )
    )
    return wide.select(
        "o_orderpriority",
        F.coalesce("O_n", F.lit(0)).cast("long").alias("n_open"),
        F.coalesce("F_n", F.lit(0)).cast("long").alias("n_filled"),
        F.coalesce("P_n", F.lit(0)).cast("long").alias("n_partial"),
        F.coalesce("O_val", F.lit(0.0)).alias("open_value"),
    )


@q(
    "qr25_asof_join",
    """WITH p AS (
         SELECT event_id AS purchase_id, user_id,
                date_diff('microsecond', TIMESTAMP '2024-01-01 00:00:00', ts) AS us
         FROM events WHERE event_type = 'purchase'),
       v AS (
         SELECT event_id AS view_id, user_id,
                date_diff('microsecond', TIMESTAMP '2024-01-01 00:00:00', ts) AS us
         FROM events WHERE event_type = 'view')
       SELECT p.purchase_id, p.user_id,
              CAST(v.view_id AS BIGINT) AS view_id,
              CAST(p.us - v.us AS BIGINT) AS gap_us
       FROM p ASOF LEFT JOIN v
         ON p.user_id = v.user_id AND v.us <= p.us""",
)
def qr25(spark: SparkSession, sf: str) -> DataFrame:
    """As-of join (attribution: each purchase -> the most recent
    prior-or-equal view by the same user). Spark has no ASOF JOIN
    operator; the scale-correct formulation is the UNION-MERGE shape
    used here: tag both sides, ONE shuffle on the join key, one ordered
    window pass carrying the last view forward
    (last_value IGNORE NULLS over rows unbounded-preceding), filter to
    the probe side. Cost at 10^12 rows: a single sort-merge exchange —
    never the per-probe range lookup or the key x key interval product a
    naive join-then-filter plans. Inclusive semantics (a view at the
    exact purchase timestamp matches) via the side-ordering tiebreak:
    views sort before purchases at equal timestamps. The oracle computes
    the same result through DuckDB's native ASOF LEFT JOIN — an
    independently-shaped implementation of the same operator."""
    from pyspark.sql import Window

    e = (
        load(spark, sf, "events")
        .where(F.col("event_type").isin("view", "purchase"))
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.expr(
                "timestampdiff(MICROSECOND,"
                " TIMESTAMP_NTZ'2024-01-01 00:00:00', ts)"
            ).alias("us"),
        )
    )
    side = F.when(F.col("event_type") == "view", 0).otherwise(1)
    w = (
        Window.partitionBy("user_id")
        .orderBy("us", side, "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    is_view = F.col("event_type") == "view"
    carried = e.withColumn(
        "view_id",
        F.last(F.when(is_view, F.col("event_id")), ignorenulls=True).over(w),
    ).withColumn(
        "view_us",
        F.last(F.when(is_view, F.col("us")), ignorenulls=True).over(w),
    )
    return carried.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("view_id").cast("long").alias("view_id"),
        (F.col("us") - F.col("view_us")).cast("long").alias("gap_us"),
    )


@q(
    "qr26_range_join_bucketed",
    """WITH s AS (
         SELECT event_id AS signup_id, user_id,
                date_diff('microsecond', TIMESTAMP '2024-01-01 00:00:00', ts) AS us
         FROM events WHERE event_type = 'signup'),
       c AS (
         SELECT user_id,
                date_diff('microsecond', TIMESTAMP '2024-01-01 00:00:00', ts) AS us
         FROM events WHERE event_type = 'click')
       SELECT s.signup_id, s.user_id,
              CAST(COUNT(c.us) AS BIGINT) AS n_clicks_1h
       FROM s LEFT JOIN c
         ON c.user_id = s.user_id
        AND c.us >= s.us AND c.us < s.us + 3600000000
       GROUP BY s.signup_id, s.user_id""",
)
def qr26(spark: SparkSession, sf: str) -> DataFrame:
    """Range (interval) join, bucketed: clicks within one hour after each
    signup, per signup. A raw range join plans as a per-key interval
    product (BroadcastNestedLoop at worst); the technique that survives
    10^12 rows is TIME-BUCKETING: each 1h query window spans at most two
    1h buckets, so the interval explodes to its <=2 covering buckets and
    the join becomes a plain equi-join on (user_id, bucket) — hash
    join, map-side prunable — followed by the exact range filter. A
    click matches through exactly one bucket (its own), so no dedup step
    is needed. The oracle states the same result as the naive range join
    (exclusive upper bound keeps the boundary deterministic)."""
    base = "timestampdiff(MICROSECOND, TIMESTAMP_NTZ'2024-01-01 00:00:00', ts)"
    hour_us = 3_600_000_000
    e = load(spark, sf, "events")
    s = e.where(F.col("event_type") == "signup").select(
        F.col("event_id").alias("signup_id"),
        "user_id",
        F.expr(base).alias("sus"),
    )
    sb = s.withColumn(
        "bucket",
        F.explode(
            F.array(
                (F.col("sus") / hour_us).cast("long"),
                (F.col("sus") / hour_us).cast("long") + 1,
            )
        ),
    )
    c = e.where(F.col("event_type") == "click").select(
        "user_id",
        F.expr(base).alias("cus"),
    ).withColumn("bucket", (F.col("cus") / hour_us).cast("long"))
    joined = sb.join(c, ["user_id", "bucket"], "left")
    return (
        joined.groupBy("signup_id", "user_id")
        .agg(
            F.sum(
                F.when(
                    (F.col("cus") >= F.col("sus"))
                    & (F.col("cus") < F.col("sus") + hour_us),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_clicks_1h")
        )
    )


@q(
    "qr27_group_median",
    """WITH r AS (
         SELECT o_orderpriority, o_totalprice,
                ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                   ORDER BY o_totalprice, o_orderkey) AS rn,
                COUNT(*) OVER (PARTITION BY o_orderpriority) AS cnt
         FROM orders)
       SELECT o_orderpriority,
              CAST(MAX(cnt) AS BIGINT) AS n_orders,
              ROUND(AVG(o_totalprice), 2) AS median_price
       FROM r
       WHERE rn = (cnt + 1) // 2 OR rn = (cnt + 2) // 2
       GROUP BY o_orderpriority""",
)
def qr27(spark: SparkSession, sf: str) -> DataFrame:
    """Exact per-group median WITHOUT percentile functions: engines
    disagree on percentile interpolation modes (and Spark's
    percentile_approx is a sketch), so the cross-engine-deterministic
    form is the midrank identity — row_number the group, average the one
    or two middle rows ((n+1)//2, (n+2)//2; equal for odd n). One
    exchange (the window partition), and the grouped-sort scales because
    the partition key is the group, never global. The final AVG touches
    at most two doubles, one correctly-rounded IEEE op per engine."""
    w = Window.partitionBy("o_orderpriority").orderBy(
        "o_totalprice", "o_orderkey"
    )
    wc = Window.partitionBy("o_orderpriority")
    r = load(spark, sf, "orders").select(
        "o_orderpriority",
        "o_totalprice",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wc).alias("cnt"),
    )
    mid = r.where(
        (F.col("rn") == F.expr("(cnt + 1) div 2"))
        | (F.col("rn") == F.expr("(cnt + 2) div 2"))
    )
    return mid.groupBy("o_orderpriority").agg(
        F.max("cnt").cast("long").alias("n_orders"),
        F.round(F.avg("o_totalprice"), 2).alias("median_price"),
    )


@q(
    "qr28_cube_grouping",
    """SELECT l_returnflag, l_linestatus,
              CAST(GROUPING(l_returnflag) AS BIGINT) AS g_flag,
              CAST(GROUPING(l_linestatus) AS BIGINT) AS g_status,
              CAST(COUNT(*) AS BIGINT) AS n,
              ROUND(SUM(l_quantity), 2) AS qty
       FROM lineitem
       GROUP BY CUBE (l_returnflag, l_linestatus)""",
)
def qr28(spark: SparkSession, sf: str) -> DataFrame:
    """CUBE grouping sets: all 2^k aggregation granularities in ONE pass —
    Catalyst expands the cube map-side (Expand node) so the fact table is
    scanned once, not once per granularity. GROUPING() flags disambiguate
    a real NULL key from a rolled-up one (the standard pitfall when the
    grouped column is nullable). Rollup (qr10) covers the hierarchical
    prefix sets; CUBE is the full lattice."""
    li = load(spark, sf, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            F.grouping("l_returnflag").cast("long").alias("g_flag"),
            F.grouping("l_linestatus").cast("long").alias("g_status"),
            F.count("*").cast("long").alias("n"),
            F.round(F.sum("l_quantity"), 2).alias("qty"),
        )
        .select(
            "l_returnflag", "l_linestatus", "g_flag", "g_status", "n", "qty"
        )
    )


@q(
    "qr29_range_frame_window",
    """SELECT o_custkey, o_orderkey,
              CAST(COUNT(*) OVER (
                PARTITION BY o_custkey ORDER BY epoch_d
                RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS BIGINT)
                AS n_orders_30d,
              ROUND(SUM(o_totalprice) OVER (
                PARTITION BY o_custkey ORDER BY epoch_d
                RANGE BETWEEN 30 PRECEDING AND CURRENT ROW), 2)
                AS rev_30d
       FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                    CAST(date_diff('day', TIMESTAMP '1992-01-01 00:00:00',
                                   o_orderdate) AS BIGINT) AS epoch_d
             FROM orders)""",
)
def qr29(spark: SparkSession, sf: str) -> DataFrame:
    """RANGE-frame window (value-based, not row-count-based): trailing
    30-day order count + revenue per customer — the frame every retention
    / velocity metric needs, where ROWS frames silently break on gaps and
    ties. Ordering key is integer days from a fixed anchor so the frame
    bound arithmetic is exact and identical across engines (date-interval
    RANGE frames have engine-specific timestamp semantics; integer days
    do not). One exchange on the partition key."""
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("epoch_d")
        .rangeBetween(-30, Window.currentRow)
    )
    o = load(spark, sf, "orders").select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        F.expr(
            "timestampdiff(DAY, TIMESTAMP_NTZ'1992-01-01 00:00:00',"
            " o_orderdate)"
        ).cast("long").alias("epoch_d"),
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.count("*").over(w).cast("long").alias("n_orders_30d"),
        F.round(F.sum("o_totalprice").over(w), 2).alias("rev_30d"),
    )


@q(
    "qr30_unpivot",
    """SELECT o_orderpriority, metric, ROUND(val, 2) AS val
       FROM (
         SELECT o_orderpriority,
                ROUND(SUM(o_totalprice), 2) AS total_rev,
                ROUND(AVG(o_totalprice), 2) AS avg_rev,
                ROUND(MAX(o_totalprice), 2) AS max_rev
         FROM orders GROUP BY o_orderpriority)
       UNPIVOT (val FOR metric IN (total_rev, avg_rev, max_rev))""",
)
def qr30(spark: SparkSession, sf: str) -> DataFrame:
    """Unpivot (wide -> long, the inverse of qr24): per-priority metric
    columns melt into (metric, value) rows via the built-in unpivot
    (Expand node — map-side, zero extra shuffles beyond the feeding
    aggregate). The metric columns are rounded BEFORE melting so both
    engines stack identical doubles."""
    wide = (
        load(spark, sf, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("total_rev"),
            F.round(F.avg("o_totalprice"), 2).alias("avg_rev"),
            F.round(F.max("o_totalprice"), 2).alias("max_rev"),
        )
    )
    return wide.unpivot(
        ["o_orderpriority"],
        ["total_rev", "avg_rev", "max_rev"],
        "metric",
        "val",
    ).select("o_orderpriority", "metric", F.round("val", 2).alias("val"))


@q(
    "qr31_quantile_sketch",
    """SELECT l_returnflag,
              ROUND(quantile_cont(l_quantity, 0.5), 4) AS p50_exact,
              ROUND(quantile_cont(l_quantity, 0.9), 4) AS p90_exact,
              (abs(approx_quantile(l_quantity, 0.5)
                   - quantile_cont(l_quantity, 0.5))
                 <= 0.10 * quantile_cont(l_quantity, 0.5)) AS sketch_p50_ok
       FROM lineitem GROUP BY l_returnflag""",
)
def qr31(spark: SparkSession, sf: str) -> DataFrame:
    """Quantile sketch vs exact — the qt35 (HLL) contract for the OTHER
    sketch family: exact percentiles (linear interpolation over order
    statistics — a SORT, so deterministic across engines, unlike sums)
    are hash-compared, while each engine asserts ITS OWN approximate
    quantile (Spark approx_percentile, DuckDB approx_quantile — different
    sketches) within 10% of its own exact value, the only contract a
    sketch makes. At 10^12 rows the exact form needs a per-group sort;
    the sketch is one mergeable KLL/t-digest pass — this query certifies
    the sketch is usable as the drop-in."""
    li = load(spark, sf, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_quantity, 0.5)"), 4).alias("p50_exact"),
        F.round(F.expr("percentile(l_quantity, 0.9)"), 4).alias("p90_exact"),
        F.expr(
            "abs(approx_percentile(l_quantity, 0.5, 10000)"
            " - percentile(l_quantity, 0.5))"
            " <= 0.10 * percentile(l_quantity, 0.5)"
        ).alias("sketch_p50_ok"),
    )


# --- qr32: per-segment NTILE deciles -------------------------------------------
#
# Equal-frequency bucketing inside bounded partitions. The window is
# PARTITION BY c_mktsegment deliberately: a global `NTILE(n) OVER (ORDER
# BY ...)` plans as a SinglePartition sort — the same 10^12-row
# scale-killer qt38's AUC rewrite removed — while a partitioned NTILE
# shuffles once on the partition key and sorts per group. At corpus
# scale the global equivalent is qr31's mergeable quantile sketch; this
# is the exact within-group form. NTILE's floor-based uneven-bucket rule
# is standard SQL and identical in both engines; the (c_acctbal,
# c_custkey) order makes the assignment deterministic under ties.

_QR32_SQL = """
WITH t AS (
  SELECT c_mktsegment, c_acctbal,
         NTILE(10) OVER (PARTITION BY c_mktsegment
                         ORDER BY c_acctbal, c_custkey) AS decile
  FROM customer
)
SELECT c_mktsegment, decile,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(MIN(c_acctbal), 2) AS lo,
       ROUND(MAX(c_acctbal), 2) AS hi
FROM t GROUP BY c_mktsegment, decile
"""


@q("qr32_ntile_deciles", _QR32_SQL)
def qr32(spark: SparkSession, sf: str) -> DataFrame:
    register_views(spark, sf)
    return spark.sql(_QR32_SQL)


# --- qr33: correlated scalar subqueries ----------------------------------------
#
# Orders priced above their own customer's average order value, written
# as two correlated scalar subqueries so Catalyst's decorrelation
# machinery (RewriteCorrelatedScalarSubquery) is exercised: the planned
# shape is ONE aggregate over orders grouped by o_custkey joined back to
# orders — never a per-row subquery execution. The comparison is done in
# exact integer cents, cross-multiplied (price * n > total) instead of
# dividing: AVG over DOUBLE is a float sum whose accumulation order
# differs between engines and could flip rows at the boundary, while
# BIGINT sums are order-independent — the qg01 lesson applied to
# predicates.

_QR33_SQL = """
SELECT o.o_custkey, o.o_orderkey,
       ROUND(o.o_totalprice, 2) AS price
FROM orders o
WHERE CAST(ROUND(o.o_totalprice * 100) AS BIGINT)
        * (SELECT COUNT(*) FROM orders o2
           WHERE o2.o_custkey = o.o_custkey)
      > (SELECT SUM(CAST(ROUND(o2.o_totalprice * 100) AS BIGINT))
         FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
"""


@q("qr33_correlated_subquery", _QR33_SQL)
def qr33(spark: SparkSession, sf: str) -> DataFrame:
    register_views(spark, sf)
    return spark.sql(_QR33_SQL)


# --- qr34: bloom-filter semi-join (runtime-filter pattern) -----------------------
#
# The runtime-filter shape every 10^12-row engine ships (Spark's
# spark.sql.optimizer.runtime.bloomFilter, Trino dynamic filtering,
# DataFusion's join pruning), made explicit and CERTIFIED: a selective
# build side (orders with o_totalprice > 490000, ~2% of orders) hashes
# each key into an m=65536-bit / k=2 bloom (positions = two disjoint
# 16-bit windows of md5(key) — identical hex in both engines, nibbles
# parsed with pure string ops, the qt05/qt08 hashing contract); the
# DISTINCT set bit positions aggregate into ONE broadcast scalar array
# (<= 2|build| entries, bounded by 65536 — dimension-sized at any corpus
# scale), and the probe (lineitem) applies the membership test MAP-SIDE
# before any join. The output certifies the two properties a runtime
# filter must have: n_true == n_exact (a bloom NEVER drops a true match
# — zero false negatives, reported as a boolean the cross-engine hash
# pins) and the measured false-positive rate (honest: grows as the
# build side saturates m; real deployments size m from the build-side
# count). At 10^12 probe rows this turns "shuffle everything, join,
# discard 98%" into "scan-side filter to ~2% + fp, then join the
# survivors".

def _hash16(col: str, off: int) -> str:
    """16-bit integer from 4 hex nibbles of md5 column `col` at 1-based `off`."""
    nibs = [
        f"(instr('0123456789abcdef', substr({col}, {off + i}, 1)) - 1)"
        for i in range(4)
    ]
    mults = (4096, 256, 16, 1)
    return "(" + " + ".join(f"{n} * {m}" for n, m in zip(nibs, mults)) + ")"


_QR34_BODY = """
WITH build AS (
  SELECT DISTINCT o_orderkey AS k, md5(CAST(o_orderkey AS STRING)) AS h
  FROM orders WHERE o_totalprice > 490000
),
bits AS (
  SELECT DISTINCT p FROM (
    SELECT {P1} AS p FROM build
    UNION ALL
    SELECT {P2} AS p FROM build
  ) t
),
bloom AS (SELECT {AGG} AS bs FROM bits),
probe AS (
  SELECT l_orderkey, md5(CAST(l_orderkey AS STRING)) AS h FROM lineitem
),
cand AS (
  SELECT p.l_orderkey
  FROM probe p CROSS JOIN bloom b
  WHERE {CONTAINS}(b.bs, {P1p}) AND {CONTAINS}(b.bs, {P2p})
),
counted AS (
  SELECT COUNT(*) AS n_candidates,
         SUM(CASE WHEN bk.k IS NOT NULL THEN 1 ELSE 0 END) AS n_true
  FROM cand c LEFT JOIN (SELECT k FROM build) bk ON c.l_orderkey = bk.k
),
exactn AS (
  SELECT COUNT(*) AS n_exact
  FROM lineitem l JOIN (SELECT k FROM build) bk ON l.l_orderkey = bk.k
),
tot AS (SELECT COUNT(*) AS n_probe FROM lineitem)
SELECT CAST(e.n_exact AS BIGINT) AS n_exact,
       CAST(c.n_candidates AS BIGINT) AS n_candidates,
       CAST(c.n_candidates - c.n_true AS BIGINT) AS n_false_pos,
       c.n_true = e.n_exact AS no_false_negatives,
       ROUND(CAST(c.n_candidates - c.n_true AS DOUBLE)
             / CAST(t.n_probe AS DOUBLE), 6) AS fp_rate
FROM counted c CROSS JOIN exactn e CROSS JOIN tot t
"""

# Spark side packs the m=65536 bits into 1024 64-bit words so the
# probe is O(1) per hash — element_at on the word array + a bit mask —
# instead of an O(set-bits) array_contains scan (up to 65536 elements
# per probe row at full saturation, which is exactly the regime a
# runtime filter runs in at scale; measured 16.7s -> ~1s at sf0.1).
# The packed array is built once (single scalar row: one bit_or per
# word, then a fold into the dense array) and broadcast; the DuckDB
# oracle keeps the set-positions formulation — same certified output.
_QR34_WORDS = """
words AS (
  SELECT CAST(p div 64 AS INT) AS wi,
         bit_or(shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT))) AS wd
  FROM bits GROUP BY p div 64
),
bloom AS (
  SELECT aggregate(
           collect_list(struct(wi, wd)),
           array_repeat(CAST(0 AS BIGINT), 1024),
           (acc, x) -> transform(acc, (v, i) -> IF(i = x.wi, v | x.wd, v))
         ) AS bs
  FROM words
),
probe AS (
  SELECT l_orderkey, {P1h} AS p1, {P2h} AS p2
  FROM (SELECT l_orderkey, md5(CAST(l_orderkey AS STRING)) AS h
        FROM lineitem)
),
cand AS (
  SELECT p.l_orderkey
  FROM probe p CROSS JOIN bloom b
  WHERE (element_at(b.bs, CAST(p1 div 64 AS INT) + 1)
         & shiftleft(CAST(1 AS BIGINT), CAST(p1 % 64 AS INT))) != 0
    AND (element_at(b.bs, CAST(p2 div 64 AS INT) + 1)
         & shiftleft(CAST(1 AS BIGINT), CAST(p2 % 64 AS INT))) != 0
),"""

def _hash16_conv(col: str, off: int) -> str:
    """Same 16-bit window as _hash16 but via conv(): one JVM intrinsic
    instead of 8 instr/substr calls — Spark-only (DuckDB keeps the
    portable nibble arithmetic; equivalence is pinned by a test)."""
    return f"CAST(conv(substr({col}, {off}, 4), 16, 10) AS INT)"


_QR34_SPARK = (
    # splice the packed-words bloom+probe+cand in place of the
    # set-positions formulation; build/bits and the certified tail
    # (counted/exactn/tot/SELECT) are shared text
    (
        _QR34_BODY[: _QR34_BODY.index("bloom AS")]
        + _QR34_WORDS.lstrip("\n")
        + _QR34_BODY[_QR34_BODY.index("counted AS") :]
    )
    .replace("{P1h}", _hash16_conv("h", 1))
    .replace("{P2h}", _hash16_conv("h", 5))
    .replace("{P1}", _hash16_conv("h", 1))
    .replace("{P2}", _hash16_conv("h", 5))
)
_QR34_DUCK = (
    _QR34_BODY
    .replace("{P1p}", _hash16("p.h", 1)).replace("{P2p}", _hash16("p.h", 5))
    .replace("{P1}", _hash16("h", 1)).replace("{P2}", _hash16("h", 5))
    .replace("{AGG}", "list(DISTINCT p)")
    .replace("{CONTAINS}", "list_contains")
)


@q("qr34_bloom_semijoin", _QR34_DUCK)
def qr34(spark: SparkSession, sf: str) -> DataFrame:
    register_views(spark, sf)
    return spark.sql(_QR34_SPARK)


# --- qr35: Z-order layout + min-max chunk skipping -------------------------------
#
# The data-LAYOUT lever at 100 TB (Delta OPTIMIZE ZORDER, Iceberg
# sort-order rewrite): interleaving the bits of two filter columns into
# one sort key co-locates 2-D-close rows into the same files, so
# parquet footer min-max stats prune both dimensions at once. This
# query builds the 12-bit z-value (6 bits per dimension, pure integer
# arithmetic — identical in both engines), splits the corpus into 64
# equal chunks under (a) z-order and (b) the natural key order, computes
# each chunk's min-max envelope (exactly what a parquet footer stores),
# and reports the fraction of chunks a 2-D range predicate skips under
# each layout — the measured number that justifies paying the layout
# sort. NTILE here is the measurement harness over a bounded sample;
# the production writer is repartitionByRange(zval) +
# sortWithinPartitions (a range-partitioned sort, never a single
# global window over the corpus).

def _zexpr(div: str) -> str:
    terms = []
    for i in range(6):
        terms.append(f"((a {div} {1 << i}) % 2) * {1 << (2 * i)}")
        terms.append(f"((b {div} {1 << i}) % 2) * {1 << (2 * i + 1)}")
    return "(" + " + ".join(terms) + ")"


_QR35_BODY = """
WITH pts AS (
  SELECT o_orderkey AS k,
         CAST(o_custkey % 64 AS BIGINT) AS a,
         CAST(CAST(date_part('doy', o_orderdate) AS BIGINT) % 64 AS BIGINT) AS b
  FROM orders
),
z AS (SELECT k, a, b, {ZEXPR} AS zval FROM pts),
zc AS (SELECT a, b, NTILE(64) OVER (ORDER BY zval, k) AS chunk FROM z),
nc AS (SELECT a, b, NTILE(64) OVER (ORDER BY k) AS chunk FROM z),
zstat AS (
  SELECT chunk, MIN(a) AS mina, MAX(a) AS maxa,
         MIN(b) AS minb, MAX(b) AS maxb
  FROM zc GROUP BY chunk
),
nstat AS (
  SELECT chunk, MIN(a) AS mina, MAX(a) AS maxa,
         MIN(b) AS minb, MAX(b) AS maxb
  FROM nc GROUP BY chunk
),
hits AS (
  SELECT 'zorder' AS layout, COUNT(*) AS n_chunks,
         SUM(CASE WHEN mina <= 23 AND maxa >= 8
                   AND minb <= 31 AND maxb >= 16 THEN 1 ELSE 0 END) AS n_scan
  FROM zstat
  UNION ALL
  SELECT 'linear' AS layout, COUNT(*) AS n_chunks,
         SUM(CASE WHEN mina <= 23 AND maxa >= 8
                   AND minb <= 31 AND maxb >= 16 THEN 1 ELSE 0 END) AS n_scan
  FROM nstat
)
SELECT layout,
       CAST(n_chunks AS BIGINT) AS n_chunks,
       CAST(n_scan AS BIGINT) AS chunks_scanned,
       ROUND(1.0 - CAST(n_scan AS DOUBLE) / CAST(n_chunks AS DOUBLE), 6)
         AS skip_fraction
FROM hits ORDER BY layout
"""

_QR35_SPARK = _QR35_BODY.replace("{ZEXPR}", _zexpr("div"))
_QR35_DUCK = _QR35_BODY.replace("{ZEXPR}", _zexpr("//"))


@q("qr35_zorder_skipping", _QR35_DUCK)
def qr35(spark: SparkSession, sf: str) -> DataFrame:
    register_views(spark, sf)
    return spark.sql(_QR35_SPARK)


# --- qr36: SCD2 validity intervals ------------------------------------------------
#
# The warehouse temporal-modeling core (slowly-changing-dimension type
# 2): the event stream is read as per-key attribute OBSERVATIONS, runs
# of the unchanged attribute collapse (LAG detects change points — only
# a change opens a new version), and each version gets
# [valid_from, valid_to) via LEAD, the open version flagged is_current
# with valid_to NULL. This is how a 10^12-row crawl archive models
# "what was this page's language/content-type between March and May":
# both windows PARTITION BY the key (user here) so no partition ever
# holds more than one key's history — scale-bounded by the hottest key,
# never the corpus. Ties inside a key break on event_id so the change
# detection is deterministic under identical timestamps.

_QR36_SQL = """
WITH obs AS (
  SELECT user_id, event_id, ts, event_type,
         LAG(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev
  FROM events
),
changes AS (
  SELECT user_id, event_id, ts, event_type FROM obs
  WHERE prev IS NULL OR prev <> event_type
),
versions AS (
  SELECT user_id, event_type, ts AS valid_from,
         LEAD(ts) OVER (PARTITION BY user_id
                        ORDER BY ts, event_id) AS valid_to
  FROM changes
)
SELECT user_id, event_type, valid_from, valid_to,
       valid_to IS NULL AS is_current
FROM versions
"""


@q("qr36_scd2_intervals", _QR36_SQL)
def qr36(spark: SparkSession, sf: str) -> DataFrame:
    register_views(spark, sf)
    return spark.sql(_QR36_SQL)


# --- qr37: CDC MERGE apply, certified against direct construction ----------------
#
# The warehouse ingestion op (MERGE INTO / Iceberg-Delta upsert apply):
# base = per-key ((user, event_type) entity) latest state before the
# cutoff; changelog = per-key latest post-cutoff event, value < 5
# mapped to a DELETE op (the CDC op column convention); apply = ONE
# full outer join on the key — update
# wins over base, insert appears, delete drops. The query CERTIFIES the
# apply: the merged snapshot must equal DIRECT construction from the
# full history under the same rules (matches_direct boolean, pinned by
# the cross-engine hash) — the idempotence/consistency property every
# incremental ingestion pipeline must hold at 10^12 rows, where
# reprocessing history is unaffordable and the delta path MUST land on
# the same state. Per-key windows + one key-partitioned join: bounded
# by the hottest key, never the corpus.

_QR37_SQL = """
WITH latest_pre AS (
  SELECT user_id, event_type, value, ts FROM (
    SELECT user_id, event_type, value, ts,
           ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM events WHERE ts < TIMESTAMP '2024-01-30 00:00:00') t
  WHERE rn = 1
),
changes AS (
  SELECT user_id, event_type, value, ts,
         CASE WHEN value < 5.0 THEN 'D' ELSE 'U' END AS op
  FROM (
    SELECT user_id, event_type, value, ts, event_id,
           ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM events WHERE ts >= TIMESTAMP '2024-01-30 00:00:00') t
  WHERE rn = 1
),
merged AS (
  SELECT COALESCE(c.user_id, b.user_id) AS user_id,
         COALESCE(c.event_type, b.event_type) AS event_type,
         CASE WHEN c.user_id IS NOT NULL THEN c.value ELSE b.value END AS value,
         CASE WHEN c.user_id IS NOT NULL THEN c.ts ELSE b.ts END AS ts,
         CASE WHEN c.user_id IS NULL THEN 'carried'
              WHEN b.user_id IS NULL THEN 'inserted'
              ELSE 'updated' END AS src,
         COALESCE(c.op, 'U') AS op
  FROM latest_pre b FULL OUTER JOIN changes c
    ON b.user_id = c.user_id AND b.event_type = c.event_type
),
final AS (
  SELECT user_id, event_type, value, ts, src FROM merged WHERE op <> 'D'
),
direct AS (
  SELECT user_id, event_type, value, ts FROM (
    SELECT user_id, event_type, value, ts,
           ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM events) t
  WHERE rn = 1
    AND NOT (ts >= TIMESTAMP '2024-01-30 00:00:00' AND value < 5.0)
),
diff AS (
  SELECT COUNT(*) AS n_mismatch
  FROM final f FULL OUTER JOIN direct d
    ON f.user_id = d.user_id AND f.event_type = d.event_type
       AND f.ts = d.ts AND f.value = d.value
  WHERE f.user_id IS NULL OR d.user_id IS NULL
)
SELECT src,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       (SELECT n_mismatch FROM diff) = 0 AS matches_direct
FROM final GROUP BY src ORDER BY src
"""


@q("qr37_cdc_merge_apply", _QR37_SQL)
def qr37(spark: SparkSession, sf: str) -> DataFrame:
    register_views(spark, sf)
    return spark.sql(_QR37_SQL)


# --- qr38: scalable global ranking (the SinglePartition-window killer, solved) --
#
# A global ROW_NUMBER() OVER (ORDER BY ...) plans as ONE Exchange
# SinglePartition + one sort — every row through one task, the plan that
# dies at 10^12 rows (the qt38/qr32 class; those queries AVOIDED it by
# partitioning). This operator SOLVES it, the classic two-phase shape a
# publishing/sharding stage needs (stable global ids for a training
# corpus): (1) repartitionByRange on the total sort key — Spark's range
# partitioner samples deterministically (seed = byteswap(partition
# index)) and every partition holds a disjoint key range; (2) sort
# WITHIN partitions; (3) count rows per partition — a K-row driver
# collect, the only coordination; (4) broadcast the prefix offsets and
# add them to the within-partition position in one mapInPandas pass.
# Total order = (n_chars DESC, doc_id) — the unique tiebreak makes the
# output deterministic regardless of where the sampled range boundaries
# land. Oracle: the straightforward (single-partition) window.

_QR38_PARTS = 8


def _qr38(spark: SparkSession, sf: str) -> DataFrame:
    import pandas as pd
    from pyspark.sql import types as T

    docs = load(spark, sf, "documents").select("doc_id", "n_chars")
    # phase 1+2: disjoint ordered ranges, sorted within
    ranged = docs.repartitionByRange(
        _QR38_PARTS, F.col("n_chars").desc(), F.col("doc_id").asc()
    ).sortWithinPartitions(F.col("n_chars").desc(), F.col("doc_id").asc())
    ranged = ranged.persist()
    # phase 3: per-partition counts (K rows to the driver — the ONLY
    # driver-side data at any corpus size)
    counts = (
        ranged.select(F.spark_partition_id().alias("pid"))
        .groupBy("pid")
        .count()
        .collect()
    )
    sizes = {r["pid"]: r["count"] for r in counts}
    offsets = {}
    acc = 0
    for pid in range(_QR38_PARTS):
        offsets[pid] = acc
        acc += sizes.get(pid, 0)
    b_off = spark.sparkContext.broadcast(offsets)

    out_schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("rank", T.LongType()),
        ]
    )

    # not map_records: the rank depends on row position within the partition
    def add_rank(it):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        base = b_off.value.get(pid, 0)
        pos = 0
        for pdf_batch in it:
            n = len(pdf_batch)
            yield pd.DataFrame(
                {
                    "doc_id": pdf_batch["doc_id"].to_numpy(),
                    "rank": range(base + pos + 1, base + pos + n + 1),
                }
            )
            pos += n

    result = ranged.mapInPandas(add_rank, schema=out_schema)
    # note: ranged stays persisted while `result` is lazily consumed; the
    # session-scoped stage cache pattern (textops._stage) is overkill for
    # a K-row coordination query run once per publish
    return result


QUERIES["qr38_scalable_global_rank"] = _qr38
ORACLE["qr38_scalable_global_rank"] = """
SELECT doc_id,
       CAST(ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id) AS BIGINT) AS rank
FROM documents
"""


# -- qr39: explicit GROUPING SETS (the irregular lattice CUBE/ROLLUP can't say) --

_QR39_SQL = """
SELECT o_orderstatus, o_orderpriority,
       CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
       CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_prio,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(SUM(o_totalprice), 2) AS total
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                        (o_orderstatus), ())
"""


@q("qr39_grouping_sets", _QR39_SQL)
def qr39(spark: SparkSession, sf: str) -> DataFrame:
    """Explicit GROUPING SETS: the report wants (status, priority),
    (status) and the grand total but NOT (priority) — the irregular
    lattice neither ROLLUP (qr10, prefix sets) nor CUBE (qr28, full
    lattice) can express without computing and discarding a granularity.
    Catalyst expands the named sets in one Expand node over a single
    fact-table scan, same one-pass property as CUBE but only the sets
    asked for — at 10^12 rows the skipped (priority) granularity is a
    whole shuffle that never happens. GROUPING() flags disambiguate
    rolled-up NULLs, and the identical ANSI text runs on both engines."""
    register_views(spark, sf)
    return spark.sql(_QR39_SQL)


# -- qr40: LATERAL correlated top-k (the join-then-window alternative) -----------

_QR40_SQL = """
SELECT c.c_custkey, c.c_mktsegment, t.o_orderkey, t.o_totalprice
FROM customer c,
LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
         WHERE o.o_custkey = c.c_custkey
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
"""


@q("qr40_lateral_topk", _QR40_SQL)
def qr40(spark: SparkSession, sf: str) -> DataFrame:
    """Correlated LATERAL subquery with per-row ORDER BY ... LIMIT — the
    declarative form of "top-2 orders per customer". Catalyst decorrelates
    this into a join + per-key ranking (DomainJoin rewrite), the same
    physical shape as qr07's window-rank but expressed as the inner query
    a user actually writes; customers with no orders drop out (inner
    lateral). The tie-break (price DESC, orderkey) makes the kept rows
    deterministic in both engines. Identical ANSI text runs on DuckDB."""
    register_views(spark, sf)
    return spark.sql(_QR40_SQL)


# -- qr41: FILTER-clause aggregates (per-condition partial aggregation) -----------

_QR41_SQL = """
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_all,
       CAST(COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT')
            AS BIGINT) AS n_urgent,
       ROUND(SUM(o_totalprice) FILTER (WHERE o_totalprice > 100000), 2)
           AS big_total,
       CAST(COUNT(DISTINCT o_custkey) FILTER (WHERE o_orderkey % 2 = 0)
            AS BIGINT) AS n_cust_even
FROM orders
GROUP BY o_orderstatus
"""


@q("qr41_filtered_agg", _QR41_SQL)
def qr41(spark: SparkSession, sf: str) -> DataFrame:
    """ANSI FILTER-clause aggregates: several differently-conditioned
    aggregates over ONE scan — the declarative replacement for the
    CASE-WHEN-inside-SUM idiom and for N self-joined subqueries. All
    four aggregates (plain, filtered COUNT, filtered SUM, filtered
    COUNT DISTINCT) fold into the same partial-aggregation pass, so at
    10^12 rows this is one shuffle on the group key instead of four
    scans; the filters never become separate plan branches. Identical
    ANSI text runs on DuckDB."""
    register_views(spark, sf)
    return spark.sql(_QR41_SQL)


# -- qr42: null-safe equality join (IS NOT DISTINCT FROM) -------------------------

_QR42_SQL = """
WITH l AS (
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 5 = 0 THEN NULL
                ELSE o_orderkey % 7 END AS k,
           o_totalprice
    FROM orders
), r AS (
    SELECT CASE WHEN d % 3 = 0 THEN NULL ELSE d END AS k,
           d * 10 AS payload
    FROM (SELECT CAST(r_regionkey AS BIGINT) + 2 AS d FROM region)
)
SELECT l.o_orderkey, l.k AS lk, r.payload,
       ROUND(l.o_totalprice, 2) AS price
FROM l JOIN r ON l.k IS NOT DISTINCT FROM r.k
"""


@q("qr42_nullsafe_join", _QR42_SQL)
def qr42(spark: SparkSession, sf: str) -> DataFrame:
    """Null-safe equality join (ANSI ``IS NOT DISTINCT FROM``, Spark's
    ``<=>``): NULL keys MATCH each other instead of vanishing — the
    semantics every SCD/dedup merge wants when "unknown" is a real key
    value. Spark plans this as an ordinary hash join on the null-safe
    key (NULL hashes like any value; no fallback to nested-loop), so
    the 10^12-row behavior is identical to an equi-join — one shuffle
    per side, broadcastable small side — rather than the cartesian
    blowup a naive ``l.k = r.k OR (l.k IS NULL AND r.k IS NULL)``
    predicate triggers. The NULL bucket is a designed skew hotspot:
    at scale you salt it like any hot key (qt31). Identical ANSI text
    runs on DuckDB."""
    register_views(spark, sf)
    return spark.sql(_QR42_SQL)


# -- qr43: frame-exact window coverage (FIRST/LAST/NTH_VALUE, DENSE_RANK) --------

_QR43_SQL = """
SELECT o_custkey, o_orderkey,
       CAST(DENSE_RANK() OVER (
           PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
       ) AS BIGINT) AS drank,
       FIRST_VALUE(o_orderkey) OVER (
           PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_key,
       LAST_VALUE(o_orderkey) OVER (
           PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS last_key,
       NTH_VALUE(o_orderkey, 2) OVER (
           PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
           AS second_key
FROM orders
"""


@q("qr43_window_frames", _QR43_SQL)
def qr43(spark: SparkSession, sf: str) -> DataFrame:
    """Explicit-frame window coverage beyond qr29's RANGE frame: the
    default frame differs BY SPEC between FIRST_VALUE (unbounded
    preceding..current) and what users expect from LAST_VALUE (whose
    default frame makes it the CURRENT row — the classic window bug),
    so every frame here is spelled out: running first, forward-looking
    last, and a whole-partition NTH_VALUE(2) that is NULL for 1-order
    customers. All outputs are exact BIGINTs (no float window results —
    PERCENT_RANK/CUME_DIST coverage lives in qt59's integer calibration
    bins instead, the engine-exactness discipline). Ordering is total
    ((date, orderkey) — orderkey unique) so both engines agree row-for-
    row. 100 TB: one shuffle on o_custkey, per-partition sort, no
    global window anywhere. (Window specs are inlined per call: Spark's
    parser rejects extending a named WINDOW with a frame clause.)"""
    register_views(spark, sf)
    return spark.sql(_QR43_SQL)


# -- qr44: recursive CTE — hierarchy closure (WITH RECURSIVE) --------------------

_QR44_BODY = """
WITH RECURSIVE chain(node, anc, depth) AS (
  SELECT doc_id, doc_id {IDIV} 10, 1 FROM documents WHERE doc_id > 0
  UNION ALL
  SELECT c.node, c.anc {IDIV} 10, c.depth + 1 FROM chain c WHERE c.anc > 0
)
SELECT node,
       CAST(MAX(depth) AS BIGINT) AS depth_to_root,
       CAST(COUNT(*) AS BIGINT) AS n_ancestors
FROM chain
GROUP BY node
"""


@q(
    "qr44_recursive_closure",
    _QR44_BODY.replace("{IDIV}", "//"),
)
def qr44(spark: SparkSession, sf: str) -> DataFrame:
    """WITH RECURSIVE ancestor closure over a derived category tree
    (parent = node DIV 10): every node walks to the root, yielding
    depth-to-root and ancestor count — the org-chart/taxonomy query
    that needed iterative driver loops before Spark 4 shipped
    recursive CTEs. Each recursion round is one self-join producing
    strictly-shallower frontiers, and the DIV-10 hierarchy bounds
    rounds at log10(N) — 13 rounds at 10^12 rows, each a hash join on
    the frontier only (never the closed set). The same ANSI text runs
    on DuckDB with // as the integer-divide spelling."""
    register_views(spark, sf)
    return spark.sql(_QR44_BODY.replace("{IDIV}", "DIV"))


# -- qr45: OUTER explode — empty-collection rows must SURVIVE --------------------

_QR45_SPARK = """
WITH w AS (
  SELECT doc_id,
         filter(split(text, ' '), x -> length(x) >= 12) AS longs
  FROM documents)
SELECT doc_id, word,
       CAST((word IS NULL) AS BOOLEAN) AS had_no_long_words
FROM w
LATERAL VIEW OUTER explode(longs) t AS word
"""

_QR45_DUCK = """
WITH w AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '), x -> length(x) >= 12) AS longs
  FROM documents),
e AS (
  SELECT doc_id, unnest(longs) AS word FROM w WHERE len(longs) > 0)
SELECT w.doc_id, e.word,
       CAST((e.word IS NULL) AS BOOLEAN) AS had_no_long_words
FROM w LEFT JOIN e ON w.doc_id = e.doc_id
"""


@q("qr45_outer_explode", _QR45_DUCK)
def qr45(spark: SparkSession, sf: str) -> DataFrame:
    """LATERAL VIEW OUTER explode — the empty-collection trap: a plain
    explode DROPS rows whose array is empty, so any per-doc fan-out
    (tokens, links, chunks) silently loses exactly the documents with
    nothing to fan out — and every downstream LEFT-join count built on
    the exploded table inherits the hole. OUTER explode keeps those
    rows with a NULL element (DuckDB spells the same semantics as a
    LEFT JOIN against the non-empty unnest). The filter predicate
    (words >= 12 chars) guarantees both populations exist in the
    corpus, so the oracle fails if either engine drops or fabricates
    the empty side. 100 TB: explode is map-side; the fan-out inherits
    the doc's partition (qt66's property, here with the null-row
    guarantee)."""
    register_views(spark, sf)
    return spark.sql(_QR45_SPARK)


# -- qr46: gaps-and-islands — consecutive-run detection ---------------------------

_QR46_BODY = """
WITH ranked AS (
  SELECT source, doc_id,
         doc_id - ROW_NUMBER() OVER (
             PARTITION BY source ORDER BY doc_id) AS island_key
  FROM documents),
islands AS (
  SELECT source, island_key,
         CAST(COUNT(*) AS BIGINT) AS run_len,
         CAST(MIN(doc_id) AS BIGINT) AS run_start
  FROM ranked
  GROUP BY source, island_key)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_islands,
       CAST(MAX(run_len) AS BIGINT) AS longest_run,
       CAST(SUM(run_len) AS BIGINT) AS n_docs,
       CAST(MIN(run_start) AS BIGINT) AS first_doc
FROM islands
GROUP BY source
"""


@q("qr46_gaps_islands", _QR46_BODY)
def qr46(spark: SparkSession, sf: str) -> DataFrame:
    """Gaps-and-islands — find maximal runs of CONSECUTIVE ids inside
    each group, the classic sequence-completeness question (which
    crawl-id ranges does each source cover contiguously? where are the
    holes a resume must re-fetch?). The standard O(n) trick: within a
    group ordered by id, ``id - ROW_NUMBER()`` is CONSTANT exactly on
    a consecutive run, so one window plus one groupBy replaces any
    self-join-on-id+1 formulation (which at 10^12 rows would be a
    second full shuffle and an unindexable equi-join). Per-source
    island stats (count, longest run, coverage) come out of map-side
    partial aggregation. 100 TB: one shuffle on source for the window,
    the groupBys reuse that partitioning; no global sort. Same ANSI
    text on both engines."""
    register_views(spark, sf)
    return spark.sql(_QR46_BODY)


# -- qr47: per-group mode (most-frequent value, deterministic tie-break) ----------

_QR47_BODY = """
WITH counted AS (
  SELECT o_orderstatus, o_orderpriority,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM orders
  GROUP BY o_orderstatus, o_orderpriority),
ranked AS (
  SELECT *,
         ROW_NUMBER() OVER (
             PARTITION BY o_orderstatus
             ORDER BY n DESC, o_orderpriority) AS rk
  FROM counted)
SELECT o_orderstatus,
       o_orderpriority AS mode_priority,
       n AS mode_count
FROM ranked
WHERE rk = 1
"""


@q("qr47_group_mode", _QR47_BODY)
def qr47(spark: SparkSession, sf: str) -> DataFrame:
    """Per-group MODE (most-frequent value) with a deterministic
    tie-break — the categorical summary statistic both engines ship
    only as a nondeterministic-on-ties aggregate (Spark ``mode()``,
    DuckDB ``mode()``), which makes naive use oracle-unverifiable and
    production-unstable across reruns. The portable form: count
    per (group, value) — map-side combinable, the only full-data
    pass — then ROW_NUMBER ordered by (count DESC, value ASC) over
    the tiny per-group candidate set. 100 TB: the first groupBy does
    all the data reduction with partial aggregation; the window runs
    over |groups| x |distinct values| rows (here 3 x 5), never over
    raw orders. Same ANSI text on both engines."""
    register_views(spark, sf)
    return spark.sql(_QR47_BODY)


# -- qr48: NOT IN vs NOT EXISTS under NULLs (three-valued-logic trap) -------------

_QR48_BODY = """
WITH src AS (
  SELECT CASE WHEN o_orderkey % 97 = 0 THEN NULL
              ELSE o_custkey END AS k
  FROM orders WHERE o_orderkey % 7 = 0),
not_in AS (
  SELECT COUNT(*) AS n FROM customer
  WHERE c_custkey NOT IN (SELECT k FROM src)),
not_exists AS (
  SELECT COUNT(*) AS n FROM customer c
  WHERE NOT EXISTS (SELECT 1 FROM src s WHERE s.k = c.c_custkey)),
null_count AS (
  SELECT COUNT(*) AS n FROM src WHERE k IS NULL)
SELECT CAST((SELECT n FROM null_count) AS BIGINT) AS n_null_keys,
       CAST((SELECT n FROM not_in) AS BIGINT) AS n_not_in,
       CAST((SELECT n FROM not_exists) AS BIGINT) AS n_not_exists
"""


@q("qr48_notin_null_trap", _QR48_BODY)
def qr48(spark: SparkSession, sf: str) -> DataFrame:
    """``NOT IN`` vs ``NOT EXISTS`` when the subquery carries NULLs —
    SQL's most-reported silent-wrong-answer trap, certified on both
    engines: ``x NOT IN (set containing NULL)`` is never TRUE under
    three-valued logic (x <> NULL is UNKNOWN), so the NOT IN count
    collapses to 0 the moment one NULL enters the key set, while the
    NOT EXISTS form (whose equality predicate simply never matches the
    NULL row) keeps returning the real anti-join count. The fixture
    takes every 7th order (so some customers fall outside the key
    set) and nulls every 97th key, guaranteeing both a non-empty
    NULL set and a non-zero NOT EXISTS count, so an engine departing
    from the standard in either direction hash-fails. 100 TB: the
    planner realizes NOT IN as a null-aware anti join — one broadcast
    of the key set; NOT EXISTS as a plain (hash) anti join; both
    single-shuffle shapes. Same ANSI text on both engines."""
    register_views(spark, sf)
    return spark.sql(_QR48_BODY)


# -- qr49: release diff manifest (FULL OUTER JOIN changed/added/removed) ----------

_QR49_BODY = """
WITH rel_a AS (
  SELECT doc_id, md5(text) AS h FROM documents
  WHERE doc_id % 17 <> 0),
rel_b AS (
  SELECT doc_id,
         CASE WHEN doc_id % 13 = 0 THEN md5(text || ' v2')
              ELSE md5(text) END AS h
  FROM documents
  WHERE doc_id % 19 <> 0),
diff AS (
  SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
         CASE WHEN a.doc_id IS NULL THEN 'added'
              WHEN b.doc_id IS NULL THEN 'removed'
              WHEN a.h <> b.h THEN 'changed'
              ELSE 'unchanged' END AS status
  FROM rel_a a FULL OUTER JOIN rel_b b ON a.doc_id = b.doc_id)
SELECT status,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MIN(doc_id) AS BIGINT) AS first_doc,
       CAST(MAX(doc_id) AS BIGINT) AS last_doc
FROM diff
GROUP BY status
"""


@q("qr49_release_diff", _QR49_BODY)
def qr49(spark: SparkSession, sf: str) -> DataFrame:
    """Dataset release diff — the versioning manifest every corpus
    publisher ships (what changed between release A and release B):
    FULL OUTER JOIN on the stable key with content-hash comparison
    classifies every document added / removed / changed / unchanged in
    ONE pass — the qt50 incremental-dedup complement at release
    granularity. The derived releases guarantee all four classes are
    non-empty (every 17th doc absent from A, every 19th from B, every
    13th mutated in B), so an engine mishandling the FULL OUTER's
    null-extension on either side, or the COALESCE key merge, fails
    the counts. 100 TB: one hash full-outer join on the uniform
    doc_id key + a 4-group rollup with map-side partials; content
    hashes computed map-side before the join so the wide text column
    never shuffles. Same ANSI text on both engines."""
    register_views(spark, sf)
    return spark.sql(_QR49_BODY)


# -- qr50: ordered funnel analysis (view -> click -> purchase) --------------------

_QR50_BODY = """
WITH firsts AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
         MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
         MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purch
  FROM events
  GROUP BY user_id),
steps AS (
  SELECT user_id,
         CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END AS s1,
         CASE WHEN t_view IS NOT NULL AND t_click > t_view
              THEN 1 ELSE 0 END AS s2,
         CASE WHEN t_view IS NOT NULL AND t_click > t_view
                   AND t_purch > t_click
              THEN 1 ELSE 0 END AS s3
  FROM firsts)
SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(SUM(s1) AS BIGINT) AS step_view,
       CAST(SUM(s2) AS BIGINT) AS step_click,
       CAST(SUM(s3) AS BIGINT) AS step_purchase,
       CAST(1000 * SUM(s3) {IDIV} GREATEST(SUM(s1), 1) AS BIGINT)
           AS conversion_permille
"""


@q(
    "qr50_funnel_steps",
    _QR50_BODY.replace("{IDIV}", "//") + "FROM steps",
)
def qr50(spark: SparkSession, sf: str) -> DataFrame:
    """Ordered funnel — the event-analytics staple (did the user view,
    THEN click, THEN purchase, in that order?) in its scalable
    conditional-aggregation form: first-occurrence timestamps per
    step come from ONE groupBy(user) with CASE-wrapped MINs (map-side
    combinable), and step membership is pure timestamp comparison —
    no self-join per step (the naive 3-way join reshuffles the event
    log once per funnel stage; at 10^12 events that's the whole job
    three times), no window, no sequence explode. NULL timestamp
    comparisons resolve to UNKNOWN -> step 0, which is exactly the
    funnel semantic (never did the step). Strict inequality enforces
    ORDER, not mere presence — a user who purchased before clicking
    counts for view only. 100 TB: one shuffle on user_id, then a
    scalar rollup. Same ANSI text on both engines."""
    register_views(spark, sf)
    return spark.sql(_QR50_BODY.replace("{IDIV}", "DIV") + "FROM steps")


# -- qr51: last-touch attribution (latest qualifying event before conversion) -----

_QR51_BODY = """
WITH purchases AS (
  SELECT user_id, event_id AS purchase_id, ts AS p_ts
  FROM events WHERE event_type = 'purchase'),
touches AS (
  SELECT user_id, event_id AS touch_id, event_type AS channel, ts AS t_ts
  FROM events WHERE event_type IN ('click', 'view')),
joined AS (
  SELECT p.purchase_id, p.user_id, t.touch_id, t.channel,
         ROW_NUMBER() OVER (
             PARTITION BY p.purchase_id
             ORDER BY t.t_ts DESC, t.touch_id DESC) AS rk
  FROM purchases p
  JOIN touches t
    ON t.user_id = p.user_id AND t.t_ts < p.p_ts)
SELECT j.purchase_id, j.user_id,
       j.touch_id AS attributed_touch,
       j.channel AS attributed_channel
FROM joined j WHERE j.rk = 1
"""


@q("qr51_last_touch_attribution", _QR51_BODY)
def qr51(spark: SparkSession, sf: str) -> DataFrame:
    """Last-touch attribution — for every conversion, the LATEST
    qualifying touch (click/view) strictly before it: the revenue-
    reporting query every event warehouse runs nightly. Shape: one
    hash join on user_id (both sides pre-filtered map-side to their
    event classes) + a window PARTITIONED BY purchase (bounded key —
    a user's touches per purchase, never a global sort); the strict
    ``t_ts < p_ts`` guard makes same-timestamp self-attribution
    impossible, and the (ts DESC, touch_id DESC) tie-break keeps the
    pick deterministic cross-engine. Purchases with no prior touch
    drop out (inner join) — the unattributed set is the qr06 anti-join
    complement. 100 TB: the user_id join key is uniform; the window
    runs over per-purchase candidate lists only. Same ANSI text on
    both engines."""
    register_views(spark, sf)
    return spark.sql(_QR51_BODY)


# -- qr52: median absolute deviation (robust spread, integer-exact) ---------------

_QR52_BODY = """
WITH ranked AS (
  SELECT source, n_chars,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY n_chars, doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY source) AS n
  FROM documents),
med AS (
  SELECT source, CAST(SUM(n_chars) AS BIGINT) AS med2
  FROM ranked
  WHERE rn IN ((n + 1) {IDIV} 2, (n + 2) {IDIV} 2)
  GROUP BY source),
dev AS (
  SELECT d.source, ABS(2 * d.n_chars - m.med2) AS dev2, d.doc_id
  FROM documents d JOIN med m ON d.source = m.source),
dranked AS (
  SELECT source, dev2,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY dev2, doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY source) AS n
  FROM dev)
SELECT d.source,
       m.med2,
       CAST(SUM(d.dev2) AS BIGINT) AS mad4
FROM dranked d JOIN med m ON d.source = m.source
WHERE d.rn IN ((d.n + 1) {IDIV} 2, (d.n + 2) {IDIV} 2)
GROUP BY d.source, m.med2
"""


@q("qr52_mad_robust_spread", _QR52_BODY.replace("{IDIV}", "//"))
def qr52(spark: SparkSession, sf: str) -> DataFrame:
    """Median absolute deviation — the robust spread statistic quality
    monitoring wants when outliers poison stddev (one 100 MB page
    moves a variance, not a MAD): median per group via the qr27
    midrank-sum trick KEPT INTEGER by working at 2x scale (med2 = sum
    of the two middle ranks = 2*median for any parity), deviations at
    2x feed a second midrank pass, so mad4 = 4*MAD exactly — no .5
    anywhere, both engines agree bit-for-bit. Shape: two windowed
    rank passes partitioned by source (bounded key) + one broadcast-
    size join of per-source medians back to the data. 100 TB: each
    pass is one shuffle on source; the med table is |sources| rows.
    Same ANSI text on both engines."""
    register_views(spark, sf)
    return spark.sql(_QR52_BODY.replace("{IDIV}", "DIV"))


# -- qr53: NULL ordering portability (explicit NULLS FIRST/LAST) ------------------

_QR53_BODY = """
WITH src AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 11 = 0 THEN NULL
              ELSE o_totalprice END AS p
  FROM orders WHERE o_orderkey < 200),
r AS (
  SELECT o_orderkey,
         ROW_NUMBER() OVER (ORDER BY p ASC NULLS FIRST, o_orderkey)
             AS rk_nf,
         ROW_NUMBER() OVER (ORDER BY p DESC NULLS LAST, o_orderkey)
             AS rk_nl,
         (p IS NULL) AS is_null
  FROM src)
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN is_null THEN rk_nf ELSE 0 END) AS BIGINT)
           AS null_rank_sum_nf,
       CAST(SUM(CASE WHEN is_null THEN rk_nl ELSE 0 END) AS BIGINT)
           AS null_rank_sum_nl,
       CAST(MAX(CASE WHEN is_null THEN rk_nf END) AS BIGINT)
           AS max_null_rank_nf,
       CAST(MIN(CASE WHEN is_null THEN rk_nl END) AS BIGINT)
           AS min_null_rank_nl
FROM r
"""


@q("qr53_null_ordering", _QR53_BODY)
def qr53(spark: SparkSession, sf: str) -> DataFrame:
    """Explicit NULLS FIRST/LAST ordering — the silent cross-engine
    trap BESIDE qr48's NOT IN: the engines' DEFAULTS differ (Spark
    sorts NULLs first on ASC, DuckDB last), so any ranking over a
    nullable key that omits the NULLS clause produces different row
    orders on different engines while both look "correct". Every
    ORDER BY here spells the placement explicitly, and the checksum
    columns (rank sums and extremes of the NULL rows under both
    placements) certify the engines agree exactly when — and only
    when — the clause is explicit: with k NULLs of n rows, NULLS
    FIRST must put them at ranks 1..k and NULLS LAST at n-k+1..n,
    which the sums pin. The window is bounded here (200 keys); at
    scale a global ranking becomes qr38's two-phase form. Same ANSI
    text on both engines."""
    register_views(spark, sf)
    return spark.sql(_QR53_BODY)


# -- qr54: calendar spine (empty periods preserved) -------------------------------

_QR54_BODY = """
WITH bounds AS (
  SELECT CAST(MIN(o_orderdate) AS DATE) AS lo,
         CAST(MAX(o_orderdate) AS DATE) AS hi
  FROM orders),
spine AS (
  SELECT CAST(ms AS DATE) AS month_start
  FROM (SELECT {GENSERIES} AS ms FROM bounds)),
m AS (
  SELECT CAST(DATE_TRUNC('month', o_orderdate) AS DATE) AS month_start,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers
  FROM orders WHERE o_orderkey % 97 = 0 GROUP BY 1)
SELECT s.month_start,
       COALESCE(m.n_orders, 0) AS n_orders,
       COALESCE(m.n_customers, 0) AS n_customers,
       (m.month_start IS NULL) AS is_empty_month
FROM spine s LEFT JOIN m ON m.month_start = s.month_start
"""


@q(
    "qr54_calendar_spine",
    _QR54_BODY.replace(
        "{GENSERIES}",
        "unnest(generate_series(DATE_TRUNC('month', lo), hi,"
        " INTERVAL 1 MONTH))",
    ),
)
def qr54(spark: SparkSession, sf: str) -> DataFrame:
    """Calendar spine — the warehouse pattern that makes ABSENCE
    visible: a plain GROUP BY month silently omits months with zero
    orders, so trend charts interpolate over gaps and anomaly
    detectors never see the outage. The spine generates every month
    between the data's bounds (sequence/generate_series — no calendar
    table to maintain) and LEFT JOINs the aggregate onto it, so empty
    periods surface as explicit zero rows with an ``is_empty_month``
    flag. The aggregate side is a sparse event class (every 97th
    order) so BOTH populations — active and empty months — exist at
    every test scale; the spine bounds still come from the full
    table. 100 TB: the spine is |months| rows (broadcast side); the
    aggregate is one groupBy with map-side partials; monthly keys are
    bounded. Cross-engine: Spark spells the spine explode(sequence),
    DuckDB unnest(generate_series) — an independently-shaped
    construction of the same set, per the qt05 stronger-oracle rule."""
    register_views(spark, sf)
    return spark.sql(
        _QR54_BODY.replace(
            "{GENSERIES}",
            "explode(sequence(DATE_TRUNC('month', lo), hi,"
            " INTERVAL 1 MONTH))",
        )
    )


# -- qr55: GROUPING() disambiguation (rollup NULL vs data NULL) -------------------

_QR55_BODY = """
WITH src AS (
  SELECT CASE WHEN o_orderkey % 13 = 0 THEN NULL
              ELSE o_orderpriority END AS prio,
         o_totalprice
  FROM orders)
SELECT prio,
       CAST(GROUPING(prio) AS INTEGER) AS is_subtotal,
       CAST(COUNT(*) AS BIGINT) AS n_orders
FROM src
GROUP BY ROLLUP(prio)
"""


@q("qr55_grouping_disambiguation", _QR55_BODY)
def qr55(spark: SparkSession, sf: str) -> DataFrame:
    """GROUPING() vs data NULLs — the rollup report trap that qr10
    leaves open: ROLLUP's subtotal rows surface the grouped column as
    NULL, which is INDISTINGUISHABLE from a genuine NULL group by
    value alone — a report keyed on ``prio IS NULL`` silently merges
    "unprioritized orders" with "grand total". GROUPING(prio) is the
    standard's disambiguator (1 = subtotal row, 0 = real group,
    including the real-NULL group). The fixture nulls every 13th
    order's priority so BOTH null-looking rows exist, and the counts
    pin them apart (the grand total = sum of all real groups, the
    NULL group strictly smaller). 100 TB: rollup is one partial-agg
    pass; |groups| is bounded. Same ANSI text on both engines."""
    register_views(spark, sf)
    return spark.sql(_QR55_BODY)


# -- qr56: time-weighted average (irregular-interval TWAP) ------------------------

_QR56_BODY = """
WITH e AS (
  SELECT user_id,
         {EPOCH} AS t,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events),
iv AS (
  SELECT user_id, cents,
         LEAD(t) OVER (PARTITION BY user_id ORDER BY t, cents) - t
             AS dur
  FROM e)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_intervals,
       CAST(SUM(dur) AS BIGINT) AS total_dur_s,
       CAST(SUM(cents * dur) {IDIV} SUM(dur) AS BIGINT) AS twa_cents
FROM iv
WHERE dur IS NOT NULL AND dur > 0
GROUP BY user_id
"""


@q(
    "qr56_time_weighted_avg",
    _QR56_BODY.replace("{EPOCH}", "CAST(floor(epoch(ts)) AS BIGINT)")
    .replace("{IDIV}", "//"),
)
def qr56(spark: SparkSession, sf: str) -> DataFrame:
    """Time-weighted average over an IRREGULAR series — the metric a
    plain AVG gets wrong whenever sampling is event-driven (a price
    that sat at 100 for an hour and spiked to 900 for a second
    averages near 100, not 500): each observation is weighted by its
    holding duration (LEAD to the next event), the TWAP/billing-meter
    formula. Engine-exact: timestamps truncate to whole epoch seconds
    on both engines (Spark unix_timestamp vs DuckDB floor(epoch)),
    values fix-point to cents with an EXPLICIT floor(x*100+0.5)
    (Spark's double->BIGINT cast truncates but DuckDB's rounds —
    the implicit cast diverges by one ulp exactly where value*100
    lands epsilon above an integer), and the weighted mean is
    one integer divide. Zero-duration pairs are excluded on both
    sides. 100 TB: one shuffle on user_id for the LEAD window, then
    map-side-combined aggregation on the same key — no join. Same
    shape both engines."""
    register_views(spark, sf)
    return spark.sql(
        _QR56_BODY.replace("{EPOCH}", "unix_timestamp(ts)")
        .replace("{IDIV}", "DIV")
    )


# -- qr57: running distinct count (the windowed COUNT DISTINCT workaround) --------

_QR57_BODY = """
WITH days AS (
  SELECT o_custkey,
         CAST(DATE_TRUNC('month', o_orderdate) AS DATE) AS m
  FROM orders),
firsts AS (
  SELECT m, o_custkey,
         ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY m) AS rn
  FROM (SELECT DISTINCT m, o_custkey FROM days)),
monthly AS (
  SELECT m,
         CAST(COUNT(*) AS BIGINT) AS n_active,
         CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_new
  FROM firsts GROUP BY m)
SELECT m AS month_start, n_active, n_new,
       CAST(SUM(n_new) OVER (ORDER BY m) AS BIGINT)
           AS cumulative_distinct
FROM monthly
"""


@q("qr57_running_distinct", _QR57_BODY)
def qr57(spark: SparkSession, sf: str) -> DataFrame:
    """Running DISTINCT count — monthly active vs cumulative-ever
    customers, the growth-dashboard staple that the naive spelling
    ``COUNT(DISTINCT x) OVER (ORDER BY t)`` cannot express (both
    engines reject DISTINCT in a running frame). The portable
    pattern: mark each key's FIRST period (ROW_NUMBER per key over
    its distinct periods), then the cumulative distinct count is a
    running SUM of first-appearance flags — turning an un-windowable
    distinct into an additive measure (same first-seen trick as
    qt83's saturation curve, here per entity). 100 TB: the dedup
    groupBy and the per-key window both shuffle on o_custkey; the
    final running sum orders |months| rows. Same ANSI text on both
    engines."""
    register_views(spark, sf)
    return spark.sql(_QR57_BODY)


# --- qr58: weekly cohort retention matrix --------------------------------------
#
# The canonical product-analytics rollup missing from the funnel/
# attribution tier (qr50/qr51): users grouped by FIRST-event week
# (their cohort), then distinct-user counts at each whole-week offset,
# with retention as a permille of the offset-0 cohort size. Scale
# shape: one groupBy(user) for the cohort assignment (broadcastable —
# distinct users << events), one distinct over (cohort, week, user)
# partials, one aggregation; the offset-0 join is vs the tiny cohort
# dimension. Integer outputs only; week = date_trunc Monday in both
# engines, offsets by whole-day difference DIV 7 (exact on truncated
# dates).

_QR58_SPARK = """
WITH firsts AS (
  SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
  FROM events GROUP BY user_id
),
act AS (
  SELECT DISTINCT e.user_id, f.cohort_week,
         CAST(date_trunc('week', e.ts) AS DATE) AS w
  FROM events e JOIN firsts f ON e.user_id = f.user_id
),
counts AS (
  SELECT cohort_week, datediff(w, cohort_week) DIV 7 AS offset_weeks,
         COUNT(DISTINCT user_id) AS n_users
  FROM act GROUP BY cohort_week, datediff(w, cohort_week) DIV 7
),
base AS (
  SELECT cohort_week, n_users AS cohort_size FROM counts
  WHERE offset_weeks = 0
)
SELECT c.cohort_week,
       CAST(c.offset_weeks AS INT) AS offset_weeks,
       CAST(c.n_users AS BIGINT) AS n_users,
       CAST(b.cohort_size AS BIGINT) AS cohort_size,
       CAST(1000 * c.n_users DIV b.cohort_size AS BIGINT)
           AS retention_permille
FROM counts c JOIN base b ON c.cohort_week = b.cohort_week
"""

_QR58_DUCK = """
WITH firsts AS (
  SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
  FROM events GROUP BY user_id
),
act AS (
  SELECT DISTINCT e.user_id, f.cohort_week,
         CAST(date_trunc('week', e.ts) AS DATE) AS w
  FROM events e JOIN firsts f ON e.user_id = f.user_id
),
counts AS (
  SELECT cohort_week, date_diff('day', cohort_week, w) // 7 AS offset_weeks,
         COUNT(DISTINCT user_id) AS n_users
  FROM act GROUP BY cohort_week, date_diff('day', cohort_week, w) // 7
),
base AS (
  SELECT cohort_week, n_users AS cohort_size FROM counts
  WHERE offset_weeks = 0
)
SELECT c.cohort_week,
       CAST(c.offset_weeks AS INT) AS offset_weeks,
       CAST(c.n_users AS BIGINT) AS n_users,
       CAST(b.cohort_size AS BIGINT) AS cohort_size,
       CAST(1000 * c.n_users // b.cohort_size AS BIGINT)
           AS retention_permille
FROM counts c JOIN base b ON c.cohort_week = b.cohort_week
"""


def _qr58(spark: SparkSession, sf: str) -> DataFrame:
    register_views(spark, sf)
    return spark.sql(_QR58_SPARK)


QUERIES["qr58_cohort_retention"] = _qr58
ORACLE["qr58_cohort_retention"] = _QR58_DUCK
