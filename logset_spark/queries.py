"""Driver-harness query registry: SURVEY.md §2 operator coverage.

Each entry is (spark_builder, oracle_sql).  The builder takes
(spark, sf_dir) and returns a DataFrame; the SQL is ANSI SQL DuckDB runs
over the same parquet (views: region nation customer supplier part orders
lineitem events documents embeddings).  Column names are aliased
identically on both sides — the driver sorts columns by name and
value-hashes, so names AND values must agree.

Determinism rules used throughout:
* money/double sums go through DECIMAL(18,2|4) so the sum is exact and
  order-independent, then cast back to double;
* any rounding happens on both sides with the same digits;
* every top-k/window ordering carries a unique tie-break key.

Entries whose semantics cannot be reproduced by DuckDB (approx HLL
sketches, MinHash/SimHash signatures) have oracle_sql=None -> the driver
records a weaker rows-only check.
"""

from __future__ import annotations

import datetime
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

# --------------------------------------------------------------------------
# helpers
# --------------------------------------------------------------------------


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _dec(col, scale: int = 2):
    """Exact-sum staging: double -> decimal so aggregation order can't
    change the result (doubles in these tables carry <= `scale` decimals)."""
    return col.cast(f"decimal(18,{scale})")


def _dsum(col, scale: int = 2):
    return F.sum(_dec(col, scale)).cast("double")


# --------------------------------------------------------------------------
# relational core (SURVEY §2.1-2.8)
# --------------------------------------------------------------------------


def q_scan(spark, sf):
    return _t(spark, sf, "region").select("r_regionkey", "r_name")


SQL_SCAN = "SELECT r_regionkey, r_name FROM region"


def q_project(spark, sf):
    li = _t(spark, sf, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(_dec(F.col("l_extendedprice")) * (1 - _dec(F.col("l_discount"))), 2)
        .cast("double")
        .alias("revenue"),
    )


SQL_PROJECT = """
SELECT l_orderkey, l_linenumber,
       CAST(round(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue
FROM lineitem
"""


def q_filter(spark, sf):
    o = _t(spark, sf, "orders")
    return o.where(
        (F.col("o_orderstatus") == "F")
        & (F.col("o_totalprice") > 100000)
        & (F.col("o_orderdate") >= F.lit("1995-06-01").cast("timestamp"))
    ).select("o_orderkey", "o_totalprice")


SQL_FILTER = """
SELECT o_orderkey, o_totalprice FROM orders
WHERE o_orderstatus = 'F' AND o_totalprice > 100000
  AND o_orderdate >= TIMESTAMP '1995-06-01'
"""


def q_regex(spark, sf):
    c = _t(spark, sf, "customer")
    return c.where(F.col("c_name").rlike("[13579]$")).select(
        "c_custkey", F.regexp_extract("c_name", "([0-9]+)", 1).alias("cnum")
    )


SQL_REGEX = """
SELECT c_custkey, regexp_extract(c_name, '([0-9]+)', 1) AS cnum
FROM customer WHERE regexp_matches(c_name, '[13579]$')
"""


def q_null(spark, sf):
    o = _t(spark, sf, "orders")
    return o.select(
        "o_orderkey",
        F.coalesce(F.nullif(F.col("o_orderstatus"), F.lit("O")), F.lit("OPEN")).alias(
            "status_or_open"
        ),
        F.when(F.col("o_totalprice") > 200000, F.col("o_totalprice")).alias(
            "big_price"
        ),
    )


SQL_NULL = """
SELECT o_orderkey,
       coalesce(nullif(o_orderstatus, 'O'), 'OPEN') AS status_or_open,
       CASE WHEN o_totalprice > 200000 THEN o_totalprice END AS big_price
FROM orders
"""


def q_timerange(spark, sf):
    e = _t(spark, sf, "events")
    lo, hi = "2024-01-10 00:00:00", "2024-01-12 00:00:00"
    return (
        e.where((F.col("ts") >= lo) & (F.col("ts") < hi))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
        )
    )


SQL_TIMERANGE = """
SELECT event_type, count(*) AS n, min(ts) AS first_ts, max(ts) AS last_ts
FROM events
WHERE ts >= TIMESTAMP '2024-01-10' AND ts < TIMESTAMP '2024-01-12'
GROUP BY event_type
"""


def q_json(spark, sf):
    e = _t(spark, sf, "events")
    return (
        e.select(
            "event_type",
            F.get_json_object("props", "$.k").cast("int").alias("k"),
        )
        .groupBy("event_type")
        .agg(
            F.count("k").alias("n_k"),
            F.round(F.avg("k"), 4).alias("avg_k"),
            F.max("k").alias("max_k"),
        )
    )


SQL_JSON = """
SELECT event_type, count(k) AS n_k, round(avg(k), 4) AS avg_k, max(k) AS max_k
FROM (SELECT event_type, CAST(props->>'$.k' AS INT) AS k FROM events) t
GROUP BY event_type
"""


def q_agg(spark, sf):
    li = _t(spark, sf, "lineitem")
    disc = _dec(F.col("l_extendedprice")) * (1 - _dec(F.col("l_discount")))
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dsum(F.col("l_quantity")).alias("sum_qty"),
            _dsum(F.col("l_extendedprice")).alias("sum_base_price"),
            F.sum(disc).cast("double").alias("sum_disc_price"),
            F.round(F.avg(_dec(F.col("l_quantity"))), 4).cast("double").alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
    )


SQL_AGG = """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
       CAST(round(avg(CAST(l_quantity AS DECIMAL(18,2))), 4) AS DOUBLE) AS avg_qty,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q_distinct(spark, sf):
    o = _t(spark, sf, "orders")
    return o.select("o_custkey", "o_orderstatus").distinct()


SQL_DISTINCT = "SELECT DISTINCT o_custkey, o_orderstatus FROM orders"


def q_approx(spark, sf):
    # HLL sketch: values are Spark-specific -> rows-only driver check.
    li = _t(spark, sf, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey").alias("approx_parts"),
        F.approx_count_distinct("l_orderkey").alias("approx_orders"),
    )


def q_collect(spark, sf):
    n, r = _t(spark, sf, "nation"), _t(spark, sf, "region")
    return (
        n.join(r, n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("nations")
        )
    )


SQL_COLLECT = """
SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS nations
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""


def q_rollup(spark, sf):
    li = _t(spark, sf, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n"),
            _dsum(F.col("l_quantity")).alias("sum_qty"),
            F.grouping_id().cast("int").alias("gid"),
        )
    )


SQL_ROLLUP = """
SELECT l_returnflag, l_linestatus, count(*) AS n,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS INT) AS gid
FROM lineitem
GROUP BY ROLLUP(l_returnflag, l_linestatus)
"""


def q_percentile(spark, sf):
    """A-family exact percentiles: Spark `percentile` and DuckDB
    `quantile_cont` share the definition (linear interpolation at rank
    (n-1)*p), so the values agree exactly; round(4) absorbs the last-ulp
    noise of the interpolation arithmetic."""
    li = _t(spark, sf, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.round(F.percentile("l_quantity", F.lit(0.5)), 4).alias("p50_qty"),
        F.round(F.percentile("l_quantity", F.lit(0.95)), 4).alias("p95_qty"),
        F.round(F.percentile("l_extendedprice", F.lit(0.99)), 4).alias("p99_price"),
    )


SQL_PERCENTILE = """
SELECT l_returnflag, count(*) AS n,
       round(quantile_cont(l_quantity, 0.5), 4) AS p50_qty,
       round(quantile_cont(l_quantity, 0.95), 4) AS p95_qty,
       round(quantile_cont(l_extendedprice, 0.99), 4) AS p99_price
FROM lineitem GROUP BY l_returnflag
"""

# ---- windows ---------------------------------------------------------------


def q_rownum(spark, sf):
    o = _t(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .where("rn = 1")
        .select("o_custkey", "o_orderkey", "o_totalprice")
    )


SQL_ROWNUM = """
SELECT o_custkey, o_orderkey, o_totalprice FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders) t
WHERE rn = 1
"""


def q_rank(spark, sf):
    s = _t(spark, sf, "supplier")
    w = Window.partitionBy("s_nationkey").orderBy(F.desc("s_acctbal"))
    return s.select(
        "s_suppkey", "s_nationkey", "s_acctbal",
        F.dense_rank().over(w).cast("long").alias("bal_rank"),
    )


SQL_RANK = """
SELECT s_suppkey, s_nationkey, s_acctbal,
       dense_rank() OVER (PARTITION BY s_nationkey ORDER BY s_acctbal DESC) AS bal_rank
FROM supplier
"""


def q_ntile(spark, sf):
    """W-family distribution windows: ntile / percent_rank / cume_dist.
    The ordering carries the unique event_id tie-break so all three are
    total functions of the input — no ambiguity for the value hash."""
    e = _t(spark, sf, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    return e.select(
        "event_id", "event_type",
        F.ntile(4).over(w).cast("int").alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


SQL_NTILE = """
SELECT event_id, event_type,
       CAST(ntile(4) OVER w AS INT) AS quartile,
       round(percent_rank() OVER w, 6) AS pct_rank,
       round(cume_dist() OVER w, 6) AS cume
FROM events
WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
"""


def q_lag(spark, sf):
    e = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    return e.select(
        "event_id", "user_id", "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
        F.lead("event_type").over(w).alias("next_type"),
    )


SQL_LAG = """
SELECT event_id, user_id, event_type,
       lag(event_type)  OVER (PARTITION BY user_id ORDER BY ts) AS prev_type,
       lead(event_type) OVER (PARTITION BY user_id ORDER BY ts) AS next_type
FROM events
"""


def q_runsum(spark, sf):
    e = _t(spark, sf, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return e.select(
        "event_id", "user_id",
        F.sum(_dec(F.col("value"))).over(w).cast("double").alias("run_value"),
        F.count("*").over(w).alias("run_n"),
    )


SQL_RUNSUM = """
SELECT event_id, user_id,
       CAST(sum(CAST(value AS DECIMAL(18,2)))
            OVER (PARTITION BY user_id ORDER BY ts
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS run_value,
       count(*) OVER (PARTITION BY user_id ORDER BY ts
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_n
FROM events
"""

SESSION_GAP_US = 1800 * 1_000_000


def q_session(spark, sf):
    e = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    flagged = e.select(
        "user_id",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.unix_micros(F.col("ts").cast("timestamp"))
                - F.unix_micros(F.lag("ts").over(w).cast("timestamp"))
                > SESSION_GAP_US
            ),
            1,
        )
        .otherwise(0)
        .alias("new_sess"),
    )
    return flagged.groupBy("user_id").agg(
        F.sum("new_sess").alias("n_sessions"), F.count("*").alias("n_events")
    )


SQL_SESSION = f"""
SELECT user_id, CAST(sum(new_sess) AS BIGINT) AS n_sessions,
       count(*) AS n_events FROM (
  SELECT user_id,
         CASE WHEN prev_ts IS NULL
                   OR epoch_us(ts) - epoch_us(prev_ts) > {SESSION_GAP_US}
              THEN 1 ELSE 0 END AS new_sess
  FROM (SELECT user_id, ts,
               lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
        FROM events) t) s
GROUP BY user_id
"""

WINDOW_US = 6 * 3600 * 1_000_000


def q_window(spark, sf):
    e = _t(spark, sf, "events")
    return (
        e.groupBy(F.window("ts", "6 hours").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), _dsum(F.col("value")).alias("total_value"))
        .select(
            F.col("w.start").alias("win_start"), "event_type", "n", "total_value"
        )
    )


SQL_WINDOW = f"""
SELECT make_timestamp((epoch_us(ts) // {WINDOW_US}) * {WINDOW_US}) AS win_start,
       event_type, count(*) AS n,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2
"""


_SLIDE_US = WINDOW_US // 2  # 3h slide under the 6h window -> 2 windows/event


def q_window_sliding(spark, sf):
    """X2 SLIDING time windows (6h window, 3h slide): every event lands in
    exactly windowDuration/slide = 2 overlapping windows.  The oracle
    replays Spark's epoch-aligned window assignment: the two candidate
    starts are floor(ts/slide)*slide - k*slide for k in {0,1}, both of
    which satisfy start <= ts < start + 6h."""
    e = _t(spark, sf, "events")
    return (
        e.groupBy(F.window("ts", "6 hours", "3 hours").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), _dsum(F.col("value")).alias("total_value"))
        .select(
            F.col("w.start").alias("win_start"), "event_type", "n", "total_value"
        )
    )


SQL_WINDOW_SLIDING = f"""
SELECT make_timestamp(((epoch_us(ts) // {_SLIDE_US}) - k) * {_SLIDE_US})
         AS win_start,
       event_type, count(*) AS n,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events, UNNEST(range(2)) AS t(k)
GROUP BY 1, 2
"""


def q_topk(spark, sf):
    li, p = _t(spark, sf, "lineitem"), _t(spark, sf, "part")
    agg = li.groupBy("l_partkey").agg(_dsum(F.col("l_quantity")).alias("total_qty"))
    return (
        agg.join(F.broadcast(p), agg.l_partkey == p.p_partkey)
        .select("p_partkey", "p_name", "total_qty")
        .orderBy(F.desc("total_qty"), F.asc("p_partkey"))
        .limit(10)
    )


SQL_TOPK = """
SELECT p_partkey, p_name, total_qty FROM (
  SELECT l_partkey, CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
  FROM lineitem GROUP BY l_partkey) a
JOIN part ON l_partkey = p_partkey
ORDER BY total_qty DESC, p_partkey LIMIT 10
"""

# ---- set ops ----------------------------------------------------------------


def q_union(spark, sf):
    c = _t(spark, sf, "customer").select(
        F.col("c_name").alias("name"), F.lit("customer").alias("kind")
    )
    s = _t(spark, sf, "supplier").select(
        F.col("s_name").alias("name"), F.lit("supplier").alias("kind")
    )
    return c.unionByName(s)


SQL_UNION = """
SELECT c_name AS name, 'customer' AS kind FROM customer
UNION ALL
SELECT s_name AS name, 'supplier' AS kind FROM supplier
"""


def q_except(spark, sf):
    o = _t(spark, sf, "orders").select(F.col("o_orderkey").alias("k"))
    li = _t(spark, sf, "lineitem").select(F.col("l_orderkey").alias("k"))
    return o.subtract(li)


SQL_EXCEPT = """
SELECT o_orderkey AS k FROM orders
EXCEPT
SELECT l_orderkey AS k FROM lineitem
"""


def q_semi(spark, sf):
    c, o = _t(spark, sf, "customer"), _t(spark, sf, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_active"))
    )


SQL_SEMI = """
SELECT c_mktsegment, count(*) AS n_active FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY c_mktsegment
"""


def q_anti(spark, sf):
    o, li = _t(spark, sf, "orders"), _t(spark, sf, "lineitem")
    return o.join(li, o.o_orderkey == li.l_orderkey, "left_anti").select(
        "o_orderkey", "o_orderstatus"
    )


SQL_ANTI = """
SELECT o_orderkey, o_orderstatus FROM orders
WHERE NOT EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
"""

# ---- joins -------------------------------------------------------------------


def q_join_broadcast(spark, sf):
    li, p = _t(spark, sf, "lineitem"), _t(spark, sf, "part")
    disc = _dec(F.col("l_extendedprice")) * (1 - _dec(F.col("l_discount")))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(F.sum(disc).cast("double").alias("revenue"), F.count("*").alias("n"))
    )


SQL_JOIN_BROADCAST = """
SELECT p_brand,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
       count(*) AS n
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
"""


def q_join_smj(spark, sf):
    o, c = _t(spark, sf, "orders"), _t(spark, sf, "customer")
    return (
        o.join(c.hint("merge"), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            _dsum(F.col("o_totalprice")).alias("total"),
        )
    )


SQL_JOIN_SMJ = """
SELECT c_mktsegment, count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


def q_join_left(spark, sf):
    n, c = _t(spark, sf, "nation"), _t(spark, sf, "customer")
    return (
        n.join(c, n.n_nationkey == c.c_nationkey, "left")
        .groupBy("n_name")
        .agg(F.count("c_custkey").alias("n_customers"))
    )


SQL_JOIN_LEFT = """
SELECT n_name, count(c_custkey) AS n_customers
FROM nation LEFT JOIN customer ON n_nationkey = c_nationkey
GROUP BY n_name
"""


def q_join_range(spark, sf):
    e = _t(spark, sf, "events")
    err = e.where(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_id"), F.col("user_id").alias("u"),
        F.col("ts").alias("err_ts"),
    )
    pur = e.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("u"), F.col("ts").alias("p_ts")
    )
    joined = err.join(
        pur,
        (err.u == pur.u)
        & (pur.p_ts >= err.err_ts)
        & (pur.p_ts < err.err_ts + F.expr("INTERVAL 1 HOUR")),
        "left",
    )
    return joined.groupBy("err_id").agg(F.count("p_ts").alias("n_purchases_1h"))


SQL_JOIN_RANGE = """
SELECT err_id, count(p_ts) AS n_purchases_1h FROM (
  SELECT e.event_id AS err_id, p.ts AS p_ts
  FROM events e LEFT JOIN events p
    ON p.user_id = e.user_id AND p.event_type = 'purchase'
   AND p.ts >= e.ts AND p.ts < e.ts + INTERVAL 1 HOUR
  WHERE e.event_type = 'error') t
GROUP BY err_id
"""


def q_asof(spark, sf):
    """As-of join: for each purchase, the latest signup at-or-before it by
    the same user.  Spark has no native as-of join -> union + last(ignore
    nulls) window idiom (signups sort before purchases at equal ts)."""
    e = _t(spark, sf, "events")
    sig = e.where(F.col("event_type") == "signup").select(
        F.lit(None).cast("long").alias("event_id"), "user_id", "ts",
        F.lit(0).alias("k"), F.col("ts").alias("sig_ts"),
    )
    pur = e.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", F.lit(1).alias("k"),
        F.lit(None).cast("timestamp").alias("sig_ts"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "k")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        sig.unionByName(pur)
        .withColumn("last_signup_ts", F.last("sig_ts", ignorenulls=True).over(w))
        .where("k = 1")
        .select("event_id", "user_id", "ts", "last_signup_ts")
    )


SQL_ASOF = """
SELECT p.event_id, p.user_id, p.ts, s.ts AS last_signup_ts
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') s
  ON p.user_id = s.user_id AND p.ts >= s.ts
"""


def q_cross(spark, sf):
    r = _t(spark, sf, "region").select("r_name")
    st = _t(spark, sf, "orders").select("o_orderstatus").distinct()
    return r.crossJoin(st)


SQL_CROSS = """
SELECT r_name, o_orderstatus
FROM region CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders) t
"""


def q_pivot(spark, sf):
    o = _t(spark, sf, "orders")
    out = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.count(F.lit(1)))
        .na.fill(0, ["O", "F", "P"])
    )
    return out


SQL_PIVOT = """
SELECT o_orderpriority,
       count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS "O",
       count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS "F",
       count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS "P"
FROM orders GROUP BY o_orderpriority
"""

def q_unpivot(spark, sf):
    """melt/unpivot — the inverse of q_pivot via the native
    DataFrame.unpivot operator (wide part-size columns -> long rows;
    a Generate in the plan, no shuffle at all)."""
    p = _t(spark, sf, "part")
    wide = p.select(
        "p_partkey",
        F.col("p_size").alias("size_raw"),
        (F.col("p_size") * 2).alias("size_doubled"),
    )
    return wide.unpivot(
        "p_partkey", ["size_raw", "size_doubled"], "measure", "val"
    )


SQL_UNPIVOT = """
SELECT p_partkey, 'size_raw' AS measure, p_size AS val FROM part
UNION ALL
SELECT p_partkey, 'size_doubled', p_size * 2 FROM part
"""


# --------------------------------------------------------------------------
# KG construction over driver testdata (flagship family)
#
# A transcript table is derived *deterministically* from `events`:
#   conv_id  = 'u' || user_id          (a user's event stream = a conversation)
#   turn_idx = row_number per user ordered by ts (dense from 0; ts unique/user)
#   role     = user/assistant/tool mapping of event_type
#   tool     = event_type when the turn is a tool turn
#   text     = props JSON payload
# so the KG pipeline's structural extraction is exercised on driver data AND
# stays SQL-expressible for the DuckDB oracle.
# --------------------------------------------------------------------------

_ROLE_CASE = """
CASE WHEN event_type IN ('error','purchase') THEN 'tool'
     WHEN event_type = 'signup' THEN 'system'
     WHEN event_type = 'click' THEN 'user'
     ELSE 'assistant' END
"""


def derived_transcripts(spark, sf) -> DataFrame:
    e = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    role = (
        F.when(F.col("event_type").isin("error", "purchase"), "tool")
        .when(F.col("event_type") == "signup", "system")
        .when(F.col("event_type") == "click", "user")
        .otherwise("assistant")
    )
    return e.select(
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("conv_id"),
        (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
        role.alias("role"),
        F.col("props").alias("text"),
        F.when(role == "tool", F.col("event_type")).alias("tool"),
        "ts",
    )


_SQL_TRANSCRIPTS = f"""
  SELECT 'u' || CAST(user_id AS VARCHAR) AS conv_id,
         CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts) - 1 AS INT) AS turn_idx,
         {_ROLE_CASE} AS role,
         props AS text,
         CASE WHEN {_ROLE_CASE} IN ('tool') THEN event_type END AS tool,
         ts
  FROM events
"""


def q_kg_structural(spark, sf):
    from .operators.extract import structural_triples

    tr = derived_transcripts(spark, sf)
    return structural_triples(tr).select("subj", "pred", "obj")


SQL_KG_STRUCTURAL = f"""
WITH t AS ({_SQL_TRANSCRIPTS}),
u AS (
  SELECT conv_id, turn_idx, role, tool, ts,
         'conv:' || conv_id AS conv_u,
         'turn:' || conv_id || '/' || CAST(turn_idx AS VARCHAR) AS turn_u,
         lead('turn:' || conv_id || '/' || CAST(turn_idx AS VARCHAR))
             OVER (PARTITION BY conv_id ORDER BY turn_idx) AS next_u
  FROM t)
SELECT conv_u AS subj, 'hasTurn' AS pred, turn_u AS obj FROM u
UNION ALL SELECT turn_u, 'partOf', conv_u FROM u
UNION ALL SELECT turn_u, 'hasRole', 'role:' || lower(trim(role)) FROM u
UNION ALL SELECT turn_u, 'atTime', strftime(ts, '%Y-%m-%dT%H:%M:%S') FROM u
UNION ALL SELECT turn_u, 'usedTool', 'tool:' || lower(trim(tool)) FROM u WHERE tool IS NOT NULL
UNION ALL SELECT turn_u, 'followedBy', next_u FROM u WHERE next_u IS NOT NULL
"""


def q_kg_stats(spark, sf):
    return (
        q_kg_structural(spark, sf)
        .groupBy("pred")
        .agg(
            F.count("*").alias("n"),
            F.count_distinct("subj").alias("n_subj"),
            F.count_distinct("obj").alias("n_obj"),
        )
    )


SQL_KG_STATS = f"""
SELECT pred, count(*) AS n, count(DISTINCT subj) AS n_subj,
       count(DISTINCT obj) AS n_obj
FROM ({SQL_KG_STRUCTURAL}) g
GROUP BY pred
"""


def q_kg_dedup(spark, sf):
    """Triple-set semantics (rdflib Graph is a set): distinct + global count."""
    from .operators.extract import structural_triples

    tr = derived_transcripts(spark, sf)
    tri = structural_triples(tr)
    return tri.select("subj", "pred", "obj").distinct().groupBy().agg(
        F.count("*").alias("n_distinct_triples")
    )


SQL_KG_DEDUP = f"""
SELECT count(*) AS n_distinct_triples
FROM (SELECT DISTINCT subj, pred, obj FROM ({SQL_KG_STRUCTURAL}) g) d
"""

# --------------------------------------------------------------------------
# training-data pipeline suite over documents / embeddings
# --------------------------------------------------------------------------

STOPWORDS = ("the", "a", "and", "of", "to", "in")
_STOP_SQL = "('" + "','".join(STOPWORDS) + "')"


def _tokens(col):
    return F.split(F.lower(col), " ")


def q_doc_stats(spark, sf):
    d = _t(spark, sf, "documents")
    toks = _tokens(F.col("text"))
    return d.select(
        "doc_id",
        F.md5("text").alias("fingerprint"),
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        F.length("text").alias("len_chars"),
    )


SQL_DOC_STATS = """
SELECT doc_id, md5(text) AS fingerprint,
       len(string_split(lower(text), ' ')) AS n_tokens,
       len(list_distinct(string_split(lower(text), ' '))) AS n_distinct_tokens,
       length(text) AS len_chars
FROM documents
"""


def q_doc_quality(spark, sf):
    """Quality scoring: type-token ratio, stopword ratio, mean token length
    -> a composite keep/drop flag (all native column math)."""
    d = _t(spark, sf, "documents")
    toks = _tokens(F.col("text"))
    n = F.size(toks)
    ttr = F.round(F.size(F.array_distinct(toks)) / n, 4)
    stop_n = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    stop_ratio = F.round(stop_n / n, 4)
    mean_len = F.round((F.length("text") - n + 1) / n, 4)
    return d.select(
        "doc_id",
        ttr.alias("type_token_ratio"),
        stop_ratio.alias("stopword_ratio"),
        mean_len.alias("mean_token_len"),
        ((n >= 20) & (ttr > 0.05)).alias("keep"),
    )


SQL_DOC_QUALITY = f"""
SELECT doc_id,
       round(len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE), 4) AS type_token_ratio,
       round(len(list_filter(toks, t -> t IN {_STOP_SQL})) / CAST(len(toks) AS DOUBLE), 4) AS stopword_ratio,
       round((length(text) - len(toks) + 1) / CAST(len(toks) AS DOUBLE), 4) AS mean_token_len,
       (len(toks) >= 20 AND len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE) > 0.05) AS keep
FROM (SELECT doc_id, text, string_split(lower(text), ' ') AS toks FROM documents) d
"""

_EN_MARKERS = ("the", "a", "value", "data", "order")
_EN_SQL = "('" + "','".join(_EN_MARKERS) + "')"


def q_lang_id(spark, sf):
    """n-gram/stopword language-ID heuristic: share of English marker
    tokens; predicts 'en' above threshold, 'und' otherwise."""
    d = _t(spark, sf, "documents")
    toks = _tokens(F.col("text"))
    ratio = F.round(
        F.size(F.filter(toks, lambda t: t.isin(*_EN_MARKERS))) / F.size(toks), 4
    )
    return d.select(
        "doc_id",
        "lang",
        ratio.alias("en_marker_ratio"),
        F.when(ratio >= 0.02, "en").otherwise("und").alias("pred_lang"),
    )


SQL_LANG_ID = f"""
SELECT doc_id, lang,
       round(len(list_filter(toks, t -> t IN {_EN_SQL})) / CAST(len(toks) AS DOUBLE), 4) AS en_marker_ratio,
       CASE WHEN round(len(list_filter(toks, t -> t IN {_EN_SQL})) / CAST(len(toks) AS DOUBLE), 4) >= 0.02
            THEN 'en' ELSE 'und' END AS pred_lang
FROM (SELECT doc_id, lang, string_split(lower(text), ' ') AS toks FROM documents) d
"""


def q_dedup_exact(spark, sf):
    """Exact dedup by content hash: per-hash group stats + kept doc."""
    d = _t(spark, sf, "documents")
    return (
        d.groupBy(F.md5("text").alias("fingerprint"))
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_copies"))
    )


SQL_DEDUP_EXACT = """
SELECT md5(text) AS fingerprint, min(doc_id) AS keep_doc_id, count(*) AS n_copies
FROM documents GROUP BY md5(text)
"""


def q_dedup_incremental(spark, sf):
    """Cross-corpus incremental dedup — the shape every recurring crawl
    pipeline needs: dedup the INCOMING batch against the EXISTING corpus
    (here: doc_id%3==0 plays the existing corpus, the rest the incoming
    batch), by content hash.  One left-anti join on md5(text): at 100 TB
    the existing side is a pre-materialized fingerprint table
    (fingerprint-bucketed, so the anti-join co-locates) — never a
    re-scan of old text.  Incoming batch also self-dedups (keep min
    doc_id per fingerprint) so the output is insertable as-is."""
    d = _t(spark, sf, "documents")
    existing = d.where(F.col("doc_id") % 3 == 0).select(
        F.md5("text").alias("fingerprint")
    ).distinct()
    incoming = d.where(F.col("doc_id") % 3 != 0).select(
        "doc_id", F.md5("text").alias("fingerprint")
    )
    fresh = incoming.join(existing, "fingerprint", "left_anti")
    return fresh.groupBy("fingerprint").agg(
        F.min("doc_id").alias("keep_doc_id"),
        F.count("*").alias("n_in_batch"),
    )


SQL_DEDUP_INCREMENTAL = """
WITH existing AS (
  SELECT DISTINCT md5(text) AS fingerprint FROM documents WHERE doc_id % 3 = 0),
incoming AS (
  SELECT doc_id, md5(text) AS fingerprint FROM documents WHERE doc_id % 3 <> 0)
SELECT fingerprint, min(doc_id) AS keep_doc_id, count(*) AS n_in_batch
FROM incoming
WHERE fingerprint NOT IN (SELECT fingerprint FROM existing)
GROUP BY fingerprint
"""


_NGRAM_BANDS = 4  # min-hash bands for candidate blocking (both engines)


def _shingles3(toks):
    """Token-3-gram shingle array, shared by the blocking and verify
    stages of q_dedup_ngram — the two MUST stay expression-identical or
    candidate generation and verification silently desynchronize.
    <3 tokens -> empty (guard: sequence(0, negative) is a DESCENDING
    sequence whose index 0 crashes slice at runtime; the oracle's
    range(len-2) is empty for the same doc).  when() is lazy, so the
    sequence never evaluates on short docs."""
    return F.when(
        F.size(toks) >= 3,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - 3),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, 3)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def ngram_minhash_blocks(docs, toks_col: str = "toks"):
    """(doc_id, toks) -> (doc_id, band, bkey): per band b, the block key
    is min(md5(b || shingle)) over the doc's token-3-gram shingles — a
    true minwise hash, so two docs share a band key with probability =
    their Jaccard.  Block population follows near-dup cluster sizes,
    never a length/lang quadratic blowup (bucket-size bound asserted in
    tests/test_properties.py).

    Deliberately computed on EXPLODED shingle rows with plain row-wise
    md5 + a map-side min aggregate, NOT with md5 inside a higher-order
    transform lambda: the fused HOF+md5 expression was observed returning
    wrong-but-deterministic digests for correct inputs in a long-lived
    session (codegen fusion hazard; see tests/test_properties.py::
    test_dedup_ngram_blocking_bounded which guards this).  The explode is
    map-side and the min-agg partial-aggregates before its (doc_id-keyed,
    tiny) shuffle, so the scale story is unchanged.  Min over duplicate
    shingles equals min over distinct ones, so no array_distinct is
    needed."""
    toks = F.col(toks_col)
    shingle_rows = docs.select(
        "doc_id",
        F.explode(_shingles3(toks)).alias("shingle"),
    )
    keyed = shingle_rows.groupBy("doc_id").agg(
        *[
            F.min(F.md5(F.concat(F.lit(f"{b}|"), F.col("shingle")))).alias(f"k{b}")
            for b in range(_NGRAM_BANDS)
        ]
    )
    bands = F.array(
        *[
            F.struct(F.lit(b).alias("band"), F.col(f"k{b}").alias("bkey"))
            for b in range(_NGRAM_BANDS)
        ]
    )
    return keyed.select("doc_id", F.explode(bands).alias("b")).select(
        "doc_id", F.col("b.band").alias("band"), F.col("b.bkey").alias("bkey")
    )


def q_dedup_ngram(spark, sf):
    """Exact token-3-gram (shingle) Jaccard over MINHASH-BLOCKED candidate
    pairs: per band b, block key = min(md5(b || shingle)) — a true minwise
    hash, so P(same key) = Jaccard per band and candidates are only ever
    generated intra-bucket.  This is the blocking that survives 100 TB
    (bucket sizes follow near-dup cluster sizes, never a length/lang
    quadratic blowup), and md5/list-min are deterministic in BOTH engines,
    so the oracle reproduces the exact same candidate set.  Verify stage =
    exact Jaccard on the (tiny) candidate pairs, threshold 0.4."""
    d = _t(spark, sf, "documents")
    toks = _tokens(F.col("text"))
    # one shared shingle expression with the blocking stage (_shingles3)
    sh = F.array_distinct(_shingles3(toks))
    docs = d.select("doc_id", sh.alias("shingles"))
    banded = ngram_minhash_blocks(d.select("doc_id", toks.alias("toks")))
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    da = docs.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    db = docs.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    jac = F.round(
        F.size(F.array_intersect("sh_a", "sh_b"))
        / F.size(F.array_union("sh_a", "sh_b")),
        4,
    )
    return (
        cand.join(da, "doc_a")
        .join(db, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .where(F.col("jaccard") >= 0.4)
    )


SQL_DEDUP_NGRAM = f"""
WITH docs AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(len(string_split(lower(text),' ')) - 2),
           i -> array_to_string(string_split(lower(text),' ')[i+1:i+3], ' ')
         )) AS shingles
  FROM documents),
banded AS (
  SELECT doc_id, band,
         list_min(list_transform(shingles,
                  s -> md5(CAST(band AS VARCHAR) || '|' || s))) AS bkey
  FROM docs, (SELECT unnest(range({_NGRAM_BANDS})) AS band) b),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)
SELECT doc_a, doc_b,
       round(len(list_intersect(da.shingles, db.shingles)) /
             CAST(len(list_distinct(list_concat(da.shingles, db.shingles))) AS DOUBLE), 4) AS jaccard
FROM cand
JOIN docs da ON cand.doc_a = da.doc_id
JOIN docs db ON cand.doc_b = db.doc_id
WHERE round(len(list_intersect(da.shingles, db.shingles)) /
            CAST(len(list_distinct(list_concat(da.shingles, db.shingles))) AS DOUBLE), 4) >= 0.4
"""


def q_dedup_minhash(spark, sf):
    """MinHash-LSH near-dup candidate pairs on documents (rows-only check:
    signature values are engine-specific).  Same operator family as the
    entity-linking fuzzy stage."""
    from .operators.dedup import minhash_candidates

    return minhash_candidates(_t(spark, sf, "documents"), "text", "doc_id",
                              num_hashes=32, bands=8)


def q_dedup_simhash(spark, sf):
    """64-bit SimHash per document (rows-only check)."""
    from .operators.dedup import simhash_udf

    d = _t(spark, sf, "documents")
    return d.select("doc_id", simhash_udf()(F.col("text")).alias("simhash"))


def q_embed_norm(spark, sf):
    em = _t(spark, sf, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    dot = F.aggregate(
        F.zip_with(v, v, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return em.select(
        "vec_id", "label", F.round(F.sqrt(dot), 4).alias("l2_norm")
    )


SQL_EMBED_NORM = """
SELECT vec_id, label,
       round(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])), 4) AS l2_norm
FROM embeddings
"""


def q_embed_agg(spark, sf):
    em = _t(spark, sf, "embeddings")
    return em.groupBy("label").agg(
        F.count("*").alias("n"),
        F.round(
            F.avg(F.element_at("embedding", 1).cast("double")), 4
        ).alias("avg_dim0"),
    )


SQL_EMBED_AGG = """
SELECT label, count(*) AS n,
       round(avg(embedding[1]::DOUBLE), 4) AS avg_dim0
FROM embeddings GROUP BY label
"""


def q_embed_quantize(spark, sf):
    """Per-vector uint8 scalar quantization (the 4x memory-reduction path a
    100 TB embedding store takes before ANN): qval = floor((x - vmin) /
    ((vmax - vmin)/255)), clamped to [0,255]; constant vectors quantize to
    0.  Both engines evaluate the IDENTICAL double expression tree on the
    same float32-widened inputs, so the floor boundaries agree bit-for-bit.
    Output posexploded to scalar rows (the driver canon hashes no arrays);
    fully native — higher-order transform, no Python."""
    em = _t(spark, sf, "embeddings")
    v = F.transform("embedding", lambda x: x.cast("double"))
    em = em.select("vec_id", v.alias("v"))
    vmin, vmax = F.array_min("v"), F.array_max("v")
    scale = (vmax - vmin) / F.lit(255.0)
    q = F.transform(
        "v",
        lambda x: F.when(
            vmax > vmin,
            F.least(F.lit(255), F.greatest(F.lit(0), F.floor((x - vmin) / scale))),
        )
        .otherwise(F.lit(0))
        .cast("int"),
    )
    return em.select("vec_id", F.posexplode(q).alias("pos", "qval"))


SQL_EMBED_QUANTIZE = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
x AS (SELECT vec_id,
             CAST(generate_subscripts(v, 1) - 1 AS INT) AS pos,
             unnest(v) AS val,
             list_aggregate(v, 'min') AS vmin,
             list_aggregate(v, 'max') AS vmax
      FROM e)
SELECT vec_id, pos,
       CAST(CASE WHEN vmax > vmin
                 THEN least(255, greatest(0, floor((val - vmin) / ((vmax - vmin) / 255.0))))
                 ELSE 0 END AS INT) AS qval
FROM x
"""


def q_ann_cosine(spark, sf):
    """Brute-force cosine top-5 neighbors for query vectors (vec_id < 3) —
    the exact baseline the LSH/IVF path approximates."""
    from .operators.similarity import cosine_topk

    em = _t(spark, sf, "embeddings")
    queries = em.where(F.col("vec_id") < 3)
    return cosine_topk(queries, em, k=5)


SQL_ANN_COSINE = """
WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 3),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         round(list_dot_product(q.qe::DOUBLE[], e.embedding::DOUBLE[]) /
               (sqrt(list_dot_product(q.qe::DOUBLE[], q.qe::DOUBLE[])) *
                sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))), 4) AS cosine
  FROM q CROSS JOIN embeddings e
  WHERE e.vec_id <> q.query_id)
SELECT query_id, neighbor_id, cosine, CAST(rk AS BIGINT) AS rk FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS rk
  FROM scored) t
WHERE rk <= 5
"""


def q_ann_lsh(spark, sf):
    """LSH-bucketed ANN (16 sign-LSH tables x 6 planes, Hamming-1
    multi-probe): rows-only check — the scale path whose recall vs
    q_ann_cosine is asserted >=0.9 in tests/test_properties.py::
    test_ann_lsh_recall and reported by bench.py (measured 0.98@5 on
    sf0.01)."""
    from .operators.similarity import lsh_topk

    em = _t(spark, sf, "embeddings")
    queries = em.where(F.col("vec_id") < 3)
    return lsh_topk(queries, em, k=5, n_planes=6, n_tables=16)


def q_ann_ivf(spark, sf):
    """IVF (inverted-file) ANN: spherical-k-means coarse quantizer over a
    bounded driver sample, corpus rows assigned to their nearest-centroid
    cell map-side, queries probe their n_probe nearest cells — expected
    scan fraction ~ n_probe/n_cells per query.  Rows-only check (cell
    assignment is trained, not SQL-reproducible); recall vs q_ann_cosine
    asserted in tests/test_properties.py::test_ann_ivf_recall."""
    from .operators.similarity import ivf_topk

    em = _t(spark, sf, "embeddings")
    queries = em.where(F.col("vec_id") < 3)
    return ivf_topk(queries, em, k=5, n_cells=16, n_probe=8)


_BPE_PAT = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def q_token_bpe(spark, sf):
    """BPE-style pre-tokenization (letter runs | digit runs | single
    punctuation — the GPT-2 pre-tokenizer shape) and per-doc counts."""
    d = _t(spark, sf, "documents")
    toks = F.regexp_extract_all("text", F.lit(_BPE_PAT), 0)
    return d.select(
        "doc_id",
        F.size(toks).alias("n_bpe_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_bpe"),
        F.size(F.filter(toks, lambda t: t.rlike("^[0-9]+$"))).alias("n_numeric"),
    )


SQL_TOKEN_BPE = r"""
SELECT doc_id,
       len(toks) AS n_bpe_tokens,
       len(list_distinct(toks)) AS n_distinct_bpe,
       len(list_filter(toks, t -> regexp_matches(t, '^[0-9]+$'))) AS n_numeric
FROM (SELECT doc_id,
             regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]') AS toks
      FROM documents) d
"""


def q_bigram(spark, sf):
    """Corpus top-20 bigram counts (the n-gram-LM / contamination-analysis
    primitive): whitespace tokens lowered, adjacent pairs via
    zip_with(slice, slice) — all native, one explode, one shuffle on the
    bigram key with map-side partial counts.  greatest(n-1, 0) keeps the
    slice length legal on 0/1-token docs (empty bigram list, no branch on
    a descending `sequence`).  Tie-break by bigram text makes the top-20
    cut a total order."""
    d = _t(spark, sf, "documents")
    toks = F.filter(
        F.split(F.lower("text"), r"\s+"), lambda t: t != F.lit("")
    )
    d = d.select(toks.alias("toks"), F.size(toks).alias("n"))
    pair_len = F.greatest(F.col("n") - 1, F.lit(0))
    bg = F.zip_with(
        F.slice("toks", F.lit(1), pair_len),
        F.slice("toks", F.lit(2), pair_len),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    return (
        d.select(F.explode(bg).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "bigram")
        .limit(20)
    )


SQL_BIGRAM = r"""
WITH tok AS (
  SELECT doc_id, generate_subscripts(l, 1) AS pos, unnest(l) AS w
  FROM (SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\s+'),
                           t -> t <> '') AS l
        FROM documents))
SELECT a.w || ' ' || b.w AS bigram, count(*) AS n
FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
GROUP BY 1 ORDER BY n DESC, bigram LIMIT 20
"""

_ROLL_P = 1_000_000_007


def q_doc_fingerprint(spark, sf):
    """Rolling polynomial content fingerprint (acc*31 + codepoint mod p),
    computed natively with a higher-order aggregate — no Python, no UDF."""
    d = _t(spark, sf, "documents")
    # filter empty chars on BOTH sides: an empty text splits to [''] whose
    # codepoint the engines disagree on (Spark ascii('')=0, DuckDB
    # unicode('')=-1) — dropping empties makes both reduce over the same
    # sequence (and leave the seed 7 untouched for empty docs)
    chars = F.filter(F.split("text", ""), lambda c: c != "")
    roll = F.aggregate(
        F.transform(chars, lambda c: F.ascii(c).cast("bigint")),
        F.lit(7).cast("bigint"),
        lambda acc, c: (acc * 31 + c) % _ROLL_P,
    )
    return d.select("doc_id", roll.alias("rolling_hash"))


SQL_DOC_FINGERPRINT = f"""
SELECT doc_id,
       list_reduce(list_prepend(7::BIGINT,
                                [unicode(x) for x in string_split_regex(text, '')
                                 if x != '']),
                   (acc, c) -> (acc * 31 + c) % {_ROLL_P}) AS rolling_hash
FROM documents
"""


_EMB_BANDS, _EMB_BITS = 4, 4  # sign-LSH: 4 bands x 4 sign bits (dims 1-16)


def q_dedup_embed(spark, sf):
    """Embedding-cosine near-dup pairs over SIGN-LSH buckets: band b's
    block key is the 4 sign bits of dims 4b+1..4b+4; a pair is a candidate
    iff it shares a full band (pigeonhole: high-cosine vectors agree on
    most signs, so at least one band matches with high probability).
    Buckets bound the join fan-out at any scale — no label/length blocking,
    no all-pairs — and sign() is exactly reproducible in SQL, so the
    oracle generates the identical candidate set.  Verify = exact cosine
    on candidates, threshold 0.3."""
    from .operators.similarity import cosine

    em = _t(spark, sf, "embeddings")
    v = em.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )

    def bits(band: int):
        return F.concat(
            *[
                F.when(F.element_at("e", band * _EMB_BITS + d + 1) >= 0, F.lit("1"))
                .otherwise(F.lit("0"))
                for d in range(_EMB_BITS)
            ]
        )

    bands = F.array(
        *[
            F.struct(F.lit(i).alias("band"), bits(i).alias("bits"))
            for i in range(_EMB_BANDS)
        ]
    )
    banded = v.select("vec_id", F.explode(bands).alias("b")).select(
        "vec_id", F.col("b.band").alias("band"), F.col("b.bits").alias("bits")
    )
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bits") == F.col("b.bits"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))
        .distinct()
    )
    ea = v.select(F.col("vec_id").alias("vec_a"), F.col("e").alias("e_a"))
    eb = v.select(F.col("vec_id").alias("vec_b"), F.col("e").alias("e_b"))
    return (
        cand.join(ea, "vec_a")
        .join(eb, "vec_b")
        .select(
            "vec_a", "vec_b",
            F.round(cosine(F.col("e_a"), F.col("e_b")), 4).alias("cosine"),
        )
        .where(F.col("cosine") >= 0.3)
    )


SQL_DEDUP_EMBED = f"""
WITH banded AS (
  SELECT vec_id, band,
         (CASE WHEN embedding[band*{_EMB_BITS}+1] >= 0 THEN '1' ELSE '0' END) ||
         (CASE WHEN embedding[band*{_EMB_BITS}+2] >= 0 THEN '1' ELSE '0' END) ||
         (CASE WHEN embedding[band*{_EMB_BITS}+3] >= 0 THEN '1' ELSE '0' END) ||
         (CASE WHEN embedding[band*{_EMB_BITS}+4] >= 0 THEN '1' ELSE '0' END) AS bits
  FROM embeddings, (SELECT unnest(range({_EMB_BANDS})) AS band) b),
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bits = b.bits AND a.vec_id < b.vec_id)
SELECT vec_a, vec_b,
       round(list_dot_product(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]) /
             (sqrt(list_dot_product(ea.embedding::DOUBLE[], ea.embedding::DOUBLE[])) *
              sqrt(list_dot_product(eb.embedding::DOUBLE[], eb.embedding::DOUBLE[]))), 4) AS cosine
FROM cand
JOIN embeddings ea ON cand.vec_a = ea.vec_id
JOIN embeddings eb ON cand.vec_b = eb.vec_id
WHERE round(list_dot_product(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]) /
            (sqrt(list_dot_product(ea.embedding::DOUBLE[], ea.embedding::DOUBLE[])) *
             sqrt(list_dot_product(eb.embedding::DOUBLE[], eb.embedding::DOUBLE[]))), 4) >= 0.3
"""


def q_multimodal_meta(spark, sf):
    """Typed metadata over an opaque binary payload column (media-table
    shape; payload = deterministic utf-8 fixture, see operators/multimodal)."""
    from .operators.multimodal import attach_binary

    d = _t(spark, sf, "documents")
    return attach_binary(d).select("doc_id", "mime", "n_bytes", "sha256")


SQL_MULTIMODAL_META = """
SELECT doc_id, 'image/fake' AS mime,
       octet_length(encode(text)) AS n_bytes,
       sha256(text) AS sha256
FROM documents
"""


def q_multimodal_features(spark, sf):
    """Stubbed media decode -> feature vectors via mapInPandas (Arrow
    batches).  Feature values are stub-decoder-specific -> rows-only.

    posexploded to (doc_id, feat_idx, feat_val) so every column is a
    scalar the driver's canonicalizer can sort/hash (array<double> is
    unhashable in pandas)."""
    from .operators.multimodal import attach_binary, extract_features

    d = _t(spark, sf, "documents")
    feats = extract_features(attach_binary(d))
    return feats.select(
        "doc_id", F.posexplode("features").alias("feat_idx", "feat_val")
    )


def q_multimodal_frames(spark, sf):
    """Stubbed video frame-sampling: 1 payload -> N frame hashes via
    mapInPandas.  Restricted to ASCII payloads (octet_length == length)
    so the stub's BYTE windows provably equal the oracle's CHARACTER
    windows — md5 over both sides is then bit-identical and the Arrow
    1->N expansion gets a full DuckDB value check."""
    from .operators.multimodal import attach_binary, frame_sample

    d = _t(spark, sf, "documents").where(
        F.octet_length(F.encode("text", "UTF-8")) == F.length("text")
    )
    return frame_sample(attach_binary(d))


SQL_MULTIMODAL_FRAMES = """
WITH d AS (
  SELECT doc_id, text, length(text) AS n,
         greatest(length(text) // 4, 1) AS step
  FROM documents
  WHERE length(text) > 0 AND octet_length(encode(text)) = length(text)
)
SELECT doc_id,
       CAST(k AS INTEGER) AS frame_idx,
       md5(substring(text, CAST(k * step + 1 AS BIGINT), 32)) AS frame_hash
FROM d, UNNEST(range(least(4, n))) AS t(k)
"""


# ---- grouped-map / grouped-agg / CC / set-op additions --------------------


def q_grouped_map(spark, sf):
    """V4 applyInPandas: per-user event profile (count, median value, max
    inter-event gap) — whole-group pandas computation, one shuffle on the
    group key (see operators/grouped.py)."""
    from .operators.grouped import user_event_profile

    return user_event_profile(_t(spark, sf, "events"))


SQL_GROUPED_MAP = """
SELECT user_id, count(*) AS n_events,
       round(median(value), 4) AS median_value,
       max(epoch_us(ts) - epoch_us(prev_ts)) / 1000000.0 AS max_gap_s
FROM (SELECT user_id, value, ts,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
      FROM events) t
GROUP BY user_id
"""


def q_pandas_udaf(spark, sf):
    """V5 grouped-agg pandas UDAF: quantity-weighted mean price per return
    flag, composed with a native count in one agg()."""
    from .operators.grouped import weighted_price_by_flag

    return weighted_price_by_flag(_t(spark, sf, "lineitem"))


SQL_PANDAS_UDAF = """
SELECT l_returnflag,
       round(sum(l_extendedprice * l_quantity) / sum(l_quantity), 2) AS w_avg_price,
       count(*) AS n_items
FROM lineitem GROUP BY l_returnflag
"""


def q_cc(spark, sf):
    """J7/A7 connected components over a deterministic bipartite graph
    (user <-> event_type edges from `events`), forced down the DISTRIBUTED
    min-label-propagation path (small_graph_edges=0) so the oracle checks
    the iterative DataFrame loop, not the driver-side union-find.
    component = lexicographic min node of the component, matching the
    DuckDB WITH RECURSIVE min-label oracle."""
    from .operators.cc import connected_components

    e = _t(spark, sf, "events")
    edges = e.select(
        F.concat(F.lit("u:"), F.col("user_id").cast("string")).alias("src"),
        F.concat(F.lit("t:"), F.col("event_type")).alias("dst"),
    ).distinct()
    return connected_components(edges, small_graph_edges=0)


SQL_CC = """
WITH RECURSIVE
base AS (SELECT DISTINCT 'u:' || CAST(user_id AS VARCHAR) AS src,
                         't:' || event_type AS dst
         FROM events),
edges AS (SELECT src, dst FROM base
          UNION SELECT dst AS src, src AS dst FROM base),
walk(node, comp) AS (
  SELECT src AS node, src AS comp FROM edges
  UNION
  SELECT e.dst AS node, w.comp FROM walk w JOIN edges e ON e.src = w.node
)
SELECT node, min(comp) AS component FROM walk GROUP BY node
"""


def q_salted(spark, sf):
    """J3 salted equi-join, oracle-checked: salting must be a pure
    physical rewrite — (key, salt) join == plain key join — so the oracle
    is the UNSALTED SQL join.  Salt spreads a hot key over n_salts
    reducers when the dim is too big to broadcast (operators/link.py)."""
    from .operators.link import salted_join

    o = _t(spark, sf, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    c = _t(spark, sf, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_name", "c_nationkey"
    )
    joined = salted_join(o, c, "o_custkey", how="inner", n_salts=8)
    return joined.select(
        "o_orderkey", "o_custkey", "c_name", "c_nationkey",
        _dec(F.col("o_totalprice")).cast("double").alias("total_price"),
    )


SQL_SALTED = """
SELECT o_orderkey, o_custkey, c_name, c_nationkey,
       CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS total_price
FROM orders JOIN customer ON o_custkey = c_custkey
"""


def q_intersect(spark, sf):
    """U2 direct DataFrame.intersect (set semantics incl. dedup)."""
    c = _t(spark, sf, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s)


SQL_INTERSECT = """
SELECT c_nationkey AS nationkey FROM customer
INTERSECT
SELECT s_nationkey AS nationkey FROM supplier
"""


def q_sort(spark, sf):
    """O1 global sort, oracle-checked via a contiguous global rank: the
    scalable two-shuffle global index (range partition -> per-partition
    offsets -> local row_number), never a single-partition window
    (operators/ordering.py).  (ts, event_id) is a total order."""
    from .operators.ordering import global_sorted_index

    e = _t(spark, sf, "events").select("event_id", "ts", "value")
    idx = global_sorted_index(e, ["ts", "event_id"], index_col="pos")
    return idx.select(
        "pos", "event_id", "ts", F.round("value", 4).alias("value")
    )


SQL_SORT = """
SELECT row_number() OVER (ORDER BY ts, event_id) AS pos,
       event_id, ts, round(value, 4) AS value
FROM events
"""


def q_mentions(spark, sf):
    """V1 mention detector, oracle-checked: the same native regex
    expression the KG pipeline uses for stage-1 extraction
    (operators/extract.py make_candidate_detector), run in emit-all mode
    (extra_surfaces=None, the giant-dictionary fallback) over
    documents.text.  Emits per-doc unique tokens plus ISO-timestamp
    literals; the DuckDB oracle replays the token grammar with
    regexp_extract_all."""
    from .operators.extract import make_candidate_detector

    d = _t(spark, sf, "documents")
    detect = make_candidate_detector(spark, extra_surfaces=None)
    hits = d.select("doc_id", detect(F.col("text")).alias("hits"))
    m = hits.select("doc_id", F.explode("hits").alias("m"))
    return m.select(
        "doc_id", F.col("m.kind").alias("kind"), F.col("m.form").alias("form")
    )


def q_sink_roundtrip(spark, sf):
    """S3/S4 oracle-checked: events shaped as transcript-keyed rows go
    through the production partitioned sink (TableIO: ts_day partition +
    conv_id bucket, dynamic partition overwrite) TWICE — the second write
    is the idempotent-resume overwrite — then read back through the
    partitioned reader.  Oracle = the identity projection: round-trip and
    re-overwrite must lose/duplicate nothing."""
    import shutil
    import tempfile

    from .sources.tableio import TableIO

    e = _t(spark, sf, "events").select(
        F.col("user_id").cast("string").alias("conv_id"),
        F.col("event_id").cast("int").alias("turn_idx"),
        "ts",
        F.col("event_type").alias("etype"),
    )
    # fixed per-(sf, process) scratch root, recreated each call: repeated
    # runs in one process reuse ONE directory instead of leaking a full
    # events copy per invocation (mkdtemp would), while the pid suffix
    # keeps concurrent harness processes from clobbering each other's
    # sink mid-read
    tag = "".join(c if c.isalnum() else "_" for c in sf.rstrip("/").rsplit("/", 1)[-1])
    root = f"{tempfile.gettempdir()}/logset_sink_roundtrip_{tag}_{os.getpid()}"
    shutil.rmtree(root, ignore_errors=True)
    io = TableIO(root=root, n_buckets=8)
    io.write(e, "roundtrip")          # full write
    io.write(e, "roundtrip")          # idempotent dynamic-overwrite replay
    back = io.read(spark, "roundtrip")
    return back.select("conv_id", "turn_idx", "ts", "etype")


SQL_SINK_ROUNDTRIP = """
SELECT CAST(user_id AS VARCHAR) AS conv_id,
       CAST(event_id AS INT) AS turn_idx, ts, event_type AS etype
FROM events
"""


def q_time_travel(spark, sf):
    """S3-S5 snapshot isolation, oracle-checked: events-as-transcript rows
    go through SnapshotTableIO (sources/snapshots.py — the Iceberg-
    semantics emulation: immutable commits, manifest-pointed snapshots,
    atomic pointer advance).  Commit v1 = the full table; commit v2 =
    a dynamic partition-overwrite that edits ONLY the earliest ts_day.
    The query reads BOTH versions back (time travel) and unions them
    under a `snap` tag: v1 must be byte-identical to the original rows
    (immutability — the overwrite cannot leak backwards) and v2 must be
    exactly 'original with the min day edited'.  Oracle replays the edit
    as a CASE expression — metadata games must never change data."""
    import shutil
    import tempfile

    from .sources.snapshots import SnapshotTableIO

    e = _t(spark, sf, "events").select(
        F.col("user_id").cast("string").alias("conv_id"),
        F.col("event_id").cast("int").alias("turn_idx"),
        "ts",
        F.col("event_type").alias("etype"),
    )
    # bounded 1-row driver agg picks the overwrite day deterministically
    d0 = e.agg(F.min(F.to_date("ts")).alias("d")).first()["d"]
    tag = "".join(c if c.isalnum() else "_" for c in sf.rstrip("/").rsplit("/", 1)[-1])
    root = f"{tempfile.gettempdir()}/logset_time_travel_{tag}_{os.getpid()}"
    shutil.rmtree(root, ignore_errors=True)
    store = SnapshotTableIO(root=root, n_buckets=8)
    v1 = store.commit(e)
    upd = e.filter(F.to_date("ts") == F.lit(d0)).withColumn(
        "etype", F.lit("edited")
    )
    v2 = store.commit(upd)  # repoints every bucket of day d0, nothing else
    cols = ["conv_id", "turn_idx", "ts", "etype"]
    return (
        store.read(spark, version=v1).select(F.lit("v1").alias("snap"), *cols)
        .unionAll(
            store.read(spark, version=v2).select(F.lit("v2").alias("snap"), *cols)
        )
    )


def q_merge_upsert(spark, sf):
    """Copy-on-write MERGE INTO, oracle-checked: commit the events-as-
    transcript table, then merge_upsert (sources/snapshots.py) a change
    set that UPDATES every key with event_id % 7 == 0 (etype ->
    'patched') and INSERTS brand-new keys (turn_idx shifted by 10^7).
    Only the touched partitions are rewritten (partition-pruned read +
    broadcast anti-join + one overwrite commit).  Oracle = CASE for the
    updates UNION ALL the inserts — MERGE must behave exactly like the
    declarative rewrite."""
    import shutil
    import tempfile

    from .sources.snapshots import SnapshotTableIO

    e = _t(spark, sf, "events").select(
        F.col("user_id").cast("string").alias("conv_id"),
        F.col("event_id").cast("int").alias("turn_idx"),
        "ts",
        F.col("event_type").alias("etype"),
    )
    tag = "".join(c if c.isalnum() else "_" for c in sf.rstrip("/").rsplit("/", 1)[-1])
    root = f"{tempfile.gettempdir()}/logset_merge_upsert_{tag}_{os.getpid()}"
    shutil.rmtree(root, ignore_errors=True)
    store = SnapshotTableIO(root=root, n_buckets=8)
    store.commit(e)
    upd = e.filter(F.col("turn_idx") % 7 == 0).withColumn(
        "etype", F.lit("patched")
    )
    ins = e.filter(F.col("turn_idx") % 13 == 0).withColumn(
        "turn_idx", (F.col("turn_idx") + F.lit(10_000_000)).cast("int")
    ).withColumn("etype", F.lit("inserted"))
    store.merge_upsert(spark, upd.unionByName(ins), keys=["conv_id", "turn_idx"])
    return store.read(spark).select("conv_id", "turn_idx", "ts", "etype")


SQL_MERGE_UPSERT = """
WITH base AS (
    SELECT CAST(user_id AS VARCHAR) AS conv_id,
           CAST(event_id AS INT) AS turn_idx, ts, event_type AS etype
    FROM events
)
SELECT conv_id, turn_idx, ts,
       CASE WHEN turn_idx % 7 = 0 THEN 'patched' ELSE etype END AS etype
FROM base
UNION ALL
SELECT conv_id, CAST(turn_idx + 10000000 AS INT) AS turn_idx, ts,
       'inserted' AS etype
FROM base WHERE turn_idx % 13 = 0
"""


SQL_TIME_TRAVEL = """
WITH base AS (
    SELECT CAST(user_id AS VARCHAR) AS conv_id,
           CAST(event_id AS INT) AS turn_idx, ts, event_type AS etype
    FROM events
)
SELECT 'v1' AS snap, conv_id, turn_idx, ts, etype FROM base
UNION ALL
SELECT 'v2' AS snap, conv_id, turn_idx, ts,
       CASE WHEN CAST(ts AS DATE) = (SELECT MIN(CAST(ts AS DATE)) FROM base)
            THEN 'edited' ELSE etype END AS etype
FROM base
"""


def bucketed_tables(spark, sf):
    """Write orders + customer as Spark BUCKETED tables (bucketBy 8 on
    the join key, sortBy within buckets) and return them re-read from
    the catalog.  Bucketing is THE co-located-join device at 100 TB: two
    tables bucketed the same way sort-merge-join with ZERO Exchange on
    either side (asserted in tests/test_plans.py::
    test_bucketed_join_no_exchange) — the shuffle is paid once at write
    time, then every downstream join of the pair is shuffle-free.
    External-table path option so no warehouse-dir assumption; fixed
    per-(sf, pid) scratch root as in q_sink_roundtrip."""
    import shutil
    import tempfile

    tag = "".join(c if c.isalnum() else "_" for c in sf.rstrip("/").rsplit("/", 1)[-1])
    root = f"{tempfile.gettempdir()}/logset_bucketed_{tag}_{os.getpid()}"
    shutil.rmtree(root, ignore_errors=True)
    specs = (
        ("b_orders", _t(spark, sf, "orders").select(
            "o_custkey", "o_orderkey", "o_totalprice"), "o_custkey"),
        ("b_customer", _t(spark, sf, "customer").select(
            "c_custkey", "c_name"), "c_custkey"),
    )
    for name, df, key in specs:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (
            df.write.mode("overwrite")
            .option("path", f"{root}/{name}")
            .bucketBy(8, key)
            .sortBy(key)
            .saveAsTable(name)
        )
    return spark.table("b_orders"), spark.table("b_customer")


def q_bucket_join(spark, sf):
    """Co-located bucketed join: orders JOIN customer on the bucket key,
    aggregated per customer.  The physical plan has no Exchange on
    either scan (bucket layout == join distribution); the oracle replays
    the same join from the raw tables — bucketing must change the plan,
    never the result."""
    bo, bc = bucketed_tables(spark, sf)
    return (
        bo.join(bc, bo.o_custkey == bc.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(_dec(F.col("o_totalprice"))).cast("double").alias("total_spend"),
        )
    )


SQL_BUCKET_JOIN = """
SELECT c_custkey, c_name, count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_custkey, c_name
"""


def q_batch_features(spark, sf):
    """V3 mapInPandas, oracle-checked: per-document stats computed in
    Arrow-batched pandas (unlike q_multimodal_features whose stub-decoder
    values are rows-only, these are SQL-reproducible).  The iterator
    signature streams one record batch at a time — peak memory is a batch,
    not a partition."""
    import pandas as pd

    d = _t(spark, sf, "documents").select("doc_id", "text")

    def batches(it):
        for pdf in it:
            t = pdf["text"].fillna("")
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_chars": t.str.len().astype("int64"),
                    "n_ws_tokens": t.str.split().str.len().astype("int64"),
                    "first_tok": t.str.split().str[0].fillna(""),
                }
            )

    return d.mapInPandas(
        batches,
        "doc_id long, n_chars long, n_ws_tokens long, first_tok string",
    )


# COALESCE + empty-token filter align the edge cases with pandas:
# str.split() on ''/whitespace-only returns [] (0 tokens), while a bare
# string_split_regex(trim(''), '\s+') returns [''] (1); null text maps
# to 0 chars via the fillna('') on the Spark side.
SQL_BATCH_FEATURES = r"""
SELECT doc_id, length(coalesce(text, '')) AS n_chars,
       len(list_filter(string_split_regex(trim(coalesce(text, '')), '\s+'),
                       x -> x != '')) AS n_ws_tokens,
       coalesce(list_filter(string_split_regex(trim(coalesce(text, '')), '\s+'),
                            x -> x != '')[1], '') AS first_tok
FROM documents
"""


def _jsonl_fixture() -> str:
    """Repo-checkout path of the committed fixture; when logset_spark is
    imported from a --py-files zip, __file__ points INSIDE the archive
    (unreadable by spark.read.text), so fall back to cwd-relative."""
    here = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tests", "fixtures", "transcripts_sample.jsonl",
    )
    if os.path.exists(here):
        return here
    return os.path.join(os.getcwd(), "tests", "fixtures",
                        "transcripts_sample.jsonl")


JSONL_FIXTURE = _jsonl_fixture()


def q_jsonl_source(spark, sf):
    """S-family JSONL transcript ingestion (sources/jsonl.py): explicit
    north-rule schema (no inference pass), PERMISSIVE parse, corrupt rows
    quarantined.  Reads a static committed fixture (3 malformed lines)
    that the DuckDB oracle reads from the same path with ignore_errors —
    both engines must agree on the surviving rows AND their typed values.
    sf is unused: the fixture IS the table under test."""
    from .sources.jsonl import read_transcripts_jsonl, split_quarantine

    good, _bad = split_quarantine(read_transcripts_jsonl(spark, JSONL_FIXTURE))
    return good.select("conv_id", "turn_idx", "role", "text", "tool", "ts")


SQL_JSONL_SOURCE = f"""
SELECT conv_id, turn_idx, role, text, tool, ts
FROM read_json('{JSONL_FIXTURE}', format='newline_delimited',
               ignore_errors=true,
               columns={{'conv_id': 'VARCHAR', 'turn_idx': 'INTEGER',
                         'role': 'VARCHAR', 'text': 'VARCHAR',
                         'tool': 'VARCHAR', 'ts': 'TIMESTAMP'}})
WHERE conv_id IS NOT NULL AND turn_idx IS NOT NULL
"""


SQL_MENTIONS = r"""
SELECT doc_id, 'cand' AS kind, tok AS form
FROM (SELECT doc_id,
             unnest(list_distinct(
                 regexp_extract_all(lower(text), '[a-z][a-z0-9_-]*'))) AS tok
      FROM documents)
UNION ALL
SELECT doc_id, 'ts' AS kind, iso AS form
FROM (SELECT doc_id,
             unnest(list_distinct(regexp_extract_all(
                 text, '\b\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}\b'))) AS iso
      FROM documents)
"""


# ---- round-2 breadth: session windows, skewed agg, KG traversal, ----------
# ---- dedup clustering, TF-IDF keywords, CSV ingest -------------------------


def q_session_window(spark, sf):
    """X3 session windows in BATCH: native F.session_window (gap 30 min)
    per user — the batch twin of streaming/incremental.session_counts.
    Spark merges an event into the running session iff its ts is STRICTLY
    inside (last_ts + gap); the oracle replays that rule as
    gaps-and-islands (new session when diff >= gap)."""
    e = _t(spark, sf, "events")
    return (
        e.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("sess_start"),
            F.col("w.end").alias("sess_end"),
            "n_events",
        )
    )


SQL_SESSION_WINDOW = """
WITH lagged AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
islands AS (
  SELECT user_id, ts,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS sess_id
  FROM lagged)
SELECT user_id, min(ts) AS sess_start,
       max(ts) + INTERVAL 30 MINUTE AS sess_end,
       count(*) AS n_events
FROM islands GROUP BY user_id, sess_id
"""


def q_skew_agg(spark, sf):
    """A-family skew handling, oracle-checked: two-phase SALTED
    aggregation (operators/grouped.salted_agg) vs the plain single-phase
    GROUP BY — like q_salted for joins, salting an aggregation must be a
    pure physical rewrite, so the oracle is the unsalted SQL.  Decimal
    staging makes the two-phase sum exactly associative."""
    from .operators.grouped import salted_agg

    e = _t(spark, sf, "events")
    out = salted_agg(
        e, "event_type", value_col="value", salt_col="event_id", n_salts=16
    )
    return out.select(
        "event_type",
        "n_rows",
        F.col("sum_value").cast("double").alias("sum_value"),
    )


SQL_SKEW_AGG = """
SELECT event_type, count(*) AS n_rows,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events GROUP BY event_type
"""


def q_kg_2hop(spark, sf):
    """SPARQL-style 2-hop pattern over the materialized triple table:
    ?conv hasTurn ?turn . ?turn usedTool ?tool — a triple-store self-join,
    the catalog-query shape LogSet answers with rdflib (which
    conversations touched which tools), here a plain DataFrame equi-join
    Catalyst can reorder/broadcast."""
    tri = q_kg_structural(spark, sf)
    ht = tri.where(F.col("pred") == "hasTurn").select(
        F.col("subj").alias("conv"), F.col("obj").alias("turn")
    )
    ut = tri.where(F.col("pred") == "usedTool").select(
        F.col("subj").alias("turn"), F.col("obj").alias("tool")
    )
    return ht.join(ut, "turn").select("conv", "tool").distinct()


SQL_KG_2HOP = f"""
WITH g AS ({SQL_KG_STRUCTURAL})
SELECT DISTINCT a.subj AS conv, b.obj AS tool
FROM g a JOIN g b ON a.obj = b.subj
WHERE a.pred = 'hasTurn' AND b.pred = 'usedTool'
"""


def q_sparql_2hop(spark, sf):
    """The reference's ACTUAL query surface: rdflib answers SPARQL over
    the catalog graph (SURVEY §1.3); operators/sparql.py compiles the
    same basic graph patterns to filtered scans + Catalyst equi-joins
    instead of per-row index lookups.  Same logical query as q_kg_2hop,
    but arriving through the parser + compiler — the oracle cross-checks
    that the compiled plan computes textbook BGP semantics."""
    from .operators.sparql import sparql

    tri = q_kg_structural(spark, sf)
    return sparql(
        tri,
        """SELECT DISTINCT ?conv ?tool
           WHERE { ?conv hasTurn ?turn . ?turn usedTool ?tool }""",
    )


SQL_SPARQL_2HOP = f"""
WITH g AS ({SQL_KG_STRUCTURAL})
SELECT DISTINCT a.subj AS conv, b.obj AS tool
FROM g a JOIN g b ON a.obj = b.subj
WHERE a.pred = 'hasTurn' AND b.pred = 'usedTool'
"""


def q_sparql_service(spark, sf):
    """SPARQL 1.1 federation (SERVICE): the nation->region graph is the
    local dataset; the supplier->nation graph is registered as a second
    endpoint (another warehouse at cluster scale — a remote SPARQL
    endpoint in the spec, a registered DataFrame here, so the federated
    join lowers to an ordinary Catalyst equi-join on the shared ?n).
    Query: suppliers based in EUROPE nations, where nation residency
    lives only in the remote graph.  Oracle = the declarative 3-table
    join — federation must not change semantics, only data placement."""
    from .operators.sparql import sparql

    n = _t(spark, sf, "nation")
    r = _t(spark, sf, "region")
    s = _t(spark, sf, "supplier")
    local = n.join(r, n.n_regionkey == r.r_regionkey).select(
        F.concat(F.lit("nation:"), "n_name").alias("subj"),
        F.lit("inRegion").alias("pred"),
        F.concat(F.lit("region:"), "r_name").alias("obj"),
    )
    remote = s.join(n, s.s_nationkey == n.n_nationkey).select(
        F.concat(F.lit("supp:"), F.col("s_suppkey").cast("string"))
        .alias("subj"),
        F.lit("basedIn").alias("pred"),
        F.concat(F.lit("nation:"), "n_name").alias("obj"),
    )
    return sparql(
        local,
        """SELECT ?s ?n WHERE {
             ?n inRegion 'region:EUROPE' .
             SERVICE <svc:suppliers> { ?s basedIn ?n } }""",
        services={"svc:suppliers": remote},
    )


SQL_SPARQL_SERVICE = """
SELECT 'supp:' || CAST(s_suppkey AS VARCHAR) AS s,
       'nation:' || n_name AS n
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'EUROPE'
"""


def q_sparql_filter(spark, sf):
    """SPARQL FILTER lowering: regex() -> RLIKE, != -> <>, && -> AND,
    applied over the bound variables after the pattern joins (Catalyst
    pushes single-pattern predicates back into the scans)."""
    from .operators.sparql import sparql

    tri = q_kg_structural(spark, sf)
    return sparql(
        tri,
        """SELECT DISTINCT ?turn ?tool
           WHERE { ?turn usedTool ?tool . ?turn hasRole role:tool .
                   FILTER(regex(?tool, 'err') && ?turn != 'turn:u1/0') }""",
    )


SQL_SPARQL_FILTER = f"""
WITH g AS ({SQL_KG_STRUCTURAL})
SELECT DISTINCT a.subj AS turn, a.obj AS tool
FROM g a JOIN g b ON a.subj = b.subj
WHERE a.pred = 'usedTool' AND b.pred = 'hasRole' AND b.obj = 'role:tool'
  AND regexp_matches(a.obj, 'err') AND a.subj <> 'turn:u1/0'
"""


def q_sparql_path(spark, sf):
    """SPARQL 1.1 property path `partOf+` through the compiler: the
    parser sees a `p+` predicate and swaps the pattern's source for the
    path-doubling transitive closure of p's edges — the same containment
    hierarchy q_closure checks directly, but arriving via the query
    language (and joined against a second pattern, so closure results
    compose with ordinary BGP evaluation).  Hierarchy: part key k partOf
    k//2 (binary tree over keys 2..255), with a depth marker triple for
    leaf-band nodes (keys 128..255) to give the second pattern real
    selectivity."""
    from .operators.sparql import sparql

    p = _t(spark, sf, "part")
    base = p.where(F.col("p_partkey").between(2, 255))
    edges = base.select(
        F.concat(F.lit("p:"), F.col("p_partkey").cast("string")).alias("subj"),
        F.lit("partOf").alias("pred"),
        F.concat(F.lit("p:"), F.expr("p_partkey div 2").cast("string")).alias("obj"),
    )
    leaves = base.where(F.col("p_partkey") >= 128).select(
        F.concat(F.lit("p:"), F.col("p_partkey").cast("string")).alias("subj"),
        F.lit("isLeaf").alias("pred"),
        F.lit("true").alias("obj"),
    )
    tri = edges.unionByName(leaves)
    return sparql(
        tri,
        """SELECT DISTINCT ?n ?a
           WHERE { ?n partOf+ ?a . ?n isLeaf true }""",
    )


SQL_SPARQL_PATH = """
WITH RECURSIVE
e AS (SELECT 'p:' || CAST(p_partkey AS VARCHAR) AS node,
             'p:' || CAST(p_partkey // 2 AS VARCHAR) AS ancestor,
             p_partkey AS k
      FROM part WHERE p_partkey BETWEEN 2 AND 255),
walk(node, ancestor) AS (
  SELECT node, ancestor FROM e
  UNION
  SELECT w.node, e.ancestor FROM walk w JOIN e ON e.node = w.ancestor)
SELECT DISTINCT w.node AS n, w.ancestor AS a
FROM walk w
WHERE w.node IN (SELECT node FROM e WHERE k >= 128)
"""


def q_sparql_agg(spark, sf):
    """SPARQL 1.1 aggregates through the compiler: plain ?vars in the
    SELECT list become groupBy keys, (COUNT(?v) AS ?n) items become
    aggregate columns over the solution MULTISET (no distinct before the
    groupBy — textbook aggregate semantics)."""
    from .operators.sparql import sparql

    tri = q_kg_structural(spark, sf)
    return sparql(
        tri,
        """SELECT ?tool (COUNT(?turn) AS ?n_uses)
           WHERE { ?turn usedTool ?tool }""",
    )


SQL_SPARQL_AGG = f"""
WITH g AS ({SQL_KG_STRUCTURAL})
SELECT obj AS tool, count(*) AS n_uses
FROM g WHERE pred = 'usedTool' GROUP BY obj
"""


def q_sparql_groupby(spark, sf):
    """SPARQL 1.1 explicit GROUP BY (operators/sparql.py): the grouping
    keys may be a SUPERSET of the projected vars — here turn counts are
    grouped per (conv, tool) but only ?tool is projected, so the same
    tool appears once per conversation that used it (grouped projection
    keeps duplicates across groups; a non-grouped projected var is
    rejected loudly).  Lowered as one groupBy on the explicit keys plus
    a post-aggregation projection."""
    from .operators.sparql import sparql

    tri = q_kg_structural(spark, sf)
    return sparql(
        tri,
        """SELECT ?tool (COUNT(?turn) AS ?n)
           WHERE { ?conv hasTurn ?turn . ?turn usedTool ?tool }
           GROUP BY ?conv ?tool""",
    )


SQL_SPARQL_GROUPBY = f"""
WITH g AS ({SQL_KG_STRUCTURAL}),
j AS (
  SELECT h.subj AS conv, h.obj AS turn, u.obj AS tool
  FROM g h JOIN g u ON u.subj = h.obj AND u.pred = 'usedTool'
  WHERE h.pred = 'hasTurn')
SELECT tool, count(*) AS n FROM j GROUP BY conv, tool
"""


def q_sparql_polist(spark, sf):
    """SPARQL grammar abbreviations a spec-reading user writes on day
    one: '#' comments (quote/IRI-fragment-aware stripping), ';'
    predicate-object lists, and ',' object lists — all expanding to the
    same BGP the longhand spelling compiles to, so the plan is the
    ordinary shared-variable join chain."""
    from .operators.sparql import sparql

    tri = q_kg_structural(spark, sf)
    return sparql(
        tri,
        """# tool turns and their conversations, abbreviated
           SELECT ?conv ?turn ?tool WHERE {
             ?turn hasRole role:tool ;     # ';' shares the subject
                   usedTool ?tool ;
                   partOf ?conv .
           }""",
    )


SQL_SPARQL_POLIST = f"""
WITH g AS ({SQL_KG_STRUCTURAL})
SELECT p.obj AS conv, r.subj AS turn, u.obj AS tool
FROM g r
JOIN g u ON u.subj = r.subj AND u.pred = 'usedTool'
JOIN g p ON p.subj = r.subj AND p.pred = 'partOf'
WHERE r.pred = 'hasRole' AND r.obj = 'role:tool'
"""


def q_term_dict(spark, sf):
    """Term dictionary for encoded triple storage (operators/encode.py —
    the RDF-3X/TDB node-table design): every distinct term across
    subj/pred/obj gets a contiguous 1-based bigint id in GLOBAL TERM SORT
    ORDER, assigned by the distributed zipWithIndex (range shuffle +
    per-partition offsets, never a single-task window).  Sorted ids are
    deterministic — the oracle replays the whole assignment as one
    row_number() — and give namespace prefixes contiguous id ranges."""
    from .operators.encode import build_term_dictionary

    return build_term_dictionary(q_kg_structural(spark, sf)).select(
        "term", F.col("tid").cast("bigint").alias("tid")
    )


SQL_TERM_DICT = f"""
WITH g AS ({SQL_KG_STRUCTURAL}),
t AS (SELECT subj AS term FROM g UNION
      SELECT pred FROM g UNION SELECT obj FROM g)
SELECT term, row_number() OVER (ORDER BY term) AS tid FROM t
"""


def q_encode_roundtrip(spark, sf):
    """Bulk encode -> decode is lossless: the structural triple set
    through three dictionary joins each way returns exactly the input
    (inner joins, so a term missing from the dictionary would drop rows
    and fail the count, not silently null)."""
    from .operators.encode import (
        build_term_dictionary, decode_triples, encode_triples,
    )

    tri = q_kg_structural(spark, sf).distinct()
    dic = build_term_dictionary(tri)
    return decode_triples(encode_triples(tri, dic), dic)


SQL_ENCODE_ROUNDTRIP = f"""
SELECT DISTINCT subj, pred, obj FROM ({SQL_KG_STRUCTURAL}) g
"""


def q_encoded_bgp(spark, sf):
    """The 2-hop catalog query (q_kg_2hop's shape) over the ENCODED
    table: constants probed to ids once (driver lookup bounded by the
    query), the self-join runs on 8-byte bigints instead of ~25-byte URI
    strings — the exchange-byte reduction that matters at 10^12 triples —
    and only the two projected variables are decoded at the end.  The
    oracle is the plain string-table join, so the encoded path must be
    result-identical."""
    from .operators.encode import (
        bgp_encoded, build_term_dictionary, encode_triples,
    )

    tri = q_kg_structural(spark, sf)
    dic = build_term_dictionary(tri)
    enc = encode_triples(tri, dic)
    return bgp_encoded(
        enc, dic,
        [("?conv", "hasTurn", "?turn"), ("?turn", "usedTool", "?tool")],
        select=["conv", "tool"],
    )


SQL_ENCODED_BGP = SQL_KG_2HOP


def q_encoded_agg(spark, sf):
    """COUNT aggregation over the encoded store (sparql_encoded): tool
    usage counts computed entirely in id space — the BGP joins AND the
    groupBy run on bigints; only the group key decodes, after the
    aggregate, at group-count scale.  Oracle = the same counts over the
    string graph."""
    from .operators.encode import (
        build_term_dictionary, encode_triples, sparql_encoded,
    )

    tri = q_kg_structural(spark, sf)
    dic = build_term_dictionary(tri)
    enc = encode_triples(tri, dic)
    return sparql_encoded(
        enc, dic,
        "SELECT ?tool (COUNT(?turn) AS ?n) WHERE { ?turn usedTool ?tool }",
    )


SQL_ENCODED_AGG = f"""
WITH g AS ({SQL_KG_STRUCTURAL})
SELECT obj AS tool, count(*) AS n FROM g WHERE pred = 'usedTool'
GROUP BY obj
"""


def q_term_dict_extend(spark, sf):
    """Append-only dictionary growth (encode.extend_term_dictionary):
    the property that makes term encoding viable at 10^12 triples — new
    data never renumbers existing terms.  Base dictionary = terms of the
    non-usedTool structural triples; the extension sees the FULL set and
    assigns ids above the base max to the genuinely-new terms only, in
    their sort order.  Output = the grown dictionary (base ∪ new); the
    oracle replays base ranks and max+row_number extension ranks."""
    from .operators.encode import (
        build_term_dictionary, extend_term_dictionary,
    )

    tri = q_kg_structural(spark, sf)
    base = build_term_dictionary(tri.where(F.col("pred") != "usedTool"))
    new = extend_term_dictionary(base, tri)
    return base.unionByName(new).select(
        "term", F.col("tid").cast("bigint").alias("tid")
    )


SQL_TERM_DICT_EXTEND = f"""
WITH g AS ({SQL_KG_STRUCTURAL}),
b AS (SELECT subj AS term FROM g WHERE pred <> 'usedTool' UNION
      SELECT pred FROM g WHERE pred <> 'usedTool' UNION
      SELECT obj FROM g WHERE pred <> 'usedTool'),
base AS (SELECT term, row_number() OVER (ORDER BY term) AS tid FROM b),
f AS (SELECT subj AS term FROM g UNION
      SELECT pred FROM g UNION SELECT obj FROM g),
fresh AS (SELECT term FROM f WHERE term NOT IN (SELECT term FROM b))
SELECT term, tid FROM base
UNION ALL
SELECT term,
       (SELECT count(*) FROM b) + row_number() OVER (ORDER BY term) AS tid
FROM fresh
"""


def q_ttl_sink(spark, sf):
    """S3 Turtle serialize sink, DISTRIBUTED (sources/turtle.py
    save_turtle): the whole structural triple set is written as .ttl
    text shards via pure native column expressions (zero Python in the
    row path), then read back through the native-regex shard loader —
    the oracle is the ORIGINAL triple set, so the write→parse cycle is
    value-checked end-to-end (a lost escape, broken framing, or
    URI/literal misclassification hash-mismatches)."""
    import tempfile

    from .sources.turtle import load_turtle_dir, save_turtle

    tri = q_kg_structural(spark, sf).distinct()
    out = tempfile.mkdtemp(prefix="logset_ttl_sink_q_") + "/ttl"
    save_turtle(tri, out)
    return load_turtle_dir(spark, out)


SQL_TTL_SINK = f"""
SELECT DISTINCT subj, pred, obj FROM ({SQL_KG_STRUCTURAL}) g
"""


def q_sparql_bind(spark, sf):
    """SPARQL 1.1 BIND lowering: BIND(expr AS ?v) becomes a Catalyst
    select-expression column (pure projection, zero shuffle), evaluated
    before FILTER so filters can reference the bound var.  The literal
    inside CONCAT rides the placeholder protection — its content never
    meets the operator rewrites."""
    from .operators.sparql import sparql

    tri = q_kg_structural(spark, sf)
    return sparql(
        tri,
        """SELECT DISTINCT ?turn ?label
           WHERE { ?turn usedTool ?tool . BIND(CONCAT('by:', ?tool) AS ?label) }""",
    )


SQL_SPARQL_BIND = f"""
WITH g AS ({SQL_KG_STRUCTURAL})
SELECT DISTINCT subj AS turn, 'by:' || obj AS label
FROM g WHERE pred = 'usedTool'
"""


def q_sparql_select_expr(spark, sf):
    """SPARQL projection expressions + expression ORDER BY (VERDICT r04
    item 6): SELECT (expr AS ?v) is lowered onto the BIND machinery
    (pure Catalyst projection column), and the parenthesized ORDER BY
    expression compiles through the same depth-2 FILTER/BIND grammar
    into a native sort key — no Python anywhere.  The alias ?len is
    referenced by ORDER BY, pinning the algebra order (extend before
    OrderBy before Project)."""
    from .operators.sparql import sparql

    tri = q_kg_structural(spark, sf)
    return sparql(
        tri,
        """SELECT ?turn ?tool (STRLEN(?turn) AS ?len)
                  (IF(CONTAINS(?tool, '_'), 'multi', 'plain') AS ?kind)
                  (CONCAT(?tool, '@', ?turn) AS ?tag)
           WHERE { ?turn usedTool ?tool }
           ORDER BY DESC(CONCAT(?kind, ?tool)) (STRLEN(?turn)) ?turn
           LIMIT 500""",
    )


SQL_SPARQL_SELECT_EXPR = f"""
WITH g AS ({SQL_KG_STRUCTURAL})
SELECT subj AS turn, obj AS tool, CAST(length(subj) AS INT) AS len,
       CASE WHEN contains(obj, '_') THEN 'multi' ELSE 'plain' END AS kind,
       obj || '@' || subj AS tag
FROM g WHERE pred = 'usedTool'
ORDER BY (CASE WHEN contains(obj, '_') THEN 'multi' ELSE 'plain' END
          || obj) DESC, length(subj), subj
LIMIT 500
"""


def q_sparql_values(spark, sf):
    """SPARQL 1.1 VALUES lowering: the inline data block becomes a
    literal DataFrame broadcast-joined on its shared vars — the classic
    small-dim restriction join, never a per-row IN-list scan of Python."""
    from .operators.sparql import sparql

    tri = q_kg_structural(spark, sf)
    return sparql(
        tri,
        """SELECT DISTINCT ?turn ?tool ?cat
           WHERE { ?turn usedTool ?tool .
                   VALUES (?tool ?cat) { (tool:error 'fail') (tool:purchase 'buy') } }""",
    )


SQL_SPARQL_VALUES = f"""
WITH g AS ({SQL_KG_STRUCTURAL})
SELECT DISTINCT g.subj AS turn, g.obj AS tool, v.cat
FROM g JOIN (VALUES ('tool:error', 'fail'), ('tool:purchase', 'buy'))
         AS v(tool, cat) ON g.obj = v.tool
WHERE g.pred = 'usedTool'
"""


def q_sparql_notexists(spark, sf):
    """FILTER NOT EXISTS lowering: left-anti join on the shared vars
    (the J6 primitive applied inside the SPARQL algebra) — turns that
    never invoked a tool."""
    from .operators.sparql import sparql

    tri = q_kg_structural(spark, sf)
    return sparql(
        tri,
        """SELECT DISTINCT ?turn
           WHERE { ?c hasTurn ?turn . FILTER NOT EXISTS { ?turn usedTool ?t } }""",
    )


SQL_SPARQL_NOTEXISTS = f"""
WITH g AS ({SQL_KG_STRUCTURAL})
SELECT DISTINCT obj AS turn FROM g ht
WHERE ht.pred = 'hasTurn'
  AND NOT EXISTS (SELECT 1 FROM g ut
                  WHERE ut.pred = 'usedTool' AND ut.subj = ht.obj)
"""


def q_sparql_minus(spark, sf):
    """MINUS lowering: anti-join on shared vars (removing nothing when
    the group shares no variable — SPARQL MINUS scoping, pytest-pinned).
    Query: every turn except the assistant-role ones."""
    from .operators.sparql import sparql

    tri = q_kg_structural(spark, sf)
    return sparql(
        tri,
        """SELECT DISTINCT ?turn
           WHERE { ?c hasTurn ?turn . MINUS { ?turn hasRole role:assistant } }""",
    )


SQL_SPARQL_MINUS = f"""
WITH g AS ({SQL_KG_STRUCTURAL})
SELECT DISTINCT obj AS turn FROM g ht
WHERE ht.pred = 'hasTurn'
  AND NOT EXISTS (SELECT 1 FROM g hr
                  WHERE hr.pred = 'hasRole' AND hr.obj = 'role:assistant'
                    AND hr.subj = ht.obj)
"""


# ontology fixture for q_rdfs_infer — shared verbatim by the Spark side
# and the DuckDB VALUES list so both engines reason over identical schema
_ONTO_ROWS = [
    ("usedTool", "rdfs:subPropertyOf", "invokedResource"),
    ("invokedResource", "rdfs:domain", "class:Turn"),
    ("usedTool", "rdfs:range", "class:Tool"),
    ("hasRole", "rdfs:domain", "class:Turn"),
    ("class:Tool", "rdfs:subClassOf", "class:Resource"),
    ("class:Resource", "rdfs:subClassOf", "class:Entity"),
    ("class:Turn", "rdfs:subClassOf", "class:Event"),
]


def q_rdfs_infer(spark, sf):
    """RDFS forward-chaining entailment (operators/inference.py) — the
    reference's ontology reasoning (rdflib entailment over the LogSet
    class hierarchy) recast as ontology-scale closures + broadcast joins
    against the instance scan.  The fixture chains every rule: usedTool
    subPropertyOf invokedResource (rdfs7), whose DOMAIN types turns
    (rdfs2 *through* the generalization), usedTool's RANGE types tools
    (rdfs3), and both classes walk up subClassOf chains (rdfs9/11).
    Oracle replays the same rules with WITH RECURSIVE closures + joins —
    an independent formulation of the entailment."""
    from .operators.inference import rdfs_materialize

    inst = q_kg_structural(spark, sf).where(
        F.col("pred").isin("usedTool", "hasRole")
    )
    onto = spark.createDataFrame(
        _ONTO_ROWS, "subj string, pred string, obj string"
    )
    return rdfs_materialize(inst.unionByName(onto))


_ONTO_VALUES = ",\n  ".join(
    f"('{s}', '{p}', '{o}')" for s, p, o in _ONTO_ROWS
)

SQL_RDFS_INFER = f"""
WITH RECURSIVE
g AS MATERIALIZED (SELECT * FROM ({SQL_KG_STRUCTURAL}) _g),
inst AS MATERIALIZED (
  SELECT subj, pred, obj FROM g WHERE pred IN ('usedTool', 'hasRole')),
onto(subj, pred, obj) AS (VALUES
  {_ONTO_VALUES}),
spe AS (SELECT subj AS child, obj AS parent FROM onto
        WHERE pred = 'rdfs:subPropertyOf'),
sce AS (SELECT subj AS child, obj AS parent FROM onto
        WHERE pred = 'rdfs:subClassOf'),
spw(node, ancestor) AS (
  SELECT child, parent FROM spe
  UNION
  SELECT w.node, e.parent FROM spw w JOIN spe e ON e.child = w.ancestor),
spc AS MATERIALIZED (
  SELECT node, ancestor FROM spw
  UNION SELECT child, child FROM spe
  UNION SELECT parent, parent FROM spe),
scw(node, ancestor) AS (
  SELECT child, parent FROM sce
  UNION
  SELECT w.node, e.parent FROM scw w JOIN sce e ON e.child = w.ancestor),
scc AS MATERIALIZED (
  SELECT node, ancestor FROM scw
  UNION SELECT child, child FROM sce
  UNION SELECT parent, parent FROM sce),
gen AS MATERIALIZED (
  SELECT i.subj, COALESCE(c.ancestor, i.pred) AS pred, i.obj
  FROM inst i LEFT JOIN spc c ON c.node = i.pred),
dom AS (SELECT subj AS pred, obj AS cls FROM onto
        WHERE pred = 'rdfs:domain'),
rng AS (SELECT subj AS pred, obj AS cls FROM onto
        WHERE pred = 'rdfs:range'),
typed AS MATERIALIZED (
  SELECT gen.subj, 'rdf:type' AS pred, dom.cls AS obj
  FROM gen JOIN dom ON dom.pred = gen.pred
  UNION ALL
  SELECT gen.obj AS subj, 'rdf:type' AS pred, rng.cls AS obj
  FROM gen JOIN rng ON rng.pred = gen.pred
  UNION ALL
  SELECT subj, pred, obj FROM gen WHERE pred = 'rdf:type'),
up AS (
  SELECT t.subj, t.pred, c.ancestor AS obj
  FROM typed t JOIN scc c ON c.node = t.obj)
SELECT DISTINCT subj, pred, obj FROM (
  SELECT subj, pred, obj FROM inst
  UNION ALL SELECT subj, pred, obj FROM onto
  UNION ALL SELECT subj, pred, obj FROM gen
  UNION ALL SELECT subj, pred, obj FROM typed
  UNION ALL SELECT subj, pred, obj FROM up) allrows
"""


# ontology + alias-facts fixture for q_owl_infer — shared verbatim by the
# Spark side and the DuckDB VALUES lists so both engines reason over
# identical schema.  The aliases merge REAL nodes from the structural
# graph (tool:error / tool:purchase) so the rewrite is observable.
_OWL_ONTO_ROWS = [
    ("hasTurn", "owl:inverseOf", "partOf"),
    ("followedBy", "rdf:type", "owl:TransitiveProperty"),
    ("relatedTo", "rdf:type", "owl:SymmetricProperty"),
    ("canonicalKey", "rdf:type", "owl:InverseFunctionalProperty"),
    ("partOf", "rdf:type", "owl:FunctionalProperty"),
]
_OWL_FACT_ROWS = [
    ("tool:err", "canonicalKey", "key:1"),
    ("tool:error", "canonicalKey", "key:1"),
    ("tool:err", "vendor", "vendor:acme"),
    ("tool:purchase", "owl:sameAs", "tool:buy"),
    ("tool:buy", "vendor", "vendor:shop"),
    ("conv:u1", "relatedTo", "conv:u2"),
]

# chains capped at turn_idx < 20 so the transitive closure stays
# fixture-scale on both engines (~210 pairs/conv, not L^2/2 for L~86)
_OWL_INST_FILTER = (
    "pred IN ('hasTurn', 'usedTool') OR (pred = 'followedBy' AND "
    "CAST(regexp_extract(subj, '([0-9]+)$', 1) AS INT) < 20)"
)


def q_owl_infer(spark, sf):
    """OWL-RL-subset entailment (operators/inference.py
    owl_materialize) — ontology-DECLARED entity canonicalization: the
    fixture derives partOf from hasTurn (prp-inv), closes followedBy
    chains (prp-trp, one encoded path-doubling loop for all transitive
    preds), mirrors relatedTo (prp-symp), merges tool:error into
    tool:err via a shared InverseFunctionalProperty key (prp-ifp) and
    tool:purchase into tool:buy via asserted sameAs, then REWRITES the
    whole graph through the distributed-CC canonical map and emits
    membership in star form.  Oracle replays the same single-pass rule
    composition with WITH RECURSIVE closures + window-min star pairs +
    recursive min-label components — an independent formulation."""
    from .operators.inference import owl_materialize

    inst = q_kg_structural(spark, sf).where(F.expr(_OWL_INST_FILTER))
    fixture = spark.createDataFrame(
        _OWL_ONTO_ROWS + _OWL_FACT_ROWS,
        "subj string, pred string, obj string",
    )
    return owl_materialize(inst.unionByName(fixture))


_OWL_ONTO_VALUES = ",\n  ".join(
    f"('{s}', '{p}', '{o}')" for s, p, o in _OWL_ONTO_ROWS
)
_OWL_FACT_VALUES = ",\n  ".join(
    f"('{s}', '{p}', '{o}')" for s, p, o in _OWL_FACT_ROWS
)

SQL_OWL_INFER = f"""
WITH RECURSIVE
g AS MATERIALIZED (SELECT * FROM ({SQL_KG_STRUCTURAL}) _g),
onto(subj, pred, obj) AS (VALUES
  {_OWL_ONTO_VALUES}),
facts(subj, pred, obj) AS (VALUES
  {_OWL_FACT_VALUES}),
inst AS MATERIALIZED (
  SELECT subj, pred, obj FROM g WHERE {_OWL_INST_FILTER}
  UNION ALL SELECT subj, pred, obj FROM facts),
inv AS (SELECT subj AS p, obj AS q FROM onto WHERE pred = 'owl:inverseOf'),
symp AS (SELECT subj AS p FROM onto
         WHERE pred = 'rdf:type' AND obj = 'owl:SymmetricProperty'),
trans AS (SELECT subj AS p FROM onto
          WHERE pred = 'rdf:type' AND obj = 'owl:TransitiveProperty'),
fp AS (SELECT subj AS p FROM onto
       WHERE pred = 'rdf:type' AND obj = 'owl:FunctionalProperty'),
ifp AS (SELECT subj AS p FROM onto
        WHERE pred = 'rdf:type' AND obj = 'owl:InverseFunctionalProperty'),
expanded AS MATERIALIZED (
  SELECT subj, pred, obj FROM inst
  UNION SELECT i.obj, v.q, i.subj FROM inst i JOIN inv v ON i.pred = v.p
  UNION SELECT i.obj, v.p, i.subj FROM inst i JOIN inv v ON i.pred = v.q
  UNION SELECT i.obj, i.pred, i.subj FROM inst i JOIN symp s ON i.pred = s.p),
tedge AS MATERIALIZED (
  SELECT e.pred, e.subj AS s, e.obj AS o
  FROM expanded e JOIN trans t ON e.pred = t.p),
tc(pred, s, o) AS (
  SELECT pred, s, o FROM tedge
  UNION
  SELECT c.pred, c.s, e.o FROM tc c JOIN tedge e
    ON e.pred = c.pred AND e.s = c.o),
fullg AS MATERIALIZED (
  SELECT subj, pred, obj FROM expanded
  UNION SELECT s, pred, o FROM tc),
fp_pairs AS (
  SELECT m AS a, obj AS b FROM (
    SELECT f.obj, min(f.obj) OVER (PARTITION BY f.pred, f.subj) AS m
    FROM fullg f JOIN fp ON f.pred = fp.p) _f
  WHERE obj != m),
ifp_pairs AS (
  SELECT m AS a, subj AS b FROM (
    SELECT f.subj, min(f.subj) OVER (PARTITION BY f.pred, f.obj) AS m
    FROM fullg f JOIN ifp ON f.pred = ifp.p) _i
  WHERE subj != m),
sa AS MATERIALIZED (
  SELECT subj AS a, obj AS b FROM fullg WHERE pred = 'owl:sameAs'
  UNION SELECT a, b FROM fp_pairs
  UNION SELECT a, b FROM ifp_pairs),
bi AS MATERIALIZED (
  SELECT a, b FROM sa UNION SELECT b AS a, a AS b FROM sa),
comp(node, lbl) AS (
  SELECT a, a FROM bi
  UNION
  SELECT e.b, c.lbl FROM comp c JOIN bi e ON e.a = c.node),
canon AS MATERIALIZED (
  SELECT node, min(lbl) AS rep FROM comp GROUP BY node),
rew AS (
  SELECT COALESCE(cs.rep, f.subj) AS subj,
         COALESCE(cp.rep, f.pred) AS pred,
         COALESCE(co.rep, f.obj) AS obj
  FROM fullg f
  LEFT JOIN canon cs ON cs.node = f.subj
  LEFT JOIN canon cp ON cp.node = f.pred
  LEFT JOIN canon co ON co.node = f.obj
  WHERE f.pred != 'owl:sameAs')
SELECT DISTINCT subj, pred, obj FROM (
  SELECT subj, pred, obj FROM rew
  UNION ALL
  SELECT node AS subj, 'owl:sameAs' AS pred, rep AS obj
  FROM canon WHERE node != rep
  UNION ALL SELECT subj, pred, obj FROM onto) allrows
"""


def q_sparql_in(spark, sf):
    """FILTER [NOT] IN lowering — the membership test passes straight
    through to Spark SQL's IN after literal protection and ?var
    rewriting (operators/sparql.py _filter_to_expr), so Catalyst pushes
    it into the scan like any isin filter."""
    from .operators.sparql import sparql

    tri = q_kg_structural(spark, sf)
    return sparql(
        tri,
        """SELECT ?turn ?tool
           WHERE { ?turn usedTool ?tool . ?turn hasRole ?r .
                   FILTER(?tool IN ('tool:error', 'tool:nope')
                          && ?r NOT IN ('role:user', 'role:system')) }""",
    )


SQL_SPARQL_IN = f"""
WITH g AS ({SQL_KG_STRUCTURAL})
SELECT a.subj AS turn, a.obj AS tool
FROM g a JOIN g b ON a.subj = b.subj
WHERE a.pred = 'usedTool' AND b.pred = 'hasRole'
  AND a.obj IN ('tool:error', 'tool:nope')
  AND b.obj NOT IN ('role:user', 'role:system')
"""


def q_sparql_sample(spark, sf):
    """SAMPLE aggregate — SPARQL leaves the pick unspecified; this
    engine picks MIN so the result is deterministic and oracle-
    checkable (same determinism discipline as GROUP_CONCAT's sort)."""
    from .operators.sparql import sparql

    tri = q_kg_structural(spark, sf)
    return sparql(
        tri,
        """SELECT ?conv (SAMPLE(?turn) AS ?first_turn)
                        (COUNT(?turn) AS ?n)
           WHERE { ?conv hasTurn ?turn }""",
    )


SQL_SPARQL_SAMPLE = f"""
WITH g AS ({SQL_KG_STRUCTURAL})
SELECT subj AS conv, min(obj) AS first_turn, count(*) AS n
FROM g WHERE pred = 'hasTurn' GROUP BY subj
"""


def q_sparql_cwhere(spark, sf):
    """CONSTRUCT WHERE shorthand: the template IS the body BGP, so the
    solutions re-instantiate the matched subgraph — distinct
    (subj, pred, obj) rows across BOTH template patterns."""
    from .operators.sparql import sparql

    tri = q_kg_structural(spark, sf)
    return sparql(
        tri, "CONSTRUCT WHERE { ?c hasTurn ?t . ?t usedTool ?x }")


SQL_SPARQL_CWHERE = f"""
WITH g AS ({SQL_KG_STRUCTURAL}),
s AS (SELECT h.subj AS c, h.obj AS t, u.obj AS x
      FROM g h JOIN g u ON u.subj = h.obj
      WHERE h.pred = 'hasTurn' AND u.pred = 'usedTool')
SELECT DISTINCT subj, pred, obj FROM (
  SELECT c AS subj, 'hasTurn' AS pred, t AS obj FROM s
  UNION ALL SELECT t, 'usedTool', x FROM s) _u
"""


def q_sparql_strsplit(spark, sf):
    """STRBEFORE/STRAFTER in BIND — argument-level rewrites to CASE/
    instr/substring expressions (SPARQL returns '' when the separator
    is absent, unlike substring_index which returns the whole string;
    the CASE encodes the spec behavior).  Oracle replays the same CASE
    semantics in DuckDB's dialect — an independent formulation."""
    from .operators.sparql import sparql

    tri = q_kg_structural(spark, sf)
    return sparql(
        tri,
        """SELECT ?turn ?kind ?name
           WHERE { ?turn usedTool ?tool .
                   BIND(STRBEFORE(?tool, ':') AS ?kind) .
                   BIND(STRAFTER(?tool, ':') AS ?name) }""",
    )


SQL_SPARQL_STRSPLIT = f"""
WITH g AS ({SQL_KG_STRUCTURAL})
SELECT subj AS turn,
       CASE WHEN instr(obj, ':') > 0
            THEN substr(obj, 1, instr(obj, ':') - 1) ELSE '' END AS kind,
       CASE WHEN instr(obj, ':') > 0
            THEN substr(obj, instr(obj, ':') + 1) ELSE '' END AS name
FROM g WHERE pred = 'usedTool'
"""


def q_sparql_bnode(spark, sf):
    """Anonymous blank node [ pred obj ; pred obj ] in a triple pattern
    — sugar for a fresh non-projected variable plus the bracketed
    patterns (one solution per matching turn: multiset semantics, no
    implicit DISTINCT)."""
    from .operators.sparql import sparql

    tri = q_kg_structural(spark, sf)
    return sparql(
        tri,
        """SELECT ?conv WHERE {
             ?conv hasTurn [ usedTool 'tool:error' ;
                             hasRole 'role:tool' ] }""",
    )


SQL_SPARQL_BNODE = f"""
WITH g AS ({SQL_KG_STRUCTURAL})
SELECT h.subj AS conv
FROM g h JOIN g u ON u.subj = h.obj JOIN g r ON r.subj = h.obj
WHERE h.pred = 'hasTurn'
  AND u.pred = 'usedTool' AND u.obj = 'tool:error'
  AND r.pred = 'hasRole' AND r.obj = 'role:tool'
"""


def q_walks(spark, sf):
    """DeepWalk-style graph walks with deterministic pseudo-randomness
    (operators/graph.py deterministic_walks): from every nation, 8 steps
    over the same-region neighbor graph, next node = out-neighbor
    minimizing md5(salt:walk_id:step:dst).  One frontier⋈edges join +
    one min_by hash-aggregate per step — O(steps) rounds, work per round
    proportional to frontier out-degree, never all-paths.  The hash
    argmin is the sampler AND the oracle handle: DuckDB replays the
    identical argmin in a recursive CTE, and a resumed job regenerates
    byte-identical walks (the skip-gram corpus downstream never sees a
    shifted sequence)."""
    from .operators.graph import deterministic_walks

    n = _t(spark, sf, "nation").select("n_nationkey", "n_regionkey", "n_name")
    a, b = n.alias("a"), n.alias("b")
    edges = (
        a.join(b, (F.col("a.n_regionkey") == F.col("b.n_regionkey"))
               & (F.col("a.n_nationkey") != F.col("b.n_nationkey")))
        .select(F.col("a.n_name").alias("src"), F.col("b.n_name").alias("dst"))
    )
    starts = n.select(
        F.concat(F.lit("walk:"), "n_name").alias("walk_id"),
        F.col("n_name").alias("node"),
    )
    return deterministic_walks(edges, starts, n_steps=8)


SQL_WALKS = """
WITH RECURSIVE edges AS (
  SELECT a.n_name AS src, b.n_name AS dst
  FROM nation a JOIN nation b
    ON a.n_regionkey = b.n_regionkey AND a.n_nationkey <> b.n_nationkey),
walk(walk_id, step, node) AS (
  SELECT 'walk:'||n_name, 0, n_name FROM nation
  UNION ALL
  SELECT walk_id, step, dst FROM (
    SELECT w.walk_id, w.step + 1 AS step, e.dst,
           row_number() OVER (
             PARTITION BY w.walk_id
             ORDER BY md5('w:'||w.walk_id||':'||(w.step+1)||':'||e.dst)
           ) AS rn
    FROM walk w JOIN edges e ON e.src = w.node
    WHERE w.step < 8)
  WHERE rn = 1)
SELECT walk_id, step, node FROM walk
"""


def q_skipgram(spark, sf):
    """Skip-gram training pairs from the q_walks corpus (operators/
    graph.py skipgram_pairs): (center, context) at distance 1..2 within
    a walk, aggregated to (center, context, n) — the word2vec-over-
    graphs input with multiplicity (pair frequency is the training
    signal).  Plan: one exchange for the per-walk window, lead() per
    offset, no self-join; the oracle recomputes the pairs via an
    ALGORITHM-INDEPENDENT self-join on |step distance|."""
    from .operators.graph import deterministic_walks, skipgram_pairs

    n = _t(spark, sf, "nation").select("n_nationkey", "n_regionkey", "n_name")
    a, b = n.alias("a"), n.alias("b")
    edges = (
        a.join(b, (F.col("a.n_regionkey") == F.col("b.n_regionkey"))
               & (F.col("a.n_nationkey") != F.col("b.n_nationkey")))
        .select(F.col("a.n_name").alias("src"), F.col("b.n_name").alias("dst"))
    )
    starts = n.select(
        F.concat(F.lit("walk:"), "n_name").alias("walk_id"),
        F.col("n_name").alias("node"),
    )
    walks = deterministic_walks(edges, starts, n_steps=8)
    return (
        skipgram_pairs(walks, window=2)
        .groupBy("center", "context")
        .agg(F.count(F.lit(1)).alias("n"))
    )


SQL_SKIPGRAM = """
WITH RECURSIVE edges AS (
  SELECT a.n_name AS src, b.n_name AS dst
  FROM nation a JOIN nation b
    ON a.n_regionkey = b.n_regionkey AND a.n_nationkey <> b.n_nationkey),
walk(walk_id, step, node) AS (
  SELECT 'walk:'||n_name, 0, n_name FROM nation
  UNION ALL
  SELECT walk_id, step, dst FROM (
    SELECT w.walk_id, w.step + 1 AS step, e.dst,
           row_number() OVER (
             PARTITION BY w.walk_id
             ORDER BY md5('w:'||w.walk_id||':'||(w.step+1)||':'||e.dst)
           ) AS rn
    FROM walk w JOIN edges e ON e.src = w.node
    WHERE w.step < 8)
  WHERE rn = 1)
SELECT c.node AS center, x.node AS context, COUNT(*) AS n
FROM walk c JOIN walk x
  ON x.walk_id = c.walk_id
 AND abs(x.step - c.step) BETWEEN 1 AND 2
GROUP BY c.node, x.node
"""


def q_negatives(spark, sf):
    """Deterministic word2vec negative sampling (operators/graph.py
    negative_samples): unigram^0.75 distribution quantized into a slot
    table (two cumsum windows + explode — pure relational construction,
    distributed AND SQL-replayable), draws = md5(salt:center:context:j)
    mod n_slots equi-joined on the table.  Fixture: nations as vocab
    with freq = nationkey+1, pairs = one per (nation, region).  The
    oracle rebuilds the identical slot table and draws in SQL — the
    whole sampler, not just the output shape, is cross-engine checked."""
    from .operators.graph import negative_samples

    n = _t(spark, sf, "nation")
    r = _t(spark, sf, "region")
    pairs = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).select(
        F.col("n_name").alias("center"), F.col("r_name").alias("context"))
    vocab = n.select(
        F.col("n_name").alias("node"),
        (F.col("n_nationkey") + 1).cast("long").alias("freq"))
    return negative_samples(pairs, vocab, k=4, resolution=1024, salt="neg")


SQL_NEGATIVES = """
WITH w AS (
  SELECT n_name AS node, pow(CAST(n_nationkey + 1 AS DOUBLE), 0.75) AS w
  FROM nation),
sized AS (
  SELECT node,
         greatest(1, CAST(floor(w / (SELECT sum(w) FROM w) * 1024) AS BIGINT))
           AS n_slots
  FROM w),
slotted AS (
  SELECT node,
         sum(n_slots) OVER (ORDER BY node) - n_slots AS lo, n_slots
  FROM sized),
slots AS (
  SELECT lo + off AS slot, node
  FROM slotted, unnest(generate_series(0, n_slots - 1)) AS t(off)),
pairs AS (
  SELECT n_name AS center, r_name AS context
  FROM nation JOIN region ON n_regionkey = r_regionkey),
drawn AS (
  SELECT center, context, CAST(j AS INTEGER) AS j,
         CAST(('0x' || substr(md5('neg:'||center||':'||context||':'||j), 1, 8))
              AS BIGINT) % (SELECT count(*) FROM slots) AS slot
  FROM pairs, unnest(generate_series(1, 4)) AS g(j))
SELECT center, context, j, s.node AS negative
FROM drawn d JOIN slots s USING (slot)
WHERE s.node <> d.center AND s.node <> d.context
"""


# SSSP fixture: chains capped like the OWL one so the oracle's
# recursive path enumeration stays fixture-scale
_SSSP_EDGE_FILTER = (
    "pred = 'followedBy' AND "
    "CAST(regexp_extract(subj, '([0-9]+)$', 1) AS INT) < 30"
)


def q_sssp(spark, sf):
    """Weighted single-source shortest paths (operators/graph.py
    shortest_paths — frontier Bellman-Ford, min-keep merge per round,
    convergence probe).  Fixture: each conversation's followedBy chain
    with weight 1 + idx%3 per step, PLUS 2-hop skip edges at constant
    weight 2, sourced at every turn 0 — so the minimum genuinely mixes
    step and skip edges and a later cheaper path must re-open settled
    nodes.  Oracle enumerates all path sums with WITH RECURSIVE and
    takes min(d) — an independent formulation the DAG keeps finite."""
    from .operators.graph import shortest_paths

    tri = q_kg_structural(spark, sf)
    fb = tri.where(F.expr(_SSSP_EDGE_FILTER)).select(
        F.col("subj").alias("src"), F.col("obj").alias("dst"))
    step = fb.select(
        "src", "dst",
        (F.regexp_extract("dst", r"([0-9]+)$", 1).cast("int") % 3 + 1
         ).cast("long").alias("w"))
    skip = (
        fb.alias("a")
        .join(fb.alias("b"), F.col("a.dst") == F.col("b.src"))
        .select(F.col("a.src").alias("src"), F.col("b.dst").alias("dst"),
                F.lit(2).cast("long").alias("w"))
    )
    sources = fb.where(F.col("src").rlike("/0$")).select(
        F.col("src").alias("node")).distinct()
    return shortest_paths(step.unionByName(skip), sources).select(
        "node", "dist")


SQL_SSSP = f"""
WITH RECURSIVE
g AS MATERIALIZED (SELECT * FROM ({SQL_KG_STRUCTURAL}) _g),
fb AS MATERIALIZED (
  SELECT subj AS src, obj AS dst FROM g WHERE {_SSSP_EDGE_FILTER}),
e AS MATERIALIZED (
  SELECT src, dst,
         CAST(CAST(regexp_extract(dst, '([0-9]+)$', 1) AS INT) % 3 + 1
              AS BIGINT) AS w
  FROM fb
  UNION ALL
  SELECT a.src, b.dst, CAST(2 AS BIGINT) AS w
  FROM fb a JOIN fb b ON a.dst = b.src),
srcs AS (SELECT DISTINCT src AS node FROM fb WHERE src LIKE '%/0'),
paths(node, d) AS (
  SELECT node, CAST(0 AS BIGINT) FROM srcs
  UNION
  SELECT e.dst, p.d + e.w FROM paths p JOIN e ON e.src = p.node)
SELECT node, min(d) AS dist FROM paths GROUP BY node
"""


def q_sparql_grouppath(spark, sf):
    """Parenthesized property paths — operators compose over GROUPED
    edge sets: (hasTurn|usedTool)/hasRole walks conv->turn->role AND
    turn->tool (dead end) through one unioned edge set, and
    ^(hasTurn/usedTool) inverts the composed conv->tool relation.
    Lowered by the recursive-descent path evaluator (operators/
    sparql.py _path_edges) to union/join/swap over per-predicate
    pushed-down scans."""
    from .operators.sparql import sparql

    tri = q_kg_structural(spark, sf)
    return sparql(
        tri,
        """SELECT ?conv ?role WHERE {
             ?conv (hasTurn|usedTool)/hasRole ?role .
             ?tool ^(hasTurn/usedTool) ?conv .
             FILTER(?tool = 'tool:error') }""",
    )


SQL_SPARQL_GROUPPATH = f"""
WITH g AS ({SQL_KG_STRUCTURAL}),
e1 AS (SELECT DISTINCT a.subj AS src, b.obj AS dst
       FROM (SELECT subj, obj FROM g WHERE pred IN ('hasTurn', 'usedTool')) a
       JOIN g b ON b.subj = a.obj AND b.pred = 'hasRole'),
e2 AS (SELECT DISTINCT u.obj AS src, h.subj AS dst
       FROM g h JOIN g u ON u.subj = h.obj
       WHERE h.pred = 'hasTurn' AND u.pred = 'usedTool')
SELECT e1.src AS conv, e1.dst AS role
FROM e1 JOIN e2 ON e2.dst = e1.src
WHERE e2.src = 'tool:error'
"""


def q_sparql_groupfilter(spark, sf):
    """Group-scoped FILTER inside NOT EXISTS (and the correlated-filter
    rejection discipline): conversations with no late tool-role turn —
    the filter narrows the gating group BEFORE the anti-join, SPARQL's
    group scoping.  A filter on a variable the group does not bind is
    rejected loudly (correlated evaluation is outside the subset)."""
    from .operators.sparql import sparql

    tri = q_kg_structural(spark, sf)
    return sparql(
        tri,
        """SELECT ?conv WHERE {
             ?conv hasTurn ?turn .
             FILTER NOT EXISTS { ?turn hasRole ?r .
                                 FILTER(?r = 'role:tool') } }""",
    )


SQL_SPARQL_GROUPFILTER = f"""
WITH g AS ({SQL_KG_STRUCTURAL})
SELECT h.subj AS conv
FROM g h
WHERE h.pred = 'hasTurn'
  AND NOT EXISTS (SELECT 1 FROM g r
                  WHERE r.pred = 'hasRole' AND r.subj = h.obj
                    AND r.obj = 'role:tool')
"""


def _region_quads(spark, sf):
    """Nations as quads, one named graph per region (shared by
    q_sparql_graph / q_sparql_from)."""
    n = _t(spark, sf, "nation")
    r = _t(spark, sf, "region")
    base = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).select(
        F.concat(F.lit("nation:"), "n_name").alias("s"),
        F.col("n_nationkey").cast("string").alias("k"),
        F.concat(F.lit("region:"), "r_name").alias("reg"),
        F.concat(F.lit("graph:"), "r_name").alias("g"),
    )
    return base.select(
        F.col("s").alias("subj"),
        F.lit("locatedIn").alias("pred"),
        F.col("reg").alias("obj"),
        F.col("g").alias("graph"),
    ).unionByName(
        base.select(
            F.col("s").alias("subj"),
            F.lit("hasKey").alias("pred"),
            F.col("k").alias("obj"),
            F.col("g").alias("graph"),
        )
    )


def q_sparql_graph(spark, sf):
    """GRAPH (named-graph) clause over a QUADS frame: nations grouped
    into one named graph per region.  The GRAPH ?g group binds ?g from
    the frame's `graph` column (patterns inside one group sharing ?g
    equi-join on it); the default-graph pattern outside matches ALL
    quads (SPARQL union default graph).  A constant graph term compiles
    to a pushed-down equality instead — partition pruning over a
    graph-partitioned quads table."""
    from .operators.sparql import sparql

    quads = _region_quads(spark, sf)
    return sparql(
        quads,
        """SELECT ?g ?n ?k WHERE {
             GRAPH ?g { ?n hasKey ?k } .
             ?n locatedIn 'region:AMERICA' . }
           ORDER BY ?n""",
    )


SQL_SPARQL_GRAPH = """
WITH base AS (
  SELECT 'nation:'||n_name AS s, CAST(n_nationkey AS VARCHAR) AS k,
         'region:'||r_name AS reg, 'graph:'||r_name AS g
  FROM nation JOIN region ON n_regionkey = r_regionkey),
quads AS (
  SELECT s AS subj, 'locatedIn' AS pred, reg AS obj, g AS graph FROM base
  UNION ALL
  SELECT s, 'hasKey', k, g FROM base)
SELECT q1.graph AS g, q1.subj AS n, q1.obj AS k
FROM quads q1 JOIN quads q2 ON q2.subj = q1.subj
WHERE q1.pred = 'hasKey' AND q2.pred = 'locatedIn'
  AND q2.obj = 'region:AMERICA'
ORDER BY n
"""


def q_sparql_from(spark, sf):
    """FROM / FROM NAMED dataset clause (SPARQL 1.1 dataset
    specification): the default graph becomes the MERGE of the FROM
    graphs (here one region's graph — the unconstrained `?n locatedIn
    ?reg` pattern sees only it), and GRAPH patterns range over the
    FROM NAMED list only.  Lowered as a frame rewrite + pattern
    pinning, so the graph restriction reaches the scans as pushed-down
    equalities; with no dataset clause the module's union-default
    convention is unchanged (q_sparql_graph covers that)."""
    from .operators.sparql import sparql

    quads = _region_quads(spark, sf)
    return sparql(
        quads,
        """SELECT ?n ?reg ?k FROM graph:EUROPE FROM NAMED graph:EUROPE
           WHERE { ?n locatedIn ?reg .
                   GRAPH graph:EUROPE { ?n hasKey ?k } }
           ORDER BY ?n""",
    )


SQL_SPARQL_FROM = """
WITH base AS (
  SELECT 'nation:'||n_name AS s, CAST(n_nationkey AS VARCHAR) AS k,
         'region:'||r_name AS reg, 'graph:'||r_name AS g
  FROM nation JOIN region ON n_regionkey = r_regionkey),
quads AS (
  SELECT s AS subj, 'locatedIn' AS pred, reg AS obj, g AS graph FROM base
  UNION ALL
  SELECT s, 'hasKey', k, g FROM base)
SELECT q1.subj AS n, q1.obj AS reg, q2.obj AS k
FROM quads q1 JOIN quads q2 ON q2.subj = q1.subj
WHERE q1.pred = 'locatedIn' AND q1.graph = 'graph:EUROPE'
  AND q2.pred = 'hasKey' AND q2.graph = 'graph:EUROPE'
ORDER BY n
"""


def q_sparql_update(spark, sf):
    """SPARQL 1.1 Update, functional form (operators/sparql_update.py):
    a DELETE/INSERT WHERE request rewrites the region-membership
    predicate for two regions.  Both the delete set and the insert set
    are computed against the ORIGINAL graph, then G' = (G \\ D) UNION I
    as a SET — the oracle replays exactly that algebra (anti-join +
    UNION-dedup) in SQL.  The store-backed form (one atomic CoW commit,
    jobs/update_graph.py) shares this lowering and is covered by
    tests/test_sparql_update.py."""
    from .operators.sparql_update import sparql_update

    n = _t(spark, sf, "nation")
    r = _t(spark, sf, "region")
    base = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    tri = base.select(
        F.concat(F.lit("nation:"), "n_name").alias("subj"),
        F.lit("locatedIn").alias("pred"),
        F.concat(F.lit("region:"), "r_name").alias("obj"),
    ).unionByName(
        base.select(
            F.concat(F.lit("nation:"), "n_name").alias("subj"),
            F.lit("hasKey").alias("pred"),
            F.col("n_nationkey").cast("string").alias("obj"),
        )
    )
    return sparql_update(
        tri,
        """DELETE { ?n locatedIn ?r } INSERT { ?n inRegion ?r }
           WHERE { ?n locatedIn ?r . FILTER(regex(?r, 'AMERICA|ASIA')) }""",
    )


SQL_SPARQL_UPDATE = """
WITH t AS (
  SELECT 'nation:'||n_name AS subj, 'locatedIn' AS pred,
         'region:'||r_name AS obj
  FROM nation JOIN region ON n_regionkey = r_regionkey
  UNION ALL
  SELECT 'nation:'||n_name, 'hasKey', CAST(n_nationkey AS VARCHAR)
  FROM nation JOIN region ON n_regionkey = r_regionkey),
d AS (SELECT subj, pred, obj FROM t
      WHERE pred = 'locatedIn' AND regexp_matches(obj, 'AMERICA|ASIA'))
SELECT subj, pred, obj FROM t ANTI JOIN d USING (subj, pred, obj)
UNION
SELECT subj, 'inRegion' AS pred, obj FROM d
"""


def q_graph_mgmt(spark, sf):
    """SPARQL 1.1 Update graph management (operators/sparql_update.py
    graph_update): MOVE one named graph into an archive graph, ADD a
    second one into it (set semantics in the destination), then CLEAR a
    third — three requests chained functionally over the region quads.
    Each form lowers to a pushed-down filter/union over the graph
    column (partition pruning on a graph-partitioned store); the oracle
    replays the same set algebra in SQL."""
    from .operators.sparql_update import graph_update

    quads = _region_quads(spark, sf)
    out = graph_update(quads, "MOVE GRAPH graph:EUROPE TO graph:ARCHIVE")
    out = graph_update(out, "ADD GRAPH graph:ASIA TO graph:ARCHIVE")
    out = graph_update(out, "CLEAR GRAPH graph:AFRICA")
    return out.select("subj", "pred", "obj", "graph")


SQL_GRAPH_MGMT = """
WITH base AS (
  SELECT 'nation:'||n_name AS s, CAST(n_nationkey AS VARCHAR) AS k,
         'region:'||r_name AS reg, 'graph:'||r_name AS g
  FROM nation JOIN region ON n_regionkey = r_regionkey),
quads AS (
  SELECT s AS subj, 'locatedIn' AS pred, reg AS obj, g AS graph FROM base
  UNION ALL
  SELECT s, 'hasKey', k, g FROM base),
moved AS (  -- MOVE EUROPE -> ARCHIVE (dst empty, src dropped)
  SELECT subj, pred, obj,
         CASE WHEN graph = 'graph:EUROPE' THEN 'graph:ARCHIVE'
              ELSE graph END AS graph
  FROM quads),
added AS (  -- ADD ASIA -> ARCHIVE: union, set semantics in dst
  SELECT * FROM moved
  UNION
  SELECT subj, pred, obj, 'graph:ARCHIVE' AS graph
  FROM moved WHERE graph = 'graph:ASIA')
SELECT subj, pred, obj, graph FROM added
WHERE graph <> 'graph:AFRICA'  -- CLEAR AFRICA
"""


def q_snapshot_delete(spark, sf):
    """Copy-on-write DELETE on the snapshot store (sources/snapshots.py
    delete_where — Iceberg's DELETE FROM): events-as-transcript rows are
    committed, then rows matching `earliest day OR turn_idx % 5 = 0` are
    deleted.  The compound predicate exercises BOTH CoW paths: the
    earliest day's partitions empty completely (mapping drop — the case
    dynamic overwrite alone cannot express) while every other partition
    is rewritten without its matching rows.  Oracle = the surviving rows
    as a plain filter — a CoW delete must equal the declarative
    anti-filter exactly."""
    import shutil
    import tempfile

    from .sources.snapshots import SnapshotTableIO

    e = _t(spark, sf, "events").select(
        F.col("user_id").cast("string").alias("conv_id"),
        F.col("event_id").cast("int").alias("turn_idx"),
        "ts",
        F.col("event_type").alias("etype"),
    )
    d0 = e.agg(F.min(F.to_date("ts")).alias("d")).first()["d"]
    tag = "".join(c if c.isalnum() else "_" for c in sf.rstrip("/").rsplit("/", 1)[-1])
    root = f"{tempfile.gettempdir()}/logset_snap_delete_{tag}_{os.getpid()}"
    shutil.rmtree(root, ignore_errors=True)
    store = SnapshotTableIO(root=root, n_buckets=8)
    store.commit(e)
    store.delete_where(
        spark, f"to_date(ts) = date'{d0}' OR turn_idx % 5 = 0"
    )
    return store.read(spark).select("conv_id", "turn_idx", "ts", "etype")


SQL_SNAPSHOT_DELETE = """
WITH e AS (SELECT CAST(user_id AS VARCHAR) AS conv_id,
                  CAST(event_id AS INTEGER) AS turn_idx, ts,
                  event_type AS etype
           FROM events),
d0 AS (SELECT min(CAST(ts AS DATE)) AS d FROM e)
SELECT conv_id, turn_idx, ts, etype FROM e, d0
WHERE NOT (CAST(ts AS DATE) = d0.d OR turn_idx % 5 = 0)
"""


def q_snapshot_prune(spark, sf):
    """Manifest column-stats pruning (sources/snapshots.py read_pruned —
    Iceberg's min/max file skipping): the committed snapshot records
    per-partition [min, max] of ts; a time-window read then drops whole
    partition dirs from METADATA alone before Spark ever lists them.
    Pruning must be a pure physical optimization, so the oracle is the
    plain BETWEEN filter; the dir-skipping effect itself is pinned in
    tests/test_snapshots.py."""
    import datetime
    import shutil
    import tempfile

    from .sources.snapshots import SnapshotTableIO

    e = _t(spark, sf, "events").select(
        F.col("user_id").cast("string").alias("conv_id"),
        F.col("event_id").cast("int").alias("turn_idx"),
        "ts",
        F.col("event_type").alias("etype"),
    )
    t0 = e.agg(F.min("ts").alias("t")).first()["t"]
    tag = "".join(c if c.isalnum() else "_" for c in sf.rstrip("/").rsplit("/", 1)[-1])
    root = f"{tempfile.gettempdir()}/logset_snap_prune_{tag}_{os.getpid()}"
    shutil.rmtree(root, ignore_errors=True)
    store = SnapshotTableIO(root=root, n_buckets=8)
    store.commit(e, stats_cols=["ts"])
    lo = t0 + datetime.timedelta(days=3)
    hi = t0 + datetime.timedelta(days=5)
    return store.read_pruned(spark, "ts", lo=lo, hi=hi).select(
        "conv_id", "turn_idx", "ts", "etype"
    )


SQL_SNAPSHOT_PRUNE = """
WITH e AS (SELECT CAST(user_id AS VARCHAR) AS conv_id,
                  CAST(event_id AS INTEGER) AS turn_idx, ts,
                  event_type AS etype
           FROM events),
t0 AS (SELECT min(ts) AS t FROM e)
SELECT conv_id, turn_idx, ts, etype FROM e, t0
WHERE ts >= t0.t + INTERVAL 3 DAY AND ts <= t0.t + INTERVAL 5 DAY
"""


def q_mv_incremental(spark, sf):
    """Incrementally-maintained aggregate materialized view
    (operators/matview.py): events-as-transcript rows land in the
    snapshot store (v1), the view is built FULL at v1, then the base
    advances twice — a dynamic overwrite editing the earliest day's
    etype, then a CoW DELETE of turn_idx % 11 = 0 — and the view is
    refreshed INCREMENTALLY from the v1->v3 changelog (diff-driven
    signed partial aggregates merged into only the touched view
    buckets; work is delta-sized, never base-sized).  The query returns
    the maintained view; the oracle recomputes the same aggregate
    declaratively over the replayed final state — incremental
    maintenance must be indistinguishable from full recomputation."""
    import shutil
    import tempfile

    from .operators.matview import IncrementalAggView
    from .sources.snapshots import SnapshotTableIO

    e = _t(spark, sf, "events").select(
        F.col("user_id").cast("string").alias("conv_id"),
        F.col("event_id").cast("int").alias("turn_idx"),
        "ts",
        F.col("event_type").alias("etype"),
    )
    d0 = e.agg(F.min(F.to_date("ts")).alias("d")).first()["d"]
    tag = "".join(c if c.isalnum() else "_" for c in sf.rstrip("/").rsplit("/", 1)[-1])
    root = f"{tempfile.gettempdir()}/logset_mv_incr_{tag}_{os.getpid()}"
    shutil.rmtree(root, ignore_errors=True)
    store = SnapshotTableIO(root=f"{root}/base", n_buckets=8)
    store.commit(e)  # v1: full table
    view = IncrementalAggView(f"{root}/mv", group_cols=["etype"],
                              sum_cols=["turn_idx"], n_buckets=4)
    view.refresh(spark, store)  # full build at v1
    upd = e.filter(F.to_date("ts") == F.lit(d0)).withColumn(
        "etype", F.lit("edited"))
    store.commit(upd)  # v2: dynamic overwrite of day d0
    store.delete_where(spark, F.col("turn_idx") % 11 == 0)  # v3: CoW delete
    view.refresh(spark, store)  # incremental v1 -> v3
    return view.read(spark).select(
        "etype",
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("sum_turn_idx").cast("long").alias("sum_turn"),
    )


SQL_MV_INCREMENTAL = """
WITH base AS (
    SELECT CAST(user_id AS VARCHAR) AS conv_id,
           CAST(event_id AS INT) AS turn_idx, ts, event_type AS etype
    FROM events
),
edited AS (
    SELECT conv_id, turn_idx, ts,
           CASE WHEN CAST(ts AS DATE) =
                     (SELECT MIN(CAST(ts AS DATE)) FROM base)
                THEN 'edited' ELSE etype END AS etype
    FROM base
),
final AS (SELECT * FROM edited WHERE turn_idx % 11 <> 0)
SELECT etype, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(turn_idx) AS BIGINT) AS sum_turn
FROM final GROUP BY etype
"""


def q_zorder(spark, sf):
    """Z-order clustering + file-level min/max skipping
    (operators/zorder.py — the OPTIMIZE ZORDER BY layout): part rows are
    rewritten in Morton order over (p_size, price-in-cents), per-file
    [min,max] boxes land in a manifest, and a rectangle query then DROPS
    whole files from metadata before Spark lists them.  The query reads
    only the surviving files and applies the real predicate; the oracle
    is the plain declarative filter — metadata pruning must be pure IO
    elision (a skipped file containing a qualifying row would change the
    row set and fail the hash).  Rectangle bounds derive from min/max
    with integer-exact arithmetic so both engines compute identical
    cuts."""
    import shutil
    import tempfile

    from .operators.zorder import ZOrderedTable

    p = _t(spark, sf, "part").select(
        "p_partkey",
        F.col("p_size").cast("int").alias("p_size"),
        (F.col("p_retailprice").cast("decimal(18,2)") * 100)
        .cast("long").alias("cents"),
    )
    mm = p.agg(F.min("cents").alias("mn"), F.max("cents").alias("mx")).first()
    lo_c = mm["mn"] + (mm["mx"] - mm["mn"]) // 4
    hi_c = mm["mn"] + (mm["mx"] - mm["mn"]) // 2
    tag = "".join(c if c.isalnum() else "_" for c in sf.rstrip("/").rsplit("/", 1)[-1])
    root = f"{tempfile.gettempdir()}/logset_zorder_{tag}_{os.getpid()}"
    shutil.rmtree(root, ignore_errors=True)
    t = ZOrderedTable(root, "p_size", "cents", bits=12)
    t.write(p, n_files=16)
    return (
        t.read_pruned(spark, lo_a=10, hi_a=25, lo_b=lo_c, hi_b=hi_c)
        .filter(
            (F.col("p_size") >= 10) & (F.col("p_size") <= 25)
            & (F.col("cents") >= lo_c) & (F.col("cents") <= hi_c)
        )
        .select("p_partkey", "p_size", "cents")
    )


SQL_ZORDER = """
WITH p AS (
    SELECT p_partkey, CAST(p_size AS INT) AS p_size,
           CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
    FROM part
),
mm AS (SELECT MIN(cents) AS mn, MAX(cents) AS mx FROM p)
SELECT p_partkey, p_size, cents
FROM p, mm
WHERE p_size BETWEEN 10 AND 25
  AND cents >= mm.mn + (mm.mx - mm.mn) // 4
  AND cents <= mm.mn + (mm.mx - mm.mn) // 2
"""


def q_sparql_negprop(spark, sf):
    """SPARQL negated property set !(p1|p2|...): ONE scan whose pred
    filter is NOT IN — still a pushed-down predicate, never a union of
    per-predicate scans.  Query: every edge that is not conversation
    plumbing (hasTurn/partOf/followedBy) — i.e. the per-turn attribute
    triples."""
    from .operators.sparql import sparql

    tri = q_kg_structural(spark, sf)
    return sparql(
        tri,
        """SELECT DISTINCT ?s ?o
           WHERE { ?s !(hasTurn|partOf|followedBy) ?o }""",
    )


SQL_SPARQL_NEGPROP = f"""
WITH g AS ({SQL_KG_STRUCTURAL})
SELECT DISTINCT subj AS s, obj AS o FROM g
WHERE pred NOT IN ('hasTurn', 'partOf', 'followedBy')
"""


def q_sparql_optpath(spark, sf):
    """SPARQL zero-or-one property path `p?`: the edge set unioned with
    the identity pair for every term of the graph (the zero-length-path
    domain), restricted here to leaf nodes — each leaf pairs with itself
    AND its parent.  Same containment tree as q_sparql_path."""
    from .operators.sparql import sparql

    p = _t(spark, sf, "part")
    base = p.where(F.col("p_partkey").between(2, 255))
    edges = base.select(
        F.concat(F.lit("p:"), F.col("p_partkey").cast("string")).alias("subj"),
        F.lit("partOf").alias("pred"),
        F.concat(F.lit("p:"), F.expr("p_partkey div 2").cast("string")).alias("obj"),
    )
    leaves = base.where(F.col("p_partkey") >= 128).select(
        F.concat(F.lit("p:"), F.col("p_partkey").cast("string")).alias("subj"),
        F.lit("isLeaf").alias("pred"),
        F.lit("true").alias("obj"),
    )
    tri = edges.unionByName(leaves)
    return sparql(
        tri,
        """SELECT DISTINCT ?n ?a
           WHERE { ?n partOf? ?a . ?n isLeaf true }""",
    )


SQL_SPARQL_OPTPATH = """
WITH e AS (SELECT 'p:' || CAST(p_partkey AS VARCHAR) AS child,
                  'p:' || CAST(p_partkey // 2 AS VARCHAR) AS parent,
                  p_partkey AS k
           FROM part WHERE p_partkey BETWEEN 2 AND 255),
leaves AS (SELECT child AS n FROM e WHERE k >= 128)
SELECT DISTINCT l.n, e.parent AS a FROM leaves l JOIN e ON e.child = l.n
UNION
SELECT n, n FROM leaves
"""


def q_sparql_subquery(spark, sf):
    """SPARQL { SELECT ... } subquery: the inner aggregate query
    compiles to its own groupBy plan and inner-joins the outer group on
    the shared ?tool var (Catalyst broadcasts the small aggregate side);
    the outer FILTER then references the subquery's ?n — the canonical
    aggregate-per-group restriction (turns using a popular tool)."""
    from .operators.sparql import sparql

    tri = q_kg_structural(spark, sf)
    return sparql(
        tri,
        """SELECT DISTINCT ?turn ?tool ?n
           WHERE { ?turn usedTool ?tool .
                   { SELECT ?tool (COUNT(?t2) AS ?n)
                     WHERE { ?t2 usedTool ?tool } } .
                   FILTER(?n >= 20) }""",
    )


SQL_SPARQL_SUBQUERY = f"""
WITH g AS ({SQL_KG_STRUCTURAL}),
cnt AS (SELECT obj AS tool, count(*) AS n FROM g
        WHERE pred = 'usedTool' GROUP BY obj)
SELECT DISTINCT u.subj AS turn, u.obj AS tool, cnt.n
FROM g u JOIN cnt ON cnt.tool = u.obj
WHERE u.pred = 'usedTool' AND cnt.n >= 20
"""


def q_sparql_if(spark, sf):
    """SPARQL conditional kit IF/COALESCE in a BIND body (lowered to
    the Spark SQL functions of the same name), over an OPTIONAL-bound
    var: turns flagged by whether they invoked any tool.  The nested
    call shape IF(COALESCE(...) = ..., ...) exercises the depth-2
    expression grammar."""
    from .operators.sparql import sparql

    tri = q_kg_structural(spark, sf)
    return sparql(
        tri,
        """SELECT DISTINCT ?turn ?flag
           WHERE { ?c hasTurn ?turn . OPTIONAL { ?turn usedTool ?tool } .
                   BIND(IF(COALESCE(?tool, 'tool:none') = 'tool:none',
                           'silent', 'tooluse') AS ?flag) }""",
    )


SQL_SPARQL_IF = f"""
WITH g AS ({SQL_KG_STRUCTURAL}),
ht AS (SELECT obj AS turn FROM g WHERE pred = 'hasTurn'),
ut AS (SELECT subj, obj FROM g WHERE pred = 'usedTool')
SELECT DISTINCT ht.turn,
       CASE WHEN COALESCE(ut.obj, 'tool:none') = 'tool:none'
            THEN 'silent' ELSE 'tooluse' END AS flag
FROM ht LEFT JOIN ut ON ut.subj = ht.turn
"""


def _fixture(name: str) -> str:
    here = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tests", "fixtures", name,
    )
    if os.path.exists(here):
        return here
    return os.path.join(os.getcwd(), "tests", "fixtures", name)


TTL_FIXTURE = _fixture("catalog_entry.ttl")
TTL_FLAT_FIXTURE = _fixture("catalog_flat.csv")


def q_sparql_prefix(spark, sf):
    """SPARQL 1.1 PREFIX headers over a REAL loaded catalog: the query
    is written with prefixed names (logset:partOf), expanded against the
    header binding to the full IRIs the Turtle loader produced — the
    end-to-end shape of a user querying an rdflib-serialized catalog.
    The oracle reads the committed pre-flattened triple CSV."""
    from .operators.sparql import sparql
    from .sources.turtle import load_catalog

    tri = load_catalog(spark, TTL_FIXTURE, follow_links=True)
    return sparql(
        tri,
        """PREFIX logset: <http://example.org/logset#>
           SELECT DISTINCT ?s ?c WHERE { ?s logset:partOf ?c }""",
    )


SQL_SPARQL_PREFIX = f"""
SELECT DISTINCT subj AS s, obj AS c
FROM read_csv('{TTL_FLAT_FIXTURE}', header=true, auto_detect=false,
              delim=',', quote='"', escape='"',
              columns={{'subj': 'VARCHAR', 'pred': 'VARCHAR',
                        'obj': 'VARCHAR'}})
WHERE pred = 'http://example.org/logset#partOf'
"""


def q_sparql_ask(spark, sf):
    """ASK query form through the compiler: limit(1) existence probe ->
    ONE boolean row (the scan stops at the first solution, never
    materializing the solution set).  Both an existing and a
    non-existing pattern are probed and unioned so the oracle checks
    true AND false."""
    from .operators.sparql import sparql

    tri = q_kg_structural(spark, sf)
    yes = sparql(tri, "ASK { ?t usedTool tool:error }")
    no = sparql(tri, "ASK { ?t usedTool tool:nonexistent }")
    return (
        yes.select(F.lit("has_error_tool").alias("probe"), "ask")
        .unionByName(
            no.select(F.lit("has_fake_tool").alias("probe"), "ask"))
    )


SQL_SPARQL_ASK = f"""
WITH g AS ({SQL_KG_STRUCTURAL})
SELECT 'has_error_tool' AS probe,
       EXISTS(SELECT 1 FROM g WHERE pred = 'usedTool'
                AND obj = 'tool:error') AS ask
UNION ALL
SELECT 'has_fake_tool',
       EXISTS(SELECT 1 FROM g WHERE pred = 'usedTool'
                AND obj = 'tool:nonexistent')
"""


def q_sparql_describe(spark, sf):
    """DESCRIBE query form: the concise neighborhood of a resource —
    subject-of UNION object-of, both pushed-down scans (rdflib's
    Graph.triples((uri,*,*)) + ((*,*,uri)) shape)."""
    from .operators.sparql import sparql

    tri = q_kg_structural(spark, sf)
    return sparql(tri, "DESCRIBE role:tool")


SQL_SPARQL_DESCRIBE = f"""
WITH g AS ({SQL_KG_STRUCTURAL})
SELECT DISTINCT subj, pred, obj FROM g
WHERE subj = 'role:tool' OR obj = 'role:tool'
"""


def q_sparql_count_distinct(spark, sf):
    """DISTINCT inside SPARQL set functions: per conversation, the
    number of DISTINCT tools its turns used — COUNT(DISTINCT ?v)
    lowered to the Catalyst distinct aggregate (partial sets merged
    across partitions, no pre-distinct of the solution multiset)."""
    from .operators.sparql import sparql

    tri = q_kg_structural(spark, sf)
    return sparql(
        tri,
        """SELECT ?conv (COUNT(DISTINCT ?tool) AS ?n_tools)
           WHERE { ?conv hasTurn ?turn . ?turn usedTool ?tool }""",
    )


SQL_SPARQL_COUNT_DISTINCT = f"""
WITH g AS ({SQL_KG_STRUCTURAL})
SELECT ht.subj AS conv, count(DISTINCT ut.obj) AS n_tools
FROM g ht JOIN g ut ON ut.subj = ht.obj
WHERE ht.pred = 'hasTurn' AND ut.pred = 'usedTool'
GROUP BY ht.subj
"""


def q_sparql_having(spark, sf):
    """SPARQL HAVING lowering: the aggregate query's post-groupBy filter
    over its aggregate aliases — tools used by more than 400 turns."""
    from .operators.sparql import sparql

    tri = q_kg_structural(spark, sf)
    return sparql(
        tri,
        """SELECT ?tool (COUNT(?turn) AS ?n_uses)
           WHERE { ?turn usedTool ?tool } HAVING(?n_uses > 400)""",
    )


SQL_SPARQL_HAVING = f"""
WITH g AS ({SQL_KG_STRUCTURAL})
SELECT obj AS tool, count(*) AS n_uses
FROM g WHERE pred = 'usedTool' GROUP BY obj HAVING count(*) > 400
"""


def q_sparql_groupconcat(spark, sf):
    """GROUP_CONCAT aggregate: per-conversation tool list, SORTED before
    joining so the string is deterministic (SPARQL leaves the order
    unspecified; a sorted implementation is conforming AND oracle-
    checkable — DuckDB replays it with string_agg(... ORDER BY))."""
    from .operators.sparql import sparql

    tri = q_kg_structural(spark, sf)
    return sparql(
        tri,
        """SELECT ?turn (GROUP_CONCAT(?o) AS ?preds)
           WHERE { ?turn usedTool ?o }""",
    )


SQL_SPARQL_GROUPCONCAT = f"""
WITH g AS ({SQL_KG_STRUCTURAL})
SELECT subj AS turn, string_agg(obj, ';' ORDER BY obj) AS preds
FROM g WHERE pred = 'usedTool' GROUP BY subj
"""


def q_sparql_exists(spark, sf):
    """Positive FILTER EXISTS lowering: left-semi join on the shared
    vars (the J5 primitive inside the SPARQL algebra) — turns that did
    invoke a tool, with their conversation."""
    from .operators.sparql import sparql

    tri = q_kg_structural(spark, sf)
    return sparql(
        tri,
        """SELECT DISTINCT ?c ?turn
           WHERE { ?c hasTurn ?turn . FILTER EXISTS { ?turn usedTool ?t } }""",
    )


SQL_SPARQL_EXISTS = f"""
WITH g AS ({SQL_KG_STRUCTURAL})
SELECT DISTINCT subj AS c, obj AS turn FROM g ht
WHERE ht.pred = 'hasTurn'
  AND EXISTS (SELECT 1 FROM g ut
              WHERE ut.pred = 'usedTool' AND ut.subj = ht.obj)
"""


def q_sparql_invpath(spark, sf):
    """Inverse property path `^usedTool/^hasTurn`: tool -> turn -> conv
    entirely through swapped-endpoint scans composed by one midpoint
    equi-join — the rdflib `^` path operator as a distributed plan."""
    from .operators.sparql import sparql

    tri = q_kg_structural(spark, sf)
    return sparql(
        tri,
        "SELECT DISTINCT ?tool ?conv WHERE { ?tool ^usedTool/^hasTurn ?conv }",
    )


SQL_SPARQL_INVPATH = f"""
WITH g AS ({SQL_KG_STRUCTURAL})
SELECT DISTINCT ut.obj AS tool, ht.subj AS conv
FROM g ut JOIN g ht ON ht.obj = ut.subj
WHERE ut.pred = 'usedTool' AND ht.pred = 'hasTurn'
"""


def q_sparql_altpath(spark, sf):
    """Property-path ALTERNATION `usedTool|hasRole`: the union of the
    two predicates' edge sets, each arm one pushed-down filtered scan
    (on a vertical layout each arm prunes to its own files)."""
    from .operators.sparql import sparql

    tri = q_kg_structural(spark, sf)
    return sparql(
        tri, "SELECT DISTINCT ?s ?o WHERE { ?s usedTool|hasRole ?o }"
    )


SQL_SPARQL_ALTPATH = f"""
WITH g AS ({SQL_KG_STRUCTURAL})
SELECT DISTINCT subj AS s, obj AS o
FROM g WHERE pred IN ('usedTool', 'hasRole')
"""


def q_sparql_seqpath(spark, sf):
    """Property-path SEQUENCE `hasTurn/usedTool`: relational composition
    of the two edge sets — one equi-join on the midpoint turn, the same
    plan the explicit 2-pattern BGP compiles to, arriving via the path
    syntax."""
    from .operators.sparql import sparql

    tri = q_kg_structural(spark, sf)
    return sparql(
        tri, "SELECT DISTINCT ?conv ?tool WHERE { ?conv hasTurn/usedTool ?tool }"
    )


SQL_SPARQL_SEQPATH = f"""
WITH g AS ({SQL_KG_STRUCTURAL})
SELECT DISTINCT a.subj AS conv, b.obj AS tool
FROM g a JOIN g b ON a.obj = b.subj
WHERE a.pred = 'hasTurn' AND b.pred = 'usedTool'
"""


def q_sparql_starpath(spark, sf):
    """Property-path ZERO-OR-MORE `partOf*` over the binary-tree part
    hierarchy (same fixture as q_sparql_path): the distributed closure
    UNIONed with the identity pair for every graph term, here joined
    against the leaf marker so the zero-length pairs surface as
    (leaf, leaf) rows — the SPARQL zero-length-path semantics the `+`
    query cannot express."""
    from .operators.sparql import sparql

    p = _t(spark, sf, "part")
    base = p.where(F.col("p_partkey").between(2, 255))
    edges = base.select(
        F.concat(F.lit("p:"), F.col("p_partkey").cast("string")).alias("subj"),
        F.lit("partOf").alias("pred"),
        F.concat(F.lit("p:"), F.expr("p_partkey div 2").cast("string")).alias("obj"),
    )
    leaves = base.where(F.col("p_partkey") >= 128).select(
        F.concat(F.lit("p:"), F.col("p_partkey").cast("string")).alias("subj"),
        F.lit("isLeaf").alias("pred"),
        F.lit("true").alias("obj"),
    )
    tri = edges.unionByName(leaves)
    return sparql(
        tri,
        """SELECT DISTINCT ?n ?a
           WHERE { ?n partOf* ?a . ?n isLeaf true }""",
    )


SQL_SPARQL_STARPATH = """
WITH RECURSIVE
e AS (SELECT 'p:' || CAST(p_partkey AS VARCHAR) AS node,
             'p:' || CAST(p_partkey // 2 AS VARCHAR) AS ancestor,
             p_partkey AS k
      FROM part WHERE p_partkey BETWEEN 2 AND 255),
walk(node, ancestor) AS (
  SELECT node, ancestor FROM e
  UNION
  SELECT w.node, e.ancestor FROM walk w JOIN e ON e.node = w.ancestor),
leaves AS (SELECT node FROM e WHERE k >= 128)
SELECT DISTINCT w.node AS n, w.ancestor AS a
FROM walk w JOIN leaves l ON l.node = w.node
UNION
SELECT node AS n, node AS a FROM leaves
"""


def q_percent_rank(spark, sf):
    """Relative-rank window family (percent_rank + cume_dist) over each
    event_type's value distribution — the remaining W-kit members after
    rank/dense_rank/ntile.  Rounded to 6dp: both engines compute the
    same rational numbers, rounding only guards float formatting."""
    e = _t(spark, sf, "events").where(F.col("event_id") % 10 == 0)
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    return e.select(
        "event_id",
        "event_type",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


SQL_PERCENT_RANK = """
SELECT event_id, event_type,
       round(percent_rank() OVER w, 6) AS pct_rank,
       round(cume_dist() OVER w, 6) AS cume
FROM events WHERE event_id % 10 = 0
WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
"""


def q_corr(spark, sf):
    """Bivariate statistics aggregate: Pearson correlation + sample
    covariance of (value, user_id) per event_type — the statistical agg
    family beyond sum/avg/stddev.  4dp rounding absorbs the different
    (but numerically stable at this scale) summation orders."""
    e = _t(spark, sf, "events")
    return e.groupBy("event_type").agg(
        F.round(F.corr("value", F.col("user_id").cast("double")), 4).alias("corr_vu"),
        F.round(F.covar_samp("value", F.col("user_id").cast("double")), 4).alias("covar_vu"),
        F.count("*").alias("n"),
    )


SQL_CORR = """
SELECT event_type,
       round(corr(value, CAST(user_id AS DOUBLE)), 4) AS corr_vu,
       round(covar_samp(value, CAST(user_id AS DOUBLE)), 4) AS covar_vu,
       count(*) AS n
FROM events GROUP BY event_type
"""


def q_grouping_sets(spark, sf):
    """Explicit GROUPING SETS — the general form rollup/cube specialize
    (q_rollup covers the hierarchy case); issued through spark.sql over
    a temp view, exercising the SQL surface alongside the DataFrame DSL.
    grouping() flags disambiguate a grouped-out NULL from a data NULL."""
    _t(spark, sf, "orders").createOrReplaceTempView("orders_v")
    return spark.sql("""
        SELECT o_orderstatus, o_orderpriority, count(*) AS n,
               CAST(grouping(o_orderstatus) AS INT) AS g_status,
               CAST(grouping(o_orderpriority) AS INT) AS g_prio
        FROM orders_v
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """)


SQL_GROUPING_SETS = """
SELECT o_orderstatus, o_orderpriority, count(*) AS n,
       CAST(grouping(o_orderstatus) AS INT) AS g_status,
       CAST(grouping(o_orderpriority) AS INT) AS g_prio
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
"""


def q_outliers(spark, sf):
    """Per-group z-score outlier detection: per event_type mean/stddev
    in one aggregation, broadcast back, |z| >= 2.5 flagged.  Both mu and
    sigma are ONE float expression over decimal-staged exact sums
    (sum, sum-of-squares, count), so the aggregation is order-
    independent end-to-end — a native stddev_samp is a float partial
    aggregate whose result depends on partial-merge order and can flip
    a borderline |z| between engines (ADVICE r02).  Degenerate groups
    (n<2 or zero variance) get NULL sigma and are dropped by the
    predicate on both engines identically."""
    e = _t(spark, sf, "events")
    d = _dec(F.col("value"))
    stats = e.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(d).alias("s"),
        F.sum((d * d).cast("decimal(38,4)")).alias("ss"),
    )
    mu = F.col("s").cast("double") / F.col("n")
    var = (
        F.col("ss").cast("double")
        - F.col("s").cast("double") * F.col("s").cast("double") / F.col("n")
    ) / (F.col("n") - 1)
    stats = stats.select(
        "event_type",
        mu.alias("mu"),
        F.when((F.col("n") > 1) & (var > 0), F.sqrt(var)).alias("sigma"),
    )
    z = (F.col("value") - F.col("mu")) / F.col("sigma")
    return (
        e.join(F.broadcast(stats), "event_type")
        .where(F.abs(z) >= 2.5)
        .select(
            "event_id", "event_type", F.round("value", 4).alias("value"),
            F.round(z, 4).alias("zscore"),
        )
    )


SQL_OUTLIERS = """
WITH stats AS (
  SELECT event_type,
         count(*) AS n,
         sum(CAST(value AS DECIMAL(18,2))) AS s,
         sum(CAST(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))
                  AS DECIMAL(38,4))) AS ss
  FROM events GROUP BY event_type),
sig AS (
  SELECT event_type,
         CAST(s AS DOUBLE) / n AS mu,
         CASE WHEN n > 1
               AND (CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) / (n - 1) > 0
              THEN sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) / (n - 1))
         END AS sigma
  FROM stats)
SELECT event_id, e.event_type, round(value, 4) AS value,
       round((value - mu) / sigma, 4) AS zscore
FROM events e JOIN sig s ON e.event_type = s.event_type
WHERE abs((value - mu) / sigma) >= 2.5
"""


def q_anomaly(spark, sf):
    """Log-volume anomaly detection — the observability query a LogSet
    operator runs hourly: per (event_type, hour) counts flagged when an
    hour's volume exceeds 3x that type's exact mean hourly volume (the
    burst signal).  All arithmetic integer-exact (counts, n*hours vs
    3*total as cross-multiplication), so the flag is engine-portable
    with no float threshold ambiguity.  One narrow groupBy + one
    broadcast join of per-type totals — two exchanges, both on the tiny
    (type, hour) domain."""
    e = _t(spark, sf, "events")
    hourly = e.groupBy(
        F.col("event_type").alias("etype"),
        F.date_trunc("hour", "ts").alias("hour"),
    ).agg(F.count("*").alias("n"))
    totals = hourly.groupBy("etype").agg(
        F.sum("n").alias("tot"), F.count("*").alias("hours")
    )
    return (
        hourly.join(F.broadcast(totals), "etype")
        # n > 3 * (tot/hours)  <=>  n * hours > 3 * tot  (integer-exact)
        .where(F.col("n") * F.col("hours") > 3 * F.col("tot"))
        .select("etype", "hour", "n")
    )


SQL_ANOMALY = """
WITH hourly AS (
  SELECT event_type AS etype, date_trunc('hour', ts) AS hour, count(*) AS n
  FROM events GROUP BY 1, 2),
tot AS (
  SELECT etype, sum(n) AS tot, count(*) AS hours FROM hourly GROUP BY 1)
SELECT h.etype, h.hour, h.n
FROM hourly h JOIN tot t ON h.etype = t.etype
WHERE h.n * t.hours > 3 * t.tot
"""


def q_cooccur(spark, sf):
    """Co-mention lift — the association signal behind "these two
    entities belong together" link suggestions: for every pair of
    event types co-occurring in a user's history, lift =
    P(x,y)/(P(x)P(y)) materialized as the INTEGER-EXACT scaled ratio
    (n_xy * N * 10^6) / (n_x * n_y) so the cross-engine compare has no
    float division.  Pair generation is a per-user self-join over the
    (user, type) incidence (bounded by the tiny type vocabulary per
    user, never events^2); ordered pairs x < y keep one row per pair."""
    e = _t(spark, sf, "events")
    inc = e.select(
        F.col("user_id").alias("u"), F.col("event_type").alias("t")
    ).distinct()
    n_users = inc.select("u").distinct().count()
    per_t = inc.groupBy("t").agg(F.count("*").alias("n_t"))
    a = inc.select("u", F.col("t").alias("x"))
    b = inc.select("u", F.col("t").alias("y"))
    pairs = (
        a.join(b, "u")
        .where(F.col("x") < F.col("y"))
        .groupBy("x", "y")
        .agg(F.count("*").alias("n_xy"))
    )
    return (
        pairs.join(F.broadcast(per_t.select(F.col("t").alias("x"),
                                            F.col("n_t").alias("n_x"))), "x")
        .join(F.broadcast(per_t.select(F.col("t").alias("y"),
                                       F.col("n_t").alias("n_y"))), "y")
        .select(
            "x", "y", "n_xy",
            # integer DIV, not float '/': cast-of-double rounds in
            # DuckDB but truncates in Spark — floor division on exact
            # int64 is engine-identical (products stay far below 2^63)
            F.expr(
                f"(n_xy * CAST({n_users} AS BIGINT) * 1000000) "
                "div (n_x * n_y)"
            ).alias("lift_ppm"),
        )
    )


SQL_COOCCUR = """
WITH inc AS (SELECT DISTINCT user_id AS u, event_type AS t FROM events),
n_users AS (SELECT count(DISTINCT u) AS nu FROM inc),
per_t AS (SELECT t, count(*) AS n_t FROM inc GROUP BY t),
pairs AS (
  SELECT a.t AS x, b.t AS y, count(*) AS n_xy
  FROM inc a JOIN inc b ON a.u = b.u AND a.t < b.t
  GROUP BY 1, 2)
SELECT x, y, n_xy,
       CAST((n_xy * nu * 1000000) // (px.n_t * py.n_t) AS BIGINT) AS lift_ppm
FROM pairs
JOIN per_t px ON px.t = x
JOIN per_t py ON py.t = y
CROSS JOIN n_users
"""


def q_transitions(spark, sf):
    """Event-transition matrix (first-order Markov counts): lead() over
    each user's time-ordered events, then count (from, to) pairs — one
    narrow per-user window + one small groupBy; the sequence-mining
    primitive behind next-action models."""
    e = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = e.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).where(F.col("to_type").isNotNull())
    return pairs.groupBy("from_type", "to_type").agg(
        F.count("*").alias("n")
    )


SQL_TRANSITIONS = """
WITH p AS (
  SELECT event_type AS from_type,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
  FROM events)
SELECT from_type, to_type, count(*) AS n
FROM p WHERE to_type IS NOT NULL GROUP BY from_type, to_type
"""


def q_funnel(spark, sf):
    """Ordered funnel (signup -> first click AFTER it -> first purchase
    after THAT) per user, reported as stage reach counts.  The ordering
    constraint is the point: three conditional-min aggregations, each
    joined back so the next stage's min is bounded below by the previous
    stage's timestamp — strictly one groupBy + one (broadcast-sized,
    per-user) join per stage, never a per-user sort or UDF."""
    e = _t(spark, sf, "events").select("user_id", "event_type", "ts")
    s1 = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("t1")
    )
    s2 = (
        e.join(s1, "user_id")
        .groupBy("user_id", "t1")
        .agg(
            F.min(
                F.when(
                    (F.col("event_type") == "click") & (F.col("ts") > F.col("t1")),
                    F.col("ts"),
                )
            ).alias("t2")
        )
    )
    s3 = (
        e.join(s2, "user_id")
        .groupBy("user_id", "t1", "t2")
        .agg(
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") > F.col("t2")),
                    F.col("ts"),
                )
            ).alias("t3")
        )
    )
    return s3.agg(
        F.count("t1").alias("n_signup"),
        F.count("t2").alias("n_click_after"),
        F.count("t3").alias("n_purchase_after"),
    )


SQL_FUNNEL = """
WITH s1 AS (
  SELECT user_id, min(CASE WHEN event_type = 'signup' THEN ts END) AS t1
  FROM events GROUP BY user_id),
s2 AS (
  SELECT e.user_id, s1.t1,
         min(CASE WHEN e.event_type = 'click' AND e.ts > s1.t1 THEN e.ts END) AS t2
  FROM events e JOIN s1 ON e.user_id = s1.user_id
  GROUP BY e.user_id, s1.t1),
s3 AS (
  SELECT e.user_id, s2.t1, s2.t2,
         min(CASE WHEN e.event_type = 'purchase' AND e.ts > s2.t2 THEN e.ts END) AS t3
  FROM events e JOIN s2 ON e.user_id = s2.user_id
  GROUP BY e.user_id, s2.t1, s2.t2)
SELECT count(t1) AS n_signup, count(t2) AS n_click_after,
       count(t3) AS n_purchase_after
FROM s3
"""


def q_retention(spark, sf):
    """Cohort retention matrix: users cohorted by first-signup week,
    counted as retained in each later week they show ANY activity.
    Two aggregations + one join, the standard warehouse shape — the
    distinct-(user, week) activity set is the only shuffle of
    event-scale data, and it shrinks the table before the cohort join."""
    e = _t(spark, sf, "events")
    cohort = (
        e.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.date_trunc("week", F.min("ts")).alias("cohort_week"))
    )
    activity = e.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("week")
    ).distinct()
    return (
        activity.join(cohort, "user_id")
        .where(F.col("week") >= F.col("cohort_week"))
        .groupBy(
            "cohort_week",
            (F.datediff(F.col("week"), F.col("cohort_week")) / 7)
            .cast("int")
            .alias("weeks_since"),
        )
        .agg(F.count_distinct("user_id").alias("n_users"))
    )


SQL_RETENTION = """
WITH cohort AS (
  SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
  FROM events WHERE event_type = 'signup' GROUP BY user_id),
activity AS (
  SELECT DISTINCT user_id, date_trunc('week', ts) AS week FROM events)
SELECT c.cohort_week,
       CAST(date_diff('day', c.cohort_week, a.week) / 7 AS INTEGER) AS weeks_since,
       count(DISTINCT a.user_id) AS n_users
FROM activity a JOIN cohort c ON a.user_id = c.user_id
WHERE a.week >= c.cohort_week
GROUP BY c.cohort_week, weeks_since
"""


def q_gapfill(spark, sf):
    """Time-series resample + forward fill: per user, a contiguous DAILY
    grid from first to last event day (F.sequence -> explode: grid
    generation is distributed, never a driver loop), daily max(value)
    where observed, then last-non-null carried forward via
    last(ignorenulls) over the per-user day order.  The canonical
    gap-fill shape for sensor/metric tables at scale — one window, one
    groupBy, grid rows generated where the user's data lives."""
    e = _t(spark, sf, "events").select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day"),
        F.col("value"),
    )
    bounds = e.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    grid = bounds.select(
        "user_id",
        F.explode(
            F.sequence("d0", "d1", F.expr("interval 1 day"))
        ).alias("day"),
    )
    obs = e.groupBy("user_id", "day").agg(
        F.round(F.max("value"), 4).alias("obs_val")
    )
    w = Window.partitionBy("user_id").orderBy("day")
    return (
        grid.join(obs, ["user_id", "day"], "left")
        .select(
            "user_id",
            "day",
            F.last("obs_val", ignorenulls=True).over(w).alias("filled_val"),
            F.col("obs_val").isNotNull().alias("observed"),
        )
    )


SQL_GAPFILL = """
WITH e AS (SELECT user_id, date_trunc('day', ts) AS day, value FROM events),
bounds AS (SELECT user_id, min(day) AS d0, max(day) AS d1 FROM e GROUP BY user_id),
grid AS (
  SELECT user_id, unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
  FROM bounds),
obs AS (SELECT user_id, day, round(max(value), 4) AS obs_val
        FROM e GROUP BY user_id, day)
SELECT g.user_id, g.day,
       last_value(o.obs_val IGNORE NULLS)
         OVER (PARTITION BY g.user_id ORDER BY g.day) AS filled_val,
       o.obs_val IS NOT NULL AS observed
FROM grid g LEFT JOIN obs o ON g.user_id = o.user_id AND g.day = o.day
"""


_PROFILE_COLS = ("event_id", "user_id", "event_type")


def q_profile(spark, sf):
    """One-pass column profiler (operators/quality.py) — the computed
    descriptive metadata a catalog tool records per artifact, as a single
    wide aggregate whose shuffle carries one row per (column, metric).
    Long-format output; numeric values stringified by the engine cast
    (int/string columns only here — double/timestamp casts format
    differently across engines and belong to a rows-only profile)."""
    from .operators.quality import profile

    return profile(_t(spark, sf, "events"), list(_PROFILE_COLS))


SQL_PROFILE = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS "column", '{m}' AS metric,
        CAST({expr} AS VARCHAR) AS value FROM events"""
    for c in _PROFILE_COLS
    for m, expr in (
        ("count", f"count({c})"),
        ("nulls", f"sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END)"),
        ("distinct", f"count(DISTINCT {c})"),
        ("min", f"min({c})"),
        ("max", f"max({c})"),
    )
)


def q_expectations(spark, sf):
    """Deequ-style expectation suite as counted checks — the quality
    gate a 100 TB ingest runs before publishing a partition: primary-key
    uniqueness (one groupBy), referential integrity orders->customer
    (one key-pruned anti-join), completeness (null count)."""
    from .operators.quality import (
        expect_complete,
        expect_references,
        expect_unique,
        run_expectations,
    )

    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer")
    return run_expectations([
        expect_unique(o, ["o_orderkey"]),
        expect_references(o, "o_custkey", c, "c_custkey"),
        expect_complete(o, "o_orderdate"),
    ])


SQL_EXPECTATIONS = """
SELECT 'unique(o_orderkey)' AS check, CAST(COALESCE((
         SELECT sum(n) FROM (SELECT count(*) AS n FROM orders
                             GROUP BY o_orderkey HAVING count(*) > 1) d
       ), 0) AS BIGINT) AS violations,
       (SELECT count(*) FROM orders) AS total
UNION ALL
SELECT 'references(o_custkey->c_custkey)',
       CAST((SELECT count(*) FROM orders WHERE o_custkey IS NOT NULL
          AND o_custkey NOT IN (SELECT c_custkey FROM customer)) AS BIGINT),
       (SELECT count(*) FROM orders)
UNION ALL
SELECT 'complete(o_orderdate)',
       CAST((SELECT sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END)
             FROM orders) AS BIGINT),
       (SELECT count(*) FROM orders)
"""


def q_sparql_construct(spark, sf):
    """SPARQL CONSTRUCT — the reference's graph-BUILDING shape (rdflib
    users query one graph and add the bindings to another): the WHERE
    solutions instantiate each template pattern, here inverting hasTurn
    into partOf/contains pairs.  Distinct because a graph is a set."""
    from .operators.sparql import sparql

    tri = q_kg_structural(spark, sf)
    return sparql(
        tri,
        """CONSTRUCT { ?t inConv ?c . ?c contains ?t }
           WHERE { ?c hasTurn ?t }""",
    )


SQL_SPARQL_CONSTRUCT = f"""
WITH g AS ({SQL_KG_STRUCTURAL}),
ht AS (SELECT subj AS c, obj AS t FROM g WHERE pred = 'hasTurn')
SELECT DISTINCT * FROM (
  SELECT t AS subj, 'inConv' AS pred, c AS obj FROM ht
  UNION ALL
  SELECT c, 'contains', t FROM ht)
"""


def q_sparql_optional(spark, sf):
    """SPARQL OPTIONAL = the algebra's LeftJoin: turns keep their role
    binding whether or not a usedTool triple exists (most turns have
    tool NULL — exactly the unbound-variable semantics)."""
    from .operators.sparql import sparql

    tri = q_kg_structural(spark, sf)
    return sparql(
        tri,
        """SELECT DISTINCT ?turn ?role ?tool
           WHERE { ?turn hasRole ?role . OPTIONAL { ?turn usedTool ?tool } }""",
    )


SQL_SPARQL_OPTIONAL = f"""
WITH g AS ({SQL_KG_STRUCTURAL})
SELECT DISTINCT a.subj AS turn, a.obj AS role, b.obj AS tool
FROM g a LEFT JOIN (SELECT subj, obj FROM g WHERE pred = 'usedTool') b
  ON a.subj = b.subj
WHERE a.pred = 'hasRole'
"""


def q_dedup_cluster(spark, sf):
    """Near-dup document CLUSTERS — the full dedup flow a training corpus
    runs: LSH-block -> verify (q_dedup_ngram pairs, jaccard >= 0.4) ->
    connected components -> canonical representative per cluster (keep-one
    policy).  Forced down the DISTRIBUTED CC loop (small_graph_edges=0).
    Node ids are zero-padded so CC's lexicographic min label == numeric
    min doc_id; only clustered docs appear (singletons have no edges)."""
    from .operators.cc import connected_components

    pairs = q_dedup_ngram(spark, sf)
    pad = lambda c: F.lpad(F.col(c).cast("string"), 12, "0")  # noqa: E731
    edges = pairs.select(pad("doc_a").alias("src"), pad("doc_b").alias("dst"))
    comp = connected_components(edges, small_graph_edges=0)
    return comp.select(
        F.col("node").cast("bigint").alias("doc_id"),
        F.col("component").cast("bigint").alias("canon_doc_id"),
    )


SQL_DEDUP_CLUSTER = f"""
WITH RECURSIVE
pairs AS ({SQL_DEDUP_NGRAM}),
base AS (SELECT lpad(CAST(doc_a AS VARCHAR), 12, '0') AS src,
                lpad(CAST(doc_b AS VARCHAR), 12, '0') AS dst FROM pairs),
edges AS (SELECT src, dst FROM base UNION SELECT dst, src FROM base),
walk(node, comp) AS (
  SELECT src AS node, src AS comp FROM edges
  UNION
  SELECT e.dst AS node, w.comp FROM walk w JOIN edges e ON e.src = w.node)
SELECT CAST(node AS BIGINT) AS doc_id,
       CAST(min(comp) AS BIGINT) AS canon_doc_id
FROM walk GROUP BY node
"""


def q_tfidf(spark, sf):
    """Text analysis: per-document top-3 keywords by TF-IDF.  tf = term
    count in doc, idf = ln(n_docs / df); stopwords dropped; ties broken
    by token asc so the ranking is total.  n_docs rides a broadcast
    1-row aggregate (no driver collect); df joins on the token — all
    shuffles are on token/doc keys, nothing quadratic."""
    d = _t(spark, sf, "documents")
    tok = d.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.lower("text"), F.lit("[a-z]+"), 0)
        ).alias("word"),
    ).where(~F.col("word").isin(*STOPWORDS))
    tf = tok.groupBy("doc_id", "word").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("word").agg(F.count("*").alias("df"))
    ndocs = d.agg(F.count_distinct("doc_id").alias("n_docs"))
    scored = tf.join(dfreq, "word").crossJoin(F.broadcast(ndocs))
    tfidf = F.col("tf") * F.log(F.col("n_docs") / F.col("df"))
    w = Window.partitionBy("doc_id").orderBy(F.desc(tfidf), F.asc("word"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select("doc_id", "rnk", "word", "tf", F.round(tfidf, 6).alias("tfidf"))
    )


_BM25_TERMS = ("join", "vector", "stream")
_BM25_K1, _BM25_B = 1.2, 0.75


def q_bm25(spark, sf):
    """BM25 full-text retrieval: top-20 documents for a 3-term keyword
    query, scored with the standard Okapi formula over an inverted
    posting aggregation.  Plan shape is the 100 TB retrieval shape: the
    corpus is scanned ONCE into the posting table (explode -> map-side-
    combined (doc,term) tf agg — the inverted index, pinned with
    localCheckpoint exactly where a real engine materializes it), and
    everything else derives from postings: doc lengths as sum(tf),
    corpus stats as a broadcast 1-row aggregate, query-term postings
    filtered before the join so only matches shuffle.  Each term's
    score is a scalar
    float expression rounded to 8dp and summed as DECIMAL (order-
    independent cross-engine, the q_lm_score discipline); the final
    cut orders by the rounded score with doc_id tie-break so both
    engines pick an identical top-20."""
    d = _t(spark, sf, "documents")
    tok = d.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.lower("text"), F.lit("[a-z]+"), 0)
        ).alias("word"),
    )
    postings = (
        tok.groupBy("doc_id", "word").agg(F.count("*").alias("tf"))
        .localCheckpoint(eager=True)  # the index: built once, read 3x
    )
    dl = postings.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    corpus = dl.agg(F.avg("dl").alias("avgdl"),
                    F.count("*").alias("n_docs"))
    tf = postings.where(F.col("word").isin(*_BM25_TERMS))
    dfreq = tf.groupBy("word").agg(F.count("*").alias("df"))
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    denom = F.col("tf") + _BM25_K1 * (
        1.0 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl")
    )
    term_score = idf * (F.col("tf") * (_BM25_K1 + 1.0)) / denom
    scored = (
        tf.join(F.broadcast(dfreq), "word")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(corpus))
        .groupBy("doc_id")
        .agg(
            F.sum(F.round(term_score, 8).cast("decimal(18,8)"))
            .alias("score"),
            F.count("*").alias("n_terms"),
        )
    )
    return (
        scored.orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(20)
        .select("doc_id", "n_terms",
                F.col("score").cast("double").alias("score"))
    )


SQL_BM25 = f"""
WITH tok AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
  FROM documents),
dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
corpus AS (SELECT avg(dl) AS avgdl, count(*) AS n_docs FROM dl),
tf AS (
  SELECT doc_id, word, count(*) AS tf FROM tok
  WHERE word IN {_BM25_TERMS!r} GROUP BY doc_id, word),
dfreq AS (SELECT word, count(*) AS df FROM tf GROUP BY word),
scored AS (
  SELECT tf.doc_id,
         SUM(CAST(round(
             ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
             * (tf * ({_BM25_K1} + 1.0))
             / (tf + {_BM25_K1} * (1.0 - {_BM25_B}
                                   + {_BM25_B} * dl / avgdl)),
             8) AS DECIMAL(18,8))) AS score,
         count(*) AS n_terms
  FROM tf JOIN dfreq USING (word) JOIN dl USING (doc_id) CROSS JOIN corpus
  GROUP BY tf.doc_id)
SELECT doc_id, n_terms, CAST(score AS DOUBLE) AS score
FROM scored ORDER BY score DESC, doc_id ASC LIMIT 20
"""


def q_scd2(spark, sf):
    """SCD2 (slowly-changing-dimension type 2) history build: the events
    stream per user collapses into validity intervals — one row per RUN
    of equal event_type carrying [valid_from, valid_to) and is_current,
    valid_to = the next run's start (the dimension-history table every
    warehouse keeps for point-in-time joins).  Change points via lag()
    under a total order (ts, event_id), run ids via the cumulative-flag
    idiom (q_session's W5 shape), interval bounds via min/lead — two
    narrow window passes and one aggregate, all on the user_id
    partitioning, no self-join.  Oracle replays the identical windows."""
    e = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    runs = e.select(
        "user_id", "ts", "event_id", "event_type",
        F.when(
            F.lag("event_type").over(w).isNull()
            | (F.lag("event_type").over(w) != F.col("event_type")),
            1,
        ).otherwise(0).alias("chg"),
    ).withColumn("run_id", F.sum("chg").over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
    iv = runs.groupBy("user_id", "run_id").agg(
        F.first("event_type").alias("event_type"),
        F.min("ts").alias("valid_from"),
        F.count("*").alias("n_events"),
    )
    w2 = Window.partitionBy("user_id").orderBy("run_id")
    return iv.select(
        "user_id",
        F.col("run_id").cast("long").alias("run_id"),
        "event_type", "valid_from",
        F.lead("valid_from").over(w2).alias("valid_to"),
        F.when(F.lead("valid_from").over(w2).isNull(), True)
        .otherwise(False).alias("is_current"),
        "n_events",
    )


SQL_SCD2 = """
WITH flagged AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN lag(event_type) OVER w IS NULL
                   OR lag(event_type) OVER w <> event_type
              THEN 1 ELSE 0 END AS chg
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
runs AS (
  SELECT *, SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS run_id
  FROM flagged
),
iv AS (
  SELECT user_id, run_id, MIN(event_type) AS event_type,
         MIN(ts) AS valid_from, COUNT(*) AS n_events
  FROM runs GROUP BY user_id, run_id
)
SELECT user_id, CAST(run_id AS BIGINT) AS run_id, event_type, valid_from,
       lead(valid_from) OVER w2 AS valid_to,
       lead(valid_from) OVER w2 IS NULL AS is_current,
       n_events
FROM iv
WINDOW w2 AS (PARTITION BY user_id ORDER BY run_id)
"""


SQL_TFIDF = f"""
WITH tok AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
  FROM documents),
tf AS (
  SELECT doc_id, word, count(*) AS tf FROM tok
  WHERE word NOT IN {_STOP_SQL} GROUP BY doc_id, word),
dfreq AS (SELECT word, count(*) AS df FROM tf GROUP BY word),
nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.word, tf.tf,
         tf.tf * ln(CAST(n_docs AS DOUBLE) / df) AS tfidf,
         row_number() OVER (PARTITION BY tf.doc_id
                            ORDER BY tf.tf * ln(CAST(n_docs AS DOUBLE) / df) DESC,
                                     tf.word ASC) AS rnk
  FROM tf JOIN dfreq USING (word) CROSS JOIN nd)
SELECT doc_id, rnk, word, tf, round(tfidf, 6) AS tfidf
FROM scored WHERE rnk <= 3
"""


# Temporal alias dictionary for the time-valid linking query: "error"
# changes meaning on Jan 6 (a higher-weight row shadows the old one),
# "purchase" only becomes a known alias on Jan 4.  (surface, canon_uri,
# weight, valid_from-iso).
_TLINK_DICT = [
    ("error", "ent:alert/legacy", 1.0, "2024-01-01 00:00:00"),
    ("error", "ent:alert/pager", 2.0, "2024-01-06 00:00:00"),
    ("purchase", "ent:rev/order", 1.0, "2024-01-04 00:00:00"),
]


def q_link_temporal(spark, sf):
    """Time-valid exact linking (operators/link.py exact_link_temporal):
    each event links to the alias winner whose validity interval covers
    the event timestamp — same surface, different canonical entity
    before/after a dictionary change; mentions before a surface's first
    valid_from (and unknown surfaces) stay NULL.  The dictionary is
    collapsed to disjoint per-surface intervals with a per-interval
    election (dimension-scale windows), so the data-side join is a
    broadcast hash join on the surface, at most 1:1."""
    from .operators.link import exact_link_temporal

    e = _t(spark, sf, "events")
    mentions = e.select(
        "event_id", F.col("event_type").alias("form"), "ts"
    )
    dic = spark.createDataFrame(
        [(u, s, w, datetime.datetime.fromisoformat(v))
         for s, u, w, v in _TLINK_DICT],
        "canon_uri string, surface string, weight double, "
        "valid_from timestamp",
    )
    return exact_link_temporal(mentions, dic).select(
        "event_id", "canon_uri", "score"
    )


_TLINK_SQL_VALUES = ", ".join(
    f"('{s}', '{u}', {w}, TIMESTAMP '{v}')" for s, u, w, v in _TLINK_DICT
)

SQL_LINK_TEMPORAL = f"""
WITH dict(surface, canon_uri, weight, valid_from) AS
  (VALUES {_TLINK_SQL_VALUES}),
bounds AS (
  SELECT surface, valid_from AS iv_from,
         lead(valid_from) OVER (PARTITION BY surface
                                ORDER BY valid_from) AS valid_to
  FROM (SELECT DISTINCT surface, valid_from FROM dict)),
cand AS (
  SELECT b.surface, b.iv_from, b.valid_to, d.canon_uri, d.weight
  FROM bounds b JOIN dict d
    ON d.surface = b.surface AND d.valid_from <= b.iv_from),
win AS (
  SELECT surface, iv_from, valid_to, canon_uri, weight AS score
  FROM (SELECT *, row_number() OVER (PARTITION BY surface, iv_from
                                     ORDER BY weight DESC, canon_uri ASC)
               AS rn
        FROM cand)
  WHERE rn = 1)
SELECT e.event_id, w.canon_uri, w.score
FROM events e LEFT JOIN win w
  ON w.surface = e.event_type AND e.ts >= w.iv_from
     AND (w.valid_to IS NULL OR e.ts < w.valid_to)
"""


# Alias dictionary for the disambiguation query: three AMBIGUOUS
# surfaces (two candidate entities each) plus one unambiguous
# evidence alias per candidate entity, all drawn from the synthetic
# documents vocabulary.  (surface, canon_uri, weight); weights make
# the prior tie-break observable where context scores tie.
_DISAMBIG_DICT = [
    ("scan", "ent:op/scan", 2),
    ("scan", "ent:tool/scanner", 1),
    ("window", "ent:op/window", 1),
    ("window", "ent:ui/window", 1),
    ("merge", "ent:op/merge", 1),
    ("merge", "ent:git/merge", 2),
    ("filter", "ent:op/scan", 1),
    ("vector", "ent:tool/scanner", 1),
    ("agg", "ent:op/window", 1),
    ("line", "ent:ui/window", 1),
    ("sort", "ent:op/merge", 1),
    ("batch", "ent:git/merge", 1),
]


def q_disambiguate(spark, sf):
    """Context-aware entity disambiguation (operators/disambig.py): each
    ambiguous alias mention resolves PER DOCUMENT by an exact-integer
    bag-of-words affinity against entity context profiles learned from
    unambiguous evidence mentions, argmax with score DESC / prior
    weight DESC / URI ASC total order.  The global-election exact link
    (q_kg_dedup's shape) cannot express this — same surface, different
    winner in different documents.  Dictionary and profiles are
    dimension-scale broadcasts; corpus joins are co-partitioned on
    doc_id; candidate fan-out is dictionary-bounded."""
    from .operators.disambig import disambiguate

    d = _t(spark, sf, "documents")
    dic = spark.createDataFrame(
        _DISAMBIG_DICT, "surface string, canon_uri string, weight int"
    )
    return disambiguate(d, dic)


_DISAMBIG_SQL_VALUES = ", ".join(
    f"('{s}', '{u}', {w})" for s, u, w in _DISAMBIG_DICT
)

SQL_DISAMBIGUATE = f"""
WITH dict(surface, canon_uri, weight) AS (VALUES {_DISAMBIG_SQL_VALUES}),
tok AS (
  SELECT DISTINCT doc_id, word AS token FROM (
    SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
    FROM documents) WHERE word <> ''),
ncand AS (SELECT surface, count(DISTINCT canon_uri) AS n FROM dict GROUP BY 1),
unamb AS (SELECT d.* FROM dict d JOIN ncand USING (surface) WHERE n = 1),
amb AS (SELECT d.* FROM dict d JOIN ncand USING (surface) WHERE n > 1),
ev AS (SELECT DISTINCT t.doc_id, u.canon_uri
       FROM tok t JOIN unamb u ON t.token = u.surface),
prof AS (SELECT e.canon_uri, t.token, count(*) AS cnt
         FROM tok t JOIN ev e USING (doc_id) GROUP BY 1, 2),
mention AS (SELECT t.doc_id, a.surface, a.canon_uri AS cand, a.weight
            FROM tok t JOIN amb a ON t.token = a.surface),
s AS (SELECT m.doc_id, m.surface, m.cand, CAST(sum(p.cnt) AS BIGINT) AS score
      FROM mention m
      JOIN tok c ON c.doc_id = m.doc_id AND c.token <> m.surface
      JOIN prof p ON p.token = c.token AND p.canon_uri = m.cand
      GROUP BY 1, 2, 3),
ranked AS (
  SELECT m.doc_id, m.surface, m.cand AS canon_uri,
         coalesce(s.score, 0) AS score,
         row_number() OVER (PARTITION BY m.doc_id, m.surface
                            ORDER BY coalesce(s.score, 0) DESC,
                                     m.weight DESC, m.cand ASC) AS rn
  FROM mention m LEFT JOIN s
    ON s.doc_id = m.doc_id AND s.surface = m.surface AND s.cand = m.cand)
SELECT doc_id, surface, canon_uri, score FROM ranked WHERE rn = 1
"""


def q_coref(spark, sf):
    """Conversation-scoped anaphora resolution (operators/coref.py), the
    pipeline's opt-in stage 3.5: an anaphoric turn refers to the most
    recently LINKED entity of a strictly earlier turn in the same
    conversation — one window function over one conv-keyed exchange,
    never per-row Python.  Turns are derived deterministically from
    events (error turns carry an anaphor, click turns name an entity) so
    BOTH the production anaphor regex and the exclusive-upper-bound
    recency window replay exactly in the DuckDB oracle."""
    from .operators import coref

    e = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    k = F.get_json_object("props", "$.k").cast("int")
    text = (
        F.when(
            F.col("event_type") == "error",
            F.concat(F.lit("restart it (attempt "), k.cast("string"), F.lit(")")),
        )
        .when(
            F.col("event_type") == "click",
            F.concat(F.lit("svc-"), k.cast("string"), F.lit(" responded slowly")),
        )
        .otherwise(F.lit("status nominal"))
    )
    turns = e.select(
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("conv_id"),
        (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
        F.when(
            F.col("event_type") == "click",
            F.concat(F.lit("ent:svc-"), k.cast("string")),
        ).alias("ent"),
        F.lower(text).rlike(coref.anaphor_rlike()).alias("is_anaphor"),
    )
    return coref.resolve_anaphora(turns).select(
        "conv_id", "turn_idx", "antecedent"
    )


def _coref_sql() -> str:
    from .operators.coref import anaphor_rlike

    return f"""
WITH t AS (
  SELECT 'u' || CAST(user_id AS VARCHAR) AS conv_id,
         CAST(row_number() OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) - 1 AS INT) AS turn_idx,
         event_type,
         CAST(json_extract_string(props, '$.k') AS INT) AS k
  FROM events),
u AS (
  SELECT conv_id, turn_idx,
         CASE WHEN event_type = 'click'
              THEN 'ent:svc-' || CAST(k AS VARCHAR) END AS ent,
         regexp_matches(
           lower(CASE WHEN event_type = 'error'
                      THEN 'restart it (attempt ' || CAST(k AS VARCHAR) || ')'
                      WHEN event_type = 'click'
                      THEN 'svc-' || CAST(k AS VARCHAR) || ' responded slowly'
                      ELSE 'status nominal' END),
           '{anaphor_rlike()}') AS is_anaphor
  FROM t)
SELECT conv_id, turn_idx, antecedent FROM (
  SELECT conv_id, turn_idx, is_anaphor,
         last_value(ent IGNORE NULLS) OVER (
           PARTITION BY conv_id ORDER BY turn_idx
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS antecedent
  FROM u)
WHERE is_anaphor
"""


SQL_COREF = _coref_sql()


def _stream_scratch(sf: str, name: str) -> str:
    import shutil
    import tempfile

    tag = "".join(
        c if c.isalnum() else "_" for c in sf.rstrip("/").rsplit("/", 1)[-1]
    )
    root = f"{tempfile.gettempdir()}/logset_{name}_{tag}_{os.getpid()}"
    shutil.rmtree(root, ignore_errors=True)
    return root


def q_stream_structural(spark, sf):
    """X1 incremental ingest, oracle-checked (the streaming rows' first
    hard oracle): events-derived transcripts land in a scratch dir, a
    drain-and-stop availableNow stream (streaming/incremental.py — the
    production file-source plan with its pinned schema and checkpoint)
    extracts per-turn structural triples, and the parquet sink is read
    back as a batch table.  The oracle is the same structural graph in
    SQL minus followedBy — the cross-row edge the stateful operator
    handles (tested for batch parity in tests/test_streaming.py)."""
    from .streaming import incremental as st

    root = _stream_scratch(sf, "stream_structural")
    derived_transcripts(spark, sf).coalesce(2).write.parquet(f"{root}/in")
    stream = st.structural_triples_stream(
        st.stream_transcripts(spark, f"{root}/in")
    )
    st.run_available_now(stream, f"{root}/ckpt", f"{root}/out")
    return spark.read.parquet(f"{root}/out").select("subj", "pred", "obj")


SQL_STREAM_STRUCTURAL = f"""
SELECT subj, pred, obj FROM ({SQL_KG_STRUCTURAL}) g
WHERE pred <> 'followedBy'
"""


def q_stream_linked(spark, sf):
    """The FULL linked streaming pipeline, oracle-checked: transcripts
    synthesized deterministically from events (click turns name a
    dictionary service `svc_<k%50>`, error turns a non-dictionary host
    `node-<k>`, both name-like under the detector grammar) run through
    run_linked_available_now — mention detection (native regex detector),
    exact linking (broadcast dictionary join), fuzzy linking (no
    candidates survive 0-Jaccard between svc_/node- shingles, which the
    oracle encodes by construction), packed dedup, and the native URI
    explode — per micro-batch.  One input file => one micro-batch =>
    followedBy parity included.  The oracle replays the token grammar,
    the dictionary join, and the m:<form> fallback in SQL."""
    from .streaming import incremental as st

    e = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    k = F.get_json_object("props", "$.k").cast("int")
    text = (
        F.when(
            F.col("event_type") == "click",
            F.concat(F.lit("saw svc_"), (k % 50).cast("string"), F.lit(" ok")),
        )
        .when(
            F.col("event_type") == "error",
            F.concat(F.lit("saw node-"), k.cast("string"), F.lit(" down")),
        )
        .otherwise(F.lit("status ok"))
    )
    tr = e.select(
        F.concat(F.lit("u"), F.col("user_id").cast("string")).alias("conv_id"),
        (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        text.alias("text"),
        F.lit(None).cast("string").alias("tool"),
        "ts",
    )
    dic = spark.createDataFrame(
        [(f"ent:svc/{i}", f"svc_{i}", "service", 1.0, None) for i in range(50)],
        "canon_uri string, surface string, kind string, weight double, "
        "valid_from timestamp",
    )
    root = _stream_scratch(sf, "stream_linked")
    tr.coalesce(1).write.parquet(f"{root}/in")
    st.run_linked_available_now(
        st.stream_transcripts(spark, f"{root}/in"),
        f"{root}/ckpt", spark, dic, out_path=f"{root}/out",
    )
    return spark.read.parquet(f"{root}/out").select("subj", "pred", "obj")


SQL_STREAM_LINKED = """
WITH t AS (
  SELECT 'u' || CAST(user_id AS VARCHAR) AS conv_id,
         CAST(row_number() OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) - 1 AS INT) AS turn_idx,
         event_type,
         CAST(json_extract_string(props, '$.k') AS INT) AS k,
         ts
  FROM events),
u AS (
  SELECT conv_id, turn_idx, event_type, k, ts,
         'conv:' || conv_id AS conv_u,
         'turn:' || conv_id || '/' || CAST(turn_idx AS VARCHAR) AS turn_u,
         lead('turn:' || conv_id || '/' || CAST(turn_idx AS VARCHAR))
             OVER (PARTITION BY conv_id ORDER BY turn_idx) AS next_u
  FROM t)
SELECT conv_u AS subj, 'hasTurn' AS pred, turn_u AS obj FROM u
UNION ALL SELECT turn_u, 'partOf', conv_u FROM u
UNION ALL SELECT turn_u, 'hasRole', 'role:user' FROM u
UNION ALL SELECT turn_u, 'atTime', strftime(ts, '%Y-%m-%dT%H:%M:%S') FROM u
UNION ALL SELECT turn_u, 'followedBy', next_u FROM u WHERE next_u IS NOT NULL
UNION ALL
SELECT turn_u, 'mentions',
       CASE WHEN event_type = 'click'
            THEN 'ent:svc/' || CAST(k % 50 AS VARCHAR)
            ELSE 'm:node-' || CAST(k AS VARCHAR) END
FROM u WHERE event_type IN ('click', 'error')
"""


def _csv_fixture() -> str:
    here = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tests", "fixtures", "transcripts_sample.csv",
    )
    if os.path.exists(here):
        return here
    return os.path.join(os.getcwd(), "tests", "fixtures",
                        "transcripts_sample.csv")


CSV_FIXTURE = _csv_fixture()


def q_ttl_source(spark, sf):
    """S1 catalog ingestion the way the reference does it (SURVEY S1 /
    §3.1): parse the entry .ttl — REAL Turtle now: @prefix bindings,
    prefixed-name expansion, ';'/',' predicate-object lists, multi-line
    statements, typed/lang literals — and FOLLOW its catalog links
    (rdfs:seeAlso) through the 3-file fixture mesh (which contains a
    cycle) into one distinct triples DataFrame.  The DuckDB oracle reads
    the committed pre-flattened triple CSV of the same catalogs, so the
    parser + traversal is value-checked end-to-end."""
    from .sources.turtle import load_catalog

    return load_catalog(spark, TTL_FIXTURE, follow_links=True)


SQL_TTL_SOURCE = f"""
SELECT DISTINCT subj, pred, obj
FROM read_csv('{TTL_FLAT_FIXTURE}', header=true, auto_detect=false,
              delim=',', quote='"', escape='"',
              columns={{'subj': 'VARCHAR', 'pred': 'VARCHAR',
                        'obj': 'VARCHAR'}})
"""


TRIG_FIXTURE = _fixture("graphs.trig")
TRIG_FLAT_FIXTURE = _fixture("graphs_flat.csv")


def q_trig_source(spark, sf):
    """TriG quads ingestion (sources/turtle.py parse_trig): GRAPH blocks
    + default-graph statements + prefixes + an omitted final dot, loaded
    into the quads frame the GRAPH / FROM / graph_update surfaces
    consume.  The DuckDB oracle reads the committed pre-flattened CSV of
    the same fixture (hand-verified), value-checking the parser + graph
    attribution end-to-end."""
    from .sources.turtle import load_trig

    return load_trig(spark, TRIG_FIXTURE)


SQL_TRIG_SOURCE = f"""
SELECT subj, pred, obj, graph
FROM read_csv('{TRIG_FLAT_FIXTURE}', header=true, auto_detect=false,
              delim=',', quote='"', escape='"',
              columns={{'subj': 'VARCHAR', 'pred': 'VARCHAR',
                        'obj': 'VARCHAR', 'graph': 'VARCHAR'}})
"""


STAR_FIXTURE = _fixture("star.ttl")
STAR_FLAT_FIXTURE = _fixture("star_flat.csv")


def q_star_source(spark, sf):
    """RDF-star (Turtle-star) ingestion (sources/turtle.py
    parse_turtle_star): `{| ... |}` annotation blocks and
    subject-position `<< s p o >>` statements, landing on the WIDE
    annotation frame (subj, pred, obj, a_pred, a_obj) — quoted triples
    never become encoded string terms.  The DuckDB oracle reads the
    committed pre-flattened CSV of the same fixture (hand-verified),
    value-checking the star parser end-to-end."""
    from .sources.turtle import load_turtle_star

    _triples, anns = load_turtle_star(spark, STAR_FIXTURE)
    return anns


SQL_STAR_SOURCE = f"""
SELECT subj, pred, obj, a_pred, a_obj
FROM read_csv('{STAR_FLAT_FIXTURE}', header=true, auto_detect=false,
              delim=',', quote='"', escape='"',
              columns={{'subj': 'VARCHAR', 'pred': 'VARCHAR',
                        'obj': 'VARCHAR', 'a_pred': 'VARCHAR',
                        'a_obj': 'VARCHAR'}})
"""


def _order_annotations(spark, sf):
    """Deterministic wide annotation frame from orders: each thinned
    order is the triple (customer, kg:placed, order) annotated with its
    status and priority — the statement-metadata shape the linker
    produces, with no floats so both engines agree lexically."""
    o = _t(spark, sf, "orders").where(F.col("o_orderkey") % 61 == 0)
    base = o.select(
        F.concat(F.lit("c:"), F.col("o_custkey").cast("string"))
        .alias("subj"),
        F.lit("kg:placed").alias("pred"),
        F.concat(F.lit("o:"), F.col("o_orderkey").cast("string"))
        .alias("obj"),
        "o_orderstatus", "o_orderpriority",
    )
    status = base.select(
        "subj", "pred", "obj",
        F.lit("kg:status").alias("a_pred"),
        F.col("o_orderstatus").alias("a_obj"),
    )
    prio = base.select(
        "subj", "pred", "obj",
        F.lit("kg:priority").alias("a_pred"),
        F.col("o_orderpriority").alias("a_obj"),
    )
    return status.unionByName(prio)


_ORDER_ANN_SQL = """
  WITH o AS (SELECT 'c:' || CAST(o_custkey AS VARCHAR) AS subj,
                    'kg:placed' AS pred,
                    'o:' || CAST(o_orderkey AS VARCHAR) AS obj,
                    o_orderstatus, o_orderpriority
             FROM orders WHERE o_orderkey % 61 = 0)
  SELECT subj, pred, obj, 'kg:status' AS a_pred,
         o_orderstatus AS a_obj FROM o
  UNION ALL
  SELECT subj, pred, obj, 'kg:priority', o_orderpriority FROM o
"""


def q_reify(spark, sf):
    """Statement-level metadata lowered to STANDARD RDF reification
    (operators/star.py reify): one content-addressed statement node
    (`_:stmt-md5(s\\x1fp\\x1fo)`) per distinct annotated triple with its
    rdf:subject/predicate/object skeleton, plus one triple per
    annotation row.  Content-addressing makes reify idempotent across
    partitions — two tasks annotating the same triple converge on the
    same node with no coordination.  The oracle mints the identical
    nodes with DuckDB's md5 (hex md5 agrees across engines)."""
    from .operators.star import reify

    return reify(_order_annotations(spark, sf))


SQL_REIFY = f"""
WITH ann AS MATERIALIZED ({_ORDER_ANN_SQL}),
base AS (SELECT DISTINCT subj, pred, obj FROM ann),
node AS (SELECT subj, pred, obj,
                '_:stmt-' || md5(subj || chr(31) || pred || chr(31) || obj)
                AS n
         FROM base),
nann AS (SELECT a.a_pred, a.a_obj,
                '_:stmt-' || md5(a.subj || chr(31) || a.pred || chr(31)
                                 || a.obj) AS n
         FROM ann a)
SELECT n AS subj, 'rdf:type' AS pred, 'rdf:Statement' AS obj FROM node
UNION ALL SELECT n, 'rdf:subject', subj FROM node
UNION ALL SELECT n, 'rdf:predicate', pred FROM node
UNION ALL SELECT n, 'rdf:object', obj FROM node
UNION ALL SELECT n, a_pred, a_obj FROM nann
"""


def q_star_roundtrip(spark, sf):
    """reify -> unreify round-trip (operators/star.py): the wide
    annotation frame survives the trip through standard reification
    triples bit-exactly — the oracle is the ORIGINAL wide SQL, so any
    drift in node minting, skeleton pivot, or note join hash-fails.
    unreify's plan is one pivot groupBy + one equi-join on the
    statement node, independent of annotations-per-statement."""
    from .operators.star import reify, unreify

    return unreify(reify(_order_annotations(spark, sf)))


SQL_STAR_ROUNDTRIP = f"""
SELECT subj, pred, obj, a_pred, a_obj FROM ({_ORDER_ANN_SQL}) ann
"""


def q_sparql_star(spark, sf):
    """SPARQL-star (operators/star.py sparql_star): the quoted-triple
    pattern `<< ?cust kg:placed ?ordr >> ?ap ?ao` is rewritten to the
    spec's reification mapping over triples UNION reify(annotations) and
    evaluated by the plain BGP compiler.  The annotation predicate is a
    VARIABLE here deliberately — it exercises the injected FILTER that
    keeps the reification skeleton from leaking as annotation matches.
    The oracle is the wide annotation SQL directly, so a leak (extra
    rdf:* rows) or a lost annotation hash-fails."""
    from .operators.star import sparql_star

    anns = _order_annotations(spark, sf)
    asserted = anns.select("subj", "pred", "obj").distinct()
    return sparql_star(
        asserted, anns,
        """SELECT ?cust ?ordr ?ap ?ao WHERE {
             << ?cust <kg:placed> ?ordr >> ?ap ?ao .
           }""",
    )


SQL_SPARQL_STAR = f"""
SELECT subj AS cust, obj AS ordr, a_pred AS ap, a_obj AS ao
FROM ({_ORDER_ANN_SQL}) ann
"""


def q_csv_source(spark, sf):
    """S-family CSV transcript ingestion (sources/csvsrc.py): explicit
    north-rule schema, PERMISSIVE parse, malformed rows quarantined — the
    CSV twin of q_jsonl_source.  The DuckDB oracle reads the same
    committed fixture with ignore_errors; both engines must agree on the
    surviving rows and their typed values."""
    from .sources.csvsrc import read_transcripts_csv, split_quarantine

    good, _bad = split_quarantine(read_transcripts_csv(spark, CSV_FIXTURE))
    return good.select("conv_id", "turn_idx", "role", "text", "tool", "ts")


SQL_CSV_SOURCE = f"""
SELECT conv_id, turn_idx, role, text, tool, ts
FROM read_csv('{CSV_FIXTURE}', header=true, ignore_errors=true,
              nullstr='', auto_detect=false, delim=',', quote='"', escape='"',
              columns={{'conv_id': 'VARCHAR', 'turn_idx': 'INTEGER',
                        'role': 'VARCHAR', 'text': 'VARCHAR',
                        'tool': 'VARCHAR', 'ts': 'TIMESTAMP'}})
WHERE conv_id IS NOT NULL AND turn_idx IS NOT NULL
"""


def q_sample_hash(spark, sf):
    """Reproducible corpus sampling + train/valid split: md5 of the doc
    key buckets every doc into 16 shards by first hex nibble — keep
    shards {0,1} (a deterministic 1/8 sample) and split train/valid on
    the second nibble (< 'd' = 13/16 train).  Content-keyed hashing (not
    rand(), not sample()) means the selection is stable across runs,
    engines, cluster sizes, and resumes — the only sampling discipline
    that survives a resumable 100 TB pipeline."""
    d = _t(spark, sf, "documents")
    h = F.md5(F.col("doc_id").cast("string"))
    return (
        d.select(
            "doc_id",
            F.substring(h, 1, 1).alias("shard"),
            F.when(F.substring(h, 2, 1) < "d", "train")
            .otherwise("valid")
            .alias("split"),
        )
        .where(F.col("shard").isin("0", "1"))
    )


SQL_SAMPLE_HASH = """
SELECT doc_id,
       substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS shard,
       CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 2, 1) < 'd'
            THEN 'train' ELSE 'valid' END AS split
FROM documents
WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0', '1')
"""


_PACK_BUDGET = 2048  # tokens per packed training sequence


def q_seq_pack(spark, sf):
    """Training-sequence packing (concat-then-chunk, the GPT-style
    pretraining layout): docs in deterministic doc_id order are laid
    head-to-tail on a global token tape; each doc's start offset on the
    tape assigns it a first bin (floor(start / budget)) and an offset
    within it.  The global prefix sum runs through
    operators/ordering.global_running_total — two balanced shuffles,
    never a single-task ORDER BY window."""
    from .operators.ordering import global_running_total

    d = _t(spark, sf, "documents")
    toks = F.regexp_extract_all("text", F.lit(_BPE_PAT), 0)
    t = d.select("doc_id", F.size(toks).cast("long").alias("n_tokens"))
    c = global_running_total(t, ["doc_id"], "n_tokens", total_col="cum")
    start = (F.col("cum") - F.col("n_tokens")).alias("start_off")
    return c.select(
        "doc_id",
        "n_tokens",
        start,
        F.expr(f"(cum - n_tokens) div {_PACK_BUDGET}").alias("first_bin"),
        (F.col("cum") - F.col("n_tokens")).__mod__(_PACK_BUDGET).alias(
            "offset_in_bin"
        ),
    )


SQL_SEQ_PACK = rf"""
WITH t AS (
  SELECT doc_id,
         len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))::BIGINT
           AS n_tokens
  FROM documents),
c AS (
  SELECT doc_id, n_tokens,
         CAST(sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
           - n_tokens AS BIGINT) AS start_off
  FROM t)
SELECT doc_id, n_tokens, start_off,
       start_off // {_PACK_BUDGET} AS first_bin,
       start_off % {_PACK_BUDGET} AS offset_in_bin
FROM c
"""


_CHUNK_SIZE, _CHUNK_STRIDE = 256, 192


def q_chunk(spark, sf):
    """Context-window chunking for retrieval/training: slide a
    256-char window with stride 192 (25% overlap) over each document —
    1 -> N expansion fully native (sequence + posexplode + substr), no
    Python, so codegen fuses it into the scan."""
    d = _t(spark, sf, "documents").where(F.length("text") > 0)
    ks = F.sequence(
        F.lit(0),
        F.floor((F.length("text") - 1) / _CHUNK_STRIDE).cast("int"),
    )
    e = d.select("doc_id", "text", F.posexplode(ks).alias("chunk_idx", "k"))
    return e.select(
        "doc_id",
        "chunk_idx",
        F.col("text")
        .substr(F.col("k") * _CHUNK_STRIDE + 1, F.lit(_CHUNK_SIZE))
        .alias("chunk_text"),
    )


SQL_CHUNK = f"""
SELECT doc_id, CAST(k AS INTEGER) AS chunk_idx,
       substring(text, CAST(k * {_CHUNK_STRIDE} + 1 AS BIGINT), {_CHUNK_SIZE})
         AS chunk_text
FROM (SELECT doc_id, text FROM documents WHERE length(text) > 0) d,
     UNNEST(range((length(text) - 1) // {_CHUNK_STRIDE} + 1)) AS t(k)
"""


def q_mixture(spark, sf):
    """Training-data MIXTURE: per-source sampling rates (the data-mixing
    step before pretraining — upweight curated sources, downsample bulk
    crawl).  Rates are content-keyed md5 thresholds on the first hex
    nibble — src0-4 keep 16/16, src5-9 keep 8/16, the rest 4/16 — so the
    mix is deterministic and resumable like q_sample_hash; the hash key
    includes the source so mixture selection is independent of the
    sample-split hash."""
    d = _t(spark, sf, "documents")
    thresh = (
        F.when(F.col("source").isin(*[f"src{i}" for i in range(5)]), "g")
        .when(F.col("source").isin(*[f"src{i}" for i in range(5, 10)]), "8")
        .otherwise("4")
    )
    nib = F.substring(
        F.md5(F.concat_ws(":", F.col("doc_id").cast("string"), "source")), 1, 1
    )
    return d.select("doc_id", "source", nib.alias("nib")).where(
        nib < thresh
    ).drop("nib").withColumn("mix_rate", thresh)


SQL_MIXTURE = """
WITH d AS (
  SELECT doc_id, source,
         substring(md5(CAST(doc_id AS VARCHAR) || ':' || source), 1, 1) AS nib,
         CASE WHEN source IN ('src0','src1','src2','src3','src4') THEN 'g'
              WHEN source IN ('src5','src6','src7','src8','src9') THEN '8'
              ELSE '4' END AS mix_rate
  FROM documents)
SELECT doc_id, source, mix_rate FROM d WHERE nib < mix_rate
"""


def q_decontaminate(spark, sf):
    """Benchmark DECONTAMINATION: flag training docs sharing any token
    3-gram with the eval set (here: doc_id < 10 stands in for the
    benchmark).  Distinct (doc, shingle) pairs equi-join the BROADCAST
    eval shingle set — the scale shape: the benchmark side is always
    tiny, the training side streams map-side, no shuffle of the corpus.
    Output: contaminated doc + how many distinct eval shingles it shares."""
    d = _t(spark, sf, "documents")
    toks = _tokens(F.col("text"))
    sh = d.select(
        "doc_id", F.explode(F.array_distinct(_shingles3(toks))).alias("shingle")
    )
    eval_sh = sh.where(F.col("doc_id") < 10).select("shingle").distinct()
    train = sh.where(F.col("doc_id") >= 10)
    return (
        train.join(F.broadcast(eval_sh), "shingle")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared_shingles"))
    )


SQL_DECONTAMINATE = """
WITH sh AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
           range(len(string_split(lower(text),' ')) - 2),
           i -> array_to_string(string_split(lower(text),' ')[i+1:i+3], ' ')
         ))) AS shingle
  FROM documents),
ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < 10)
SELECT doc_id, count(*) AS n_shared_shingles
FROM sh JOIN ev USING (shingle)
WHERE doc_id >= 10
GROUP BY doc_id
"""


_EMAIL_RE = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
_PHONE_RE = r"\+?[0-9][0-9-]{7,}"


def q_pii_scrub(spark, sf):
    """PII scrubbing: redact emails and phone numbers with typed
    placeholders and count redactions per doc.  The corpus text is
    synthetic word-salad with no PII, so deterministic PII is INJECTED
    first (derived from doc_id) — the scrubber then has known ground
    truth: every doc must come back with exactly 1 email + 1 phone
    redacted.  Patterns are written in the RE2 ∩ Java-regex dialect so
    Spark and DuckDB agree."""
    d = _t(spark, sf, "documents")
    dirty = F.concat(
        F.col("text"),
        F.lit(" contact: user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    no_email = F.regexp_replace(dirty, _EMAIL_RE, "<EMAIL>")
    clean = F.regexp_replace(no_email, _PHONE_RE, "<PHONE>")
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all(dirty, F.lit(_EMAIL_RE), 0)).alias("n_emails"),
        F.size(F.regexp_extract_all(no_email, F.lit(_PHONE_RE), 0)).alias("n_phones"),
        clean.alias("scrubbed_text"),
    )


SQL_PII_SCRUB = f"""
WITH dirty AS (
  SELECT doc_id,
         text || ' contact: user' || CAST(doc_id AS VARCHAR)
              || '@example.com or +1-555-'
              || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t
  FROM documents),
ne AS (
  SELECT doc_id, t,
         regexp_replace(t, '{_EMAIL_RE}', '<EMAIL>', 'g') AS t2
  FROM dirty)
SELECT doc_id,
       len(regexp_extract_all(t, '{_EMAIL_RE}')) AS n_emails,
       len(regexp_extract_all(t2, '{_PHONE_RE}')) AS n_phones,
       regexp_replace(t2, '{_PHONE_RE}', '<PHONE>', 'g') AS scrubbed_text
FROM ne
"""


def q_rep_filter(spark, sf):
    """Gopher-style REPETITION filter: fraction of duplicate token
    2-grams per doc (dup_2gram_frac = 1 - distinct/total) — the classic
    within-document repetition signal used to drop degenerate/boilerplate
    text from pretraining corpora.  All native array ops; `keep` applies
    the published-style threshold (0.2)."""
    d = _t(spark, sf, "documents")
    toks = _tokens(F.col("text"))
    grams = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - 2),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, 2)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    n = F.size(grams)
    frac = F.when(
        n > 0, F.round(1.0 - F.size(F.array_distinct(grams)) / n, 6)
    ).otherwise(F.lit(0.0))
    return d.select(
        "doc_id",
        frac.alias("dup_2gram_frac"),
        (frac <= 0.2).alias("keep"),
    )


SQL_REP_FILTER = """
WITH g AS (
  SELECT doc_id,
         list_transform(range(len(string_split(lower(text),' ')) - 1),
           i -> array_to_string(string_split(lower(text),' ')[i+1:i+2], ' '))
           AS grams
  FROM documents)
SELECT doc_id,
       CASE WHEN len(grams) > 0
            THEN round(1.0 - len(list_distinct(grams)) /
                       CAST(len(grams) AS DOUBLE), 6)
            ELSE 0.0 END AS dup_2gram_frac,
       CASE WHEN len(grams) > 0
            THEN round(1.0 - len(list_distinct(grams)) /
                       CAST(len(grams) AS DOUBLE), 6)
            ELSE 0.0 END <= 0.2 AS keep
FROM g
"""


def q_closure(spark, sf):
    """SPARQL property-path parity (`partOf+`, the reference's containment
    hierarchy): transitive closure with min hop distance via PATH DOUBLING
    (operators/graph.py) — O(log diameter) self-join rounds, each a plain
    equi-join on the midpoint node.  Deterministic hierarchy: part key k
    is partOf k//2 (a binary tree of depth 8 over keys 2..255).  Oracle =
    DuckDB WITH RECURSIVE one-step expansion — same closure, different
    algorithm, so the doubling logic itself is what gets checked."""
    from .operators.graph import transitive_closure

    p = _t(spark, sf, "part")
    edges = p.where(F.col("p_partkey").between(2, 255)).select(
        F.concat(F.lit("p:"), F.col("p_partkey").cast("string")).alias("child"),
        F.concat(
            F.lit("p:"), F.expr("p_partkey div 2").cast("string")
        ).alias("parent"),
    )
    # force the DISTRIBUTED doubling loop: this oracle row exists to
    # check the distributed algebra, not the driver BFS fast path
    return transitive_closure(edges, small_graph_edges=0)


SQL_CLOSURE = """
WITH RECURSIVE
e AS (SELECT 'p:' || CAST(p_partkey AS VARCHAR) AS node,
             'p:' || CAST(p_partkey // 2 AS VARCHAR) AS ancestor
      FROM part WHERE p_partkey BETWEEN 2 AND 255),
walk(node, ancestor, dist) AS (
  SELECT node, ancestor, 1 FROM e
  UNION
  SELECT w.node, e.ancestor, w.dist + 1
  FROM walk w JOIN e ON e.node = w.ancestor
)
SELECT node, ancestor, CAST(min(dist) AS INTEGER) AS dist
FROM walk GROUP BY node, ancestor
"""


def q_pagerank(spark, sf):
    """Entity importance over the KG: 3 synchronous PageRank iterations on
    the bipartite user<->event_type graph, ALL ARITHMETIC IN SCALED 64-BIT
    INTEGERS (operators/graph.py).  Floating-point PageRank can never pass
    a cross-engine value-hash (sums are order-dependent); the fixed-point
    recurrence is exactly reproducible, so the oracle replays the same
    three iterations unrolled in SQL and must match to the last unit."""
    from .operators.graph import pagerank_fixedpoint

    e = _t(spark, sf, "events")
    fwd = e.select(
        F.concat(F.lit("u:"), F.col("user_id").cast("string")).alias("src"),
        F.concat(F.lit("t:"), F.col("event_type")).alias("dst"),
    ).distinct()
    edges = fwd.unionByName(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    return pagerank_fixedpoint(edges, n_iter=3)


_PR_ITER_SQL = """
c{i} AS (
  SELECT e.dst, CAST(sum(r.rank // od.od) AS BIGINT) AS s
  FROM edges e JOIN r{p} r ON r.node = e.src JOIN od ON od.src = e.src
  GROUP BY e.dst),
r{i} AS (
  SELECT nodes.node,
         (3 * 1000000000000) // (20 * nn.n)
           + 17 * (COALESCE(c{i}.s, 0) // 20)
           + (17 * (COALESCE(c{i}.s, 0) % 20)) // 20 AS rank
  FROM nodes CROSS JOIN nn LEFT JOIN c{i} ON c{i}.dst = nodes.node)"""

SQL_PAGERANK = (
    """
WITH base AS (SELECT DISTINCT 'u:' || CAST(user_id AS VARCHAR) AS src,
                              't:' || event_type AS dst
              FROM events),
edges AS (SELECT src, dst FROM base
          UNION SELECT dst AS src, src AS dst FROM base),
nodes AS (SELECT DISTINCT src AS node FROM edges
          UNION SELECT DISTINCT dst FROM edges),
nn AS (SELECT count(*) AS n FROM nodes),
od AS (SELECT src, count(*) AS od FROM edges GROUP BY src),
r0 AS (SELECT node, 1000000000000 // n AS rank FROM nodes CROSS JOIN nn),"""
    + ",".join(_PR_ITER_SQL.format(i=i, p=i - 1) for i in (1, 2, 3))
    + """
SELECT node, CAST(rank AS BIGINT) AS rank FROM r3
"""
)


_PPR_SOURCES = ("t:error", "t:purchase")


def q_ppr(spark, sf):
    """Personalized PageRank (operators/graph.py ppr_fixedpoint): entity
    relatedness to a 2-node source set over the same user<->event_type
    bipartite graph as q_pagerank, 3 exact-integer iterations.  The
    oracle replays the recurrence unrolled with teleport mass confined
    to the sources; reached-set membership (rank > 0 after round 3) is
    part of what must match."""
    from .operators.graph import ppr_fixedpoint

    e = _t(spark, sf, "events")
    fwd = e.select(
        F.concat(F.lit("u:"), F.col("user_id").cast("string")).alias("src"),
        F.concat(F.lit("t:"), F.col("event_type")).alias("dst"),
    ).distinct()
    edges = fwd.unionByName(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    sources = spark.createDataFrame(
        [(s,) for s in _PPR_SOURCES], "node string"
    )
    return ppr_fixedpoint(edges, sources, n_iter=3)


_PPR_ITER_SQL = """
c{i} AS (
  SELECT e.dst, CAST(sum(r.rank // od.od) AS BIGINT) AS s
  FROM edges e JOIN r{p} r ON r.node = e.src JOIN od ON od.src = e.src
  GROUP BY e.dst),
r{i} AS (
  SELECT nodes.node,
         CASE WHEN srcs.node IS NOT NULL
              THEN (3 * 1000000000000) // (20 * ns.n) ELSE 0 END
           + 17 * (COALESCE(c{i}.s, 0) // 20)
           + (17 * (COALESCE(c{i}.s, 0) % 20)) // 20 AS rank
  FROM nodes CROSS JOIN ns
  LEFT JOIN srcs ON srcs.node = nodes.node
  LEFT JOIN c{i} ON c{i}.dst = nodes.node)"""

SQL_PPR = (
    f"""
WITH base AS (SELECT DISTINCT 'u:' || CAST(user_id AS VARCHAR) AS src,
                              't:' || event_type AS dst
              FROM events),
edges AS (SELECT src, dst FROM base
          UNION SELECT dst AS src, src AS dst FROM base),
nodes AS (SELECT DISTINCT src AS node FROM edges
          UNION SELECT DISTINCT dst FROM edges),
srcs(node) AS (VALUES {", ".join(f"('{s}')" for s in _PPR_SOURCES)}),
ns AS (SELECT count(*) AS n FROM srcs),
od AS (SELECT src, count(*) AS od FROM edges GROUP BY src),
r0 AS (SELECT nodes.node,
              CASE WHEN srcs.node IS NOT NULL THEN 1000000000000 // ns.n
                   ELSE 0 END AS rank
       FROM nodes CROSS JOIN ns LEFT JOIN srcs ON srcs.node = nodes.node),"""
    + ",".join(_PPR_ITER_SQL.format(i=i, p=i - 1) for i in (1, 2, 3))
    + """
SELECT node, CAST(rank AS BIGINT) AS rank FROM r3
"""
)


def _copurchase_edges(spark, sf):
    """Deterministic undirected test graph with triangles: parts are
    linked when they appear in the same order (orders thinned 4x by key
    so the oracle's naive wedge join stays cheap).  ~30k edges / 2000
    nodes at sf0.01 — dense enough for non-trivial cores and triangles."""
    li = _t(spark, sf, "lineitem").where(F.expr("l_orderkey % 4 = 0")).select(
        "l_orderkey", "l_partkey"
    )
    a, b = li.alias("a"), li.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.concat(F.lit("p:"), F.col("a.l_partkey").cast("string")).alias("a"),
            F.concat(F.lit("p:"), F.col("b.l_partkey").cast("string")).alias("b"),
        )
        .distinct()
    )


_COPURCHASE_SQL = """
  SELECT DISTINCT 'p:' || CAST(a.l_partkey AS VARCHAR) AS u,
                  'p:' || CAST(b.l_partkey AS VARCHAR) AS v,
                  a.l_partkey AS uk, b.l_partkey AS vk
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  WHERE a.l_orderkey % 4 = 0
"""


def q_triangle(spark, sf):
    """Per-node triangle counts on the co-purchase graph via the
    DEGREE-ORIENTED wedge join (operators/graph.py triangle_count) —
    the skew-proof formulation whose wedge work is bounded by ~sqrt(|E|)
    per node.  The oracle counts the same triangles with the naive
    a<b<c three-way self-join, so the orientation algebra is checked
    against an independent algorithm."""
    from .operators.graph import triangle_count

    return triangle_count(_copurchase_edges(spark, sf))


SQL_TRIANGLE = f"""
WITH e AS MATERIALIZED ({_COPURCHASE_SQL}),
tri AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM e e1
  JOIN e e2 ON e2.uk = e1.vk
  JOIN e e3 ON e3.uk = e1.uk AND e3.vk = e2.vk),
corners AS (
  SELECT a AS node FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri)
SELECT node, count(*) AS n_tri FROM corners GROUP BY node
"""


_KCORE_K, _KCORE_ROUNDS = 15, 4


def q_kcore(spark, sf):
    """k-core of the co-purchase graph (k=15) by 4 fixed synchronous
    peel rounds (operators/graph.py kcore_peel); 4 rounds is past
    convergence on this graph (the peel stabilizes in 3), so the result
    IS the 15-core.  The oracle unrolls the identical 4 rounds in SQL.
    Fixed-round is the ORACLE-facing mode only: the production default
    (rounds=None) peels to convergence (ckpt.fixpoint, loud past its
    cap), so an unknown peel depth at scale cannot silently return a superset
    (deep-peel adversary pinned in tests/test_graph.py)."""
    from .operators.graph import kcore_peel

    return kcore_peel(_copurchase_edges(spark, sf), k=_KCORE_K,
                      rounds=_KCORE_ROUNDS)


def _kcore_sql() -> str:
    rounds = []
    for i in range(1, _KCORE_ROUNDS + 1):
        p = i - 1
        rounds.append(f"""
d{i} AS MATERIALIZED (SELECT node, count(*) AS deg FROM
        (SELECT u AS node FROM e{p} UNION ALL SELECT v FROM e{p}) nn
        GROUP BY node),
a{i} AS MATERIALIZED (SELECT node FROM d{i} WHERE deg >= {_KCORE_K}),
e{i} AS MATERIALIZED (SELECT u, v FROM e{p}
         WHERE u IN (SELECT node FROM a{i}) AND v IN (SELECT node FROM a{i}))""")
    return (
        f"WITH e0 AS MATERIALIZED (SELECT u, v FROM ({_COPURCHASE_SQL}) ce),"
        + ",".join(rounds)
        + f"""
SELECT node, count(*) AS deg FROM
  (SELECT u AS node FROM e{_KCORE_ROUNDS}
   UNION ALL SELECT v FROM e{_KCORE_ROUNDS}) nn
GROUP BY node
"""
    )


SQL_KCORE = _kcore_sql()


_LPA_ROUNDS = 3


def q_label_prop(spark, sf):
    """Community detection on the co-purchase graph: 3 SYNCHRONOUS
    label-propagation rounds with a lexicographic-min tie-break
    (operators/graph.py label_propagation) — the GraphFrames-style LPA
    recast as one frequency groupBy + one argmin agg per round, no
    windows.  Synchronous rounds + total tie-break order make the whole
    trajectory deterministic, so the oracle replays the identical
    rounds unrolled in SQL (the same fixed-point discipline as
    q_pagerank: anything order-dependent can never hash-match)."""
    from .operators.graph import label_propagation

    return label_propagation(_copurchase_edges(spark, sf), n_iter=_LPA_ROUNDS)


_LPA_ITER_SQL = """
c{i} AS MATERIALIZED (
  SELECT a.node, l.label, count(*) AS c
  FROM adj a JOIN l{p} l ON l.node = a.nbr
  GROUP BY a.node, l.label),
l{i} AS MATERIALIZED (
  SELECT node, label FROM (
    SELECT node, label,
           row_number() OVER (PARTITION BY node ORDER BY c DESC, label) AS rn
    FROM c{i}) t WHERE rn = 1)"""

SQL_LPA = (
    f"""
WITH e AS MATERIALIZED (SELECT u, v FROM ({_COPURCHASE_SQL}) ce),
adj AS MATERIALIZED (SELECT u AS node, v AS nbr FROM e
                     UNION ALL SELECT v, u FROM e),
l0 AS MATERIALIZED (SELECT DISTINCT node, node AS label FROM adj),"""
    + ",".join(
        _LPA_ITER_SQL.format(i=i, p=i - 1) for i in range(1, _LPA_ROUNDS + 1)
    )
    + f"""
SELECT node, label FROM l{_LPA_ROUNDS}
"""
)


def q_bfs_dist(spark, sf):
    """Multi-source BFS hop distances over the DOWNWARD containment tree
    (parent -> child over part keys 2..255, the same binary hierarchy
    q_closure climbs upward), sources {{p:1, p:50}} — "how far below
    either landmark is every node", the reachability-with-distance
    question rdflib answers by in-memory traversal.  Frontier BFS
    (operators/graph.py bfs_distances): per-round work proportional to
    the frontier, convergence probe stops at the true eccentricity.
    Oracle = DuckDB WITH RECURSIVE one-step walk capped at depth 20
    (beyond the tree's depth 7, so the cap never binds) — an
    independent algorithm for the same minimum."""
    from .operators.graph import bfs_distances

    p = _t(spark, sf, "part")
    edges = p.where(F.col("p_partkey").between(2, 255)).select(
        F.concat(
            F.lit("p:"), F.expr("p_partkey div 2").cast("string")
        ).alias("src"),
        F.concat(F.lit("p:"), F.col("p_partkey").cast("string")).alias("dst"),
    )
    sources = spark.createDataFrame([("p:1",), ("p:50",)], "node string")
    return bfs_distances(edges, sources)


SQL_BFS_DIST = """
WITH RECURSIVE
e AS (SELECT 'p:' || CAST(p_partkey // 2 AS VARCHAR) AS src,
             'p:' || CAST(p_partkey AS VARCHAR) AS dst
      FROM part WHERE p_partkey BETWEEN 2 AND 255),
walk(node, dist) AS (
  SELECT node, 0 FROM (VALUES ('p:1'), ('p:50')) s(node)
  UNION
  SELECT e.dst, w.dist + 1 FROM walk w JOIN e ON e.src = w.node
  WHERE w.dist < 20
)
SELECT node, CAST(min(dist) AS INTEGER) AS dist FROM walk GROUP BY node
"""


def q_harmonic(spark, sf):
    """Landmark-approximated harmonic centrality (operators/graph.py
    harmonic_centrality over bfs_distances_tagged): sum of 1/d(landmark
    -> node) over a landmark set — here {p:1, p:50} on the same
    containment tree q_bfs_dist walks, which makes the two queries a
    pair: min-distance vs inverse-distance-mass from the same frontier
    machinery.  The tagged BFS runs all landmarks in ONE frontier loop
    (per-(src,node) settling), so rounds = max eccentricity, not
    landmarks x rounds.  4dp rounding absorbs float-sum ordering.
    Oracle: per-source recursive CTE minimum, then the same sum."""
    from .operators.graph import harmonic_centrality

    p = _t(spark, sf, "part")
    edges = p.where(F.col("p_partkey").between(2, 255)).select(
        F.concat(
            F.lit("p:"), F.expr("p_partkey div 2").cast("string")
        ).alias("src"),
        F.concat(F.lit("p:"), F.col("p_partkey").cast("string")).alias("dst"),
    )
    landmarks = spark.createDataFrame([("p:1",), ("p:50",)], "node string")
    h = harmonic_centrality(edges, landmarks)
    return h.select("node", F.round("harmonic", 4).alias("harmonic"))


SQL_HARMONIC = """
WITH RECURSIVE
e AS (SELECT 'p:' || CAST(p_partkey // 2 AS VARCHAR) AS src,
             'p:' || CAST(p_partkey AS VARCHAR) AS dst
      FROM part WHERE p_partkey BETWEEN 2 AND 255),
walk(src, node, dist) AS (
  SELECT node, node, 0 FROM (VALUES ('p:1'), ('p:50')) s(node)
  UNION
  SELECT w.src, e.dst, w.dist + 1 FROM walk w JOIN e ON e.src = w.node
  WHERE w.dist < 20
),
d AS (SELECT src, node, min(dist) AS dist FROM walk GROUP BY src, node)
SELECT node, round(sum(1.0 / dist), 4) AS harmonic
FROM d WHERE dist > 0 GROUP BY node
"""


def _motif_edges(spark, sf):
    """Directed typed edge set for motif finding, built from the TPC-H
    geography: supplier -located_in-> nation -part_of-> region, plus a
    ships_to shortcut edge supplier -> region for every third supplier
    (so the negated-edge term below filters a real, non-trivial
    subset)."""
    s = _t(spark, sf, "supplier").select(
        F.concat(F.lit("s:"), F.col("s_suppkey").cast("string")).alias("src"),
        F.concat(F.lit("n:"), F.col("s_nationkey").cast("string")).alias("dst"),
        F.lit("located_in").alias("pred"),
        F.col("s_suppkey").alias("_k"),
        F.col("s_nationkey").alias("_n"),
    )
    n = _t(spark, sf, "nation").select(
        F.concat(F.lit("n:"), F.col("n_nationkey").cast("string")).alias("src"),
        F.concat(F.lit("r:"), F.col("n_regionkey").cast("string")).alias("dst"),
        F.lit("part_of").alias("pred"),
        "n_nationkey",
        "n_regionkey",
    )
    ships = (
        s.where(F.col("_k") % 3 == 0)
        .join(F.broadcast(n.select("n_nationkey", "n_regionkey")),
              s["_n"] == F.col("n_nationkey"))
        .select(
            "src",
            F.concat(F.lit("r:"), F.col("n_regionkey").cast("string")
                     ).alias("dst"),
            F.lit("ships_to").alias("pred"),
        )
    )
    return (
        s.select("src", "dst", "pred")
        .unionByName(n.select("src", "dst", "pred"))
        .unionByName(ships)
    )


def q_motif(spark, sf):
    """GraphFrames-style motif finding (operators/motif.py) lowered to
    Catalyst equi-joins + a left-anti for the negated term: suppliers
    with a located_in -> part_of chain to a region they have NO direct
    ships_to edge to.  The pattern mixes a named edge (projected pred
    column), an anonymous edge, and a negation, so all three term kinds
    hit the oracle.  The oracle replays the identical join chain + NOT
    EXISTS over the same edge CTE."""
    from .operators.motif import find_motifs

    out = find_motifs(
        _motif_edges(spark, sf),
        "(s)-[e]->(n); (n)-[]->(r); !(s)-[]->(r)",
    )
    return out.orderBy("s", "n", "r", "e_pred")


SQL_MOTIF = """
WITH edges AS MATERIALIZED (
  SELECT 's:' || CAST(s_suppkey AS VARCHAR) AS src,
         'n:' || CAST(s_nationkey AS VARCHAR) AS dst,
         'located_in' AS pred
  FROM supplier
  UNION ALL
  SELECT 'n:' || CAST(n_nationkey AS VARCHAR),
         'r:' || CAST(n_regionkey AS VARCHAR), 'part_of'
  FROM nation
  UNION ALL
  SELECT 's:' || CAST(s.s_suppkey AS VARCHAR),
         'r:' || CAST(n.n_regionkey AS VARCHAR), 'ships_to'
  FROM supplier s JOIN nation n ON n.n_nationkey = s.s_nationkey
  WHERE s.s_suppkey % 3 = 0)
SELECT e1.src AS s, e1.dst AS n, e1.pred AS e_pred, e2.dst AS r
FROM edges e1
JOIN edges e2 ON e2.src = e1.dst
WHERE NOT EXISTS (SELECT 1 FROM edges x
                  WHERE x.src = e1.src AND x.dst = e2.dst)
ORDER BY s, n, r, e_pred
"""


_DUP_WINDOW = 8  # tokens per duplicate-detection window


def q_substring_dup(spark, sf):
    """Sequence-level (substring) duplicate detection, the signal behind
    suffix-array-style training-data dedup: every 8-token sliding window
    is hashed row-wise (never md5 inside a higher-order lambda — see the
    codegen hazard note on q_dedup_ngram) and windows appearing in more
    than one document are reported with their positions.  Plan: explode ->
    partial-aggregated groupBy on the hash -> hash-key join back; nothing
    quadratic — cost is linear in total token count, the same shape at
    100 TB."""
    d = _t(spark, sf, "documents")
    toks = _tokens(F.col("text"))
    w = (
        d.select("doc_id", toks.alias("toks"))
        .where(F.size("toks") >= _DUP_WINDOW)
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.lit(1), F.size("toks") - (_DUP_WINDOW - 1))
            ).alias("pos"),
            F.col("toks"),
        )
        .select(
            "doc_id",
            "pos",
            F.md5(F.concat_ws(" ", F.slice(F.col("toks"), F.col("pos"), _DUP_WINDOW))).alias(
                "dup_hash"
            ),
        )
    )
    g = w.groupBy("dup_hash").agg(
        F.count_distinct("doc_id").alias("n_docs")
    )
    return w.join(g, "dup_hash").where(F.col("n_docs") > 1).select(
        "doc_id", "pos", "dup_hash", "n_docs"
    )


SQL_SUBSTRING_DUP = f"""
WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
w AS (
  SELECT doc_id, CAST(i AS INTEGER) AS pos,
         md5(array_to_string(toks[i:i+{_DUP_WINDOW - 1}], ' ')) AS dup_hash
  FROM t, UNNEST(range(1, len(toks) - {_DUP_WINDOW - 2})) AS u(i)
  WHERE len(toks) >= {_DUP_WINDOW}),
g AS (SELECT dup_hash, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
      FROM w GROUP BY dup_hash)
SELECT doc_id, pos, dup_hash, n_docs
FROM w JOIN g USING (dup_hash) WHERE n_docs > 1
"""


def q_lm_score(spark, sf):
    """CCNet-style corpus-LM quality scoring: train a unigram LM on the
    corpus itself (token probability = corpus frequency / total tokens),
    then score each document by its mean token log-probability — low
    scores flag gibberish, high scores flag boilerplate.  Determinism
    discipline: each ln() term is rounded to 6 decimals and summed as
    DECIMAL (exact, order-independent); only the final mean is a float
    division, identical IEEE on both engines."""
    d = _t(spark, sf, "documents")
    tok = d.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.lower("text"), F.lit("[a-z]+"), 0)
        ).alias("word"),
    )
    tf = tok.groupBy("doc_id", "word").agg(F.count("*").alias("tf"))
    cf = tf.groupBy("word").agg(F.sum("tf").alias("cf"))
    tot = cf.agg(F.sum("cf").alias("t"))
    lp = F.round(F.log(F.col("cf").cast("double") / F.col("t")), 6).cast(
        "decimal(18,6)"
    )
    term = tf.join(cf, "word").crossJoin(F.broadcast(tot)).select(
        "doc_id", "tf", lp.alias("lp")
    )
    return term.groupBy("doc_id").agg(
        F.sum("tf").alias("n_toks"),
        F.round(
            F.sum(F.col("tf") * F.col("lp")).cast("double") / F.sum("tf"), 6
        ).alias("avg_logp"),
    )


SQL_LM_SCORE = """
WITH tok AS (SELECT doc_id,
                    unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
             FROM documents),
tf AS (SELECT doc_id, word, count(*) AS tf FROM tok GROUP BY doc_id, word),
cf AS (SELECT word, CAST(sum(tf) AS BIGINT) AS cf FROM tf GROUP BY word),
tot AS (SELECT CAST(sum(cf) AS BIGINT) AS t FROM cf),
term AS (
  SELECT doc_id, tf,
         CAST(round(ln(CAST(cf AS DOUBLE) / t), 6) AS DECIMAL(18,6)) AS lp
  FROM tf JOIN cf USING (word) CROSS JOIN tot)
SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_toks,
       round(CAST(sum(tf * lp) AS DOUBLE) / sum(tf), 6) AS avg_logp
FROM term GROUP BY doc_id
"""


_SHACL_KINDS_TTL = """
@prefix sh: <http://www.w3.org/ns/shacl#> .
ex:TurnKinds a sh:NodeShape ;
  sh:targetSubjectsOf partOf ;
  sh:property [ sh:path atTime ; sh:nodeKind sh:Literal ;
                sh:minLength 19 ; sh:maxLength 18 ] ;
  sh:property [ sh:path hasRole ; sh:nodeKind sh:Literal ] .
"""


def q_count_min(spark, sf):
    """Count-min sketch (operators/quality.py): fixed-size, mergeable
    frequency state — the skew-diagnosis primitive ("how hot is this
    conv_id") whose per-day kilobyte sketches answer point queries
    across a 100 TB table without rescanning.  Built over
    events.user_id (width 256, depth 3) and probed with every distinct
    user; est = min over lanes, never under the true count.  The md5
    lane hashing is the shared cross-engine hash, so construction AND
    estimation replay verbatim in SQL."""
    from .operators.quality import cm_estimate, count_min_sketch

    e = _t(spark, sf, "events").select(
        F.col("user_id").cast("string").alias("key")
    )
    sk = count_min_sketch(e, "key", width=256, depth=3)
    probes = e.distinct()
    return cm_estimate(sk, probes, "key", width=256, depth=3)


def _cm_sql(width: int = 256, depth: int = 3) -> str:
    def bucket(d: int, key: str) -> str:
        return (f"CAST(CAST('0x' || substr(md5('cm{d}:' || {key}), 1, 8) "
                f"AS BIGINT) % {width} AS INT)")

    lanes = " UNION ALL ".join(
        f"SELECT {d} AS lane, {bucket(d, 'CAST(user_id AS VARCHAR)')} "
        f"AS bucket FROM events" for d in range(depth)
    )
    probe_lanes = " UNION ALL ".join(
        f"SELECT key, {d} AS lane, {bucket(d, 'key')} AS bucket FROM probes"
        for d in range(depth)
    )
    return f"""
WITH cells AS (
  SELECT lane, bucket, count(*) AS c FROM ({lanes}) GROUP BY lane, bucket),
probes AS (SELECT DISTINCT CAST(user_id AS VARCHAR) AS key FROM events),
pl AS ({probe_lanes})
SELECT key, CAST(min(coalesce(c, 0)) AS BIGINT) AS est
FROM pl LEFT JOIN cells USING (lane, bucket) GROUP BY key
"""


SQL_COUNT_MIN = _cm_sql()


def q_anf(spark, sf):
    """Approximate neighborhood function (operators/graph.py anf_reach —
    ANF, Palmer et al. KDD'02): per-node k-hop reach estimates via
    Flajolet-Martin bitmask propagation over the conv->turn->tool edge
    list — one join + bit_or aggregation per round instead of the
    quadratic transitive closure.  Fully deterministic integer mask
    algebra on the shared md5 hash, so the oracle replays seeds, two
    propagation rounds, and the lowest-unset-bit sums verbatim in SQL
    (bits_sum is the integer-exact output; the FM estimate is a fixed
    function of it)."""
    from .operators.graph import anf_reach

    g = q_kg_structural(spark, sf)
    edges = g.where(F.col("pred").isin("hasTurn", "usedTool")).select(
        F.col("subj").alias("src"), F.col("obj").alias("dst")
    )
    return anf_reach(edges, rounds=2, n_hashes=4).select(
        "node", "k", "bits_sum"
    )


def _anf_sql(rounds: int = 2, n_hashes: int = 4) -> str:
    hs = ", ".join(
        f"CAST('0x' || substr(md5('anf{s}:' || node), 1, 8) AS BIGINT)"
        f" AS h{s}" for s in range(n_hashes)
    )
    ms = ", ".join(
        f"CAST(1 AS BIGINT) << (CASE WHEN h{s} = 0 THEN 31 ELSE "
        f"bit_count((h{s} & -h{s}) - 1) END) AS m{s}"
        for s in range(n_hashes)
    )
    mcols = ", ".join(f"m{s}" for s in range(n_hashes))
    bsum = " + ".join(
        f"bit_count(((m{s} + 1) & ~m{s}) - 1)" for s in range(n_hashes)
    )
    layers, prev = [], "r0"
    for k in range(1, rounds + 1):
        ors = ", ".join(f"bit_or(m{s}) AS m{s}" for s in range(n_hashes))
        layers.append(
            f"r{k} AS (SELECT node, {ors} FROM ("
            f"  SELECT node, {mcols} FROM {prev}"
            f"  UNION ALL"
            f"  SELECT e.src AS node, {mcols}"
            f"  FROM e JOIN {prev} m ON m.node = e.dst) GROUP BY node)"
        )
        prev = f"r{k}"
    selects = " UNION ALL ".join(
        f"SELECT node, {k} AS k, CAST({bsum} AS BIGINT) AS bits_sum FROM r{k}"
        for k in range(rounds + 1)
    )
    return f"""
WITH g AS ({SQL_KG_STRUCTURAL}),
e AS (SELECT DISTINCT subj AS src, obj AS dst FROM g
      WHERE pred IN ('hasTurn', 'usedTool')),
n AS (SELECT src AS node FROM e UNION SELECT dst AS node FROM e),
r0 AS (SELECT node, {ms} FROM (SELECT node, {hs} FROM n)),
{", ".join(layers)}
{selects}
"""


SQL_ANF = _anf_sql()


def q_shacl_kinds(spark, sf):
    """SHACL value-shape constraints (sh:minLength / sh:maxLength /
    sh:nodeKind): atTime objects are 19-char ISO literals, so minLength
    19 conforms everywhere (the empty-violation path), maxLength 18
    flags every atTime value, and nodeKind sh:Literal on hasRole flags
    every role: IRI — the kind test is this engine's term shape (`_:`
    blank, `prefix:rest` IRI, else literal), which the oracle replays
    as the identical CASE expression."""
    from .operators.shacl import validate
    from .sources.turtle import parse_turtle

    shape_triples, _ = parse_turtle(_SHACL_KINDS_TTL)
    return validate(q_kg_structural(spark, sf), shape_triples)


SQL_SHACL_KINDS = f"""
WITH g AS ({SQL_KG_STRUCTURAL}),
focus AS (SELECT DISTINCT subj AS focus FROM g WHERE pred = 'partOf'),
at_vals AS (
  SELECT g.subj AS focus, g.obj AS value
  FROM g JOIN focus f ON g.subj = f.focus WHERE g.pred = 'atTime'),
role_vals AS (
  SELECT g.subj AS focus, g.obj AS value
  FROM g JOIN focus f ON g.subj = f.focus WHERE g.pred = 'hasRole')
SELECT focus, 'ex:TurnKinds' AS shape, 'atTime' AS path,
       'maxLength' AS "constraint", value
FROM at_vals WHERE length(value) > 18
UNION ALL
SELECT focus, 'ex:TurnKinds', 'atTime', 'minLength', value
FROM at_vals WHERE length(value) < 19
UNION ALL
SELECT focus, 'ex:TurnKinds', 'atTime', 'nodeKind', value
FROM at_vals
WHERE CASE WHEN starts_with(value, '_:') THEN 'BlankNode'
           WHEN regexp_matches(value, '^[A-Za-z][A-Za-z0-9_-]*:[^ ]+$')
           THEN 'IRI' ELSE 'Literal' END <> 'Literal'
UNION ALL
SELECT focus, 'ex:TurnKinds', 'hasRole', 'nodeKind', value
FROM role_vals
WHERE CASE WHEN starts_with(value, '_:') THEN 'BlankNode'
           WHEN regexp_matches(value, '^[A-Za-z][A-Za-z0-9_-]*:[^ ]+$')
           THEN 'IRI' ELSE 'Literal' END <> 'Literal'
"""


_SHACL_SHAPES_TTL = """
@prefix sh: <http://www.w3.org/ns/shacl#> .
ex:TurnShape a sh:NodeShape ;
  sh:targetSubjectsOf partOf ;
  sh:property [ sh:path hasRole ;
                sh:in ("role:user" "role:assistant" "role:tool") ] .
ex:ConvShape a sh:NodeShape ;
  sh:targetSubjectsOf hasTurn ;
  sh:property [ sh:path hasTurn ; sh:minCount 2 ; sh:maxCount 50 ] ;
  sh:property [ sh:path hasTurn ; sh:pattern "^turn:u[0-9]+/[0-9]+$" ] .
"""


def q_shacl(spark, sf):
    """SHACL-subset validation (operators/shacl.py) over the structural
    transcript KG: shapes declared in Turtle (anonymous property shapes
    + an sh:in collection, through this engine's own parser), compiled
    driver-side (shapes are metadata-scale), validated as a DataFrame
    plan — per constraint a filtered pruned scan plus at most one
    aggregation or anti-join.  The shapes flag system-role turns
    (outside the sh:in list), single-turn conversations (minCount 2)
    and >50-turn conversations (maxCount 50); the pattern constraint
    conforms everywhere, exercising the empty-violation path.  The
    oracle replays each constraint family as explicit SQL over the same
    graph, so the validator's semantics — not just its row count — are
    cross-engine checked."""
    from .operators.shacl import validate
    from .sources.turtle import parse_turtle

    shape_triples, _ = parse_turtle(_SHACL_SHAPES_TTL)
    return validate(q_kg_structural(spark, sf), shape_triples)


SQL_SHACL = f"""
WITH g AS ({SQL_KG_STRUCTURAL}),
turn_focus AS (SELECT DISTINCT subj AS focus FROM g WHERE pred = 'partOf'),
conv_focus AS (SELECT DISTINCT subj AS focus FROM g WHERE pred = 'hasTurn'),
role_vals AS (
  SELECT g.subj AS focus, g.obj AS value
  FROM g JOIN turn_focus f ON g.subj = f.focus WHERE g.pred = 'hasRole'),
turn_counts AS (
  SELECT f.focus, count(g.subj) AS n
  FROM conv_focus f
  LEFT JOIN g ON g.subj = f.focus AND g.pred = 'hasTurn'
  GROUP BY f.focus),
hasturn_vals AS (
  SELECT g.subj AS focus, g.obj AS value
  FROM g JOIN conv_focus f ON g.subj = f.focus WHERE g.pred = 'hasTurn')
SELECT focus, 'ex:TurnShape' AS shape, 'hasRole' AS path,
       'in' AS "constraint", value
FROM role_vals
WHERE value NOT IN ('role:user', 'role:assistant', 'role:tool')
UNION ALL
SELECT focus, 'ex:ConvShape', 'hasTurn', 'minCount', CAST(n AS VARCHAR)
FROM turn_counts WHERE n < 2
UNION ALL
SELECT focus, 'ex:ConvShape', 'hasTurn', 'maxCount', CAST(n AS VARCHAR)
FROM turn_counts WHERE n > 50
UNION ALL
SELECT focus, 'ex:ConvShape', 'hasTurn', 'pattern', value
FROM hasturn_vals WHERE NOT regexp_matches(value, '^turn:u[0-9]+/[0-9]+$')
"""


_SHACL_SPARQL_TTL = """
@prefix sh: <http://www.w3.org/ns/shacl#> .
ex:ToolTurn a sh:NodeShape ;
  sh:targetSubjectsOf hasRole ;
  sh:sparql [
    sh:select "SELECT ?this WHERE { ?this hasRole 'role:tool' . FILTER NOT EXISTS { ?this usedTool ?t } }" ;
    sh:message "tool-role turn without usedTool"
  ] .
"""


def q_shacl_sparql(spark, sf):
    """SHACL-SPARQL constraint component (sh:sparql / sh:select): a
    cross-property rule the core constraint families can't express —
    "a tool-role turn must carry a usedTool triple" — declared as a
    SPARQL SELECT inside the shapes graph (spec's advanced profile) and
    validated by running the query ONCE over the graph and semi-joining
    its ?this column with the focus set (the distributed equivalent of
    the spec's per-focus $this pre-binding; a per-focus loop would be
    driver-side).  Oracle replays the rule as an anti-join in SQL."""
    from .operators.shacl import validate
    from .sources.turtle import parse_turtle

    shape_triples, _ = parse_turtle(_SHACL_SPARQL_TTL)
    return validate(q_kg_structural(spark, sf), shape_triples)


SQL_SHACL_SPARQL = f"""
WITH g AS ({SQL_KG_STRUCTURAL}),
tool_turns AS (
  SELECT subj FROM g WHERE pred = 'hasRole' AND obj = 'role:tool'),
used AS (SELECT DISTINCT subj FROM g WHERE pred = 'usedTool')
SELECT t.subj AS focus, 'ex:ToolTurn' AS shape, 'sh:sparql' AS path,
       'sparql' AS "constraint",
       'tool-role turn without usedTool' AS value
FROM tool_turns t ANTI JOIN used u ON t.subj = u.subj
"""


def q_char_sets(spark, sf):
    """Characteristic sets (operators/quality.py) of the structural
    transcript KG: every distinct predicate-combination a subject
    carries, with subject and triple counts — the Neumann & Moerkotte
    structure summary RDF engines drive cardinality estimation with.
    Two exchanges; output bounded by vocabulary combinations, not
    subjects.  The oracle rebuilds the sorted set string with
    list_sort/array_to_string."""
    from .operators.quality import characteristic_sets

    return characteristic_sets(q_kg_structural(spark, sf))


SQL_CHAR_SETS = f"""
WITH g AS ({SQL_KG_STRUCTURAL}),
s AS (
  SELECT subj,
         array_to_string(list_sort(list(DISTINCT pred)), ';') AS cs,
         count(*) AS n_t
  FROM g GROUP BY subj)
SELECT cs, count(*) AS n_subjects, CAST(sum(n_t) AS BIGINT) AS n_triples
FROM s GROUP BY cs
"""


def q_jaccard(spark, sf):
    """Neighbor-set Jaccard similarity (operators/graph.py
    neighbor_jaccard) over the part-order incidence: parts are similar
    when they recur in the same orders — the set-overlap scorer entity
    resolution ranks candidate merges with.  The order side is the
    wedge pivot and its degree is naturally bounded (lineitems per
    order), so pair generation is linear in orders; min_common=2 keeps
    only recurring co-occurrence.  The min_sim cut (0 here) is integer-
    exact by construction; the oracle replays the inclusion-exclusion
    union and the join shape directly."""
    from .operators.graph import neighbor_jaccard

    li = _t(spark, sf, "lineitem").select(
        F.concat(F.lit("p:"), F.col("l_partkey").cast("string")).alias(
            "node"
        ),
        F.concat(F.lit("o:"), F.col("l_orderkey").cast("string")).alias(
            "feat"
        ),
    )
    return neighbor_jaccard(li, min_common=2)


SQL_JACCARD = """
WITH inc AS (SELECT DISTINCT 'p:' || CAST(l_partkey AS VARCHAR) AS node,
                             'o:' || CAST(l_orderkey AS VARCHAR) AS feat
             FROM lineitem),
deg AS (SELECT node, count(*) AS d FROM inc GROUP BY node),
pairs AS (SELECT x.node AS u, y.node AS v, count(*) AS common
          FROM inc x JOIN inc y ON x.feat = y.feat AND x.node < y.node
          GROUP BY 1, 2)
SELECT u, v, common, du.d + dv.d - common AS union_n,
       round(CAST(common AS DOUBLE) / (du.d + dv.d - common), 6) AS jaccard
FROM pairs JOIN deg du ON pairs.u = du.node
           JOIN deg dv ON pairs.v = dv.node
WHERE common >= 2
"""


_HITS_ITER_SQL = """
ar{i} AS (SELECT e.dst AS node, CAST(sum(h.hub) AS BIGINT) AS raw
          FROM e JOIN h{p} h ON e.src = h.node GROUP BY e.dst),
am{i} AS (SELECT greatest(max(raw), CAST(1 AS BIGINT)) AS mx,
                 greatest(max(raw), CAST(1 AS BIGINT)) // 1000000000
                 + CAST(1 AS BIGINT) AS sh
          FROM ar{i}),
a{i} AS (SELECT n.node,
                (coalesce(r.raw, CAST(0 AS BIGINT)) // sh) * 1000000
                // greatest(mx // sh, CAST(1 AS BIGINT)) AS auth
         FROM nodes n LEFT JOIN ar{i} r ON n.node = r.node CROSS JOIN am{i}),
hr{i} AS (SELECT e.src AS node, CAST(sum(a.auth) AS BIGINT) AS raw
          FROM e JOIN a{i} a ON e.dst = a.node GROUP BY e.src),
hm{i} AS (SELECT greatest(max(raw), CAST(1 AS BIGINT)) AS mx,
                 greatest(max(raw), CAST(1 AS BIGINT)) // 1000000000
                 + CAST(1 AS BIGINT) AS sh
          FROM hr{i}),
h{i} AS (SELECT n.node,
                (coalesce(r.raw, CAST(0 AS BIGINT)) // sh) * 1000000
                // greatest(mx // sh, CAST(1 AS BIGINT)) AS hub
         FROM nodes n LEFT JOIN hr{i} r ON n.node = r.node CROSS JOIN hm{i})
"""

_HITS_ROUNDS = 2


def q_hits(spark, sf):
    """HITS hubs & authorities (operators/graph.py hits) on the
    directed supplier->part supply graph: suppliers are hubs, parts
    authorities.  Scaled 64-bit integer recurrence (exact cross-engine,
    same discipline as q_pagerank) with overflow-free max
    normalization; supplier raw sums exceed 1e9 here, so the
    normalization's right-shift path — the part that matters at
    mega-hub scale — is exercised and value-hash-checked against the
    oracle's replay, not just the easy direct path."""
    from .operators.graph import hits

    li = _t(spark, sf, "lineitem").select(
        F.concat(F.lit("s:"), F.col("l_suppkey").cast("string")).alias(
            "src"
        ),
        F.concat(F.lit("p:"), F.col("l_partkey").cast("string")).alias(
            "dst"
        ),
    )
    return hits(li, n_iter=_HITS_ROUNDS)


SQL_HITS = (
    """
WITH e AS MATERIALIZED (
  SELECT DISTINCT 's:' || CAST(l_suppkey AS VARCHAR) AS src,
                  'p:' || CAST(l_partkey AS VARCHAR) AS dst
  FROM lineitem),
nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM e
                       UNION SELECT DISTINCT dst FROM e),
h0 AS (SELECT node, CAST(1000000 AS BIGINT) AS hub FROM nodes),"""
    + ",".join(
        _HITS_ITER_SQL.format(i=i, p=i - 1)
        for i in range(1, _HITS_ROUNDS + 1)
    )
    + f"""
SELECT n.node, h.hub, a.auth
FROM nodes n JOIN h{_HITS_ROUNDS} h ON n.node = h.node
             JOIN a{_HITS_ROUNDS} a ON n.node = a.node
"""
)


# ---- directed-graph structure: SCC, topo levels, incremental CC -----------


def q_scc(spark, sf):
    """Strongly connected components (operators/digraph.py scc — block
    refinement with min-label propagation + pointer halving), forced
    down the DISTRIBUTED loop.  Fixture: 16 rings of 8 nodes (the
    cyclic SCCs) whose anchors chain ring->ring (a 16-deep DAG
    condensation — exercises re-blocking AND per-round finalization),
    plus a 2-node singleton spur.  Oracle = DuckDB WITH RECURSIVE
    mutual-reachability (scc(v) = min{u : u ~> v and v ~> u},
    reflexive) — an independent exact algorithm for the same
    assignment."""
    from .operators.digraph import scc

    p = _t(spark, sf, "part").where(F.col("p_partkey").between(0, 127))
    k = F.col("p_partkey")
    ring = p.select(
        F.format_string("s:%03d", k).alias("src"),
        F.format_string(
            "s:%03d", (k - k % 8) + (k + 1) % 8
        ).alias("dst"),
    )
    anchors = p.where((k % 8 == 0) & (k < 120)).select(
        F.format_string("s:%03d", k).alias("src"),
        F.format_string("s:%03d", k + 8).alias("dst"),
    )
    spur = spark.createDataFrame(
        [("s:000", "spur:a"), ("spur:a", "spur:b")], "src string, dst string"
    )
    return scc(
        ring.unionByName(anchors).unionByName(spur), small_graph_edges=0
    )


SQL_SCC = """
WITH RECURSIVE
e AS (
  SELECT 's:' || lpad(CAST(p_partkey AS VARCHAR), 3, '0') AS src,
         's:' || lpad(CAST((p_partkey - p_partkey % 8) + (p_partkey + 1) % 8
                           AS VARCHAR), 3, '0') AS dst
  FROM part WHERE p_partkey BETWEEN 0 AND 127
  UNION ALL
  SELECT 's:' || lpad(CAST(p_partkey AS VARCHAR), 3, '0'),
         's:' || lpad(CAST(p_partkey + 8 AS VARCHAR), 3, '0')
  FROM part WHERE p_partkey % 8 = 0 AND p_partkey BETWEEN 0 AND 119
  UNION ALL
  SELECT * FROM (VALUES ('s:000', 'spur:a'), ('spur:a', 'spur:b')) v(s, d)
),
nodes AS (SELECT DISTINCT src AS n FROM e UNION SELECT DISTINCT dst FROM e),
reach(a, b) AS (
  SELECT src, dst FROM e
  UNION
  SELECT r.a, e.dst FROM reach r JOIN e ON e.src = r.b
),
mutual AS (
  SELECT r1.a AS v, r1.b AS u
  FROM reach r1 JOIN reach r2 ON r1.a = r2.b AND r1.b = r2.a
)
SELECT n.n AS node, least(n.n, coalesce(min(m.u), n.n)) AS scc
FROM nodes n LEFT JOIN mutual m ON m.v = n.n
GROUP BY n.n
"""


def q_topo(spark, sf):
    """Topological levels via distributed Kahn peel
    (operators/digraph.py topo_levels, forced distributed):
    level = LONGEST path from a root = the earliest wave a node is
    schedulable in a dependency execution.  Fixture: the binary
    containment tree (p div 2 -> p, keys 2..127) PLUS sibling edges
    (p-1 -> p for odd p), so the longest path is genuinely longer than
    the tree depth and the peel order differs from BFS order.  Oracle =
    DuckDB WITH RECURSIVE max-length walk from the root — independent
    algorithm, same maximum."""
    from .operators.digraph import topo_levels

    p = _t(spark, sf, "part").where(F.col("p_partkey").between(2, 127))
    k = F.col("p_partkey")
    tree = p.select(
        F.format_string("t:%03d", F.expr("p_partkey div 2")).alias("src"),
        F.format_string("t:%03d", k).alias("dst"),
    )
    sib = p.where((k % 2 == 1)).select(
        F.format_string("t:%03d", k - 1).alias("src"),
        F.format_string("t:%03d", k).alias("dst"),
    )
    return topo_levels(tree.unionByName(sib), small_graph_edges=0)


SQL_TOPO = """
WITH RECURSIVE
e AS (
  SELECT 't:' || lpad(CAST(p_partkey // 2 AS VARCHAR), 3, '0') AS src,
         't:' || lpad(CAST(p_partkey AS VARCHAR), 3, '0') AS dst
  FROM part WHERE p_partkey BETWEEN 2 AND 127
  UNION ALL
  SELECT 't:' || lpad(CAST(p_partkey - 1 AS VARCHAR), 3, '0'),
         't:' || lpad(CAST(p_partkey AS VARCHAR), 3, '0')
  FROM part WHERE p_partkey BETWEEN 2 AND 127 AND p_partkey % 2 = 1
),
nodes AS (SELECT DISTINCT src AS n FROM e UNION SELECT DISTINCT dst FROM e),
roots AS (SELECT n FROM nodes WHERE n NOT IN (SELECT dst FROM e)),
walk(node, len) AS (
  SELECT n, 0 FROM roots
  UNION
  SELECT e.dst, w.len + 1 FROM walk w JOIN e ON e.src = w.node
)
SELECT node, CAST(max(len) AS INTEGER) AS level FROM walk GROUP BY node
"""


def q_cc_incremental(spark, sf):
    """Incremental connected-components maintenance (operators/cc.py
    cc_incremental): batch 1 of alias edges is canonicalized up front,
    batch 2 folds in through the affected-components-only merge (star
    edges + delta, distributed loop forced) — the cross-batch
    canonicalization path a daily transcript drop takes.  Oracle = full
    recompute over BOTH batches in DuckDB (WITH RECURSIVE min-label),
    which the merge must equal exactly because labels are canonical
    min-nodes."""
    from .operators.cc import cc_incremental, connected_components

    e = _t(spark, sf, "events")
    edges = e.select(
        F.concat(F.lit("u:"), F.col("user_id").cast("string")).alias("src"),
        F.concat(F.lit("t:"), F.col("event_type")).alias("dst"),
        F.col("user_id"),
    ).distinct()
    batch1 = edges.where(F.col("user_id") % 3 != 0).select("src", "dst")
    batch2 = edges.where(F.col("user_id") % 3 == 0).select("src", "dst")
    base = connected_components(batch1)
    return cc_incremental(base, batch2, small_graph_edges=0)


SQL_CC_INCREMENTAL = """
WITH RECURSIVE
base AS (SELECT DISTINCT 'u:' || CAST(user_id AS VARCHAR) AS src,
                         't:' || event_type AS dst
         FROM events),
edges AS (SELECT src, dst FROM base
          UNION SELECT dst AS src, src AS dst FROM base),
walk(node, comp) AS (
  SELECT src AS node, src AS comp FROM edges
  UNION
  SELECT e.dst AS node, w.comp FROM walk w JOIN edges e ON e.src = w.node
)
SELECT node, min(comp) AS component FROM walk GROUP BY node
"""


# ---- community quality: all-integer modularity decomposition ---------------


def q_modularity(spark, sf):
    """Per-community modularity decomposition of the LPA partition on
    the co-purchase graph (operators/graph.py modularity_parts):
    q_num(c) = 4*m*e_c - deg_c^2, ALL-INTEGER (Q = sum/4m^2 is the one
    caller-side float division — modularity_score), so the distributed
    aggregates are order-independent and the oracle hash-matches
    exactly.  The oracle composes the unrolled SQL_LPA rounds with the
    same integer algebra."""
    from .operators.graph import label_propagation, modularity_parts

    edges = _copurchase_edges(spark, sf)
    labels = label_propagation(edges, n_iter=_LPA_ROUNDS)
    return modularity_parts(edges, labels)


def _modularity_sql() -> str:
    lpa_body = (
        f"""
WITH e AS MATERIALIZED (SELECT u, v FROM ({_COPURCHASE_SQL}) ce),
adj AS MATERIALIZED (SELECT u AS node, v AS nbr FROM e
                     UNION ALL SELECT v, u FROM e),
l0 AS MATERIALIZED (SELECT DISTINCT node, node AS label FROM adj),"""
        + ",".join(
            _LPA_ITER_SQL.format(i=i, p=i - 1)
            for i in range(1, _LPA_ROUNDS + 1)
        )
    )
    return (
        lpa_body
        + f""",
lab AS MATERIALIZED (SELECT node, label FROM l{_LPA_ROUNDS}),
m AS (SELECT count(*) AS m FROM e),
deg AS (SELECT node, count(*) AS deg FROM adj GROUP BY node),
per_label AS (
  SELECT l.label, count(*) AS n_nodes,
         CAST(sum(d.deg) AS BIGINT) AS deg_sum
  FROM deg d JOIN lab l ON l.node = d.node GROUP BY l.label),
intra AS (
  SELECT lu.label, count(*) AS e_intra
  FROM e JOIN lab lu ON lu.node = e.u
         JOIN lab lv ON lv.node = e.v
  WHERE lu.label = lv.label GROUP BY lu.label)
SELECT p.label, p.n_nodes, coalesce(i.e_intra, 0) AS e_intra, p.deg_sum,
       4 * m.m * coalesce(i.e_intra, 0) - p.deg_sum * p.deg_sum AS q_num
FROM per_label p LEFT JOIN intra i ON i.label = p.label CROSS JOIN m
"""
    )


SQL_MODULARITY = _modularity_sql()


# ---- GNN-prep / serving: neighbor sampling, fanout schedule, ego nets ------


def _tree_sib_edges(spark, sf):
    """Shared directed DAG fixture: binary containment tree (2..127)
    plus sibling edges p-1 -> p for odd p (same shape q_topo uses)."""
    p = _t(spark, sf, "part").where(F.col("p_partkey").between(2, 127))
    k = F.col("p_partkey")
    tree = p.select(
        F.format_string("t:%03d", F.expr("p_partkey div 2")).alias("src"),
        F.format_string("t:%03d", k).alias("dst"),
    )
    sib = p.where(k % 2 == 1).select(
        F.format_string("t:%03d", k - 1).alias("src"),
        F.format_string("t:%03d", k).alias("dst"),
    )
    return tree.unionByName(sib)


_TREE_SIB_SQL = """
  SELECT 't:' || lpad(CAST(p_partkey // 2 AS VARCHAR), 3, '0') AS src,
         't:' || lpad(CAST(p_partkey AS VARCHAR), 3, '0') AS dst
  FROM part WHERE p_partkey BETWEEN 2 AND 127
  UNION
  SELECT 't:' || lpad(CAST(p_partkey - 1 AS VARCHAR), 3, '0'),
         't:' || lpad(CAST(p_partkey AS VARCHAR), 3, '0')
  FROM part WHERE p_partkey BETWEEN 2 AND 127 AND p_partkey % 2 = 1
"""


def q_neighbor_sample(spark, sf):
    """Deterministic GraphSAGE-style neighbor sampling
    (operators/graph.py neighbor_sample): per supplier keep the 3
    co-occurring parts minimizing md5(salt:src:dst) — the hash IS the
    sampler, so minibatch neighborhoods are byte-stable across reruns
    and the oracle replays the identical argmin with ROW_NUMBER over
    the same md5."""
    from .operators.graph import neighbor_sample

    li = _t(spark, sf, "lineitem").where(F.col("l_orderkey") % 7 == 0)
    edges = li.select(
        F.concat(F.lit("s:"), F.col("l_suppkey").cast("string")).alias("src"),
        F.concat(F.lit("p:"), F.col("l_partkey").cast("string")).alias("dst"),
    )
    return neighbor_sample(edges, k=3)


SQL_NEIGHBOR_SAMPLE = """
WITH e AS (
  SELECT DISTINCT 's:' || CAST(l_suppkey AS VARCHAR) AS src,
                  'p:' || CAST(l_partkey AS VARCHAR) AS dst
  FROM lineitem WHERE l_orderkey % 7 = 0),
ranked AS (
  SELECT src, dst,
         ROW_NUMBER() OVER (
           PARTITION BY src
           ORDER BY md5('ns:' || src || ':' || dst)) AS rank
  FROM e)
SELECT src, dst, CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= 3
"""


def q_sample_fanout(spark, sf):
    """Layered fanout sampling (operators/graph.py sample_fanout,
    fanouts [2, 2] from seed t:001 over the tree+sibling DAG): the
    global hash ranking is computed once and restricted per layer, so
    a node sampled at two layers gets the SAME neighbors.  Oracle =
    two unrolled window passes over the identical md5 ranking."""
    from .operators.graph import sample_fanout

    seeds = spark.createDataFrame([("t:001",)], "node string")
    return sample_fanout(_tree_sib_edges(spark, sf), seeds, [2, 2])


SQL_SAMPLE_FANOUT = f"""
WITH e AS ({_TREE_SIB_SQL}),
ranked AS (
  SELECT src, dst,
         ROW_NUMBER() OVER (
           PARTITION BY src
           ORDER BY md5('ns:' || src || ':' || dst)) AS rank
  FROM (SELECT DISTINCT src, dst FROM e WHERE src <> dst) ee),
l1 AS (SELECT src, dst, rank FROM ranked
       WHERE rank <= 2 AND src = 't:001'),
l2 AS (SELECT src, dst, rank FROM ranked
       WHERE rank <= 2 AND src IN (SELECT DISTINCT dst FROM l1))
SELECT 1 AS layer, src, dst, CAST(rank AS INTEGER) AS rank FROM l1
UNION ALL
SELECT 2, src, dst, CAST(rank AS INTEGER) FROM l2
"""


def q_ego(spark, sf):
    """2-hop ego network around t:020 (operators/graph.py ego_network,
    undirected reach): frontier BFS to the ball, then the edge set
    induced on it — the serving-side "neighborhood of entity X"
    extraction, with a max_nodes guard against hub balls at scale
    (sample_fanout is the bounded alternative).  Oracle = recursive
    depth-capped walk over bidirected edges + induction joins."""
    from .operators.graph import ego_network

    seeds = spark.createDataFrame([("t:020",)], "node string")
    return ego_network(_tree_sib_edges(spark, sf), seeds, hops=2)


SQL_EGO = f"""
WITH RECURSIVE e AS ({_TREE_SIB_SQL}),
bi AS (SELECT src, dst FROM e WHERE src <> dst
       UNION SELECT dst, src FROM e WHERE src <> dst),
ball(node, d) AS (
  SELECT 't:020', 0
  UNION
  SELECT bi.dst, b.d + 1 FROM ball b JOIN bi ON bi.src = b.node
  WHERE b.d < 2),
nodes AS (SELECT DISTINCT node FROM ball)
SELECT DISTINCT e.src, e.dst
FROM e
WHERE e.src <> e.dst
  AND e.src IN (SELECT node FROM nodes)
  AND e.dst IN (SELECT node FROM nodes)
"""


# ---- landmark-sampled betweenness centrality -------------------------------


def q_betweenness(spark, sf):
    """Landmark-sampled Brandes betweenness (operators/graph.py
    betweenness_approx) over the binary containment tree + sibling
    edges, landmarks {t:001, t:003}.  ROWS-ONLY by design: the
    dependency ratios sigma_v/sigma_w make the score a float whose
    cross-engine summation order cannot be fixed (same class as the HLL
    q_approx); the quantitative gate is the exact Python Brandes replay
    in tests/test_graph.py (abs tol 1e-9, directed and undirected)."""
    from .operators.graph import betweenness_approx

    p = _t(spark, sf, "part").where(F.col("p_partkey").between(2, 127))
    k = F.col("p_partkey")
    tree = p.select(
        F.format_string("t:%03d", F.expr("p_partkey div 2")).alias("src"),
        F.format_string("t:%03d", k).alias("dst"),
    )
    sib = p.where(k % 2 == 1).select(
        F.format_string("t:%03d", k - 1).alias("src"),
        F.format_string("t:%03d", k).alias("dst"),
    )
    sources = spark.createDataFrame([("t:001",), ("t:003",)], "node string")
    return betweenness_approx(
        tree.unionByName(sib), sources, directed=True
    )


# ---- R2RML-lite declarative relational-to-RDF mapping ----------------------


def q_r2rml(spark, sf):
    """R2RML-lite mapping executed as a DataFrame plan
    (operators/r2rml.py): orders rows become typed subjects with
    template/column object maps, plus a RefObjectMap join turning the
    customer foreign key into a graph edge whose object is the PARENT
    map's subject — the star-schema-to-graph rule.  Every term is
    minted by codegen'd concat (no Python in the row path); the oracle
    replays the identical templates and join in SQL."""
    from .operators.r2rml import Col, Const, Ref, Template, TriplesMap, r2rml_map

    tables = {
        "orders": _t(spark, sf, "orders"),
        "customer": _t(spark, sf, "customer"),
    }
    tm = TriplesMap(
        table="orders",
        subject=Template("o:{o_orderkey}"),
        where="o_orderkey % 17 = 0",
        pos=(
            ("rdf:type", Const("kg:Order")),
            ("kg:status", Col("o_orderstatus")),
            ("kg:prio", Template("pr:{o_orderpriority}")),
            ("kg:cust", Ref("customer", "o_custkey", "c_custkey",
                            Template("c:{c_custkey}"))),
        ),
    )
    return r2rml_map(tables, [tm])


SQL_R2RML = """
WITH o AS (SELECT * FROM orders WHERE o_orderkey % 17 = 0)
SELECT DISTINCT subj, pred, obj FROM (
  SELECT 'o:' || CAST(o_orderkey AS VARCHAR) AS subj,
         'rdf:type' AS pred, 'kg:Order' AS obj FROM o
  UNION ALL
  SELECT 'o:' || CAST(o_orderkey AS VARCHAR), 'kg:status',
         o_orderstatus FROM o
  UNION ALL
  SELECT 'o:' || CAST(o_orderkey AS VARCHAR), 'kg:prio',
         'pr:' || o_orderpriority FROM o
  UNION ALL
  SELECT 'o:' || CAST(o_orderkey AS VARCHAR), 'kg:cust',
         'c:' || CAST(c_custkey AS VARCHAR)
  FROM o JOIN customer ON o_custkey = c_custkey
) t
"""


def q_drift(spark, sf):
    """Per-predicate drift report between two dataset versions
    (operators/quality.py drift_report over void_statistics): the
    publish-gate a daily ingest runs against yesterday's stats —
    appeared/vanished predicates and >2x count swings.  'Old' = events
    before the midpoint day, 'new' = the full table, so growth ratios
    and an appeared predicate (the late-half-only event type is
    synthesized by splitting on event_id parity for one type) are both
    exercised.  All-integer + categorical output, exact in both
    engines."""
    from .operators.quality import drift_report, void_statistics

    e = _t(spark, sf, "events")
    t = e.select(
        F.concat(F.lit("u:"), F.col("user_id").cast("string")).alias("subj"),
        F.when(
            (F.col("event_type") == "signup") & (F.col("event_id") % 2 == 0),
            "ev:signup_v2",
        ).otherwise(F.concat(F.lit("ev:"), F.col("event_type")))
        .alias("pred"),
        F.col("event_id").cast("string").alias("obj"),
    )
    half = e.agg(F.expr("max(event_id) div 2")).first()[0]
    old = void_statistics(t.where(F.col("obj").cast("long") < F.lit(half)))
    new = void_statistics(t)
    return drift_report(old, new)


SQL_DRIFT = """
WITH t AS (
  SELECT 'u:' || CAST(user_id AS VARCHAR) AS subj,
         CASE WHEN event_type = 'signup' AND event_id % 2 = 0
              THEN 'ev:signup_v2' ELSE 'ev:' || event_type END AS pred,
         CAST(event_id AS VARCHAR) AS obj
  FROM events),
half AS (SELECT max(event_id) // 2 AS h FROM events),
o AS (SELECT pred, count(*) AS n_old FROM t, half
      WHERE CAST(obj AS BIGINT) < h GROUP BY pred),
n AS (SELECT pred, count(*) AS n_new FROM t GROUP BY pred)
SELECT coalesce(o.pred, n.pred) AS pred,
       coalesce(o.n_old, 0) AS n_old,
       coalesce(n.n_new, 0) AS n_new,
       CASE WHEN coalesce(o.n_old, 0) = 0 THEN 'appeared'
            WHEN coalesce(n.n_new, 0) = 0 THEN 'vanished'
            WHEN coalesce(n.n_new, 0) * 10 > coalesce(o.n_old, 0) * 20
                 THEN 'grew'
            WHEN coalesce(o.n_old, 0) * 10 > coalesce(n.n_new, 0) * 20
                 THEN 'shrank'
            ELSE 'stable' END AS status
FROM o FULL OUTER JOIN n ON o.pred = n.pred
"""


# ---- cohesion analytics: clustering coefficient, k-truss ------------------


def q_clustering(spark, sf):
    """Local clustering coefficient over the co-purchase graph
    (operators/graph.py clustering_coefficient): 2*tri/(deg*(deg-1)) in
    FIXED-POINT basis points — integer floor division, then one exact
    int/10^4 double division, so the value hash-matches across engines
    (no float-rounding caveat).  Triangles ride the degree-oriented
    wedge join; the oracle recounts them with the naive a<b<c self-join
    and replays the identical fixed-point algebra."""
    from .operators.graph import clustering_coefficient

    return clustering_coefficient(_copurchase_edges(spark, sf))


SQL_CLUSTERING = f"""
WITH e AS MATERIALIZED ({_COPURCHASE_SQL}),
deg AS MATERIALIZED (
  SELECT node, count(*) AS deg FROM
    (SELECT u AS node FROM e UNION ALL SELECT v FROM e) nn
  GROUP BY node),
tri AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM e e1
  JOIN e e2 ON e2.uk = e1.vk
  JOIN e e3 ON e3.uk = e1.uk AND e3.vk = e2.vk),
corners AS (
  SELECT node, count(*) AS n_tri FROM (
    SELECT a AS node FROM tri
    UNION ALL SELECT b FROM tri
    UNION ALL SELECT c FROM tri) cs
  GROUP BY node)
SELECT d.node, d.deg, coalesce(c.n_tri, 0) AS n_tri,
       CASE WHEN d.deg >= 2
            THEN CAST((2 * coalesce(c.n_tri, 0) * 10000)
                      // (d.deg * (d.deg - 1)) AS DOUBLE) / 10000.0
            ELSE 0.0 END AS coef
FROM deg d LEFT JOIN corners c ON c.node = d.node
"""


_KTRUSS_K, _KTRUSS_ROUNDS = 8, 4


def q_ktruss(spark, sf):
    """8-truss of the co-purchase graph by 4 fixed peel rounds
    (operators/graph.py ktruss_peel; the peel converges in 3 dropping
    rounds on this graph, so 4 IS the 8-truss) — surviving edges with
    their triangle support in the surviving subgraph.  Fixed-round is
    the oracle-facing mode; production default peels to convergence
    on ckpt.fixpoint (kcore_peel discipline).  The oracle unrolls
    the identical rounds with the NAIVE a<b<c triangle join, so the
    degree-oriented support counting is checked against an independent
    formulation every round."""
    from .operators.graph import ktruss_peel

    return ktruss_peel(
        _copurchase_edges(spark, sf), k=_KTRUSS_K, rounds=_KTRUSS_ROUNDS
    )


def _ktruss_sql() -> str:
    min_sup = _KTRUSS_K - 2
    tri = """
tri{i} AS MATERIALIZED (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM e{p} e1
  JOIN e{p} e2 ON e2.u = e1.v
  JOIN e{p} e3 ON e3.u = e1.u AND e3.v = e2.v),
sup{i} AS MATERIALIZED (
  SELECT u, v, count(*) AS s FROM (
    SELECT a AS u, b AS v FROM tri{i}
    UNION ALL SELECT b, c FROM tri{i}
    UNION ALL SELECT a, c FROM tri{i}) legs
  GROUP BY u, v)"""
    rounds = []
    for i in range(1, _KTRUSS_ROUNDS + 1):
        rounds.append(tri.format(i=i, p=i - 1) + f""",
e{i} AS MATERIALIZED (
  SELECT e.u, e.v FROM e{i - 1} e
  JOIN sup{i} s ON s.u = e.u AND s.v = e.v
  WHERE s.s >= {min_sup})""")
    n = _KTRUSS_ROUNDS
    return (
        f"WITH e0 AS MATERIALIZED (SELECT u, v FROM ({_COPURCHASE_SQL}) ce),"
        + ",".join(rounds)
        + ","
        + tri.format(i="f", p=n)
        + f"""
SELECT least(e.u, e.v) AS u, greatest(e.u, e.v) AS v,
       coalesce(s.s, 0) AS support
FROM e{n} e LEFT JOIN supf s ON s.u = e.u AND s.v = e.v
"""
    )


SQL_KTRUSS = _ktruss_sql()


# ---- ontology breadth: equivalence, consistency report, VoID stats --------


def q_owl_equiv(spark, sf):
    """owl:equivalentClass chains entailed through the RDFS machinery
    (operators/inference.py owl_equivalence_expand: each equivalence
    becomes the bidirectional subClassOf pair, then rdfs_materialize's
    path-doubling subClassOf* closure carries types through the chain).
    Fixture: user rdf:type event-class instances; click ≡ tap ≡ press
    (a 2-step equivalence chain) plus one plain subClassOf.  Oracle =
    DuckDB WITH RECURSIVE closure over the same bidirected edges."""
    from .operators.inference import owl_equivalence_expand, rdfs_materialize

    e = _t(spark, sf, "events")
    inst = e.select(
        F.concat(F.lit("u:"), F.col("user_id").cast("string")).alias("subj"),
        F.lit("rdf:type").alias("pred"),
        F.concat(F.lit("cls:"), F.col("event_type")).alias("obj"),
    ).distinct()
    onto = spark.createDataFrame(
        [
            ("cls:click", "owl:equivalentClass", "cls:tap"),
            ("cls:tap", "owl:equivalentClass", "cls:press"),
            ("cls:purchase", "rdfs:subClassOf", "cls:conversion"),
        ],
        "subj string, pred string, obj string",
    )
    out = rdfs_materialize(owl_equivalence_expand(inst.unionByName(onto)))
    return out.where(F.col("pred") == "rdf:type").select(
        "subj", "pred", "obj"
    ).distinct()


SQL_OWL_EQUIV = """
WITH RECURSIVE
inst AS (SELECT DISTINCT 'u:' || CAST(user_id AS VARCHAR) AS subj,
                         'cls:' || event_type AS obj
         FROM events),
sub(c, d) AS (
  SELECT * FROM (VALUES
    ('cls:click', 'cls:tap'), ('cls:tap', 'cls:click'),
    ('cls:tap', 'cls:press'), ('cls:press', 'cls:tap'),
    ('cls:purchase', 'cls:conversion')) v(c, d)),
closure(c, d) AS (
  SELECT c, d FROM sub
  UNION
  SELECT cl.c, s.d FROM closure cl JOIN sub s ON s.c = cl.d
)
SELECT subj, 'rdf:type' AS pred, obj FROM inst
UNION
SELECT i.subj, 'rdf:type' AS pred, cl.d AS obj
FROM inst i JOIN closure cl ON cl.c = i.obj
"""


def q_owl_inconsistent(spark, sf):
    """OWL consistency REPORT (operators/inference.py
    owl_inconsistencies): owl:disjointWith co-typing violations
    (normalized pair, type slice pre-filtered to disjoint-relevant
    classes before the self-join) and owl:FunctionalProperty subjects
    holding >1 distinct value — report-don't-repair, the dual of
    owl_materialize's prp-fp merge.  Oracle replays both checks as
    plain SQL joins/aggregates."""
    from .operators.inference import owl_inconsistencies

    e = _t(spark, sf, "events")
    types = e.select(
        F.concat(F.lit("u:"), F.col("user_id").cast("string")).alias("subj"),
        F.lit("rdf:type").alias("pred"),
        F.concat(F.lit("cls:"), F.col("event_type")).alias("obj"),
    ).distinct()
    kinds = e.select(
        F.concat(F.lit("u:"), F.col("user_id").cast("string")).alias("subj"),
        F.lit("ev:kind").alias("pred"),
        F.concat(F.lit("cls:"), F.col("event_type")).alias("obj"),
    ).distinct()
    onto = spark.createDataFrame(
        [
            ("cls:error", "owl:disjointWith", "cls:click"),
            ("ev:kind", "rdf:type", "owl:FunctionalProperty"),
        ],
        "subj string, pred string, obj string",
    )
    return owl_inconsistencies(
        types.unionByName(kinds).unionByName(onto)
    )


SQL_OWL_INCONSISTENT = """
WITH pairs AS (SELECT DISTINCT 'u:' || CAST(user_id AS VARCHAR) AS node,
                               'cls:' || event_type AS cls
               FROM events)
SELECT 'disjoint' AS kind, p1.node AS node,
       'cls:click' AS a, 'cls:error' AS b
FROM pairs p1 JOIN pairs p2 ON p1.node = p2.node
WHERE p1.cls = 'cls:click' AND p2.cls = 'cls:error'
UNION ALL
SELECT 'functional' AS kind, node, 'ev:kind' AS a,
       CAST(COUNT(DISTINCT cls) AS VARCHAR) AS b
FROM pairs GROUP BY node HAVING COUNT(DISTINCT cls) > 1
"""


def q_void(spark, sf):
    """VoID-style property-partition statistics (operators/quality.py
    void_statistics, exact mode): per predicate, void:triples /
    void:distinctSubjects / void:distinctObjects — the published
    dataset description AND the input the ANALYZE join-ordering stats
    want.  The approx (HLL) mode is the documented 100-TB path; the
    oracle checks the exact one."""
    from .operators.quality import void_statistics

    o = _t(spark, sf, "orders").where(F.col("o_orderkey") % 13 == 0)
    ok = F.concat(F.lit("o:"), F.col("o_orderkey").cast("string"))
    triples = (
        o.select(ok.alias("subj"), F.lit("kg:cust").alias("pred"),
                 F.concat(F.lit("c:"),
                          F.col("o_custkey").cast("string")).alias("obj"))
        .unionByName(o.select(
            ok.alias("subj"), F.lit("kg:status").alias("pred"),
            F.concat(F.lit("st:"), F.col("o_orderstatus")).alias("obj")))
        .unionByName(o.select(
            ok.alias("subj"), F.lit("kg:prio").alias("pred"),
            F.concat(F.lit("pr:"), F.col("o_orderpriority")).alias("obj")))
    )
    return void_statistics(triples)


SQL_VOID = """
WITH t AS (
  SELECT 'o:' || CAST(o_orderkey AS VARCHAR) AS subj,
         'kg:cust' AS pred,
         'c:' || CAST(o_custkey AS VARCHAR) AS obj
  FROM orders WHERE o_orderkey % 13 = 0
  UNION ALL
  SELECT 'o:' || CAST(o_orderkey AS VARCHAR), 'kg:status',
         'st:' || o_orderstatus
  FROM orders WHERE o_orderkey % 13 = 0
  UNION ALL
  SELECT 'o:' || CAST(o_orderkey AS VARCHAR), 'kg:prio',
         'pr:' || o_orderpriority
  FROM orders WHERE o_orderkey % 13 = 0
)
SELECT pred, COUNT(*) AS n_triples,
       COUNT(DISTINCT subj) AS n_subjects,
       COUNT(DISTINCT obj) AS n_objects
FROM t GROUP BY pred
"""


def q_owl_chain(spark, sf):
    """OWL 2 RL prp-spo2 property-chain entailment (operators/
    inference.py property_chains_materialize): the axiom
    `kg:orderRegion owl:propertyChainAxiom (kg:orderedBy kg:inNation
    kg:inRegion)` — its chain stored as a REAL rdf:List built by
    list_emit and recovered by the distributed expander — entails the
    3-hop composition as two equi-joins over per-predicate filtered
    scans.  Chain definitions are an ontology-scale driver collect
    (they shape the plan); instance edges stay distributed.  The
    oracle replays the composition join directly."""
    from .operators.inference import CHAIN_AXIOM, property_chains_materialize
    from .operators.rdflist import list_emit

    o = _t(spark, sf, "orders").where(F.col("o_orderkey") % 7 == 0)
    c = _t(spark, sf, "customer")
    n = _t(spark, sf, "nation")
    inst = (
        o.select(
            F.concat(F.lit("o:"), F.col("o_orderkey").cast("string")).alias("subj"),
            F.lit("kg:orderedBy").alias("pred"),
            F.concat(F.lit("c:"), F.col("o_custkey").cast("string")).alias("obj"),
        )
        .unionByName(c.select(
            F.concat(F.lit("c:"), F.col("c_custkey").cast("string")).alias("subj"),
            F.lit("kg:inNation").alias("pred"),
            F.concat(F.lit("n:"), F.col("c_nationkey").cast("string")).alias("obj"),
        ))
        .unionByName(n.select(
            F.concat(F.lit("n:"), F.col("n_nationkey").cast("string")).alias("subj"),
            F.lit("kg:inRegion").alias("pred"),
            F.concat(F.lit("r:"), F.col("n_regionkey").cast("string")).alias("obj"),
        ))
    )
    members = spark.createDataFrame(
        [("chain:or", 0, "kg:orderedBy"), ("chain:or", 1, "kg:inNation"),
         ("chain:or", 2, "kg:inRegion")],
        "head string, pos int, member string",
    )
    axiom = spark.createDataFrame(
        [("kg:orderRegion", CHAIN_AXIOM, "chain:or")],
        "subj string, pred string, obj string",
    )
    triples = inst.unionByName(axiom).unionByName(list_emit(members))
    return property_chains_materialize(triples).where(
        F.col("pred") == "kg:orderRegion"
    )


SQL_OWL_CHAIN = """
SELECT 'o:' || CAST(o_orderkey AS VARCHAR) AS subj,
       'kg:orderRegion' AS pred,
       'r:' || CAST(n_regionkey AS VARCHAR) AS obj
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE o_orderkey % 7 = 0
"""


_SHACL_PATHS_TTL = """
@prefix sh: <http://www.w3.org/ns/shacl#> .
ex:OrderShape a sh:NodeShape ;
  sh:targetSubjectsOf orderedBy ;
  sh:property [ sh:path ( orderedBy inNation ) ; sh:minCount 1 ] .
ex:CustShape a sh:NodeShape ;
  sh:targetSubjectsOf inNation ;
  sh:property [ sh:path [ sh:inversePath orderedBy ] ; sh:maxCount 12 ] .
"""


def q_shacl_paths(spark, sf):
    """SHACL property paths (operators/shacl.py): a SEQUENCE path
    `( orderedBy inNation )` — "every order's customer resolves to a
    nation" (customers with custkey%3==0 deliberately lack the
    inNation edge, so their orders violate minCount 1) — and an
    INVERSE path `[ sh:inversePath orderedBy ]` — "no customer carries
    more than 12 orders".  Each hop is a pruned per-predicate scan +
    equi-join; value-node sets are deduped per SHACL semantics.  The
    oracle replays both path extractions and count checks in SQL."""
    from .operators.shacl import validate
    from .sources.turtle import parse_turtle

    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer").where(F.col("c_custkey") % 3 != 0)
    graph = (
        o.select(
            F.concat(F.lit("o:"), F.col("o_orderkey").cast("string")).alias("subj"),
            F.lit("orderedBy").alias("pred"),
            F.concat(F.lit("c:"), F.col("o_custkey").cast("string")).alias("obj"))
        .unionByName(c.select(
            F.concat(F.lit("c:"), F.col("c_custkey").cast("string")).alias("subj"),
            F.lit("inNation").alias("pred"),
            F.concat(F.lit("n:"), F.col("c_nationkey").cast("string")).alias("obj")))
    )
    shape_triples, _ = parse_turtle(_SHACL_PATHS_TTL)
    return validate(graph, shape_triples)


SQL_SHACL_PATHS = """
WITH cust AS (
  SELECT 'c:' || CAST(c_custkey AS VARCHAR) AS c,
         'n:' || CAST(c_nationkey AS VARCHAR) AS n
  FROM customer WHERE c_custkey % 3 <> 0
), ords AS (
  SELECT 'o:' || CAST(o_orderkey AS VARCHAR) AS o,
         'c:' || CAST(o_custkey AS VARCHAR) AS c
  FROM orders
), ocount AS (
  SELECT ords.o AS focus, COUNT(cust.n) AS n
  FROM ords LEFT JOIN cust ON ords.c = cust.c GROUP BY ords.o
), ccount AS (
  SELECT cust.c AS focus, COUNT(DISTINCT ords.o) AS n
  FROM cust LEFT JOIN ords ON ords.c = cust.c GROUP BY cust.c
)
SELECT focus, 'ex:OrderShape' AS shape, 'orderedBy/inNation' AS path,
       'minCount' AS "constraint", CAST(n AS VARCHAR) AS value
FROM ocount WHERE n < 1
UNION ALL
SELECT focus, 'ex:CustShape', '^orderedBy', 'maxCount', CAST(n AS VARCHAR)
FROM ccount WHERE n > 12
"""


def q_skolem(spark, sf):
    """Blank-node skolemization via 2-round Weisfeiler-Leman color
    refinement (operators/skolem.py): anonymous line nodes minted under
    orders relabel to `sk:<wl-color>` IRIs — deterministic, graph-
    local-label-free, so re-loading the same catalog dedups with a
    plain distinct.  Fixed rounds are the semantics (k-hop guarantee),
    so the oracle unrolls the SAME two refinement rounds in SQL: same
    signature strings, same sort, same md5."""
    from .operators.skolem import skolemize

    li = _t(spark, sf, "lineitem").where(F.col("l_orderkey") % 31 == 0)
    bn = F.concat(F.lit("_:l"), F.col("l_orderkey").cast("string"),
                  F.lit("-"), F.col("l_linenumber").cast("string"))
    triples = (
        li.select(
            F.concat(F.lit("o:"), F.col("l_orderkey").cast("string")).alias("subj"),
            F.lit("kg:hasLine").alias("pred"), bn.alias("obj"))
        .unionByName(li.select(
            bn.alias("subj"), F.lit("kg:part").alias("pred"),
            F.concat(F.lit("p:"), F.col("l_partkey").cast("string")).alias("obj")))
        .unionByName(li.select(
            bn.alias("subj"), F.lit("kg:qty").alias("pred"),
            F.col("l_quantity").cast("int").cast("string").alias("obj")))
    )
    return skolemize(triples, rounds=2, dedup=True)


SQL_SKOLEM = """
WITH t AS (
  SELECT 'o:' || CAST(l_orderkey AS VARCHAR) AS subj,
         'kg:hasLine' AS pred,
         '_:l' || CAST(l_orderkey AS VARCHAR) || '-'
               || CAST(l_linenumber AS VARCHAR) AS obj
  FROM lineitem WHERE l_orderkey % 31 = 0
  UNION ALL
  SELECT '_:l' || CAST(l_orderkey AS VARCHAR) || '-'
               || CAST(l_linenumber AS VARCHAR),
         'kg:part', 'p:' || CAST(l_partkey AS VARCHAR)
  FROM lineitem WHERE l_orderkey % 31 = 0
  UNION ALL
  SELECT '_:l' || CAST(l_orderkey AS VARCHAR) || '-'
               || CAST(l_linenumber AS VARCHAR),
         'kg:qty', CAST(CAST(l_quantity AS INT) AS VARCHAR)
  FROM lineitem WHERE l_orderkey % 31 = 0
),
nodes AS (
  SELECT DISTINCT node FROM (
    SELECT subj AS node FROM t UNION ALL SELECT obj FROM t)
),
c0 AS (
  SELECT node,
         md5(CASE WHEN node LIKE '!_:%' ESCAPE '!'
                  THEN '__bnode__' ELSE node END) AS color
  FROM nodes
),
half AS (
  SELECT subj AS node, 'o' AS dir, pred, obj AS peer FROM t
  UNION ALL
  SELECT obj AS node, 'i' AS dir, pred, subj AS peer FROM t
),
s1 AS (
  SELECT h.node,
         md5(string_agg(h.dir || '|' || h.pred || '|' || c.color, ','
                        ORDER BY h.dir || '|' || h.pred || '|' || c.color))
           AS sig_color
  FROM half h JOIN c0 c ON h.peer = c.node GROUP BY h.node
),
c1 AS (
  SELECT n.node,
         CASE WHEN n.node LIKE '!_:%' ESCAPE '!'
                   AND s1.sig_color IS NOT NULL
              THEN s1.sig_color ELSE n.color END AS color
  FROM c0 n LEFT JOIN s1 ON n.node = s1.node
),
s2 AS (
  SELECT h.node,
         md5(string_agg(h.dir || '|' || h.pred || '|' || c.color, ','
                        ORDER BY h.dir || '|' || h.pred || '|' || c.color))
           AS sig_color
  FROM half h JOIN c1 c ON h.peer = c.node GROUP BY h.node
),
c2 AS (
  SELECT n.node,
         CASE WHEN n.node LIKE '!_:%' ESCAPE '!'
                   AND s2.sig_color IS NOT NULL
              THEN s2.sig_color ELSE n.color END AS color
  FROM c1 n LEFT JOIN s2 ON n.node = s2.node
),
mapping AS (
  SELECT node, 'sk:' || color AS sk FROM c2
  WHERE node LIKE '!_:%' ESCAPE '!'
)
SELECT COALESCE(ms.sk, t.subj) AS subj, t.pred,
       COALESCE(mo.sk, t.obj) AS obj
FROM t
LEFT JOIN mapping ms ON t.subj = ms.node
LEFT JOIN mapping mo ON t.obj = mo.node
"""


def _nt_fixture() -> str:
    here = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tests", "fixtures", "sample.nt",
    )
    if os.path.exists(here):
        return here
    return os.path.join(os.getcwd(), "tests", "fixtures", "sample.nt")


NT_FIXTURE = _nt_fixture()
TYPED_NT_FIXTURE = os.path.join(
    os.path.dirname(NT_FIXTURE), "typed_scores.nt")


def q_typed_filter(spark, sf):
    """Typed-literal shadow columns (VERDICT r04 item 7 prototype): the
    N-Triples scan keeps the datatype as metadata (obj_dt tag + obj_num
    double via try_cast, sources/ntriples.py _typed_cols) while the term
    model stays untyped strings, and SPARQL numeric FILTER comparisons
    prefer the typed value (operators/sparql.py _prefer_typed).
    `FILTER(?v > 9)` therefore matches "10"^^xsd:integer — the
    rdflib-faithful answer the pure string model inverts ("10" < "9"
    lexically) — while plain literals and malformed numeric lexicals
    are excluded (SPARQL type-error semantics).  sf unused: the
    committed fixture is the table under test."""
    from .operators.sparql import sparql
    from .sources.ntriples import from_ntriples

    tri, _bad = from_ntriples(spark, TYPED_NT_FIXTURE, typed=True)
    return sparql(
        tri,
        """SELECT ?s ?v WHERE { ?s <http://ex/score> ?v . FILTER(?v > 9) }""",
    )


SQL_TYPED_FILTER = rf"""
WITH raw AS (SELECT content FROM read_text('{TYPED_NT_FIXTURE}')),
lines AS (SELECT unnest(string_split(content, chr(10))) AS line FROM raw),
m AS (
  SELECT
    regexp_extract(line, '^<([^<>]*)>', 1) AS s,
    regexp_extract(line, '^<[^<>]*> <([^<>]*)>', 1) AS p,
    regexp_extract(line, '"((?:[^"\\]|\\.)*)"', 1) AS lex,
    regexp_extract(line, '\^\^<([^<>]*)>\s*\.\s*$', 1) AS dt
  FROM lines WHERE trim(line) <> ''
)
SELECT s, lex AS v
FROM m
WHERE p = 'http://ex/score'
  AND dt IN ('http://www.w3.org/2001/XMLSchema#integer',
             'http://www.w3.org/2001/XMLSchema#decimal',
             'http://www.w3.org/2001/XMLSchema#double',
             'http://www.w3.org/2001/XMLSchema#float',
             'http://www.w3.org/2001/XMLSchema#long',
             'http://www.w3.org/2001/XMLSchema#int',
             'http://www.w3.org/2001/XMLSchema#nonNegativeInteger')
  AND try_cast(lex AS DOUBLE) > 9
"""


def q_nt_source(spark, sf):
    """S-family distributed N-Triples ingestion (sources/ntriples.py):
    the line-based bulk RDF format parsed with native regexp term
    extraction over spark.read.text — the 100 TB ingest path the
    driver-side Turtle catalog parser deliberately is not.  Reads a
    committed fixture carrying IRIs, bnodes, escaped/typed/lang-tagged
    literals, comments, and three classes of broken line (missing dot,
    non-statement, unsupported escape) — broken lines quarantine, and
    the DuckDB oracle replays the SAME grammar, escape decoding, and
    term conventions over the same file.  sf unused: the fixture IS
    the table under test."""
    from .sources.ntriples import from_ntriples

    good, _bad = from_ntriples(spark, NT_FIXTURE)
    return good


SQL_NT_SOURCE = rf"""
WITH raw AS (SELECT content FROM read_text('{NT_FIXTURE}')),
lines AS (SELECT unnest(string_split(content, chr(10))) AS line FROM raw),
body AS (
  SELECT line FROM lines
  WHERE trim(line) <> '' AND NOT starts_with(trim(line), '#')
),
m AS (
  SELECT line,
    regexp_matches(line,
      '^\s*(<[^<>\s]*>|_:\S+)\s+(<[^<>\s]*>)\s+(<[^<>\s]*>|_:\S+|"(?:[^"\\]|\\.)*"(?:\^\^<[^<>\s]*>|@[A-Za-z0-9-]+)?)\s*\.\s*$')
      AS ok,
    regexp_extract(line,
      '^\s*(<[^<>\s]*>|_:\S+)\s+(<[^<>\s]*>)\s+(<[^<>\s]*>|_:\S+|"(?:[^"\\]|\\.)*"(?:\^\^<[^<>\s]*>|@[A-Za-z0-9-]+)?)\s*\.\s*$',
      1) AS t0,
    regexp_extract(line,
      '^\s*(<[^<>\s]*>|_:\S+)\s+(<[^<>\s]*>)\s+(<[^<>\s]*>|_:\S+|"(?:[^"\\]|\\.)*"(?:\^\^<[^<>\s]*>|@[A-Za-z0-9-]+)?)\s*\.\s*$',
      2) AS t1,
    regexp_extract(line,
      '^\s*(<[^<>\s]*>|_:\S+)\s+(<[^<>\s]*>)\s+(<[^<>\s]*>|_:\S+|"(?:[^"\\]|\\.)*"(?:\^\^<[^<>\s]*>|@[A-Za-z0-9-]+)?)\s*\.\s*$',
      3) AS t2
  FROM body
),
good AS (
  SELECT * FROM m
  WHERE ok AND NOT (starts_with(t2, '"') AND NOT
        regexp_matches(t2, '^"(?:[^"\\]|\\["\\ntr])*"'))
)
SELECT
  CASE WHEN starts_with(t0, '<')
       THEN substring(t0, 2, length(t0) - 2) ELSE t0 END AS subj,
  substring(t1, 2, length(t1) - 2) AS pred,
  CASE
    WHEN starts_with(t2, '<') THEN substring(t2, 2, length(t2) - 2)
    WHEN starts_with(t2, '"') THEN
      replace(replace(replace(replace(replace(replace(
        regexp_extract(t2, '^"((?:[^"\\]|\\.)*)"', 1),
        '\\', chr(1)), '\"', '"'), '\n', chr(10)), '\t', chr(9)),
        '\r', chr(13)), chr(1), '\')
    ELSE t2
  END AS obj
FROM good
"""


NQ_FIXTURE = NT_FIXTURE[: -len("sample.nt")] + "sample.nq"


def q_nq_source(spark, sf):
    """S-family distributed N-Quads ingestion (sources/ntriples.py
    from_nquads): the 4-term line format carrying named-graph
    attribution — default-graph rows marked '' by the source, named
    graphs (IRI or bnode) decoded like any term.  Same grammar,
    quarantine, and Turtle-convention decode as q_nt_source, replayed
    in DuckDB with the optional 4th capture group."""
    from .sources.ntriples import from_nquads

    good, _bad = from_nquads(spark, NQ_FIXTURE)
    return good


from .sources.ntriples import _LINE_NQ as _NQ_PAT  # keep oracle == engine

SQL_NQ_SOURCE = rf"""
WITH raw AS (SELECT content FROM read_text('{NQ_FIXTURE}')),
lines AS (SELECT unnest(string_split(content, chr(10))) AS line FROM raw),
body AS (
  SELECT line FROM lines
  WHERE trim(line) <> '' AND NOT starts_with(trim(line), '#')
),
m AS (
  SELECT line,
    regexp_matches(line, '{_NQ_PAT}') AS ok,
    regexp_extract(line, '{_NQ_PAT}', 1) AS t0,
    regexp_extract(line, '{_NQ_PAT}', 2) AS t1,
    regexp_extract(line, '{_NQ_PAT}', 3) AS t2,
    regexp_extract(line, '{_NQ_PAT}', 4) AS t3
  FROM body
),
good AS (
  SELECT * FROM m
  WHERE ok AND NOT (starts_with(t2, '"') AND NOT
        regexp_matches(t2, '^"(?:[^"\\]|\\["\\ntr])*"'))
)
SELECT
  CASE WHEN starts_with(t0, '<')
       THEN substring(t0, 2, length(t0) - 2) ELSE t0 END AS subj,
  substring(t1, 2, length(t1) - 2) AS pred,
  CASE
    WHEN starts_with(t2, '<') THEN substring(t2, 2, length(t2) - 2)
    WHEN starts_with(t2, '"') THEN
      replace(replace(replace(replace(replace(replace(
        regexp_extract(t2, '^"((?:[^"\\]|\\.)*)"', 1),
        '\\', chr(1)), '\"', '"'), '\n', chr(10)), '\t', chr(9)),
        '\r', chr(13)), chr(1), '\')
    ELSE t2
  END AS obj,
  CASE WHEN t3 = '' THEN ''
       WHEN starts_with(t3, '<') THEN substring(t3, 2, length(t3) - 2)
       ELSE t3 END AS graph
FROM good
"""


def q_summary(spark, sf):
    """WL-bisimulation graph summary (operators/skolem.py
    summarize_graph): quotient the (order -orderedBy-> customer
    -inNation-> nation) graph by 1-round STRUCTURAL colors — every
    node starts from its term kind only, so customers split into roles
    by in/out edge multisets (order count), not by name.  Schema
    discovery for a schemaless warehouse in one linear pass + one
    groupBy.  The oracle unrolls the same structural round in SQL —
    same kind classification, signature strings, sort, md5."""
    from .operators.skolem import summarize_graph

    o = _t(spark, sf, "orders").where(F.col("o_orderkey") % 17 == 0)
    c = _t(spark, sf, "customer")
    graph = (
        o.select(
            F.concat(F.lit("o:"), F.col("o_orderkey").cast("string")).alias("subj"),
            F.lit("orderedBy").alias("pred"),
            F.concat(F.lit("c:"), F.col("o_custkey").cast("string")).alias("obj"))
        .unionByName(c.select(
            F.concat(F.lit("c:"), F.col("c_custkey").cast("string")).alias("subj"),
            F.lit("inNation").alias("pred"),
            F.concat(F.lit("n:"), F.col("c_nationkey").cast("string")).alias("obj")))
    )
    return summarize_graph(graph, rounds=1)


SQL_SUMMARY = """
WITH t AS (
  SELECT 'o:' || CAST(o_orderkey AS VARCHAR) AS subj,
         'orderedBy' AS pred,
         'c:' || CAST(o_custkey AS VARCHAR) AS obj
  FROM orders WHERE o_orderkey % 17 = 0
  UNION ALL
  SELECT 'c:' || CAST(c_custkey AS VARCHAR), 'inNation',
         'n:' || CAST(c_nationkey AS VARCHAR)
  FROM customer
),
nodes AS (
  SELECT DISTINCT node FROM (
    SELECT subj AS node FROM t UNION ALL SELECT obj FROM t)
),
c0 AS (
  SELECT node,
         md5(CASE WHEN node LIKE '!_:%' ESCAPE '!' THEN 'bnode'
                  WHEN regexp_matches(node,
                       '^[A-Za-z][A-Za-z0-9_-]*:[^\\s]+$') THEN 'iri'
                  ELSE 'literal' END) AS color
  FROM nodes
),
half AS (
  SELECT subj AS node, 'o' AS dir, pred, obj AS peer FROM t
  UNION ALL
  SELECT obj AS node, 'i' AS dir, pred, subj AS peer FROM t
),
s1 AS (
  SELECT h.node,
         md5(string_agg(h.dir || '|' || h.pred || '|' || c.color, ','
                        ORDER BY h.dir || '|' || h.pred || '|' || c.color))
           AS sig_color
  FROM half h JOIN c0 c ON h.peer = c.node GROUP BY h.node
),
c1 AS (
  SELECT n.node, COALESCE(s1.sig_color, n.color) AS color
  FROM c0 n LEFT JOIN s1 ON n.node = s1.node
)
SELECT cs.color AS src_color, t.pred, co.color AS dst_color,
       COUNT(*) AS n_edges,
       COUNT(DISTINCT t.subj) AS n_src_nodes,
       COUNT(DISTINCT t.obj) AS n_dst_nodes
FROM t
JOIN c1 cs ON t.subj = cs.node
JOIN c1 co ON t.obj = co.node
GROUP BY cs.color, t.pred, co.color
"""


def q_owl_haskey(spark, sf):
    """OWL 2 RL prp-key composite-key identity (operators/inference.py
    owl_keys_materialize): `kg:Acct owl:hasKey (kg:nation kg:segment)`
    — the key spec a real rdf:List — merges typed customer nodes that
    agree on BOTH properties, emitting owl:sameAs in canonical star
    form (member -> min representative per key-tuple group, linear in
    group size).  The declarative twin of the linking pipeline's
    canonicalization.  Oracle replays the group-by-min in SQL."""
    from .operators.inference import HAS_KEY, owl_keys_materialize
    from .operators.rdflist import list_emit

    c = _t(spark, sf, "customer").where(F.col("c_custkey") % 13 == 0)
    cu = F.concat(F.lit("c:"), F.col("c_custkey").cast("string"))
    inst = (
        c.select(cu.alias("subj"), F.lit("rdf:type").alias("pred"),
                 F.lit("kg:Acct").alias("obj"))
        .unionByName(c.select(
            cu.alias("subj"), F.lit("kg:nation").alias("pred"),
            F.concat(F.lit("n:"), F.col("c_nationkey").cast("string")).alias("obj")))
        .unionByName(c.select(
            cu.alias("subj"), F.lit("kg:segment").alias("pred"),
            F.col("c_mktsegment").alias("obj")))
    )
    members = spark.createDataFrame(
        [("key:acct", 0, "kg:nation"), ("key:acct", 1, "kg:segment")],
        "head string, pos int, member string",
    )
    axiom = spark.createDataFrame(
        [("kg:Acct", HAS_KEY, "key:acct")],
        "subj string, pred string, obj string",
    )
    triples = inst.unionByName(axiom).unionByName(list_emit(members))
    return owl_keys_materialize(triples).where(F.col("pred") == "owl:sameAs")


SQL_OWL_HASKEY = """
WITH c AS (
  SELECT 'c:' || CAST(c_custkey AS VARCHAR) AS x,
         'n:' || CAST(c_nationkey AS VARCHAR) AS v0,
         c_mktsegment AS v1
  FROM customer WHERE c_custkey % 13 = 0
), g AS (
  SELECT x, MIN(x) OVER (PARTITION BY v0, v1) AS rep FROM c
)
SELECT DISTINCT x AS subj, 'owl:sameAs' AS pred, rep AS obj
FROM g WHERE x <> rep
"""


def q_stream_reply(spark, sf):
    """Watermarked STREAM-STREAM interval join, oracle-checked: user
    turns matched to the tool turns that answer them (same conv, later
    turn_idx, tool ts within (user ts, user ts + 4h]) — the join shape
    whose event-time bound keeps both sides' join state bounded on an
    infinite stream (streaming/incremental.py tool_reply_join_stream).
    Drained with availableNow into parquet, read back as a batch table;
    the oracle replays the identical interval join in SQL."""
    from .streaming import incremental as st

    root = _stream_scratch(sf, "stream_reply")
    derived_transcripts(spark, sf).coalesce(2).write.parquet(f"{root}/in")
    stream = st.tool_reply_join_stream(
        st.stream_transcripts(spark, f"{root}/in"), max_delay="4 hours"
    )
    st.run_available_now(stream, f"{root}/ckpt", f"{root}/out")
    return spark.read.parquet(f"{root}/out").select("subj", "pred", "obj")


SQL_STREAM_REPLY = f"""
WITH t AS ({_SQL_TRANSCRIPTS})
SELECT 'turn:' || u.conv_id || '/' || CAST(u.turn_idx AS VARCHAR) AS subj,
       'answeredBy' AS pred,
       'tool:' || lower(trim(tl.tool)) AS obj
FROM t u JOIN t tl
  ON u.conv_id = tl.conv_id AND u.role = 'user' AND tl.role = 'tool'
 AND tl.tool IS NOT NULL AND tl.turn_idx > u.turn_idx
 AND tl.ts > u.ts AND tl.ts <= u.ts + INTERVAL 4 HOUR
"""


def q_rdf_list(spark, sf):
    """Distributed rdf:List round-trip (operators/rdflist.py): ordered
    members -> rdf:first/rest/nil chain triples (list_emit) -> pointer-
    doubling expansion back to (head, pos, member) (list_expand,
    convergence mode on ckpt.fixpoint).  rdf:rest is functional,
    so the jump table stays linear every doubling round — O(log L)
    equi-join rounds for the longest list, never a sequential walk and
    never a quadratic closure.  The oracle computes the expected
    (head, pos, member) directly from the source table, so both the
    emitter's chain minting and the expander's order recovery are under
    the hash."""
    from .operators.rdflist import list_emit, list_expand

    li = _t(spark, sf, "lineitem").where(F.col("l_orderkey") % 11 == 0)
    w = Window.partitionBy("l_orderkey").orderBy("l_linenumber")
    members = li.select(
        F.concat(F.lit("list:o"), F.col("l_orderkey").cast("string")).alias("head"),
        (F.row_number().over(w) - 1).alias("pos"),
        F.concat(F.lit("p:"), F.col("l_partkey").cast("string")).alias("member"),
    )
    return list_expand(list_emit(members))


SQL_RDF_LIST = """
SELECT 'list:o' || CAST(l_orderkey AS VARCHAR) AS head,
       CAST(row_number() OVER (PARTITION BY l_orderkey
                               ORDER BY l_linenumber) - 1 AS INT) AS pos,
       'p:' || CAST(l_partkey AS VARCHAR) AS member
FROM lineitem WHERE l_orderkey % 11 = 0
"""


def q_bloom_join(spark, sf):
    """Bloom-filter semi-join pruning (operators/bloom.py): a 16 KiB
    bitset built DISTRIBUTED from the dim side's keys (bit_or partial
    aggregates; the collect is bounded by filter geometry, <= n_bits/64
    rows) filters the fact side at the scan, map-side, before any
    shuffle — the 100 TB move that keeps non-matching fact rows out of
    the exchange entirely.  Same hash family (xxhash64) on both sides
    => zero false negatives; false positives die in the real join that
    follows, so the oracle is the PLAIN join (the q_salted discipline:
    a pure physical rewrite must not change the result)."""
    from .operators.bloom import bloom_build, bloom_prune

    dim = _t(spark, sf, "orders").where(
        (F.col("o_orderkey") % 19 == 0) & (F.col("o_orderstatus") == "F")
    ).select("o_orderkey", "o_orderpriority")
    words = bloom_build(dim, "o_orderkey")
    fact = _t(spark, sf, "lineitem").select("l_orderkey", "l_quantity")
    pruned = bloom_prune(fact, "l_orderkey", words)
    return (
        pruned.join(
            F.broadcast(dim), pruned["l_orderkey"] == dim["o_orderkey"]
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_items"),
            _dec(F.sum(_dec(F.col("l_quantity")))).cast("double").alias("sum_qty"),
        )
    )


SQL_BLOOM_JOIN = """
SELECT o_orderpriority, COUNT(*) AS n_items,
       CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2))
            AS DOUBLE) AS sum_qty
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderkey % 19 = 0 AND o_orderstatus = 'F'
GROUP BY o_orderpriority
"""


def q_simjoin(spark, sf):
    """Exact Jaccard-threshold set-similarity join (PPJoin-style prefix
    filtering, operators/setjoin.py): every document pair with
    token-set Jaccard >= 0.9, NO misses — the exact complement of the
    approximate MinHash/SimHash near-dup paths.  Candidates come only
    from rarest-token prefixes (frequent tokens never enter the join),
    with a length-ratio filter in the join condition; verification is
    native array_intersect/array_union.  Integer sizes + integer
    threshold predicate keep the oracle (naive all-pairs in DuckDB)
    hash-exact."""
    from .operators.setjoin import jaccard_threshold_join

    return jaccard_threshold_join(
        _t(spark, sf, "documents"), t100=90
    ).select(
        F.col("id1").alias("doc_id1"), F.col("id2").alias("doc_id2"),
        "inter", "uni",
    )


SQL_SIMJOIN = """
WITH toks AS (
  SELECT doc_id,
         list_distinct(list_filter(string_split_regex(lower(text),
                                                      '[^a-z0-9]+'),
                                   x -> x <> '')) AS tokens
  FROM documents WHERE text IS NOT NULL
), ne AS (
  SELECT * FROM toks WHERE len(tokens) > 0
)
SELECT a.doc_id AS doc_id1, b.doc_id AS doc_id2,
       len(list_intersect(a.tokens, b.tokens)) AS inter,
       len(list_distinct(list_concat(a.tokens, b.tokens))) AS uni
FROM ne a JOIN ne b ON a.doc_id < b.doc_id
WHERE 100 * len(list_intersect(a.tokens, b.tokens))
      >= 90 * len(list_distinct(list_concat(a.tokens, b.tokens)))
"""


# --------------------------------------------------------------------------
# registry
# --------------------------------------------------------------------------

# Ordering contract: the driver's correctness gate checks only the FIRST
# 50 entries of this dict (list(REGISTRY)[:50]).  Each round we rotate so
# queries without a hard CORRECTNESS_r{N} row occupy the driver window.
# Round-3 rotation (per VERDICT.md item 1):
#   block A — never driver-checked (new this round, then the 35 round-2
#             additions past slot 50: SPARQL/graph/quality/corpus suites);
#   block B — r01-only greens displaced from the r02 window, refreshed
#             until the window fills at 50;
#   block C — everything already green in CORRECTNESS_r02.json.
REGISTRY: dict[str, tuple] = {
    # ---- block A: never driver-checked -------------------------------
    # round-3 session-12 additions
    "q_bloom_join": (q_bloom_join, SQL_BLOOM_JOIN),
    "q_simjoin": (q_simjoin, SQL_SIMJOIN),
    "q_rdf_list": (q_rdf_list, SQL_RDF_LIST),
    "q_stream_reply": (q_stream_reply, SQL_STREAM_REPLY),
    "q_owl_chain": (q_owl_chain, SQL_OWL_CHAIN),
    "q_owl_haskey": (q_owl_haskey, SQL_OWL_HASKEY),
    "q_skolem": (q_skolem, SQL_SKOLEM),
    "q_shacl_paths": (q_shacl_paths, SQL_SHACL_PATHS),
    "q_summary": (q_summary, SQL_SUMMARY),
    "q_nt_source": (q_nt_source, SQL_NT_SOURCE),
    "q_nq_source": (q_nq_source, SQL_NQ_SOURCE),
    # round-3 session-11 additions
    "q_scc": (q_scc, SQL_SCC),
    "q_topo": (q_topo, SQL_TOPO),
    "q_cc_incremental": (q_cc_incremental, SQL_CC_INCREMENTAL),
    "q_owl_equiv": (q_owl_equiv, SQL_OWL_EQUIV),
    "q_owl_inconsistent": (q_owl_inconsistent, SQL_OWL_INCONSISTENT),
    "q_void": (q_void, SQL_VOID),
    "q_clustering": (q_clustering, SQL_CLUSTERING),
    "q_ktruss": (q_ktruss, SQL_KTRUSS),
    "q_r2rml": (q_r2rml, SQL_R2RML),
    "q_betweenness": (q_betweenness, None),
    "q_drift": (q_drift, SQL_DRIFT),
    "q_modularity": (q_modularity, SQL_MODULARITY),
    "q_neighbor_sample": (q_neighbor_sample, SQL_NEIGHBOR_SAMPLE),
    "q_sample_fanout": (q_sample_fanout, SQL_SAMPLE_FANOUT),
    "q_ego": (q_ego, SQL_EGO),
    # round-3 session-9 additions
    "q_coref": (q_coref, SQL_COREF),
    "q_stream_structural": (q_stream_structural, SQL_STREAM_STRUCTURAL),
    "q_stream_linked": (q_stream_linked, SQL_STREAM_LINKED),
    "q_sparql_groupby": (q_sparql_groupby, SQL_SPARQL_GROUPBY),
    "q_sparql_polist": (q_sparql_polist, SQL_SPARQL_POLIST),
    "q_term_dict": (q_term_dict, SQL_TERM_DICT),
    "q_encode_roundtrip": (q_encode_roundtrip, SQL_ENCODE_ROUNDTRIP),
    "q_encoded_bgp": (q_encoded_bgp, SQL_ENCODED_BGP),
    "q_encoded_agg": (q_encoded_agg, SQL_ENCODED_AGG),
    "q_term_dict_extend": (q_term_dict_extend, SQL_TERM_DICT_EXTEND),
    "q_shacl_kinds": (q_shacl_kinds, SQL_SHACL_KINDS),
    "q_anf": (q_anf, SQL_ANF),
    "q_count_min": (q_count_min, SQL_COUNT_MIN),
    "q_anomaly": (q_anomaly, SQL_ANOMALY),
    "q_cooccur": (q_cooccur, SQL_COOCCUR),
    # round-3 session-8 additions
    "q_disambiguate": (q_disambiguate, SQL_DISAMBIGUATE),
    "q_ppr": (q_ppr, SQL_PPR),
    "q_link_temporal": (q_link_temporal, SQL_LINK_TEMPORAL),
    # round-3 session-7 additions
    "q_mv_incremental": (q_mv_incremental, SQL_MV_INCREMENTAL),
    "q_zorder": (q_zorder, SQL_ZORDER),
    "q_bm25": (q_bm25, SQL_BM25),
    "q_scd2": (q_scd2, SQL_SCD2),
    "q_sparql_service": (q_sparql_service, SQL_SPARQL_SERVICE),
    # round-3 session-5 additions
    "q_shacl": (q_shacl, SQL_SHACL),
    "q_shacl_sparql": (q_shacl_sparql, SQL_SHACL_SPARQL),
    "q_jaccard": (q_jaccard, SQL_JACCARD),
    "q_hits": (q_hits, SQL_HITS),
    "q_char_sets": (q_char_sets, SQL_CHAR_SETS),
    "q_sparql_from": (q_sparql_from, SQL_SPARQL_FROM),
    # round-3 session-4 additions
    "q_owl_infer": (q_owl_infer, SQL_OWL_INFER),
    "q_sparql_in": (q_sparql_in, SQL_SPARQL_IN),
    "q_sparql_sample": (q_sparql_sample, SQL_SPARQL_SAMPLE),
    "q_sparql_cwhere": (q_sparql_cwhere, SQL_SPARQL_CWHERE),
    "q_sparql_strsplit": (q_sparql_strsplit, SQL_SPARQL_STRSPLIT),
    "q_sparql_bnode": (q_sparql_bnode, SQL_SPARQL_BNODE),
    "q_sssp": (q_sssp, SQL_SSSP),
    "q_walks": (q_walks, SQL_WALKS),
    "q_skipgram": (q_skipgram, SQL_SKIPGRAM),
    "q_negatives": (q_negatives, SQL_NEGATIVES),
    "q_sparql_grouppath": (q_sparql_grouppath, SQL_SPARQL_GROUPPATH),
    "q_sparql_groupfilter": (q_sparql_groupfilter, SQL_SPARQL_GROUPFILTER),
    "q_sparql_graph": (q_sparql_graph, SQL_SPARQL_GRAPH),
    "q_sparql_update": (q_sparql_update, SQL_SPARQL_UPDATE),
    "q_graph_mgmt": (q_graph_mgmt, SQL_GRAPH_MGMT),
    # round-3 additions: real Turtle + catalog links, SPARQL frontend
    "q_ttl_source": (q_ttl_source, SQL_TTL_SOURCE),
    "q_trig_source": (q_trig_source, SQL_TRIG_SOURCE),
    "q_ttl_sink": (q_ttl_sink, SQL_TTL_SINK),
    "q_dedup_incremental": (q_dedup_incremental, SQL_DEDUP_INCREMENTAL),
    "q_sparql_bind": (q_sparql_bind, SQL_SPARQL_BIND),
    "q_sparql_select_expr": (q_sparql_select_expr, SQL_SPARQL_SELECT_EXPR),
    "q_typed_filter": (q_typed_filter, SQL_TYPED_FILTER),
    "q_sparql_values": (q_sparql_values, SQL_SPARQL_VALUES),
    "q_sparql_notexists": (q_sparql_notexists, SQL_SPARQL_NOTEXISTS),
    "q_sparql_minus": (q_sparql_minus, SQL_SPARQL_MINUS),
    "q_sparql_prefix": (q_sparql_prefix, SQL_SPARQL_PREFIX),
    "q_sparql_ask": (q_sparql_ask, SQL_SPARQL_ASK),
    "q_sparql_describe": (q_sparql_describe, SQL_SPARQL_DESCRIBE),
    "q_sparql_count_distinct": (q_sparql_count_distinct,
                                SQL_SPARQL_COUNT_DISTINCT),
    "q_sparql_having": (q_sparql_having, SQL_SPARQL_HAVING),
    "q_sparql_groupconcat": (q_sparql_groupconcat, SQL_SPARQL_GROUPCONCAT),
    "q_sparql_exists": (q_sparql_exists, SQL_SPARQL_EXISTS),
    "q_sparql_invpath": (q_sparql_invpath, SQL_SPARQL_INVPATH),
    "q_sparql_altpath": (q_sparql_altpath, SQL_SPARQL_ALTPATH),
    "q_sparql_seqpath": (q_sparql_seqpath, SQL_SPARQL_SEQPATH),
    "q_sparql_starpath": (q_sparql_starpath, SQL_SPARQL_STARPATH),
    # KG / SPARQL surface
    "q_kg_2hop": (q_kg_2hop, SQL_KG_2HOP),
    "q_sparql_2hop": (q_sparql_2hop, SQL_SPARQL_2HOP),
    "q_sparql_filter": (q_sparql_filter, SQL_SPARQL_FILTER),
    "q_sparql_optional": (q_sparql_optional, SQL_SPARQL_OPTIONAL),
    "q_sparql_path": (q_sparql_path, SQL_SPARQL_PATH),
    "q_sparql_agg": (q_sparql_agg, SQL_SPARQL_AGG),
    "q_sparql_construct": (q_sparql_construct, SQL_SPARQL_CONSTRUCT),
    # graph analytics
    "q_closure": (q_closure, SQL_CLOSURE),
    "q_pagerank": (q_pagerank, SQL_PAGERANK),
    "q_triangle": (q_triangle, SQL_TRIANGLE),
    "q_kcore": (q_kcore, SQL_KCORE),
    # analytics suite
    "q_percent_rank": (q_percent_rank, SQL_PERCENT_RANK),
    "q_corr": (q_corr, SQL_CORR),
    "q_grouping_sets": (q_grouping_sets, SQL_GROUPING_SETS),
    "q_outliers": (q_outliers, SQL_OUTLIERS),
    "q_transitions": (q_transitions, SQL_TRANSITIONS),
    "q_funnel": (q_funnel, SQL_FUNNEL),
    "q_retention": (q_retention, SQL_RETENTION),
    "q_gapfill": (q_gapfill, SQL_GAPFILL),
    # quality layer
    "q_profile": (q_profile, SQL_PROFILE),
    "q_expectations": (q_expectations, SQL_EXPECTATIONS),
    # corpus/training-data round-2 additions
    "q_dedup_cluster": (q_dedup_cluster, SQL_DEDUP_CLUSTER),
    "q_embed_quantize": (q_embed_quantize, SQL_EMBED_QUANTIZE),
    "q_ann_ivf": (q_ann_ivf, None),
    "q_bigram": (q_bigram, SQL_BIGRAM),
    "q_tfidf": (q_tfidf, SQL_TFIDF),
    "q_sample_hash": (q_sample_hash, SQL_SAMPLE_HASH),
    "q_mixture": (q_mixture, SQL_MIXTURE),
    "q_decontaminate": (q_decontaminate, SQL_DECONTAMINATE),
    "q_pii_scrub": (q_pii_scrub, SQL_PII_SCRUB),
    "q_rep_filter": (q_rep_filter, SQL_REP_FILTER),
    "q_substring_dup": (q_substring_dup, SQL_SUBSTRING_DUP),
    "q_lm_score": (q_lm_score, SQL_LM_SCORE),
    "q_seq_pack": (q_seq_pack, SQL_SEQ_PACK),
    "q_chunk": (q_chunk, SQL_CHUNK),
    "q_time_travel": (q_time_travel, SQL_TIME_TRAVEL),
    "q_merge_upsert": (q_merge_upsert, SQL_MERGE_UPSERT),
    "q_label_prop": (q_label_prop, SQL_LPA),
    "q_bfs_dist": (q_bfs_dist, SQL_BFS_DIST),
    "q_harmonic": (q_harmonic, SQL_HARMONIC),
    "q_sparql_negprop": (q_sparql_negprop, SQL_SPARQL_NEGPROP),
    "q_sparql_optpath": (q_sparql_optpath, SQL_SPARQL_OPTPATH),
    "q_sparql_subquery": (q_sparql_subquery, SQL_SPARQL_SUBQUERY),
    "q_sparql_if": (q_sparql_if, SQL_SPARQL_IF),
    "q_snapshot_delete": (q_snapshot_delete, SQL_SNAPSHOT_DELETE),
    "q_snapshot_prune": (q_snapshot_prune, SQL_SNAPSHOT_PRUNE),
    "q_rdfs_infer": (q_rdfs_infer, SQL_RDFS_INFER),
    "q_motif": (q_motif, SQL_MOTIF),
    "q_star_source": (q_star_source, SQL_STAR_SOURCE),
    "q_reify": (q_reify, SQL_REIFY),
    "q_star_roundtrip": (q_star_roundtrip, SQL_STAR_ROUNDTRIP),
    "q_sparql_star": (q_sparql_star, SQL_SPARQL_STAR),
    # ---- block B: r01-only greens, refreshed to fill the window ------
    "q_kg_dedup": (q_kg_dedup, SQL_KG_DEDUP),
    "q_dedup_exact": (q_dedup_exact, SQL_DEDUP_EXACT),
    "q_dedup_ngram": (q_dedup_ngram, SQL_DEDUP_NGRAM),
    "q_dedup_embed": (q_dedup_embed, SQL_DEDUP_EMBED),
    "q_dedup_minhash": (q_dedup_minhash, None),
    "q_doc_stats": (q_doc_stats, SQL_DOC_STATS),
    "q_doc_quality": (q_doc_quality, SQL_DOC_QUALITY),
    "q_lang_id": (q_lang_id, SQL_LANG_ID),
    "q_token_bpe": (q_token_bpe, SQL_TOKEN_BPE),
    "q_doc_fingerprint": (q_doc_fingerprint, SQL_DOC_FINGERPRINT),
    "q_embed_norm": (q_embed_norm, SQL_EMBED_NORM),
    "q_embed_agg": (q_embed_agg, SQL_EMBED_AGG),
    "q_ann_cosine": (q_ann_cosine, SQL_ANN_COSINE),
    "q_multimodal_meta": (q_multimodal_meta, SQL_MULTIMODAL_META),
    "q_multimodal_frames": (q_multimodal_frames, SQL_MULTIMODAL_FRAMES),
    # ---- block C: driver-green in CORRECTNESS_r02.json ---------------
    "q_ann_lsh": (q_ann_lsh, None),
    "q_dedup_simhash": (q_dedup_simhash, None),
    "q_multimodal_features": (q_multimodal_features, None),
    # scans / filters / functions
    "q_scan": (q_scan, SQL_SCAN),
    "q_project": (q_project, SQL_PROJECT),
    "q_filter": (q_filter, SQL_FILTER),
    "q_regex": (q_regex, SQL_REGEX),
    "q_null": (q_null, SQL_NULL),
    "q_timerange": (q_timerange, SQL_TIMERANGE),
    "q_json": (q_json, SQL_JSON),
    # aggregation
    "q_agg": (q_agg, SQL_AGG),
    "q_distinct": (q_distinct, SQL_DISTINCT),
    "q_approx": (q_approx, None),
    "q_collect": (q_collect, SQL_COLLECT),
    "q_rollup": (q_rollup, SQL_ROLLUP),
    "q_percentile": (q_percentile, SQL_PERCENTILE),
    "q_skew_agg": (q_skew_agg, SQL_SKEW_AGG),
    # windows
    "q_rownum": (q_rownum, SQL_ROWNUM),
    "q_rank": (q_rank, SQL_RANK),
    "q_ntile": (q_ntile, SQL_NTILE),
    "q_lag": (q_lag, SQL_LAG),
    "q_runsum": (q_runsum, SQL_RUNSUM),
    "q_session": (q_session, SQL_SESSION),
    "q_session_window": (q_session_window, SQL_SESSION_WINDOW),
    "q_window": (q_window, SQL_WINDOW),
    "q_window_sliding": (q_window_sliding, SQL_WINDOW_SLIDING),
    "q_topk": (q_topk, SQL_TOPK),
    "q_sort": (q_sort, SQL_SORT),
    # set ops
    "q_union": (q_union, SQL_UNION),
    "q_intersect": (q_intersect, SQL_INTERSECT),
    "q_except": (q_except, SQL_EXCEPT),
    "q_semi": (q_semi, SQL_SEMI),
    "q_anti": (q_anti, SQL_ANTI),
    # joins
    "q_join_broadcast": (q_join_broadcast, SQL_JOIN_BROADCAST),
    "q_join_smj": (q_join_smj, SQL_JOIN_SMJ),
    "q_join_left": (q_join_left, SQL_JOIN_LEFT),
    "q_salted": (q_salted, SQL_SALTED),
    "q_join_range": (q_join_range, SQL_JOIN_RANGE),
    "q_asof": (q_asof, SQL_ASOF),
    "q_cross": (q_cross, SQL_CROSS),
    "q_pivot": (q_pivot, SQL_PIVOT),
    "q_unpivot": (q_unpivot, SQL_UNPIVOT),
    # grouped-map / grouped-agg / CC / detector / sink / batch-map
    "q_mentions": (q_mentions, SQL_MENTIONS),
    "q_sink_roundtrip": (q_sink_roundtrip, SQL_SINK_ROUNDTRIP),
    "q_bucket_join": (q_bucket_join, SQL_BUCKET_JOIN),
    "q_batch_features": (q_batch_features, SQL_BATCH_FEATURES),
    "q_jsonl_source": (q_jsonl_source, SQL_JSONL_SOURCE),
    "q_csv_source": (q_csv_source, SQL_CSV_SOURCE),
    "q_grouped_map": (q_grouped_map, SQL_GROUPED_MAP),
    "q_pandas_udaf": (q_pandas_udaf, SQL_PANDAS_UDAF),
    "q_cc": (q_cc, SQL_CC),
    # KG flagship family
    "q_kg_structural": (q_kg_structural, SQL_KG_STRUCTURAL),
    "q_kg_stats": (q_kg_stats, SQL_KG_STATS),
}

# Round-5 rotation (VERDICT r04 item 2).  The driver gate checks only
# list(REGISTRY)[:50]; the dict literal above keeps its stable grouping,
# and this explicit window list is hoisted to the front.  Contents:
#   - the 3 r04-red rows re-checked after the BIGINT oracle-typing fix
#     (q_hits / q_seq_pack / q_expectations — DuckDB HUGEINT->float64,
#     VERDICT r04 §What's wrong 1), then
#   - ALL 46 never-driver-checked entries (SPARQL frontend batches 2-4,
#     snapshot store, Turtle/TriG/star sources, inference, walks/
#     skipgram/negatives) — this window zeroes the backlog: after r05
#     every registry entry has at least one driver row, and
#   - 1 spare slot (q_kg_pipeline_small exercise via q_kg_2hop is in the
#     46; the spare re-rows q_session, a long-stable early green, as a
#     canary that the gate itself is unchanged).
_R5_WINDOW = [
    # r04-red re-checks (oracle typing fixed this round)
    "q_hits", "q_seq_pack", "q_expectations",
    # never-driver-checked backlog: sources & snapshot store
    "q_ttl_source", "q_trig_source", "q_ttl_sink", "q_star_source",
    "q_reify", "q_star_roundtrip", "q_time_travel", "q_merge_upsert",
    "q_snapshot_delete", "q_snapshot_prune",
    # SPARQL frontend batch 2 (solution modifiers, aggregates)
    "q_sparql_prefix", "q_sparql_ask", "q_sparql_describe",
    "q_sparql_count_distinct", "q_sparql_having", "q_sparql_groupconcat",
    "q_sparql_grouppath", "q_sparql_groupfilter",
    # SPARQL frontend batch 3 (property paths)
    "q_sparql_invpath", "q_sparql_altpath", "q_sparql_seqpath",
    "q_sparql_starpath", "q_sparql_negprop", "q_sparql_optpath",
    # SPARQL frontend batch 4 (subquery, expressions, graphs, update)
    "q_sparql_subquery", "q_sparql_if", "q_sparql_in", "q_sparql_sample",
    "q_sparql_cwhere", "q_sparql_strsplit", "q_sparql_bnode",
    "q_sparql_from", "q_sparql_graph", "q_sparql_update", "q_graph_mgmt",
    "q_sparql_star",
    # inference / SHACL / graph-embedding corpus
    "q_rdfs_infer", "q_owl_infer", "q_shacl_sparql", "q_walks",
    "q_skipgram", "q_negatives",
    # similarity / misc never-checked
    "q_jaccard", "q_char_sets", "q_kg_2hop", "q_dedup_incremental",
    # round-5 addition: SPARQL projection/ORDER BY expressions
    # (VERDICT r04 item 6) — takes the spare slot
    "q_sparql_select_expr",
]
assert len(_R5_WINDOW) == 50 and len(set(_R5_WINDOW)) == 50
REGISTRY = {
    **{name: REGISTRY[name] for name in _R5_WINDOW},
    **{k: v for k, v in REGISTRY.items() if k not in set(_R5_WINDOW)},
}
