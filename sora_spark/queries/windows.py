"""Declared queries: window-function family Q-W2..Q-W6 (SURVEY §2.5).

Q-W1 (row_number top-k) lives in bench_core. Every window spec carries
a total ordering (ties broken by a unique key) so results are
engine-independent. Each query costs exactly one shuffle on its
partition key.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sora_spark.catalog import tables
from sora_spark.queries.registry import query


@query(
    "qw2_rank_dense_ntile",
    oracle="""
SELECT o_custkey, o_orderkey,
       CAST(rank() OVER w AS INT) AS rnk, CAST(dense_rank() OVER w AS INT) AS drnk,
       CAST(ntile(4) OVER w AS INT) AS nt
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
ORDER BY o_custkey, o_orderkey LIMIT 200
""",
    doc="Q-W2: rank / dense_rank / ntile over one window spec.",
    tags=("window",),
)
def qw2_rank_dense_ntile(spark, sf_dir):
    orders = tables(spark, sf_dir).orders
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), "o_orderkey")
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("drnk"),
            F.ntile(4).over(w).alias("nt"),
        )
        .orderBy("o_custkey", "o_orderkey")
        .limit(200)
    )


@query(
    "qw3_lag_deltas",
    oracle="""
WITH d AS (
  SELECT user_id,
         value - lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS delta
  FROM events)
SELECT user_id, round(sum(CASE WHEN delta > 0 THEN delta ELSE 0 END), 2) AS gain
FROM d GROUP BY user_id
ORDER BY gain DESC, user_id LIMIT 50
""",
    doc="Q-W3: lag deltas per user; top-50 users by summed positive delta.",
    tags=("window",),
)
def qw3_lag_deltas(spark, sf_dir):
    ev = tables(spark, sf_dir).events
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    delta = F.col("value") - F.lag("value").over(w)
    return (
        ev.select("user_id", delta.alias("delta"))
        .groupBy("user_id")
        .agg(
            F.round(
                F.sum(F.when(F.col("delta") > 0, F.col("delta")).otherwise(0.0)), 2
            ).alias("gain")
        )
        .orderBy(F.desc("gain"), "user_id")
        .limit(50)
    )


@query(
    "qw4_running_sum",
    oracle="""
SELECT o_custkey, o_orderkey,
       round(sum(o_totalprice) OVER (PARTITION BY o_custkey
                                     ORDER BY o_orderdate, o_orderkey
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
         AS cum_spend
FROM orders WHERE o_custkey < 50
ORDER BY o_custkey, o_orderkey
""",
    doc="Q-W4: cumulative sum with explicit ROWS frame (sample custkey<50).",
    tags=("window",),
)
def qw4_running_sum(spark, sf_dir):
    orders = tables(spark, sf_dir).orders
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        orders.filter(F.col("o_custkey") < 50)
        .select(
            "o_custkey",
            "o_orderkey",
            F.round(F.sum("o_totalprice").over(w), 2).alias("cum_spend"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


@query(
    "qw5_moving_range_window",
    oracle="""
WITH c AS (
  SELECT count(*) OVER (PARTITION BY event_type ORDER BY ts
                        RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
           AS n_in_window
  FROM events)
SELECT n_in_window, count(*) AS n_events
FROM c GROUP BY n_in_window ORDER BY n_in_window
""",
    doc="Q-W5: moving 1-hour RANGE frame per event_type; output the "
    "histogram of in-window counts. Spark side orders by unix_micros "
    "(long) with an equivalent numeric range frame — identical "
    "inclusive-boundary semantics, and the DataFrame API stays usable.",
    tags=("window", "range-frame"),
)
def qw5_moving_range_window(spark, sf_dir):
    ev = tables(spark, sf_dir).events
    w = (
        Window.partitionBy("event_type")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-3_600_000_000, 0)
    )
    return (
        ev.select(F.count("*").over(w).alias("n_in_window"))
        .groupBy("n_in_window")
        .agg(F.count("*").alias("n_events"))
        .orderBy("n_in_window")
    )


@query(
    "qw6_distribution_functions",
    oracle="""
SELECT o_orderstatus, o_orderkey,
       round(percent_rank() OVER w, 5) AS pr,
       round(cume_dist() OVER w, 5) AS cd,
       first_value(o_orderkey) OVER w AS cheapest,
       last_value(o_orderkey) OVER (PARTITION BY o_orderstatus
                                    ORDER BY o_totalprice, o_orderkey
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND UNBOUNDED FOLLOWING) AS priciest
FROM orders
WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
ORDER BY o_orderstatus, o_orderkey LIMIT 200
""",
    doc="Q-W6: percent_rank / cume_dist / first_value / last_value "
    "(last_value needs the full-partition frame in both engines).",
    tags=("window",),
)
def qw6_distribution_functions(spark, sf_dir):
    orders = tables(spark, sf_dir).orders
    w = Window.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        orders.select(
            "o_orderstatus",
            "o_orderkey",
            F.round(F.percent_rank().over(w), 5).alias("pr"),
            F.round(F.cume_dist().over(w), 5).alias("cd"),
            F.first("o_orderkey").over(w).alias("cheapest"),
            F.last("o_orderkey").over(w_full).alias("priciest"),
        )
        .orderBy("o_orderstatus", "o_orderkey")
        .limit(200)
    )


@query(
    "qw7_first_last_nth_value",
    oracle="""
SELECT l_returnflag, l_orderkey, l_linenumber,
       first_value(l_orderkey) OVER w AS first_ok,
       last_value(l_orderkey)  OVER w AS last_ok,
       nth_value(l_orderkey, 3) OVER w AS third_ok
FROM lineitem WHERE l_quantity <= 2
WINDOW w AS (PARTITION BY l_returnflag
             ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
ORDER BY l_returnflag, l_orderkey, l_linenumber
""",
    doc="first_value / last_value / nth_value over the full-partition "
    "frame (explicit UNBOUNDED frame — last_value's default frame ends "
    "at CURRENT ROW in both engines, a classic trap) with a unique "
    "order key so ties cannot drift.",
    tags=("window",),
)
def qw7_first_last_nth_value(spark, sf_dir):
    li = tables(spark, sf_dir).lineitem
    w = (
        Window.partitionBy("l_returnflag")
        .orderBy(F.desc("l_extendedprice"), "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return (
        li.filter(F.col("l_quantity") <= 2)
        .select(
            "l_returnflag", "l_orderkey", "l_linenumber",
            F.first("l_orderkey").over(w).alias("first_ok"),
            F.last("l_orderkey").over(w).alias("last_ok"),
            F.nth_value("l_orderkey", 3).over(w).alias("third_ok"),
        )
        .orderBy("l_returnflag", "l_orderkey", "l_linenumber")
    )


@query(
    "qw8_sliding_distinct",
    oracle="""
SELECT event_id,
       CAST(len(list_distinct(list(event_type) OVER (
         PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN 2 PRECEDING AND CURRENT ROW))) AS INT)
         AS n_distinct_types
FROM events ORDER BY event_id
""",
    doc="qw8: distinct-count over a sliding ROWS window — Spark "
    "windows reject DISTINCT aggregates, so the engine expresses it "
    "as size(array_distinct(collect_list() OVER)) (state bounded by "
    "the 3-row frame, JVM-side). The per-user event-variety signal "
    "behind burst/bot detection; unique (ts, event_id) order key so "
    "frames can't drift.",
    tags=("window", "distinct"),
)
def qw8_sliding_distinct(spark, sf_dir):
    ev = tables(spark, sf_dir).events
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-2, 0)
    )
    return (
        ev.select(
            "event_id",
            F.size(F.array_distinct(F.collect_list("event_type").over(w)))
            .cast("int")
            .alias("n_distinct_types"),
        )
        .orderBy("event_id")
    )


@query(
    "qw9_share_of_total",
    oracle="""
WITH g AS (SELECT l_returnflag, sum(l_extendedprice) AS revenue
           FROM lineitem GROUP BY l_returnflag)
SELECT l_returnflag, round(revenue, 2) AS revenue,
       round(revenue / sum(revenue) OVER (), 6) AS share
FROM g ORDER BY l_returnflag
""",
    doc="qw9: ratio-to-report — per-group revenue share of the grand "
    "total via an empty-frame window over the ALREADY-AGGREGATED "
    "groups (group-count-sized input; the detail rows are reduced "
    "first, so the unpartitioned window is trivially safe at scale).",
    tags=("window", "ratio"),
)
def qw9_share_of_total(spark, sf_dir):
    li = tables(spark, sf_dir).lineitem
    g = li.groupBy("l_returnflag").agg(
        F.sum("l_extendedprice").alias("revenue")
    )
    w = Window.partitionBy()
    return (
        g.select(
            "l_returnflag",
            F.round("revenue", 2).alias("revenue"),
            F.round(F.col("revenue") / F.sum("revenue").over(w), 6).alias(
                "share"
            ),
        )
        .orderBy("l_returnflag")
    )


@query(
    "qw10_time_range_window",
    oracle="""
SELECT event_id,
       CAST(count(*) OVER w AS BIGINT) AS n_1h,
       CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) OVER w
                 AS DECIMAL(18,6)) AS DOUBLE) AS sum_1h
FROM events
WINDOW w AS (PARTITION BY event_type ORDER BY epoch_us(ts)
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
ORDER BY event_id
""",
    doc="qw10: trailing-1-hour RANGE window per event type (rolling "
    "event rate + rolling value total) — the time-interval frame "
    "qw5's numeric RANGE row doesn't cover. Both engines order by "
    "epoch MICROS (unix_micros / epoch_us): second-granularity "
    "epochs would silently merge sub-second peers differently. The "
    "total is an EXACT DECIMAL frame sum with NO post-arithmetic "
    "rounding: float avg() diverged between engines on a x.xxxx5 "
    "frame (Spark round() goes through the decimal string, DuckDB "
    "through the binary double — found on the stock-session gate). "
    "One shuffle on the partition key; frame state bounded by "
    "events-per-hour.",
    tags=("window", "range", "timeseries"),
)
def qw10_time_range_window(spark, sf_dir):
    ev = tables(spark, sf_dir).events
    w = (
        Window.partitionBy("event_type")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3_600_000_000, 0)
    )
    return (
        ev.select(
            "event_id",
            F.count("*").over(w).cast("bigint").alias("n_1h"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .over(w)
            .cast("decimal(18,6)")
            .cast("double")
            .alias("sum_1h"),
        )
        .orderBy("event_id")
    )


@query(
    "qw11_daily_percentile_bands",
    oracle="""
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
       CAST(count(*) AS BIGINT) AS n,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.95), 6) AS p95,
       round(quantile_cont(value, 0.99), 6) AS p99
FROM events GROUP BY day ORDER BY day
""",
    doc="qw11: daily percentile bands (p50/p95/p99 of event value) — "
    "THE observability rollup (latency bands per day). Exact "
    "`percentile` with linear interpolation, grouped per calendar "
    "day: one shuffle keyed on the day, per-group exact sort of that "
    "day's values only — bounded state per group, never a global "
    "sort. Both engines use the same (n−1)·q interpolation rule; "
    "round(,6) absorbs the last-bit division drift. At 100 TB the "
    "same query swaps percentile→percentile_approx per partition "
    "with identical shape (the approx family is tolerance-certified "
    "in tests/test_property.py).",
    tags=("window", "percentile", "timeseries"),
)
def qw11_daily_percentile_bands(spark, sf_dir):
    ev = tables(spark, sf_dir).events
    return (
        ev.groupBy(F.date_trunc("day", "ts").alias("_day"))
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.round(F.percentile("value", F.lit(0.5)), 6).alias("p50"),
            F.round(F.percentile("value", F.lit(0.95)), 6).alias("p95"),
            F.round(F.percentile("value", F.lit(0.99)), 6).alias("p99"),
        )
        .select(
            F.date_format("_day", "yyyy-MM-dd").alias("day"),
            "n",
            "p50",
            "p95",
            "p99",
        )
        .orderBy("day")
    )


@query(
    "qw12_ignore_nulls_fill",
    oracle="""
WITH s AS (
  SELECT event_id, event_type,
         CASE WHEN event_id % 5 < 2 THEN NULL ELSE value END AS v_sparse
  FROM events),
f AS (
  SELECT event_id, event_type, v_sparse,
         last_value(v_sparse IGNORE NULLS) OVER (
           PARTITION BY event_type ORDER BY event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ffill,
         first_value(v_sparse IGNORE NULLS) OVER (
           PARTITION BY event_type ORDER BY event_id
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS bfill
  FROM s)
SELECT event_id, event_type, v_sparse, ffill, bfill,
       coalesce(ffill, bfill) AS filled
FROM f ORDER BY event_id
""",
    doc="qw12: IGNORE NULLS gap fill — forward-fill (last_value IGNORE "
    "NULLS over the preceding frame), backward-fill (first_value over "
    "the following frame), and the ffill-then-bfill composite: THE "
    "sensor/timeseries imputation idiom, run per event_type stream. "
    "NULLs are planted deterministically (event_id % 5 < 2) so ~40% "
    "of rows impute, including partition-head rows where ffill is "
    "NULL and only bfill fires (that asymmetry is what the gate "
    "certifies). Values pass through UNROUNDED — fill copies bits, no "
    "arithmetic, so cross-engine float drift is impossible. One "
    "shuffle on event_type; frame state is a single value per "
    "direction (Spark evaluates last+IGNORE NULLS incrementally, "
    "never buffering the frame).",
    tags=("window", "fill", "timeseries"),
)
def qw12_ignore_nulls_fill(spark, sf_dir):
    ev = tables(spark, sf_dir).events
    sparse = ev.select(
        "event_id",
        "event_type",
        F.when(F.col("event_id") % 5 < 2, F.lit(None).cast("double"))
        .otherwise(F.col("value"))
        .alias("v_sparse"),
    )
    w_ff = (
        Window.partitionBy("event_type")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_bf = (
        Window.partitionBy("event_type")
        .orderBy("event_id")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    return (
        sparse.select(
            "event_id",
            "event_type",
            "v_sparse",
            F.last("v_sparse", ignorenulls=True).over(w_ff).alias("ffill"),
            F.first("v_sparse", ignorenulls=True).over(w_bf).alias("bfill"),
        )
        .withColumn("filled", F.coalesce("ffill", "bfill"))
        .orderBy("event_id")
    )


@query(
    "qts6_autocorrelation",
    oracle="""
WITH d AS (
  SELECT event_type, date_trunc('day', ts) AS day, count(*)::DOUBLE AS n
  FROM events GROUP BY event_type, day),
l AS (
  SELECT event_type, n,
         lag(n, 1) OVER (PARTITION BY event_type ORDER BY day) AS n1,
         lag(n, 2) OVER (PARTITION BY event_type ORDER BY day) AS n2
  FROM d)
SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
       round(corr(n, n1), 6) AS r1,
       round(corr(n, n2), 6) AS r2
FROM l GROUP BY event_type ORDER BY event_type
""",
    doc="qts6: lag-1/lag-2 autocorrelation of the daily event-count "
    "series per event_type — the seasonality/persistence diagnostic "
    "that pairs with qts5's CUSUM (is the series mean-shifting or "
    "just sticky?). Daily rollup (one shuffle), per-series lag "
    "window (second shuffle on the series key), then corr() — both "
    "engines use the same sample-correlation form, and corr skips "
    "NULL-lag head rows identically. At 100 TB the series table is "
    "days×types — tiny — so the cost is the rollup; the lag/corr "
    "stage is free.",
    tags=("timeseries", "window", "stats"),
)
def qts6_autocorrelation(spark, sf_dir):
    ev = tables(spark, sf_dir).events
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count("*").cast("double").alias("n"))
    w = Window.partitionBy("event_type").orderBy("day")
    lagged = daily.select(
        "event_type",
        "n",
        F.lag("n", 1).over(w).alias("n1"),
        F.lag("n", 2).over(w).alias("n2"),
    )
    return (
        lagged.groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_days"),
            F.round(F.corr("n", "n1"), 6).alias("r1"),
            F.round(F.corr("n", "n2"), 6).alias("r2"),
        )
        .orderBy("event_type")
    )


@query(
    "qts7_seasonal_decomposition",
    oracle="""
WITH d AS (
  SELECT date_trunc('day', ts) AS day, count(*)::DOUBLE AS n
  FROM events GROUP BY day),
t AS (
  SELECT day, n,
         avg(n) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
           AS trend,
         count(*) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
           AS wn
  FROM d),
c AS (SELECT day, n, trend, n - trend AS detr FROM t WHERE wn = 7),
s AS (SELECT dayofweek(day) AS dow, avg(detr) AS seasonal,
             count(*)::BIGINT AS n_days
      FROM c GROUP BY dow)
SELECT s.dow, s.n_days, round(s.seasonal, 4) AS seasonal,
       round((SELECT stddev_samp(c.n - c.trend - s2.seasonal)
              FROM c JOIN s s2 ON dayofweek(c.day) = s2.dow), 4)
         AS resid_std
FROM s ORDER BY s.dow
""",
    doc="qts7: STL-lite seasonal decomposition of the daily event "
    "series — trend = centered 7-day moving average (only FULL "
    "7-day windows kept, so both engines see identical edges), "
    "seasonal = mean detrended value per day-of-week, residual "
    "stddev after removing both. The qts4 dow profile upgraded "
    "from raw averages to a proper trend/seasonal/residual split — "
    "the pre-forecast sanity decomposition. Day-series is "
    "driver-tiny after the one rollup shuffle; dayofweek "
    "conventions: DuckDB dayofweek=0..6 Sun-start, Spark "
    "dayofweek=1..7 Sun-start — the Spark side subtracts 1.",
    tags=("timeseries", "window", "seasonal"),
)
def qts7_seasonal_decomposition(spark, sf_dir):
    ev = tables(spark, sf_dir).events
    d = ev.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.count("*").cast("double").alias("n")
    )
    w = Window.orderBy("day").rowsBetween(-3, 3)
    t = d.select(
        "day",
        "n",
        F.avg("n").over(w).alias("trend"),
        F.count("*").over(w).alias("wn"),
    )
    c = t.filter(F.col("wn") == 7).select(
        "day", "n", "trend", (F.col("n") - F.col("trend")).alias("detr")
    )
    s = c.groupBy((F.dayofweek("day") - 1).alias("dow")).agg(
        F.avg("detr").alias("seasonal"),
        F.count("*").cast("bigint").alias("n_days"),
    )
    resid = (
        c.join(
            F.broadcast(s), (F.dayofweek(c.day) - 1) == s.dow
        )
        .agg(
            F.stddev_samp(
                F.col("n") - F.col("trend") - F.col("seasonal")
            ).alias("rs")
        )
    )
    return (
        s.crossJoin(F.broadcast(resid))
        .select(
            "dow",
            "n_days",
            F.round("seasonal", 4).alias("seasonal"),
            F.round("rs", 4).alias("resid_std"),
        )
        .orderBy("dow")
    )


@query(
    "qw13_batch_session_window",
    oracle="""
WITH d AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR date_diff('microsecond', lag(ts) OVER w, ts)
                      >= 1800000000
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
s AS (
  SELECT user_id, ts,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS sess_id
  FROM d),
per AS (
  SELECT user_id, sess_id,
         strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS sess_start,
         count(*) AS n_events,
         date_diff('microsecond', min(ts), max(ts)) AS span_us
  FROM s GROUP BY user_id, sess_id)
SELECT user_id, sess_start, CAST(n_events AS BIGINT) AS n_events,
       CAST(span_us AS BIGINT) AS span_us
FROM per ORDER BY user_id, sess_start
""",
    doc="qw13: the BUILT-IN F.session_window in BATCH groupBy mode — "
    "the same 30-min-gap semantics qs3 derives by hand with "
    "lag/cumsum and qs3c executes as a stream, here certified for "
    "the batch aggregation path (Spark merges overlapping "
    "[ts, ts+gap) intervals per key at agg time — no window "
    "function, no ordering pass). span = (end − start) − gap since "
    "session_window.end = last_ts + gap. The three spellings of "
    "sessionization (manual window, batch session_window, streaming "
    "session_window) now triangulate each other through the same "
    "oracle family. One shuffle on user_id.",
    tags=("window", "session", "batch"),
)
def qw13_batch_session_window(spark, sf_dir):
    ev = tables(spark, sf_dir).events
    per = ev.groupBy(
        F.session_window("ts", "30 minutes").alias("sw"), "user_id"
    ).agg(F.count("*").cast("bigint").alias("n_events"))
    return (
        per.select(
            "user_id",
            F.date_format(F.col("sw.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "sess_start"
            ),
            "n_events",
            (
                F.unix_micros(F.col("sw.end"))
                - F.unix_micros(F.col("sw.start"))
                - F.lit(1_800_000_000)
            )
            .cast("bigint")
            .alias("span_us"),
        )
        .orderBy("user_id", "sess_start")
    )


@query(
    "qts8_ohlc_bars",
    oracle="""
SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type,
       round(arg_min(value, printf('%020d-%020d',
             epoch_us(ts), event_id)), 6) AS open,
       round(max(value), 6) AS high,
       round(min(value), 6) AS low,
       round(arg_max(value, printf('%020d-%020d',
             epoch_us(ts), event_id)), 6) AS close,
       CAST(count(*) AS BIGINT) AS n
FROM events GROUP BY 1, 2 ORDER BY 1, 2
""",
    doc="qts8: OHLC bars — open/high/low/close of `value` per (day, "
    "event_type): the finance/metrics candlestick rollup. Open and "
    "close are argmin/argmax over the COMPOSITE (ts, event_id) order "
    "— encoded as a zero-padded sortable string because DuckDB 1.0's "
    "arg_min can't take a struct key (Spark's min_by can; both sort "
    "the same bytes) — the unique id makes first/last well-defined under "
    "timestamp ties on BOTH engines, which plain min(ts) lookups are "
    "not. One mergeable shuffle on the bar key; every aggregate is "
    "map-side combinable, so bars at 100 TB cost what a count does.",
    tags=("timeseries", "agg", "ohlc"),
)
def qts8_ohlc_bars(spark, sf_dir):
    ev = tables(spark, sf_dir).events
    key = F.format_string(
        "%020d-%020d", F.unix_micros("ts"), F.col("event_id")
    )
    return (
        ev.groupBy(
            F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias(
                "day"
            ),
            "event_type",
        )
        .agg(
            F.round(F.min_by("value", key), 6).alias("open"),
            F.round(F.max("value"), 6).alias("high"),
            F.round(F.min("value"), 6).alias("low"),
            F.round(F.max_by("value", key), 6).alias("close"),
            F.count("*").cast("bigint").alias("n"),
        )
        .orderBy("day", "event_type")
    )


@query(
    "qts9_rolling_zscore_anomalies",
    oracle="""
WITH r AS (
  SELECT event_type, event_id, value,
         avg(value) OVER w AS mu,
         stddev_samp(value) OVER w AS sd,
         count(*) OVER w AS wn
  FROM events
  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
               ROWS BETWEEN 50 PRECEDING AND 1 PRECEDING)),
z AS (
  SELECT event_type, event_id,
         round((value - mu) / sd, 4) AS z
  FROM r WHERE wn = 50 AND sd > 0)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_scored,
       CAST(count(CASE WHEN abs(z) > 3 THEN 1 END) AS BIGINT) AS n_anomalies,
       round(max(abs(z)), 4) AS max_abs_z
FROM z GROUP BY event_type ORDER BY event_type
""",
    doc="qts9: rolling z-score anomaly detection — each point scored "
    "against the TRAILING 50 points of its own series (1 PRECEDING "
    "end: the point never contaminates its own baseline — the "
    "self-exclusion that separates detection from smoothing), "
    "|z| > 3 flagged. Only full windows score, so both engines "
    "agree on the warm-up boundary; z is rounded before the "
    "threshold so the flag count is cross-engine exact. One "
    "shuffle per series; window state is the 50-row frame's "
    "running moments. The streaming twin is qst1's running "
    "per-key state; this is the batch/backfill form every "
    "monitoring pipeline also needs.",
    tags=("timeseries", "window", "anomaly"),
)
def qts9_rolling_zscore_anomalies(spark, sf_dir):
    ev = tables(spark, sf_dir).events
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-50, -1)
    )
    r = ev.select(
        "event_type",
        "value",
        F.avg("value").over(w).alias("mu"),
        F.stddev_samp("value").over(w).alias("sd"),
        F.count("*").over(w).alias("wn"),
    )
    z = r.filter((F.col("wn") == 50) & (F.col("sd") > 0)).select(
        "event_type",
        F.round((F.col("value") - F.col("mu")) / F.col("sd"), 4).alias("z"),
    )
    return (
        z.groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_scored"),
            F.count(F.when(F.abs("z") > 3, 1))
            .cast("bigint")
            .alias("n_anomalies"),
            F.round(F.max(F.abs("z")), 4).alias("max_abs_z"),
        )
        .orderBy("event_type")
    )


@query(
    "qw14_rank_family",
    oracle="""
SELECT o_orderkey,
       round(percent_rank() OVER w, 6) AS pr,
       round(cume_dist() OVER w, 6)    AS cd,
       ntile(4) OVER w                 AS quartile
FROM orders
WINDOW w AS (PARTITION BY o_orderpriority
             ORDER BY o_totalprice, o_orderkey)
ORDER BY o_orderkey
""",
    doc="qw14: the relative-rank window family — percent_rank, "
    "cume_dist and ntile(4) per priority partition, completing the "
    "ranking surface beyond qw1's row_number/rank. The ORDER BY "
    "includes the unique key, so ranks are a TOTAL order and the "
    "ratios ((rank-1)/(n-1), rank/n) and quartile boundaries are "
    "identical in both engines — no tie ambiguity to paper over. "
    "One shuffle on the partition key, rank math streamed within "
    "each partition; output is corpus-sized (the gate hashes every "
    "row, not a summary).",
    tags=("window", "rank"),
)
def qw14_rank_family(spark, sf_dir):
    orders = tables(spark, sf_dir).orders
    w = Window.partitionBy("o_orderpriority").orderBy(
        "o_totalprice", "o_orderkey"
    )
    return (
        orders.select(
            "o_orderkey",
            F.round(F.percent_rank().over(w), 6).alias("pr"),
            F.round(F.cume_dist().over(w), 6).alias("cd"),
            F.ntile(4).over(w).alias("quartile"),
        )
        .orderBy("o_orderkey")
    )


@query(
    "qts10_rolling_median",
    oracle="""
WITH daily AS (
  SELECT event_type, date_trunc('day', ts) AS d,
         round(sum(value), 2) AS v
  FROM events GROUP BY 1, 2)
SELECT event_type, strftime(d, '%Y-%m-%d') AS day,
       round(quantile_cont(v, 0.5) OVER (
         PARTITION BY event_type ORDER BY d
         ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS med7,
       round(quantile_cont(v, 0.9) OVER (
         PARTITION BY event_type ORDER BY d
         ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS p90_7
FROM daily ORDER BY event_type, day
""",
    doc="qts10: rolling 7-day median and p90 of the daily value series "
    "per event type — the robust-baseline smoother (median ignores "
    "single-day spikes that drag qts3's EWMA) every monitoring "
    "pipeline runs next to a z-score. Exercises EXACT percentile as a "
    "WINDOW aggregate over a ROWS frame — an interplay no other row "
    "pins (qa7 is global, qw5-family frames use sums). Both engines "
    "interpolate linearly over the <= 7-element frame; input values "
    "are pre-rounded at 2dp so the interpolation arithmetic is "
    "identical, output rounded at 4. Scale shape: the window runs "
    "over the DAY-COUNT-sized daily series (one corpus-sized "
    "aggregation first), so frame re-sorting is calendar-sized "
    "regardless of event volume.",
    tags=("timeseries", "window", "percentile"),
)
def qts10_rolling_median(spark, sf_dir):
    ev = tables(spark, sf_dir).events
    daily = ev.groupBy(
        F.date_trunc("day", "ts").alias("d"), "event_type"
    ).agg(F.round(F.sum("value"), 2).alias("v"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(-6, 0)
    )
    return (
        daily.select(
            "event_type",
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            F.round(F.percentile("v", F.lit(0.5)).over(w), 4).alias(
                "med7"
            ),
            F.round(F.percentile("v", F.lit(0.9)).over(w), 4).alias(
                "p90_7"
            ),
        )
        .orderBy("event_type", "day")
    )


@query(
    "qw15_topk_salted",
    oracle="""
SELECT o_orderpriority AS priority, rn, o_orderkey,
       round(o_totalprice, 2) AS total
FROM (
    SELECT o_orderpriority, o_orderkey, o_totalprice,
           row_number() OVER (PARTITION BY o_orderpriority
                              ORDER BY o_totalprice DESC, o_orderkey) AS rn
    FROM orders
) t
WHERE rn <= 4
ORDER BY priority, rn
""",
    doc="qw15: SKEW-PROOF top-k per group via the salted two-phase "
    "operator (operators/topk.topk_per_group_salted), certified "
    "EXACT against the plain-window oracle. Phase 1 ranks within "
    "(group, salt) so 32 reducers share each group and keeps k per "
    "salted bucket; phase 2's exact window sees <= k*32 rows per "
    "group regardless of group size. The group here is "
    "o_orderpriority — FIVE groups over the whole table, the shape "
    "where a plain row_number() window is five tasks no matter how "
    "big the cluster is and one hot group is one straggler; the "
    "salted form bounds every task's sort at k*n_salts rows. AQE "
    "splits skewed JOIN partitions but not skewed WINDOW partitions "
    "— this operator is the remedy, and "
    "the oracle proves exactness (each global top-k row is top-k "
    "within its own salt bucket; both phases share one total order).",
    tags=("window", "topk", "skew"),
)
def qw15_topk_salted(spark, sf_dir):
    from sora_spark.operators.topk import topk_per_group_salted

    orders = tables(spark, sf_dir).orders
    return (
        topk_per_group_salted(
            orders, ["o_orderpriority"], "o_totalprice", 4,
            tiebreak_cols=["o_orderkey"],
        )
        .select(
            F.col("o_orderpriority").alias("priority"),
            "rn",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("total"),
        )
        .orderBy("priority", "rn")
    )
