"""Declared queries: batch-oracle forms of the streaming operators
Q-S2..Q-S4 (SURVEY §2.9). Q-S1 (tumbling) lives in bench_core. DuckDB
cannot stream, so the t2 contract row for each streaming op is its
batch-equivalent query; replay self-consistency (stream == batch) is
asserted in tests/test_streaming.py.

qs1b is the exception that closes the loop: its Spark side really runs
`readStream` micro-batches into a memory sink (complete mode), so the
streaming EXECUTION itself — not just the batch twin — faces the hash
gate.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sora_spark.catalog import tables
from sora_spark.queries.registry import query
from sora_spark.scratch import fresh_dir

_FMT = "yyyy-MM-dd HH:mm:ss"


@query(
    "qs1b_tumbling_stream_sink",
    oracle="""
SELECT strftime(ts, '%Y-%m-%d %H:00:00') AS hour, event_type,
       count(*) AS n, round(sum(value), 2) AS sum_value
FROM events
GROUP BY 1, 2
ORDER BY 1, 2
""",
    doc="Q-S1 at the hash tier: the ACTUAL Structured Streaming "
    "execution — events replayed as a 4-file parquet stream "
    "(maxFilesPerTrigger=1, so 4 real micro-batches), tumbling-window "
    "aggregated with a watermark, drained through a memory sink in "
    "complete mode — hash-matched against the same DuckDB oracle as the "
    "batch qs1. This certifies the micro-batch state machine, not just "
    "the batch twin.",
    tags=("streaming", "bench-adjacent"),
)
def qs1b_tumbling_stream_sink(spark, sf_dir):
    from sora_spark.streaming import ops, replay

    d = replay.materialize_replay_dir(spark, sf_dir, "qs1b", n_files=4)
    stream = ops.tumbling_counts(replay.events_stream(spark, d))
    # fixed sink name: run_to_memory drops the session-global memory
    # table before restart, so re-invocations replace instead of leak
    return replay.run_to_memory(stream, "qs1b_sink", "complete")


@query(
    "qs2_sliding_window",
    oracle="""
WITH assigned AS (
  SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS win_start,
         event_type, value
  FROM events
  UNION ALL
  SELECT strftime(date_trunc('hour', ts) - INTERVAL 1 HOUR, '%Y-%m-%d %H:%M:%S'),
         event_type, value
  FROM events)
SELECT win_start, event_type, count(*) AS n, round(sum(value), 2) AS sum_value
FROM assigned GROUP BY 1, 2 ORDER BY 1, 2
""",
    doc="Q-S2: sliding 2h/1h window — batch form via F.window (the same "
    "operator the stream uses); every event lands in exactly 2 windows.",
    tags=("streaming-batch",),
)
def qs2_sliding_window(spark, sf_dir):
    ev = tables(spark, sf_dir).events
    return (
        ev.groupBy(F.window("ts", "2 hours", "1 hour"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.date_format("window.start", _FMT).alias("win_start"),
            "event_type",
            "n",
            "sum_value",
        )
        .orderBy("win_start", "event_type")
    )


@query(
    "qs3_session_windows",
    oracle="""
WITH d AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR date_diff('microsecond', lag(ts) OVER w, ts) >= 1800000000
              THEN 1 ELSE 0 END AS new_sess
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
s AS (SELECT user_id, ts,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS sess_id
      FROM d),
per_session AS (
  SELECT user_id, sess_id, count(*) AS n_events,
         date_diff('microsecond', min(ts), max(ts)) / 1000000.0 AS len_s
  FROM s GROUP BY user_id, sess_id)
SELECT count(*) AS n_sessions,
       round(avg(len_s), 2) AS avg_session_len_s,
       count(DISTINCT user_id) AS n_users,
       max(n_events) AS max_session_events
FROM per_session
""",
    doc="Q-S3: session windows (30-min gap) — batch gaps-and-islands "
    "form; a gap >= 30 min starts a new session (matching Spark "
    "session_window merge semantics, where an event merges only while "
    "strictly inside last_ts + gap).",
    tags=("streaming-batch", "session"),
)
def qs3_session_windows(spark, sf_dir):
    ev = tables(spark, sf_dir).events
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    d = ev.withColumn(
        "new_sess",
        F.when(F.lag("ts").over(w).isNull() | (gap_us >= 1_800_000_000), 1).otherwise(0),
    )
    wsum = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    s = d.withColumn("sess_id", F.sum("new_sess").over(wsum))
    per_session = s.groupBy("user_id", "sess_id").agg(
        F.count("*").alias("n_events"),
        (
            (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))) / 1_000_000.0
        ).alias("len_s"),
    )
    return per_session.agg(
        F.count("*").alias("n_sessions"),
        F.round(F.avg("len_s"), 2).alias("avg_session_len_s"),
        F.countDistinct("user_id").alias("n_users"),
        F.max("n_events").alias("max_session_events"),
    )


@query(
    "qs3b_sessions_per_user",
    oracle="""
WITH d AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR date_diff('microsecond', lag(ts) OVER w, ts) >= 1800000000
              THEN 1 ELSE 0 END AS new_sess
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
per_user AS (
  SELECT user_id, CAST(sum(new_sess) AS BIGINT) AS n_sessions
  FROM d GROUP BY user_id)
SELECT n_sessions, count(*) AS n_users
FROM per_user GROUP BY n_sessions ORDER BY n_sessions
""",
    doc="Q-S3 (full form): per-user session-count histogram under the "
    "same 30-minute-gap semantics.",
    tags=("streaming-batch", "session"),
)
def qs3b_sessions_per_user(spark, sf_dir):
    ev = tables(spark, sf_dir).events
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    d = ev.withColumn(
        "new_sess",
        F.when(
            F.lag("ts").over(w).isNull() | (gap_us >= 1_800_000_000), 1
        ).otherwise(0),
    )
    per_user = d.groupBy("user_id").agg(
        F.sum("new_sess").cast("bigint").alias("n_sessions")
    )
    return (
        per_user.groupBy("n_sessions")
        .agg(F.count("*").alias("n_users"))
        .orderBy("n_sessions")
    )


@query(
    "qs4_streaming_dedup",
    oracle="""
WITH r AS (
  SELECT user_id, event_type, value,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) AS rn
  FROM events)
SELECT count(*) AS n_first, round(sum(value), 2) AS sum_value
FROM r WHERE rn = 1
""",
    doc="Q-S4: streaming dedup — first occurrence per (user, "
    "event_type) by event time; batch form is row_number() = 1.",
    tags=("streaming-batch", "dedup"),
)
def qs4_streaming_dedup(spark, sf_dir):
    ev = tables(spark, sf_dir).events
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .agg(
            F.count("*").alias("n_first"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


@query(
    "qs5_stream_stream_join",
    oracle="""
SELECT p.user_id, p.event_id AS purchase_id, v.event_id AS view_id
FROM events p JOIN events v
  ON p.user_id = v.user_id
 AND v.ts <= p.ts
 AND v.ts >  p.ts - INTERVAL 1 HOUR
WHERE p.event_type = 'purchase' AND v.event_type = 'view'
ORDER BY 1, 2, 3
""",
    doc="SURVEY §2.9 stream-stream join, batch-oracle form: the EXACT "
    "streaming operator (streaming/stateful.py purchases_after_views — "
    "watermarked interval join; state evicted past the 1-hour range) run "
    "on the batch frame, where withWatermark is a no-op. Streaming-vs-"
    "batch equivalence is separately pinned in tests/test_streaming.py.",
    tags=("streaming-batch", "join"),
)
def qs5_stream_stream_join(spark, sf_dir):
    from sora_spark.streaming.stateful import purchases_after_views

    ev = tables(spark, sf_dir).events
    return purchases_after_views(ev).orderBy("user_id", "purchase_id", "view_id")


@query(
    "qs2b_sliding_stream_sink",
    oracle="""
WITH assigned AS (
  SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS win_start,
         event_type, value
  FROM events
  UNION ALL
  SELECT strftime(date_trunc('hour', ts) - INTERVAL 1 HOUR, '%Y-%m-%d %H:%M:%S'),
         event_type, value
  FROM events)
SELECT win_start, event_type, count(*) AS n, round(sum(value), 2) AS sum_value
FROM assigned GROUP BY 1, 2 ORDER BY 1, 2
""",
    doc="Q-S2 at the hash tier: the ACTUAL sliding-window streaming "
    "execution — 4 parquet micro-batches through ops.sliding_counts "
    "(2h windows sliding 1h, watermarked), drained via a memory sink "
    "in complete mode — against the same DuckDB oracle as the batch "
    "qs2. Second true-streaming hash row after qs1b: certifies "
    "overlapping-window state, not just tumbling.",
    tags=("streaming", "hash-tier"),
)
def qs2b_sliding_stream_sink(spark, sf_dir):
    from sora_spark.streaming import ops, replay

    d = replay.materialize_replay_dir(spark, sf_dir, "qs2b", n_files=4)
    stream = ops.sliding_counts(replay.events_stream(spark, d))
    return replay.run_to_memory(stream, "qs2b_sink", "complete").orderBy(
        "win_start", "event_type"
    )


@query(
    "qs3c_session_stream_sink",
    oracle="""
WITH d AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR date_diff('microsecond', lag(ts) OVER w, ts) >= 1800000000
              THEN 1 ELSE 0 END AS new_sess
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
s AS (SELECT user_id, ts,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS sess_id
      FROM d),
per_session AS (
  SELECT user_id, sess_id, count(*) AS n_events,
         date_diff('microsecond', min(ts), max(ts)) / 1000000.0 AS len_s
  FROM s GROUP BY user_id, sess_id)
SELECT count(*) AS n_sessions,
       round(avg(len_s), 2) AS avg_session_len_s,
       count(DISTINCT user_id) AS n_users,
       max(n_events) AS max_session_events
FROM per_session
""",
    doc="Q-S3 at the hash tier: the ACTUAL session-window streaming "
    "execution — 4 parquet micro-batches through ops.session_counts "
    "(F.session_window, 30-min gap, real watermark), APPEND mode, a "
    "far-future sentinel event advancing the watermark so all session "
    "state flushes through the memory sink — aggregated to the same "
    "summary and hash-matched against the same DuckDB oracle as the "
    "batch qs3. Session length from the emitted window is "
    "(end - start) - gap, since session_window end = last ts + gap. "
    "Certifies streaming session-MERGE state, the hardest streaming "
    "semantics the engine exercises (VERDICT r05 item 2).",
    tags=("streaming", "hash-tier", "session"),
)
def qs3c_session_stream_sink(spark, sf_dir):
    from sora_spark.streaming import ops, replay

    # fresh per-invocation copy: run_to_memory_flush appends a sentinel
    # into the replay dir, so the reused staging dir must never be
    # passed directly (the qs5c/qs9 lesson — review finding)
    d = replay.stage_run_dir(spark, sf_dir, "qs3c", n_files=4)
    stream = ops.session_counts(
        replay.events_stream(spark, d), watermark="40 days"
    )
    sink = replay.run_to_memory_flush(stream, "qs3c_sink", d)
    sess = sink.filter(F.col("user_id") != replay.SENTINEL_USER)
    len_s = (
        F.unix_micros(F.col("session_window.end"))
        - F.unix_micros(F.col("session_window.start"))
    ) / 1_000_000.0 - 1800.0
    return sess.select(len_s.alias("len_s"), "user_id", "n_events").agg(
        F.count("*").alias("n_sessions"),
        F.round(F.avg("len_s"), 2).alias("avg_session_len_s"),
        F.countDistinct("user_id").alias("n_users"),
        F.max("n_events").alias("max_session_events"),
    )


@query(
    "qs4b_dedup_stream_sink",
    oracle="""
WITH r AS (
  SELECT user_id, event_type, value,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) AS rn
  FROM events)
SELECT count(*) AS n_first, round(sum(value), 2) AS sum_value
FROM r WHERE rn = 1
""",
    doc="Q-S4 at the hash tier: ACTUAL streaming dropDuplicates state "
    "— events staged as 4 range-partitioned, within-sorted files and "
    "replayed ONE FILE PER MICRO-BATCH in deterministic order "
    "(replay.run_sequential_to_memory), so first ARRIVAL per "
    "(user_id, event_type) is exactly first by (ts, event_id) and the "
    "kept row's VALUE — not just the key set — faces the hash gate "
    "against the batch qs4 oracle. Certifies the dedup state store "
    "across real micro-batches (VERDICT r05 item 2).",
    tags=("streaming", "hash-tier", "dedup"),
)
def qs4b_dedup_stream_sink(spark, sf_dir):
    from sora_spark.streaming import ops, replay

    staged = replay.materialize_replay_dir(
        spark, sf_dir, "qs4b", n_files=4, sorted_within=True
    )
    kept = replay.run_sequential_to_memory(
        spark, staged, ops.stream_dedup, "qs4b_sink", "append"
    )
    return kept.agg(
        F.count("*").alias("n_first"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


@query(
    "qs5c_stream_stream_outer_join_sink",
    oracle="""
SELECT p.user_id, p.event_id AS purchase_id, v.event_id AS view_id
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
  ON p.user_id = v.user_id
 AND v.ts <= p.ts
 AND v.ts >  p.ts - INTERVAL 1 HOUR
ORDER BY 1, 2, 3
""",
    doc="LEFT-OUTER stream-stream join at the hash tier: matched "
    "purchases emit as they join; UNMATCHED purchases are held in "
    "state and emit with NULL view_id only once the watermark passes "
    "their join range — advanced here by two far-future sentinel "
    "files that survive the event_type filters on BOTH sides (outer "
    "results flush on the batch AFTER the watermark moves). The full "
    "outer result, NULLs included, hash-matches the batch LEFT JOIN "
    "oracle. Completes the stream-stream family: qs5b certifies the "
    "inner matches, this certifies the watermark-gated NULL emission.",
    tags=("streaming", "hash-tier", "join"),
)
def qs5c_stream_stream_outer_join_sink(spark, sf_dir):
    from sora_spark.streaming import replay
    from sora_spark.streaming.stateful import purchases_after_views_outer

    d = replay.stage_run_dir(spark, sf_dir, "qs5c")
    replay.append_flush_sentinel_pairs(spark, d)
    got = replay.run_to_memory(
        purchases_after_views_outer(replay.events_stream(spark, d)),
        "qs5c_sink",
        "append",
    )
    return got.filter(F.col("user_id") != replay.SENTINEL_USER).orderBy(
        "user_id", "purchase_id", "view_id"
    )


@query(
    "qs6_checkpoint_recovery",
    oracle="""
SELECT strftime(ts, '%Y-%m-%d %H:00:00') AS hour, event_type,
       count(*) AS n, round(sum(value), 2) AS sum_value
FROM events
GROUP BY 1, 2
ORDER BY 1, 2
""",
    doc="Streaming EXACTLY-ONCE across restart at the hash tier: the "
    "events split in half by event_id parity; a checkpointed tumbling "
    "aggregation processes the first half, STOPS, the second half "
    "arrives, and a NEW query restarted from the SAME checkpoint "
    "processes it — windowed-count state recovered from the state "
    "store, no replays, no loss. The final complete-mode batch (via "
    "foreachBatch, the restart-capable sink; its collect IS the sink "
    "for a bounded aggregate) must hash-match the batch qs1 oracle "
    "over the whole input. Certifies checkpoint recovery of stateful "
    "aggregation, the property streaming ingestion leans on at scale.",
    tags=("streaming", "hash-tier", "checkpoint"),
)
def qs6_checkpoint_recovery(spark, sf_dir):
    import os

    from sora_spark.sources.parquet import read_table
    from sora_spark.streaming import ops, replay

    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    base = fresh_dir(f"qs6-{sf_tag}")
    src, ckpt = os.path.join(base, "src"), os.path.join(base, "ckpt")
    os.makedirs(src)
    ev = read_table(spark, sf_dir, "events")
    first = ev.filter(F.col("event_id") % 2 == 0)
    second = ev.filter(F.col("event_id") % 2 == 1)

    last_batch: dict = {"rows": None}

    def run_once():
        stream = ops.tumbling_counts(replay.events_stream(spark, src))

        def sink(batch_df, _bid):
            last_batch["rows"] = batch_df.collect()

        q = (
            stream.writeStream.outputMode("complete")
            .foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    first.coalesce(2).write.mode("append").parquet(src)
    run_once()
    second.coalesce(2).write.mode("append").parquet(src)
    run_once()  # restarted from the SAME checkpoint

    return spark.createDataFrame(
        last_batch["rows"],
        "hour string, event_type string, n bigint, sum_value double",
    ).orderBy("hour", "event_type")


@query(
    "qup2_streaming_upsert_sink",
    oracle="""
WITH r AS (
  SELECT user_id, event_type, event_id, value,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts DESC) AS rn
  FROM events)
SELECT user_id, event_type, event_id AS latest_event_id,
       round(value, 2) AS latest_value
FROM r WHERE rn = 1 ORDER BY user_id, event_type
""",
    doc="The CDC materialized-view composition at the hash tier: the "
    "events replayed as 4 micro-batches through the foreachBatch "
    "UPSERT sink (streaming.upsert.upsert_sink — merge-by-rewrite, "
    "max-ts row per (user_id, event_type), atomic dir swap per "
    "batch); the final TABLE ON DISK is read back and hash-matched "
    "against the batch latest-row-per-key oracle. Determinism rests "
    "on a verified fixture property (no two same-key events share the "
    "max ts at any calibrated sf), so the sink's content-hash "
    "tiebreak never decides — same discipline as qup1. Certifies the "
    "streaming+merge composition qup1 (batch core) and qs1b "
    "(micro-batch replay) certify separately.",
    tags=("streaming", "hash-tier", "cdc", "upsert"),
)
def qup2_streaming_upsert_sink(spark, sf_dir):
    import os

    from sora_spark.streaming import replay
    from sora_spark.streaming.upsert import upsert_sink

    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    d = replay.materialize_replay_dir(spark, sf_dir, "qup2", n_files=4)
    base = fresh_dir(f"qup2-sink-{sf_tag}")
    table, ckpt = os.path.join(base, "table"), os.path.join(base, "ckpt")
    q = upsert_sink(
        replay.events_stream(spark, d),
        table,
        ckpt,
        ["user_id", "event_type"],
        "ts",
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return (
        spark.read.parquet(table)
        .select(
            "user_id",
            "event_type",
            F.col("event_id").alias("latest_event_id"),
            F.round("value", 2).alias("latest_value"),
        )
        .orderBy("user_id", "event_type")
    )


@query(
    "qs7_update_mode_sink",
    oracle="""
SELECT strftime(ts, '%Y-%m-%d %H:00:00') AS hour, event_type,
       count(*) AS n, round(sum(value), 2) AS sum_value
FROM events
GROUP BY 1, 2
ORDER BY 1, 2
""",
    doc="UPDATE output mode at the hash tier: the tumbling aggregation "
    "replayed one file per micro-batch in time order (sequential "
    "replay — with tied-mtime bulk staging the file source can pick a "
    "LATE file first, jump the watermark, and drop older files' "
    "events entirely; found while writing this query) emits only "
    "CHANGED windows each batch under the REAL 2-hour watermark "
    "(state behind it evicted between batches); a foreachBatch sink "
    "overwrites a per-key driver dict (the canonical update-mode "
    "consumer — last emission per key IS the final state), and the "
    "reconstructed table hash-matches the qs1 batch oracle. With "
    "qs1b (complete) and qs6 (checkpointed restart) this closes the "
    "output-mode family at the hash tier.",
    tags=("streaming", "hash-tier", "output-mode"),
)
def qs7_update_mode_sink(spark, sf_dir):
    from sora_spark.streaming import ops, replay

    staged = replay.materialize_replay_dir(spark, sf_dir, "qs7", n_files=4)

    latest: dict = {}

    def sink(batch_df, _bid):
        for r in batch_df.collect():
            latest[(r["hour"], r["event_type"])] = (r["n"], r["sum_value"])

    replay.run_sequential_foreach_batch(
        spark, staged, ops.tumbling_counts, sink, "update"
    )
    rows = [
        (h, et, n, sv) for (h, et), (n, sv) in sorted(latest.items())
    ]
    return spark.createDataFrame(
        rows, "hour string, event_type string, n bigint, sum_value double"
    ).orderBy("hour", "event_type")


@query(
    "qst1_stateful_counts",
    oracle="""
SELECT user_id, count(*) AS n_events
FROM events GROUP BY user_id ORDER BY user_id
""",
    doc="SURVEY §2.9 custom stateful operator at the hash tier: "
    "running per-user counters through the REAL stateful backend — "
    "transformWithStateInPandas (ValueState, RocksDB provider) when "
    "the env supports it, else the portable applyInPandasWithState "
    "path (stateful.py running_user_counts*) — over 4 replayed "
    "micro-batches in update mode. The sink holds one row per (user, "
    "touching batch); counters are monotone, so max per user is the "
    "final state, hash-matched against the batch count(*) oracle. "
    "Promotes the Spark-4 stateful API from the self tier (VERDICT "
    "r05 item 8).",
    tags=("streaming", "hash-tier", "stateful"),
)
def qst1_stateful_counts(spark, sf_dir):
    from sora_spark.streaming import replay, stateful

    d = replay.materialize_replay_dir(spark, sf_dir, "qst1", n_files=4)
    ev = replay.events_stream(spark, d)
    if stateful.has_tws_support():
        with stateful.rocksdb_provider(spark):
            sink = replay.run_to_memory(
                stateful.running_user_counts_tws(ev), "qst1_sink", "update"
            )
    else:
        sink = replay.run_to_memory(
            stateful.running_user_counts(ev), "qst1_sink", "update"
        )
    return (
        sink.groupBy("user_id")
        .agg(F.max("n_events").alias("n_events"))
        .orderBy("user_id")
    )


@query(
    "qs5b_stream_stream_join_sink",
    oracle="""
SELECT p.user_id, p.event_id AS purchase_id, v.event_id AS view_id
FROM events p JOIN events v
  ON p.user_id = v.user_id
 AND v.ts <= p.ts
 AND v.ts >  p.ts - INTERVAL 1 HOUR
WHERE p.event_type = 'purchase' AND v.event_type = 'view'
ORDER BY 1, 2, 3
""",
    doc="Q-S5 at the hash tier: the ACTUAL stream-stream interval join "
    "— view side and purchase side fed from TWO independently-replayed "
    "file streams with misaligned micro-batch boundaries (4 vs 3 "
    "files), watermarks on both sides, inner-join state drained "
    "through a memory sink in append mode — hash-matched against the "
    "same DuckDB oracle as the batch qs5. The global watermark is the "
    "min across both sources, so rate misalignment cannot evict state "
    "early; completes the qs*b execution-gate family (VERDICT r05 "
    "item 3).",
    tags=("streaming", "hash-tier", "join"),
)
def qs5b_stream_stream_join_sink(spark, sf_dir):
    from sora_spark.streaming import replay
    from sora_spark.streaming.stateful import purchases_after_views_two_sources

    d_v = replay.materialize_replay_dir(spark, sf_dir, "qs5bv", n_files=4)
    d_p = replay.materialize_replay_dir(spark, sf_dir, "qs5bp", n_files=3)
    stream = purchases_after_views_two_sources(
        replay.events_stream(spark, d_v), replay.events_stream(spark, d_p)
    )
    got = replay.run_to_memory(stream, "qs5b_sink", "append")
    return got.orderBy("user_id", "purchase_id", "view_id")


@query(
    "qs8_stream_static_join",
    oracle="""
SELECT c.c_mktsegment AS segment, e.event_type,
       count(*) AS n, round(sum(e.value), 2) AS sum_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1, 2 ORDER BY 1, 2
""",
    doc="Stream-STATIC join at the hash tier (the third join shape "
    "after stream-stream inner/outer): events replayed as 4 real "
    "micro-batches, enriched per batch against the static customer "
    "dimension via a BROADCAST inner join (stateless — no watermark, "
    "no join state; the dimension is re-broadcast per micro-batch, "
    "which is exactly the 100 TB pattern for slowly-changing small "
    "dims), then windowless-aggregated per (segment, event_type) in "
    "complete mode and hash-matched against the batch join oracle.",
    tags=("streaming", "hash-tier", "join"),
)
def qs8_stream_static_join(spark, sf_dir):
    from sora_spark.streaming import replay

    d = replay.materialize_replay_dir(spark, sf_dir, "qs8", n_files=4)
    ev = replay.events_stream(spark, d)
    cust = tables(spark, sf_dir).customer.select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
    )
    agg = (
        ev.join(F.broadcast(cust), "user_id")
        .groupBy("segment", "event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )
    return replay.run_to_memory(agg, "qs8_sink", "complete")


@query(
    "qup3_cdc_deletes",
    oracle="""
WITH r AS (
  SELECT user_id, event_type, event_id, value,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC) AS rn
  FROM events)
SELECT user_id, event_id AS latest_event_id,
       round(value, 2) AS latest_value
FROM r WHERE rn = 1 AND event_type <> 'error'
ORDER BY user_id
""",
    doc="CDC upsert WITH DELETES at the hash tier: the event stream "
    "carries an op column ('D' tombstone when event_type = 'error', "
    "else 'U') and flows through the same foreachBatch merge sink as "
    "qup2 keyed on user_id alone. Tombstones are RETAINED in the "
    "merged table (not dropped at merge time — dropping would let an "
    "out-of-order older row resurrect a deleted key) and filtered at "
    "read, the standard compaction-deferred CDC pattern; the visible "
    "view hash-matches the batch latest-row-per-key-excluding-"
    "tombstone oracle. 30 of 150 keys end deleted at sf0.01, so the "
    "delete path is genuinely exercised.",
    tags=("streaming", "hash-tier", "cdc", "upsert"),
)
def qup3_cdc_deletes(spark, sf_dir):
    import os

    from sora_spark.streaming import replay
    from sora_spark.streaming.upsert import upsert_sink

    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    d = replay.materialize_replay_dir(spark, sf_dir, "qup3", n_files=4)
    base = fresh_dir(f"qup3-sink-{sf_tag}")
    table, ckpt = os.path.join(base, "table"), os.path.join(base, "ckpt")
    ev = replay.events_stream(spark, d).withColumn(
        "op",
        F.when(F.col("event_type") == "error", F.lit("D")).otherwise(
            F.lit("U")
        ),
    )
    q = upsert_sink(ev, table, ckpt, ["user_id"], "ts")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return (
        spark.read.parquet(table)
        .filter(F.col("op") != "D")
        .select(
            "user_id",
            F.col("event_id").alias("latest_event_id"),
            F.round("value", 2).alias("latest_value"),
        )
        .orderBy("user_id")
    )


@query(
    "qst2_stateful_sessions",
    oracle="""
WITH l AS (
  SELECT user_id, ts,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events)
SELECT user_id,
       CAST(count(*) FILTER (WHERE prev IS NULL
                             OR epoch(ts) - epoch(prev) > 1800) AS BIGINT)
         AS n_sessions
FROM l GROUP BY user_id ORDER BY user_id
""",
    doc="CUSTOM stateful sessionization at the hash tier: gap-based "
    "(30 min) per-user session counting through applyInPandasWithState "
    "— hand-rolled state (last epoch + counter), NOT the built-in "
    "session_window qs3c certifies — over sequential time-ordered "
    "replay (range-partitioned + within-sorted staging, one file per "
    "micro-batch). Counters are monotone, so max emission per user is "
    "the final state; hash-matched against the batch lag()-gap "
    "oracle. Distribution genuinely exercised: 47-83 sessions per "
    "user at sf0.01.",
    tags=("streaming", "hash-tier", "stateful", "session"),
)
def qst2_stateful_sessions(spark, sf_dir):
    from sora_spark.streaming import replay, stateful

    staged = replay.materialize_replay_dir(
        spark, sf_dir, "qst2", n_files=4, sorted_within=True
    )
    sink = replay.run_sequential_to_memory(
        spark, staged, stateful.gap_session_counts, "qst2_sink", "update"
    )
    return (
        sink.groupBy("user_id")
        .agg(F.max("n_sessions").alias("n_sessions"))
        .orderBy("user_id")
    )


@query(
    "qst3_liststate_rolling",
    oracle="""
WITH r AS (SELECT user_id, value,
                  row_number() OVER (PARTITION BY user_id
                                     ORDER BY ts DESC, event_id DESC) AS rn,
                  count(*) OVER (PARTITION BY user_id) AS n_seen
           FROM events)
SELECT user_id, CAST(any_value(n_seen) AS BIGINT) AS n_seen,
       round(sum(CASE WHEN rn <= 3 THEN value END), 2) AS sum_last3
FROM r GROUP BY user_id ORDER BY user_id
""",
    doc="qst3: per-user BOUNDED BUFFER state — the last 3 event "
    "values + a counter, through real sequential micro-batch replay "
    "to an update-mode memory sink; final state per user = emission "
    "with max (monotone) n_seen, hash-matched against the batch "
    "last-3-by-(ts,event_id) window twin. Backend follows the qst1 "
    "pattern: transformWithStateInPandas ListState (+ RocksDB "
    "provider) when the env has the protobuf worker, else the "
    "applyInPandasWithState state-tuple twin with identical "
    "semantics — bounded buffers are the rolling-feature shape "
    "scalar state can't express.",
    tags=("streaming", "hash-tier", "stateful", "liststate"),
)
def qst3_liststate_rolling(spark, sf_dir):
    import contextlib

    from sora_spark.streaming import replay, stateful

    staged = replay.materialize_replay_dir(
        spark, sf_dir, "qst3", n_files=4, sorted_within=True
    )
    # TWS needs the RocksDB provider AND the protobuf worker (the
    # qst1 pattern); otherwise the portable state-tuple twin runs —
    # identical semantics either way, same hash gate
    use_tws = stateful.has_tws_support()
    transform = (
        stateful.rolling_last_k_tws if use_tws else stateful.rolling_last_k
    )
    scope = (
        stateful.rocksdb_provider(spark)
        if use_tws
        else contextlib.nullcontext()
    )
    with scope:
        sink = replay.run_sequential_to_memory(
            spark,
            staged,
            transform,
            "qst3_sink",
            "update",
        )
    return (
        sink.groupBy("user_id")
        .agg(
            F.max("n_seen").alias("n_seen"),
            F.round(F.max_by("sum_lastk", "n_seen"), 2).alias("sum_last3"),
        )
        .orderBy("user_id")
    )


@query(
    "qs9_chained_window_aggs",
    oracle="""
WITH h AS (SELECT date_trunc('hour', ts) AS hr, count(*) AS n
           FROM events GROUP BY hr),
d AS (SELECT date_trunc('day', hr) AS day,
             count(*) AS n_hours, max(n) AS max_hourly,
             sum(n) AS n_events
      FROM h GROUP BY day)
SELECT strftime(day, '%Y-%m-%d') AS day,
       CAST(n_hours AS BIGINT) AS n_hours,
       CAST(max_hourly AS BIGINT) AS max_hourly,
       CAST(n_events AS BIGINT) AS n_events
FROM d ORDER BY day
""",
    doc="CHAINED stateful operators at the hash tier — the Spark-4 "
    "multiple-stateful-operators capability (SPARK-40925) executed "
    "for real: one streaming query runs a tumbling 1-HOUR windowed "
    "count and then a second stateful aggregation re-windowing those "
    "window rows into 1-DAY rollups (window-on-window-column), both "
    "stages holding watermark-managed state in the same query — the "
    "streaming twin of the qts2 time-hierarchy rollup, and the shape "
    "a 100 TB metrics pipeline needs to avoid landing the "
    "fine-grained tier just to re-aggregate it in batch. Events "
    "replay as 4 real parquet micro-batches; the far-future sentinel "
    "advances the watermark so BOTH stages flush through the append "
    "memory sink; sentinel rows are filtered by their 2030 window. "
    "Hash-matched against the two-level batch rollup oracle.",
    tags=("streaming", "hash-tier", "window", "chained"),
)
def qs9_chained_window_aggs(spark, sf_dir):
    from sora_spark.streaming import replay

    d = replay.stage_run_dir(spark, sf_dir, "qs9", n_files=4)
    ev = replay.events_stream(spark, d).withWatermark("ts", "40 days")
    hourly = ev.groupBy(F.window("ts", "1 hour").alias("w1")).agg(
        F.count("*").alias("n")
    )
    daily = hourly.groupBy(F.window(F.col("w1"), "1 day").alias("w2")).agg(
        F.count("*").alias("n_hours"),
        F.max("n").alias("max_hourly"),
        F.sum("n").alias("n_events"),
    )
    sink = replay.run_to_memory_flush(daily, "qs9_sink", d)
    return (
        sink.filter(F.year(F.col("w2.start")) < 2029)
        .select(
            F.date_format(F.col("w2.start"), "yyyy-MM-dd").alias("day"),
            F.col("n_hours").cast("bigint").alias("n_hours"),
            F.col("max_hourly").cast("bigint").alias("max_hourly"),
            F.col("n_events").cast("bigint").alias("n_events"),
        )
        .orderBy("day")
    )


@query(
    "qs10_join_then_window_gate",
    oracle="""
SELECT strftime(date_trunc('day', p.ts), '%Y-%m-%d') AS day,
       count(*) AS n_pairs,
       CAST(sum(v.event_id) AS BIGINT) AS sum_view_ids
FROM events p JOIN events v
  ON p.user_id = v.user_id
 AND v.ts <= p.ts
 AND v.ts >  p.ts - INTERVAL 1 HOUR
WHERE p.event_type = 'purchase' AND v.event_type = 'view'
GROUP BY day ORDER BY day
""",
    doc="CHAINED join→aggregation at the hash tier — the second "
    "multiple-stateful-operators shape (SPARK-40925) after qs9's "
    "window-on-window: ONE streaming query runs the qs5b interval "
    "stream-stream join and then a tumbling 1-DAY windowed "
    "aggregation over the JOINED rows (attribution rollup: matched "
    "view→purchase pairs per purchase day), both operators holding "
    "watermark-managed state. sum(view_id) — exact integer — gates "
    "that the aggregated rows are the real join output, not just the "
    "right count. Two far-future sentinel view+purchase pairs (the "
    "qs5c trick) survive both event_type filters, advance the "
    "watermark, and flush the daily append-mode windows; sentinel "
    "rows land in a 2030 window and are filtered by year. At 100 TB "
    "this is the pipeline that replaces a landed-join-table + batch "
    "rollup with one incremental query.",
    tags=("streaming", "hash-tier", "join", "chained"),
)
def qs10_join_then_window_gate(spark, sf_dir):
    from sora_spark.streaming import replay

    d = replay.stage_run_dir(spark, sf_dir, "qs10")
    replay.append_flush_sentinel_pairs(spark, d)

    ev = replay.events_stream(spark, d)
    views = (
        ev.filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", "40 days")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "40 days")
    )
    joined = purchases.join(
        views,
        (F.col("p_user") == F.col("v_user"))
        & (F.col("v_ts") <= F.col("p_ts"))
        & (F.col("v_ts") > F.col("p_ts") - F.expr("INTERVAL 1 HOUR")),
        "inner",
    )
    daily = joined.groupBy(F.window("p_ts", "1 day").alias("w")).agg(
        F.count("*").alias("n_pairs"),
        F.sum("view_id").alias("sum_view_ids"),
    )
    sink = replay.run_to_memory(daily, "qs10_sink", "append")
    return (
        sink.filter(F.year(F.col("w.start")) < 2029)
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd").alias("day"),
            F.col("n_pairs").cast("bigint").alias("n_pairs"),
            F.col("sum_view_ids").cast("bigint").alias("sum_view_ids"),
        )
        .orderBy("day")
    )


@query(
    "qs5d_stream_stream_full_outer_sink",
    oracle="""
SELECT coalesce(p.user_id, v.user_id) AS user_id,
       p.event_id AS purchase_id, v.event_id AS view_id
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
FULL JOIN (SELECT * FROM events WHERE event_type = 'view') v
  ON p.user_id = v.user_id
 AND v.ts <= p.ts
 AND v.ts >  p.ts - INTERVAL 1 HOUR
ORDER BY 1, 2, 3
""",
    doc="FULL-OUTER stream-stream join at the hash tier — completes "
    "the qs5b/qs5c family with the hardest eviction semantics: "
    "matched pairs emit eagerly; unmatched PURCHASES null-fill when "
    "the watermark passes their range (the qs5c case); unmatched "
    "VIEWS null-fill only when the watermark passes v_ts + 1h, i.e. "
    "the view side's state outlives its own event time by the join "
    "interval — an eviction bound the left-outer gate never "
    "exercises. Same two-sentinel advance (view+purchase pairs "
    "surviving both filters); the full result including BOTH NULL "
    "directions hash-matches the batch FULL JOIN oracle.",
    tags=("streaming", "hash-tier", "join"),
)
def qs5d_stream_stream_full_outer_sink(spark, sf_dir):
    from sora_spark.streaming import replay
    from sora_spark.streaming.stateful import purchases_after_views_full

    d = replay.stage_run_dir(spark, sf_dir, "qs5d")
    replay.append_flush_sentinel_pairs(spark, d)
    got = replay.run_to_memory(
        purchases_after_views_full(replay.events_stream(spark, d)),
        "qs5d_sink",
        "append",
    )
    return got.filter(F.col("user_id") != replay.SENTINEL_USER).orderBy(
        "user_id", "purchase_id", "view_id"
    )


@query(
    "qs5e_stream_stream_semi_sink",
    oracle="""
SELECT p.user_id, p.event_id AS purchase_id
FROM events p
WHERE p.event_type = 'purchase'
  AND EXISTS (SELECT 1 FROM events v
              WHERE v.event_type = 'view'
                AND v.user_id = p.user_id
                AND v.ts <= p.ts
                AND v.ts >  p.ts - INTERVAL 1 HOUR)
ORDER BY 1, 2
""",
    doc="LEFT SEMI stream-stream join at the hash tier — completes "
    "the qs5/qs5c/qs5d join-mode matrix with the streaming EXISTS: "
    "each purchase with >= 1 same-user view in the preceding hour "
    "emits EXACTLY ONCE, with no view columns and no match "
    "multiplicity (inner + downstream distinct would need unbounded "
    "output-dedup state; semi's emit-on-first-match is the bounded "
    "form). Same sentinel protocol as the outer gates (harmless "
    "here — semi emits eagerly like inner); hash-matched against "
    "the batch EXISTS oracle.",
    tags=("streaming", "hash-tier", "join"),
)
def qs5e_stream_stream_semi_sink(spark, sf_dir):
    from sora_spark.streaming import replay
    from sora_spark.streaming.stateful import purchases_after_views_semi

    d = replay.stage_run_dir(spark, sf_dir, "qs5e")
    replay.append_flush_sentinel_pairs(spark, d)
    got = replay.run_to_memory(
        purchases_after_views_semi(replay.events_stream(spark, d)),
        "qs5e_sink",
        "append",
    )
    return got.filter(F.col("user_id") != replay.SENTINEL_USER).orderBy(
        "user_id", "purchase_id"
    )


@query(
    "qs11_parquet_file_sink",
    oracle="""
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS hour,
       event_type, count(*) AS n, round(sum(value), 2) AS sum_value
FROM events GROUP BY 1, 2 ORDER BY 1, 2
""",
    doc="Streaming PARQUET FILE sink at the hash tier — the one sink "
    "path the qs*b memory-sink gates never execute: hourly windowed "
    "counts written by the real file sink with its _spark_metadata "
    "commit log (exactly-once file visibility — readers see only "
    "committed files, half-written parts are invisible by "
    "construction), then READ BACK from disk and hash-matched "
    "against the batch oracle. Sentinel advances the watermark so "
    "append-mode windows flush to files; the sentinel's own 2030 "
    "window can never flush, so it stays out of the sink. At 100 TB "
    "this is the landing path for every streaming pipeline that "
    "feeds batch consumers — the commit-log contract is what makes "
    "downstream reads safe while the stream is live.",
    tags=("streaming", "hash-tier", "sink", "parquet"),
)
def qs11_parquet_file_sink(spark, sf_dir):
    from sora_spark.streaming import replay

    # fresh scratch copy — append_sentinel below must never pollute
    # the reused keyed staging dir (review finding, the qs5c lesson)
    d = replay.stage_run_dir(spark, sf_dir, "qs11")
    out = fresh_dir("qs11-out")
    ckpt = fresh_dir("qs11-ckpt")
    ev = replay.events_stream(spark, d).withWatermark("ts", "40 days")
    hourly = ev.groupBy(
        F.window("ts", "1 hour").alias("w"), "event_type"
    ).agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
    q = (
        hourly.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        replay.append_sentinel(spark, d)
        q.processAllAvailable()
    finally:
        q.stop()
    back = spark.read.parquet(out)
    return (
        back.select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:00:00").alias(
                "hour"
            ),
            "event_type",
            F.col("n").cast("bigint").alias("n"),
            "sum_value",
        )
        .orderBy("hour", "event_type")
    )


@query(
    "qs12_dedup_within_watermark_sink",
    oracle="""
WITH r AS (
  SELECT user_id, event_type, value,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) AS rn
  FROM events)
SELECT count(*) AS n_first, round(sum(value), 2) AS sum_value
FROM r WHERE rn = 1
""",
    doc="dropDuplicatesWithinWatermark EXECUTION gate (Spark 3.5+, "
    "SPARK-42931): the BOUNDED-STATE dedup - per-key state is "
    "dropped once the watermark passes first-seen ts + delay, which "
    "is the only dedup an infinite stream can afford (qs4b's plain "
    "dropDuplicates holds every key forever; at 100 TB/day of "
    "events that state never stops growing). Replay: 4 "
    "range-partitioned within-sorted files, one per micro-batch, so "
    "first arrival == first by (ts, event_id) and the kept rows' "
    "VALUES face the hash gate against the batch first-per-key "
    "oracle. The delay (31 days) covers the replay span, so the "
    "bounded form must EQUAL the unbounded one - the equality is "
    "the gate; the state-expiry path at short delay is pinned by "
    "tests/test_streaming.py's within-watermark unit.",
    tags=("streaming", "hash-tier", "dedup", "bounded-state"),
)
def qs12_dedup_within_watermark_sink(spark, sf_dir):
    from sora_spark.streaming import ops, replay

    staged = replay.materialize_replay_dir(
        spark, sf_dir, "qs12", n_files=4, sorted_within=True
    )
    kept = replay.run_sequential_to_memory(
        spark, staged, ops.stream_dedup_within_watermark, "qs12_sink",
        "append",
    )
    return kept.agg(
        F.count("*").alias("n_first"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


@query(
    "qs13_dynamic_gap_sessions",
    oracle="""
WITH d AS (
  SELECT user_id, ts, event_id,
         600 * (1 + user_id % 3) AS gap_s
  FROM events),
m AS (
  SELECT *, max(ts + to_seconds(gap_s)) OVER
        (PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
  FROM d),
s AS (
  SELECT *, sum(CASE WHEN prev_end IS NULL OR ts >= prev_end
                     THEN 1 ELSE 0 END) OVER
        (PARTITION BY user_id ORDER BY ts, event_id) AS sess_id
  FROM m),
ps AS (
  SELECT user_id, sess_id, count(*) AS n_events,
         max(ts + to_seconds(gap_s)) AS sess_end
  FROM s GROUP BY user_id, sess_id)
SELECT strftime(date_trunc('day', sess_end - INTERVAL 1 microsecond),
                '%Y-%m-%d') AS day,
       CAST(count(*) AS BIGINT) AS n_sessions,
       CAST(sum(n_events) AS BIGINT) AS n_events,
       CAST(max(n_events) AS BIGINT) AS max_session_events
FROM ps GROUP BY day ORDER BY day
""",
    doc="DYNAMIC-gap session windows + chained stateful rollup at the "
    "hash tier (VERDICT r08 item 8): F.session_window with a per-ROW "
    "gap COLUMN (a string interval expression '600|1200|1800 seconds' "
    "derived from user_id), executed through the REAL micro-batch "
    "path (4 parquet files, one per trigger), then a SECOND stateful "
    "aggregation in the same query re-windowing the emitted sessions "
    "into 1-day rollups via F.window(F.window_time(session_window)) — "
    "the SPARK-40925 chained-stateful shape composed with session "
    "MERGE state. The per-user-constant gap keeps the oracle exact: "
    "merged session end = last_ts + gap, and sessionization is the "
    "classic running-max boundary scan (ts >= max of all prior "
    "ts+gap within the user — a prior session's end can never exceed "
    "a later boundary event's ts, so the plain running max is the "
    "correct merge bound). Day bucket uses end - 1 microsecond, "
    "matching window_time()'s inclusive event-time convention. "
    "Sentinel rows flush both state stages and land in 2030 windows, "
    "filtered by year. At 100 TB the gap column costs nothing (a "
    "map-side expression); state scales with open sessions per key, "
    "same as fixed-gap qs3c.",
    tags=("streaming", "hash-tier", "session", "chained", "dynamic-gap"),
)
def qs13_dynamic_gap_sessions(spark, sf_dir):
    from sora_spark.streaming import replay

    d = replay.stage_run_dir(spark, sf_dir, "qs13", n_files=4)
    ev = replay.events_stream(spark, d).withWatermark("ts", "40 days")
    gap = F.concat(
        (F.lit(600) * (F.lit(1) + F.pmod("user_id", F.lit(3))))
        .cast("string"),
        F.lit(" seconds"),
    )
    sess = ev.groupBy(F.session_window("ts", gap), "user_id").agg(
        F.count("*").alias("n_events")
    )
    daily = sess.groupBy(
        F.window(F.window_time("session_window"), "1 day").alias("w2")
    ).agg(
        F.count("*").alias("n_sessions"),
        F.sum("n_events").alias("n_events"),
        F.max("n_events").alias("max_session_events"),
    )
    sink = replay.run_to_memory_flush(daily, "qs13_sink", d)
    return (
        sink.filter(F.year(F.col("w2.start")) < 2029)
        .select(
            F.date_format(F.col("w2.start"), "yyyy-MM-dd").alias("day"),
            F.col("n_sessions").cast("bigint").alias("n_sessions"),
            F.col("n_events").cast("bigint").alias("n_events"),
            F.col("max_session_events")
            .cast("bigint")
            .alias("max_session_events"),
        )
        .orderBy("day")
    )
