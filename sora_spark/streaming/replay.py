"""Replay the events fixture as a file stream.

The nanos-timestamp normalization happens once at materialization
(batch read through sources.parquet), so the streaming scan sees plain
microsecond timestamps — streaming readers never need the legacy conf.
`n_files` + `maxFilesPerTrigger=1` turns the replay into that many
micro-batches; `shuffled=True` hash-scatters rows across files to
simulate out-of-order arrival for watermark tests.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sora_spark.scratch import fresh_dir, scratch_dir
from sora_spark.sources.parquet import read_table

# Far-future flush event: appending it to a replay dir advances the
# watermark past all real data, so append-mode state (sessions) emits.
SENTINEL_USER = -999


def materialize_replay_dir(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    n_files: int = 4,
    shuffled: bool = False,
    sorted_within: bool = False,
) -> str:
    """Write the normalized events table into `n_files` parquet files
    (time-ranged when ordered, md5-scattered when shuffled).

    The dir is keyed by (name, source sf, layout, fixture content
    stamp) and reused when it already holds a completed write, so
    repeated invocations in one process skip the rewrite. The content
    stamp (source mtime+size) means a regenerated fixture never replays
    stale data; an unknowable stamp is random, so the dir is rewritten.
    """
    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    layout = f"shuf{n_files}" if shuffled else f"ord{n_files}"
    if sorted_within:
        layout += "srt"
    src = os.path.join(sf_dir, "events.parquet")
    try:
        st = os.stat(src)
        stamp = f"{st.st_mtime_ns:x}.{st.st_size:x}"
    except OSError:
        stamp = f"nosrc{os.urandom(4).hex()}"
    path = scratch_dir(f"{name}-{sf_tag}-{layout}-{stamp}")
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    ev = read_table(spark, sf_dir, "events")
    if shuffled:
        part = ev.repartition(n_files, F.md5(F.col("event_id").cast("string")))
    else:
        part = ev.repartitionByRange(n_files, "ts")
        if sorted_within:
            # within-file (ts, event_id) order: combined with range
            # partitioning on ts this makes ARRIVAL order equal event-
            # time order, which first-arrival operators (streaming
            # dropDuplicates) need for a deterministic kept row
            part = part.sortWithinPartitions("ts", "event_id")
    part.write.mode("overwrite").parquet(path)
    return path


def events_stream(spark: SparkSession, replay_dir: str) -> DataFrame:
    """File-source stream over a materialized replay dir, one file per
    micro-batch."""
    schema = (
        "event_id bigint, ts timestamp, user_id bigint, "
        "event_type string, value double, props string"
    )
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(replay_dir)
    )


def append_sentinel(spark: SparkSession, replay_dir: str) -> None:
    """Append one far-future event (SENTINEL_USER, year 2030): the next
    micro-batch advances the watermark past all real data, flushing
    append-mode state. The sentinel's own state can never flush (the
    watermark cannot pass its end), so it does not appear in the sink —
    callers filter on SENTINEL_USER anyway, defensively."""
    spark.createDataFrame(
        [(10**9, "2030-01-01 00:00:00", SENTINEL_USER, "flush", 0.0, "{}")],
        "event_id bigint, ts string, user_id bigint, event_type string, "
        "value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp")).write.mode(
        "append"
    ).parquet(replay_dir)


def stage_run_dir(
    spark: SparkSession, sf_dir: str, key: str, n_files: int = 4
) -> str:
    """Fresh per-invocation COPY of the keyed staging dir: queries that
    append sentinels must never write into the reused staging dir
    itself (a rerun would replay stale sentinels — the qs5c lesson).
    Copy order preserves name order; appended files get later mtimes,
    so the 1-file-per-trigger source replays sentinels last."""
    staged = materialize_replay_dir(spark, sf_dir, key, n_files=n_files)
    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    d = fresh_dir(f"{key}-run-{sf_tag}")
    for f in os.listdir(staged):
        if f.startswith("part-") and f.endswith(".parquet"):
            shutil.copy(os.path.join(staged, f), os.path.join(d, f))
    return d


def append_flush_sentinel_pairs(spark: SparkSession, run_dir: str) -> None:
    """Two far-future view+purchase sentinel PAIRS (2030-01-01 and -02,
    one file each): they survive event_type in ('view','purchase')
    filters on both sides of a join, and the second file gives the
    watermark advanced by the first a micro-batch in which to flush
    held state. Sentinel rows carry SENTINEL_USER and land in 2030
    windows — callers filter by either."""
    before = set(os.listdir(run_dir))
    base = max(
        (os.stat(os.path.join(run_dir, f)).st_mtime for f in before),
        default=0.0,
    )
    for i, far_ts in enumerate(["2030-01-01 00:00:00", "2030-01-02 00:00:00"]):
        spark.createDataFrame(
            [
                (10**9 + 2 * i, far_ts, SENTINEL_USER, "view", 0.0, "{}"),
                (10**9 + 2 * i + 1, far_ts, SENTINEL_USER, "purchase", 0.0, "{}"),
            ],
            "event_id bigint, ts string, user_id bigint, event_type string, "
            "value double, props string",
        ).withColumn("ts", F.col("ts").cast("timestamp")).coalesce(
            1
        ).write.mode("append").parquet(run_dir)
        # EXPLICIT mtime ordering: a sentinel written in the same
        # filesystem-timestamp tick as the part copies can TIE and be
        # replayed FIRST, jumping the watermark past the real events
        # (seen as qs7 and qs5d flakes). Force every sentinel strictly
        # after the data files, and the second strictly after the
        # first.
        for f in set(os.listdir(run_dir)) - before:
            path = os.path.join(run_dir, f)
            os.utime(path, (base + 10.0 + i, base + 10.0 + i))
            before.add(f)


def run_to_memory_flush(
    stream_df: DataFrame, name: str, replay_dir: str
) -> DataFrame:
    """Drain an APPEND-mode streaming frame into a memory sink, then
    append the watermark-advancing sentinel and drain again so
    watermark-held state (session windows) emits. Returns the final
    table; rows produced by the sentinel itself are the caller's to
    filter (SENTINEL_USER)."""
    spark = stream_df.sparkSession
    spark.catalog.dropTempView(name)
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        append_sentinel(spark, replay_dir)
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


def _replay_sequential(spark: SparkSession, staged_dir: str, start_query):
    """Core of sequential replay: copy the staged part files into a
    fresh watched dir ONE AT A TIME in name order, draining the
    query between copies, so batch N is exactly part-file N — no
    reliance on the file source's mtime tie-breaking. Without this, a
    4-file dir written in one commit has tied mtimes and the source
    may pick a LATE file first, jumping the watermark past the older
    files' events (they would then be dropped as late). The watched
    dir is emptied per call: replays in one process run one at a time.
    `start_query(stream_df)` starts and returns the StreamingQuery."""
    seq_dir = fresh_dir("replay-seq")
    q = start_query(events_stream(spark, seq_dir))
    try:
        parts = sorted(
            f
            for f in os.listdir(staged_dir)
            if f.startswith("part-") and f.endswith(".parquet")
        )
        for i, part in enumerate(parts):
            shutil.copy(
                os.path.join(staged_dir, part),
                os.path.join(seq_dir, f"seq-{i:05d}.parquet"),
            )
            q.processAllAvailable()
    finally:
        q.stop()


def run_sequential_to_memory(
    spark: SparkSession,
    staged_dir: str,
    transform,
    name: str,
    output_mode: str,
) -> DataFrame:
    """Sequential replay (`_replay_sequential`) drained into a memory
    sink. Arrival order == event-time order when the staging is
    range-partitioned (+ within-sorted for first-arrival operators
    like streaming dedup). `transform` maps the raw events stream to
    the streaming frame to sink."""
    spark.catalog.dropTempView(name)
    _replay_sequential(
        spark,
        staged_dir,
        lambda s: (
            transform(s)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .start()
        ),
    )
    return spark.table(name)


def run_sequential_foreach_batch(
    spark: SparkSession,
    staged_dir: str,
    transform,
    sink_fn,
    output_mode: str = "update",
) -> None:
    """Sequential replay through a foreachBatch sink — the consumer
    shape update-mode queries need (per-key overwrite), with the same
    deterministic time-ordered arrival as the memory-sink variant."""
    _replay_sequential(
        spark,
        staged_dir,
        lambda s: (
            transform(s)
            .writeStream.outputMode(output_mode)
            .foreachBatch(sink_fn)
            .start()
        ),
    )


def run_to_memory(stream_df: DataFrame, name: str, output_mode: str) -> DataFrame:
    """Drain a streaming frame into a memory sink and return the final
    table (blocks until all available input is processed).

    Memory-sink tables are session-global; a fixed `name` is dropped
    before restart so repeated invocations replace rather than leak
    catalog entries + driver memory."""
    spark = stream_df.sparkSession
    spark.catalog.dropTempView(name)
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)
