"""Shared operator helpers."""

from __future__ import annotations

from pyspark.sql import DataFrame


def suffix_columns(df: DataFrame, suffix: str) -> DataFrame:
    """Rename every column with `suffix`, refusing collisions (a frame
    already containing both 'a' and 'a<suffix>' would double-rename
    into ambiguity)."""
    existing = set(df.columns)
    for c in df.columns:
        if c + suffix in existing:
            raise ValueError(
                f"suffix_columns: renaming {c!r} to {c + suffix!r} collides"
                " with an existing column — drop or rename it first"
            )
    out = df
    for c in df.columns:
        out = out.withColumnRenamed(c, c + suffix)
    return out


def floor_partitions(df: DataFrame) -> DataFrame:
    """`df` round-robin repartitioned to `defaultParallelism` when it has
    fewer partitions, else `df` itself (no exchange). For CPU-bound,
    map-side work over a frame that moves few bytes (an index scan
    scored per pair, an edge set probed per edge): without the floor a
    small input runs as one task on an otherwise idle host. Reading the
    partition count plans `df`; on a frame whose plan holds a shuffle,
    adaptive execution runs that shuffle to learn it, so pass a scan or
    a checkpoint."""
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par)
    return df
