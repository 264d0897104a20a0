"""SparkSession construction and tuning profiles.

Scale posture (100 TB target — SURVEY.md §4.2):

- **AQE everywhere.** Runtime partition coalescing, skew-join
  splitting and dynamic broadcast selection replace hand-tuned shuffle
  partition counts; the same code runs at sf0.001 and at 100 TB.
- **shuffle.partitions is a ceiling, not a plan.** AQE coalesces small
  shuffles down; `advisoryPartitionSizeInBytes` keeps post-shuffle
  partitions near 64 MB so they fit executor memory at any input size.
- **UTC session timezone.** Timestamp semantics must be
  machine-independent; the DuckDB oracle compares naive-UTC instants.
- **nanosAsLong.** The `events` fixture stores parquet
  TIMESTAMP(NANOS) which stock Spark refuses to read (SURVEY §1.4);
  with this conf the column arrives as long nanos and
  `sources.parquet.normalize_events` truncates it to microseconds,
  matching DuckDB's native truncation.

`build_session` creates a session we own (tests, bench); `prepare_session`
applies the runtime-settable subset to a session someone else built
(the verify driver's), so `queries()` callables behave identically there.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from sora_spark import scratch

# Confs that can be set on a live session. Applied both at build time
# and defensively by the sources layer (the driver owns its session).
RUNTIME_CONF: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for any pandas-UDF exchange (SURVEY §2.12); harmless otherwise.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}

# Confs that only matter at session build time.
# shuffle.partitions is a CEILING for AQE to coalesce under (module
# docstring): default 32 locally (bench-comparable across rounds and
# across the driver's core-count sweep — AQE coalesces the small end
# regardless of SPARK_GRAFT_CPUS), overridable per deployment via
# SORA_SHUFFLE_PARTITIONS; at cluster scale set it near
# input_bytes / advisoryPartitionSizeInBytes (SCALE.md "Session
# posture").
BUILD_CONF: dict[str, str] = {
    "spark.ui.enabled": "false",
    "spark.sql.shuffle.partitions": os.environ.get(
        "SORA_SHUFFLE_PARTITIONS", "32"
    ),
    "spark.driver.memory": os.environ.get("SORA_DRIVER_MEMORY", "8g"),
    # reference-tracked deletion of RELIABLE checkpoint files (the
    # Graph(reliable_checkpoint_dir=...) mode): without it Spark keeps
    # every per-round checkpoint forever and a 40-round fixpoint
    # retains ~rounds x dataset bytes in the checkpoint dir. Read at
    # ContextCleaner construction — must be a build-time conf;
    # sessions built elsewhere need it too (documented on Graph).
    "spark.cleaner.referenceTracking.cleanCheckpoints": "true",
}

# Cluster profile (100 TB posture): apply on top of BUILD_CONF when
# deploying to a real cluster. NOT defaulted locally — the 64 MB
# advisory coalesces benchmark-scale shuffles to one partition, which
# serializes stages (measured ~1.2-1.5x slower at sf0.1); at cluster
# data volumes it is what keeps post-shuffle partitions memory-sized.
CLUSTER_CONF: dict[str, str] = {
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64m",
    "spark.sql.files.maxPartitionBytes": "128m",
    "spark.sql.cbo.enabled": "true",
    # measured at sf0.1 (SCALE.md): zstd is ~20% smaller AND faster to
    # write than the snappy default — tens of TB at the 100 TB target
    "spark.sql.parquet.compression.codec": "zstd",
    # RocksDB-backed streaming state for session windows at scale
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    ),
}


def prepare_session(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to a session we did not build (idempotent)."""
    for k, v in RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Static conf on this build — leave whatever the owner chose.
            pass
    return spark


def build_session(
    app_name: str = "sora-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build a tuned local session. `master` defaults to local[*]. The
    catalog's warehouse (every database directory, `sora_stats.db`
    included) is this process's scratch directory, not `spark-warehouse/`
    under the working directory; `extra_conf` may point it elsewhere."""
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    b = SparkSession.builder.appName(app_name).master(master)
    warehouse = {"spark.sql.warehouse.dir": scratch.scratch_dir("warehouse")}
    for k, v in {**BUILD_CONF, **RUNTIME_CONF, **warehouse}.items():
        b = b.config(k, v)
    if shuffle_partitions is not None:
        b = b.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    return prepare_session(spark)
