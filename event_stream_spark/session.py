"""SparkSession factory with scale-oriented defaults.

Local testing runs on ``local[N]`` but every setting is chosen to also be the
right call on a 1000-executor cluster:

- AQE on: runtime coalescing of small shuffle partitions, skew-join splitting,
  and dynamic join-strategy switching replace all of the reference's hand-tuned
  chunk/concurrency constants (EventStream.kt:66-73, MetadataStream.kt:34-46).
- Arrow enabled for the (few) Pandas-UDF paths.
- ``spark.sql.shuffle.partitions`` equals the session's cores, like
  ``spark.default.parallelism``.  AQE can only coalesce a batch query's
  shuffle partitions, so the count caps them at the cores; on the small
  lakes measured so far AQE coalesced to the same task counts either way.
  A streaming query's stateful operators are not coalesced: the live tail's
  ``dropDuplicates("height")`` keeps one state-store partition per shuffle
  partition, and each runs one task per trigger that commits a checkpointed
  delta file whether or not it got a row.  More partitions than cores only
  adds waves of such tasks.  The count a query starts with is recorded in
  its checkpoint, so a restarted query keeps it whatever the session says.

A second ``get_spark`` call in a process that already runs a session returns
that session as it is: ``getOrCreate`` would rewrite its SQL confs (the shuffle
partitions among them) with the new call's defaults.
"""

from __future__ import annotations

import os

from pyspark.errors import PySparkRuntimeError
from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "event-stream-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build the session, or return the running one unchanged.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` or all cores.
    ``shuffle_partitions`` defaults to ``cpus``: each state-store partition
    of a streaming query is one task per trigger that loads, commits and
    checksums a delta file in the checkpoint, so one per core runs them all
    in a single wave.
    """
    try:
        return SparkSession.active()  # this thread's session, else the default
    except PySparkRuntimeError:
        pass  # none running
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # 128 MiB input splits: the right granularity for TB-scale parquet scans.
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # naive parquet timestamps land as TIMESTAMP (LTZ) with UTC session
        # tz — epoch-verbatim, matching DuckDB's epoch_us read of the same
        # files; see queries.t() which pins the same pair for foreign sessions
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        # write timestamps as INT64 micros, not legacy INT96: INT96 columns
        # carry NO parquet min/max footer statistics, silently defeating
        # row-group/file pruning on every time predicate over our own lakes
        # (eventlake daily files, zorder layout). INT64 micros also round-
        # trips bit-exactly with DuckDB's epoch_us view of the same files.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "12g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.streaming.schemaInference", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
