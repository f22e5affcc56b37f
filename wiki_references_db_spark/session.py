"""SparkSession factory with scale-aware defaults.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]``; production is a large
multi-executor cluster.  All sizing knobs are configs (not code paths), so
the same plans run at both scales:

- AQE on (runtime partition coalescing + skew-join splitting) — replaces
  the reference's hand-tuned partition counts and memory backpressure
  (reference:dedup_staged.py:398-409,496-505).
- shuffle.partitions default kept moderate locally; AQE coalesces down and
  a real cluster overrides via spark-submit conf.
- ZSTD parquet compression, matching the reference's staging choice
  (reference:build_db.py:146).
- A generated-code cache sized to the engine's working set, so a session
  compiles each whole-stage/expression class once and reuses it.  Spark's
  default (100 entries) is smaller than one pass of four registered
  queries (128 classes), and its segmented LRU evicts well before it is
  full, so every repeated query recompiled most of its classes through
  Janino.  4096 entries hold the widest measured working set, the 69
  headline queries of ``bench.py`` (about 1,540 classes), with room to
  spare.  In a long-running server the cache also bounds how many one-off
  classes it keeps: a request whose plan carries int/long literals (a
  ``page_id`` or ``revision_id`` route) compiles new classes, while the
  string-keyed card routes reuse theirs.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULTS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.compression.codec": "zstd",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Timestamps in testdata are timezone-naive; pin session TZ to UTC so
    # results are environment-independent (and match the DuckDB oracle).
    "spark.sql.session.timeZone": "UTC",
    # events.parquet uses TIMESTAMP(NANOS); Spark 4 reads it only as long.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    # A static conf: it takes effect only when set before the session starts.
    "spark.sql.codegen.cache.maxEntries": "4096",
}


def get_spark(
    app_name: str = "wiki-references-db-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults."""
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))

    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_DEFAULTS)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
