"""Incremental ingest of new revision bundles via Structured Streaming.

The reference gets incremental processing from per-shard marker files
(STARTED/DONE, reference:build_all.py:75-89,119-123) and resumable phase
markers (reference:dedup_staged.py:98-136).  Structured Streaming's file
source + checkpointing supplies the same exactly-once-per-file contract
natively (SURVEY §2.11): a bundle is processed exactly once across
restarts, with no marker-file bookkeeping.

``stream_revision_bundles`` is the streaming twin of
``sources.mwrev.read_mwrev_bundles``: the same ``binaryFile`` scan and
the same ``parse_bundle_batches`` parser, over a file stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from wiki_references_db_spark.plans.dedup_tables import dedup_staging
from wiki_references_db_spark.plans.sink import write_tables
from wiki_references_db_spark.plans.stage import stage_revisions
from wiki_references_db_spark.schemas import RAW_REVISION
from wiki_references_db_spark.sources.mwrev import parse_bundle_batches


def stream_revision_bundles(
    spark: SparkSession, bundles_dir: str, max_files_per_trigger: int = 8
) -> DataFrame:
    """Streaming DataFrame of raw revisions from a watched bundle dir.
    One file = one parse unit (the line protocol is stateful per file)."""
    binary = (
        spark.readStream.format("binaryFile")
        .schema(
            "path string, modificationTime timestamp, length long, content binary"
        )
        .option("pathGlobFilter", "*.mwrev.zst")
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .load(bundles_dir)
        .select("path", "content")
    )
    return binary.mapInPandas(parse_bundle_batches, RAW_REVISION)


def ingest_available_bundles(
    spark: SparkSession,
    bundles_dir: str,
    staging_dir: str,
    checkpoint_dir: str,
    domain: str = "en.wikipedia.org",
) -> None:
    """Process all currently-available unprocessed bundles into the
    staging layer (append), then stop — the Trigger.AvailableNow form of
    the reference's build_all.py batch driver.  Re-running picks up only
    NEW bundles (checkpointed file ledger)."""
    raw = stream_revision_bundles(spark, bundles_dir)

    def append(name: str, df: DataFrame) -> None:
        df.write.mode("append").option("compression", "zstd").parquet(
            f"{staging_dir}/{name}"
        )

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        write_tables(stage_revisions(batch_df, domain=domain), append)

    (
        raw.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def compact_staging(
    spark: SparkSession, staging_dir: str, deduped_dir: str
) -> None:
    """Phase-1.5 over the accumulated incremental staging output: global
    dedup into the consolidated layer (idempotent, overwrite)."""
    from wiki_references_db_spark.plans.stage import read_staging

    def overwrite(name: str, df: DataFrame) -> None:
        df.write.mode("overwrite").option("compression", "zstd").parquet(
            f"{deduped_dir}/{name}"
        )

    write_tables(dedup_staging(read_staging(spark, staging_dir)), overwrite)
