"""Structured Streaming ingestion — the reference's blob-trigger
micro-batching (SURVEY.md §2.5: one blob landing = one trigger
invocation = one batch, /root/reference/function_app.py:119-123)
re-expressed as file-source streams with ``foreachBatch``.

Two paths with different scale postures:

``stream_ingest_files`` — **parity path**.  ``text`` source with
  ``wholetext`` gives one row per landed file; each file runs the full
  ledgered pipeline independently (own batch GUID, own ProcessFile row,
  header-set flexibility via the pandas parse) — exactly the
  reference's per-blob semantics.  Exactly-once = source checkpoint
  (a file is never re-delivered) + ledger skip (defense in depth, and
  audit parity).  Driver-side per-file loop: correct for the
  reference's workload (one provider price list per file); not the
  100 TB path.

``stream_ingest_directory`` — **scale path**.  Declared-schema
  ``csv`` streaming source over the landing directory; one micro-batch
  may carry MANY files and becomes ONE batch GUID / ONE merge —
  merges amortize across files, transforms stay fully distributed
  (no driver materialization), and ``maxFilesPerTrigger`` shapes
  micro-batch size.  Requires the standard header (the §3.4 gate's
  required set); per-file provenance is kept via ``_metadata.file_path``
  into the ledger.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from .. import ledger
from ..merge.warehouse import Warehouse
from ..sources.orchestrator import ProcessingResult, process_csv_file, run_pipeline

# Declared schema for the scale path: the §3.4 required header set
# (/root/reference/core/etl_orchestrator.py:423-439), all-string
# (schema-on-read; casts happen in the transform chain).
STANDARD_CSV_SCHEMA = StructType(
    [
        StructField("Producto", StringType()),
        StructField("Fecha", StringType()),
        StructField("Provedor", StringType()),
        StructField("Precio", StringType()),
        StructField("IVA", StringType()),
    ]
)


@dataclass
class StreamIngestStats:
    """Accumulated results across the micro-batches of one run."""

    results: list[ProcessingResult] = field(default_factory=list)
    batches: int = 0

    @property
    def files_processed(self) -> int:
        return sum(1 for r in self.results if r.success and not r.skipped)

    @property
    def rows_processed(self) -> int:
        return sum(r.rows_processed for r in self.results)


def stream_ingest_files(
    spark: SparkSession,
    wh: Warehouse,
    input_dir: str,
    checkpoint_dir: str,
    container: str = "products-stream",
    mode: str = "exact",
) -> StreamIngestStats:
    """Per-file parity ingest: run until no files remain (AvailableNow),
    each landed file processed as its own ledgered batch."""
    stats = StreamIngestStats()

    files = (
        spark.readStream.format("text")
        .option("wholetext", "true")
        .load(input_dir)
        .select(
            F.col("value").alias("csv_text"),
            F.col("_metadata.file_path").alias("file_path"),
        )
    )

    def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
        stats.batches += 1
        # one row per file; collect is bounded by files-per-trigger
        for row in batch_df.collect():
            name = row["file_path"].rsplit("/", 1)[-1]
            stats.results.append(
                process_csv_file(
                    spark, wh, container, name, csv_text=row["csv_text"], mode=mode
                )
            )

    from ..session import stream_batch_confs

    with stream_batch_confs(spark, input_dir):
        (
            files.writeStream.foreachBatch(handle_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
    return stats


def stream_ingest_directory(
    spark: SparkSession,
    wh: Warehouse,
    input_dir: str,
    checkpoint_dir: str,
    container: str = "products-stream",
    mode: str = "exact",
    max_files_per_trigger: int | None = None,
) -> StreamIngestStats:
    """Scale-path ingest: one micro-batch (N files) = one batch GUID =
    one run of the ingest chain (sources.orchestrator.run_pipeline);
    transforms never leave the executors."""
    stats = StreamIngestStats()

    reader = (
        spark.readStream.schema(STANDARD_CSV_SCHEMA)
        .option("header", "true")
        .option("mode", "PERMISSIVE")
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    raw = reader.csv(input_dir).withColumn("_file_path", F.col("_metadata.file_path"))

    def handle_batch(batch_df: DataFrame, batch_id: int) -> None:
        stats.batches += 1
        if batch_df.isEmpty():
            return
        file_paths = [
            r["_file_path"]
            for r in batch_df.select("_file_path").distinct().collect()
        ]
        infos = [
            ledger.FileInfo(container, p.rsplit("/", 1)[-1]) for p in file_paths
        ]
        # one ledger generation per transition, however many files
        ledger.mark_in_progress(wh, *infos)
        try:
            # a micro-batch whose rows all drop in the transform is a
            # 0-row success, not an empty-file failure
            batch_guid, n_rows, staging_counts, merge_stats = run_pipeline(
                wh, batch_df.drop("_file_path"), mode
            )
            ledger.mark_success(wh, *infos)
            stats.results.append(
                ProcessingResult(
                    True,
                    f"micro-batch {batch_id}: {len(infos)} files, {n_rows} rows",
                    n_rows,
                    batch_guid,
                    staging_counts=staging_counts,
                    merge_stats=merge_stats,
                )
            )
        except Exception as exc:  # noqa: BLE001 — etl:338-350 failure contract
            ledger.mark_failed(wh, *infos)
            stats.results.append(
                ProcessingResult(False, f"{type(exc).__name__}: {exc}")
            )
            raise  # let the stream surface the failure (checkpoint will retry)

    from ..session import stream_batch_confs

    with stream_batch_confs(spark, input_dir):
        (
            raw.writeStream.foreachBatch(handle_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
    return stats
