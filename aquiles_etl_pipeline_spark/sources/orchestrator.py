"""End-to-end ingestion orchestration — the reference's four entry
points (SURVEY.md §3) re-expressed over the Spark pipeline:

  process_csv_file   — §3.1 blob-trigger path (ledger gate → parse →
                       canonicalize → transform → staging → merge)
  process_csv_text   — §3.4 validated string path (header gate → same)
  process_invoice_image — §3.3 image path (extractor seam → fence strip
                       → CSV parse → converges into the same pipeline),
                       WITH the ledger applied (the reference omits it
                       on this path — gap noted in SURVEY.md §3.3).
"""

from __future__ import annotations

import io
import logging
import re
import uuid
from dataclasses import dataclass, field
from pathlib import Path
from typing import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import ledger
from ..functions import scalar
from ..merge.schemas import bucket_of
from ..merge.upserts import merge_staging_to_fact_tables
from ..merge.warehouse import Warehouse
from ..pipeline import (
    apply_transformations,
    map_columns_to_apply_transformations,
    validate_csv_headers,
)
from ..staging import load_data_to_staging_tables, write_staging_tables
from .extractor import InvoiceExtractor

_log = logging.getLogger(__name__)


@dataclass
class ProcessingResult:
    """etl:27-44 ProcessingResult/InvoiceProcessingResult union."""

    success: bool
    message: str = ""
    rows_processed: int = 0
    batch_guid: str | None = None
    skipped: bool = False
    products_extracted: int = 0
    csv_filename: str | None = None
    staging_counts: dict = field(default_factory=dict)
    merge_stats: dict = field(default_factory=dict)


def _csv_text_to_df(spark: SparkSession, csv_text: str) -> DataFrame:
    """Parse CSV text to a DataFrame (reference: pd.read_csv on a
    buffer, etl:314/:270 — eager, driver-side; correct here because
    text payloads are single-file-sized.  Directory-scale ingest goes
    through spark.read.csv instead)."""
    pdf = pd.read_csv(io.StringIO(csv_text), dtype=str, skip_blank_lines=True)
    pdf = pdf.where(pdf.notna(), None)
    return spark.createDataFrame(pdf)


def run_pipeline(
    wh: Warehouse, df: DataFrame, mode: str = "exact"
) -> tuple[str | None, int, dict, dict]:
    """Steps 6-10 of §3.1: canonicalize → transform → staging → merge.

    The one ingest chain: the CSV and invoice paths, the streaming
    directory ingest and q41 all run it.  Returns (batch GUID, rows,
    staging counts, merge stats).  A frame whose rows all drop in the
    transform stages and merges nothing: it returns 0 rows and no GUID,
    and the caller decides whether that is an error.

    Staging stays in memory: the merge reads the staged projections of
    the cached transform.  When the merge raises, the batch is written
    to the staging tables under its GUID, where the reference's rolled-
    back transaction leaves it, and the merge's exception propagates."""
    df = map_columns_to_apply_transformations(df)
    transformed = apply_transformations(df, mode=mode)
    transformed = transformed.cache()
    try:
        # one job fills the cache, counts the rows (the size of both
        # product projections) and gathers the batch's keys for the
        # merge: the distinct non-null provider names (collect_set skips
        # nulls; the provider projection's size) and units that M1 and
        # U1 look up on the driver, and the product buckets M2 rewrites
        keys = transformed.agg(
            F.count(F.lit(1)).alias("rows"),
            F.collect_set("CleanProviderName").alias("providers"),
            F.collect_set(F.lower("UnitOfMeasure")).alias("units"),
            F.collect_set(
                bucket_of(scalar.description_hash(F.col("RawDescription")))
            ).alias("buckets"),
        ).first()
        n_rows = keys["rows"]
        if n_rows == 0:
            return None, 0, {}, {}
        batch_guid = str(uuid.uuid4())  # etl:323 — one GUID per file
        staged = load_data_to_staging_tables(
            transformed, batch_guid,
            provider_names=frozenset(keys["providers"]),
            units=frozenset(keys["units"]),
            product_buckets=tuple(sorted(keys["buckets"])),
        )
        staging_counts = {
            "providers": len(staged.provider_names),
            "products": n_rows,
            "provider_products": n_rows,
        }
        try:
            merge_stats = merge_staging_to_fact_tables(wh, staged)
        except Exception:
            try:
                write_staging_tables(wh, staged)
            except Exception:  # noqa: BLE001 — the merge's error is the one to report
                _log.exception("could not stage failed batch %s", batch_guid)
            raise
    finally:
        transformed.unpersist()
    return batch_guid, n_rows, staging_counts, merge_stats


def _ledgered(
    wh: Warehouse, container: str, file_name: str, blob_size: int | None, mode: str,
    load: Callable[[], DataFrame], done: Callable[[str, int], ProcessingResult],
) -> ProcessingResult:
    """Both file paths' ledger protocol (etl:303-350): skip a file already
    processed, else mark it in progress, run the pipeline over ``load()``
    and mark it succeeded with ``done(batch_guid, rows)``'s result, or
    failed with the error as the result's message."""
    if ledger.already_processed(wh, container, file_name):  # etl:303-308
        return ProcessingResult(True, "already processed", skipped=True)
    info = ledger.FileInfo(container, file_name, blob_size=blob_size)
    ledger.mark_in_progress(wh, info)  # etl:310-312
    try:
        batch_guid, n_rows, staging_counts, merge_stats = run_pipeline(wh, load(), mode)
        if n_rows == 0:
            raise ValueError("CSV file is empty")  # etl:316-317
        result = done(batch_guid, n_rows)
        result.staging_counts, result.merge_stats = staging_counts, merge_stats
        ledger.mark_success(wh, info)  # etl:329-331
        return result
    except Exception as exc:  # noqa: BLE001 — etl:338-350
        ledger.mark_failed(wh, info)
        return ProcessingResult(False, f"{type(exc).__name__}: {exc}")


def process_csv_file(
    spark: SparkSession,
    wh: Warehouse,
    container: str,
    file_name: str,
    csv_text: str | None = None,
    path: str | None = None,
    mode: str = "exact",
) -> ProcessingResult:
    """§3.1: the main CSV path, ledgered."""

    def load() -> DataFrame:
        if path is not None:
            return spark.read.option("header", True).csv(path)
        if csv_text is not None:
            return _csv_text_to_df(spark, csv_text)
        raise ValueError("either csv_text or path is required")

    return _ledgered(
        wh, container, file_name, len(csv_text) if csv_text else None, mode, load,
        lambda batch_guid, n_rows: ProcessingResult(
            True, f"processed {n_rows} rows", n_rows, batch_guid
        ),
    )


def process_csv_text(
    spark: SparkSession,
    wh: Warehouse,
    container: str,
    file_name: str,
    csv_text: str,
    mode: str = "exact",
    land_dir: str | None = None,
) -> ProcessingResult:
    """§3.4: header-validated string path (etl:418-464).

    ``land_dir=None`` validates and processes in one pass (documented
    divergence).  ``land_dir`` set reproduces the reference's
    validate-AND-LAND semantics exactly (etl:451-453): the validated
    CSV is written into the landing directory — the same directory a
    `streaming.ingest.stream_ingest_files` source watches — and
    processing happens when the stream (re)triggers, exactly like the
    reference's blob-container re-trigger."""
    try:
        pdf = pd.read_csv(io.StringIO(csv_text), dtype=str, nrows=0)
    except Exception as exc:  # noqa: BLE001
        return ProcessingResult(False, f"unparseable CSV: {exc}")
    gate = validate_csv_headers(list(pdf.columns))
    if not gate.is_valid:
        return ProcessingResult(False, gate.message)
    if land_dir is not None:
        target_dir = Path(land_dir)
        target_dir.mkdir(parents=True, exist_ok=True)
        (target_dir / file_name).write_text(csv_text)
        return ProcessingResult(
            True, f"validated and landed {file_name} for stream ingest"
        )
    return process_csv_file(spark, wh, container, file_name, csv_text=csv_text, mode=mode)


def process_invoice_image(
    spark: SparkSession,
    wh: Warehouse,
    extractor: InvoiceExtractor,
    container: str,
    image_name: str,
    image_bytes: bytes,
    mode: str = "exact",
    archive_dir: str | None = None,
) -> ProcessingResult:
    """§3.3: image → extractor → fence-strip → CSV → same pipeline.
    Ledgered (unlike the reference).  Archive parity (etl:376-388): the
    extracted CSV is persisted as {stem}_{guid8}.csv — the reference
    uploads it back to blob storage as the replayable audit artifact;
    here it lands under ``archive_dir`` (default
    ``<warehouse>/_invoice_archive/<container>/``), driver-side because
    the payload is one extracted text per image."""
    csv_text = ""

    def load() -> DataFrame:
        nonlocal csv_text
        raw = extractor.extract(image_bytes, image_name)
        # F17 fence strip (etl:261-267) — driver-side here because the
        # extractor returns one text per image; the column-level variant
        # is functions.strip_markdown_fence.
        m = re.search(r"```(?:csv)?\s*(.*?)```", raw.strip(), re.DOTALL | re.IGNORECASE)
        csv_text = m.group(1).strip() if m else raw.strip()
        return _csv_text_to_df(spark, csv_text)

    def done(batch_guid: str, n_rows: int) -> ProcessingResult:
        stem = image_name.rsplit(".", 1)[0]
        csv_filename = f"{stem}_{batch_guid[:8]}.csv"
        adir = Path(archive_dir) if archive_dir else wh.root / "_invoice_archive" / container
        adir.mkdir(parents=True, exist_ok=True)
        (adir / csv_filename).write_text(csv_text)
        return ProcessingResult(
            True, f"extracted {n_rows} products", n_rows, batch_guid,
            products_extracted=n_rows, csv_filename=csv_filename,
        )

    return _ledgered(wh, container, image_name, len(image_bytes), mode, load, done)
