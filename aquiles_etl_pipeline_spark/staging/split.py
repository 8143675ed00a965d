"""Normalization split: canonical wide record → batch-stamped staging rows.

Reproduces load_data_to_staging_tables and the three insert_*_to_staging
projections (/root/reference/core/etl_orchestrator.py:60-165): distinct
non-null providers, a product projection off RawDescription with
UnitPrice=0, and a denormalized provider-product projection carrying
ProductDescription/ProviderName/Price for later key resolution
(placeholder FKs 0, "will be updated in merge process", etl:151-152).

Scale: staging tables are partitioned by BatchGuid so downstream merges
prune to the one partition they own; the distinct on providers is the
only shuffle in the split.  The three row counts ride on the three write
jobs as ``Observation`` metrics (merge.observed), so counting costs no
job of its own.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..merge.observed import observe
from ..merge.schemas import DEC
from ..merge.warehouse import Warehouse


def load_data_to_staging_tables(
    wh: Warehouse, df: DataFrame, batch_guid: str
) -> dict[str, int]:
    """Returns inserted-row counts per staging table (reference logs the
    same).  An empty ``df`` stages nothing and counts zeros (etl:63-66);
    the ingest chain never gets that far with one (see
    sources.orchestrator.run_pipeline)."""
    guid = F.lit(batch_guid)

    # etl:111-122 — distinct non-null CleanProviderName
    providers = (
        df.select(F.col("CleanProviderName").alias("Name"))
        .where(F.col("Name").isNotNull())
        .distinct()
        .withColumn("BatchGuid", guid)
    )

    # etl:125-141 — note: Description carries the RAW description
    products = df.select(
        F.lit(0).cast(DEC).alias("UnitPrice"),
        F.col("RawDescription").alias("Description"),
        F.col("Measure"),
        F.col("UnitOfMeasure"),
        guid.alias("BatchGuid"),
    )

    # etl:144-165 — denormalized, placeholder FKs resolved at merge time
    provider_products = df.select(
        F.lit(0).cast("long").alias("ProductId"),
        F.lit(0).cast("long").alias("ProviderId"),
        F.lit(False).alias("IsValidated"),
        F.col("CleanLastReviewDt").alias("LastReviewDt"),
        F.col("PackageUnits"),
        F.col("PercentageIVA").cast(DEC).alias("IVA"),
        F.col("RawDescription").alias("ProductDescription"),
        F.col("CleanProviderName").alias("ProviderName"),
        F.col("CleanPrice").cast(DEC).alias("Price"),
        guid.alias("BatchGuid"),
    )

    # three independent tables fed from one cached frame: submit the
    # write jobs concurrently (Spark's scheduler runs them in parallel;
    # the per-job fixed overhead — codegen, commit protocol — overlaps
    # instead of serializing).  Coalesce the file count: staging
    # batches are file-sized, and every downstream merge scans these —
    # 32 shards of a 20k-row batch cost more in task scheduling than
    # they buy in parallelism (sized to parallelism/4 so a cluster-
    # scale micro-batch still writes wide).
    from concurrent.futures import ThreadPoolExecutor

    n_out = max(8, wh.spark.sparkContext.defaultParallelism // 4)
    writes = [
        ("providers", "staging_provider", providers),
        ("products", "staging_product", products),
        ("provider_products", "staging_provider_product", provider_products),
    ]
    observed = {
        key: observe(frame, F.count(F.lit(1)).alias("n")) for key, _, frame in writes
    }
    with ThreadPoolExecutor(max_workers=3) as pool:
        futures = [
            pool.submit(
                wh.append,
                table,
                observed[key][0].coalesce(n_out),
                partition_by=["BatchGuid"],
            )
            for key, table, _ in writes
        ]
        for f in futures:
            f.result()
    return {key: counts()["n"] for key, (_, counts) in observed.items()}
