"""Normalization split: canonical wide record → batch-stamped staging rows.

Reproduces load_data_to_staging_tables and the three insert_*_to_staging
projections (/root/reference/core/etl_orchestrator.py:60-165): distinct
non-null providers, a product projection off RawDescription with
UnitPrice=0, and a denormalized provider-product projection carrying
ProductDescription/ProviderName/Price for later key resolution
(placeholder FKs 0, "will be updated in merge process", etl:151-152).

Staging is in memory: the three projections of the caller's cached
frame go straight to the merge (the reference's own aim, "CSV →
Transform → In-Memory DataFrame → Staging"), so a file that merges
leaves no staging rows behind, exactly as the reference's post-merge
DELETE does (etl:182-184).  Only a batch whose merge fails is written
to the three staging tables (:func:`write_staging_tables`), partitioned
by BatchGuid — the rows the reference leaves visible for audit when its
merge transaction rolls back.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..merge.schemas import DEC
from ..merge.warehouse import Warehouse


@dataclass(frozen=True)
class StagedBatch:
    """One batch's three staging projections, lazy over one frame, and
    the batch's keys the merge needs on the driver, gathered by the
    ingest chain's one aggregate (sources.orchestrator.run_pipeline):

    - ``provider_names``: the distinct non-null provider names (M1);
    - ``units``: the distinct non-null lower-cased units (U1);
    - ``product_buckets``: the sorted fact-table buckets of the staged
      descriptions, ``bucket_of(description_hash(Description))`` — the
      product partitions M2 reads and rewrites."""

    batch_guid: str
    providers: DataFrame
    products: DataFrame
    provider_products: DataFrame
    provider_names: frozenset[str]
    units: frozenset[str]
    product_buckets: tuple[int, ...]


def load_data_to_staging_tables(
    df: DataFrame,
    batch_guid: str,
    provider_names: frozenset[str],
    units: frozenset[str],
    product_buckets: tuple[int, ...],
) -> StagedBatch:
    """Stamp ``df``'s rows with ``batch_guid`` and split them into the
    three staging projections, carrying the batch's keys along (see
    :class:`StagedBatch`).  Builds plans only: no Spark job."""
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
    return StagedBatch(
        batch_guid, providers, products, provider_products,
        provider_names, units, product_buckets,
    )


def write_staging_tables(wh: Warehouse, staged: StagedBatch) -> None:
    """Append the batch to the three staging tables under its BatchGuid
    partition (file-level appends: O(batch), see ``Warehouse.append``)."""
    for table, frame in (
        ("staging_provider", staged.providers),
        ("staging_product", staged.products),
        ("staging_provider_product", staged.provider_products),
    ):
        wh.append(table, frame, partition_by=["BatchGuid"])
