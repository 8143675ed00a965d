"""Target/staging/ledger table schemas.

From /root/reference/core/entities.py and database_schema.mmd:76-109 —
the Provider / Product / Provider_Product star schema with unit-of-
measure + synonym dimensions, batch-stamped staging shapes, and the
ProcessFile idempotency ledger.  Snake-case table names, reference
column names preserved for parity.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DecimalType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

DEC = DecimalType(18, 2)


def _s(*fields: StructField) -> StructType:
    return StructType(list(fields))


# core/entities.py:39-51
PROVIDER = _s(
    StructField("Id", LongType()),
    StructField("Name", StringType()),
    StructField("CreateDt", TimestampType()),
)

# Fact tables carry an engine-internal `_bucket` distribution column
# (stable hash of the merge key, N_BUCKETS buckets): the table is
# partitioned by it, so a merge batch rewrites only the buckets its
# keys touch (Delta MERGE file-level-rewrite analogue) and untouched
# partitions move by hardlink.  At cluster scale this is the Delta/
# Iceberg partition/Z-order column; N_BUCKETS grows with table size.
N_BUCKETS = 16


def bucket_of(*key_cols: str | Column) -> Column:
    """Stable bucket id from the merge key — the fact-table ``_bucket``
    column: pmod(xxhash64(keys), N_BUCKETS)."""
    return F.pmod(F.xxhash64(*key_cols), F.lit(N_BUCKETS)).cast("int")


# core/entities.py:101-119 (DescriptionHash hex string of sha256;
# BINARY(32) parity via unhex when needed)
PRODUCT = _s(
    StructField("Id", LongType()),
    StructField("UnitPrice", DEC),
    StructField("Description", StringType()),
    StructField("Measure", DEC),
    StructField("UnitOfMeasureId", LongType()),
    StructField("CreatedDt", TimestampType()),
    StructField("UpdatedDt", TimestampType()),
    StructField("DescriptionHash", StringType()),
    StructField("_bucket", IntegerType()),
)

# core/entities.py:150-168
PROVIDER_PRODUCT = _s(
    StructField("Id", LongType()),
    StructField("ProductId", LongType()),
    StructField("ProviderId", LongType()),
    StructField("IsValidated", BooleanType()),
    StructField("LastReviewDt", TimestampType()),
    StructField("PackageUnits", IntegerType()),
    StructField("IVA", DEC),
    StructField("Price", DEC),
    StructField("_bucket", IntegerType()),
)

# core/entities.py:54-65 / :136-147 / :122-133
UNIT_OF_MEASURE = _s(
    StructField("Id", LongType()),
    StructField("Acronym", StringType()),
    StructField("Name", StringType()),
)
UNIT_OF_MEASURE_ACRONYM = _s(
    StructField("Id", LongType()),
    StructField("Acronym", StringType()),
    StructField("UnitOfMeasureId", LongType()),
)
PROVIDER_SYNONYM = _s(
    StructField("Id", LongType()),
    StructField("Synonym", StringType()),
    StructField("ProviderId", LongType()),
)

# core/entities.py:13-24 — raw Excel landing shape (all-string columns)
EXCEL_FILE_RAW = _s(
    StructField("Id", LongType()),
    StructField("ProductName", StringType()),
    StructField("ProviderName", StringType()),
    StructField("LastReviewDt", StringType()),
    StructField("ProductPrice", StringType()),
)

# core/entities.py:27-37 — status lookup the ledger's StatusId FK
# resolves against (rows seeded by bootstrap)
FILE_STATUS = _s(
    StructField("Id", IntegerType()),
    StructField("StatusName", StringType()),
)

# core/entities.py:78-98; statuses docs/ETL_ENHANCEMENTS.md:9-12
PROCESS_FILE = _s(
    StructField("Id", LongType()),
    StructField("Container", StringType()),
    StructField("FileName", StringType()),
    StructField("StatusId", IntegerType()),
    StructField("ProcessDt", TimestampType()),
    StructField("BlobSize", LongType()),
    StructField("ContentType", StringType()),
    StructField("CreatedDt", TimestampType()),
    StructField("LastModifiedDt", TimestampType()),
    StructField("ETag", StringType()),
    StructField("Metadata", StringType()),
)
FILE_STATUS_NEW, FILE_STATUS_IN_PROGRESS, FILE_STATUS_SUCCESS, FILE_STATUS_FAILED = 1, 2, 3, 4

# staging shapes: core/etl_orchestrator.py:118, :131-137, :150-161
STAGING_PROVIDER = _s(
    StructField("Name", StringType()),
    StructField("BatchGuid", StringType()),
)
STAGING_PRODUCT = _s(
    StructField("UnitPrice", DEC),
    StructField("Description", StringType()),
    StructField("Measure", StringType()),
    StructField("UnitOfMeasure", StringType()),
    StructField("BatchGuid", StringType()),
)
STAGING_PROVIDER_PRODUCT = _s(
    StructField("ProductId", LongType()),
    StructField("ProviderId", LongType()),
    StructField("IsValidated", BooleanType()),
    StructField("LastReviewDt", StringType()),
    StructField("PackageUnits", StringType()),
    StructField("IVA", DEC),
    StructField("ProductDescription", StringType()),
    StructField("ProviderName", StringType()),
    StructField("Price", DEC),
    StructField("BatchGuid", StringType()),
)

ALL_TABLES: dict[str, StructType] = {
    "provider": PROVIDER,
    "product": PRODUCT,
    "provider_product": PROVIDER_PRODUCT,
    "unit_of_measure": UNIT_OF_MEASURE,
    "unit_of_measure_acronym": UNIT_OF_MEASURE_ACRONYM,
    "provider_synonym": PROVIDER_SYNONYM,
    "process_file": PROCESS_FILE,
    "excel_file_raw": EXCEL_FILE_RAW,
    "file_status": FILE_STATUS,
    "staging_provider": STAGING_PROVIDER,
    "staging_product": STAGING_PRODUCT,
    "staging_provider_product": STAGING_PROVIDER_PRODUCT,
}


def bootstrap(wh) -> None:
    """DDL bootstrap, replacing Base.metadata.create_all
    (/root/reference/core/database.py:35).  Seeds the FileStatus lookup
    rows so the ledger's StatusId values FK-resolve (docs/
    ETL_ENHANCEMENTS.md:9-12)."""
    for name, schema in ALL_TABLES.items():
        wh.create_if_absent(name, schema)
    wh.seed_rows(
        "file_status",
        FILE_STATUS,
        [
            (FILE_STATUS_NEW, "New"),
            (FILE_STATUS_IN_PROGRESS, "InProgress"),
            (FILE_STATUS_SUCCESS, "Success"),
            (FILE_STATUS_FAILED, "Failed"),
        ],
    )
