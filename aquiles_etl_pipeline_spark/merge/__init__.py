from .schemas import ALL_TABLES, bootstrap, bucket_of
from .upserts import (
    ensure_units_of_measure,
    merge_provider_products,
    merge_providers,
    merge_staging_to_fact_tables,
)
from .warehouse import Warehouse

__all__ = [
    "ALL_TABLES",
    "Warehouse",
    "bootstrap",
    "bucket_of",
    "ensure_units_of_measure",
    "merge_provider_products",
    "merge_providers",
    "merge_staging_to_fact_tables",
]
