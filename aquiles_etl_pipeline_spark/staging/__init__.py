from .split import StagedBatch, load_data_to_staging_tables, write_staging_tables

__all__ = ["StagedBatch", "load_data_to_staging_tables", "write_staging_tables"]
