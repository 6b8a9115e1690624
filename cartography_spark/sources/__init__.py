from cartography_spark.sources.parquet import TPCH_TABLES
from cartography_spark.sources.rows import rows_to_df

__all__ = ["TPCH_TABLES", "rows_to_df"]
