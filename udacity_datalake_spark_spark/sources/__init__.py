from udacity_datalake_spark_spark.sources.readers import read_json_feed, read_table
from udacity_datalake_spark_spark.sources.writers import write_parquet

__all__ = ["read_table", "read_json_feed", "write_parquet"]
