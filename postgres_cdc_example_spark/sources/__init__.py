from postgres_cdc_example_spark.sources.tables import load_table

__all__ = ["load_table"]
