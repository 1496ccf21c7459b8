from adv_big_data_indexing_spark.sources.catalog import TABLES, load_table

__all__ = ["TABLES", "load_table"]
