"""adv_big_data_indexing_spark — a PySpark-native analytics engine.

A brand-new engine with the query and data-processing capabilities of the
reference (paurush11/Adv-Big-Data-Indexing, surveyed in SURVEY.md): a
schema-validated JSON document store with shredding/reconstruction,
parent-child search, merge-patch mutation, write-behind streaming
index maintenance — rebuilt Spark-first on DataFrames, Catalyst, and
Structured Streaming — plus a full relational operator set and
training-data-pipeline operators (dedup, similarity search, text analysis,
multimodal plumbing) designed for 100 TB scale.
"""

__version__ = "0.1.0"
