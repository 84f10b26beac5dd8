"""teleco_etl_pipeline_spark — a PySpark-native analytics/ETL engine.

A brand-new, idiomatic Spark implementation of the query and
data-processing capabilities of the reference telecom-churn warehouse
pipeline (ahmed2004410/teleco-etl-pipeline), re-expressed as lazy
DataFrame programs optimized by Catalyst and executed on Parquet —
plus the large-scale training-data operators (dedup, similarity
search, text analysis, multimodal plumbing) that a 100 TB pipeline
needs.

Layout
------
- ``session``    SparkSession factory (AQE, broadcast, shuffle tuning)
- ``sources``    readers/sinks: CSV/Parquet/Excel-bridge, file registry,
                 watermark state store
- ``functions``  scalar-function surface (column normalization, safe
                 casts, tenure math, error annotation)
- ``operators``  engine operators: keyed upsert/merge, surrogate keys,
                 dedup family (exact/MinHash/SimHash/Jaccard/embedding),
                 similarity search, text analysis, multimodal plumbing
- ``plans``      pipeline stages: staging→bronze→silver→gold star
                 schema, quality engine, incremental extract, ML,
                 file-sensor reprocessing
"""

__version__ = "0.1.0"
