"""sentiment_analysis_data_engineering_spark — a PySpark-native analytics engine.

A brand-new, Spark-first engine with the query and data-processing
capabilities of the reference project
``brennanleez-coder/Sentiment-Analysis-Data-Engineering`` (an Airflow →
BigQuery ETL that maintains a star-schema warehouse of Singapore
stock-market data), re-expressed on the Apache Spark DataFrame / SQL /
Structured Streaming stack.

Layout
------
- ``session``    SparkSession factory (AQE, dynamic partition overwrite, UTC).
- ``schemas``    The reference's 8 warehouse StructTypes + fixture schemas.
- ``catalog``    Database/table DDL and parquet-view registration.
- ``sources``    Scan/append/idempotent-append/replace-partition writers,
                 JSON (REST-shaped) ingestion.
- ``functions``  Scalar layer: date decomposition, casts, coalescing,
                 unit-suffix numeric parsing, JSON-path extraction.
- ``operators``  Relational composables (project/filter/join/union/...),
                 plus large-scale pipeline extensions: dedup (exact,
                 MinHash-LSH, SimHash, n-gram Jaccard, embedding cosine),
                 similarity search, text analysis, multimodal plumbing.
- ``plans``      The reference's eight pipeline tasks re-expressed as lazy
                 single-plan Spark jobs, plus analytical star-schema queries.
- ``streaming``  Structured Streaming maintenance of a persisted IVF-PQ
                 index: foreachBatch merge, auto-compaction, auto-retrain.

Everything here derives from public knowledge only: the Apache Spark API,
the reference repo, and published papers (MinHash/LSH, SimHash).
"""

__version__ = "0.1.0"
