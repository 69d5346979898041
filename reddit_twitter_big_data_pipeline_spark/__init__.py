"""spark-social-analytics — a PySpark-native analytics engine.

A brand-new engine with the query and data-processing capabilities of the
reference social-media ETL (``leeshuoan/reddit-twitter-big-data-pipeline``),
re-expressed Spark-first: explicit schemas over DataFrames, distributed
Column expressions (enrichment included; Arrow ``pandas_udf`` where an
external service is called), DataFrame joins / inline / dropDuplicates
building graph tables, and Structured Streaming for incremental
micro-batches.

Layout:
  session     — tuned SparkSession factory
  schemas     — explicit StructTypes for every table (FIXTURES.md §1-3)
  sources     — readers: partitioned JSON-array, parquet, latest-file, config
  sinks       — writers: partitioned JSON, CSV snapshot, overwrite, upsert
  operators   — cleanse (F1-F6/T1-T6), model (A1-A9), dedup, similarity,
                text analysis, multimodal plumbing
  functions   — enrichment (translate U1, sentiment U2, claim U3): Column
                forms of the defaults, pandas UDFs for real services
  plans       — end-to-end pipelines (cleanse → enrich → graph model)
  streaming   — W1-W5 micro-batch ingest, windows, watermark, late refresh
"""

__version__ = "0.1.0"
