"""fraud_detection_etl_project_spark — a PySpark-native analytics engine.

A from-scratch, Spark-first re-expression of the query and data-processing
capabilities of the reference repo
``savitaj-Fraud-detection-ETL/Fraud_Detection_ETL_project`` (a serverless
fraud-detection ETL: S3 CSV -> validity filter -> fraud filter -> Postgres
append; see ``/root/reference/Lambda Function/lambda_function_aws.py``),
extended with the relational / streaming / LLM-data-pipeline operator surface
described in SURVEY.md §2 and designed for 100 TB scale.

Layout
------
- ``session``    SparkSession factory with scale-oriented defaults (AQE, etc.)
- ``schemas``    explicit StructTypes (PaySim transactions, fixture tables)
- ``frames``     ``local_frame``: driver-side rows as a JVM local relation
                 (Arrow, ``LocalTableScan``) — the one way to build a frame
                 from Python rows
- ``sources``    readers (CSV FAILFAST/PERMISSIVE, parquet incl. ns-timestamps)
                 and sinks (JDBC append w/ typed DDL, staging-table atomicity)
- ``pipeline``   the reference-parity fraud ETL dataflow (filters + counts)
- ``functions``  scalar/array/text column-expression helpers (no Python UDFs
                 in the hot path — everything Catalyst-optimizable)
- ``operators``  composite operators: as-of join, top-k per group, dedup
                 (exact / MinHash / SimHash), similarity search, text analysis
- ``plans``      the registered query inventory (queries + DuckDB oracles)
- ``streaming``  file-source micro-batch pipelines, windowed aggs, foreachBatch
"""

__version__ = "0.1.0"
