"""PySpark-native analytics engine with the query/data-processing
capabilities of victorsam2/etl-challenge-localiza, re-expressed Spark-first.

Reference behavior spec: SURVEY.md (reference repo at /root/reference,
all logic in flows/pipeline.py). This package is NOT a port: the
reference runs pandas + DuckDB in one process; here every operator is a
lazy Spark DataFrame plan designed for multi-executor scale.

Layout
------
- ``session``    SparkSession factory (UTC, AQE, local[N] for tests)
- ``sources``    readers (csv/parquet with explicit schemas) and sinks
- ``functions``  column-level helpers (string cleaning, epoch parsing,
                 text n-grams, vector math)
- ``operators``  dataframe-level operators (cleaning pipeline, DQ
                 profile + gates, analytics shapes, dedup, similarity,
                 text analysis, multimodal decoders)
- ``plans``      end-to-end pipeline assembly (the reference's flow)
- ``streaming``  Structured Streaming variants of the event queries
"""

__version__ = "0.1.0"
