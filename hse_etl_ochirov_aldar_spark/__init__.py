"""PySpark-native analytics engine with the query surface of
Aoladiy/HSE-ETL-Ochirov-Aldar (reference: Airflow + Postgres/Mongo ETL
coursework, surveyed in SURVEY.md).

Design: every operator is a ``DataFrame -> DataFrame`` function declared
through the DataFrame API so Catalyst owns optimization (pushdown, pruning,
broadcast selection, whole-stage codegen, AQE). No RDDs, no row-at-a-time
Python in hot paths; Pandas UDFs only where built-ins cannot express the
semantics (multimodal decode plumbing).

Layout
------
- ``session``   : tuned SparkSession builder (local test / cluster profiles)
- ``sources``   : readers (parquet tables, Mongo exports), sinks
                  (overwrite / partitioned / keep-newest upsert)
- ``functions`` : scalar expression library (multi-format timestamp parse,
                  decimal-comma normalization, text analysis, similarity)
- ``operators`` : relational operators (percentile trim, dedup families,
                  mode-by-group, top-k, explode-normalize, incremental)
- ``plans``     : layered raw->clean->mart pipeline runner + quality gates
- ``streaming`` : Structured Streaming analogue of the reference's @daily
                  batch aggregation, sessionization, EWMA anomaly scores
- ``queries``   : the concrete query catalog wired to the driver testdata
"""

__version__ = "0.1.0"
