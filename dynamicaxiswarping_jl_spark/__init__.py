"""PySpark-native time-series rollup + DTW analytics engine.

A from-scratch engine (NOT a port) with the query and data-processing
capabilities of baggepinnen/DynamicAxisWarping.jl, re-expressed Spark-first:

- ``kernels``   : pure-NumPy DTW-family numerical kernels (no Spark deps),
                  semantics pinned to the reference test suite
                  (/root/reference/test/runtests.jl golden values).
- ``operators`` : distributed operators (rollup tiers, gap-fill, Gorilla
                  compression, DTW drift, DBA representatives, dedup,
                  similarity search, text analysis) built on DataFrame +
                  vectorized pandas/Arrow UDFs.
- ``sources``   : deterministic transcript generator (BASELINE input_hint
                  schema), parquet/Iceberg-style storage, testdata loaders.
- ``plans``     : SparkSession factory (AQE skew-join on),
                  pandas-UDF fan-out and the one partition probe
                  (``fanout``), checkpoint/resume manifests with
                  per-partition lineage.
- ``streaming`` : Structured Streaming 1m-tier ingest.
"""

__version__ = "0.1.0"
