"""PySpark-native analytics engine with the query & data-processing
capabilities of the reference IoT pipeline
(shiva1137/real-time-iot-data-engineering-pipeline), re-expressed Spark-first.

Layout:
  session    - SparkSession builder with the reference's tuning surface
  sources    - table loaders (parquet fixtures) + Kafka option wiring
  sinks      - idempotent keyed parquet sink (the Mongo/Postgres-upsert twin)
  functions  - validation-rule + rounding Column expression library
  queries    - every SURVEY.md §2 operator as (spark, sf_dir) -> DataFrame,
               each paired with a DuckDB oracle in the registry: core,
               validation, iot, analytics, joins, dedup, incremental, text
               (doc dedup/stats), similarity (KNN/LSH/IVF), multimodal
  streaming  - Structured Streaming runtime (watermark, windowed agg, update
               mode, dedup-within-watermark, foreachBatch upsert, metrics
               listener / backpressure flag)
  registry   - query + oracle registration used by __spark_entry__ and tests
"""

import sys

from pyspark import cloudpickle

__version__ = "0.1.0"

# Ship the package's functions to Python workers by value.  A function
# handed to mapInPandas or applyInPandasWithState (the Misra-Gries and TTL
# twins, the multimodal stages, every stateful stream operator) would
# otherwise be pickled by reference, and the worker would have to import
# the package: a driver that put the repo on its own sys.path
# (__spark_entry__.py does) has workers that find the package only when
# the driver's working directory happens to be the repo root.
cloudpickle.register_pickle_by_value(sys.modules[__name__])
