"""PySpark-native analytics engine with the query/data-processing
capabilities of ``iamahmedhisham/IoT-Real-Time-Data-Pipeline``.

The reference is an AWS pipeline (MQTT producer -> Kinesis -> Lambda
validator -> S3 lake -> Glue ETL -> Redshift star schema -> Power BI).
This package re-expresses every operator it implements as idiomatic
PySpark: DataFrame/SQL logical plans optimized by Catalyst, Structured
Streaming for the event stream, and native Column expressions (zero
row-wise Python UDFs on the hot path).

Layout
------
- ``schemas``       : StructTypes + the per-location sensor-range contract
- ``session``       : the one session builder and its conf table
                      (``ENGINE_CONF``: AQE, broadcast, plan-rule choices)
- ``generator``     : seeded IoT fixture generator (mirrors the producer's
                      fault taxonomy so expected labels are assertable)
- ``functions/``    : validation, alert, flatten, texthash expression builders
- ``operators/``    : star-schema ETL, dashboard analytics, dedup
                      (exact/Jaccard/MinHash-LSH/SimHash), similarity search
                      (brute-force + IVF), text analysis, multimodal plumbing
- ``sources/``      : batch/streaming readers, dead-letter routing, weather
                      enrichment lookup join
- ``streaming/``    : Structured Streaming wrap (foreachBatch sinks + star
                      load) + alert throttle, exact across micro-batches
- ``driver_queries``/``llm_queries``: the oracle-checked query registry
  exposed through ``__spark_entry__.py``
"""

__version__ = "0.1.0"
