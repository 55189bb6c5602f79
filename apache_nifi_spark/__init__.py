"""apache_nifi_spark — a PySpark-native analytics engine with the data-
processing capabilities of the Apache NiFi 2.7 dataflow engine (the engine
deployed by the reference repo: ``kustomization.yaml:9-11`` pins
``apache/nifi:2.7.2``).

This is NOT a port of NiFi's Java operator-at-a-time execution engine.
Every capability is re-expressed Spark-first: declarative DataFrame / Spark
SQL logical plans optimized by Catalyst, columnar Tungsten execution,
Structured Streaming for continuous semantics.  See SURVEY.md for the full
capability mapping.

Layout
------
- ``session``    SparkSession builder (UTC, AQE, Arrow).
- ``cds``        the JVM's cached class-data-sharing archive.
- ``io``         fixture loading / format bridge (ConvertRecord analog).
- ``functions``  NiFi Expression-Language & RecordPath scalar surface as
                 thin wrappers over ``pyspark.sql.functions``.
- ``operators``  routing, transformation, aggregation, joins, windows,
                 set ops — the processor inventory of SURVEY.md §2.
- ``sources``    batch/stream source builders (GetFile/ListFile/ConsumeKafka
                 analogs).
- ``streaming``  watermarked windows, dedup, stateful correlation
                 (Wait/Notify analog).
- ``llm``        beyond-reference LLM-data-pipeline operators: dedup
                 (exact / MinHash-LSH / SimHash / n-gram Jaccard), embedding
                 similarity search, text analysis, multimodal columns.
- ``plans``      provenance/lineage (observe + listeners) and flow
                 composition helpers.
"""

__version__ = "0.1.0"
