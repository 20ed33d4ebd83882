"""mapreduce_server_development_spark — a PySpark-native analytics engine.

A from-scratch rebuild of the query and data-processing capabilities of
the reference MapReduce framework (ChristineWmy/MapReduce-Server-Development,
surveyed in SURVEY.md), re-expressed Spark-first:

- the MapReduce dataflow (partition -> map -> sort -> group-by-key ->
  reduce -> sink) becomes ``operators.mapreduce`` (the JVM ``RDD.pipe``
  for the arbitrary-executable contract, a Dataset shuffle for the group
  stage), with a CLI in ``cli``;
- the reference's query library (word count, grep) lives in
  ``plans.mapreduce_queries``; the additive relational surface in
  ``plans.relational``;
- LLM-data-pipeline operators (dedup, similarity search, text analysis,
  multimodal binary/tensor columns) live in ``functions/`` with their
  driver-checkable queries in ``plans.llm`` / ``plans.multimodal_queries``;
- Structured Streaming over the events table lives in
  ``plans.streaming_queries``;
- sources/sinks (parquet tables, text dirs, csv/json) live in ``sources/``.

Everything is DataFrame-first so Catalyst/Tungsten own the physical plan.
"""

from .session import get_spark
from .sources.tables import TABLES, load_table, load_tables, register_views

__all__ = ["get_spark", "TABLES", "load_table", "load_tables", "register_views"]
__version__ = "0.1.0"
