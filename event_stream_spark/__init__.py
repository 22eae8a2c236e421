"""event_stream_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of FigureTechnologies/event-stream.

The reference (`/root/reference/`) is a Kotlin coroutine dataflow client for the
Provenance (Tendermint) blockchain.  This package re-expresses its entire
operator surface Spark-first:

- fixed ``StructType`` schemas (SURVEY.md §1.3) instead of codegen'd data classes
- batch DataFrame transforms shared verbatim by the streaming path
- Structured Streaming for the live/polling/combined sources
- ``foreachBatch`` sinks for the splayed-file / Kafka / console observers
- plus large-scale training-data-pipeline operators (dedup, similarity search,
  text analysis) that the 100 TB use case needs.

Nothing here is a port: the reference's hand-rolled dataflow structure
(chunking, fan-out, buffering) is replaced by Catalyst planning, partitioning
and AQE.
"""

__version__ = "0.1.0"

from event_stream_spark.session import get_spark  # noqa: F401
