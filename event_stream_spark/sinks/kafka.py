"""K4/K6: Kafka sink (KafkaBlockSink.kt:16-38, serde Extensions.kt:19-36).

Record contract: key = ``"<chainId>.<height>"``, value = JSON bytes of the
StreamBlock.  Expressed as a (key, value) projection ready for
``format("kafka")``; the ack semantics (K6, at-least-once commit after the
callback) are provided by Structured Streaming's offset log: a batch's offsets
commit only after the sink write succeeds.

No Kafka connector jar exists in the test environment, so tests validate
the frame, and the read side runs over the localhost broker of
``sources/kafkawire.py``; the writer itself is the stock kafka sink.
Exactly-once delivery on top of that is the stock connector's concern
(idempotent/transactional producers), not this module's.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def kafka_frame(stream_blocks: DataFrame, chain_id_col: str = "chain_id") -> DataFrame:
    """(key, value) kafka record frame.

    Key chain-id comes from ``block.header.chain_id`` when the block struct
    is present (KafkaBlockSink.kt:30 ``block.block.header!!.chainId``), else
    from ``chain_id_col``.  The value serializes the STREAM_BLOCK fields only
    — the reference writes StreamBlockImpl, so engine-side convenience
    columns (chain_id, block_ts) stay out of the record and the S9 decode
    round-trips byte-identically."""
    from event_stream_spark.schemas import STREAM_BLOCK

    cols = stream_blocks.columns
    cid_sources = []
    if "block" in cols:
        cid_sources.append(F.col("block.header.chain_id"))
    if chain_id_col in cols:
        cid_sources.append(F.col(chain_id_col))
    if not cid_sources:
        raise ValueError(
            "kafka_frame needs a chain id: neither a 'block' struct nor a "
            f"'{chain_id_col}' column is present"
        )
    key = F.concat_ws(".", F.coalesce(*cid_sources), F.col("height").cast("string"))
    value_fields = [f.name for f in STREAM_BLOCK.fields if f.name in cols] or cols
    value = F.to_json(F.struct(*value_fields))
    return stream_blocks.select(
        key.cast("binary").alias("key"), value.cast("binary").alias("value")
    )


def kafka_sink(
    stream_blocks: DataFrame, servers: str, topic: str, checkpoint: str
):
    return (
        kafka_frame(stream_blocks)
        .writeStream.format("kafka")
        .option("kafka.bootstrap.servers", servers)
        .option("topic", topic)
        .option("checkpointLocation", checkpoint)
    )
