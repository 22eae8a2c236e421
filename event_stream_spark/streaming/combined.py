"""Streaming assembly: live tail, historical backfill, and the seamless
combined flow (S11/J3/U1/F5, SURVEY.md §2.5, §2.9).

The reference's flagship `blockDataFlow` (MultiplexBlockDataFlow.kt:180-269 +
MultiplexFlow.kt:61-158) hand-codes: buffer live into a channel, drain history
first, then live with lastSeen dedup.  The Spark restatement:

    historical (bounded stream from the same source / the block lake)
        UNION live (unbounded blockstream)
        → dropDuplicates("height")            # F5, history wins by arrival
        → shared enrichment transforms        # identical to the batch path

The offset log under ``checkpointLocation`` replaces `Checkpoint` —
kill/restart resumes from the last committed height with no dupes or gaps
(tested in tests/test_streaming.py).

At 100 TB scale: dedup state is height-keyed; with a watermark on block_ts
(`dedup_heights_stream(..., watermark="10 minutes")`) the state store evicts
old heights instead of growing forever — heights are monotonic, so any
out-of-order window is bounded by the backfill/live handoff.
"""

from __future__ import annotations

from contextlib import closing

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from event_stream_spark.functions import header_datetime
from event_stream_spark.operators.flatten import assemble_stream_blocks
from event_stream_spark.schemas import (
    BLOCK_HEADER_RPC_RESPONSE,
    BLOCK_RESULTS_RPC_RESPONSE,
    BLOCK_RPC_RESPONSE,
)


def parse_source_rows(df: DataFrame) -> DataFrame:
    """(height, block_json, block_results_json, tx_meta) → flat paired
    columns.

    Shared by batch and streaming reads of the `blockstream` source."""
    b = F.from_json(F.col("block_json"), BLOCK_RPC_RESPONSE)["result"]["block"]
    r = F.from_json(F.col("block_results_json"), BLOCK_RESULTS_RPC_RESPONSE)["result"]
    return df.select(
        "height",
        b["header"]["chain_id"].alias("chain_id"),
        header_datetime(b["header"]["time"]).alias("block_ts"),
        b["data"]["txs"].alias("txs"),
        "tx_meta",
        b.alias("block"),
        r["txs_results"].alias("txs_results"),
        r["begin_block_events"].alias("begin_block_events"),
    )


def parse_header_rows(df: DataFrame) -> DataFrame:
    """(height, block_json, …) → header-only projection (S6/S8/P10 flows).

    Parses with ``BLOCK_HEADER_RPC_RESPONSE`` — a schema that simply does not
    contain ``data.txs``, so tx payloads are pruned AT THE PARSE and never
    enter the plan (the header path of ``blockHeaderFlow``)."""
    h = F.from_json(F.col("block_json"), BLOCK_HEADER_RPC_RESPONSE)["result"]["block"][
        "header"
    ]
    return df.select(
        "height",
        h["chain_id"].alias("chain_id"),
        header_datetime(h["time"]).alias("block_ts"),
        h.alias("header"),
    )


def resolve_heights(
    from_height: int | str,
    to_height: int | None,
    live_from: int | None = None,
    **options,
) -> tuple[int, int, int]:
    """`From.Latest` / open-`to` resolution at plan time
    (MultiplexBlockDataFlow.kt:82-92 + the builder's ``from("latest")``).

    Returns ``(from_height, to_height, live_start)`` for the combined
    builders: ``from="latest"`` resolves to the backend's current head; an
    omitted ``to`` resolves to the head for the bounded backfill leg — or
    to ``from - 1``, an empty backfill, when ``from`` is above the head; an
    explicit ``to`` below ``from`` raises like the batch reader.  The live
    tail starts at ``live_from`` (default ``to + 1``, the contiguous
    handoff), never below ``from``.  Resolution asks the node backend once —
    no Spark job."""
    from event_stream_spark.sources import blockstream

    with closing(
        blockstream._make_node({k: str(v) for k, v in options.items() if v is not None})
    ) as node:
        head = node.head()
    if from_height == "latest":
        from_height = head
    elif isinstance(from_height, str):
        raise ValueError(f"invalid height specifier: {from_height!r}")
    if to_height is None:
        to_height = max(head, from_height - 1)
    elif to_height < from_height:
        raise ValueError(f"from ({from_height}) must be <= to ({to_height})")
    live_start = to_height + 1 if live_from is None else max(live_from, from_height)
    return from_height, to_height, live_start


def _raw_source(spark: SparkSession, *, streaming: bool, **options) -> DataFrame:
    """The node's SCHEMA rows.  A stream reads the `blockstream` source,
    whose height offsets make it replayable.  A bounded batch scan has no
    offsets to track: ``spark.range(from, to + 1)`` in core-sized
    partitions, each fetched in one ``mapInArrow`` pass (S5), with no Python
    planner per job."""
    from event_stream_spark.sources import blockstream

    opts = {k: str(v) for k, v in options.items() if v is not None}
    cores = spark.sparkContext.defaultParallelism
    if not streaming:
        lo, hi = blockstream._bounds(opts)
        ids = spark.range(lo, hi + 1, numPartitions=len(blockstream._plan(lo, hi, cores)))
        return ids.mapInArrow(blockstream.fetch_heights(opts), blockstream.SCHEMA)
    blockstream.register(spark)
    return spark.readStream.format("blockstream").options(**opts, _cores=str(cores)).load()


def _source(
    spark: SparkSession, *, streaming: bool, historical: bool, decode_tx_meta: bool, **options
) -> DataFrame:
    raw = _raw_source(spark, streaming=streaming, **options)
    return assemble_stream_blocks(
        parse_source_rows(raw), historical=historical, decode_tx_meta=decode_tx_meta
    )


def live_stream(
    spark: SparkSession, *, decode_tx_meta: bool = True, **options
) -> DataFrame:
    """S1–S4 live tail as a streaming DataFrame of STREAM_BLOCK rows."""
    return _source(
        spark, streaming=True, historical=False, decode_tx_meta=decode_tx_meta, **options
    )


def historical_stream(
    spark: SparkSession,
    from_height: int,
    to_height: int | None,
    *,
    streaming: bool = True,
    decode_tx_meta: bool = True,
    **options,
) -> DataFrame:
    """S5 backfill.  ``streaming=True`` yields a bounded stream (unions with
    the live tail); ``streaming=False`` is the plain batch scan."""
    return _source(
        spark,
        streaming=streaming,
        historical=True,
        decode_tx_meta=decode_tx_meta,
        from_height=from_height,
        to_height=to_height,
        **options,
    )


def dedup_heights_stream(df: DataFrame, *, watermark: str | None = None) -> DataFrame:
    """F5 streaming dedup on height.  With ``watermark`` the state store
    evicts (needs block_ts); without, state is unbounded (bounded runs only).
    """
    if watermark is not None:
        return df.withWatermark("block_ts", watermark).dropDuplicatesWithinWatermark(
            ["height"]
        )
    return df.dropDuplicates(["height"])


def combined_block_stream(
    spark: SparkSession,
    from_height: int | str,
    to_height: int | None = None,
    *,
    live_from: int | None = None,
    watermark: str | None = None,
    decode_tx_meta: bool = True,
    **options,
) -> DataFrame:
    """J3: historical backfill ∪ live tail, deduped on height.

    ``from_height`` accepts the literal ``"latest"`` (resolved to the current
    head at plan time — the builder's ``from("latest")``,
    MultiplexBlockDataFlow.kt:82-92); ``to_height=None`` resolves the bounded
    backfill leg to the head the same way, with the live tail continuing
    past it (the reference's open-ended ``to``).

    ``live_from`` is where the live tail starts (defaults to the backfill
    upper bound + 1 — contiguous handoff; never below ``from_height``);
    overlap between the two legs is resolved by the height dedup exactly
    like the reference's lastSeen skip (MultiplexFlow.kt:142-145).
    """
    from_height, to_height, live_start = resolve_heights(
        from_height, to_height, live_from, **options
    )
    hist = historical_stream(
        spark, from_height, to_height, decode_tx_meta=decode_tx_meta, **options
    )
    live = live_stream(
        spark, from_height=live_start, decode_tx_meta=decode_tx_meta, **options
    )
    return dedup_heights_stream(hist.unionByName(live), watermark=watermark)


def live_header_stream(spark: SparkSession, **options) -> DataFrame:
    """S8 live tail, header-only (``pollingBlockHeaderFlow`` analog)."""
    raw = _raw_source(spark, streaming=True, **options)
    return parse_header_rows(raw).withColumn("historical", F.lit(False))


def historical_header_stream(
    spark: SparkSession,
    from_height: int,
    to_height: int | None,
    *,
    streaming: bool = True,
    **options,
) -> DataFrame:
    """S6 header-only backfill (``historicalBlockHeaderFlow`` analog) — the
    blockstream-source variant; the lake variant is sources/blocks.py."""
    raw = _raw_source(
        spark,
        streaming=streaming,
        from_height=from_height,
        to_height=to_height,
        **options,
    )
    return parse_header_rows(raw).withColumn("historical", F.lit(True))


def combined_header_stream(
    spark: SparkSession,
    from_height: int | str,
    to_height: int | None = None,
    *,
    live_from: int | None = None,
    watermark: str | None = None,
    **options,
) -> DataFrame:
    """``blockHeaderFlow`` (MultiplexBlockHeaderFlow.kt:23-61): historical
    header backfill ∪ live header tail, deduped on height — the legacy
    metadata surface, without ever materializing a tx column."""
    from_height, to_height, live_start = resolve_heights(
        from_height, to_height, live_from, **options
    )
    hist = historical_header_stream(spark, from_height, to_height, **options)
    live = live_header_stream(spark, from_height=live_start, **options)
    return dedup_heights_stream(hist.unionByName(live), watermark=watermark)
