"""Per-block enrichment + flatten transforms (P1–P6, SURVEY.md §2.3).

The reference enriches one block at a time on the JVM heap
(``BlockData.toStreamBlock()`` es-core/.../clients/BlockFetcher.kt:55-62,
flattens models/Extensions.kt:76-124).  Here the same computation is a set of
array-valued Column expressions over the joined (blocks ⋈ block_results) rows
— ``transform``/``flatten``/``filter`` higher-order functions, fully
JVM-evaluated, then ``explode`` produces the three normative event tables.

At 100 TB: the J1 join is an equi-join on ``height`` — both sides should be
written bucketed/partitioned by height range so it plans as a co-located
sort-merge join with no shuffle (see sources/blocks.py); the flattens are
narrow (no shuffle at all).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from event_stream_spark.functions import header_datetime, tx_hash
from event_stream_spark.operators.txmeta import with_tx_meta_column


def blocks_from_rpc(raw: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Parse /block RPC response JSON strings → flat blocks rows.

    Wire heights are strings (Tendermint JSON-RPC) → cast to BIGINT.
    """
    from event_stream_spark.schemas import BLOCK_RPC_RESPONSE

    parsed = raw.select(
        F.from_json(F.col(payload_col), BLOCK_RPC_RESPONSE)["result"].alias("r")
    )
    return parsed.select(
        F.col("r.block.header.height").cast("long").alias("height"),
        F.col("r.block.header.chain_id").alias("chain_id"),
        header_datetime(F.col("r.block.header.time")).alias("block_ts"),
        F.col("r.block.header.data_hash").alias("data_hash"),
        F.col("r.block.header.proposer_address").alias("proposer_address"),
        F.col("r.block.data.txs").alias("txs"),
        F.col("r.block").alias("block"),
    )


def block_results_from_rpc(raw: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Parse /block_results RPC response JSON strings → flat rows."""
    from event_stream_spark.schemas import BLOCK_RESULTS_RPC_RESPONSE

    parsed = raw.select(
        F.from_json(F.col(payload_col), BLOCK_RESULTS_RPC_RESPONSE)["result"].alias("r")
    )
    return parsed.select(
        F.col("r.height").cast("long").alias("height"),
        F.col("r.txs_results").alias("txs_results"),
        F.col("r.begin_block_events").alias("begin_block_events"),
    )


# ---------------------------------------------------------------------------
# Array-valued event builders (evaluated per block row, no shuffle)
# ---------------------------------------------------------------------------

def _block_events_array(height: Column, ts: Column, begin_events: Column) -> Column:
    """P3: begin_block_events[] → ARRAY<block_event> (models/Extensions.kt:97-106)."""
    return F.transform(
        F.coalesce(begin_events, F.array()),
        lambda e: F.struct(
            height.alias("block_height"),
            ts.alias("block_ts"),
            e["type"].alias("event_type"),
            e["attributes"].alias("attributes"),
        ),
    )


def _tx_events_array(
    height: Column, ts: Column, txs: Column, txs_results: Column, tx_meta: Column
) -> Column:
    """P2: txs_results[i].events[j] → one tx_event per (i, j), carrying the
    i-th tx's hash/fee/denom/note (models/Extensions.kt:76-95, ctor :145-161)."""
    return F.flatten(
        F.transform(
            F.coalesce(txs_results, F.array()),
            lambda tr, i: F.transform(
                F.coalesce(tr["events"], F.array()),
                lambda e: F.struct(
                    height.alias("block_height"),
                    ts.alias("block_ts"),
                    tx_hash(F.element_at(txs, i + F.lit(1))).alias("tx_hash"),
                    e["type"].alias("event_type"),
                    e["attributes"].alias("attributes"),
                    F.element_at(tx_meta, i + F.lit(1))["fee"].alias("fee"),
                    F.element_at(tx_meta, i + F.lit(1))["denom"].alias("denom"),
                    F.element_at(tx_meta, i + F.lit(1))["note"].alias("note"),
                ),
            ),
        )
    )


def _tx_errors_array(
    height: Column, ts: Column, txs: Column, txs_results: Column, tx_meta: Column
) -> Column:
    """P4: txs_results[i] with code != 0 → tx_error (models/Extensions.kt:108-124)."""
    indexed = F.transform(
        F.coalesce(txs_results, F.array()),
        lambda tr, i: F.struct(
            height.alias("block_height"),
            ts.alias("block_ts"),
            tr["code"].alias("code"),
            tr["log"].alias("info"),
            tx_hash(F.element_at(txs, i + F.lit(1))).alias("tx_hash"),
            F.element_at(tx_meta, i + F.lit(1))["fee"].alias("fee"),
            F.element_at(tx_meta, i + F.lit(1))["denom"].alias("denom"),
        ),
    )
    return F.filter(indexed, lambda r: r["code"].isNotNull() & (r["code"] != 0))


def enrich_stream_blocks(
    blocks: DataFrame,
    block_results: DataFrame,
    *,
    historical: bool = True,
    decode_tx_meta: bool = True,
) -> DataFrame:
    """P1/J1: blocks ⋈ block_results on height → STREAM_BLOCK wide rows.

    The lake's txs come from parquet with no Python pass to share, so this
    join adds ``tx_meta`` with the pandas UDF of ``operators/txmeta.py``
    (the ``blockstream`` source decodes it in its fetch instead).
    ``decode_tx_meta=False`` skips that Python step and leaves fee/denom/note
    null, off by choice when the caller doesn't need fees (mirrors the
    reference's lazy decode).

    LEFT OUTER on height: a block whose /block_results fetch yields nothing
    still streams, with empty event arrays — the reference's own golden corpus
    is missing block_results for 2 of its 100 historical heights yet its tests
    assert 100 emitted blocks (Constants.kt:31); blockResults is fetched as a
    nullable `.result` (TendermintBlockFetcher.kt:42).
    """
    joined = blocks.join(block_results, on="height", how="left")
    return assemble_stream_blocks(
        with_tx_meta_column(joined, enabled=decode_tx_meta), historical=historical
    )


def assemble_stream_blocks(
    joined: DataFrame, *, historical: bool = True, decode_tx_meta: bool = True
) -> DataFrame:
    """P1 core: already-paired rows (height, chain_id, block_ts, block, txs,
    tx_meta, txs_results, begin_block_events) → STREAM_BLOCK wide rows.
    Shared verbatim by the lake join and the ``blockstream`` paths.
    ``decode_tx_meta=False`` nulls the input's fee/denom/note."""
    if not decode_tx_meta:
        joined = with_tx_meta_column(joined, enabled=False)

    h, ts = F.col("height"), F.col("block_ts")
    txs, trs, meta = F.col("txs"), F.col("txs_results"), F.col("tx_meta")
    return joined.select(
        "height",
        "chain_id",
        "block_ts",
        F.col("block"),
        _block_events_array(h, ts, F.col("begin_block_events")).alias("block_events"),
        _tx_events_array(h, ts, txs, trs, meta).alias("tx_events"),
        _tx_errors_array(h, ts, txs, trs, meta).alias("tx_errors"),
        F.lit(historical).alias("historical"),
    )


# ---------------------------------------------------------------------------
# Exploded normative tables
# ---------------------------------------------------------------------------

def explode_block_events(stream_blocks: DataFrame) -> DataFrame:
    return stream_blocks.select(
        F.explode("block_events").alias("e")
    ).select("e.*")


def explode_tx_events(stream_blocks: DataFrame) -> DataFrame:
    return stream_blocks.select(F.explode("tx_events").alias("e")).select("e.*")


def explode_tx_errors(stream_blocks: DataFrame) -> DataFrame:
    return stream_blocks.select(F.explode("tx_errors").alias("e")).select("e.*")
