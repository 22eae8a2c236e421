"""P5: tx metadata decode — base64 protobuf tx → (fee, denom, note).

The reference parses the payload with generated cosmos-sdk protobuf classes
and takes ``authInfo.fee.amount.firstOrNull()`` + ``body.memo``
(models/Extensions.kt:37-50).  We have no protobuf runtime in the container,
so this implements a ~50-line reader of the public protobuf *wire format*
(varint / length-delimited fields) walking the cosmos ``Tx`` message shape:

    Tx            { 1: body(TxBody), 2: auth_info(AuthInfo) }
    TxBody        { 2: memo(string) }
    AuthInfo      { 2: fee(Fee) }
    Fee           { 1: amount(repeated Coin) }
    Coin          { 1: denom(string), 2: amount(string) }

Failure semantics mirror the reference: unparseable tx → null fee/denom/note
(runCatching → null), amount string not of Java ``BigInteger``'s ASCII form
``[+-]?[0-9]+`` → 0 (InnerCoin.kt:6-8).  One deviation: an amount beyond
``DECIMAL(38,0)`` (cosmos ``sdk.Int`` allows 256 bits) gives a null fee with
denom and note kept, where the reference's ``BigInteger`` is unbounded.

A node read already holds each block's JSON in Python, so the
``blockstream`` fetch (``sources/blockstream.py::read_batches``) decodes
there and emits ``tx_meta`` as a source column: the batch backfill and the
live tail run no tx-meta step of their own.  Only the lake join
(``enrich_stream_blocks``), whose txs come from parquet with no Python pass
to share, adds the column with an Arrow-batched pandas UDF over the
per-block tx array.  Both go through ``tx_meta_list``.  tx_hash stays
JVM-side (functions/hashing.py).
"""

from __future__ import annotations

import base64
import re

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

TX_META_ELEM = "struct<fee: decimal(38,0), denom: string, note: string>"

#: what Java's ``BigInteger(String)`` parses, in ASCII
_AMOUNT = re.compile(rb"[+-]?[0-9]+")
#: the largest ``decimal(38,0)`` magnitude
_MAX_FEE = 10**38 - 1


def _fields(buf: bytes):
    """Iterate (field_number, wire_type, value) over a protobuf message body.

    Supports wire types 0 (varint), 1 (fixed64), 2 (len-delimited), 5 (fixed32).
    Raises on malformed input (caller treats as undecodable).
    """
    i, n = 0, len(buf)
    while i < n:
        # read tag varint
        shift, tag = 0, 0
        while True:
            if i >= n:
                raise ValueError("truncated tag")
            b = buf[i]
            i += 1
            tag |= (b & 0x7F) << shift
            shift += 7
            if not b & 0x80:
                break
        field, wt = tag >> 3, tag & 7
        if wt == 0:
            shift, val = 0, 0
            while True:
                if i >= n:
                    raise ValueError("truncated varint")
                b = buf[i]
                i += 1
                val |= (b & 0x7F) << shift
                shift += 7
                if not b & 0x80:
                    break
            yield field, wt, val
        elif wt == 1:
            yield field, wt, buf[i : i + 8]
            i += 8
        elif wt == 2:
            shift, ln = 0, 0
            while True:
                if i >= n:
                    raise ValueError("truncated len")
                b = buf[i]
                i += 1
                ln |= (b & 0x7F) << shift
                shift += 7
                if not b & 0x80:
                    break
            if i + ln > n:
                raise ValueError("truncated bytes")
            yield field, wt, buf[i : i + ln]
            i += ln
        elif wt == 5:
            yield field, wt, buf[i : i + 4]
            i += 4
        else:
            raise ValueError(f"unsupported wire type {wt}")


def _first(buf: bytes, field: int) -> bytes | None:
    for f, wt, v in _fields(buf):
        if f == field and wt == 2:
            return v
    return None


def decode_tx_meta(tx_b64: str | None) -> tuple[int | None, str | None, str | None]:
    """One tx payload → (fee_amount, denom, memo); Nones if undecodable."""
    if tx_b64 is None:
        return (None, None, None)
    try:
        raw = base64.b64decode(tx_b64, validate=True)
        body = _first(raw, 1)
        auth = _first(raw, 2)
        # proto3 omits empty strings on the wire, and the reference does
        # `decodedTxData.body.memo ?: ""` — so a parseable tx with no memo
        # field yields "" (None is reserved for undecodable payloads).
        memo = ""
        if body is not None:
            m = _first(body, 2)
            if m is not None:
                memo = m.decode("utf-8", errors="replace")
        fee_amount, denom = None, None
        if auth is not None:
            fee = _first(auth, 2)
            if fee is not None:
                coin = _first(fee, 1)
                if coin is not None:
                    # an absent field is proto3's empty string: denom "",
                    # amount "" (which BigInteger rejects, so fee 0)
                    denom = (_first(coin, 1) or b"").decode("utf-8", errors="replace")
                    a = _first(coin, 2) or b""
                    # InnerCoin.kt:6-8 ZERO-on-fail; null past decimal(38,0)
                    fee_amount = int(a) if _AMOUNT.fullmatch(a) else 0
                    if abs(fee_amount) > _MAX_FEE:
                        fee_amount = None
        return (fee_amount, denom, memo)
    except Exception:
        return (None, None, None)


def tx_meta_list(txs) -> list[dict]:
    """One block's tx payloads → its ``tx_meta`` array (empty for no txs)."""
    if txs is None:
        return []
    return [
        {"fee": f, "denom": d, "note": m}
        for (f, d, m) in (decode_tx_meta(t) for t in txs)
    ]


def _tx_meta_batch(txs: pd.Series) -> pd.Series:
    return txs.map(tx_meta_list)


def with_tx_meta_column(df: DataFrame, *, enabled: bool = True) -> DataFrame:
    """Add ``tx_meta: array<struct<fee,denom,note>>`` aligned with ``txs``
    (replacing any such column); ``enabled=False`` gives null entries.

    The pandas UDF is constructed lazily (a module-level decorator would parse
    the DDL type at import time, which fails on executors with no session).
    """
    if not enabled:
        null_meta = F.transform(
            F.coalesce(F.col("txs"), F.array()),
            lambda _: F.lit(None).cast(TX_META_ELEM),
        )
        return df.withColumn("tx_meta", null_meta)
    udf = pandas_udf(_tx_meta_batch, f"array<{TX_META_ELEM}>")
    return df.withColumn("tx_meta", udf(F.col("txs")))
