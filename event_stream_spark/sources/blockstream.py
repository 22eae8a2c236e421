"""`blockstream` — a PySpark Python DataSource for block ingestion
(S1–S6/S10 restated Spark-natively, SURVEY.md §2.1).

The reference's sources are hand-rolled coroutine loops: poll head → plan
height ranges → fetch pages of ≤20 → emit (PollingFlow.kt:32-49,
HistoricalBlockFlow.kt:26-41, GrpcBlockFlow.kt:26-66).  Structured Streaming's
source contract IS that loop, formalized:

- ``initialOffset``    = the ``from`` height (reference: resolved once up
                         front, MultiplexBlockDataFlow.kt:207-215)
- ``latestOffset``     = current chain head (reference: pollingFlow tick)
- ``partitions(a, b)`` = core-sized height ranges fetched in parallel
                         (reference: chunking + bounded concurrency — here the
                         cluster scheduler does the fan-out)
- ``read(partition)``  = the per-range RPC fetch (two calls per height, J1)
- checkpointed offsets subsume `Checkpoint(checkEvery=20)` (Checkpoint.kt:6-34)

Rows are raw JSON pairs ``(height, block_json, block_results_json)`` plus
``tx_meta``, each tx's (fee, denom, note) decoded where the block JSON
already is in Python (P5) — the same enrich DataFrame transforms serve batch
and streaming unchanged.  One function, ``read_batches``, is every node read:
it builds the node, fetches a height range, decodes, closes the node and
yields Arrow batches of ``SCHEMA``.

The streaming reader covers the polling live tail (S3/S4/S10): streaming
needs replayable height offsets.  The bounded historical scan (S5) needs
none, so ``streaming.historical_stream(streaming=False)`` reads it as
``spark.range(from, to + 1)`` mapped through ``fetch_heights`` — no Python
planner per job.  ``spark.read.format("blockstream")`` still reads the same
bounded scan through ``BlockBatchReader``.

Four built-in node backends stand behind one seam, like the reference's
NetAdapter (NetAdapter.kt:13-30): ``fixtures`` replays the golden template
corpus; ``synthetic`` generates deterministic blocks for scale/soak tests;
``http`` speaks real HTTP RPC (two GETs per height + /status head probe,
retried with backoff — the TendermintServiceOpenApiClient fetch model) via
``sources/rpcnode.py``; ``grpc`` speaks real gRPC over HTTP/2 (the
GrpcBlockFlow fetcher) via ``sources/grpcwire.py``.  Readers build a node
per ``read()`` from the options, so no node is pickled to executors.
"""

from __future__ import annotations

import base64
import itertools
import json
import os
from collections.abc import Iterator, Sequence
from contextlib import closing

import pyarrow as pa
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

from event_stream_spark.operators.txmeta import TX_META_ELEM, tx_meta_list

SCHEMA = (
    "height BIGINT, block_json STRING, block_results_json STRING, "
    f"tx_meta array<{TX_META_ELEM}>"
)
#: ``tx_meta``'s Arrow type (``TX_META_ELEM``)
_TX_META_ARROW = pa.list_(
    pa.struct(
        [("fee", pa.decimal128(38, 0)), ("denom", pa.string()), ("note", pa.string())]
    )
)

#: rows per Arrow batch (Spark's default ``arrow.maxRecordsPerBatch``): a
#: deep range streams out of a task instead of being held whole
BATCH_ROWS = 10_000

#: fewest heights per partition: a live trigger of a dozen heights stays one
#: task instead of paying the per-task set-up twice
MIN_RANGE_HEIGHTS = 20


class HeightRange(InputPartition):
    def __init__(self, lo: int, hi: int):
        self.lo = lo
        self.hi = hi


# ---------------------------------------------------------------------------
# Node backends
# ---------------------------------------------------------------------------

class FixtureNode:
    """Replays the golden fixture corpus from a directory with
    ``block/<height>.json`` and ``block_results/<height>.json``."""

    def __init__(self, root: str):
        self.root = root

    def close(self) -> None:
        pass  # no connection to release

    def head(self) -> int:
        heights = [
            int(f[:-5])
            for f in os.listdir(os.path.join(self.root, "block"))
            if f.endswith(".json")
        ]
        return max(heights)

    def fetch(self, height: int) -> tuple[str | None, str | None]:
        def rd(sub: str) -> str | None:
            p = os.path.join(self.root, sub, f"{height}.json")
            if not os.path.exists(p):
                return None
            with open(p) as fh:
                return fh.read()

        return rd("block"), rd("block_results")


#: synthetic chain length — finite so head()-derived planning (open ``to``,
#: ``from="latest"``, unbounded live polls) stays bounded
SYNTHETIC_HEAD = 10_000


class SyntheticNode:
    """Deterministic fake chain: every height yields a valid block/results
    JSON pair; ~1 in 3 blocks carries txs (mirroring the 29% non-empty golden
    corpus).  The chain is ``head`` blocks long — a finite head, because an
    "infinite" sentinel head makes any head-resolved plan (open ``to`` /
    unbounded live tail) enumerate ~2^62 heights on the driver."""

    def __init__(self, chain_id: str = "synthetic-1", head: int = SYNTHETIC_HEAD):
        self.chain_id = chain_id
        self._head = int(head)

    def close(self) -> None:
        pass  # no connection to release

    def head(self) -> int:
        return self._head

    def fetch(self, height: int) -> tuple[str, str]:
        n_txs = height % 3 if height % 3 != 2 else 0
        txs = [
            base64.b64encode(f"tx-{height}-{i}".encode()).decode()
            for i in range(n_txs)
        ]
        ts = f"2021-01-01T00:{(height // 60) % 60:02d}:{height % 60:02d}Z"
        block = {
            "jsonrpc": "2.0",
            "result": {
                "block": {
                    "header": {
                        "chain_id": self.chain_id,
                        "height": str(height),
                        "time": ts,
                        "proposer_address": f"{height:040X}"[:40],
                    },
                    "data": {"txs": txs},
                }
            },
        }
        results = {
            "jsonrpc": "2.0",
            "result": {
                "height": str(height),
                "txs_results": [
                    {
                        "code": 0 if (height + i) % 10 else 1,
                        "log": "" if (height + i) % 10 else "synthetic error",
                        "events": [
                            {
                                "type": "transfer",
                                "attributes": [
                                    {
                                        "key": base64.b64encode(b"amount").decode(),
                                        "value": base64.b64encode(
                                            str(100 * height + i).encode()
                                        ).decode(),
                                        "index": False,
                                    }
                                ],
                            }
                        ],
                    }
                    for i in range(n_txs)
                ],
                "begin_block_events": [
                    {
                        "type": "mint",
                        "attributes": [
                            {
                                "key": base64.b64encode(b"amount").decode(),
                                "value": base64.b64encode(str(height).encode()).decode(),
                                "index": False,
                            }
                        ],
                    }
                ],
            },
        }
        return json.dumps(block), json.dumps(results)


def _make_node(options: dict):
    """The NetAdapter seam (NetAdapter.kt:13-30): build the node backend
    named by ``backend`` — one of the four built-ins ``fixtures``,
    ``synthetic``, ``http`` (option ``rpc_url``) and ``grpc`` (option
    ``grpc_target``; the reference's gRPC fetcher,
    es-grpc/.../GrpcBlockFlow.kt:26-66).  Each transport client and its
    server (``RpcNodeServer``, ``GrpcBlockServer``) carry the same content
    node, so every backend yields the same (block_json, block_results_json)
    pairs."""
    backend = options.get("backend", "synthetic")
    if backend == "fixtures":
        # single option name; the CLI's --templates-dir flag maps to it
        root = options.get("fixtures_dir")
        if not root:
            raise ValueError("fixtures backend needs fixtures_dir")
        return FixtureNode(root)
    if backend == "synthetic":
        return SyntheticNode(options.get("chain_id", "synthetic-1"))
    if backend == "http":
        # real-wire HTTP RPC (two GETs per height + /status head probe),
        # with 502/transient-fault retry — sources/rpcnode.py
        from event_stream_spark.sources.rpcnode import HttpNode

        return HttpNode(options)
    if backend == "grpc":
        # real-wire gRPC over HTTP/2, same retry policy — sources/grpcwire.py
        from event_stream_spark.sources.grpcwire import GrpcNode

        return GrpcNode(options)
    raise ValueError(f"unknown blockstream backend: {backend}")


def _plan(lo: int, hi: int, cores: int) -> Sequence[HeightRange]:
    """[lo, hi] inclusive → ``min(2 * cores, ceil(n / MIN_RANGE_HEIGHTS))``
    contiguous ranges, sizes within one.  The reference's 20-height pages
    (MetadataStream.kt:59-77) are an RPC range limit; this source fetches per
    height, so the range count only sets the Spark task count."""
    n = hi - lo + 1
    if n <= 0:
        return []
    k = max(1, min(2 * cores, -(-n // MIN_RANGE_HEIGHTS)))
    size, extra = divmod(n, k)
    cuts = [lo + i * size + min(i, extra) for i in range(k + 1)]
    return [HeightRange(a, b - 1) for a, b in zip(cuts, cuts[1:])]


def _cores(options: dict) -> int:
    # planning runs in a Python worker without a SparkContext: the driver-side
    # builder passes defaultParallelism in; a bare read plans for this host
    return int(options.get("_cores") or os.cpu_count() or 1)


def _bounds(options: dict) -> tuple[int, int]:
    """The bounded scan's ``[from, to]``, checked on the driver."""
    if options.get("to_height") is None:
        raise ValueError(
            "batch blockstream scan is bounded: pass to_height "
            "(use the streaming reader for an open-ended tail)"
        )
    lo, hi = int(options["from_height"]), int(options["to_height"])
    if lo > hi:
        raise ValueError(f"from ({lo}) must be <= to ({hi})")
    return lo, hi


def _read_range(node, part: HeightRange) -> Iterator[tuple]:
    for h in range(part.lo, part.hi + 1):
        block_json, results_json = node.fetch(h)
        if block_json is None:
            continue  # missing block: skipped (gap-fill is the reader's union)
        yield (h, block_json, results_json)


def _block_txs(block_json: str) -> list | None:
    try:
        txs = json.loads(block_json)["result"]["block"]["data"]["txs"]
    except (ValueError, KeyError, TypeError):
        return None  # what from_json gives the enrich path: no txs
    return txs if isinstance(txs, list) else None


def read_batches(options: dict, part: HeightRange) -> Iterator[pa.RecordBatch]:
    """Every node read: build the node, fetch ``part``, decode each block's
    ``data.txs`` into ``tx_meta``, close the node.  Yields ``SCHEMA``
    batches of at most ``BATCH_ROWS`` rows."""
    with closing(_make_node(options)) as node:
        rows = _read_range(node, part)
        while chunk := list(itertools.islice(rows, BATCH_ROWS)):
            heights, blocks, results = zip(*chunk)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(heights, pa.int64()),
                    pa.array(blocks, pa.string()),
                    pa.array(results, pa.string()),
                    pa.array([tx_meta_list(_block_txs(b)) for b in blocks], _TX_META_ARROW),
                ],
                names=["height", "block_json", "block_results_json", "tx_meta"],
            )


def fetch_heights(options: dict):
    """``mapInArrow`` body for ``spark.range(from, to + 1)``: a task's ids
    are one contiguous range, read with one node."""

    def fetch(id_batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        ids = [b.column(0) for b in id_batches if b.num_rows]
        if ids:
            part = HeightRange(ids[0][0].as_py(), ids[-1][-1].as_py())
            yield from read_batches(options, part)

    return fetch


# ---------------------------------------------------------------------------
# Readers
# ---------------------------------------------------------------------------

class BlockBatchReader(DataSourceReader):
    """S5 bounded historical scan as ``spark.read.format("blockstream")``.
    The package's own batch read is ``spark.range`` + ``fetch_heights``;
    both read through ``read_batches``."""

    def __init__(self, options: dict):
        self.options = options
        self.lo, self.hi = _bounds(options)

    def partitions(self) -> Sequence[InputPartition]:
        return _plan(self.lo, self.hi, _cores(self.options))

    def read(self, partition: HeightRange) -> Iterator[pa.RecordBatch]:
        return read_batches(self.options, partition)


class BlockStreamReader(DataSourceStreamReader):
    """S3/S4/S10 polling live source with height offsets.

    ``latestOffset`` reports the (optionally ``to``-bounded) chain head, so
    a query restarted from its checkpoint plans exactly the uncommitted
    [committed+1, head] span: no dupes, no gaps.  The optional
    ``max_heights_per_trigger`` throttle (O7) keeps a cursor; it is re-seeded
    from the committed offset in ``partitions()`` so a restarted reader never
    reports a capped head below the checkpoint for more than one poll.
    """

    def __init__(self, options: dict):
        self.options = options
        self.start = int(options.get("from_height", 1))
        self.to = int(options["to_height"]) if "to_height" in options else None
        # O7 throttle (the reference's buffer caps, EventStream.kt:239 /
        # MultiplexFlow.kt:74): bound each microbatch's height span so a
        # deep backlog drains in rate-limited steps instead of one giant
        # batch (same knob as Kafka's maxOffsetsPerTrigger)
        self.max_per_trigger = int(options.get("max_heights_per_trigger", 0)) or None
        self._last = self.start - 1

    def initialOffset(self) -> dict:
        return {"height": self.start - 1}

    def latestOffset(self) -> dict:
        if self.to is not None and self._last >= self.to:
            # monotonic and capped at ``to``: a finished bounded stream's
            # answer cannot change, so the head is not probed again
            return {"height": self._last}
        with closing(_make_node(self.options)) as node:
            head = node.head()
        if self.to is not None:
            head = min(head, self.to)
        if self.max_per_trigger is not None:
            head = min(head, self._last + self.max_per_trigger)
        # monotonic and never below ``from - 1``: a head still under
        # ``from`` must not become a committed offset, or the batch after
        # the chain grows would plan heights below ``from``
        self._last = max(self._last, head)
        return {"height": self._last}

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        # re-seed the throttle cursor from the committed offset: a restarted
        # reader would otherwise report capped heads below the checkpoint
        # for a few empty triggers before catching up
        self._last = max(self._last, start["height"])
        return _plan(start["height"] + 1, end["height"], _cores(self.options))

    def read(self, partition: HeightRange) -> Iterator[pa.RecordBatch]:
        return read_batches(self.options, partition)

    def commit(self, end: dict) -> None:
        pass  # offsets live in the checkpoint log


class BlockStreamDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "blockstream"

    def schema(self) -> str:
        return SCHEMA

    def reader(self, schema) -> DataSourceReader:
        return BlockBatchReader(self.options)

    def streamReader(self, schema) -> DataSourceStreamReader:
        return BlockStreamReader(self.options)


def register(spark) -> None:
    spark.dataSource.register(BlockStreamDataSource)
