"""`wsfeed` — push-driven live message transport (S1/S8, SURVEY.md §2.1).

The reference's flagship live path is a managed websocket subscription:
``webSocketClient`` subscribes ``tm.event='NewBlock'`` / ``'NewBlockHeader'``,
emits raw messages, and handles the open/close/fail lifecycle with throttle
and reconnect backoff (es-core/.../stream/flows/WebSocketFlow.kt:65-115,
lifecycle EventStreamService.kt:36-73).  ``nodeEventStream`` rejects
unsupported subscription types (NodeEventStream.kt:28-46).

Spark restatement: a push channel IS an append-only message log consumed by
offset — exactly Structured Streaming's source contract.  The feed here is a
local NDJSON file an external process appends compact JSON messages to (the
stand-in for the socket buffer; a production deployment points the same
reader at a durable log).  Semantics carried over:

- **subscription validation** — only NewBlock / NewBlockHeader subscriptions
  are accepted, mirroring ``nodeEventStream``'s ``require``.
- **throttle** — ``max_per_trigger`` caps messages per microbatch
  (WebSocketFlow's throttle duration restated as rate-per-batch, the same
  knob Spark's Kafka source calls maxOffsetsPerTrigger).
- **reconnect** — a truncated/rotated feed file is a dropped connection: the
  reader re-opens from the top of the new file and continues emitting under
  monotonically increasing global offsets (a resubscribe).  Delivery across
  reconnects is at-least-once; the combined flow's height dedup (F5) makes
  it exactly-once downstream, the same division of labor as the reference's
  lastSeen skip + gap-fill (MultiplexFlow.kt:142-145, ContiguousFlow.kt).
- **connection-down** — a missing feed file simply yields no new offsets
  (the poll loop idles); ``reconnects`` counts channel re-opens for
  observability.

Rows are ``(offset, payload)`` raw message strings — the same
``decode_messages`` / ``new_blocks`` / ``new_block_headers`` operators serve
this source unchanged (S2).
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

SCHEMA = "offset BIGINT, payload STRING"

SUBSCRIPTION_NEW_BLOCK = "tm.event='NewBlock'"
SUBSCRIPTION_NEW_BLOCK_HEADER = "tm.event='NewBlockHeader'"
_VALID_SUBSCRIPTIONS = {SUBSCRIPTION_NEW_BLOCK, SUBSCRIPTION_NEW_BLOCK_HEADER}


_CONN_PREFIX = "#conn:"


def open_connection(feed_path: str) -> str:
    """Producer side of the channel handshake: (re)create the feed buffer
    with a fresh connection-id header line.  A websocket connection is an
    explicit open — the feed protocol makes it explicit too, so the reader
    can distinguish a resubscribed channel from more data on the old one."""
    import uuid

    conn = uuid.uuid4().hex
    with open(feed_path, "w") as fh:
        fh.write(f"{_CONN_PREFIX}{conn}\n")
        fh.flush()
        os.fsync(fh.fileno())
    return conn


def append_messages(feed_path: str, messages: list[str | dict]) -> None:
    """Producer side: append messages to the feed, one per line (the
    channel framing).  A dict is written as compact JSON, a string as given
    (it must hold no line break) — nothing is parsed here; ``decode`` classifies each payload, a non-JSON
    one as ``malformed``.  Opens a connection first if the feed does not
    exist.  Atomic-ish: single write+flush."""
    if not os.path.exists(feed_path):
        open_connection(feed_path)
    lines = [
        m if isinstance(m, str) else json.dumps(m, separators=(",", ":"))
        for m in messages
    ]
    with open(feed_path, "a") as fh:
        fh.write("".join(line + "\n" for line in lines))
        fh.flush()
        os.fsync(fh.fileno())


def _feed_state(path: str) -> tuple[str | None, int]:
    """(connection_id, message_count) of the feed; (None, -1) when the
    channel is down.  The header line identifies the CONNECTION: a recreated
    feed is a new subscription even if it already holds as many messages as
    the old one (inodes/sizes can collide; the explicit id cannot)."""
    try:
        with open(path) as fh:
            first = fh.readline()
            if not first.startswith(_CONN_PREFIX):
                return (None, -1)  # half-open: header not yet visible
            conn = first[len(_CONN_PREFIX):].strip()
            return (conn, sum(1 for _ in fh))
    except OSError:
        return (None, -1)


class _LineRange(InputPartition):
    def __init__(self, path: str, start_line: int, end_line: int, base: int):
        self.path = path
        self.start_line = start_line
        self.end_line = end_line
        self.base = base  # global offset of this file's line 0


class WsFeedStreamReader(DataSourceStreamReader):
    """Push-channel reader with monotonic global offsets.

    ``latestOffset`` polls the feed length (the push buffer's high-water
    mark); rotation detection (length shrank) re-bases the mapping from file
    lines to global offsets — a reconnect.  Restart-from-checkpoint re-reads
    the current connection's buffer from its top (at-least-once; see module
    docstring for why that is the correct contract here).
    """

    def __init__(self, options: dict):
        self.path = options.get("feed_path")
        if not self.path:
            raise ValueError("wsfeed needs feed_path")
        sub = options.get("subscription", SUBSCRIPTION_NEW_BLOCK)
        if sub not in _VALID_SUBSCRIPTIONS:
            raise ValueError(
                f"unsupported subscription type: {sub!r} "
                f"(NodeEventStream.kt:28-46 parity — use one of {sorted(_VALID_SUBSCRIPTIONS)})"
            )
        self.max_per_trigger = int(options.get("max_per_trigger", 0)) or None
        self._base = 0  # global offset of current connection's message 0
        self._conn = None  # connection identity (feed header line)
        self._last_lines = 0
        self._last_global = 0
        self.reconnects = 0
        # The (conn, base) line→global rebase mapping must survive a query
        # restart: checkpointed global offsets are meaningless against the
        # current file without it (a fresh reader would remap them straight
        # onto line numbers, stalling or skipping post-reconnect messages).
        # Persisted in commit() as a sidecar next to the feed — one consumer
        # per feed, like a websocket subscription; override with
        # ``offsets_path`` when the feed location isn't writable.
        self.offsets_path = options.get("offsets_path") or (self.path + ".offsets")
        self._load_rebase_state()

    def _load_rebase_state(self) -> None:
        try:
            with open(self.offsets_path) as fh:
                st = json.load(fh)
            self._conn = st.get("conn")
            self._base = int(st.get("base", 0))
            self._last_global = int(st.get("global", 0))
            self._last_lines = max(0, self._last_global - self._base)
        except (OSError, ValueError):
            pass  # no sidecar yet: first run

    def initialOffset(self) -> dict:
        return {"global": 0}

    def latestOffset(self) -> dict:
        conn, lines = _feed_state(self.path)
        if lines < 0:
            return {"global": self._last_global}  # channel down: idle poll
        if (self._conn is not None and conn != self._conn) or lines < self._last_lines:
            # new connection id or in-place truncation → dropped connection,
            # resubscribed: the new buffer starts a new span of the global
            # offset sequence
            self._base = self._last_global
            self.reconnects += 1
        self._conn = conn
        self._last_lines = lines
        target = self._base + lines
        if self.max_per_trigger is not None:
            target = min(target, self._last_global + self.max_per_trigger)
        self._last_global = max(self._last_global, target)
        # Write-through on every poll, not only in commit(): the final
        # batch's commit() can race query stop, and a sidecar that lags the
        # checkpoint under-delivers after a reconnect-while-down.  An
        # OVER-advanced sidecar is safe — the clamped s = max(0, lo - base)
        # mapping degrades to replay (at-least-once), never to skip.
        self._persist(self._last_global)
        return {"global": self._last_global}

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        lo, hi = start["global"], end["global"]
        if lo >= hi:
            return []
        # map the global span onto current-file lines (clamped: offsets from
        # a pre-reconnect span resolve to the top of the new file)
        s = max(0, lo - self._base)
        e = max(s, hi - self._base)
        return [_LineRange(self.path, s, e, self._base)]

    def read(self, partition: _LineRange) -> Iterator[tuple]:
        from itertools import islice

        if not os.path.exists(partition.path):
            return
        with open(partition.path) as fh:
            # +1 skips the connection-id header line
            for i, line in enumerate(
                islice(fh, partition.start_line + 1, partition.end_line + 1),
                start=partition.start_line,
            ):
                line = line.strip()
                if line and not line.startswith(_CONN_PREFIX):
                    yield (partition.base + i, line)

    def _persist(self, global_offset: int) -> None:
        """Persist the connection→global rebase mapping (atomic replace).
        The offsets themselves live in the checkpoint log; this sidecar is
        what makes them resolvable against the feed file after a restart."""
        st = {"conn": self._conn, "base": self._base, "global": int(global_offset)}
        tmp = self.offsets_path + ".tmp"
        try:
            with open(tmp, "w") as fh:
                json.dump(st, fh)
            os.replace(tmp, self.offsets_path)
        except OSError:
            pass

    def commit(self, end: dict) -> None:
        self._persist(max(self._last_global, int(end["global"])))


class WsFeedDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "wsfeed"

    def schema(self) -> str:
        return SCHEMA

    def streamReader(self, schema) -> DataSourceStreamReader:
        return WsFeedStreamReader(self.options)


def register(spark) -> None:
    spark.dataSource.register(WsFeedDataSource)


def live_message_stream(spark, feed_path: str, **options):
    """S1: streaming DataFrame of raw ws messages from a push feed."""
    register(spark)
    return (
        spark.readStream.format("wsfeed")
        .options(feed_path=feed_path, **{k: str(v) for k, v in options.items()})
        .load()
    )
