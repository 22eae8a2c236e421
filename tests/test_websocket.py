"""RFC 6455 websocket transport (S1) — frame codec, handshake, lifecycle,
and the combined-flow end-to-end with a mid-stream drop.

Reference parity targets: WebSocketFlow.kt:65-115 (lifecycle),
NodeEventStream.kt:28-46 (subscription validation),
BlockDataFlowTest.kt:145-187 (drop + resume shape).
"""

from __future__ import annotations

import json
import os
import socket
import time

import pytest
from pyspark.sql import functions as F

from event_stream_spark.sources.websocket import (
    CLOSE_PROTOCOL_ERROR,
    OP_CLOSE,
    OP_CONT,
    OP_PING,
    OP_TEXT,
    FrameDecoder,
    ProtocolError,
    WebSocketRelay,
    WebSocketServer,
    accept_key,
    encode_frame,
    live_websocket_stream,
    _WsIO,
)

from tests.test_streaming import push_corpus  # noqa: F401  (fixture re-export)


def _pump(q, cond, timeout=60.0):
    """Drive a streaming query until ``cond()`` holds (the transport side
    appends asynchronously, so availability must be polled)."""
    t0 = time.time()
    while time.time() - t0 < timeout:
        q.processAllAvailable()
        if cond():
            return True
        time.sleep(0.05)
    return False


def _wait_for(cond, timeout=10.0) -> bool:
    t0 = time.time()
    while not cond() and time.time() - t0 < timeout:
        time.sleep(0.02)
    return cond()


def _feed_lines(feed: str) -> list[str]:
    """Message lines of a wsfeed buffer (connection header excluded)."""
    if not os.path.exists(feed):
        return []
    with open(feed) as fh:
        return [ln for ln in fh.read().splitlines() if ln and not ln.startswith("#conn:")]


def test_accept_key_rfc_example():
    """The worked example from RFC 6455 §1.3."""
    assert accept_key("dGhlIHNhbXBsZSBub25jZQ==") == "s3pPLMBiTxaQ9kYGzzhZRbK+xOo="


@pytest.mark.parametrize("mask", [False, True])
@pytest.mark.parametrize("n", [0, 1, 125, 126, 65535, 65536])
def test_frame_roundtrip_lengths(n, mask):
    """7-bit, 16-bit, and 64-bit length forms round-trip, masked or not,
    and the decoder is incremental (byte-at-a-time == one chunk)."""
    payload = bytes(i & 0xFF for i in range(n))
    frame = encode_frame(OP_TEXT, payload, mask=mask)

    whole = FrameDecoder().feed(frame)
    assert whole == [(True, OP_TEXT, payload, mask)]

    trickle = FrameDecoder()
    got = []
    step = max(1, n // 7)
    for i in range(0, len(frame), step):
        got += trickle.feed(frame[i:i + step])
    assert got == [(True, OP_TEXT, payload, mask)]


class _FakeSock:
    def __init__(self):
        self.sent = b""

    def sendall(self, data):
        self.sent += data


def test_fragmentation_and_interleaved_ping():
    """A fragmented text message with a control frame between its parts
    reassembles (§5.4); the ping is answered with an echoing pong."""
    sock = _FakeSock()
    io = _WsIO(sock, mask_out=False, require_masked_in=True)
    stream = (
        encode_frame(OP_TEXT, b"hello ", mask=True, fin=False)
        + encode_frame(OP_PING, b"hb", mask=True)
        + encode_frame(OP_CONT, b"world", mask=True)
    )
    events = io.events(stream)
    assert events == [(OP_TEXT, b"hello world")]
    pong = FrameDecoder().feed(sock.sent)
    assert [(fin, op, p) for fin, op, p, _ in pong] == [(True, 0xA, b"hb")]


def test_masking_direction_enforced():
    """An unmasked frame where a masked one is required (client→server) is
    a protocol error — and vice versa."""
    io = _WsIO(_FakeSock(), mask_out=False, require_masked_in=True)
    with pytest.raises(ProtocolError):
        io.events(encode_frame(OP_TEXT, b"x", mask=False))
    io2 = _WsIO(_FakeSock(), mask_out=True, require_masked_in=False)
    with pytest.raises(ProtocolError):
        io2.events(encode_frame(OP_TEXT, b"x", mask=True))


def test_control_frames_must_be_small_and_final():
    with pytest.raises(ProtocolError):
        FrameDecoder().feed(encode_frame(OP_PING, b"x" * 126, mask=True))
    with pytest.raises(ProtocolError):
        FrameDecoder().feed(encode_frame(OP_PING, b"x", mask=True, fin=False))


def _client_handshake(server) -> socket.socket:
    sock = socket.create_connection((server.host, server.port), timeout=5)
    key = "dGhlIHNhbXBsZSBub25jZQ=="
    sock.sendall(
        (
            f"GET /websocket HTTP/1.1\r\nHost: {server.host}\r\n"
            "Upgrade: websocket\r\nConnection: Upgrade\r\n"
            f"Sec-WebSocket-Key: {key}\r\nSec-WebSocket-Version: 13\r\n\r\n"
        ).encode()
    )
    buf = b""
    while b"\r\n\r\n" not in buf:
        buf += sock.recv(65536)
    head, _ = buf.split(b"\r\n\r\n", 1)
    assert b" 101 " in head.split(b"\r\n")[0]
    assert accept_key(key).encode() in head
    return sock


def _recv_frames(sock, want: int, timeout: float = 5.0):
    dec, out = FrameDecoder(), []
    sock.settimeout(timeout)
    while len(out) < want:
        chunk = sock.recv(65536)
        if not chunk:
            break
        out += dec.feed(chunk)
    return out


def test_server_rejects_unmasked_client_frame():
    """RFC 6455 §5.1: a server MUST fail the connection on an unmasked
    client frame — close code 1002."""
    server = WebSocketServer()
    try:
        sock = _client_handshake(server)
        sock.sendall(encode_frame(OP_TEXT, b'{"method":"subscribe"}', mask=False))
        frames = _recv_frames(sock, 1)
        assert frames, "no close frame received"
        fin, op, payload, _ = frames[0]
        assert op == OP_CLOSE
        assert int.from_bytes(payload[:2], "big") == CLOSE_PROTOCOL_ERROR
        assert server.protocol_errors == 1
        sock.close()
    finally:
        server.close()


def test_server_rejects_bad_upgrade():
    """A non-13 version (or missing upgrade headers) gets HTTP 400, before
    any websocket framing."""
    server = WebSocketServer()
    try:
        sock = socket.create_connection((server.host, server.port), timeout=5)
        sock.sendall(
            b"GET / HTTP/1.1\r\nHost: x\r\nUpgrade: websocket\r\n"
            b"Connection: Upgrade\r\nSec-WebSocket-Key: abc\r\n"
            b"Sec-WebSocket-Version: 12\r\n\r\n"
        )
        buf = sock.recv(65536)
        assert buf.startswith(b"HTTP/1.1 400")
        t0 = time.time()
        while server.handshake_rejections == 0 and time.time() - t0 < 5:
            time.sleep(0.01)
        assert server.handshake_rejections == 1
        sock.close()
    finally:
        server.close()


def test_subscribe_ack_retained_replay_and_ping(tmp_path):
    """Full lifecycle without Spark: subscribe acked via JSON-RPC result,
    retained log replayed in order, live push delivered, server ping
    answered by the relay's pong."""
    server = WebSocketServer()
    feed = str(tmp_path / "wsfeed.ndjson")
    server.push([{"n": 1}, {"n": 2}])
    relay = WebSocketRelay(server.host, server.port, feed).start()
    try:
        assert _wait_for(lambda: relay.connections == 1)
        server.push([{"n": 3}])
        _wait_for(lambda: len(_feed_lines(feed)) >= 3)
        got = [json.loads(ln) for ln in _feed_lines(feed)]
        assert [m.get("n") for m in got[:3]] == [1, 2, 3]

        ios = server.ping(b"keepalive")
        assert ios
        t0 = time.time()
        while ios[0].pongs == 0 and time.time() - t0 < 10:
            time.sleep(0.02)
        assert ios[0].pongs >= 1
    finally:
        relay.stop()
        server.close()


def test_relay_keeps_running_past_malformed_frame(tmp_path):
    """A text frame that is not one JSON object is written to the feed as
    its own line, unparsed (``decode`` classifies it ``malformed``
    downstream); the relay keeps its connection and later frames still
    reach the feed.  A multi-line frame stays one feed line."""
    server = WebSocketServer()
    feed = str(tmp_path / "wsfeed.ndjson")
    garbage = '{"jsonrpc":"2.0"}garbage'
    relay = WebSocketRelay(server.host, server.port, feed).start()
    try:
        assert _wait_for(lambda: relay.connections == 1)
        server.push([{"n": 1}, garbage])
        assert _wait_for(lambda: len(_feed_lines(feed)) >= 2)
        server.push(['{\n  "n": 2\n}', {"n": 3}])
        assert _wait_for(lambda: len(_feed_lines(feed)) >= 4)
        got = _feed_lines(feed)
        assert got[:2] == ['{"n":1}', garbage]
        assert [json.loads(ln) for ln in got[2:]] == [{"n": 2}, {"n": 3}]
        assert relay.error is None
        assert relay.connections == 1  # no reconnect, no terminal refusal
    finally:
        relay.stop()
        server.close()


def test_websocket_refuses_bad_subscription(tmp_path):
    """nodeEventStream require() parity over real framing: JSON-RPC error
    response is terminal for the relay — no reconnect storm, no feed."""
    server = WebSocketServer()
    feed = str(tmp_path / "refused.ndjson")
    relay = WebSocketRelay(
        server.host, server.port, feed, subscription="tm.event='Tx'"
    ).start()
    try:
        t0 = time.time()
        while relay.error is None and time.time() - t0 < 10:
            time.sleep(0.02)
        assert relay.error is not None
        assert "unsupported subscription" in str(relay.error)
        assert relay.connections == 0
        assert server.refused == 1
        assert not os.path.exists(feed)
    finally:
        relay.stop()
        server.close()


def test_websocket_transport_combined_with_drop(spark, push_corpus, tmp_path):
    """S1 over REAL RFC 6455 framing: history ∪ live frames pushed through
    WebSocketServer → WebSocketRelay → wsfeed reader = every height once
    (the golden 100+6 on the fixture corpus), surviving a mid-stream hard
    drop; the resubscribed session replays the retained log and height
    dedup absorbs the replay (BlockDataFlowTest.kt:145-187 shape,
    WebSocketFlow.kt:65-115 lifecycle)."""
    from event_stream_spark import decode
    from event_stream_spark.streaming import dedup_heights_stream, historical_stream

    msgs = push_corpus.live_msgs
    assert len(msgs) == len(push_corpus.live_heights)
    server = WebSocketServer()
    feed = str(tmp_path / "wsfeed.ndjson")
    server.push(msgs[:2])  # retained pre-subscribe, replayed on connect

    df, relay = live_websocket_stream(spark, server.host, server.port, feed)
    live = decode.new_blocks(decode.decode_messages(df)).select(
        F.col("block.header.height").cast("long").alias("height"),
        F.lit(False).alias("historical"),
    )
    hist = historical_stream(
        spark,
        push_corpus.hist_heights[0],
        push_corpus.hist_heights[-1],
        decode_tx_meta=False,
        **push_corpus.hist_options,
    ).select("height", "historical")
    merged = dedup_heights_stream(hist.unionByName(live))

    seen: list[tuple[int, bool]] = []
    q = (
        merged.writeStream.outputMode("update")
        .foreachBatch(
            lambda b, _id: seen.extend(
                (r["height"], r["historical"]) for r in b.collect()
            )
        )
        .start()
    )
    try:
        n_live = lambda: sum(1 for _, is_hist in seen if not is_hist)  # noqa: E731
        assert _pump(q, lambda: n_live() >= 2), "first frames never arrived"
        server.drop_connections()  # mid-stream websocket drop
        server.push(msgs[2:])  # delivered on the resubscribed session
        assert _pump(q, lambda: n_live() >= len(msgs)), (
            "post-reconnect frames never arrived"
        )
    finally:
        q.stop()
        relay.stop()
        server.close()

    heights = sorted(h for h, _ in seen)
    assert heights == [*push_corpus.hist_heights, *push_corpus.live_heights]
    live_seen = sorted(h for h, is_hist in seen if not is_hist)
    assert live_seen == list(push_corpus.live_heights)
    assert relay.reconnects >= 1  # the drop really tore the TCP session
    assert server.subscriptions >= 2  # and the client really resubscribed


def test_permessage_deflate_codec_roundtrip():
    """RFC 7692 §7.2: raw-DEFLATE message transform — sync-flush tail
    stripped on the wire, restored on read; empty and large payloads."""
    from event_stream_spark.sources.websocket import pmd_deflate, pmd_inflate

    for payload in (b"", b"x", b'{"jsonrpc":"2.0"}' * 200, bytes(range(256)) * 64):
        wire = pmd_deflate(payload)
        assert not wire.endswith(b"\x00\x00\xff\xff")
        assert pmd_inflate(wire) == payload
    big = b'{"height": 123, "block_events": []}' * 500
    assert len(pmd_deflate(big)) < len(big) // 10  # it actually compresses

    with pytest.raises(ProtocolError):
        pmd_inflate(b"\xff\xff\xff\xff not deflate")


def test_permessage_deflate_negotiation_on_the_wire():
    """A client offering permessage-deflate gets RSV1-compressed pushes; a
    client not offering it gets identical plain frames from the same
    server — negotiation is per-connection."""
    import base64 as _b64
    import json as _json
    import os as _os

    from event_stream_spark.sources.websocket import (
        PMD_OFFER,
        pmd_inflate,
    )

    server = WebSocketServer()
    try:
        socks = {}
        for name, offer in (("plain", False), ("deflate", True)):
            sock = socket.create_connection((server.host, server.port), timeout=5)
            key = _b64.b64encode(_os.urandom(16)).decode()
            ext = f"Sec-WebSocket-Extensions: {PMD_OFFER}\r\n" if offer else ""
            sock.sendall((
                "GET /websocket HTTP/1.1\r\n"
                f"Host: {server.host}:{server.port}\r\n"
                "Upgrade: websocket\r\nConnection: Upgrade\r\n"
                f"Sec-WebSocket-Key: {key}\r\n{ext}"
                "Sec-WebSocket-Version: 13\r\n\r\n"
            ).encode())
            head = b""
            while b"\r\n\r\n" not in head:
                head += sock.recv(65536)
            assert b" 101 " in head.split(b"\r\n")[0]
            assert (b"permessage-deflate" in head.lower()) == offer
            sub = _json.dumps({
                "jsonrpc": "2.0", "method": "subscribe", "id": "0",
                "params": {"query": "tm.event='NewBlock'"},
            }).encode()
            sock.sendall(encode_frame(OP_TEXT, sub, mask=True))
            socks[name] = sock
        deadline = time.time() + 5
        while server.subscriptions < 2 and time.time() < deadline:
            time.sleep(0.02)
        assert server.subscriptions == 2
        assert server.deflate_sessions == 1

        msg = {"height": 7, "block_events": [], "note": "z" * 100}
        server.push([msg])
        want = _json.dumps(msg, separators=(",", ":")).encode()

        # plain connection: ack + push decode with the default (RSV1-
        # rejecting) decoder — proof the frames are uncompressed — and the
        # payload arrives verbatim
        frames = _recv_frames(socks["plain"], 2)
        assert frames[1][1] == OP_TEXT and frames[1][2] == want

        # deflate connection: raw decoder sees RSV1 + compressed payload
        dec, raw = FrameDecoder(extensions_rsv1=True), []
        socks["deflate"].settimeout(5)
        while len(raw) < 2:
            raw += dec.feed(socks["deflate"].recv(65536))
        fin, op, payload, _m, rsv1 = raw[1]
        assert fin and op == OP_TEXT and rsv1
        assert payload != want and pmd_inflate(payload) == want
        for s in socks.values():
            s.close()
    finally:
        server.close()


def test_permessage_deflate_fragmented_message():
    """A compressed message split across frames: RSV1 on the FIRST frame
    only, inflate after reassembly; RSV1 on a continuation is an error."""
    from event_stream_spark.sources.websocket import _WsIO, pmd_deflate

    class _Sock:
        def __init__(self):
            self.sent = b""

        def sendall(self, b):
            self.sent += b

    io = _WsIO(_Sock(), mask_out=False, require_masked_in=True, deflate=True)
    payload = b'{"height": 42, "tx_events": []}' * 50
    wire = pmd_deflate(payload)
    cut = len(wire) // 2
    stream = (
        encode_frame(OP_TEXT, wire[:cut], mask=True, fin=False, rsv1=True)
        + encode_frame(OP_CONT, wire[cut:], mask=True, fin=True)
    )
    assert io.events(stream) == [(OP_TEXT, payload)]
    assert io.compressed_in == 1

    bad = encode_frame(OP_TEXT, wire[:cut], mask=True, fin=False, rsv1=True) \
        + encode_frame(OP_CONT, wire[cut:], mask=True, fin=True, rsv1=True)
    io2 = _WsIO(_Sock(), mask_out=False, require_masked_in=True, deflate=True)
    with pytest.raises(ProtocolError, match="continuation"):
        io2.events(bad)

    # without negotiation the default decoder refuses RSV1 outright
    with pytest.raises(ProtocolError, match="RSV"):
        FrameDecoder().feed(encode_frame(OP_TEXT, b"x", mask=True, rsv1=True))
