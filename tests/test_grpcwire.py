"""Real gRPC transport (S10): HTTP/2 framing, HPACK, protobuf wire coding,
the unary call lifecycle, transport conformance of every node backend, and
the Spark source driven over the real wire.

Parity targets: es-grpc/.../flows/grpc/GrpcBlockFlow.kt:26-66 (fetcher
composition), GrpcBlockSource semantics via the shared planner.
"""

from __future__ import annotations

import socket

import pytest

from event_stream_spark.operators.txmeta import _fields
from event_stream_spark.sources.blockstream import SyntheticNode, _make_node
from event_stream_spark.sources.http2 import (
    FRAME_HEADERS,
    FrameReader,
    H2ProtocolError,
    HpackDecoder,
    HpackEncoder,
    encode_frame,
    _dec_int,
    _enc_int,
)
from event_stream_spark.sources.grpcwire import (
    GrpcBlockServer,
    GrpcNode,
    GrpcStatusError,
    _proto_to_pair,
    grpc_frame,
    grpc_unframe,
    pb_str,
    pb_varint,
)
from event_stream_spark.sources.rpcnode import RpcNodeServer


def test_hpack_integer_prefix_boundaries():
    """RFC 7541 §C.1 worked examples: 10 in 5 bits, 1337 in 5 bits
    (multi-byte continuation), 42 in 8 bits."""
    assert _enc_int(10, 5, 0) == bytes([0b01010])
    assert _enc_int(1337, 5, 0) == bytes([0b11111, 0b10011010, 0b00001010])
    assert _enc_int(42, 8, 0) == bytes([42])
    for v, bits in [(10, 5), (1337, 5), (42, 8), (0, 4), (127, 7), (16384, 6)]:
        data = _enc_int(v, bits, 0)
        got, pos = _dec_int(data, 0, bits)
        assert (got, pos) == (v, len(data))


def test_hpack_roundtrip_and_instruction_set():
    enc, dec = HpackEncoder(), HpackDecoder()
    headers = [
        (":method", "POST"),
        (":path", "/es.BlockService/GetBlockByHeight"),
        ("content-type", "application/grpc"),
        ("te", "trailers"),
    ]
    assert dec.decode(enc.encode(headers)) == headers

    # indexed static field: index 3 = (:method, POST)
    assert HpackDecoder().decode(bytes([0x80 | 3])) == [(":method", "POST")]

    # literal WITH incremental indexing grows the dynamic table: second
    # reference by index 62 (first dynamic slot) resolves to the same pair
    d = HpackDecoder()
    block = bytes([0x40]) + bytes([5]) + b"x-key" + bytes([3]) + b"abc"
    assert d.decode(block) == [("x-key", "abc")]
    assert d.decode(bytes([0x80 | 62])) == [("x-key", "abc")]

    # Huffman bit → explicit rejection, not silent garbage
    with pytest.raises(H2ProtocolError):
        HpackDecoder().decode(bytes([0x00, 0x80 | 1, 0xFF]))


def test_frame_reader_incremental():
    f1 = encode_frame(FRAME_HEADERS, 0x4, 1, b"abc")
    f2 = encode_frame(0x0, 0x1, 1, b"payload")
    whole = FrameReader().feed(f1 + f2)
    trickle_reader = FrameReader()
    trickle = []
    blob = f1 + f2
    for i in range(len(blob)):
        trickle += trickle_reader.feed(blob[i:i + 1])
    assert whole == trickle == [
        (FRAME_HEADERS, 0x4, 1, b"abc"),
        (0x0, 0x1, 1, b"payload"),
    ]


def test_grpc_message_framing_roundtrip():
    msgs = [b"", b"x", b"y" * 300]
    blob = b"".join(grpc_frame(m) for m in msgs)
    assert grpc_unframe(blob) == msgs


def test_protobuf_wire_roundtrip():
    body = pb_varint(2, 300) + pb_str(1, "chain-1") + pb_str(3, "")
    fields = list(_fields(body))
    # proto3 default elision: empty string field 3 is not emitted
    assert fields == [(2, 0, 300), (1, 2, b"chain-1")]


def test_grpc_decode_raises_on_truncated_field():
    """A length-delimited field cut short is an error, not a short payload:
    the response decoder shares txmeta's strict wire-format reader."""
    with pytest.raises(ValueError, match="truncated bytes"):
        _proto_to_pair(b"\x0a\x05ab", 1)


#: heights the gapped node has no block for / no block results for
NO_BLOCK, NO_RESULTS = 5, 6
#: 1 tx (h=1, 61), no txs (h=2, 3, 59, 60), a failing tx (h=10, code 1),
#: a minute rollover (h=60)
CONFORMANCE_HEIGHTS = (1, 2, 3, 10, 59, 60, 61)


class _GappedNode(SyntheticNode):
    """A synthetic chain with holes, to carry missing payloads across the
    wire: ``(None, None)`` at NO_BLOCK, ``(block, None)`` at NO_RESULTS."""

    def fetch(self, height):
        block, results = super().fetch(height)
        if height == NO_BLOCK:
            return None, None
        if height == NO_RESULTS:
            return block, None
        return block, results


@pytest.mark.parametrize("transport", ["synthetic", "http", "grpc"])
def test_transport_conformance(transport):
    """Every node transport serves the same content node and returns its
    (block_json, block_results_json) pairs byte for byte, including missing
    blocks and missing results.  A new transport must pass this test."""
    node = _GappedNode("conformance-1", head=77)
    server = None
    if transport == "synthetic":
        client = node
    elif transport == "http":
        server = RpcNodeServer(node)
        client = _make_node({"backend": "http", "rpc_url": server.url})
    else:
        server = GrpcBlockServer(node)
        client = _make_node({"backend": "grpc",
                             "grpc_target": f"{server.host}:{server.port}"})
    try:
        assert client.head() == 77
        heights = CONFORMANCE_HEIGHTS + (NO_BLOCK, NO_RESULTS)
        for h in heights:
            assert client.fetch(h) == node.fetch(h)
        calls = 1 + len(heights)
        if transport == "http":
            assert server.requests == 1 + 2 * (calls - 1)  # two GETs per height
            # keep-alive: every GET, 404s included, on one connection
            assert server.connections == 1
        elif transport == "grpc":
            # connection reuse: many calls, one dial, distinct odd stream ids
            assert server.connections == 1
            assert server.calls == calls
    finally:
        if server is not None:
            server.close()
        if transport == "grpc":
            client.close()


def test_grpc_node_redials_after_server_closes_connection():
    """A connection the server closed between calls is a transport fault:
    the next call redials and succeeds instead of failing the read."""
    node = SyntheticNode()
    server = GrpcBlockServer(node)
    client = GrpcNode({"grpc_target": f"{server.host}:{server.port}"})
    try:
        assert client.fetch(1) == node.fetch(1)
        for sock in server._socks:
            sock.shutdown(socket.SHUT_RDWR)
        assert client.fetch(2) == node.fetch(2)
        assert server.connections == 2
    finally:
        client.close()
        server.close()


def test_unknown_method_gets_grpc_unimplemented():
    server = GrpcBlockServer(SyntheticNode())
    node = GrpcNode({"grpc_target": f"{server.host}:{server.port}"})
    try:
        with pytest.raises(GrpcStatusError) as exc:
            node._call("NoSuchMethod", b"")
        assert exc.value.status == 12
        assert server.unimplemented == 1
    finally:
        node.close()
        server.close()


def test_grpc_wire_backend_drives_spark_source(spark):
    """S10 end-to-end: the real-wire gRPC backend plugs into the same
    offset-planned source as ``backend="grpc"``; heights, chain id, and tx
    events all come over actual HTTP/2.  A read dials once per partition,
    and partitions follow the cores: 400 heights take at most two dials per
    core, not one per 20 heights."""
    from event_stream_spark.operators import explode_tx_events
    from event_stream_spark.streaming import historical_stream

    server = GrpcBlockServer(SyntheticNode("grpc-wire-1", head=500))

    def read(hi):
        return historical_stream(
            spark,
            1,
            hi,
            streaming=False,
            backend="grpc",
            grpc_target=f"{server.host}:{server.port}",
            decode_tx_meta=False,
        )

    try:
        sb = read(30)
        rows = sb.select("height", "chain_id").collect()
        assert sorted(r["height"] for r in rows) == list(range(1, 31))
        assert {r["chain_id"] for r in rows} == {"grpc-wire-1"}
        assert explode_tx_events(sb).count() == 10  # h % 3 == 1: one tx
        assert server.calls >= 30  # one GetBlockByHeight per height

        dials = server.connections
        heights = [r["height"] for r in read(400).select("height").collect()]
        assert sorted(heights) == list(range(1, 401))
        cores = spark.sparkContext.defaultParallelism
        assert 0 < server.connections - dials <= 2 * cores
    finally:
        server.close()
